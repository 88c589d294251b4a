#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (once per source
state; `.bench_build/` keeps the stamp), makes the seeded inputs, runs the
workload's ops as a closed loop on one `local[nproc]` JVM, checks every
op's output (queries against their DuckDB oracle, text jobs against the
naive model in corpus.py) and prints, as the last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones from a traced run. Exits non-zero if an output is wrong
or the run cannot be made.

The op lists, pass counts and the reason for each workload are frozen in
perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

import corpus

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build")
ORACLE_SQL = os.path.join(STATE, "oracle_sql.json")
DATA = os.path.join(HERE, "data", "sf0.1")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    files += glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files += glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(workloads):
    """Compile engine + harness if the sources changed, and fill the DuckDB
    answer cache for every workload's queries; return the launch lines
    (classpath, then the engine's JVM options)."""
    stamp_file = os.path.join(STATE, "build.stamp")
    launch = os.path.join(STATE, "launch.txt")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        lines = open(launch).read().splitlines()
        if all(os.path.exists(p) for p in lines[0].split(os.pathsep)):
            return lines
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                       HERE, env, out, BUILD_TIMEOUT_S)
        lines = open(os.path.join(HERE, "target", "launch.txt")).read().splitlines() if rc == 0 else []
        if rc == 0:
            rc = run_child(["java", "-cp", lines[0], "graft.perfbench.Harness", "--oracle-sql",
                            ORACLE_SQL], ROOT, os.environ, out, 120)
    if rc != 0:
        sys.stderr.write(open(log).read()[-3000:])
        fail(f"build failed (exit {rc}), log in {log}")
    with open(ORACLE_SQL) as f:
        sql = json.load(f)
    con = duckdb_tables()
    for wl in workloads.values():
        for op in wl["ops"]:
            if op in sql:
                oracle_answer(con, op, sql[op])
    with open(launch, "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines


def run_child(cmd, cwd, env, out, timeout):
    """Run `cmd` to completion; on timeout, or if this process is stopped,
    kill its process group and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---------------------------------------------------------------- box

def box_cores():
    return len(os.sched_getaffinity(0))


def box_heap():
    """JVM heap as the tier-1 recipe sets it: half of RAM in GiB, 2..8."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


# ---------------------------------------------------------------- checks

def canon_val(v):
    """Engine-neutral string of one value (as tools/check_oracle.py)."""
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "<null>"
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(canon_val(x) for x in v) + "]"
    return str(v)


def canon(df):
    """Columns sorted by name, values stringified, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        df[c] = df[c].map(canon_val)
    rows = sorted(map(tuple, df.itertuples(index=False, name=None)))
    return {"columns": list(df.columns), "rows": [list(r) for r in rows]}


def duckdb_tables():
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    return con


def oracle_answer(con, name, sql):
    """DuckDB's canonical answer, cached by query, sf and SQL text."""
    key = hashlib.sha256(f"{name}\0sf0.1\0{sql}".encode()).hexdigest()[:24]
    path = os.path.join(STATE, "oracle", f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    ans = canon(con.sql(sql).df())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(ans, f)
    os.replace(path + ".tmp", path)
    return ans


def text_output(op, d):
    """A text op's saved output in the model's form, or None."""
    if op == "letter_count":
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if not files:
            return None
        df = pd.concat([pd.read_parquet(f) for f in files])
        return sorted((r.letter, int(r.cnt)) for r in df.itertuples())
    parts = glob.glob(os.path.join(d, "part-*.txt"))
    return open(parts[0], "rb").read() if len(parts) == 1 else None


def check_outputs(ops, out_dir, oracle_sql, text):
    """{op: error} for every op whose saved output is wrong."""
    bad = {}
    con = None
    for op in ops:
        d = os.path.join(out_dir, op)
        if op in text:
            if text_output(op, d) != text[op]:
                bad[op] = "output differs from the corpus model"
            continue
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if op not in oracle_sql or not files:
            bad[op] = "no oracle SQL" if op not in oracle_sql else "no output"
            continue
        if con is None:
            con = duckdb_tables()
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            want = oracle_answer(con, op, oracle_sql[op])
        except Exception as e:  # an oracle error is a failed check
            bad[op] = f"oracle error: {str(e).splitlines()[0][:120]}"
            continue
        if got != want:
            bad[op] = (f"mismatch vs DuckDB: {len(got['rows'])} rows vs {len(want['rows'])}, "
                       f"columns {got['columns']} vs {want['columns']}")
    return bad


# ---------------------------------------------------------------- metrics

def pass_kinds(res):
    return {p["pass"]: p["kind"] for p in res["passes"]}


def walls(res, kind):
    return [p["wall_s"] for p in res["passes"] if p["kind"] == kind]


def warm_times(res, pred, failed_ops=()):
    """Op latencies of the untraced warm passes."""
    kinds = pass_kinds(res)
    return [e["s"] for e in res["execs"] if kinds[e["pass"]] == "warm" and pred(e["op"])
            and "error" not in e and e["op"] not in failed_ops]


def text_mb_s(res, corpus_mb):
    """Letter-counter and word-finder MB/s: corpus bytes over the median
    warm latency of each."""
    out = {}
    for name, pred in (("letter_count_mb_s", lambda o: o == "letter_count"),
                       ("word_find_mb_s", lambda o: o.startswith("word_find_"))):
        ts = warm_times(res, pred)
        out[name] = corpus_mb / statistics.median(ts) if ts and corpus_mb else 0.0
    return out


def end_to_end(res, ops, failed_ops):
    execs = res["execs"]
    warm = warm_times(res, lambda o: True, failed_ops)
    # Each op's median over its warm executions. The p50 is the median of
    # these per-op medians: the median of all samples pooled falls between
    # two ops' latency clusters when the op count is even, and then moves
    # with the extremes of both. A run has too few warm executions for a
    # percentile above the median with 10 samples beyond it, so the tail is
    # the slowest op's median.
    per_op = {o: statistics.median(ts) for o in ops
              if (ts := warm_times(res, lambda x: x == o, failed_ops))}
    tail_op = max(per_op, key=per_op.get) if per_op else None
    failed = sum(1 for e in execs if "error" in e or e["op"] in failed_ops)
    metrics = {
        "setup_s": res["setup_s"],
        "cold_wall_s": walls(res, "cold")[0],
        "wall_s": statistics.median(walls(res, "warm")),
        "query_p50_s": statistics.median(per_op.values()) if per_op else 0.0,
        "query_tail_s": per_op.get(tail_op, 0.0),
        "ok_frac": 1.0 - failed / len(execs),
        "retained_heap_mb": res["retained_heap_mb"],
    }
    detail = {"tail_op": tail_op, "warm_samples": len(warm), "warm_max_s": max(warm, default=0.0),
              "op_median_s": {o: round(t, 4) for o, t in per_op.items()}}
    return metrics, detail, len(execs), failed


def per_layer(res, corpus_mb, tmp_left):
    layers = dict(res["layers"])
    traced_wall = statistics.median(walls(res, "traced"))
    layers["build.share"] = layers["build.s"] / traced_wall
    layers["trace.wall_s"] = traced_wall
    layers["trace.overhead"] = traced_wall / statistics.median(walls(res, "warm"))
    layers["setup.fixture_s"] = res["fixture_s"]
    layers["setup.fixture_mb"] = res["fixture_mb"]
    layers["tmp.dirs_left"] = tmp_left
    layers.update(text_mb_s(res, corpus_mb))
    for k in ("kernel.word_match_mb_s", "kernel.letter_tally_mb_s", "scan.text_mb_s"):
        layers.setdefault(k, 0.0)  # measured on the corpus, so heavy_batch only
    return layers


# ---------------------------------------------------------------- main

def main():
    # a stop signal unwinds through the `finally` blocks that kill the JVM
    # and remove the run's directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; have {sorted(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    os.makedirs(STATE, exist_ok=True)
    launch = build(spec["workloads"])
    with open(ORACLE_SQL) as f:
        oracle_sql = json.load(f)

    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "out"):
        os.makedirs(os.path.join(run_dir, d))
    fixture_root = None
    try:
        ops = wl["ops"]
        text, corpus_path, corpus_mb = {}, None, 0.0
        if any(o == "letter_count" or o.startswith("word_find_") for o in ops):
            data = corpus.make_corpus(args.seed, wl["corpus_mb"] * 1e6)
            corpus_path = os.path.join(run_dir, "corpus.txt")
            with open(corpus_path, "wb") as f:
                f.write(data)
            corpus_mb = len(data) / 1e6
            text["letter_count"] = sorted(corpus.letter_counts(data))
            for o in ops:
                if o.startswith("word_find_"):
                    text[o] = corpus.matching_lines(data, o[len("word_find_"):])
            del data

        # Warm passes: a count, not a deadline, so every run of a workload
        # has the same sample count; --seconds scales it against the
        # workload's nominal warm pass, in whole rotations of the op list.
        warm = len(ops) * max(1, round(args.seconds / (wl["nominal_pass_s"] * len(ops))))
        spans = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        cfg = {
            "run_dir": run_dir, "data_dir": DATA, "cores": box_cores(), "seed": args.seed,
            "trace": bool(args.trace), "warmup_passes": wl["warmup_passes"],
            "warm_passes": warm, "ops": ops,
            "fixture_ops": wl["fixture_ops"], "corpus": corpus_path, "spans": spans,
        }
        with open(os.path.join(run_dir, "config.json"), "w") as f:
            json.dump(cfg, f)
        cmd = (["java", f"-Xmx{box_heap()}", f"-Djava.io.tmpdir={run_dir}/tmp", "-XX:-UsePerfData"]
               + launch[1:] + ["-cp", launch[0], "graft.perfbench.Harness",
                               os.path.join(run_dir, "config.json")])
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            rc = run_child(cmd, ROOT, os.environ, log, JVM_TIMEOUT_S)
        fr = os.path.join(run_dir, "fixture_root.txt")
        fixture_root = open(fr).read().strip() if os.path.exists(fr) else None
        result = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            fail(f"harness JVM exited with {rc}")
        with open(result) as f:
            res = json.load(f)
        tmp_left = sum(1 for e in os.scandir(os.path.join(run_dir, "tmp")) if e.is_dir())

        bad = check_outputs(ops, os.path.join(run_dir, "out"), oracle_sql, text)
        for e in res["execs"]:
            if "error" in e:
                bad.setdefault(e["op"], e["error"])
        metrics, detail, attempted, failed = end_to_end(res, ops, bad)
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": res["cores"], "heap_max_mb": round(res["heap_max_mb"]),
            "jdk": res["jdk"], "spark": res["spark"], "sf": "0.1",
            "warmup_passes": wl["warmup_passes"], "warm_passes": warm, "ops": ops,
            "fixture_ops": wl["fixture_ops"],
            "failed_frac": failed / attempted, "peak_rss_mb": round(res["peak_rss_mb"], 1),
            "tmp_dirs_left": tmp_left,
            "corpus_mb": round(corpus_mb, 3), **detail,
            "pass_walls_s": [[p["kind"], round(p["wall_s"], 3)] for p in res["passes"]],
            "setup_parts_s": {k: res[k] for k in ("jvm_start_s", "session_s", "warmup_s", "fixture_s")},
        }
        if corpus_mb:
            info.update(text_mb_s(res, corpus_mb))
        if args.trace:
            names = [m["name"] for m in bench["per_layer"]]
            values = per_layer(res, corpus_mb, tmp_left)
        else:
            names = [m["name"] for m in bench["end_to_end"]]
            values = metrics
        unit = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        print("perfbench run: " + json.dumps(info))
        for op, why in sorted(bad.items()):
            print(f"perfbench FAILED {op}: {why}")
        print(json.dumps({
            "correct": not bad, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": unit[n]} for n in names},
        }))
        sys.exit(0 if not bad else 1)
    finally:
        # temp hygiene: the run's own dirs and its fresh fixture root
        shutil.rmtree(run_dir, ignore_errors=True)
        if fixture_root and "graft-fixtures" in fixture_root:
            shutil.rmtree(fixture_root, ignore_errors=True)


if __name__ == "__main__":
    main()
