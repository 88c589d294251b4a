package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.engine.Tables
import graft.functions.WholeWordContains
import graft.operators.TextJobs

/** The benchmark's JVM side: one single-process `local[cores]` session that
  * runs a workload's op list as a closed loop with one client (the next op
  * starts only after the previous one returned).
  *
  * Usage: `Harness <config.json>`. The config (written by `run.py`) names
  * the workload's ops, the seed that orders each pass, the number of warm
  * passes, whether to trace, and the run directory. The harness writes its
  * measurements to `<run_dir>/result.json` and each op's output (written
  * in the first warm-up pass, which is not reported) under
  * `<run_dir>/out/`, where `run.py` checks them against DuckDB or the text
  * model.
  *
  * Timed op = the registered query function call (the engine builds the
  * DataFrame, running any eager jobs) plus materialising every column
  * through the `noop` sink. Text ops call `TextJobs` on the seeded corpus.
  */
object Harness {
  private val mapper = new ObjectMapper()

  /** One op of a workload: how to build its DataFrame, run it, and write
    * its output for the correctness check.
    */
  final case class Op(name: String, build: () => DataFrame,
                      exec: DataFrame => Unit, save: (DataFrame, String) => Unit)

  final case class Exec(pass: Int, op: String, seconds: Double, error: Option[String])

  def main(args: Array[String]): Unit =
    if (args(0) == "--oracle-sql") {
      // the registry's DuckDB oracle SQL, for the launcher's answer cache
      val o = mapper.createObjectNode()
      SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), o)
    } else run(mapper.readTree(new File(args(0))))

  private def run(cfg: JsonNode): Unit = {
    val jvmStartMs = ProcessHandle.current().info().startInstant().get().toEpochMilli
    val runDir = cfg.get("run_dir").asText()
    val dataDir = cfg.get("data_dir").asText()
    val cores = cfg.get("cores").asInt()
    val seed = cfg.get("seed").asLong()
    val traced = cfg.get("trace").asBoolean()
    val warmupPasses = cfg.get("warmup_passes").asInt()
    require(warmupPasses >= 1, "the first warm-up pass writes the outputs")
    val warmPasses = cfg.get("warm_passes").asInt()
    val opNames = cfg.get("ops").elements().asScala.map(_.asText()).toVector
    val fixtureOps = cfg.get("fixture_ops").elements().asScala.map(_.asText()).toVector
    val corpus = Option(cfg.get("corpus")).filterNot(_.isNull).map(_.asText())
    val outDir = s"$runDir/out"

    // Persisted fixtures live outside the session, keyed by the dataset
    // path; the run builds them from empty and the launcher removes them.
    val fixtureRoot = new File(graft.QueryShared.fixturePath(dataDir, "x")).getParentFile
    Files.writeString(Paths.get(runDir, "fixture_root.txt"), fixtureRoot.getPath)
    deleteRecursively(fixtureRoot)

    val sessionT0 = System.currentTimeMillis()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(Tables.NanosConf, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Some(new TraceListener) else None
    tracer.foreach(spark.sparkContext.addSparkListener)

    // Warm-up: the first job's codegen and the page cache for every
    // input byte. Table resolution is left to the ops (the cold pass pays
    // it, as a first run does).
    val warmT0 = System.currentTimeMillis()
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).write.format("noop").mode("overwrite").save()
    readAllBytes(new File(dataDir))
    corpus.foreach(p => readAllBytes(new File(p)))
    val warmS = (System.currentTimeMillis() - warmT0) / 1e3

    val ops = opNames.map(n => n -> makeOp(spark, dataDir, corpus, outDir, n)).toMap

    // Every persisted fixture the workload reads is written by the
    // query's build step; build those ops once, untimed, so the index
    // writes land in set-up and not in the first timed pass.
    val fixT0 = System.nanoTime()
    fixtureOps.foreach(n => ops(n).build())
    val fixtureS = (System.nanoTime() - fixT0) / 1e9
    val fixtureMb = dirBytes(fixtureRoot) / 1e6
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Closed loop. Pass 0 is the cold pass, in the frozen list order (which
    // op runs first decides who pays the session's first-use costs), then
    // warm-up passes (a fresh JVM is still compiling the engine's hot
    // paths; timed, not reported; the first of them writes every op's
    // output for the check instead of the noop sink), then the warm passes. Pass p > 0 runs
    // a seed-shuffled order rotated by p:
    // one op's latency depends on the op before it (on a 4-core box q190
    // ran ~40% slower right after q165's video decode), so every op takes
    // every position equally often over the warm passes (their count is a
    // multiple of the op count). A traced run alternates whole rotations of traced and
    // untraced warm passes so the tracing overhead is measured on the
    // same JVM and inputs.
    val base = new scala.util.Random(seed).shuffle(opNames)
    val execs = Vector.newBuilder[Exec]
    val passWall = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double)]
    val nPasses = 1 + warmupPasses + (if (traced) 2 * warmPasses else warmPasses)
    for (pass <- 0 until nPasses) {
      val kind =
        if (pass == 0) "cold"
        else if (pass <= warmupPasses) "warmup"
        else if (traced && (pass - warmupPasses - 1) / opNames.size % 2 == 0) "traced"
        else "warm"
      val tracedPass = kind == "traced"
      val order =
        if (pass == 0) opNames
        else base.drop(pass % base.size) ++ base.take(pass % base.size)
      val p0 = System.nanoTime()
      order.zipWithIndex.foreach { case (n, i) =>
        val op = ops(n)
        val t0 = System.nanoTime()
        val err = try {
          if (tracedPass) tracer.get.tracedOp(spark, s"p$pass:$i:$n", pass, op)
          else if (pass == 1) op.save(op.build(), s"$outDir/$n")
          else op.exec(op.build())
          None
        } catch { case e: Throwable => Some(describe(e)) }
        execs += Exec(pass, n, (System.nanoTime() - t0) / 1e9, err)
      }
      passWall += ((pass, kind, (System.nanoTime() - p0) / 1e9))
    }

    val result = mapper.createObjectNode()
    result.put("setup_s", setupS)
    result.put("jvm_start_s", (sessionT0 - jvmStartMs) / 1e3)
    result.put("session_s", (warmT0 - sessionT0) / 1e3)
    result.put("warmup_s", warmS)
    result.put("fixture_s", fixtureS)
    result.put("fixture_mb", fixtureMb)
    result.put("cores", cores)
    result.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1e6)
    result.put("jdk", System.getProperty("java.version"))
    result.put("spark", spark.version)
    val passes = result.putArray("passes")
    passWall.foreach { case (p, k, w) =>
      passes.addObject().put("pass", p).put("kind", k).put("wall_s", w)
    }
    val ex = result.putArray("execs")
    execs.result().foreach { e =>
      val o = ex.addObject().put("pass", e.pass).put("op", e.op).put("s", e.seconds)
      e.error.foreach(o.put("error", _))
    }

    tracer.foreach { tr =>
      val layers = result.putObject("layers")
      tr.resolveTables(spark, dataDir, layers)
      val word = opNames.collectFirst { case n if n.startsWith("word_find_") => n.stripPrefix("word_find_") }
      for (p <- corpus; w <- word) kernels(spark, p, w, layers)
      tr.drain()
      tr.summarise(cores, layers)
      tr.writeSpans(cfg.get("spans").asText())
    }
    result.put("retained_heap_mb", retainedHeapMb())
    spark.stop()
    result.put("peak_rss_mb", peakRssMb())
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(s"$runDir/result.json"), result)
  }

  /** The op named `n`: a registered query, the letter counter, or the
    * word finder for one target word (`word_find_<word>`).
    */
  private def makeOp(spark: SparkSession, dataDir: String, corpus: Option[String],
                     outDir: String, n: String): Op = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def parquet(df: DataFrame, dir: String): Unit = df.write.mode("overwrite").parquet(dir)
    if (n == "letter_count")
      Op(n, () => TextJobs.letterCountFile(spark, corpus.get), noop, parquet)
    else if (n.startsWith("word_find_")) {
      val word = n.stripPrefix("word_find_")
      // The finder's result is one ordered text file, as the reference
      // writes it; the timed op includes that write.
      def write(df: DataFrame, dir: String): Unit =
        TextJobs.writeSingleTextFile(df, col("value"), dir): Unit
      Op(n, () => TextJobs.wordFind(spark.read.text(corpus.get), "value", word),
        df => write(df, s"$outDir/timed_$n"), write)
    } else {
      val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
      Op(n, () => fn(spark, dataDir), noop, parquet)
    }
  }

  /** Text kernels alone, single-threaded in the harness thread, and a raw
    * `spark.read.text` pass: MB/s over the corpus, median of 3.
    */
  private def kernels(spark: SparkSession, corpus: String, word: String,
                      layers: ObjectNode): Unit = {
    val bytes = Files.readAllBytes(Paths.get(corpus))
    val mb = bytes.length / 1e6
    val lines = splitLines(bytes)
    val strings = lines.map(l => new String(l, java.nio.charset.StandardCharsets.UTF_8))
    val wb = word.getBytes("UTF-8")
    def median3(f: => Unit): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)
    var sink = 0L
    val match_s = median3 { lines.foreach(l => if (WholeWordContains.containsWord(l, wb)) sink += 1) }
    val tally_s = median3 {
      val b = new Array[Long](26); strings.foreach(TextJobs.tallyLetters(b, _)); sink += b(0)
    }
    val scan_s = median3 {
      spark.read.text(corpus).write.format("noop").mode("overwrite").save()
    }
    layers.put("kernel.word_match_mb_s", mb / match_s)
    layers.put("kernel.letter_tally_mb_s", mb / tally_s)
    layers.put("scan.text_mb_s", mb / scan_s)
    if (sink == Long.MinValue) println(sink) // keeps the loops live
  }

  private def splitLines(b: Array[Byte]): Array[Array[Byte]] = {
    val out = Array.newBuilder[Array[Byte]]
    var s = 0
    var i = 0
    while (i < b.length) {
      if (b(i) == '\n') { out += java.util.Arrays.copyOfRange(b, s, i); s = i + 1 }
      i += 1
    }
    if (s < b.length) out += java.util.Arrays.copyOfRange(b, s, b.length)
    out.result()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def readAllBytes(f: File): Unit = {
    val buf = new Array[Byte](1 << 20)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).foreach(readAllBytes)
    else if (f.isFile) {
      val in = new java.io.FileInputStream(f)
      try while (in.read(buf) >= 0) () finally in.close()
    }
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Heap still reachable after a full collection, with the session
    * alive: what the engine keeps across ops (caches, catalogs, listener
    * state), in MB.
    */
  private def retainedHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    // least of three collections: the listener bus and the context
    // cleaner may still hold the last op's garbage at the first one
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      heap.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble * 1024 / 1e6)
      .getOrElse(0.0)
}
