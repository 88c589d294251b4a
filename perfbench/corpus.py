"""Seeded text corpus for the reference jobs in the heavy_batch workload,
and the naive model that gives its expected outputs.

The corpus is newline-separated UTF-8. It covers what the reference jobs'
semantics turn on: mixed case (the letter counter folds case, the word
finder does not), non-ASCII bytes (never letters, always word boundaries),
`_` as a word boundary, digits as word characters, and a last line with no
trailing newline. The model works on the raw bytes with numpy and
`bytes.find`; it shares no code with the engine.
"""
import numpy as np

# The word-finder targets. Each is seeded into the corpus inside tokens
# that must match (`graft_x`, `graft.`, `ägraft`) and tokens that must not
# (`grafted`, `ungraft`, `graft1`, `Graft`).
TARGETS = ("graft", "river")

_SEPARATORS = (b" ", b", ", b". ", b"_", b"-", b"! ", b" \xe2\x80\x94 ", b"\t")
_SEP_P = (0.78, 0.05, 0.05, 0.03, 0.03, 0.02, 0.02, 0.02)
_EXTRA = (b"caf\xc3\xa9", b"na\xc3\xafve", b"\xce\xa9mega", b"\xc3\xbcber", b"stra\xc3\x9fe",
          b"THE", b"The", b"x86", b"2024", b"a1b2")


def _target_forms(word):
    w = word.encode()
    match = (w, w, w, w + b"_x", b"x_" + w, w + b".", b"\xc3\xa4" + w, w + b"\xc3\xa9")
    miss = (w + b"ed", b"un" + w, w + b"1", b"9" + w, w.capitalize(), w.upper())
    return match + miss


def make_corpus(seed, target_bytes):
    """Corpus bytes for `seed`, about `target_bytes` long."""
    rng = np.random.default_rng(seed)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    vocab = set()
    while len(vocab) < 4000:
        vocab.add(rng.choice(letters, int(rng.integers(1, 11))).tobytes())
    vocab = sorted(vocab - {t.encode() for t in TARGETS})
    # a few capitalised and upper-case words, so case folding matters
    vocab = [w.capitalize() if i % 7 == 0 else w.upper() if i % 23 == 0 else w
             for i, w in enumerate(vocab)]
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    special = list(_EXTRA)
    for t in TARGETS:
        special += _target_forms(t)
    words = np.array(vocab + special, dtype=object)
    p = np.concatenate([weights / weights.sum() * 0.98,
                        np.full(len(special), 0.02 / len(special))])

    n = max(int(target_bytes / 7.0), 16)
    tokens = words[rng.choice(len(words), size=n, p=p)]
    seps = np.array(_SEPARATORS, dtype=object)[rng.choice(len(_SEPARATORS), size=n, p=_SEP_P)]
    # line breaks after every 3-20 tokens
    ends = np.cumsum(rng.integers(3, 21, size=n // 3 + 1))
    seps[ends[ends < n]] = b"\n"
    # the last line has no trailing newline and holds a match
    tokens[-1] = TARGETS[0].encode()
    out = np.empty(2 * n - 1, dtype=object)
    out[0::2] = tokens
    out[1::2] = seps[:-1]
    return b"".join(out.tolist())


def letter_counts(data):
    """[(letter, count)] for A..Z, ASCII letters only, case folded."""
    counts = np.bincount(np.frombuffer(data, dtype=np.uint8), minlength=256)
    return [(chr(65 + i), int(counts[65 + i] + counts[97 + i])) for i in range(26)]


def _is_word_byte(b):
    return 48 <= b <= 57 or 65 <= b <= 90 or 97 <= b <= 122


def matching_lines(data, word):
    """The lines holding `word` as a whole word, case-sensitive, in input
    order, once each, joined as the finder's result file."""
    w = word.encode()
    lines = []
    last_start = -1
    pos = data.find(w)
    while pos >= 0:
        end = pos + len(w)
        if (pos == 0 or not _is_word_byte(data[pos - 1])) and \
                (end == len(data) or not _is_word_byte(data[end])):
            start = data.rfind(b"\n", 0, pos) + 1
            if start != last_start:
                stop = data.find(b"\n", end)
                lines.append(data[start:len(data) if stop < 0 else stop])
                last_start = start
        pos = data.find(w, pos + 1)
    return b"".join(line + b"\n" for line in lines)
