"""Seeded word-count corpus: generator, on-disk cache and exact sink check.

The corpus has the shape of the reference's word-count input as
`scripts/bench_wordcount_1gb.py` builds it: the reference's 7,359-word
vocabulary, 12 space-separated words per line, a Zipf-like pick (60% of
draws from the top 100 words, 25% from the next 1,000, 15% uniform over
the tail), and one extra line per vocabulary word so every word occurs.
Generation is NumPy only: the program under test never sees how the
input was made.
"""

from __future__ import annotations

import os

import numpy as np

VOCAB_SIZE = 7359
WORDS_PER_LINE = 12
_CHUNK_LINES = 1 << 16
# Corpus cache entries kept on disk, most recently used first.
_CACHE_KEEP = 4


def vocab() -> list[str]:
    """Word i encodes i in base 25 with digits b..z, left-padded with 'a'
    to three letters: the same 7,359 distinct words as the 1 GiB script.
    25**3 > VOCAB_SIZE, so every word is exactly three bytes."""
    out = []
    for i in range(VOCAB_SIZE):
        n, s = i, ""
        while True:
            s = chr(ord("b") + n % 25) + s
            n //= 25
            if n == 0:
                break
        out.append("a" * max(0, 3 - len(s)) + s)
    return out


def _picks(rng: np.random.Generator, n: int) -> np.ndarray:
    r = rng.integers(0, 1000, n)
    h = rng.integers(0, 1 << 62, n)
    return np.where(
        r < 600,
        h % 100,
        np.where(r < 850, 100 + h % 1000, 1100 + h % (VOCAB_SIZE - 1100)),
    )


def _write(path: str, seed: int, n_lines: int) -> np.ndarray:
    """Write the corpus to `path`; return the exact count of every word."""
    letters = np.frombuffer("".join(vocab()).encode(), np.uint8).reshape(-1, 3)
    rng = np.random.default_rng(seed)
    counts = np.ones(VOCAB_SIZE, np.int64)  # the one-word lines
    with open(path, "wb") as f:
        for lo in range(0, n_lines, _CHUNK_LINES):
            n = min(_CHUNK_LINES, n_lines - lo)
            idx = _picks(rng, n * WORDS_PER_LINE)
            counts += np.bincount(idx, minlength=VOCAB_SIZE)
            buf = np.empty((n, WORDS_PER_LINE, 4), np.uint8)
            buf[:, :, :3] = letters[idx].reshape(n, WORDS_PER_LINE, 3)
            buf[:, :, 3] = ord(" ")
            buf[:, -1, 3] = ord("\n")
            f.write(buf.tobytes())
        f.write(("\n".join(vocab()) + "\n").encode())
    return counts


def cached_corpus(cache_dir: str, seed: int, mib: float) -> tuple[str, np.ndarray]:
    """Return (text file path, exact word counts) for (seed, size),
    generating them on a miss.  Only the _CACHE_KEEP most recently
    used entries stay on disk."""
    n_lines = int(mib * (1 << 20)) // (WORDS_PER_LINE * 4)
    entry = os.path.join(cache_dir, f"seed{seed}_lines{n_lines}")
    text, counts_path = os.path.join(entry, "corpus.txt"), os.path.join(entry, "counts.npy")
    if not os.path.exists(counts_path):
        os.makedirs(entry, exist_ok=True)
        counts = _write(text, seed, n_lines)
        np.save(counts_path + ".tmp.npy", counts)
        os.replace(counts_path + ".tmp.npy", counts_path)
    os.utime(entry)
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)),
        key=os.path.getmtime,
    )
    for old in entries[:-_CACHE_KEEP]:
        for name in os.listdir(old):
            os.remove(os.path.join(old, name))
        os.rmdir(old)
    return text, np.load(counts_path)


def check_sink(out_dir: str, counts: np.ndarray) -> None:
    """Exact check of the `write_wordcount_text` output: one part file
    of 7,359 '"word count"' lines, sorted ascending, with every count
    equal to the generator's (so they sum to lines x 12 + 7,359)."""
    parts = [p for p in os.listdir(out_dir) if p.startswith("part-")]
    if len(parts) != 1:
        raise AssertionError(f"expected one part file, found {len(parts)}")
    with open(os.path.join(out_dir, parts[0])) as f:
        lines = f.read().splitlines()
    if len(lines) != VOCAB_SIZE:
        raise AssertionError(f"expected {VOCAB_SIZE} lines, found {len(lines)}")
    got_words = [ln.split(" ")[0] for ln in lines]
    if got_words != sorted(got_words):
        raise AssertionError("sink output is not sorted by word")
    want = dict(zip(vocab(), counts.tolist()))
    for ln in lines:
        w, c = ln.split(" ")
        if want.get(w) != int(c):
            raise AssertionError(f"count of {w!r} is {c}, expected {want.get(w)}")
