"""Vectorized (Arrow/NumPy) twins of the portable polynomial hash
producers in :mod:`hashing` — value-identical integer folds, computed
batch-at-a-time in NumPy instead of per-character Catalyst HOF
arithmetic (guide §4.2/§4.3).

WHY: the per-char `aggregate(split(s, ''), ...)` fold underneath
shingles/fingerprints is the engine's dominant per-task CPU at scale
(round-13 bench: 176 JVM-CPU-s on one minhash query for 3.5 s of
wall).  Catalyst evaluates the lambda per array element over arrays
of single-character strings; a NumPy kernel does the same modular
fold over a flat codepoint buffer at memory bandwidth.  The Python
boundary crosses ONLY the columns the kernel needs (id + text),
Arrow-batched, and the shingle kernel additionally dedups per
document before emitting — so the `.distinct()` shuffle the Catalyst
producer needed disappears (each doc lives in exactly one input row,
so per-doc dedup IS global dedup).

VALUE CONTRACT (differentially tested in
tests/test_portable_hash.py::test_arrow_kernels_match_catalyst):
every kernel reproduces the Catalyst expression bit-for-bit,
including the edge semantics probed against Spark 4.1:
- `ascii(c)` of a split("") element is the Unicode CODE POINT
  (surrogate pairs stay whole), i.e. Python `ord`;
- Java regex `\\s` is ASCII-only ([ \\t\\n\\x0B\\f\\r]);
- `trim` strips only the space character;
- `lower` matches Python str.lower (incl. Final_Sigma, İ -> i̇);
- split with limit -1 keeps leading/trailing empty tokens.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from .hashing import FP_CHAR_BASE, FP_MOD, FP_MOD2, FP_WORD_BASE

# Java-\s whitespace class (ASCII only — \xa0 etc. are NOT split on,
# matching Spark's split(col, r"\s+"))
import re

_WS_RE = re.compile("[ \t\n\x0b\x0c\r]+")


def spread_narrow(d: DataFrame) -> DataFrame:
    """Widen a NARROW input before a Python kernel stage (the Arrow
    hash producers and every codec kernel): the fixture parquet is
    single-row-group, so without this the whole batch kernel runs in
    ONE task — and, unlike the Catalyst folds these kernels replace,
    the kernel's output inherits the scan's partitioning (the old
    `.distinct()` exchange used to spread the downstream consumers).

    Width rule: W = sparkContext.defaultParallelism, one task per
    core.  A scan under W x maxPartitionBytes (the optimizer's size
    estimate — no physical planning, no job) cannot split W wide, so
    it is round-robined to W partitions; anything bigger passes
    through untouched — at real scale this is a no-op, never a
    coalesce and never a payload shuffle.  If the size probe fails,
    the input is widened: widening is semantics-free (every
    kernel dedups per input row), failing while the query is being
    built is not.

    Why not wider: every Python task pays a fixed floor of about
    150 ms on Python 3.11 — pyspark's worker calls
    `importlib.invalidate_caches()` per task, which re-reads the
    central directory of `pyspark.zip` once for each cached
    zipimporter.  At a fixed 32 tasks on 4 cores that floor is paid
    in 8 waves; at W tasks it is paid once per core."""
    width = d.sparkSession.sparkContext.defaultParallelism
    try:
        max_part = int(
            d.sparkSession._jsparkSession.sessionState()
            .conf()
            .filesMaxPartitionBytes()
        )
    except Exception:
        max_part = 128 * 1024 * 1024
    try:
        est = _plan_size_bytes(d)
    except Exception:
        est = 0
    if est < width * max_part:
        return d.repartition(width)
    return d


def _plan_size_bytes(d: DataFrame) -> int:
    """The optimizer's size estimate of `d` (logical-plan stats, a
    private JVM API: no physical planning, no job)."""
    return int(d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _codepoints(strings: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Flatten a list of str into (codes int64, offsets int64).
    utf-32-le gives one uint32 per code point == Python ord ==
    Spark's ascii(split(s, '')[i])."""
    flat = "".join(strings)
    codes = np.frombuffer(flat.encode("utf-32-le"), dtype="<u4").astype(
        np.int64
    )
    lens = np.fromiter(
        (len(s) for s in strings), dtype=np.int64, count=len(strings)
    )
    offsets = np.empty(len(strings) + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(lens, out=offsets[1:])
    return codes, offsets


def _polyhash_ragged(
    codes: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) polynomial folds of ragged codepoint segments:
    h = fold(acc*base + c mod M), bases 31/131, moduli 1e9+7/1e9+9 —
    identical to spark_charhash_pair.  Column-wise fold over
    positions with a sorted-by-length prefix so each iteration is a
    dense vectorized op over only the still-active segments; total
    work is O(sum of lengths)."""
    lens = np.diff(offsets)
    n = len(lens)
    h1 = np.zeros(n, dtype=np.int64)
    h2 = np.zeros(n, dtype=np.int64)
    if n == 0 or len(codes) == 0:
        return h1, h2
    order = np.argsort(-lens, kind="stable")
    slens = lens[order]
    starts = offsets[:-1][order]
    maxlen = int(slens[0])
    sh1 = np.zeros(n, dtype=np.int64)
    sh2 = np.zeros(n, dtype=np.int64)
    k = n
    for j in range(maxlen):
        while k > 0 and slens[k - 1] <= j:
            k -= 1
        c = codes[starts[:k] + j]
        np.multiply(sh1[:k], FP_CHAR_BASE, out=sh1[:k])
        np.add(sh1[:k], c, out=sh1[:k])
        np.mod(sh1[:k], FP_MOD, out=sh1[:k])
        np.multiply(sh2[:k], FP_WORD_BASE, out=sh2[:k])
        np.add(sh2[:k], c, out=sh2[:k])
        np.mod(sh2[:k], FP_MOD2, out=sh2[:k])
    h1[order] = sh1
    h2[order] = sh2
    return h1, h2


def _pow_table(base: int, mod: int, upto: int) -> np.ndarray:
    """[base^0 % mod, ..., base^upto % mod] as int64."""
    t = np.empty(upto + 1, dtype=np.int64)
    t[0] = 1
    acc = 1
    for i in range(1, upto + 1):
        acc = (acc * base) % mod
        t[i] = acc
    return t


def _tokenize(text) -> list[str]:
    """Spark's split(lower(trim(text)), r'\\s+', -1) on one value;
    None propagates to no tokens (the Catalyst pipeline emits no
    rows for NULL text)."""
    if text is None:
        return []
    return _WS_RE.split(text.strip(" ").lower())


def _ragged_starts(counts: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Concatenate arange(offsets[i], offsets[i]+counts[i]) for all i
    — the flat start indices of each doc's shingle windows."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    rep_off = np.repeat(offsets[:-1], counts)
    # position within each doc's run
    run_ends = np.cumsum(counts)
    idx = np.arange(total, dtype=np.int64)
    within = idx - np.repeat(run_ends - counts, counts)
    return rep_off + within


def shingle_hash_pairs_kernel(
    id_col: str, text_col: str, n: int
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas kernel: (id, text) batches -> per-doc DISTINCT
    word-n-gram shingle hash pairs (id, h1, h2) — value-identical to
    hashing.token_shingle_hash_pairs(...).distinct() (the per-token
    fold + polynomial window composition, then per-doc dedup; docs
    are unique per input row, so per-doc dedup is global dedup)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            tok_lists = [_tokenize(t) for t in pdf[text_col]]
            ntoks = np.fromiter(
                (len(t) for t in tok_lists), np.int64, len(tok_lists)
            )
            all_tokens: list[str] = [t for ts in tok_lists for t in ts]
            if not all_tokens:
                yield pd.DataFrame(
                    {
                        id_col: ids[:0],
                        "h1": np.empty(0, np.int64),
                        "h2": np.empty(0, np.int64),
                    }
                )
                continue
            codes, offs = _codepoints(all_tokens)
            th1, th2 = _polyhash_ragged(codes, offs)
            tlens = np.diff(offs)
            maxlen = int(tlens.max()) if len(tlens) else 0
            p1 = _pow_table(FP_CHAR_BASE, FP_MOD, maxlen)[tlens]
            p2 = _pow_table(FP_WORD_BASE, FP_MOD2, maxlen)[tlens]
            # g = hash(' ' + token), pe = base^(len+1) — space is 32
            g1 = (32 * p1 + th1) % FP_MOD
            g2 = (32 * p2 + th2) % FP_MOD2
            p1e = (p1 * FP_CHAR_BASE) % FP_MOD
            p2e = (p2 * FP_WORD_BASE) % FP_MOD2
            # flat token offsets per doc
            doc_offs = np.empty(len(ntoks) + 1, dtype=np.int64)
            doc_offs[0] = 0
            np.cumsum(ntoks, out=doc_offs[1:])
            cnt = np.maximum(ntoks - (n - 1), 0)
            starts = _ragged_starts(cnt, doc_offs)
            s1 = th1[starts]
            s2 = th2[starts]
            for k in range(1, n):
                s1 = (s1 * p1e[starts + k] + g1[starts + k]) % FP_MOD
                s2 = (s2 * p2e[starts + k] + g2[starts + k]) % FP_MOD2
            sh_ids = np.repeat(ids, cnt)
            ordv = np.repeat(np.arange(len(ids), dtype=np.int64), cnt)
            # per-doc distinct (== the Catalyst .distinct())
            o = np.lexsort((s2, s1, ordv))
            keep = np.ones(len(o), dtype=bool)
            if len(o) > 1:
                keep[1:] = (
                    (ordv[o][1:] != ordv[o][:-1])
                    | (s1[o][1:] != s1[o][:-1])
                    | (s2[o][1:] != s2[o][:-1])
                )
            sel = o[keep]
            yield pd.DataFrame(
                {id_col: sh_ids[sel], "h1": s1[sel], "h2": s2[sel]}
            )

    return kernel


def token_shingle_hash_pairs_arrow(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Arrow twin of hashing.token_shingle_hash_pairs: distinct
    word-n-gram shingles per document as portable hash pairs
    (id_col, h1, h2).  One mapInPandas stage replaces the per-char
    HOF fold chain AND the downstream `.distinct()` exchange (per-doc
    dedup inside the kernel is global dedup because each doc_id
    occupies exactly one input row)."""
    id_type = dict(df.dtypes)[id_col]
    return spread_narrow(df.select(id_col, text_col)).mapInPandas(
        shingle_hash_pairs_kernel(id_col, text_col, n),
        schema=f"{id_col} {id_type}, h1 bigint, h2 bigint",
    )


def charhash_pair_arrow(
    df: DataFrame,
    text_col: str,
    passthrough: list[str],
    h1_name: str = "h1",
    h2_name: str = "h2",
) -> DataFrame:
    """Row-preserving full-string portable hash pair: selects
    `passthrough` columns and appends (h1_name, h2_name) =
    spark_charhash_pair(text_col) computed in one NumPy fold per
    Arrow batch.  NULL text hashes to NULL (matching the Catalyst
    fold over split(NULL))."""
    dtypes = dict(df.dtypes)
    out_schema = ", ".join(
        [f"{c} {dtypes[c]}" for c in passthrough]
        + [f"{h1_name} bigint", f"{h2_name} bigint"]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = list(pdf[text_col])
            nn_mask = np.fromiter(
                (t is not None for t in texts), bool, len(texts)
            )
            codes, offs = _codepoints(
                [t for t in texts if t is not None]
            )
            h1nn, h2nn = _polyhash_ragged(codes, offs)
            out = pdf[passthrough].copy()
            if nn_mask.all():
                out[h1_name] = h1nn
                out[h2_name] = h2nn
            else:
                h1 = np.full(len(texts), np.nan, dtype=object)
                h2 = np.full(len(texts), np.nan, dtype=object)
                h1[nn_mask] = h1nn
                h2[nn_mask] = h2nn
                out[h1_name] = h1
                out[h2_name] = h2
            yield out

    return spread_narrow(
        df.select(*dict.fromkeys(passthrough + [text_col]))
    ).mapInPandas(kernel, schema=out_schema)


def span_hash_stream_kernel(
    id_col: str, text_col: str, span_len: int, stride: int
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas kernel: (id, text) batches (pre-filtered to
    length >= span_len) -> one (id, off, h1, h2) row per strided
    span — value-identical to dedup._span_hash_stream's
    block-composed Catalyst fold: stride-width block hashes fold
    once, span hashes compose with the constant power B^stride."""
    assert span_len % stride == 0
    nb = span_len // stride
    p1s = pow(FP_CHAR_BASE, stride, FP_MOD)
    p2s = pow(FP_WORD_BASE, stride, FP_MOD2)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            texts = list(pdf[text_col])
            codes, offs = _codepoints(texts)
            lens = np.diff(offs)
            n_full = lens // stride
            total_blocks = int(n_full.sum())
            if total_blocks == 0:
                yield pd.DataFrame(
                    {
                        id_col: ids[:0],
                        "off": np.empty(0, np.int64),
                        "h1": np.empty(0, np.int64),
                        "h2": np.empty(0, np.int64),
                    }
                )
                continue
            # all blocks are full stride width: dense (blocks, stride)
            # gather + column-wise fold, no masking
            # block start = doc char offset + within-block-index*stride
            rep_off = np.repeat(offs[:-1], n_full)
            ends = np.cumsum(n_full)
            within = (
                np.arange(total_blocks, dtype=np.int64)
                - np.repeat(ends - n_full, n_full)
            )
            bstart = rep_off + within * stride
            bh1 = np.zeros(total_blocks, dtype=np.int64)
            bh2 = np.zeros(total_blocks, dtype=np.int64)
            for j in range(stride):
                c = codes[bstart + j]
                bh1 = (bh1 * FP_CHAR_BASE + c) % FP_MOD
                bh2 = (bh2 * FP_WORD_BASE + c) % FP_MOD2
            # per-doc block offsets -> span starts (nb consecutive
            # blocks per span)
            boffs = np.empty(len(n_full) + 1, dtype=np.int64)
            boffs[0] = 0
            np.cumsum(n_full, out=boffs[1:])
            cnt = np.maximum(n_full - (nb - 1), 0)
            starts = _ragged_starts(cnt, boffs)
            s1 = bh1[starts]
            s2 = bh2[starts]
            for k in range(1, nb):
                s1 = (s1 * p1s + bh1[starts + k]) % FP_MOD
                s2 = (s2 * p2s + bh2[starts + k]) % FP_MOD2
            span_within = starts - np.repeat(boffs[:-1], cnt)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, cnt),
                    "off": span_within * stride,
                    "h1": s1,
                    "h2": s2,
                }
            )

    return kernel


def span_hash_stream_arrow(
    df: DataFrame, id_col: str, text_col: str, span_len: int, stride: int
) -> DataFrame:
    """Arrow twin of dedup._span_hash_stream: (id, off, h1, h2) per
    strided span window.  Callers pre-filter length >= span_len
    JVM-side (keeps the filter in the scan)."""
    id_type = dict(df.dtypes)[id_col]
    return spread_narrow(df.select(id_col, text_col)).mapInPandas(
        span_hash_stream_kernel(id_col, text_col, span_len, stride),
        schema=f"{id_col} {id_type}, off bigint, h1 bigint, h2 bigint",
    )


_AZ_RE = re.compile("[^a-z]")


def word_fingerprint_kernel(
    id_col: str, text_col: str
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas kernel: (id, text) -> (id, fp), the rolling
    polynomial word fingerprint of text_analysis.text_fingerprint:
    tokens lowercased/whitespace-split, stripped to [a-z], empties
    dropped; wordhash = charhash(31, 1e9+7); fp = fold over words
    (acc*131 + wordhash) % 1e9+7.  Value-identical to
    spark_word_fingerprint over the same filtered token array."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            texts = list(pdf[text_col])
            nn = [t is not None for t in texts]
            tok_lists = [
                [w for w in (_AZ_RE.sub("", x) for x in _tokenize(t)) if w]
                for t in texts
                if t is not None
            ]
            ntoks = np.fromiter(
                (len(t) for t in tok_lists), np.int64, len(tok_lists)
            )
            all_tokens = [t for ts in tok_lists for t in ts]
            codes, offs = _codepoints(all_tokens)
            wh, _ = _polyhash_ragged(codes, offs)
            # fold wordhashes per doc: acc = (acc*131 + wh) % 1e9+7 —
            # same sorted-prefix column fold, words as "characters"
            doc_offs = np.empty(len(ntoks) + 1, dtype=np.int64)
            doc_offs[0] = 0
            np.cumsum(ntoks, out=doc_offs[1:])
            n = len(ntoks)
            fp = np.zeros(n, dtype=np.int64)
            if n:
                order = np.argsort(-ntoks, kind="stable")
                slens = ntoks[order]
                sstarts = doc_offs[:-1][order]
                sfp = np.zeros(n, dtype=np.int64)
                k = n
                for j in range(int(slens[0]) if n else 0):
                    while k > 0 and slens[k - 1] <= j:
                        k -= 1
                    sfp[:k] = (
                        sfp[:k] * FP_WORD_BASE + wh[sstarts[:k] + j]
                    ) % FP_MOD
                fp[order] = sfp
            if all(nn):
                out_fp: object = fp
            else:
                out = np.full(len(texts), np.nan, dtype=object)
                out[np.array(nn)] = fp
                out_fp = out
            yield pd.DataFrame({id_col: ids, "fp": out_fp})

    return kernel


def word_fingerprint_arrow(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Arrow twin of text_analysis.text_fingerprint's projection."""
    id_type = dict(df.dtypes)[id_col]
    return spread_narrow(df.select(id_col, text_col)).mapInPandas(
        word_fingerprint_kernel(id_col, text_col),
        schema=f"{id_col} {id_type}, fp bigint",
    )


def bigram_bucket_counts_kernel(
    id_col: str,
    lang_col: str,
    text_col: str,
    n_buckets: int,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas kernel: (id, lang, text) batches -> per-doc
    bigram-bucket multiplicities (id, lang, bucket, k), where
    bucket = spark_charhash('w1 w2') % n_buckets over the
    empty-filtered token stream — value-identical to curation's
    `_bigram_buckets(...).groupBy(id, lang, bucket).count()` (each
    doc is one input row, so the per-doc rollup IS the full
    rollup)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            langs = pdf[lang_col].to_numpy()
            # tokens, empty-filtered (list_filter w <> '')
            tok_lists = [
                [w for w in _tokenize(t) if w != ""] for t in pdf[text_col]
            ]
            ntoks = np.fromiter(
                (len(t) for t in tok_lists), np.int64, len(tok_lists)
            )
            all_tokens = [t for ts in tok_lists for t in ts]
            if not all_tokens:
                yield pd.DataFrame(
                    {
                        id_col: ids[:0],
                        lang_col: langs[:0],
                        "bucket": np.empty(0, np.int64),
                        "k": np.empty(0, np.int64),
                    }
                )
                continue
            codes, offs = _codepoints(all_tokens)
            th1, _ = _polyhash_ragged(codes, offs)
            tlens = np.diff(offs)
            maxlen = int(tlens.max()) if len(tlens) else 0
            p1 = _pow_table(FP_CHAR_BASE, FP_MOD, maxlen)[tlens]
            g1 = (32 * p1 + th1) % FP_MOD
            p1e = (p1 * FP_CHAR_BASE) % FP_MOD
            doc_offs = np.empty(len(ntoks) + 1, dtype=np.int64)
            doc_offs[0] = 0
            np.cumsum(ntoks, out=doc_offs[1:])
            cnt = np.maximum(ntoks - 1, 0)
            starts = _ragged_starts(cnt, doc_offs)
            b = (th1[starts] * p1e[starts + 1] + g1[starts + 1]) % FP_MOD
            b %= n_buckets
            ordv = np.repeat(np.arange(len(ids), dtype=np.int64), cnt)
            # per-doc (bucket -> multiplicity) rollup
            o = np.lexsort((b, ordv))
            bo, oo = b[o], ordv[o]
            newgrp = np.ones(len(o), dtype=bool)
            if len(o) > 1:
                newgrp[1:] = (oo[1:] != oo[:-1]) | (bo[1:] != bo[:-1])
            grp_idx = np.nonzero(newgrp)[0]
            k = np.diff(np.append(grp_idx, len(o)))
            sel = o[grp_idx]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, cnt)[sel],
                    lang_col: np.repeat(langs, cnt)[sel],
                    "bucket": b[sel],
                    "k": k.astype(np.int64),
                }
            )

    return kernel


def bigram_bucket_counts_arrow(
    df: DataFrame,
    id_col: str,
    lang_col: str,
    text_col: str,
    n_buckets: int,
) -> DataFrame:
    """Arrow twin of the DSIR bigram-bucket rollup: per-doc bucket
    multiplicities (id, lang, bucket, k) in one Python stage — the
    per-bigram charhash fold AND the groupBy(doc, lang, bucket)
    exchange both collapse into the kernel (per-doc rollup is exact
    because each doc is one input row)."""
    id_type = dict(df.dtypes)[id_col]
    lang_type = dict(df.dtypes)[lang_col]
    return spread_narrow(df.select(id_col, lang_col, text_col)).mapInPandas(
        bigram_bucket_counts_kernel(id_col, lang_col, text_col, n_buckets),
        schema=(
            f"{id_col} {id_type}, {lang_col} {lang_type}, "
            "bucket bigint, k bigint"
        ),
    )
