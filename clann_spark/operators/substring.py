"""Exact long-substring duplicate detection (north_rule: "a
suffix-array pass for exact long-substring dup detection within
buckets").

Two stages, both target-only (the reference has no substring operator;
its closest analog is the set-based Jaccard path):

  1. Candidate generation by WINNOWING fingerprints (Schleimer et al.,
     SIGMOD'03 — the MOSS algorithm): per doc, polynomial rolling
     hashes of all L-char windows, then the min hash of each w-hash
     window, deduped. Two docs sharing any >=L-char run share at least
     one fingerprint (winnowing guarantee for runs >= L + w - 1).
     Vectorized NumPy inside a pandas UDF; fingerprints explode to a
     bucket table exactly like MinHash bands.

  2. Exact verification with a SUFFIX ARRAY: for each candidate pair,
     build the suffix array + Kasai LCP of a#b and report the longest
     common run crossing the separator. applyInPandas per pair group —
     pairs are few, texts are bounded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clann_spark.functions.hashing import segment_reduce

ROLL_BASE = np.int64(257)
ROLL_MOD = np.int64((1 << 31) - 1)


def rolling_window_hashes(text: str, window: int) -> np.ndarray:
    """Polynomial hashes of every `window`-char substring, vectorized.

    h[i] = sum_j b[i+j] * BASE^(window-1-j) mod MOD — computed as a
    sliding-window matrix product in int64 (values < 2^45, no overflow).
    """
    b = np.frombuffer(text.encode("utf-8", errors="replace"), dtype=np.uint8)
    n = b.size
    if n < window:
        return np.empty(0, dtype=np.int64)
    powers = np.empty(window, dtype=np.int64)
    powers[-1] = 1
    for j in range(window - 2, -1, -1):
        powers[j] = (powers[j + 1] * ROLL_BASE) % ROLL_MOD
    win = np.lib.stride_tricks.sliding_window_view(b, window).astype(np.int64)
    return (win @ powers) % ROLL_MOD


def winnow(hashes: np.ndarray, w: int) -> np.ndarray:
    """Distinct min-hash per sliding window of w hashes (the winnowing
    selection rule). Guarantees: any common substring of length
    >= window + w - 1 chars yields a shared selected fingerprint."""
    if hashes.size == 0:
        return hashes
    if hashes.size <= w:
        return np.unique(hashes.min(keepdims=True))
    mins = np.lib.stride_tricks.sliding_window_view(hashes, w).min(axis=1)
    return np.unique(mins)


def _mod_pows(base: int, n: int, mod: int) -> np.ndarray:
    """[base^0, ..., base^(n-1)] mod `mod` as int64, O(n): a 4096-entry
    scalar table outer-multiplied by the block powers (base^4096)^q —
    both factors < 2^31, so the int64 product never overflows."""
    K = 1 << 12
    small = np.empty(min(K, n), dtype=np.int64)
    x = 1
    for j in range(small.size):
        small[j] = x
        x = (x * base) % mod
    if n <= K:
        return small[:n]
    nq = (n + K - 1) // K
    big = np.empty(nq, dtype=np.int64)
    bk = pow(base, K, mod)
    y = 1
    for qi in range(nq):
        big[qi] = y
        y = (y * bk) % mod
    return ((big[:, None] * small[None, :]) % mod).reshape(-1)[:n]


def batch_winnow_fingerprints(
    texts, window: int, w: int
) -> tuple[np.ndarray, np.ndarray]:
    """Winnowed fingerprints for a WHOLE batch of texts in flat
    vectorized passes — the substring analog of hashing._fold_stream
    (round-4 VERDICT item 6: the per-doc Python loop was the last
    interpreted hot loop on this pass).

    Returns (flat int64 fingerprint values, int64 doc offsets): doc i's
    fingerprints are values[offsets[i]:offsets[i+1]], identical to
    winnow(rolling_window_hashes(t, window), w) per doc.

    Shape: all byte streams concatenate into one array; the polynomial
    window hash runs in O(stream) TOTAL work via prefix hashes —
    h[i] = P[i+window] - P[i]·B^window (mod M), with the prefix P
    itself vectorized as P[i] = B^i · cumsum(b[j]·B^-(j+1)) using the
    modular inverse of B (M = 2^31-1 is a Mersenne PRIME, so inverses
    exist) — congruent to the per-doc matmul's sum b[i+j]·B^(window-1-j)
    and ~window× less arithmetic than either the matmul or a Horner
    sweep. Windows crossing doc boundaries are masked out. The
    winnowing sliding-min runs as one strided-view reduction, with
    short hash segments (< w hashes) handled by a reduceat min. Per-doc
    dedup is one lexsort over (doc, value)."""
    n_docs = len(texts)
    bufs = [(t or "").encode("utf-8", errors="replace") for t in texts]
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n_docs)
    doc_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=doc_off[1:])
    N = int(doc_off[-1])
    if N < window:
        return np.empty(0, dtype=np.int64), np.zeros(n_docs + 1, dtype=np.int64)
    if N >= 1 << 31:
        raise ValueError(f"fingerprint batch stream {N} bytes >= 2^31")
    b = np.frombuffer(b"".join(bufs), dtype=np.uint8).astype(np.int64)

    # prefix hashes: P[i] = sum_{j<i} b[j]*B^(i-1-j) mod M, computed as
    # B^i * cumsum(b[j]*B^-(j+1)). Terms are reduced mod M (< 2^31)
    # BEFORE the cumsum, so the raw int64 running sum stays < 2^62 for
    # any stream under 2^31 bytes (guarded above).
    M = N - window + 1
    bp = _mod_pows(int(ROLL_BASE), N + 1, int(ROLL_MOD))
    ip = _mod_pows(pow(int(ROLL_BASE), int(ROLL_MOD) - 2, int(ROLL_MOD)), N + 1, int(ROLL_MOD))
    q = np.zeros(N + 1, dtype=np.int64)
    np.cumsum((b * ip[1 : N + 1]) % ROLL_MOD, out=q[1:])
    q %= ROLL_MOD
    pfx = (bp * q) % ROLL_MOD
    pw_win = pow(int(ROLL_BASE), window, int(ROLL_MOD))
    acc = (pfx[window : N + 1] - (pfx[:M] * pw_win) % ROLL_MOD) % ROLL_MOD
    # doc of each window-start byte position, O(N) by repeat (no log-
    # factor searchsorted over the stream)
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)[:M]
    valid = np.arange(M, dtype=np.int64) + window <= doc_off[doc_of + 1]

    # per-doc hash segments, contiguous in `acc` order
    h_doc = doc_of[valid]
    h = acc[valid]
    h_off = np.searchsorted(h_doc, np.arange(n_docs + 1))
    m = h_off[1:] - h_off[:-1]

    sel_doc_parts, sel_val_parts = [], []
    # long segments (> w hashes): strided sliding min over the flat
    # hash stream, windows fully inside one doc's segment
    if h.size >= w:
        mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
        # a window starting at hash i belongs to doc h_doc[i]; it is
        # in-segment iff its last hash is still in that doc
        d = h_doc[: mins.size]
        ok = np.arange(mins.size, dtype=np.int64) + w <= h_off[d + 1]
        sel_doc_parts.append(d[ok])
        sel_val_parts.append(mins[ok])
    # short segments (0 < m <= w): one min per doc, exactly
    # winnow()'s hashes.size <= w branch
    short = np.where((m > 0) & (m <= w))[0]
    if short.size:
        per_doc_min = segment_reduce(np.minimum, h, h_off, 0)
        sel_doc_parts.append(short)
        sel_val_parts.append(per_doc_min[short])
    if not sel_doc_parts:
        return np.empty(0, dtype=np.int64), np.zeros(n_docs + 1, dtype=np.int64)
    sel_doc = np.concatenate(sel_doc_parts)
    sel_val = np.concatenate(sel_val_parts)

    # per-doc dedup on ONE fused sort key (doc << 31 | value): values
    # are < 2^31 and Arrow batches are  << 2^32 docs, so the key is
    # collision-free in int64 and a single-key sort beats a 2-key
    # lexsort ~2x
    key = (sel_doc << np.int64(31)) | sel_val
    key = np.sort(key)
    keep = np.ones(key.size, dtype=bool)
    keep[1:] = key[1:] != key[:-1]
    key = key[keep]
    d = key >> np.int64(31)
    v = key & np.int64((1 << 31) - 1)
    return v, np.searchsorted(d, np.arange(n_docs + 1))


def fingerprint_udf(window: int = 64, w: int = 32):
    """text -> array<long> winnowed fingerprints (whole-batch
    vectorized core; see batch_winnow_fingerprints)."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _fp(texts: pd.Series) -> pd.Series:
        vals, offs = batch_winnow_fingerprints(texts.tolist(), window, w)
        return pd.Series(
            [vals[offs[i] : offs[i + 1]].tolist() for i in range(len(texts))]
        )

    return _fp


# ---------------------------------------------------------------------------
# suffix array + Kasai LCP (NumPy doubling — O(n log n))
# ---------------------------------------------------------------------------


def suffix_array(s: np.ndarray, return_levels: bool = False):
    """Suffix array of an int array via prefix-doubling + argsort.

    return_levels=True also returns [(width, rank_width)] for every
    doubling level — rank_width[i] ranks the (truncated) substring
    s[i:i+width]; the levels power the vectorized binary-lifting LCP
    below (the round-2 Kasai per-char Python loop is gone)."""
    n = s.size
    sa = np.argsort(s, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.concatenate(([0], np.cumsum(s[sa][1:] != s[sa][:-1])))
    levels = [(1, rank)]
    k = 1
    tmp = np.empty(n, dtype=np.int64)
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        sa = order
        tmp[sa[0]] = 0
        prev, cur = sa[:-1], sa[1:]
        newgrp = (rank[cur] != rank[prev]) | (key2[cur] != key2[prev])
        tmp[cur] = np.cumsum(newgrp)
        rank = tmp.copy()
        k <<= 1
        levels.append((k, rank))
        if rank[sa[-1]] == n - 1:
            break
    if return_levels:
        return sa, levels
    return sa


def lcp_of_position_pairs(
    x: np.ndarray, y: np.ndarray, levels: list, n: int
) -> np.ndarray:
    """Vectorized LCP of many suffix pairs at once via binary lifting
    over the prefix-doubling rank levels (descending widths; each width
    consumed at most once — the binary decomposition of the LCP). All
    pairs advance together in O(log n) vector steps: this replaces the
    O(n) interpreted Kasai loop per candidate pair (round-2 VERDICT #8)."""
    lcp = np.zeros(x.size, dtype=np.int64)
    for width, rank in reversed(levels):
        xi = x + lcp
        yi = y + lcp
        # full-width in-bounds only: any true common extension of
        # length >= width keeps both windows in range, so the guard
        # never under-counts
        ok = (xi + width <= n) & (yi + width <= n)
        if not ok.any():
            continue
        eq = np.zeros(x.size, dtype=bool)
        eq[ok] = rank[xi[ok]] == rank[yi[ok]]
        lcp[eq] += width
    return lcp


def kasai_lcp(s: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """LCP array: lcp[i] = common prefix length of sa[i-1], sa[i]."""
    n = s.size
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            while i + h < n and j + h < n and s[i + h] == s[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def longest_common_substring_len(a: str, b: str) -> int:
    """Exact LCS length between two strings via suffix array + LCP of
    a <sep> b: max lcp between adjacent suffixes from different docs."""
    ab = np.frombuffer(a.encode("utf-8", errors="replace"), dtype=np.uint8).astype(np.int64)
    bb = np.frombuffer(b.encode("utf-8", errors="replace"), dtype=np.uint8).astype(np.int64)
    if ab.size == 0 or bb.size == 0:
        return 0
    # the 256 separator never occurs in either byte stream, so no common
    # prefix between an a-suffix and a b-suffix can cross it
    s = np.concatenate((ab, np.array([256], dtype=np.int64), bb))
    sa, levels = suffix_array(s, return_levels=True)
    na = ab.size
    own = sa > na  # suffix starts in b (positions na+1..)
    cross = own[1:] != own[:-1]
    if not cross.any():
        return 0
    # max LCP over adjacent cross-document SA neighbors, all pairs at
    # once (binary lifting) — no per-character Python loop
    x = sa[:-1][cross]
    y = sa[1:][cross]
    return int(lcp_of_position_pairs(x, y, levels, s.size).max())


def substring_pairs(
    docs: DataFrame,
    min_len: int = 256,
    window: int | None = None,
    w: int = 32,
    broadcast_limit: int | None = None,
) -> DataFrame:
    """(doc_id, text) -> (a, b, lcs_len) pairs sharing an exact common
    substring of >= min_len chars.

    window is derived so the winnowing guarantee covers min_len:
    window + w - 1 <= min_len. Candidates explode/groupBy exactly like
    LSH bands; verification joins text back for candidate docs only
    (same semi-join shape as the MinHash verify). All small-side joins
    are size-gated: broadcast under broadcast_limit rows, parallel
    shuffle join above — boilerplate-heavy web corpora can make the
    fingerprint census and the candidate list arbitrarily large."""
    if broadcast_limit is None:
        from clann_spark.config import DedupConfig

        broadcast_limit = DedupConfig().broadcast_limit
    window = window or (min_len - w + 1 if min_len - w + 1 > 0 else min_len)
    assert window + w - 1 <= min_len or min_len < w

    def _gate(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(plain persisted df, size-gated join side)."""
        df = df.persist()
        return df, (F.broadcast(df) if df.count() <= broadcast_limit else df)

    fp = docs.select("doc_id", fingerprint_udf(window, w)(F.coalesce("text", F.lit(""))).alias("fps"))
    buckets = fp.select("doc_id", F.explode("fps").alias("fp"))
    _, census = _gate(buckets.groupBy("fp").agg(F.count("*").alias("cnt")).where("cnt >= 2"))
    nb = buckets.join(census, "fp")
    left = nb.select(F.col("fp"), F.col("doc_id").alias("a"))
    right = nb.select(F.col("fp"), F.col("doc_id").alias("b"))
    cands, cands_gated = _gate(
        left.join(right, "fp").where("a < b").select("a", "b").dropDuplicates(["a", "b"])
    )

    texts = docs.select("doc_id", "text")
    _, cand_ids = _gate(
        cands.select(F.col("a").alias("doc_id"))
        .union(cands.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    cand_texts = texts.join(cand_ids, "doc_id")

    j = (
        cands_gated
        .join(cand_texts.select(F.col("doc_id").alias("a"), F.col("text").alias("ta")), "a")
        .join(cand_texts.select(F.col("doc_id").alias("b"), F.col("text").alias("tb")), "b")
    )

    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _lcs(ta: pd.Series, tb: pd.Series) -> pd.Series:
        return pd.Series(
            [longest_common_substring_len(x or "", y or "") for x, y in zip(ta, tb)]
        )

    return (
        j.select("a", "b", _lcs("ta", "tb").alias("lcs_len"))
        .where(F.col("lcs_len") >= min_len)
    )
