"""Segment kernels are correct for every Arrow batch shape.

The signature kernels reduce a flat value stream per doc segment. Docs
with no values (empty text has no words) are empty segments, and an
empty segment LAST in a batch used to cut the previous doc's segment
short. Two layers are pinned here:

* kernels without Spark: seeded random batches with empty and short
  docs first, in the middle and last, checked against per-doc
  references (np_minhash / np_simhash for the md5 space);
* compute_signatures under spark.sql.execution.arrow.maxRecordsPerBatch
  in {1, 7, 10000}: a doc's shingle set equals verify's re-derivation
  from text, and its MinHash / SimHash do not depend on its batch
  neighbours.
"""

from __future__ import annotations

import numpy as np
import pytest

from clann_spark.config import SIMHASH_BITS, DedupConfig, md5_int60
from clann_spark.functions import hashing as H
from clann_spark.functions.text import py_words

CFG = DedupConfig(num_perm=16, bands=4, rows_per_band=4)
A = np.array([p[0] for p in CFG.perms], dtype=np.int64)
B = np.array([p[1] for p in CFG.perms], dtype=np.int64)


def _batches(seed: int, n_batches: int = 40):
    """Random segment lengths with an empty and a 1-4-value doc first,
    in the middle and last (batch-final) in every batch."""
    rng = np.random.default_rng(seed)
    for _ in range(n_batches):
        lens = list(rng.integers(5, 40, size=rng.integers(2, 12)))
        edge = [0, int(rng.integers(1, 5))]
        rng.shuffle(edge)
        mid = len(lens) // 2
        lens = edge + lens[:mid] + [0, int(rng.integers(1, 5))] + lens[mid:]
        lens += [int(rng.integers(1, 5)), 0] if rng.random() < 0.5 else [0]
        off = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        yield rng, off


def _segments(vals, off):
    return [vals[off[d] : off[d + 1]] for d in range(off.size - 1)]


def test_segment_reduce_batch_final_empty():
    vals = np.array([5, 3, 9, 4, 7], dtype=np.int64)
    off = np.array([0, 0, 2, 2, 5, 5, 5])
    got = H.segment_reduce(np.minimum, vals, off, 99)
    assert got.tolist() == [99, 3, 99, 4, 99, 99]
    assert H.segment_reduce(np.minimum, vals[:0], np.zeros(3, np.int64), 7).tolist() == [7, 7]


def test_md5_minhash_kernel_matches_np_minhash():
    for rng, off in _batches(1):
        vals = rng.integers(0, CFG.prime, size=off[-1], dtype=np.int64)
        got = H._md5_minhash_flat(vals, off, A, B, CFG.prime)
        for d, seg in enumerate(_segments(vals, off)):
            assert got[d].tolist() == H.np_minhash(seg, A, B, CFG.prime).tolist(), (off, d)


def test_md5_simhash_kernel_matches_np_simhash():
    for rng, off in _batches(2):
        vals = rng.integers(0, 1 << 60, size=off[-1], dtype=np.int64)
        got = H._md5_simhash_flat(vals.view(np.uint64), off)
        for d, seg in enumerate(_segments(vals, off)):
            assert got[d] == H.np_simhash(seg), (off, d)


def test_fast_minhash_kernel_matches_per_doc():
    mults = H.perm_multipliers(CFG)
    for rng, off in _batches(3):
        vals = rng.integers(0, 1 << 63, size=off[-1], dtype=np.int64).view(np.uint64)
        got = H._minhash_from_folds(vals, off, mults, CFG.prime)
        for d, seg in enumerate(_segments(vals, off)):
            want = (
                ((seg[None, :] * mults[:, None]).min(axis=1) >> np.uint64(33)).astype(np.int64)
                if seg.size
                else np.full(mults.size, CFG.prime)
            )
            assert got[d].tolist() == want.tolist(), (off, d)


def test_fast_simhash_kernel_matches_per_doc():
    for rng, off in _batches(4):
        vals = rng.integers(0, 1 << 63, size=off[-1], dtype=np.int64).view(np.uint64)
        got = H._simhash_from_words(vals, off)
        for d, seg in enumerate(_segments(vals, off)):
            ones = np.unpackbits(seg.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=0)
            bits = (2 * ones >= seg.size) & (seg.size > 0)
            want = int((bits[:SIMHASH_BITS].astype(np.int64) << np.arange(SIMHASH_BITS)).sum())
            assert got[d] == want, (off, d)


# ---------------------------------------------------------------------------
# compute_signatures at three Arrow batch sizes
# ---------------------------------------------------------------------------


def _texts() -> list[str]:
    """25 docs, one partition: with 7-record batches the empty/short
    docs sit first, mid-batch and batch-final; with one 10000-record
    batch the corpus ends in an empty doc."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(60)]
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(8, 30)))) for _ in range(25)]
    edges = {0: "", 1: "two words", 3: "one", 6: "", 10: "a b c d", 13: "   ", 20: "x y z", 24: ""}
    for i, t in edges.items():
        texts[i] = t
    return texts


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(
        list(enumerate(_texts())), "doc_id long, text string"
    ).coalesce(1)


def _signature_rows(spark, docs, cfg, batch: int) -> dict:
    from clann_spark.operators.signatures import compute_signatures

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        rows = compute_signatures(docs, cfg, include_shingles=True, drop_text=True).collect()
    finally:
        spark.conf.set(key, old)
    return {r["doc_id"]: r for r in rows}


@pytest.mark.parametrize("impl", ["expr", "pandas", "xxhash", "fast"])
def test_signatures_do_not_depend_on_batch_shape(spark, edge_docs, impl):
    from clann_spark.operators.verify import _shingle_table

    cfg = CFG.with_(signature_impl=impl)
    derived = {
        r["doc_id"]: sorted(r["shingle_hashes"])
        for r in _shingle_table(edge_docs, cfg).collect()
    }
    per_doc = _signature_rows(spark, edge_docs, cfg, 1)
    texts = _texts()
    for batch in (1, 7, 10000):
        rows = per_doc if batch == 1 else _signature_rows(spark, edge_docs, cfg, batch)
        for d, r in rows.items():
            where = f"{impl} batch={batch} doc={d}"
            assert sorted(r["shingle_hashes"]) == derived[d], where
            for col in ("sig", "simhash", "bands"):
                assert r[col] == per_doc[d][col], f"{where} {col}"
            if impl != "fast":  # md5-parity fold over the row's own hashes
                want = H.np_minhash(np.array(r["shingle_hashes"], dtype=np.int64), A, B)
                assert r["sig"] == want.tolist(), where
            if impl in ("expr", "pandas"):
                wh = np.array(sorted({md5_int60(w) for w in py_words(texts[d])}), dtype=np.int64)
                assert r["simhash"] == H.np_simhash(wh), where
