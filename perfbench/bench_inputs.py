"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed. The program under test
only ever sees the tables these write (parquet files in the run's work
directory) or, for the kernel probe, the Arrow batches they return.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from clann_spark.sources.pages import VOCAB_SIZE, make_pages

#: workload -> make_pages arguments. Sizes are set so that one warm
#: pipeline pass takes 4-7 s on a 4-core box: the benchmark needs
#: several passes per run to report a steady median.
DEDUP_SIZES = {
    "dedup_sparse": dict(n_base=5000, dup_frac=0.05, skew=False),
    "dedup_dense": dict(n_base=800, dup_frac=1.0, skew=True),
}

#: share of extra short (1-4 word) and empty pages mixed into every
#: crawl, at seeded positions: real crawls carry them, and docs shorter
#: than shingle_k words have empty shingle sets.
SHORT_FRAC = 0.01

#: incremental probe: corpus of INC_CORPUS base pages, the rest of the
#: same draw streams in INC_BATCHES batches of INC_BATCH docs.
INC_CORPUS = 1000
INC_BATCH = 100
INC_BATCHES = 3

#: ANN probe: clustered Gaussian vectors.
ANN_N, ANN_DIM, ANN_CLUSTERS, ANN_QUERIES = 4000, 32, 16, 40


def _with_short_pages(pages: pd.DataFrame, rng: np.random.Generator, tag: str) -> pd.DataFrame:
    """Insert SHORT_FRAC extra pages (half empty, half 1-4 words) at
    seeded row positions. They are new urls, so planted pairs stay
    valid."""
    n = max(2, int(len(pages) * SHORT_FRAC))
    # short pages reuse the opening words of seeded crawl pages, like
    # title-only or stub pages
    donors = pages["text"].iloc[rng.integers(0, len(pages), n)].str.split(" ")
    texts = [
        "" if j % 2 == 0 else " ".join(words[: int(rng.integers(1, 5))])
        for j, words in enumerate(donors)
    ]
    short = pd.DataFrame(
        {
            "url": [f"https://short{j % 7}.example/{tag}/{j}" for j in range(n)],
            "text": texts,
            "lang": "en",
        }
    )
    # a stable sort on seeded keys interleaves the short pages at
    # random positions while keeping the crawl's own order
    keys = np.concatenate([np.arange(len(pages)) + 0.5, rng.uniform(0, len(pages), n)])
    out = pd.concat([pages[["url", "text", "lang"]], short], ignore_index=True)
    return out.iloc[np.argsort(keys, kind="stable")].reset_index(drop=True)


def dedup_inputs(workload: str, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(pages[url, text, lang], planted pairs[url_a, url_b, jaccard, kind])."""
    fx = make_pages(seed=seed, **DEDUP_SIZES[workload])
    rng = np.random.default_rng([seed, 1])
    return _with_short_pages(fx.pages, rng, f"s{seed}"), fx.gt_pairs


def incremental_inputs(seed: int) -> tuple[pd.DataFrame, list[pd.DataFrame], pd.DataFrame]:
    """(corpus pages, stream batches, planted pairs) from ONE make_pages
    draw: the first INC_CORPUS base pages form the corpus; the other
    base pages and every clone arrive shuffled in batches, so batches
    carry new pages, near-dups of the corpus and near-dups of earlier
    batches."""
    n_stream = INC_BATCH * INC_BATCHES
    fx = make_pages(n_base=INC_CORPUS + n_stream // 2, dup_frac=0.4, seed=seed)
    rng = np.random.default_rng([seed, 2])
    pages = fx.pages[["url", "text", "lang"]]
    corpus = pages.iloc[:INC_CORPUS]
    rest = _with_short_pages(pages.iloc[INC_CORPUS:], rng, f"i{seed}")
    rest = rest.iloc[rng.permutation(len(rest))[:n_stream]].reset_index(drop=True)
    batches = [rest.iloc[i * INC_BATCH : (i + 1) * INC_BATCH] for i in range(INC_BATCHES)]
    return corpus.reset_index(drop=True), batches, fx.gt_pairs


def ann_inputs(seed: int) -> tuple[pd.DataFrame, np.ndarray]:
    """(vectors[vec_id, embedding], query vec_ids): ANN_CLUSTERS
    Gaussian blobs, queries drawn from the corpus itself."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(ANN_CLUSTERS, ANN_DIM))
    x = centers[rng.integers(0, ANN_CLUSTERS, ANN_N)] + 0.35 * rng.normal(size=(ANN_N, ANN_DIM))
    vecs = pd.DataFrame({"vec_id": np.arange(ANN_N, dtype=np.int64), "embedding": list(x)})
    return vecs, np.sort(rng.choice(ANN_N, ANN_QUERIES, replace=False))


def kernel_batches(word_counts: np.ndarray, seed: int, shingle_k: int, n_docs: int = 500):
    """Arrow batches for the no-Spark signature kernels, with doc
    lengths resampled from the workload's own word counts.

    Returns (fast_batch, md5_batch): fast_batch carries the `_wh`
    word-hash lists fast_signature_arrow consumes; md5_batch carries
    the 31-bit `shingle_hashes` and 60-bit `_word_hashes` lists
    md5_parity_signature_arrow consumes."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 4])
    lens = rng.choice(word_counts, n_docs)
    off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    # words drawn from a vocabulary, so docs repeat words like text does
    vocab_hashes = rng.integers(-(1 << 63), (1 << 63) - 1, VOCAB_SIZE, dtype=np.int64)
    wh = vocab_hashes[rng.integers(0, VOCAB_SIZE, int(off[-1]))]
    ids = pa.array(np.arange(n_docs, dtype=np.int64))

    def lists(values, offsets):
        return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(values))

    fast = pa.RecordBatch.from_arrays([ids, lists(wh, off)], ["doc_id", "_wh"])
    sh_lens = np.maximum(lens - shingle_k + 1, 0)
    sh_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(sh_lens, out=sh_off[1:])
    sh = rng.integers(0, (1 << 31) - 1, int(sh_off[-1]), dtype=np.int64)
    w60 = (wh.view(np.uint64) >> np.uint64(4)).view(np.int64)
    md5 = pa.RecordBatch.from_arrays(
        [ids, lists(sh, sh_off), lists(w60, off)], ["doc_id", "shingle_hashes", "_word_hashes"]
    )
    return fast, md5
