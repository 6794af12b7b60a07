"""Exact verification of candidate pairs.

Two-stage, mirroring the reference's probe path:
  1. cheap sketch prefilter — Hamming distance between 60-bit SimHash
     fingerprints (ref: filterer.hpp:20-32 QuerySketches / :108-111
     threshold), expressed as a bit_count(xor) predicate Catalyst can
     evaluate before the expensive set intersection;
  2. exact Jaccard on the 31-bit shingle-hash sets (ref: the exact
     re-scoring of survivors, collection.hpp:909-920), JVM-side via
     array_intersect/array_union — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clann_spark.config import DedupConfig

JACCARD_SQL = (
    "size(array_intersect(sh_a, sh_b)) / "
    "cast(size(array_union(sh_a, sh_b)) as double)"
)


def _candidate_ids(pairs: DataFrame, cfg: DedupConfig):
    """Persist the pair list and size-gate it: (pairs, small, ids of
    every doc in a pair). When the pair list fits under
    cfg.broadcast_limit rows it is broadcast (map-side joins, the common
    low-dup case); above the limit — a duplicate-heavy corpus at 10^12
    docs produces billions of candidate pairs that no executor heap
    could hold — every join runs as a parallel shuffle join. Both plans
    produce the identical pair set (tests/test_shuffle_path.py forces
    the shuffle path with limit 0)."""
    pairs = pairs.persist()
    small = pairs.count() <= cfg.broadcast_limit
    ids = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    return pairs, small, F.broadcast(ids) if small else ids


def _score(
    pairs: DataFrame,
    small: bool,
    sh: DataFrame,
    cfg: DedupConfig,
    keep_below_tau: bool,
    observation,
) -> DataFrame:
    """The verify core: join both pair sides to a (doc_id,
    shingle_hashes [, simhash]) table, drop far pairs on the SimHash
    prefilter when the table carries fingerprints and the config
    enables it, score exact Jaccard, keep jaccard >= tau."""
    threshold = cfg.hamming_threshold
    has_simhash = "simhash" in sh.columns and threshold is not None

    def side(k: str) -> DataFrame:
        s = sh.select(
            F.col("doc_id").alias(k),
            F.col("shingle_hashes").alias(f"sh_{k}"),
            *([F.col("simhash").alias(f"sim_{k}")] if has_simhash else []),
        )
        # above the gate the joins stay shuffle joins even when a warm
        # cache reports a small shingle table
        return s if small else s.hint("merge")

    j = (F.broadcast(pairs) if small else pairs).join(side("a"), "a").join(side("b"), "b")
    if has_simhash:
        j = j.where(F.expr("bit_count(sim_a ^ sim_b)") <= threshold)
    out = j.select("a", "b", F.expr(JACCARD_SQL).alias("jaccard"))
    if observation is not None:
        # A8 distance-computation counter (performance.hpp:72-80 analog):
        # exact similarity evaluations, counted by the plan's own action —
        # attached BEFORE the tau filter so false candidates are included
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("comparisons"),
            F.coalesce(
                F.sum((F.col("jaccard") >= cfg.tau).cast("long")), F.lit(0)
            ).alias("pairs_verified"),
        )
    if not keep_below_tau:
        out = out.where(F.col("jaccard") >= cfg.tau)
    from clann_spark.session import track_cache

    # `pairs` stays persisted for the size-gate count + two joins;
    # register it so per-micro-batch callers can release the blocks
    # (session.unpersist_intermediates) instead of leaking executor
    # storage over a long-running stream.
    return track_cache(out, pairs)


def verify_pairs(
    pairs: DataFrame,
    sig_df: DataFrame,
    cfg: DedupConfig,
    keep_below_tau: bool = False,
    observation=None,
) -> DataFrame:
    """(a, b) candidates -> (a, b, jaccard) verified pairs, scored
    against a signature table that already holds the shingle sets.

    sig_df must carry doc_id and shingle_hashes; a simhash column turns
    on the SimHash prefilter when cfg enables it. The table is
    semi-joined down to candidate docs before the pair joins, so only
    their shingle sets reach the joins. run_dedup verifies this way
    against its persisted signature table: the shingle sets come from
    the signature pass, so no document is tokenized twice.

    Side effects: the pair list is persisted and counted (an eager
    job) while the plan is built, for the broadcast_limit size gate and
    the two joins that read it. The cache is registered on the result;
    callers release it with session.unpersist_intermediates once the
    result has been consumed (or persisted and filled).
    """
    pairs, small, ids = _candidate_ids(pairs, cfg)
    cols = ["doc_id", "shingle_hashes"] + (["simhash"] if "simhash" in sig_df.columns else [])
    return _score(
        pairs, small, sig_df.select(*cols).join(ids, "doc_id"), cfg, keep_below_tau, observation
    )


def prefilter_pairs_by_simhash(
    pairs: DataFrame, sig_df: DataFrame, threshold: int
) -> DataFrame:
    """J7 sketch filter (filterer.hpp:20-32, threshold :108-111): drop
    candidate pairs whose 60-bit fingerprints differ in more than
    `threshold` bits BEFORE the expensive exact verification.

    The reference always filters; batch analog = a cheap bit_count
    predicate on two slim int64 joins, a semi-join reduction that cuts
    the verify stage's shingle joins + set intersection to the
    survivors. Pick `threshold` with planner.hamming_threshold_for so
    the per-pair miss probability is accounted against the recall
    budget (tests assert the flagship pair set is unchanged)."""
    sh = sig_df.select("doc_id", "simhash")
    return (
        pairs.join(
            sh.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sim_a")), "a"
        )
        .join(
            sh.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sim_b")), "b"
        )
        .where(F.expr("bit_count(sim_a ^ sim_b)") <= threshold)
        .select("a", "b")
    )


def verify_pairs_from_text(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    keep_below_tau: bool = False,
    observation=None,
) -> DataFrame:
    """verify_pairs for callers that hold text but no shingle sets
    (incremental micro-batches, lsh_text_query, the checkpointed stage
    pipeline): derive shingle sets ONLY for docs that appear in a
    candidate pair, in the signature stage's hash space, then score
    them with the same core.

    docs: (doc_id, text). The shingle table is persisted and filled by
    one job before both pair joins read it — without the eager fill,
    the two join sides race to build the cold cache concurrently. Like
    verify_pairs, this persists the pair list and runs actions while
    the plan is built; both caches are registered on the result
    (session.unpersist_intermediates releases them).
    """
    from clann_spark.session import track_cache

    pairs, small, ids = _candidate_ids(pairs, cfg)
    cand_docs = docs.select("doc_id", "text").join(ids, "doc_id")
    sh = _shingle_table(cand_docs, cfg).persist()
    sh.count()
    return track_cache(_score(pairs, small, sh, cfg, keep_below_tau, observation), sh)


def _shingle_table(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, text) -> (doc_id, shingle_hashes), the same values
    compute_signatures(include_shingles=True) emits for cfg's impl
    (tests/test_segment_kernels.py pins the parity)."""
    from clann_spark.functions import text as T

    if cfg.signature_impl == "fast":
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        from clann_spark.functions.hashing import fast_shingle_hashes_arrow

        # JVM tokenize+hash, then fold in numpy (shared _fold_stream
        # core). Only (doc_id, word hashes) cross the boundary in.
        wh = F.expr(T.word_xxhash_sql("coalesce(text, '')", cfg.seed))
        return docs.select("doc_id", wh.alias("_wh")).mapInArrow(
            fast_shingle_hashes_arrow(cfg, ["doc_id"]),
            StructType(
                [
                    StructField("doc_id", docs.schema["doc_id"].dataType),
                    StructField("shingle_hashes", ArrayType(LongType())),
                ]
            ),
        )
    from clann_spark.functions import hashing as H

    if cfg.signature_impl == "xxhash":
        hashes = H.xxhash_shingle_hashes_sql("_shingles", cfg.seed)
    else:
        hashes = H.shingle_hashes_sql("_shingles")
    return (
        docs.withColumn("_words", F.expr(T.words_sql("coalesce(text, '')")))
        .withColumn("_shingles", F.expr(T.shingles_from_words_sql("_words", cfg.shingle_k)))
        .select("doc_id", F.expr(hashes).alias("shingle_hashes"))
    )
