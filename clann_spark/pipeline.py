"""End-to-end dedup pipeline orchestration (SURVEY.md §3.1 Spark
lifecycle): read → signatures (narrow) → band explode → bucket
shuffle → candidate pairs → exact verify → connected components →
cluster assignment.

Every stage is a DataFrame; `run_dedup` returns them all so callers
(tests, bench, __spark_entry__, the checkpointing StageRunner) can
materialize whichever they need.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clann_spark.config import DedupConfig
from clann_spark.operators.candidates import candidate_pairs
from clann_spark.operators.connected_components import connected_components
from clann_spark.operators.signatures import compute_signatures, explode_bands
from clann_spark.operators.verify import verify_pairs


def prepare_pages(pages: DataFrame, use_html: bool = False) -> DataFrame:
    """Common-Crawl-style pages table -> (doc_id, url, text, lang).

    doc_id = xxhash64(url): a stable 64-bit numeric key derived from the
    row's natural key (SURVEY.md §1.2 data-model mapping). With
    use_html=True the text is re-extracted from the html column through
    the deterministic pandas UDF (input_hint invariant: byte-identical
    to the stored text — tested in tests/test_text.py).
    """
    df = pages
    if use_html:
        from clann_spark.functions.text import extract_text_udf

        df = df.withColumn("text", extract_text_udf()(F.col("html")))
    return df.select(
        F.xxhash64(F.col("url")).alias("doc_id"), "url", "text", "lang"
    )


@dataclass
class DedupResult:
    signatures: DataFrame      # doc_id, shingle_hashes, [sig,] bands, simhash
    buckets: DataFrame         # doc_id, band_id, band_hash [, simhash
                               #   when the hamming prefilter is on —
                               #   the J7 fingerprint rides the bucket
                               #   rows into the fused pair join]
    candidates: DataFrame      # a, b
    verified: DataFrame        # a, b, jaccard  (jaccard >= tau)
    clusters: DataFrame        # doc_id, cluster_id (only docs in a dup pair)
    assignments: DataFrame     # doc_id, cluster_id for ALL docs
    base: DataFrame | None = None  # the pre-repartition (doc_id, text)
                               #   projection — dedup_summary's narrow
                               #   count source (None for hand-built
                               #   results -> summary falls back to
                               #   aggregating `assignments`)

    def unpersist(self) -> None:
        """Release every cache run_dedup registered: the persisted
        signatures (which verify reads the shingle sets from),
        candidates and verified stages, plus any intermediates tracked
        on them (the verify stage persists the candidate pair list;
        auto-mode pair generation is a single fused pass and registers
        nothing). Long-lived sessions running many pipelines MUST call
        this after consuming the results, or executor storage grows per
        call. Safe to call repeatedly; the plans stay valid (blocks
        simply recompute if re-executed)."""
        from clann_spark.session import unpersist_intermediates

        unpersist_intermediates(self.candidates)
        unpersist_intermediates(self.verified)
        for df in (self.verified, self.candidates, self.signatures):
            try:
                df.unpersist()
            except Exception:
                pass


def run_dedup(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    pair_mode: str = "clique",
) -> DedupResult:
    """Full pipeline over any DataFrame with (id_col, text_col).

    Tokenize once: the signature pass also emits each doc's shingle
    set, and the signature table is persisted because two stages read
    it. The bucket explode projects the shingle sets away before the
    bucket exchange; verify semi-joins the table down to candidate docs
    and scores pairs from it (the reference likewise re-scores LSH
    survivors against the points its index holds, collection.hpp:
    909-920), so no document is read or tokenized a second time.
    """
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    # No blanket repartition here: compute_signatures carries its own
    # SIZE-adaptive under-split guard (per-impl task granularity — see
    # session.adaptive_input_split), so a small local corpus keeps its
    # natural partitioning while a big under-split input still fans
    # out. drop_text=True projects text away BEFORE the Arrow stage so
    # the document bytes never cross the Python boundary.
    sigs = compute_signatures(base, cfg, include_sig=False, drop_text=True).persist()

    # The bucket explode from the persisted signatures is a
    # trivial narrow op, and the round-5 candidate stage reads it (and
    # its exchange) exactly ONCE — pair generation is join-free, so no
    # consumer re-executes the explode (candidates.py module
    # docstring). (In the checkpointed pipeline the bucket table IS
    # written once as a stage table — sources/stages.py.)
    #
    # J7 sketch filter (filterer.hpp:20-32) is FUSED into pair
    # generation: the 60-bit fingerprint rides the bucket rows
    # (+8 B/row through candidate_pairs' single exchange) and far
    # pairs die on a bit_count predicate between the pair generators —
    # no post-hoc joins against the signature table, and the
    # cross-band distinct shuffles only the survivors.
    threshold = cfg.hamming_threshold
    extra = ("simhash",) if threshold is not None else ()
    buckets = explode_bands(sigs, cfg, extra_cols=extra)
    cands = candidate_pairs(
        buckets,
        cfg,
        mode=pair_mode,
        sketch_col="simhash" if threshold is not None else None,
        hamming_threshold=threshold,
    ).persist()
    # the pair list fills the signature cache (its count is the first
    # action over it), so verify's two join sides read a warm cache
    verified = verify_pairs(
        cands, sigs.select("doc_id", "shingle_hashes"), cfg
    ).persist()
    clusters = connected_components(verified)

    assignments = (
        base.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    return DedupResult(
        signatures=sigs,
        buckets=buckets,
        candidates=cands,
        verified=verified,
        clusters=clusters,
        assignments=assignments,
        base=base,
    )


def dedup_summary(result: DedupResult) -> DataFrame:
    """Corpus-level dedup stats: docs, clusters, dup docs removed.

    Computed via the same identity the DuckDB oracle uses
    (entry_queries.O_DEDUP_SUMMARY): every cluster_id is the min member
    doc_id and clusters holds one row per clustered doc, so
    n_clusters = n_docs - |clusters| + distinct(cluster_id) and
    n_removed = |clusters| - distinct(cluster_id). This needs one
    narrow count of the doc projection plus a tiny aggregate of the
    cluster table — the round-1..5 form re-ran the scan+repartition and
    a left join of the whole corpus just to count rows. Values are
    identical (tests/test_dedup_recall.py, dedup_summary oracle row).
    """
    if result.base is None:  # hand-built results: original definition
        return result.assignments.agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            (F.count("*") - F.countDistinct("cluster_id")).alias("n_removed"),
        )
    n = result.base.agg(F.count("*").alias("n_docs"))
    c = result.clusters.agg(
        F.count("*").alias("_m"), F.countDistinct("cluster_id").alias("_k")
    )
    return n.crossJoin(c).select(
        F.col("n_docs"),
        (F.col("n_docs") - F.col("_m") + F.col("_k")).alias("n_clusters"),
        (F.col("_m") - F.col("_k")).alias("n_removed"),
    )
