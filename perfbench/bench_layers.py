"""Per-layer probes for the traced run.

``traced_pass`` makes the same calls as ``pipeline.run_dedup`` +
``dedup_summary``, one layer at a time, each inside a span tagged with
the layer's job group. The signatures are persisted and counted so the
signature layer has its own span; that extra barrier is part of
``trace.overhead_s``. The other probes time layers the batch pipeline
does not call: the signature kernels without Spark, distributed
connected components, the incremental stream and the IVF index.
"""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bench_inputs import ann_inputs, incremental_inputs, kernel_batches
from clann_spark.operators.candidates import bucket_census, candidate_pairs
from clann_spark.operators.connected_components import connected_components
from clann_spark.operators.signatures import compute_signatures, explode_bands
from clann_spark.operators.verify import verify_pairs_from_text
from clann_spark.pipeline import DedupResult, dedup_summary, prepare_pages

LAYERS = ("signatures", "candidates", "verify", "connected_components", "pipeline")


def traced_pass(tr, docs, cfg):
    """One pipeline pass, layer by layer. Returns (summary row,
    DedupResult, counts)."""
    thr = cfg.hamming_threshold
    with tr.span("e2e"):
        base = docs.select("doc_id", "text")
        with tr.span("signatures", group="signatures"):
            sigs = compute_signatures(
                base, cfg, include_shingles=False, include_sig=False, drop_text=True
            ).persist()
            sigs.count()
        with tr.span("candidates", group="candidates"):
            buckets = explode_bands(sigs, cfg, extra_cols=("simhash",) if thr is not None else ())
            cands = candidate_pairs(
                buckets, cfg, mode="auto",
                sketch_col="simhash" if thr is not None else None, hamming_threshold=thr,
            ).persist()
            n_pairs = cands.count()
        with tr.span("verify", group="verify"):
            verified = verify_pairs_from_text(cands, base, cfg).persist()
            n_verified = verified.count()
        with tr.span("connected_components", group="connected_components"):
            clusters = connected_components(verified)
        with tr.span("pipeline", group="pipeline"):
            # dedup_summary reads only base and clusters
            res = DedupResult(sigs, buckets, cands, verified, clusters, None, base=base)
            summary = dedup_summary(res).collect()[0]
    return summary, res, {"pairs": n_pairs, "verified": n_verified}


def census(tr, res) -> dict:
    with tr.span("candidates.census", group="census"):
        row = bucket_census(res.buckets).agg(
            F.sum("cnt").alias("rows"), F.max("cnt").alias("max")
        ).first()
    return {"candidates.bucket_rows": row["rows"], "candidates.max_bucket": row["max"]}


def distributed_cc(tr, res, driver_clusters: pd.DataFrame) -> tuple[dict, bool]:
    """The same verified edges through the large-star/small-star loop
    (driver_threshold=0). Returns (metrics, output equals the driver
    union-find's)."""
    with tr.span("connected_components.distributed", group="cc_distributed") as s:
        out = connected_components(res.verified, driver_threshold=0)
        got = out.toPandas()
    same = got.sort_values("doc_id").reset_index(drop=True).equals(
        driver_clusters.sort_values("doc_id").reset_index(drop=True)
    )
    return {
        "connected_components.distributed_wall_s": s["end"] - s["start"],
        "connected_components.rounds": out._clann_cc_stats["rounds"],
    }, same


def _kernel_rate(fn, batch, min_s: float = 0.5) -> float:
    """Median docs/s of one single-threaded kernel call over reps
    totalling at least min_s."""
    rates, spent = [], 0.0
    while spent < min_s or len(rates) < 3:
        t = time.perf_counter()
        for _ in fn(iter([batch])):
            pass
        dt = time.perf_counter() - t
        spent += dt
        rates.append(batch.num_rows / dt)
    return statistics.median(rates)


def kernel_probe(tr, cfg, word_counts: np.ndarray, seed: int) -> dict:
    """Signature kernels outside Spark, in docs/s on one core."""
    from clann_spark.functions.hashing import fast_signature_arrow, md5_parity_signature_arrow

    fast, md5 = kernel_batches(word_counts, seed, cfg.shingle_k)
    with tr.span("hashing.kernels"):
        return {
            "hashing.fast_sig_docs_per_s_core": _kernel_rate(
                fast_signature_arrow(cfg, ["doc_id"], include_shingles=False, include_sig=False),
                fast,
            ),
            "hashing.md5_sig_docs_per_s_core": _kernel_rate(
                md5_parity_signature_arrow(cfg, ["doc_id"], include_shingles=False), md5
            ),
        }


def _ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def incremental_probe(tr, spark, cfg, seed: int, work: str) -> tuple[dict, int, int]:
    """Closed-loop incremental dedup: INC_BATCHES pre-written page
    batches drained one per micro-batch (one batch in flight) against a
    corpus, with state and compaction. Returns (metrics, attempted,
    failed); one attempt per micro-batch."""
    from clann_spark.operators.knn import lsh_text_query
    from clann_spark.streaming.incremental import stream_dedup_query

    compact_every = 2
    corpus_pages, batches, gt = incremental_inputs(seed)
    pages = pd.concat([corpus_pages, *batches], ignore_index=True)
    ids = prepare_pages(spark.createDataFrame(pages)).select("url", "doc_id").toPandas()
    url2id = dict(zip(ids["url"], ids["doc_id"]))
    id2url = dict(zip(ids["doc_id"], ids["url"]))

    def as_docs(p: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"doc_id": p["url"].map(url2id), "text": p["text"]})

    in_dir, out_dir, ckpt, state = (os.path.join(work, "inc", d) for d in ("in", "out", "ckpt", "state"))
    os.makedirs(in_dir)
    for i, b in enumerate(batches):
        as_docs(b).to_parquet(os.path.join(in_dir, f"b{i:05d}.parquet"), index=False)
    docs = spark.createDataFrame(as_docs(corpus_pages), "doc_id long, text string").persist()
    docs.count()
    with tr.span("incremental.corpus_signatures", group="incremental_setup"):
        sigs = compute_signatures(
            docs, cfg, include_shingles=False, include_sig=False, drop_text=True
        ).select("doc_id", "bands").persist()
        sigs.count()

    q0 = spark.createDataFrame(as_docs(batches[0]), "doc_id long, text string")
    with tr.span("knn.lsh_text_query", group="lsh_text_query") as s_lsh:
        lsh_text_query(q0, sigs, docs, cfg, k=5).collect()

    with tr.span("incremental.drain"):
        q = stream_dedup_query(
            spark, in_dir, sigs, docs, cfg, out_dir, ckpt, k=5, available_now=True,
            state_dir=state, compact_every=compact_every, max_files_per_trigger=1,
        )
        q.awaitTermination(150)
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    dur = {p["batchId"]: p["durationMs"]["triggerExecution"] / 1e3 for p in prog}
    drain = max(_ts(p["timestamp"]) + dur[p["batchId"]] for p in prog) - min(
        _ts(p["timestamp"]) for p in prog
    )
    compacting = [b for b in dur if b > 0 and b % compact_every == 0]
    plain = [b for b in dur if b > 0 and b % compact_every != 0]

    matches = spark.read.parquet(out_dir).toPandas()
    # after compaction the live state is exactly the base-/batch= dirs left
    parts = [os.path.join(state, d) for d in os.listdir(state) if d[:5] in ("base-", "batch")]
    accepted = {id2url[d] for d in spark.read.parquet(*parts).toPandas()["doc_id"]}
    n_stream = sum(len(b) for b in batches)
    # per batch: every streamed page planted as a >= tau near-dup of a
    # corpus page gets a >= tau match, and no page matched at >= tau (a
    # rejected duplicate) entered the state
    corpus = set(corpus_pages["url"])
    planted = gt[gt["jaccard"] >= cfg.tau]
    must_match = set(planted["url_a"][planted["url_b"].isin(corpus)]) | set(
        planted["url_b"][planted["url_a"].isin(corpus)]
    )
    matched = matches[matches["jaccard"] >= cfg.tau]
    failed = 0
    for i, b in enumerate(batches):
        dup = {id2url[q] for q in matched["query_id"][matched["batch"] == i]}
        if not must_match & set(b["url"]) <= dup or dup & accepted:
            failed += 1
    metrics = {
        "incremental.batch_p50_s": statistics.median(dur.values()),
        "incremental.batch_s.plain": statistics.median(dur[b] for b in plain),
        "incremental.batch_s.compacting": statistics.median(dur[b] for b in compacting),
        "incremental.docs_per_s": n_stream / drain,
        "incremental.state_bytes_per_doc": _dir_bytes(state) / max(1, len(accepted)),
        "incremental.accepted_ratio": len(accepted) / n_stream,
        "knn.lsh_text_query_s": s_lsh["end"] - s_lsh["start"],
    }
    sigs.unpersist()
    docs.unpersist()
    return metrics, len(batches), failed


def ann_probe(tr, spark, seed: int, work: str) -> tuple[dict, int, int]:
    """IVF index build and exact (rescue) k-NN queries, checked against
    brute force on the same queries. Returns (metrics, 1, failed)."""
    from clann_spark.metrics import CounterSet, query_metrics
    from clann_spark.operators.clustering import assign_partitions, fit_partitioner
    from clann_spark.operators.ivf_index import build_ivf_index, knn_ivf_index
    from clann_spark.operators.knn import knn_bruteforce

    k, n_centers = 10, 16
    vecs, qids = ann_inputs(seed)
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>").persist()
    emb.count()
    with tr.span("clustering.fit", group="clustering") as s_fit:
        centers = fit_partitioner(emb, "embedding", id_col="vec_id", k=n_centers)
    with tr.span("ivf_index.assign", group="ivf_index_assign") as s_assign:
        assign_partitions(emb, centers, "embedding").agg(
            F.max("partition_id"), F.sum("center_dist")
        ).collect()
    with tr.span("ivf_index.build", group="ivf_index") as s_build:
        index = build_ivf_index(spark, emb, os.path.join(work, "ivf"), k=n_centers)
    queries = emb.where(F.col("vec_id").isin([int(x) for x in qids]))
    counters = CounterSet(spark)
    with tr.span("knn.query", group="knn") as s_q:
        res = knn_ivf_index(queries, index, k=k, nprobe=4, rescue=True, counters=counters)
        got = res.toPandas()
    qm = query_metrics(res).agg(
        F.avg("n_comparisons").alias("cmp"), F.avg("n_rescued").alias("rescued")
    ).first()
    exact = knn_bruteforce(queries, emb, k=k).toPandas()
    got, exact = (set(zip(df["query_id"], df["neighbor_id"])) for df in (got, exact))
    recall = len(got & exact) / len(exact)
    emb.unpersist()
    return {
        "clustering.fit_s": s_fit["end"] - s_fit["start"],
        "ivf_index.assign_s": s_assign["end"] - s_assign["start"],
        "ivf_index.build_s": s_build["end"] - s_build["start"],
        "knn.queries_per_s": len(qids) / (s_q["end"] - s_q["start"]),
        "knn.recall": recall,
        "knn.comparisons_per_query": qm["cmp"],
        "knn.rescued_per_query": qm["rescued"],
        "knn.center_dist_per_query": counters.totals().get("center_dist_computations", 0) / len(qids),
    }, 1, int(got != exact)
