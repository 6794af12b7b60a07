#!/usr/bin/env python3
"""Layered dedup benchmark.

    python3 perfbench/run.py --workload dedup_sparse --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's seeded crawl,
runs the batch dedup pipeline (run_dedup + dedup_summary) on
local[<cores>] for --seconds, checks every pass, and prints one JSON
line: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Metric names and units come from BENCHMARK.json; see
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

T0 = time.perf_counter()

ROOT = os.getcwd()
sys.path.insert(0, ROOT)  # the checkout under test, not an installed copy

DRIVER_MEM = "2g"
#: a dense pass takes 6-7 s, so --seconds fits 3 or 4 of them; with
#: passes still getting faster, a median over 3 sits later on that curve
#: than one over 4 and a run's pass count would move the result
MIN_PASSES = 4
#: full passes after the cold one, always the same number: the JVM's
#: JIT keeps passes getting faster for over a minute, so a warm-up that
#: stops when passes "settle" ends at a seed- and noise-dependent point
#: of that curve and moves the measured median with it
WARMUP = 1
#: pages of the crawl the cold pass runs on
COLD_PAGES = 500


class Dedup:
    """A batch dedup workload: a seeded crawl on disk, deduped pass after
    pass with every cache released in between."""

    def __init__(self, workload: str, seed: int, work: str):
        from bench_inputs import dedup_inputs

        t = time.perf_counter()
        self.pages, self.gt = dedup_inputs(workload, seed)
        # one file, like the repository's documents.parquet test data:
        # Spark reads it as one partition and the pipeline's own
        # size-based split decides the parallelism. Several small files
        # would be packed into a seed-dependent number of partitions.
        self.path = os.path.join(work, "pages.parquet")
        self.pages.to_parquet(self.path, index=False)
        self.cold_path = os.path.join(work, "cold.parquet")
        self.pages.iloc[:COLD_PAGES].to_parquet(self.cold_path, index=False)
        self.gen_s = time.perf_counter() - t
        self.attempted = self.failed = 0
        self.recalls: list[float] = []
        self.failures: list[str] = []

    def load(self, spark) -> float:
        """Open the crawl and scan it once. The input is not cached:
        every pass reads it from parquet, as a dedup job over a crawl
        dump does."""
        from clann_spark.pipeline import prepare_pages

        t = time.perf_counter()
        self.docs = prepare_pages(spark.read.parquet(self.path)).select("doc_id", "text")
        self.n_docs = self.docs.count()
        return time.perf_counter() - t

    def setup(self, spark, cfg) -> float:
        """Load the crawl three times (median kept), then run the cold
        pass. Returns the set-up time after Spark start.

        The cold pass runs the pipeline and its result collects once
        over the first COLD_PAGES pages: it pays the one-off costs
        (class loading, code generation, Python worker start) at a
        fraction of the cost of a full pass."""
        from clann_spark.pipeline import dedup_summary, prepare_pages, run_dedup

        self.cfg = cfg
        self.load_walls = [self.load(spark) for _ in range(3)]
        load_s = statistics.median(self.load_walls)
        urls = prepare_pages(spark.read.parquet(self.path)).select("url", "doc_id").toPandas()
        url2id = dict(zip(urls["url"], urls["doc_id"]))
        planted = self.gt[self.gt["jaccard"] >= cfg.tau]
        self.gt_ids = (planted["url_a"].map(url2id).to_numpy(), planted["url_b"].map(url2id).to_numpy())
        t = time.perf_counter()
        cold = run_dedup(
            prepare_pages(spark.read.parquet(self.cold_path)).select("doc_id", "text"),
            cfg, pair_mode="auto",
        )
        dedup_summary(cold).collect()
        cold.clusters.toPandas()
        cold.verified.select("jaccard").toPandas()
        cold_s = time.perf_counter() - t
        cold.unpersist()
        spark.catalog.clearCache()
        return load_s + cold_s

    def run_pass(self, spark, tr=None) -> float:
        """One checked pipeline pass; returns its wall. A traced pass
        returns the wall of its e2e span."""
        from clann_spark.pipeline import dedup_summary, run_dedup

        if tr is None:
            t = time.perf_counter()
            res = run_dedup(self.docs, self.cfg, pair_mode="auto")
            summary = dedup_summary(res).collect()[0]
            wall = time.perf_counter() - t
        else:
            from bench_layers import traced_pass

            summary, res, self.counts = traced_pass(tr, self.docs, self.cfg)
            wall = tr.walls("e2e")[-1]
        self.res = res
        self.clusters = res.clusters.toPandas()
        self.check(summary, res.verified.select("jaccard").toPandas()["jaccard"])
        return wall

    def release(self, spark) -> None:
        """Drop every cache of the last pass, so Spark's CacheManager
        cannot serve the next pass."""
        self.res.unpersist()
        spark.catalog.clearCache()

    def check(self, summary, jaccard) -> None:
        self.attempted += 1
        cl = dict(zip(self.clusters["doc_id"], self.clusters["cluster_id"]))
        a, b = self.gt_ids
        hit = np.fromiter((cl.get(x, x) == cl.get(y, y) for x, y in zip(a, b)), bool, len(a))
        recall = float(hit.mean()) if len(a) else 1.0
        self.recalls.append(recall)
        errs = []
        if recall < 0.99:
            errs.append(f"pair_recall {recall:.4f} < 0.99")
        below = int((~(jaccard >= self.cfg.tau)).sum())
        if below:
            errs.append(f"{below} verified pairs below tau (or NaN)")
        if summary["n_clusters"] != summary["n_docs"] - summary["n_removed"]:
            errs.append(f"n_clusters != n_docs - n_removed: {summary.asDict()}")
        if summary["n_docs"] != self.n_docs:
            errs.append(f"n_docs {summary['n_docs']} != {self.n_docs} loaded")
        if errs:
            self.failed += 1
            self.failures.extend(errs)


def layer_metrics(tr, wl, spark, seed: int, work: str) -> dict:
    """Per-layer numbers other than the REST ones, gathered while the
    last traced pass's caches are still live."""
    from bench_layers import LAYERS, ann_probe, census, distributed_cc, incremental_probe, kernel_probe

    e2e = tr.walls("e2e")
    m = {f"{l}.wall_s": statistics.median(tr.walls(l)) for l in LAYERS}
    m["pipeline.summary_wall_s"] = m.pop("pipeline.wall_s")
    m["trace.e2e_wall_s"] = statistics.median(e2e)
    m["trace.residual_s"] = statistics.median(
        w - sum(tr.walls(l)[i] for l in LAYERS) for i, w in enumerate(e2e)
    )
    m["candidates.pairs"] = wl.counts["pairs"]
    m["verify.useful_ratio"] = wl.counts["verified"] / max(1, wl.counts["pairs"])
    m["connected_components.edges"] = wl.counts["verified"]
    m.update(census(tr, wl.res))

    def attempt(name, fails, tries=1):
        wl.attempted += tries
        wl.failed += fails
        if fails:
            wl.failures.append(f"{name}: {fails} of {tries} failed")

    cc, same = distributed_cc(tr, wl.res, wl.clusters)
    m.update(cc)
    attempt("distributed connected components equal driver union-find", int(not same))
    text = wl.pages["text"]
    words = (text.str.count(" ") + (text.str.len() > 0)).to_numpy(dtype=np.int64)
    m.update(kernel_probe(tr, wl.cfg, words, seed))
    pm, tries, fails = incremental_probe(tr, spark, wl.cfg, seed, work)
    m.update(pm)
    attempt("incremental micro-batches", fails, tries)
    pm, tries, fails = ann_probe(tr, spark, seed, work)
    m.update(pm)
    attempt("knn_ivf_index equals knn_bruteforce", fails, tries)
    return m


def rest_metrics(groups: dict, n_traced: int) -> dict:
    """Per-layer task time, shuffle and spill from the status REST API,
    per traced pass."""
    from bench_layers import LAYERS

    zero = dict.fromkeys(("task_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
    per = lambda l, k: groups.get(l, zero)[k] / n_traced  # noqa: E731
    m = {f"{l}.spill_mb": per(l, "spill_mb") for l in LAYERS}
    m.update({
        "signatures.task_s": per("signatures", "task_s"),
        "candidates.task_s": per("candidates", "task_s"),
        "candidates.shuffle_write_mb": per("candidates", "shuffle_write_mb"),
        "verify.task_s": per("verify", "task_s"),
        "verify.shuffle_read_mb": per("verify", "shuffle_read_mb"),
        "knn.task_s": groups.get("knn", zero)["task_s"],
    })
    return m


def run(args, work: str) -> tuple[dict, dict, dict]:
    from bench_trace import RssSampler, Tracer, stage_metrics_by_group, stop_spark
    from clann_spark.config import DedupConfig
    from clann_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    extra = {
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch files inside the work dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }
    with RssSampler() as rss, ThreadPoolExecutor(1) as pool:
        # the crawl is generated while the JVM starts
        gen = pool.submit(Dedup, args.workload, args.seed, work)
        t = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t
        try:
            wl = gen.result()
            setup_s = start_s + wl.setup(spark, DedupConfig(signature_impl="fast"))
            marks = {"set_up": time.perf_counter() - T0}
            warm: list[float] = []
            for _ in range(WARMUP):
                warm.append(wl.run_pass(spark))
                wl.release(spark)
            marks["warmed"] = time.perf_counter() - T0
            walls: list[float] = []
            t_end = time.perf_counter() + args.seconds
            if not args.trace:
                peaks = []
                while time.perf_counter() < t_end or len(walls) < MIN_PASSES:
                    rss.reset()
                    walls.append(wl.run_pass(spark))
                    peaks.append(rss.peak_mb)
                    wl.release(spark)
                metrics = {
                    "setup_s": setup_s,
                    "docs_per_s": wl.n_docs / statistics.median(walls),
                    "pair_recall": min(wl.recalls),
                    "peak_rss_mb": statistics.median(peaks),
                }
            else:
                # untraced and traced passes alternate, so their
                # difference (trace.overhead_s) sees the same state
                tr, traced = Tracer(spark), []
                while True:
                    walls.append(wl.run_pass(spark))
                    wl.release(spark)
                    traced.append(wl.run_pass(spark, tr))
                    if time.perf_counter() >= t_end and len(traced) >= 2:
                        break
                    wl.release(spark)
                metrics = layer_metrics(tr, wl, spark, args.seed, work)
                groups = stage_metrics_by_group(spark)
                metrics.update(rest_metrics(groups, len(traced)))
                metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(walls)
                tr.write(
                    os.path.join(ROOT, ".bench_work", f"trace-{args.workload}-{args.seed}.json"),
                    metrics=metrics, stage_metrics_by_group=groups, traced_passes=len(traced),
                )
            marks["measured"] = time.perf_counter() - T0
        finally:
            stop_spark(spark)
    marks["stopped"] = time.perf_counter() - T0
    info = {
        "workload": args.workload, "seed": args.seed, "master": f"local[{cores}]",
        "driver_mem": DRIVER_MEM, "local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        "n_docs": wl.n_docs, "gen_s": wl.gen_s, "spark_start_s": start_s, "load_walls": wl.load_walls,
        "marks_s": marks, "warmup_walls": warm, "walls": walls, "failures": wl.failures[:10],
    }
    result = {"correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed}
    return result, metrics, info


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["dedup_sparse", "dedup_dense"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    import clann_spark  # noqa: F401  (fails here when run outside a checkout)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = work
    try:
        result, metrics, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info), file=sys.stderr)
    missing = [m["name"] for m in listed if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    result["metrics"] = {
        m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in listed
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
