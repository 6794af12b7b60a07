#!/usr/bin/env python
"""Benchmark harness (driver contract: prints ONE JSON line).

Headline: end-to-end near-duplicate detection over documents.parquet at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]: signatures -> band buckets -> candidate pairs
-> exact verify -> connected components -> summary.

Extra modes:
  SPARK_GRAFT_SCALING=1  also run the identical job in two fresh
      subprocesses at N and 4N cores (local[2] vs local[8], the
      sandbox stand-in for N vs 4N executors per BASELINE.md) and
      report throughputs + scaling efficiency (T_n/T_4n)/4. A no-Spark
      substrate control runs FIRST and gates the whole mode: when the
      host's own 2->8-process ceiling is < SPARK_GRAFT_CONTROL_GATE
      (default 0.9), no engine efficiency is recorded.
  --control  run ONLY the substrate control and print its JSON.
  (internal) --one-run MASTER  run one e2e pass and print seconds.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _e2e(spark, docs, cfg, pair_mode="auto"):
    from clann_spark.pipeline import dedup_summary, run_dedup

    res = run_dedup(docs, cfg, pair_mode=pair_mode)
    row = dedup_summary(res).collect()[0]
    # unpersist EVERY intermediate: Spark's CacheManager matches
    # semantically-equal plans, so a leftover cache would make a
    # repeated timing run read caches instead of executing
    res.unpersist()  # incl. the tracked grouped-bucket cache
    return row


def _scaled_docs(spark, factor: int):
    """Deterministically expand documents x factor for the scaling runs.

    Each replica mutates a rep-dependent 1-in-7 word stride (appending
    the rep id), which breaks ~5/7 of the 5-word shingles: replicas of
    the same doc sit well below tau, so the dup structure stays
    realistic instead of exploding into factor-sized exact-dup cliques.
    The expansion is a pure function of (doc_id, rep) — identical input
    for both parallelism levels, as the scaling protocol requires.
    """
    from pyspark.sql import functions as F

    # repartition BEFORE the expansion: the single-file parquet arrives
    # as 1 partition and would otherwise serialize generation + persist
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .repartition(max(64, spark.sparkContext.defaultParallelism * 2))
    )
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    return docs.crossJoin(reps).select(
        (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(split(text, ' '), "
            "(w, i) -> IF(i % 7 = rep % 7, concat(w, '_', rep), w)))"
        ).alias("text"),
    )


def _warn_if_thp_active() -> None:
    """Transparent hugepages make wall clocks on this class of VM swing
    2-3x between identical runs (khugepaged/kcompactd stalls — measured
    in rounds 1 and 3, BASELINE.md). The scaling protocol requires
    `echo never > /sys/kernel/mm/transparent_hugepage/enabled`; warn on
    stderr (not stdout — the driver parses stdout as JSON) if it is on."""
    try:
        with open("/sys/kernel/mm/transparent_hugepage/enabled") as f:
            if "[never]" not in f.read():
                print(
                    "WARNING: transparent hugepages enabled — timings will be "
                    "noisy (see BASELINE.md scaling protocol)",
                    file=sys.stderr,
                )
    except OSError:
        pass


def _control_task(args):
    """One fixed-size work unit for the substrate control (no Spark).

    compute: L2-resident multiply+min loop (the signature kernel's
    shape); bandwidth: 16 MB stream copies (the shuffle/cache shape).
    Total work is FIXED across parallelism levels — the control
    measures the host, not the code.
    """
    import numpy as np

    kind, seed = args
    rng = np.random.default_rng(seed)
    if kind == "compute":
        a = rng.random(32_768)  # 256 KB, L2-resident
        b = rng.random(32_768)
        acc = np.full_like(a, np.inf)
        for _ in range(8_000):
            np.minimum(a * b, acc, out=acc)
        return float(acc[0])
    a = rng.random(2_000_000)  # 16 MB stream
    s = 0.0
    for _ in range(200):
        c = a.copy()
        s += float(c[-1])
    return s


def substrate_control(reps: int = 3, procs_pair: tuple[int, int] = (2, 8)) -> dict:
    """No-Spark N->4N ceiling of THIS host, measured around the Spark
    timings (BASELINE.md round 3: a degraded shared host caps 2->8-core
    scaling of plain NumPy loops at 0.57-0.78; round 2's same control
    measured 1.06; round 4 additionally observed the host OSCILLATING
    between 0.97 and <0.7 on a minutes timescale). Fixed total work
    (32 tasks) over n vs 4n processes, alternating reps, min per level.
    The scaling protocol REFUSES to record an engine efficiency number
    for any N/4N pair not bracketed by passing controls (gate, don't
    caveat)."""
    import multiprocessing as mp

    lo, hi = procs_pair
    out: dict = {"procs_pair": [lo, hi]}
    for kind in ("compute", "bandwidth"):
        walls: dict[int, list[float]] = {lo: [], hi: []}
        tasks = [(kind, i) for i in range(32)]
        for _ in range(reps):
            for procs in (lo, hi):
                with mp.Pool(procs) as pool:
                    t0 = time.time()
                    pool.map(_control_task, tasks, chunksize=1)
                    walls[procs].append(round(time.time() - t0, 3))
        out[kind] = {
            "t_n": walls[lo],
            "t_4n": walls[hi],
            "efficiency": round(min(walls[lo]) / min(walls[hi]) / (hi / lo), 3),
        }
    # Gate on the COMPUTE control: DRAM bandwidth is shared by design
    # on a single box (8 streams can never scale 4x over 2 here), so
    # the bandwidth row is diagnostic context, not the gate. The
    # compute row measures whether 4n vCPUs deliver 4x the work of n —
    # exactly what the engine's strong-scaling pair needs from the host
    # (a capable window measures ~1.0; round-3's degraded windows
    # measured 0.57-0.78).
    out["efficiency"] = out["compute"]["efficiency"]
    return out


def _counted(df):
    """Materialize a DataFrame and return it (stage-timing helper)."""
    df.count()
    return df


def _master_cores(master: str) -> int:
    """Total executor cores of a local/local-cluster master string.

    Masters without a [n] spec (spark://, yarn) don't carry a core
    count — require SPARK_GRAFT_CONTROL_PROCS (\"n,4n\") instead of
    guessing."""
    if "[" not in master or "]" not in master:
        raise ValueError(
            f"cannot infer core count from master {master!r}; set "
            "SPARK_GRAFT_CONTROL_PROCS=n,4n to the executor-core totals "
            "for the substrate control"
        )
    spec = master[master.find("[") + 1 : master.find("]")]
    if "," in spec:  # local-cluster[workers,coresPerWorker,memMB]
        w, c = spec.split(",")[:2]
        return int(w) * int(c)
    return (os.cpu_count() or 32) if spec == "*" else int(spec)


def _clean_pair_efficiencies(
    adj: list[float], controls: list[float], gate: float
) -> list[float]:
    """Adjacent-pair efficiencies whose bracketing substrate controls
    (controls[i] before pair i, controls[i+1] after) BOTH pass the
    gate — the only pairs measured in a continuously-capable host
    window."""
    return [
        adj[i]
        for i in range(len(adj))
        if controls[i] >= gate and controls[i + 1] >= gate
    ]


def stage_run(master: str, factor: int) -> dict:
    """Per-stage wall attribution of the e2e dedup job (the structural
    scaling evidence: run at two masters, compare per-stage ratios).
    Warm discipline: one full untimed pass, clearCache, then each stage
    timed at a persist+count barrier. Prints ONE JSON line."""
    from clann_spark.config import DedupConfig
    from clann_spark.operators.candidates import candidate_pairs
    from clann_spark.operators.connected_components import connected_components
    from clann_spark.operators.signatures import compute_signatures, explode_bands
    from clann_spark.operators.verify import (
        prefilter_pairs_by_simhash,
        verify_pairs_from_text,
    )
    from clann_spark.session import get_spark

    spark = get_spark("bench-stages", master=master)
    cfg = DedupConfig(signature_impl="fast")
    docs = _scaled_docs(spark, factor).persist()
    n = docs.count()
    _e2e(spark, docs, cfg)  # full warm pass (JIT + shuffle machinery)
    spark.catalog.clearCache()
    docs = docs.persist()
    docs.count()

    stages: dict[str, float] = {"master": master, "n_docs": n}

    def timed(name, thunk):
        t0 = time.time()
        r = thunk()
        stages[name] = round(time.time() - t0, 2)
        return r

    sigs = compute_signatures(
        docs, cfg, include_shingles=False, include_sig=False, drop_text=True
    ).persist()
    timed("signatures", sigs.count)

    # operator CONSTRUCTION must happen inside the timed thunk:
    # connected_components resolves small graphs on the driver at call
    # time — timing only .count() would attribute that work to no stage
    # (candidate_pairs has no eager work since round 4, but keeping
    # construction inside the thunk stays correct either way)
    def _cands():
        c = candidate_pairs(explode_bands(sigs, cfg), cfg, "auto").persist()
        c.count()
        return c

    cands = timed("candidates", _cands)
    pre = timed(
        "prefilter",
        lambda: _counted(
            prefilter_pairs_by_simhash(cands, sigs, cfg.hamming_threshold).persist()
        ),
    )
    verified = timed(
        "verify", lambda: _counted(verify_pairs_from_text(pre, docs, cfg).persist())
    )
    clusters = timed("cc", lambda: _counted(connected_components(verified)))
    from pyspark.sql import functions as F

    assignments = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
    )
    timed(
        "assign_summary",
        lambda: assignments.agg(
            F.count("*"), F.countDistinct("cluster_id")
        ).collect(),
    )
    stages["stage_sum"] = round(
        sum(v for k, v in stages.items() if isinstance(v, float)), 2
    )
    spark.stop()
    return stages


def one_run(master: str, factor: int) -> float:
    """End-to-end run (JIT-warmed) used by the scaling comparison."""
    from clann_spark.config import DedupConfig
    from clann_spark.session import get_spark

    spark = get_spark("bench-one", master=master)
    # hamming_prefilter defaults to 'auto' (planner threshold) — the
    # prod J7 path, same as the reference's always-on sketch filter
    cfg = DedupConfig(signature_impl="fast")
    docs = _scaled_docs(spark, factor).persist()
    docs.count()  # materialize the input so we time the pipeline, not gen
    if os.environ.get("SPARK_GRAFT_WARM") == "1":
        # warm protocol: one full untimed pass first — JVM JIT + shuffle
        # machinery amortize on a long-running cluster; the timed second
        # pass is the steady-state throughput. clearCache() drops every
        # intermediate cache (CacheManager would otherwise serve
        # semantically-equal plans from memory); only the input is
        # re-materialized before timing.
        _e2e(spark, docs, cfg)
        spark.catalog.clearCache()
        docs = docs.persist()
        docs.count()
    else:
        _e2e(spark, docs.limit(500), cfg)  # JIT/codegen warmup (cheap)
    t0 = time.time()
    _e2e(spark, docs, cfg)
    dt = time.time() - t0
    spark.stop()
    return dt


def _code_sha() -> str:
    """Short git SHA of the repo at measurement time — recorded per
    clean scaling pair so the headline can be scoped to the code that
    actually produced it (pairs measured on superseded code stay in the
    history for provenance but are labeled)."""
    try:
        return subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def _code_fingerprint() -> str:
    """Content hash of the MEASURED code (clann_spark/**/*.py +
    bench.py). Unlike the git SHA, commits that touch only docs or
    evidence JSON don't change it, so the headline stays scoped to the
    pairs produced by the engine that is actually in the tree."""
    root = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    paths = sorted(
        glob.glob(os.path.join(root, "clann_spark", "**", "*.py"),
                  recursive=True)
    ) + [os.path.join(root, "bench.py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        h.update(b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return "fp-" + h.hexdigest()[:10]


# The bench.py functions that DEFINE the measurement: the e2e job the
# scaling pair times, the deterministic input expansion, and the
# control/gate protocol that decides which pairs count. Record/report
# plumbing (history merge, headline scoping, compaction) is excluded
# on purpose — a commit that only changes how evidence is REPORTED does
# not change what was MEASURED, so it must not split the evidence scope.
_MEASURED_BENCH_ROOTS = (
    "one_run",
    "_e2e",
    "_scaled_docs",
    "substrate_control",
    "scaling_protocol",
)


def _measured_bench_hash(source: str) -> str:
    """sha256 over the source of the measurement-side bench functions
    (the _MEASURED_BENCH_ROOTS closure: each root plus every top-level
    bench function its body mentions, transitively)."""
    import ast
    import re

    funcs: dict[str, str] = {}
    tree = ast.parse(source)
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            funcs[node.name] = ast.get_source_segment(source, node) or ""
    seen: set[str] = set()
    stack = [r for r in _MEASURED_BENCH_ROOTS if r in funcs]
    while stack:
        name = stack.pop()
        if name in seen:
            continue
        seen.add(name)
        body = funcs[name]
        for other in funcs:
            if other not in seen and re.search(
                rf"\b{re.escape(other)}\b", body
            ):
                stack.append(other)
    h = hashlib.sha256()
    for name in sorted(seen):
        h.update(name.encode())
        h.update(b"\0")
        h.update(funcs[name].encode())
        h.update(b"\0")
    return h.hexdigest()


def _measured_fp(sha: str | None = None) -> str | None:
    """Fingerprint of the MEASURED code only: the clann_spark git tree
    plus the measurement-side bench.py slice (_measured_bench_hash).

    sha=None fingerprints the working tree (what a measurement taken
    right now would run); a sha fingerprints that commit, so historical
    pairs can be resolved to 'same engine or not' through git even
    though later commits changed record/report logic or docs. Returns
    None when the sha cannot be resolved."""
    root = os.path.dirname(os.path.abspath(__file__))

    def _git(*args: str) -> str | None:
        try:
            p = subprocess.run(
                ["git", "-C", root, *args],
                capture_output=True, text=True, timeout=10,
            )
            return p.stdout if p.returncode == 0 else None
        except Exception:
            return None

    if sha is None:
        dirty = _git("status", "--porcelain", "--", "clann_spark")
        if dirty is None:
            return None
        if dirty.strip():
            # uncommitted engine changes: content-hash the working
            # files — never aliases to any commit's tree
            h = hashlib.sha256()
            for p in sorted(
                glob.glob(os.path.join(root, "clann_spark", "**", "*.py"),
                          recursive=True)
            ):
                h.update(os.path.relpath(p, root).encode())
                h.update(b"\0")
                with open(p, "rb") as f:
                    h.update(f.read())
            tree = "dirty-" + h.hexdigest()
        else:
            tree = (_git("rev-parse", "HEAD:clann_spark") or "").strip()
            if not tree:
                return None
        with open(os.path.join(root, "bench.py")) as f:
            src = f.read()
    else:
        tree = (_git("rev-parse", f"{sha}:clann_spark") or "").strip()
        src = _git("show", f"{sha}:bench.py")
        if not tree or src is None:
            return None
    return "mfp-" + hashlib.sha256(
        (tree + "\0" + _measured_bench_hash(src)).encode()
    ).hexdigest()[:10]


_MEASURED_FP_CACHE: dict[str, str | None] = {}


def _measured_fp_cached(sha: str) -> str | None:
    if sha not in _MEASURED_FP_CACHE:
        _MEASURED_FP_CACHE[sha] = _measured_fp(sha)
    return _MEASURED_FP_CACHE[sha]


def _compact_scaling(rec: dict) -> dict:
    """Slim summary of a scaling record/result for the ONE-LINE headline
    JSON. The driver captures only the tail of stdout, so the headline
    line must stay short — full provenance lives in SCALING_RESULT.json
    (round 4's headline embedded the whole blob and overflowed the
    driver's parse window: BENCH_r04 `parsed: null`)."""
    keys = (
        "efficiency_n_to_4n", "n_clean_pairs", "clean_pair_efficiencies",
        "headline_scope", "recorded_at", "gated", "forced",
        "docs_per_sec_n", "docs_per_sec_4n", "n_docs", "masters",
    )
    return {k: rec[k] for k in keys if k in rec}


def main() -> None:
    from clann_spark.config import DedupConfig
    from clann_spark.session import get_spark

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    _warn_if_thp_active()
    # the scaling protocol runs FIRST, before the headline queries load
    # all cores: its gate control must see the host as the engine pair
    # will, not one heated by ten minutes of bench traffic. It must
    # never take the per-query headline down with it — the driver
    # contract is the ONE parseable JSON line, every round.
    scaling = None
    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        try:
            scaling = scaling_protocol(_base_doc_count())
        except Exception as e:  # pragma: no cover - defensive
            scaling = {"error": f"{type(e).__name__}: {e}"}
    spark = get_spark("bench", master=f"local[{CPUS}]")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    n_docs = docs.count()

    queries: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.time()
        fn()
        queries[name] = round(time.time() - t0, 3)

    # S7 config source: an optional JSON config file overrides the
    # default prod config (reference: benches/configs.json)
    cfg_file = os.environ.get("SPARK_GRAFT_CONFIG")
    if cfg_file:
        from clann_spark.config import load_configs_from_file

        cfg_fast = load_configs_from_file(cfg_file)[0]
    else:
        # J7 prefilter rides on the 'auto' default (planner threshold)
        cfg_fast = DedupConfig(signature_impl="fast")
    # md5 expr path (the correctness-gate config; prefilter opted out)
    cfg_oracle = DedupConfig(hamming_prefilter=None)

    from clann_spark.entry_queries import q_knn_cosine_top5
    from clann_spark.operators.candidates import candidate_pairs
    from clann_spark.operators.signatures import compute_signatures, explode_bands
    from clann_spark.operators.verify import verify_pairs

    # warmup: one untimed pass on a slice so JIT/codegen/Arrow init and
    # shuffle-service warmth don't land on the first timed query
    _e2e(spark, docs.limit(500), cfg_fast)

    timed("e2e_dedup", lambda: _e2e(spark, docs, cfg_fast))
    timed("e2e_dedup_md5", lambda: _e2e(spark, docs, cfg_oracle))

    sigs = compute_signatures(docs, cfg_fast, drop_text=True).persist()
    timed("signatures", lambda: sigs.count())
    cands = candidate_pairs(explode_bands(sigs, cfg_fast), cfg_fast, "auto")

    def _verify_count():
        # verify_pairs persists the candidate pair list; release it so a
        # repeated timing reads no leftover cache
        from clann_spark.session import unpersist_intermediates

        v = verify_pairs(cands, sigs, cfg_fast)
        n = v.count()
        unpersist_intermediates(v)
        return n

    timed("candidates_verify", _verify_count)
    timed("knn_cosine_top5", lambda: q_knn_cosine_top5(spark, SF_DIR).count())

    from clann_spark.operators.embedding_lsh import embedding_lsh_pairs
    from clann_spark.operators.simhash_dedup import simhash_near_pairs

    timed(
        "simhash_pairs",
        lambda: simhash_near_pairs(
            sigs.select("doc_id", "simhash"), max_hamming=4
        ).count(),
    )
    # production near-dup regime (tau=0.9): the planner provisions a
    # selective plan (the gate query's tau=0.4 setting is the
    # degenerate everything-collides regime by design — see its
    # docstring — and would benchmark brute force, not LSH)
    from clann_spark.planner import plan_hyperplane_banding

    eplan = plan_hyperplane_banding(0.9, target_recall=0.999, max_bits=1024)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    timed(
        "embedding_lsh_pairs",
        lambda: embedding_lsh_pairs(
            emb, tau=0.9, bands=eplan.bands, rows_per_band=eplan.rows_per_band,
            verify_impl="fast",
        ).count(),
    )
    sigs.unpersist()
    spark.stop()

    out = {
        "metric": "e2e dedup wall seconds (fast prod config) at sf; "
        "docs_per_sec + scaling in extras",
        "value": queries["e2e_dedup"],
        "unit": "sec",
        "queries": queries,
        "sf": float(sf),
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / queries["e2e_dedup"], 1),
    }

    if scaling is not None:
        out["scaling"] = _compact_scaling(scaling) if "error" not in scaling else scaling
    # a clean (control-gated) efficiency recorded earlier by
    # `bench.py --scaling-only` — surface a COMPACT summary so the
    # per-round bench JSON carries the evidence without blowing the
    # one-line budget; full provenance stays in SCALING_RESULT.json
    here = os.path.dirname(os.path.abspath(__file__))
    for key, fname in (
        ("scaling_recorded", "SCALING_RESULT.json"),
        # the 1-core-per-executor N vs 4N protocol keeps its own
        # history file (separate executor shape, separate median)
        ("scaling_recorded_1to4", "SCALING_RESULT_1TO4.json"),
    ):
        rec = os.path.join(here, fname)
        if os.path.exists(rec):
            try:
                with open(rec) as f:
                    out[key] = _compact_scaling(json.load(f))
            except (OSError, json.JSONDecodeError):
                pass

    print(json.dumps(out))


def _merge_scaling_history(result: dict | None, rec_path: str) -> dict | None:
    """Fold this run's clean bracketed pairs into the persisted
    cross-window history (SCALING_RESULT.json).

    One protocol run rarely catches more than one continuously-quiet
    window on this host, so single-run medians are 1-2 samples; the
    honest aggregate is the median over EVERY clean pair ever recorded,
    each measured inside its own control-passing bracket. Returns the
    record to persist, or None when there is still no clean evidence.

    result=None recomputes the headline scope over the existing history
    only (--rescope): no pair is added and latest_run is preserved."""
    history: list[dict] = []
    prev: dict = {}
    if os.path.exists(rec_path):
        with open(rec_path) as f:
            prev = json.load(f)
        history = prev.get("clean_pairs_history") or [
            # migrate a pre-history record: efficiencies only
            {"efficiency": e, "recorded_at": prev.get("recorded_at")}
            for e in prev.get("clean_pair_efficiencies", [])
        ]
    now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    sha = _code_sha()
    fp = _code_fingerprint()
    adj = (result or {}).get("adjacent_pair_efficiencies", [])
    controls = (result or {}).get("bracketing_controls", [])
    gate = (result or {}).get("control_gate", 0.9)
    reps = (result or {}).get("reps", {})
    for i, e in enumerate(adj):
        if i + 1 < len(controls) and controls[i] >= gate and controls[i + 1] >= gate:
            history.append(
                {
                    "efficiency": e,
                    "t_n": reps.get("t_n", [None] * (i + 1))[i],
                    "t_4n": reps.get("t_4n", [None] * (i + 1))[i],
                    "controls": [controls[i], controls[i + 1]],
                    "n_docs": result.get("n_docs"),
                    "masters": result.get("masters"),
                    "recorded_at": now,
                    "code_sha": sha,
                    "code_fp": fp,
                    "measured_fp": _measured_fp(None),
                }
            )
    if not history:
        return None
    # entries later found contaminated (e.g. a concurrent job that the
    # before/after brackets could not see) stay in the history for
    # provenance but are excluded from the headline
    clean = [h for h in history if not h.get("contaminated")]
    if not clean:
        return None
    # Headline scope: pairs measured on superseded code describe a
    # pipeline that no longer exists. A pair counts as current-code
    # evidence when the MEASURED code it ran — the clann_spark tree plus
    # the measurement-side bench.py slice — is identical to what is in
    # the tree now. That identity is resolved through git from the
    # entry's recorded commit (_measured_fp), so commits that only
    # touched docs, evidence JSON, or the record/report plumbing do not
    # split the scope; entries whose commit cannot be resolved fall back
    # to exact fingerprint/SHA equality. With >=2 current pairs the
    # headline is their median; otherwise it spans every clean pair and
    # the version mix is surfaced. (Entries recorded before any
    # provenance field existed count as 'pre-r5'.)
    def _key(h: dict) -> str:
        return h.get("code_fp") or h.get("code_sha") or "pre-r5"

    cur_mfp = _measured_fp(None)

    def _is_current(h: dict) -> bool:
        entry_sha = h.get("code_sha")
        if cur_mfp and entry_sha and entry_sha != "unknown":
            entry_mfp = h.get("measured_fp") or _measured_fp_cached(entry_sha)
            if entry_mfp is not None:
                return entry_mfp == cur_mfp
        return _key(h) in (fp, sha)

    current = [h for h in clean if _is_current(h)]
    if len(current) >= 2:
        scoped = current
        scope = (
            f"current measured code {cur_mfp or fp} @ {sha} "
            f"(n={len(current)})"
        )
    else:
        shas = sorted({_key(h) for h in clean})
        scoped, scope = clean, f"all recorded code versions (mix: {shas})"
    effs = sorted(h["efficiency"] for h in scoped)
    return {
        "efficiency_n_to_4n": round(statistics.median(effs), 3),
        "headline_scope": scope,
        "n_clean_pairs": len(effs),
        "clean_pair_efficiencies": effs,
        "all_clean_pair_efficiencies": sorted(h["efficiency"] for h in clean),
        "clean_pairs_history": history,
        "recorded_at": now,
        "protocol": "bench.py --scaling-only (control-gated, "
        "cross-window median of clean bracketed pairs; headline scoped "
        "to the current measured code — clann_spark tree + the "
        "measurement-side bench slice, resolved through git — when >=2 "
        "of its pairs exist)",
        "latest_run": result if result is not None else prev.get("latest_run"),
    }


def _base_doc_count() -> int:
    """Row count of the base documents table without starting Spark
    (the scaling protocol must run before any JVM exists). dataset()
    handles both a single parquet file and a part-file directory."""
    import pyarrow.dataset as pads

    return pads.dataset(f"{SF_DIR}/documents.parquet", format="parquet").count_rows()


def scaling_protocol(n_docs: int) -> dict:
    """The control-gated N->4N scaling measurement (BASELINE.md).

    Runs the substrate control FIRST — callers must invoke this BEFORE
    any heavy Spark work (the round-4 protocol run measured the host
    passing at 0.93 standalone, then 0.80 immediately after the
    headline bench had loaded all 32 cores: the headline itself can
    close the quiet window the gate is looking for)."""
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "400"))
    n_scaled = n_docs * factor
    scaling: dict = {"n_docs": n_scaled, "scale_factor": factor}
    # N vs 4N EXECUTOR CORES: 1 worker JVM x 2 cores vs 4 worker
    # JVMs x 2 cores (local-cluster = separate executor JVMs with
    # their own heaps — the sandbox's closest stand-in for N vs 4N
    # executors; see BASELINE.md). Override with
    # SPARK_GRAFT_SCALING_MASTERS="masterN;master4N".
    masters = os.environ.get(
        "SPARK_GRAFT_SCALING_MASTERS",
        "local-cluster[1,2,8192];local-cluster[4,2,8192]",
    ).split(";")
    procs_override = os.environ.get("SPARK_GRAFT_CONTROL_PROCS")
    procs_pair = (
        tuple(int(p) for p in procs_override.split(","))
        if procs_override
        else (_master_cores(masters[0]), _master_cores(masters[1]))
    )
    # GATE: measure the host's own no-Spark n->4n-process ceiling
    # FIRST, at the same core counts the engine pair will use. If
    # the substrate can't scale (shared-host throttling, BASELINE.md
    # round 3), recording an engine efficiency would alias host
    # noise as engine behavior — refuse instead.
    gate = float(os.environ.get("SPARK_GRAFT_CONTROL_GATE", "0.9"))
    control = substrate_control(
        reps=int(os.environ.get("SPARK_GRAFT_CONTROL_REPS", "3")),
        procs_pair=procs_pair,
    )
    scaling["substrate_control"] = control
    scaling["control_gate"] = gate
    if control["efficiency"] < gate and os.environ.get(
        "SPARK_GRAFT_SCALING_FORCE"
    ) != "1":
        scaling["efficiency_n_to_4n"] = None
        scaling["gated"] = (
            f"substrate control {control['efficiency']} < gate {gate}: "
            "host cannot evidence engine scaling in this window; see "
            "BASELINE.md 'Scaling efficiency' for the structural "
            "fallback (per-stage table + plan-identity pins). Re-run "
            "in a quiet window or set SPARK_GRAFT_SCALING_FORCE=1."
        )
        return scaling
    # warm (steady-state) discipline by default: each level times
    # the second full pass after clearCache — cold-JIT constants
    # otherwise dominate the 4N level (BASELINE.md)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_WARM", "1")
    scaling["discipline"] = "warm" if env["SPARK_GRAFT_WARM"] == "1" else "cold"
    # This VM's wall clocks swing 2-3x with host tenancy AND the
    # quiet/degraded state flips on a minutes timescale (round 4
    # watched the control pass at 0.97, then an identical engine
    # run 3 minutes later take 2.6x longer). So: ALTERNATING
    # adjacent (t_n, t_4n) pairs, each BRACKETED by a 1-rep
    # substrate control; only pairs whose both surrounding controls
    # pass the gate are recorded as clean evidence.
    reps = int(env.get("SPARK_GRAFT_SCALING_REPS", "2"))
    runs: dict[str, list[float]] = {"t_n": [], "t_4n": []}
    controls = [control["efficiency"]]
    for _ in range(reps):
        for master, key in ((masters[0], "t_n"), (masters[1], "t_4n")):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one-run", master, str(factor)],
                capture_output=True, text=True, env=env,
            )
            runs[key].append(float(p.stdout.strip().splitlines()[-1]))
        controls.append(
            substrate_control(reps=1, procs_pair=procs_pair)["efficiency"]
        )
    scaling["t_n"] = min(runs["t_n"])
    scaling["t_4n"] = min(runs["t_4n"])
    scaling["reps"] = runs
    scaling["masters"] = masters
    scaling["bracketing_controls"] = controls
    # adjacent-in-time pairs: each rep's N run is immediately
    # followed by its 4N run, so per-rep ratios can't pair a quiet
    # t_n with a quiet t_4n from a different tenancy window
    ratio = procs_pair[1] / procs_pair[0]
    adj = [
        round(tn / t4 / ratio, 3)
        for tn, t4 in zip(runs["t_n"], runs["t_4n"])
    ]
    scaling["adjacent_pair_efficiencies"] = adj
    clean = _clean_pair_efficiencies(adj, controls, gate)
    scaling["clean_pair_efficiencies"] = clean
    if not clean and os.environ.get("SPARK_GRAFT_SCALING_FORCE") == "1":
        # FORCE promised a number even under a degraded substrate: report
        # the median over ALL adjacent pairs, marked forced so it can
        # never be mistaken for (or persisted as) clean evidence
        scaling["forced"] = True
        clean = adj
    if clean:
        # median of clean pairs is the headline; the min-based
        # aggregate stays for continuity with rounds 1-3
        scaling["efficiency_n_to_4n"] = round(statistics.median(clean), 3)
        scaling["efficiency_min_based"] = round(
            scaling["t_n"] / scaling["t_4n"] / ratio, 3
        )
    else:
        scaling["efficiency_n_to_4n"] = None
        scaling["gated"] = (
            "no N/4N pair was bracketed by two passing substrate "
            f"controls (controls: {controls}, gate {gate}) — host "
            "degraded mid-protocol; engine walls recorded above for "
            "context only."
        )
    scaling["docs_per_sec_n"] = round(n_scaled / scaling["t_n"], 1)
    scaling["docs_per_sec_4n"] = round(n_scaled / scaling["t_4n"], 1)
    return scaling


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--one-run":
        print(one_run(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 20))
    elif len(sys.argv) >= 2 and sys.argv[1] == "--control":
        print(json.dumps(substrate_control()))
    elif len(sys.argv) >= 2 and sys.argv[1] == "--scaling-only":
        # quiet-window retries: the full protocol (control-gated,
        # bracketed pairs) without paying the ~10-min headline bench.
        # A CLEAN result (efficiency recorded, i.e. bracketed by
        # passing controls) is persisted to SCALING_RESULT.json so the
        # headline bench can report it as `scaling_recorded`.
        # SPARK_GRAFT_SCALING_RECORD names an alternate record file so
        # different executor-shape protocols (e.g. the 1-core-per-
        # executor N vs 4N pair) keep separate histories — their pair
        # efficiencies must never blend into one median.
        _warn_if_thp_active()
        result = scaling_protocol(_base_doc_count())
        if not result.get("forced"):
            rec = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                os.environ.get("SPARK_GRAFT_SCALING_RECORD", "SCALING_RESULT.json"),
            )
            merged = _merge_scaling_history(result, rec)
            if merged is not None:
                with open(rec, "w") as f:
                    json.dump(merged, f, indent=1)
        print(json.dumps(result))
    elif len(sys.argv) >= 2 and sys.argv[1] == "--rescope":
        # recompute the persisted records' headline scope over their
        # existing pair history (no new measurement): used after the
        # scoping logic itself changes, so records written by an older
        # bench.py reflect the current scope resolution
        for fname in sys.argv[2:] or [
            "SCALING_RESULT.json", "SCALING_RESULT_1TO4.json"
        ]:
            rec = os.path.join(os.path.dirname(os.path.abspath(__file__)), fname)
            if not os.path.exists(rec):
                continue
            merged = _merge_scaling_history(None, rec)
            if merged is not None:
                with open(rec, "w") as f:
                    json.dump(merged, f, indent=1)
                print(json.dumps({fname: _compact_scaling(merged)}))
    elif len(sys.argv) >= 3 and sys.argv[1] == "--stages":
        print(json.dumps(
            stage_run(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 400)
        ))
    else:
        main()
