"""Tracing and resource sampling for the benchmark.

Spans are recorded in the benchmark's own code around calls into the
program's public functions. Each layer span tags its Spark jobs with
``setJobGroup(<layer>)``, so task time, shuffle bytes and spill can be
read per layer from Spark's status REST API, which only the traced run
turns on. Everything stays in memory until ``Tracer.write``.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; spans that name a job group tag the
    Spark jobs they run with it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {
            "name": name,
            "group": group,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.perf_counter() - self.t0,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if group is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if group is not None:
                self.sc.setJobGroup("bench", "benchmark bookkeeping")

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_metrics_by_group(spark, settle_s: float = 10.0) -> dict[str, dict]:
    """Per job group: summed executor run time, shuffle read/write and
    spill over the completed stages of the group's jobs, read from the
    driver's status REST API (spark.ui.enabled must be on).

    The status store is fed asynchronously by the listener bus, so
    this polls until every job has finished and two reads agree."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    prev = None
    while True:
        jobs = _get_json(f"{base}/jobs")
        stages = _get_json(f"{base}/stages")
        snap = (len(jobs), sum(s["numCompleteTasks"] for s in stages))
        running = any(j["status"] == "RUNNING" for j in jobs)
        if (snap == prev and not running) or time.monotonic() > deadline:
            break
        prev = snap
        time.sleep(0.3)
    by_stage = {s["stageId"]: s for s in stages if s["status"] == "COMPLETE"}
    out: dict[str, dict] = {}
    seen: dict[str, set] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if g is None:
            continue
        acc = out.setdefault(
            g, {"task_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        )
        for sid in j["stageIds"]:
            s = by_stage.get(sid)
            if s is None or sid in seen.setdefault(g, set()):
                continue
            seen[g].add(sid)
            acc["task_s"] += s["executorRunTime"] / 1e3
            acc["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
            acc["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
            acc["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 1e6
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root`, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root: int) -> int:
    """RSS of every descendant of `root`: the driver JVM and the Python
    workers it forks."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, make the driver JVM exit, and wait until every
    process it started (the JVM, Python workers) has ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        # the JVM exits once its stdin pipe closes
        gw.proc.stdin.close()
        gw.proc.wait(timeout=timeout_s)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        # reap exited children; a live one keeps the loop going
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if not descendants(os.getpid()):
            return
        time.sleep(0.2)
    raise RuntimeError(f"child processes still running: {descendants(os.getpid())}")


class RssSampler:
    """Background thread sampling the summed RSS of this process's
    descendants; ``peak_mb`` is the largest sample since the last
    ``reset``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self.peak = 0

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6
