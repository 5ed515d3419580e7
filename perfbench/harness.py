"""Session pinning, timing statistics and the span tracer.

The tracer times the benchmark's own calls into the engine's public
functions; nothing inside the engine is instrumented. Each span also carries
the Spark jobs, stages and tasks its call ran, read from the public
``statusTracker`` after tagging the call with a job group.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

# Task threads of the pinned session: at most 4, and one fewer than the CPUs
# this process may run on (``get_spark`` would otherwise default to 32). The
# spare CPU runs the driver's planner, JIT compiler and GC threads and the
# Python driver: on 4 CPUs, local[3] ran every workload as fast as local[4]
# or faster.
MAX_CORES = 4
SHUFFLE_PARTITIONS = 4


def pinned_cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0)) - 1))


def start_session(work_dir: str, checkout: str):
    """Start the one pinned Spark session of a run.

    Everything Spark and its Python workers write goes under ``work_dir``.
    ``PYTHONPATH`` must name the checkout before the JVM starts: Python
    workers unpickle the market DataSource by module path.
    """
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM spark-submit starts: no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    from global_market_index_etl_spark.session import get_spark

    k = pinned_cores()
    return get_spark(
        app_name="perfbench",
        master=f"local[{k}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            # the whole heap from the start: no resizing while timing
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, which exits once its stdin closes
    (its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


# ------------------------------------------------------------------ stats


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], p: int) -> float:
    """The p-th percentile (``statistics.quantiles`` inclusive method)."""
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=100, method="inclusive")[p - 1])


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """The highest of p90/p75/p50 that has at least ten samples beyond it."""
    for p in (90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, percentile(xs, p)
    return None


# ----------------------------------------------------------------- tracing


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under job group ``group``.

    Waits for the listener bus first: the status store is fed
    asynchronously, and reading it early under-counts.
    """
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            # a stage whose shuffle output was reused is listed but skipped
            if stage is not None and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


class Tracer:
    """In-memory spans around the benchmark's calls into the engine.

    A span records its name, start, end, parent and the operation (tick,
    query or job) it belongs to, plus the jobs/stages/tasks that ran under
    it and not under a child span. Disabled, ``span`` costs one branch.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.bookkeeping_s = 0.0  # seconds spent reading job counts at span exits

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        group = rec["group"]
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(job_counts(self.sc, group))
            self.bookkeeping_s += time.perf_counter() - rec["end"]
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the time its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def totals(self, name: str) -> list[dict]:
        """Per span named ``name``: its duration and the counts of the span
        and all its descendants."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)

        def agg(s: dict) -> dict[str, int]:
            out = {k: s[k] for k in ("jobs", "stages", "tasks")}
            for c in kids.get(s["id"], []):
                for k, v in agg(c).items():
                    out[k] += v
            return out

        return [
            {"seconds": s["end"] - s["start"], **agg(s)}
            for s in self.spans
            if s["name"] == name
        ]

    def repeat_counts(self, key) -> tuple[dict[str, list[int]], list[str]]:
        """Jobs, stages and tasks per class of span, ``key(span)`` naming the
        class (``None`` skips the span). Every span of a class must have run
        the same counts: returns class → [jobs, stages, tasks] and one
        problem per class whose spans disagree."""
        seen: dict[str, set] = {}
        for s in self.spans:
            k = key(s)
            if k is not None:
                seen.setdefault(k, set()).add((s["jobs"], s["stages"], s["tasks"]))
        problems = [f"spans {k} ran differing job/stage/task counts: {sorted(v)}"
                    for k, v in sorted(seen.items()) if len(v) > 1]
        return {k: list(min(v)) for k, v in sorted(seen.items())}, problems

    def dump(self, path: str) -> None:
        import json

        t0 = self.spans[0]["start"] if self.spans else 0.0
        self_t = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                row = {k: v for k, v in s.items() if k != "group"}
                row["start"] = s["start"] - t0
                row["end"] = s["end"] - t0
                row["self_s"] = self_t[s["id"]]
                fh.write(json.dumps(row) + "\n")
