"""The workload table, the metric catalogue and the run report."""

from __future__ import annotations

import hashlib
import json
import os
import sys

from corpus_curation import CorpusCuration
from harness import median, tail_percentile
from market_ingest import MarketIngest
from query_mix import REPORTS, QueryMix

WORKLOADS = {w.name: w for w in (MarketIngest, CorpusCuration, QueryMix)}

# End-to-end metrics, defined on every workload (see NOTES.md for how each
# maps onto the workload-specific names the report lines print).
E2E_UNITS = {"setup_s": "s", "op_ms_p50": "ms", "work_per_s": "1/s"}
E2E = set(E2E_UNITS)

_CURATION_OPS = [
    "text.quality_score",
    "text.model_quality_classifier",
    "spans.remove_duplicate_spans",
    "dedup.minhash_lsh_pairs",
    "dedup.connected_components_auto",
    "sampling.train_val_test_split",
]

# Per-layer metrics. Every workload reports all of them; a layer the
# workload does not call reads 0, which is the prediction for it.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.build_s": "s",
    "session.warmup_s": "s",
    "trace.op_ms_p50": "ms",
    "trace.overhead_ratio": "ratio",
    "market_source.read_s": "s",
    "market_source.tasks": "count",
    "pipeline.run_batch_s": "s",
    "storage.merge_s": "s",
    "storage.merge_jobs": "count",
    "storage.merge_stages": "count",
    "storage.merge_tasks": "count",
    "storage.rows_rewritten_per_row": "ratio",
    "storage.bytes_written_per_row": "B",
    "storage.live_files": "count",
    "storage.stored_bytes_per_row": "B",
    "storage.read_table_ms": "ms",
    "storage.files_kept_ratio": "ratio",
    **{f"report.{r}_{s}": u for r in REPORTS for s, u in (("ms", "ms"), ("jobs", "count"))},
    "plans.curation_pipeline_v2_s": "s",
    "plans.curation_pipeline_v2_jobs": "count",
    **{f"{op}_{s}": u for op in _CURATION_OPS
       for s, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"))},
    "util.persisted_rdds": "count",
}


def run_metrics(wl, loop: dict) -> dict:
    """End-to-end metrics of one timed loop, plus the workload's own names
    for them (printed in the report lines).

    ``op_ms_p50`` is the median operation; ``work_per_s`` is the work done
    over the total time of the timed operations, so a slow operation that
    leaves the median alone still moves it.
    """
    op_s = loop["op_s"]
    p50 = median(op_s)
    loop_rate = loop["units"] / loop["loop_s"]
    out = {"op_ms_p50": 1000 * p50, "work_per_s": loop_rate}
    if wl.name == "market_ingest":
        out["batch_commit_s_p50"] = (p50, "s")
        out["ingest_rows_per_s"] = (loop_rate, "rows/s")
        out["stored_bytes_per_row"] = (wl.stored_bytes_per_row(), "B")
    elif wl.name == "query_mix":
        ms = [1000 * s for s in op_s]
        out["lookup_ms_p50"] = (median(ms), "ms")
        tail = tail_percentile(ms)
        if tail is not None:
            out[f"lookup_ms_p{tail[0]}"] = (tail[1], "ms")
        out["queries_per_s"] = (loop_rate, "1/s")
        out["stored_bytes_per_row"] = (wl.stored_bytes_per_row(), "B")
    else:
        out["curation_docs_per_s"] = (wl.n_docs / p50, "docs/s")
    return out


class Report:
    """Correctness verdict, operation counts and the human-readable lines."""

    def __init__(self, workload: str):
        self.workload = workload
        self.correct = True
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, problem: str) -> None:
        if not ok:
            self.correct = False
            print(f"perfbench: CHECK FAILED: {problem}", file=sys.stderr)

    def check_counts(self, out_dir: str, args, counts: dict) -> None:
        """Count metrics must repeat exactly between runs with one seed: the
        first run records them, every later run compares against them."""
        here = os.path.dirname(os.path.abspath(__file__))
        digest = hashlib.sha256()
        for name in sorted(os.listdir(here)):
            if name.endswith(".py"):
                with open(os.path.join(here, name), "rb") as fh:
                    digest.update(fh.read())
        path = os.path.join(
            out_dir,
            f"counts-{self.workload}-seed{args.seed}-trace{args.trace}"
            f"-{digest.hexdigest()[:12]}.json",
        )
        now = json.loads(json.dumps(counts, sort_keys=True))
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                before = json.load(fh)
            self.check(before == now, f"count metrics differ from an earlier run with "
                       f"seed {args.seed}: {before} vs {now}")
        else:
            with open(path, "w", encoding="utf-8") as fh:
                json.dump(now, fh, sort_keys=True)

    def lines(self, *, setup_s, start_s, build_s, warm_ops, warmup_s, op_s, run,
              trace) -> None:
        w = self.workload
        print(f"{w} setup_s = {setup_s:.3f} s (session {start_s:.3f} s, "
              f"build {build_s:.3f} s)")
        print(f"{w} warmup_s = {warmup_s:.3f} s over {len(warm_ops)} operations ("
              + ", ".join(f"{s:.3f}" for s in warm_ops) + " s)")
        print(f"{w} timed operations = {len(op_s)} ("
              + ", ".join(f"{s:.3f}" for s in op_s) + " s)")
        for name, val in run.items():
            if isinstance(val, tuple):
                print(f"{w} {name} = {val[0]:.4f} {val[1]}")
            else:
                print(f"{w} {name} = {val:.4f} {E2E_UNITS[name]}")
        print(f"{w} attempted = {self.attempted} failed = {self.failed} "
              f"correct = {self.correct}" + (" (traced run)" if trace else ""))
