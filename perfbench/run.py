"""The benchmark's one command.

    python3 perfbench/run.py --workload market_ingest --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. It starts one pinned Spark session,
builds the workload's seeded inputs, warms up untimed, runs the workload
closed-loop for ``--seconds``, checks the outputs, and prints a
human-readable report followed by one JSON line:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
See NOTES.md next to this file.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Ctx:
    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.work = work


def main(argv=None) -> int:
    args = parse_args(argv)
    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, "global_market_index_etl_spark")):
        print(
            "perfbench: run from the root of a checkout of the engine "
            "(global_market_index_etl_spark/ not found)",
            file=sys.stderr,
        )
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [HERE, checkout]

    import workloads
    from harness import Tracer, start_session, stop_session

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(checkout, ".perfbench_work")
    out_dir = os.path.join(checkout, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)

    spark = start_session(work, checkout)
    try:
        session_start_s = time.perf_counter() - PROCESS_START
        ctx = Ctx(spark, args.seed, work)
        wl = workloads.WORKLOADS[args.workload](ctx)
        off = Tracer(ctx.sc, enabled=False)  # the warm-up is never traced
        report = workloads.Report(wl.name)

        # set-up: process start -> session ready, inputs generated, tables built
        wl.setup()
        setup_s = time.perf_counter() - PROCESS_START
        build_s = setup_s - session_start_s

        t0 = time.perf_counter()
        warm_ops = wl.warm_up(off)
        warmup_s = time.perf_counter() - t0

        tracer = Tracer(ctx.sc, enabled=bool(args.trace))
        loop = wl.measure(args.seconds, tracer)
        bookkeeping_s = tracer.bookkeeping_s
        if args.trace:
            # after the timed loop: extra work that only the traced run does
            forced = wl.forced_layers(tracer)
        run = workloads.run_metrics(wl, loop)
        report.failed += loop["failed"]
        report.attempted += len(loop["op_s"]) + loop["failed"] + loop.get("extra_ops", 0)

        for problem in wl.check():
            report.check(False, problem)
        counts, problems = wl.counts(tracer)
        for problem in problems:
            report.check(False, problem)
        report.check_counts(out_dir, args, counts)

        if args.trace:
            layer = {
                **{k: 0 for k in workloads.PER_LAYER_UNITS},
                "session.start_s": session_start_s,
                "session.build_s": build_s,
                "session.warmup_s": warmup_s,
                "trace.op_ms_p50": run["op_ms_p50"],
                "trace.overhead_ratio": loop["loop_s"] / (loop["loop_s"] - bookkeeping_s),
                **wl.layer_metrics(tracer),
                **forced,
            }
            tracer.dump(os.path.join(out_dir, f"spans-{wl.name}-{args.seed}.jsonl"))
            metrics = {k: {"value": v, "unit": workloads.PER_LAYER_UNITS[k]}
                       for k, v in layer.items()}
        else:
            e2e = {"setup_s": setup_s, **{k: v for k, v in run.items() if k in workloads.E2E}}
            metrics = {k: {"value": v, "unit": workloads.E2E_UNITS[k]} for k, v in e2e.items()}
        report.lines(
            setup_s=setup_s, start_s=session_start_s, build_s=build_s, warm_ops=warm_ops,
            warmup_s=warmup_s, op_s=loop["op_s"], run=run, trace=args.trace,
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": report.correct,
        "attempted": report.attempted,
        "failed": report.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
