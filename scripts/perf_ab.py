"""Interleaved A/B of the benchmark: a parent revision against a change.

    python3 scripts/perf_ab.py --parent HEAD~1 --workload market_ingest \\
        --seed 31 --pairs 10 [--change REV] [--seconds 6] [--out runs.jsonl]

Each side runs from a fresh directory under ``--workdir`` (default: a
temporary one): the parent revision, and ``--change`` when given, are
``git archive``d there; without ``--change`` the change side is a copy of
this working tree's tracked and untracked, not ignored, files. Each pair
runs ``perfbench/run.py --trace 0`` once per side, one process at a time,
and alternates which side goes first.

Prints every end-to-end metric of BENCHMARK.json per side as median
[Q1, Q3], the pairs the change won on it (ties count for neither), and the
verdict of the gain rule: the change wins at least nine tenths of the pairs
and its median beats the parent's by more than the parent's interquartile
range. It then says whether the two sides wrote identical count records
(table layouts per tick, see perfbench/NOTES.md). A run that fails or
reports incorrect output stops the script.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def archive(rev: str, dest: str) -> str:
    """Extract the committed tree of ``rev`` into ``dest``."""
    os.makedirs(dest)
    tar = os.path.join(dest, ".tree.tar")
    subprocess.run(["git", "archive", "-o", tar, rev], cwd=ROOT, check=True)
    with tarfile.open(tar) as tf:
        tf.extractall(dest, filter="data")
    os.remove(tar)
    return dest


def copy_worktree(dest: str) -> str:
    """Copy this checkout's tracked and untracked, not ignored, files."""
    files = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.split("\0")
    for rel in filter(None, files):
        src = os.path.join(ROOT, rel)
        if os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))
    return dest


def count_records(checkout: str) -> dict[str, str]:
    out = os.path.join(checkout, ".perfbench_out")
    recs = {}
    for name in sorted(os.listdir(out)) if os.path.isdir(out) else []:
        if name.startswith("counts-"):
            with open(os.path.join(out, name)) as fh:
                recs[name] = fh.read()
    return recs


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark process; returns its final JSON line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"run in {checkout} failed (exit {proc.returncode}):\n"
                 f"{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    if not out["correct"]:
        sys.exit(f"run in {checkout} reported incorrect output: {out}")
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], lower_is_better: bool):
    """(wins, median gap in the better direction, parent IQR, gain holds)."""
    sign = 1 if lower_is_better else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gap = sign * (pm - cm)
    holds = wins >= math.ceil(0.9 * len(parent)) and gap > p3 - p1
    return wins, gap, p3 - p1, holds


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent")
    ap.add_argument("--change", help="git revision of the change (default: working tree)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--out", help="append every run's JSON line to this file")
    ap.add_argument("--workdir", help="where the two checkouts go (default: a temp dir)")
    args = ap.parse_args(argv)
    if args.pairs < 2:
        ap.error("--pairs must be at least 2 to compute quartiles")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        e2e = {m["name"]: m["better"] == "lower" for m in json.load(fh)["end_to_end"]}

    with tempfile.TemporaryDirectory(prefix="perf_ab-", dir=args.workdir) as tmp:
        sides = {
            "parent": archive(args.parent, os.path.join(tmp, "parent")),
            "change": archive(args.change, os.path.join(tmp, "change"))
            if args.change else copy_worktree(os.path.join(tmp, "change")),
        }
        values: dict[str, dict[str, list[float]]] = {s: {m: [] for m in e2e} for s in sides}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                out = run_once(sides[side], args.workload, args.seed, args.seconds)
                for m in e2e:
                    values[side][m].append(out["metrics"][m]["value"])
                if args.out:
                    with open(args.out, "a") as fh:
                        fh.write(json.dumps({"pair": i, "side": side, **out}) + "\n")
            print(f"pair {i + 1}/{args.pairs}: " + "  ".join(
                f"{m} {values['parent'][m][-1]:.4g} -> {values['change'][m][-1]:.4g}"
                for m in e2e), flush=True)
        records = {side: count_records(path) for side, path in sides.items()}

    print(f"\n{args.workload}, seed {args.seed}, {args.pairs} pairs, "
          f"--seconds {args.seconds:g}")
    for m, lower in e2e.items():
        p, c = values["parent"][m], values["change"][m]
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        wins, gap, iqr, holds = verdict(p, c, lower)
        print(f"{m:12s} parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  "
              f"change {cm:.4g} [{c1:.4g}, {c3:.4g}]  ratio {cm / pm:.3f}  "
              f"wins {wins}/{args.pairs}  gap {gap:+.4g} vs parent IQR {iqr:.4g}  "
              f"gain {'holds' if holds else 'not shown'}")
    same = records["parent"] == records["change"]
    print(f"count records: {'identical' if same else 'DIFFER'} "
          f"({', '.join(records['change']) or 'none written'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
