"""query_mix: an analyst session over what the ETL leaves behind.

A seeded sequence of two query classes, closed loop: lookups against the
quotes table through ``storage.read_table`` (time range with manifest
pruning, latest bar per ticker, daily USD OHLC, rolling return), and report
rows from the query registry over a TPC-H-shaped star. Latency percentiles
are taken over lookups only; reports are a different cost class.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import shutil
import time
import traceback

import duckdb
import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Window

import inputs
import layout
from global_market_index_etl_spark.operators import storage
from global_market_index_etl_spark.plans import REGISTRY
from harness import median
from market_ingest import MarketIngest

REPORTS = [
    "flagship_regional_revenue",
    "tpch_q1_pricing_summary",
    "tpch_q3_top_revenue_orders",
]
LOOKUPS = ["range", "latest", "daily_ohlc", "rolling_return"]
REPORT_EVERY = 7  # every seventh query is a report row
SETUP_MERGES = 1
WARM_UP_QUERIES = 3 * REPORT_EVERY  # each report row once
US = 1_000_000


class QueryMix:
    name = "query_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_orders = 15_000
        self.ingest = MarketIngest(ctx)
        self.table = os.path.join(ctx.work, "quotes")
        self.results: list[tuple] = []  # (kind, params, rows) of every query

    def setup(self) -> dict:
        d = os.path.join(self.ctx.work, "setup")
        shape = self.ingest.setup()
        self.star = f"{d}/star"
        rows = inputs.write_star_tables(self.star, self.ctx.seed, self.n_orders)
        # bulk history plus a fixed number of ingest merges, so per-file
        # stats ranges are as wide as merges leave them
        self.ingest.table = self.table
        shutil.rmtree(self.table, ignore_errors=True)
        shutil.copytree(self.ingest.snapshot, self.table)
        for k in range(SETUP_MERGES):
            self.ingest.merge_generated(k, f"{d}/batch-{k}.parquet")
        self.live = layout.footprint(self.table)
        self.built = {"history": shape, "star": rows, "table": self.live}
        return self.built

    # ----------------------------------------------------------- queries

    def _schedule(self, stream: int):
        """Endless sequence of (kind, params). The kinds follow a fixed
        pattern, six lookups (each kind in turn) then one report row (each
        row in turn), so every seed draws the same mix of costs; tickers and
        time ranges are seeded."""
        r = inputs.rng(self.ctx.seed, 6, stream)
        first = inputs.HISTORY_START
        span_h = self.ingest.history_days * 24
        for i in itertools.count():
            n_reports = i // REPORT_EVERY
            if i % REPORT_EVERY == REPORT_EVERY - 1:
                yield "report", {"row": REPORTS[n_reports % len(REPORTS)]}
                continue
            kind = LOOKUPS[(i - n_reports) % len(LOOKUPS)]
            ticker = inputs.TICKERS[int(r.integers(0, len(inputs.TICKERS)))]
            hours = {"range": 48, "latest": 0, "daily_ohlc": 168, "rolling_return": 120}[kind]
            lo = first + dt.timedelta(hours=int(r.integers(0, span_h - hours)))
            yield kind, {"ticker": ticker, "lo": lo, "hi": lo + dt.timedelta(hours=hours)}

    def _lookup(self, kind: str, p: dict, tracer) -> list[tuple]:
        spark = self.ctx.spark
        with tracer.span("storage.read_table"):
            if kind == "latest":
                df = storage.read_table(spark, self.table)
            else:
                df = storage.read_table(
                    spark, self.table, prune={"timestamp_utc": (p["lo"], p["hi"])}
                )
        with tracer.span("lookup.collect"):
            if kind == "latest":
                last = df.groupBy("ticker").agg(F.max("timestamp_utc").alias("timestamp_utc"))
                out = df.join(last, ["ticker", "timestamp_utc"]).select(
                    "ticker", "timestamp_utc", "close_usd")
            else:
                out = df.filter(
                    (F.col("ticker") == p["ticker"])
                    & F.col("timestamp_utc").between(p["lo"], p["hi"])
                )
                if kind == "range":
                    out = out.select("timestamp_utc", "open", "close", "close_usd", "volume")
                elif kind == "daily_ohlc":
                    ts = F.col("timestamp_utc")
                    out = out.groupBy(F.to_date(ts).alias("day")).agg(
                        F.min_by("open_usd", ts).alias("open_usd"),
                        F.max("high_usd").alias("high_usd"),
                        F.min("low_usd").alias("low_usd"),
                        F.max_by("close_usd", ts).alias("close_usd"),
                    )
                else:
                    w = Window.orderBy("timestamp_utc")
                    out = out.select(
                        "timestamp_utc",
                        (F.col("close_usd") / F.lag("close_usd", 24).over(w) - 1.0).alias("ret"),
                    )
            return [tuple(r) for r in out.collect()]

    def _query(self, kind: str, p: dict, tracer, op: str) -> float:
        t0 = time.perf_counter()
        if kind == "report":
            with tracer.span(f"report.{p['row']}", op=op):
                rows = [tuple(r.asDict().items()) for r in
                        REGISTRY[p["row"]].spark(self.ctx.spark, self.star).collect()]
        else:
            with tracer.span(f"lookup.{kind}", op=op):
                rows = self._lookup(kind, p, tracer)
        took = time.perf_counter() - t0
        self.results.append((kind, p, rows))
        return took

    def warm_up(self, tracer) -> list[float]:
        sched = self._schedule(0)
        return [self._query(*next(sched), tracer, "warm") for _ in range(WARM_UP_QUERIES)]

    def measure(self, seconds: float, tracer) -> dict:
        sched = self._schedule(1 if tracer.enabled else 2)
        lookups, reports = [], []
        deadline = time.perf_counter() + seconds
        i = 0
        failed = 0
        # whole cycles of six lookups and a report, so every run times the
        # same mix of query kinds
        while time.perf_counter() < deadline or i % REPORT_EVERY:
            kind, p = next(sched)
            try:
                took = self._query(kind, p, tracer, f"q{i}")
            except Exception:
                traceback.print_exc()
                failed += 1
            else:
                (reports if kind == "report" else lookups).append(took)
            i += 1
        return {"op_s": lookups, "units": i - failed, "loop_s": sum(lookups) + sum(reports),
                "extra_ops": len(reports), "failed": failed}

    # --------------------------------------------------------- per layer

    def forced_layers(self, tracer) -> dict[str, float]:
        """Each report row once, and the share of live files a pruned range
        read still plans."""
        for row in REPORTS:
            self._query("report", {"row": row}, tracer, f"forced-{row}")
        live = self.live["files"]
        r = inputs.rng(self.ctx.seed, 7)
        self.kept = []
        for _ in range(8):
            lo = inputs.HISTORY_START + dt.timedelta(
                hours=int(r.integers(0, self.ingest.history_days * 24 - 48)))
            df = storage.read_table(self.ctx.spark, self.table,
                                    prune={"timestamp_utc": (lo, lo + dt.timedelta(hours=48))})
            self.kept.append(len(df.inputFiles()))
        return {"storage.files_kept_ratio": float(np.mean(self.kept)) / live}

    def layer_metrics(self, tracer) -> dict[str, float]:
        out = {
            "storage.read_table_ms": 1000 * median(
                [s["seconds"] for s in tracer.totals("storage.read_table")]),
            "storage.live_files": self.live["files"],
            "storage.stored_bytes_per_row": self.stored_bytes_per_row(),
        }
        for row in REPORTS:
            calls = tracer.totals(f"report.{row}")
            if calls:
                out[f"report.{row}_ms"] = 1000 * median([c["seconds"] for c in calls])
                out[f"report.{row}_jobs"] = median([c["jobs"] for c in calls])
        return out

    def stored_bytes_per_row(self) -> float:
        return self.live["bytes"] / self.live["rows"]

    def counts(self, tracer) -> tuple[dict, list[str]]:
        """The built tables, and in the traced run the files each forced
        range read kept and the jobs, stages and tasks of every call of a
        report row (the same on every call)."""
        spark_counts, problems = tracer.repeat_counts(
            lambda s: s["name"] if s["name"].startswith("report.") else None)
        return {"built": self.built, "kept_files": getattr(self, "kept", []),
                "spark": spark_counts}, problems

    # ---------------------------------------------------------------- check

    def check(self) -> list[str]:
        """Every lookup and report result against DuckDB over the same
        parquet files."""
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            files = [os.path.join(self.table, f) for f in layout.live_files(layout.manifest(self.table))]
            con.execute(f"CREATE VIEW quotes AS SELECT * FROM read_parquet({files!r})")
            for t in ("region", "nation", "customer", "orders", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.star}/{t}.parquet'")
            oracle: dict = {}
            problems = []
            for kind, p, rows in self.results:
                key = (kind, tuple(sorted((k, str(v)) for k, v in p.items())))
                if key not in oracle:
                    oracle[key] = _oracle(con, kind, p)
                want = oracle[key]
                if kind == "report":
                    got = sorted((tuple(sorted((k, _norm(v)) for k, v in r)) for r in rows), key=repr)
                else:
                    got = sorted((_norm_row(r) for r in rows), key=repr)
                if got != want:
                    problems.append(f"{kind} {p} differs from DuckDB: {got[:3]} vs {want[:3]}")
            return problems[:5]
        finally:
            con.close()


def _us(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * US + t.microsecond


def _norm(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return _us(v)
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "item"):
        return v.item()
    return v


def _norm_row(r) -> tuple:
    return tuple(_norm(v) for v in r)


def _oracle(con, kind: str, p: dict) -> list[tuple]:
    if kind == "report":
        cur = con.execute(REGISTRY[p["row"]].oracle)
        names = [d[0] for d in cur.description]
        return sorted(
            (tuple(sorted((n, _norm(v)) for n, v in zip(names, r))) for r in cur.fetchall()),
            key=repr)
    ts = "epoch_us(timestamp_utc)"
    where = ""
    if kind != "latest":
        where = (f"WHERE ticker = '{p['ticker']}' AND {ts} BETWEEN "
                 f"{_us(p['lo'])} AND {_us(p['hi'])}")
    sql = {
        "range": f"SELECT {ts}, open, close, close_usd, volume FROM quotes {where}",
        "latest": f"SELECT ticker, max({ts}), arg_max(close_usd, {ts}) FROM quotes GROUP BY ticker",
        "daily_ohlc": (
            f"SELECT CAST(CAST(timestamp_utc AS TIMESTAMP) AS DATE)::VARCHAR, "
            f"arg_min(open_usd, {ts}), max(high_usd), min(low_usd), arg_max(close_usd, {ts}) "
            f"FROM quotes {where} GROUP BY 1"),
        "rolling_return": (
            f"SELECT {ts}, close_usd / lag(close_usd, 24) OVER (ORDER BY {ts}) - 1.0 "
            f"FROM quotes {where}"),
    }[kind]
    return sorted((tuple(_norm(v) for v in r) for r in con.execute(sql).fetchall()), key=repr)
