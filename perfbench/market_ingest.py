"""market_ingest: the reference's cron tick, repeated.

Each tick reads 48 hourly bars for the ten index tickers from the market
source, standardizes and converts them to USD, and upserts them into the
stats-tracked quotes table. Windows overlap by half, so half the keys of
every tick are updates. Ticks run in episodes: the table is reset to the
set-up snapshot (untimed) and the same seeded ticks are replayed, so every
completed episode must leave the same layout behind, byte for byte.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import traceback

import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import inputs
import layout
from harness import median
from global_market_index_etl_spark import pipeline, schemas
from global_market_index_etl_spark.operators import storage
from global_market_index_etl_spark.sources.market_source import read_market_bars

KEYS = ["ticker", "timestamp_utc"]
N_BUCKETS = 8


def to_raw(bars):
    """The market source yields standardized column names; the pipeline's
    standardizer takes the raw vendor encoding."""
    return bars.select(
        F.col("timestamp_utc").alias("timestamp"),
        "ticker",
        F.col("open").alias("Open"),
        F.col("high").alias("High"),
        F.col("low").alias("Low"),
        F.col("close").alias("Close"),
        F.col("adjusted_close").alias("Adj Close"),
        F.col("volume").cast("double").alias("Volume"),
    )


class MarketIngest:
    name = "market_ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        self.history_days = 30
        self.episode_ticks = 2
        self.fx_days = self.history_days + self.episode_ticks + 3
        self.table = os.path.join(ctx.work, "quotes")
        self.episodes = 0
        self.tick_counts: dict[int, dict] = {}
        self.problems: list[str] = []
        self.failed = 0

    # ---------------------------------------------------------------- setup

    def setup(self) -> dict:
        spark, seed = self.ctx.spark, self.ctx.seed
        d = os.path.join(self.ctx.work, "setup")
        os.makedirs(d)
        inputs.write_bars(
            f"{d}/history.parquet", seed, 0, inputs.HISTORY_START, self.history_days * 24
        )
        self.indices = spark.createDataFrame(schemas.INDICES_SEED, schemas.INDICES)
        self.fx = spark.createDataFrame(
            inputs.fx_rows(seed, self.fx_days), schemas.FX_RATES
        )
        history = pipeline.run_batch(
            spark.read.parquet(f"{d}/history.parquet"), self.indices, self.fx
        ).withColumn("batch_ts", F.lit(inputs.batch_ts(seed, -1)))
        self.snapshot = f"{d}/quotes"
        storage.write_bucketed_table(
            history,
            self.snapshot,
            KEYS,
            n_buckets=N_BUCKETS,
            stats_columns=["timestamp_utc"],
            cluster_by=["timestamp_utc"],
            max_records_per_file=1000,
        )
        self.history_raw = f"{d}/history.parquet"
        self.snapshot_footprint = layout.footprint(self.snapshot)
        return self.snapshot_footprint

    # ----------------------------------------------------------------- loop

    def _tick(self, k: int, tracer, op: str) -> float:
        spark, seed = self.ctx.spark, self.ctx.seed
        t0 = time.perf_counter()
        with tracer.span("tick", op=op):
            with tracer.span("market_source.read_market_bars"):
                bars = read_market_bars(spark, **self.source_options(k))
            with tracer.span("pipeline.run_batch"):
                batch = pipeline.run_batch(to_raw(bars), self.indices, self.fx)
                batch = batch.withColumn("batch_ts", F.lit(inputs.batch_ts(seed, k)))
            with tracer.span("storage.merge_into_parquet"):
                storage.merge_into_parquet(
                    spark, self.table, batch, KEYS, order_column="batch_ts"
                )
        return time.perf_counter() - t0

    def merge_generated(self, k: int, path: str) -> None:
        """Tick k's window from generated parquet instead of the market
        source: how another workload lays the table out the way ingest
        leaves it without running the source."""
        spark, seed = self.ctx.spark, self.ctx.seed
        inputs.write_bars(path, seed, k + 1, inputs.tick_window_start(self.history_days, k),
                          inputs.BARS_PER_TICK)
        batch = pipeline.run_batch(spark.read.parquet(path), self.indices, self.fx)
        storage.merge_into_parquet(
            spark, self.table, batch.withColumn("batch_ts", F.lit(inputs.batch_ts(seed, k))),
            KEYS, order_column="batch_ts",
        )

    def source_options(self, k: int) -> dict:
        return {
            "tickers": ",".join(inputs.TICKERS),
            "bars": inputs.BARS_PER_TICK,
            "seed": inputs.tick_source_seed(self.ctx.seed, k),
            "start": inputs.tick_window_start(self.history_days, k).isoformat(),
        }

    def _episode(self, tracer, deadline: float | None, durations: list[float],
                 label: str, ticks: int | None = None) -> None:
        """Reset the table to the set-up snapshot (untimed) and replay the
        episode's first ``ticks`` ticks (all by default). Ticks started
        before ``deadline`` are timed; once it passed, the episode is
        finished untimed, so every run ends on the same table state."""
        shutil.rmtree(self.table, ignore_errors=True)
        shutil.copytree(self.snapshot, self.table)
        diff = layout.MergeDiff(self.table)
        for k in range(ticks or self.episode_ticks):
            timed = deadline is None or time.perf_counter() < deadline
            diff.before()
            try:
                took = self._tick(k, tracer, f"{label}-tick{k}")
            except Exception:
                traceback.print_exc()
                self.failed += 1
                self.problems.append(f"tick {k} failed; its episode was abandoned")
                break
            if timed:
                durations.append(took)
            self._record(k, {**diff.after(), **layout.footprint(self.table)})
        self.episodes += 1

    def _record(self, k: int, counts: dict) -> None:
        """Tick k of every episode must leave the same layout behind."""
        if k not in self.tick_counts:
            self.tick_counts[k] = counts
        elif self.tick_counts[k] != counts:
            self.problems.append(
                f"tick {k} of episode {self.episodes} left {counts}, "
                f"an earlier episode left {self.tick_counts[k]}"
            )

    def warm_up(self, tracer) -> list[float]:
        """Untimed ticks: one episode and the first tick of another. The
        first tick pays for the cold JVM and the Python workers the market
        source runs in (two to three steady ticks); tick times are flat from
        the third."""
        took: list[float] = []
        self._episode(tracer, None, took, "warm0")
        self._episode(tracer, None, took, "warm1", ticks=1)
        return took

    def measure(self, seconds: float, tracer) -> dict:
        durations: list[float] = []
        deadline = time.perf_counter() + seconds
        n = 0
        while time.perf_counter() < deadline:
            self._episode(tracer, deadline, durations, f"e{n}")
            n += 1
        per_tick = len(inputs.TICKERS) * inputs.BARS_PER_TICK
        return {"op_s": durations, "units": per_tick * len(durations), "loop_s": sum(durations),
                "failed": self.failed}

    # --------------------------------------------------------- per layer

    def forced_layers(self, tracer) -> dict[str, float]:
        """One tick's source read, then its source read plus pipeline, each
        forced into a ``noop`` sink; the merge is timed by the traced loop."""
        spark = self.ctx.spark
        k = self.episode_ticks - 1
        with tracer.span("forced.market_source", op="forced") as s:
            t0 = time.perf_counter()
            read_market_bars(spark, **self.source_options(k)).write.format(
                "noop"
            ).mode("overwrite").save()
            read_s = time.perf_counter() - t0
        src_tasks = s["tasks"]
        with tracer.span("forced.pipeline", op="forced"):
            t0 = time.perf_counter()
            pipeline.run_batch(
                to_raw(read_market_bars(spark, **self.source_options(k))),
                self.indices,
                self.fx,
            ).write.format("noop").mode("overwrite").save()
            batch_s = time.perf_counter() - t0
        return {
            "market_source.read_s": read_s,
            "market_source.tasks": src_tasks,
            "pipeline.run_batch_s": max(0.0, batch_s - read_s),
        }

    def layer_metrics(self, tracer) -> dict[str, float]:
        merges = tracer.totals("storage.merge_into_parquet")
        ticks = [self.tick_counts[k] for k in range(self.episode_ticks)]
        batch_rows = len(ticks) * len(inputs.TICKERS) * inputs.BARS_PER_TICK
        return {
            "storage.merge_s": median([m["seconds"] for m in merges]),
            "storage.merge_jobs": median([m["jobs"] for m in merges]),
            "storage.merge_stages": median([m["stages"] for m in merges]),
            "storage.merge_tasks": median([m["tasks"] for m in merges]),
            "storage.rows_rewritten_per_row": sum(t["rows_rewritten"] for t in ticks) / batch_rows,
            "storage.bytes_written_per_row": sum(t["bytes_written"] for t in ticks) / batch_rows,
            "storage.live_files": ticks[-1]["files"],
            "storage.stored_bytes_per_row": self.stored_bytes_per_row(),
        }

    def counts(self, tracer) -> tuple[dict, list[str]]:
        """Count metrics that must repeat exactly for a seed: the snapshot
        and per-tick layouts, and in the traced run the jobs, stages and
        tasks of every call of tick k (the same in every episode) and of the
        forced calls."""
        def key(s):
            if s["op"] == "forced":
                return s["name"]
            if s["name"] != "tick":
                return f"tick{s['op'].rsplit('-tick', 1)[1]}/{s['name']}"
            return None

        spark_counts, problems = tracer.repeat_counts(key)
        return {"snapshot": self.snapshot_footprint, "ticks": self.tick_counts,
                "spark": spark_counts}, problems

    def stored_bytes_per_row(self) -> float:
        """Of the table a full episode leaves behind."""
        end = self.tick_counts[self.episode_ticks - 1]
        return end["bytes"] / end["rows"]

    # ---------------------------------------------------------------- check

    def check(self) -> list[str]:
        """The table a full episode leaves behind must equal the
        last-write-wins state of the history plus the episode's ticks,
        computed here in pandas, with the USD columns recomputed from the
        seeded rates."""
        problems = list(self.problems)
        spark, seed = self.ctx.spark, self.ctx.seed
        frames = [_raw_to_pandas(pd.read_parquet(self.history_raw), inputs.batch_ts(seed, -1))]
        for k in range(self.episode_ticks):
            bars = read_market_bars(spark, **self.source_options(k)).toPandas()
            frames.append(_bars_to_pandas(bars, inputs.batch_ts(seed, k)))
        expected = pd.concat(frames, ignore_index=True)
        expected = expected.sort_values("batch_ts", kind="stable").drop_duplicates(KEYS, keep="last")
        _apply_fx(expected, inputs.fx_rows(seed, self.fx_days))
        m = layout.manifest(self.table)
        got = pd.concat(
            [pq.read_table(os.path.join(self.table, f)).to_pandas() for f in layout.live_files(m)],
            ignore_index=True,
        )
        if got.duplicated(KEYS).any():
            problems.append("table has duplicate (ticker, timestamp_utc) keys")
        if len(got) != len(expected):
            problems.append(f"table has {len(got)} keys, expected {len(expected)}")
        cols = ["ticker", "timestamp_utc", "open", "high", "low", "close", "adjusted_close",
                "volume", "name", "country", "original_currency", "exchange",
                "open_usd", "high_usd", "low_usd", "close_usd", "adjusted_close_usd", "batch_ts"]
        a = _normalize(got[cols]).sort_values(KEYS, ignore_index=True)
        b = _normalize(expected[cols]).sort_values(KEYS, ignore_index=True)
        if len(a) == len(b):
            bad = ~((a == b) | (a.isna() & b.isna())).all(axis=1)
            if bad.any():
                problems.append(f"{int(bad.sum())} keys hold values other than the last write")
        return problems


def _raw_to_pandas(raw: pd.DataFrame, ts: dt.datetime) -> pd.DataFrame:
    out = raw.rename(columns={**schemas.RAW_TO_STANDARD, "timestamp": "timestamp_utc"})
    return _enrich(out, ts)


def _bars_to_pandas(bars: pd.DataFrame, ts: dt.datetime) -> pd.DataFrame:
    return _enrich(bars.copy(), ts)


def _enrich(df: pd.DataFrame, ts: dt.datetime) -> pd.DataFrame:
    dim = pd.DataFrame(
        schemas.INDICES_SEED,
        columns=["ticker", "name", "country", "exchange", "original_currency"],
    )
    df = df.merge(dim, on="ticker", how="left")
    df["volume"] = df["volume"].astype("int64")
    df["batch_ts"] = pd.Timestamp(ts)
    return df


def _apply_fx(df: pd.DataFrame, rows: list[tuple]) -> None:
    rate = {(c, d): r for c, _, d, r in rows}
    dates = pd.to_datetime(df["timestamp_utc"]).dt.date
    fx = [
        1.0 if cur == "USD" else rate.get((cur, d))
        for cur, d in zip(df["original_currency"], dates)
    ]
    fx = pd.Series(fx, index=df.index, dtype="float64")
    for c in schemas.USD_COLUMNS:
        df[f"{c}_usd"] = df[c] * fx


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in ("timestamp_utc", "batch_ts"):
        out[c] = pd.to_datetime(out[c]).dt.tz_localize(None).astype("datetime64[us]")
    out["volume"] = out["volume"].astype("int64")
    return out
