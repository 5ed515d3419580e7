"""S1 Python DataSource: partition planning, determinism, schema contract."""

from __future__ import annotations

import pyspark.sql.functions as F

from global_market_index_etl_spark.sources.market_source import (
    DEFAULT_TICKERS,
    MarketBarsReader,
    quarantine_report,
    read_market_bars,
)


def test_one_partition_per_ticker(spark):
    """Fewer tickers than task slots (3 ≤ 8): each ticker is its own task."""
    df = read_market_bars(spark, tickers="^GSPC,^FTSE,^N225", bars=8)
    assert df.rdd.getNumPartitions() == 3
    per_part = df.withColumn("pid", F.spark_partition_id())
    counts = {
        (r.ticker, r.pid): r.n
        for r in per_part.groupBy("ticker", "pid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # each ticker lives wholly in one partition (per-ticker fetch isolation)
    assert len(counts) == 3
    assert all(n == 8 for n in counts.values())


def test_tickers_grouped_into_one_wave_of_tasks(spark):
    """More tickers than task slots: the 10 default tickers are dealt into
    min(10, 8) partitions on the local[8] session — one wave of tasks —
    and each ticker still lives wholly in one partition."""
    assert spark.sparkContext.defaultParallelism == 8
    df = read_market_bars(spark, bars=48)
    assert df.rdd.getNumPartitions() == 8
    per_ticker = {
        r.ticker: r
        for r in df.withColumn("pid", F.spark_partition_id())
        .groupBy("ticker")
        .agg(
            F.countDistinct("pid").alias("parts"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert sorted(per_ticker) == sorted(DEFAULT_TICKERS.split(","))
    assert all(r.parts == 1 and r.n == 48 for r in per_ticker.values())
    assert sum(r.n for r in per_ticker.values()) == 480
    # without a slot count (plain spark.read.format) one task per ticker
    assert len(MarketBarsReader({}).partitions()) == 10


def test_poison_ticker_skipped_within_shared_partition(spark):
    """on_error=skip inside a grouped task drops the poison ticker's rows
    only; the healthy ticker fetched in the same task keeps all of its."""
    tickers = [f"T{i}" for i in range(8)] + ["BAD"]
    opts = dict(
        tickers=",".join(tickers),
        bars=4,
        fail_tickers="BAD",
        fail_attempts=99,
        on_error="skip",
    )
    groups = MarketBarsReader(
        {**{k: str(v) for k, v in opts.items()}, "slots": "8"}
    ).partitions()
    assert ["T0", "BAD"] in [g.tickers for g in groups]
    got = read_market_bars(spark, **opts).groupBy("ticker").count().collect()
    assert {r.ticker: r["count"] for r in got} == {f"T{i}": 4 for i in range(8)}


def test_deterministic_across_reads(spark):
    a = read_market_bars(spark, bars=12, seed=7).collect()
    b = read_market_bars(spark, bars=12, seed=7).collect()
    assert sorted(a) == sorted(b)
    c = read_market_bars(spark, bars=12, seed=8).collect()
    assert sorted(a) != sorted(c)


def test_schema_and_bar_invariants(spark):
    df = read_market_bars(spark, bars=48)
    assert [f.name for f in df.schema.fields] == [
        "ticker", "timestamp_utc", "open", "high", "low", "close",
        "adjusted_close", "volume",
    ]
    n_tickers = len(DEFAULT_TICKERS.split(","))
    assert df.count() == 48 * n_tickers
    bad = df.filter(
        (F.col("high") < F.col("low"))
        | (F.col("high") < F.col("open"))
        | (F.col("high") < F.col("close"))
        | (F.col("low") > F.col("open"))
        | (F.col("low") > F.col("close"))
        | (F.col("volume") < 0)
    )
    assert bad.count() == 0
    # hourly bars: timestamps advance by exactly 3600s within each ticker
    ts = (
        df.filter(F.col("ticker") == "^GSPC")
        .orderBy("timestamp_utc")
        .select(F.col("timestamp_utc").cast("long").alias("t"))
        .collect()
    )
    diffs = {b.t - a.t for a, b in zip(ts, ts[1:])}
    assert diffs == {3600}


def test_transient_failure_recovers_within_task_retries(spark):
    """A ticker failing fewer times than max_attempts succeeds via the
    in-task retry loop — same rows as a clean run, no task failure."""
    clean = read_market_bars(spark, tickers="AAA,BBB", bars=4).collect()
    retried = read_market_bars(
        spark,
        tickers="AAA,BBB",
        bars=4,
        fail_tickers="BBB",
        fail_attempts=2,  # < max_attempts=3
    ).collect()
    assert sorted(retried) == sorted(clean)


def test_poison_ticker_quarantined_not_batch(spark):
    """on_error=skip: the permanently-failing ticker yields zero rows,
    every other ticker's partition is untouched (the reference's
    warn-and-continue, yf_collector.py:61-73, as task isolation)."""
    df = read_market_bars(
        spark,
        tickers="AAA,BAD,CCC",
        bars=4,
        fail_tickers="BAD",
        fail_attempts=99,
        on_error="skip",
    )
    got = df.groupBy("ticker").count().collect()
    assert {r.ticker: r["count"] for r in got} == {"AAA": 4, "CCC": 4}

    report = quarantine_report(
        spark,
        tickers="AAA,BAD,CCC",
        bars=4,
        fail_tickers="BAD",
        fail_attempts=99,
        on_error="skip",
    ).collect()
    assert [(r.ticker, r.attempts) for r in report] == [("BAD", 3)]
    assert "timeout" in report[0].error


def test_midstream_failure_does_not_duplicate_rows(spark):
    """A fetch that dies AFTER yielding some rows must not re-emit those
    rows when the in-task retry succeeds: attempts are buffered and only
    a complete attempt's rows reach the task output (round-5 advice —
    the before-first-yield injection alone could never catch this)."""
    clean = read_market_bars(spark, tickers="AAA,BBB", bars=8).collect()
    retried = read_market_bars(
        spark,
        tickers="AAA,BBB",
        bars=8,
        fail_tickers="BBB",
        fail_attempts=2,  # < max_attempts=3
        fail_after_bars=5,  # dies mid-stream, 5 bars already produced
    ).collect()
    assert sorted(retried) == sorted(clean)
    # sanity: the failing ticker has exactly bars rows, not bars + 2×5
    n_bbb = sum(1 for r in retried if r.ticker == "BBB")
    assert n_bbb == 8


def test_zero_bar_fetch_is_not_quarantined(spark):
    """bars=0 is a successful empty window: quarantine_report must not
    crash on (or misreport) the exhausted iterator."""
    report = quarantine_report(
        spark, tickers="AAA,BBB", bars=0
    ).collect()
    assert report == []


def test_midstream_failure_is_quarantined(spark):
    """A ticker that fails AFTER yielding its first bars must appear in the
    quarantine report: the probe exhausts the fetch, so the report and the
    reader agree about mid-stream failures (round-6 advice — a first-bar
    probe reported these healthy while read() kept failing)."""
    opts = dict(
        tickers="AAA,BAD",
        bars=6,
        fail_tickers="BAD",
        fail_attempts=99,
        fail_after_bars=3,  # dies mid-stream, after 3 bars
        on_error="skip",
    )
    got = read_market_bars(spark, **opts).groupBy("ticker").count().collect()
    assert {r.ticker: r["count"] for r in got} == {"AAA": 6}
    report = quarantine_report(spark, **opts).collect()
    assert [(r.ticker, r.attempts) for r in report] == [("BAD", 3)]


def test_poison_ticker_raises_by_default(spark):
    """Default on_error=raise: the bad ticker's TASK fails (after in-task
    retries) and the job surfaces the typed error."""
    import pytest as _pytest

    df = read_market_bars(
        spark,
        tickers="AAA,BAD",
        bars=4,
        fail_tickers="BAD",
        fail_attempts=99,
    )
    with _pytest.raises(Exception, match="failed after 3 attempts"):
        df.collect()


# --------------------------------------------------------------------- #
# S6 — ticker metadata probe (round 13: the last scoped-out reference
# component, notebook cell de2e3d6f)
# --------------------------------------------------------------------- #


def test_metadata_probe_matches_config_for_seed_tickers(spark):
    """Default probe over the indices dimension: every fetched
    currency/exchange agrees with config (the healthy case), names come
    from the dimension, and the frame is one row per configured ticker."""
    from global_market_index_etl_spark.schemas import INDICES_SEED
    from global_market_index_etl_spark.sources.market_source import (
        ticker_metadata_probe,
    )

    rows = {r.ticker: r for r in ticker_metadata_probe(spark).collect()}
    assert set(rows) == {t for t, *_ in INDICES_SEED}
    for t, name, _, exchange, currency in INDICES_SEED:
        r = rows[t]
        assert r.short_name == name and r.long_name == f"{name} Index"
        assert r.currency_match and r.exchange_match
        assert r.currency_yf == currency and r.exchange_yf == exchange
        assert r.error is None and r.attempts == 1
        assert r.market_state in ("PRE", "REGULAR", "POST", "CLOSED")


def test_metadata_probe_flags_config_drift(spark):
    """A divergent listing (reconfigured exchange / redenominated
    currency) is exactly what the notebook's cross-check exists to
    surface: match flags go false, probe keeps running."""
    from global_market_index_etl_spark.sources.market_source import (
        ticker_metadata_probe,
    )

    rows = {
        r.ticker: r
        for r in ticker_metadata_probe(spark, divergent="^FTSE").collect()
    }
    assert not rows["^FTSE"].currency_match
    assert not rows["^FTSE"].exchange_match
    assert rows["^FTSE"].exchange_yf == "LSE-NEW"
    assert rows["^GSPC"].currency_match  # others unaffected


def test_metadata_probe_warn_and_continue_and_retry(spark):
    """Per-ticker failures degrade to an error row after max_attempts
    (warn-and-continue — the probe never aborts); a transient failure
    clears within the retry budget and reports the attempt count."""
    from global_market_index_etl_spark.sources.market_source import (
        ticker_metadata_probe,
    )

    rows = {
        r.ticker: r
        for r in ticker_metadata_probe(
            spark,
            tickers="^GSPC,^FTSE,^N225",
            fail_tickers="^FTSE,^N225",
            fail_attempts=99,  # ^FTSE never recovers …
            max_attempts=3,
        ).collect()
    }
    bad = rows["^FTSE"]
    assert bad.error is not None and bad.attempts == 3
    assert bad.currency_yf is None and bad.currency_match is None
    assert rows["^GSPC"].error is None

    transient = {
        r.ticker: r
        for r in ticker_metadata_probe(
            spark,
            tickers="^N225",
            fail_tickers="^N225",
            fail_attempts=1,  # … but one transient failure recovers
            max_attempts=3,
        ).collect()
    }["^N225"]
    assert transient.error is None and transient.attempts == 2
    assert transient.currency_match


def test_metadata_probe_unknown_ticker_has_null_config(spark):
    """A ticker outside the dimension still probes (the notebook loops
    whatever the config yields), with NULL config side and NULL match
    flags — absence of ground truth is not a mismatch."""
    from global_market_index_etl_spark.sources.market_source import (
        ticker_metadata_probe,
    )

    r = ticker_metadata_probe(spark, tickers="ZZZ").collect()[0]
    assert r.currency_cfg is None and r.exchange_cfg is None
    assert r.currency_match is None and r.exchange_match is None
    assert r.currency_yf == "USD"  # the stub's unknown-ticker default


def test_metadata_probe_rejects_non_positive_max_attempts(spark):
    """Code-review fix: max_attempts=0 would emit all-NULL rows with
    error=NULL — indistinguishable from a healthy probe."""
    import pytest as _pytest

    from global_market_index_etl_spark.sources.market_source import (
        ticker_metadata_probe,
    )

    with _pytest.raises(ValueError, match="max_attempts"):
        ticker_metadata_probe(spark, max_attempts=0)
