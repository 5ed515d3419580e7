"""Semantics tests for the round-7 operators: bucketized interval join,
SCD2 changelog history, duplicate-span profiling.

The oracle-parity suite already checks the registered queries end-to-end;
these tests pin the OPERATOR contracts on adversarial synthetic inputs
(boundaries, ties, nulls, degenerate sizes) and the scale-critical plan
property (no nested-loop join in the interval join's physical plan).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from global_market_index_etl_spark.operators.rangejoin import (
    interval_join_bucketed,
)
from global_market_index_etl_spark.operators.scd2 import scd2_from_changelog
from global_market_index_etl_spark.operators.spans import (
    duplicate_window_profile,
)

from .conftest import SF_SMALL


# --------------------------------------------------------------------- #
# interval join
# --------------------------------------------------------------------- #


def _brute_pairs(points, intervals):
    """Reference: per-pair membership via python loops."""
    out = set()
    for pid, pt in points:
        for iid, lo, hi in intervals:
            if lo <= pt < hi:
                out.add((pid, iid))
    return out


def _run_pairs(spark, points, intervals, bucket_width, equality_keys=None):
    p = spark.createDataFrame(points, "pid long, pt long, pk long")
    i = spark.createDataFrame(intervals, "iid long, lo long, hi long, ik long")
    j = interval_join_bucketed(
        p,
        i,
        ts_col="pt",
        lo_col="lo",
        hi_col="hi",
        bucket_width=bucket_width,
        equality_keys=equality_keys,
    )
    return {(r.pid, r.iid) for r in j.select("pid", "iid").collect()}


def test_interval_join_boundaries_and_fanout(spark):
    # intervals: [10,20) [19,40) [40,40)(empty) [0,1000)(many buckets)
    intervals3 = [(1, 10, 20), (2, 19, 40), (3, 40, 40), (4, 0, 1000)]
    # points at lo (in), at hi (out), mid, far outside
    points2 = [(100, 10), (101, 20), (102, 19), (103, 39), (104, 40),
               (105, 999), (106, 1000), (107, 5)]
    expect = _brute_pairs(points2, intervals3)
    for bucket in (1, 3, 7, 10, 64, 1000, 10_000):
        got = _run_pairs(
            spark,
            [(pid, pt, 0) for pid, pt in points2],
            [(iid, lo, hi, 0) for iid, lo, hi in intervals3],
            bucket,
        )
        assert got == expect, f"bucket={bucket}"


def test_interval_join_exactly_once_per_pair(spark):
    # an interval spanning many buckets must not duplicate matches
    p = spark.createDataFrame([(1, 500, 0)], "pid long, pt long, pk long")
    i = spark.createDataFrame(
        [(7, 0, 1000, 0)], "iid long, lo long, hi long, ik long"
    )
    j = interval_join_bucketed(
        p, i, ts_col="pt", lo_col="lo", hi_col="hi", bucket_width=10
    )
    assert j.count() == 1


def test_interval_join_equality_keys(spark):
    points = [(1, 15, 1), (2, 15, 2)]
    intervals = [(10, 10, 20, 1)]
    got = _run_pairs(spark, points, intervals, 10, equality_keys=[("pk", "ik")])
    assert got == {(1, 10)}


def test_interval_join_epoch_micros_magnitude(spark):
    # epoch-micros ≈ 1.7e15: double division would round near boundaries;
    # the operator must bucket exactly at this magnitude
    base = 1_704_067_207_179_575
    w = 1800 * 1_000_000
    # point exactly at a bucket multiple boundary, interval starting there
    lo = (base // w + 1) * w
    points = [(1, lo, 0), (2, lo - 1, 0), (3, lo + w - 1, 0), (4, lo + w, 0)]
    intervals = [(9, lo, lo + w, 0)]
    got = _run_pairs(spark, points, intervals, w)
    assert got == {(1, 9), (3, 9)}


def test_interval_join_plan_has_no_nested_loop(spark):
    """The scale claim: bucketization yields an equi-join, never BNLJ."""
    from global_market_index_etl_spark.plans import REGISTRY

    df = REGISTRY["j4_interval_join"].spark(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------- #
# SCD2
# --------------------------------------------------------------------- #


def _scd2(spark, rows):
    df = spark.createDataFrame(rows, "k long, seq long, tie long, attr string")
    return scd2_from_changelog(
        df, key_cols=["k"], order_cols=["seq", "tie"], attr_cols=["attr"]
    )


def test_scd2_compresses_runs_and_builds_intervals(spark):
    rows = [
        (1, 10, 0, "a"),
        (1, 20, 0, "a"),  # unchanged — collapsed
        (1, 30, 0, "b"),
        (1, 40, 0, "b"),  # unchanged — collapsed
        (1, 50, 0, "a"),  # change back — new version
    ]
    got = sorted(
        _scd2(spark, rows).select(
            "k", "attr", "valid_from", "valid_to", "is_current"
        ).collect()
    )
    assert [tuple(r) for r in got] == [
        (1, "a", 10, 30, False),
        (1, "a", 50, None, True),
        (1, "b", 30, 50, False),
    ]


def test_scd2_null_safe_changes_and_single_current(spark):
    rows = [
        (1, 10, 0, None),
        (1, 20, 0, "x"),   # null -> value IS a change
        (1, 30, 0, None),  # value -> null IS a change
        (2, 10, 0, "y"),
    ]
    df = _scd2(spark, rows)
    assert df.count() == 4
    current = df.filter("is_current").groupBy("k").count().collect()
    assert {(r.k, r["count"]) for r in current} == {(1, 1), (2, 1)}


def test_scd2_intervals_are_contiguous_per_key(spark):
    rows = [(1, s, s % 3, "v%d" % (s // 25)) for s in range(0, 200, 10)]
    df = _scd2(spark, rows).orderBy("k", "valid_from").collect()
    for prev, nxt in zip(df, df[1:]):
        if prev.k == nxt.k:
            assert prev.valid_to == nxt.valid_from


def test_scd2_replay_idempotent(spark):
    rows = [(1, 10, 0, "a"), (1, 30, 0, "b"), (1, 50, 0, "a")]
    once = sorted(map(tuple, _scd2(spark, rows).collect()))
    # replaying the same feed (duplicate rows at same seq) yields the
    # same history — duplicates compress away
    twice = sorted(map(tuple, _scd2(spark, rows + rows).collect()))
    assert once == twice


# --------------------------------------------------------------------- #
# duplicate spans
# --------------------------------------------------------------------- #


def _profile(spark, docs, k=4):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = duplicate_window_profile(df, doc_id="doc_id", text_col="text", k=k)
    return {r.doc_id: (r.n_windows, r.n_dup_windows) for r in out.collect()}


def test_spans_cross_doc_duplicate_detected(spark):
    shared = "one two three four"
    docs = [
        (1, f"{shared} alpha beta"),
        (2, f"gamma {shared} delta"),
        (3, "completely different words here now"),
    ]
    got = _profile(spark, docs, k=4)
    # doc1: windows at pos 1..3 → 3 windows, 1 dup (the shared one)
    assert got[1] == (3, 1)
    assert got[2] == (3, 1)
    assert got[3] == (2, 0)


def test_spans_within_doc_repeat_is_not_cross_doc_dup(spark):
    docs = [(1, "a b c d a b c d"), (2, "x y z w q r s t")]
    got = _profile(spark, docs, k=4)
    # "a b c d" occurs twice in doc1 only — not a cross-doc duplicate
    assert got[1][1] == 0


def test_spans_short_docs_excluded_and_normalization(spark):
    docs = [
        (1, "only three words"),
        (2, "  ONE   two\tthree\nfour  "),  # whitespace + case noise
        (3, "one two three four"),
    ]
    got = _profile(spark, docs, k=4)
    assert 1 not in got  # < k tokens
    assert got[2] == (1, 1)  # normalizes to the same window as doc3
    assert got[3] == (1, 1)


def _removed(spark, docs, k=4):
    from global_market_index_etl_spark.operators.spans import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = remove_duplicate_spans(df, doc_id="doc_id", text_col="text", k=k)
    return {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_removed_tokens)
        for r in out.collect()
    }


def test_span_removal_drops_shared_span_keeps_rest(spark):
    docs = [
        (1, "alpha one two three four beta"),
        (2, "gamma one two three four delta"),
        (3, "totally unrelated content sits here"),
    ]
    got = _removed(spark, docs, k=4)
    assert got[1] == ("alpha beta", 6, 4)
    assert got[2] == ("gamma delta", 6, 4)
    assert got[3] == ("totally unrelated content sits here", 5, 0)


def test_span_removal_overlapping_windows_merge(spark):
    # 5-token shared run ⇒ two overlapping 4-windows; coverage must merge
    # to 5 tokens, not 8
    docs = [
        (1, "x one two three four five y"),
        (2, "one two three four five"),
    ]
    got = _removed(spark, docs, k=4)
    assert got[1] == ("x y", 7, 5)
    assert got[2] == ("", 5, 5)  # fully duplicated doc empties out


def test_span_removal_short_and_clean_docs_pass_through(spark):
    docs = [(1, "just three words"), (2, "a b c d e f")]
    got = _removed(spark, docs, k=4)
    assert got[1] == ("just three words", 3, 0)
    assert got[2] == ("a b c d e f", 6, 0)


def test_span_suite_legs_equal_standalone_operators(spark):
    """duplicate_span_suite (the fused shared-subtree plan behind the
    dedup_span_suite driver row) must reproduce BOTH standalone operators
    value-for-value on the fixture corpus — the persist-once rewrite may
    change the physical plan, never the results."""
    from global_market_index_etl_spark.operators.spans import (
        duplicate_span_suite,
        duplicate_window_profile,
        remove_duplicate_spans,
    )
    from global_market_index_etl_spark.sources import load_table

    from .conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    suite = duplicate_span_suite(docs, k=8)
    got_prof = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in suite.filter(F.col("leg") == "profile").collect()
    }
    got_rem = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_removed_tokens)
        for r in suite.filter(F.col("leg") == "removal").collect()
    }
    exp_prof = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in duplicate_window_profile(docs, k=8).collect()
    }
    exp_rem = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_removed_tokens)
        for r in remove_duplicate_spans(docs, k=8).collect()
    }
    assert got_prof == exp_prof
    assert got_rem == exp_rem
    assert got_prof and got_rem


# --------------------------------------------------------------------- #
# incremental SCD2 apply
# --------------------------------------------------------------------- #


def _log_df(spark, rows):
    return spark.createDataFrame(rows, "k long, seq long, attr string")


def _full(spark, rows):
    return scd2_from_changelog(
        _log_df(spark, rows), key_cols=["k"], order_cols=["seq"],
        attr_cols=["attr"],
    )


def _full_raw(spark, rows):
    return scd2_from_changelog(
        _log_df(spark, rows), key_cols=["k"], order_cols=["seq"],
        attr_cols=["attr"], compress=False,
    )


def test_scd2_incremental_equals_full_rebuild(spark):
    from global_market_index_etl_spark.operators.scd2 import (
        scd2_apply_changes,
        scd2_compress,
    )

    feed = [
        (1, 10, "a"), (1, 20, "b"), (1, 30, "b"), (1, 40, "a"),
        (2, 10, "x"), (2, 50, "y"),
        (3, 15, "m"),
    ]
    # three delivery batches, interleaved keys, out-of-order seq across
    # batches for key 1 — including the RESURRECTION case: (1,40,'a')
    # arrives while the history holds only (1,10,'a'), so a compressed
    # store would discard it; (1,20,'b') arriving later must bring the
    # a@40 version back
    batches = [[feed[0], feed[4]], [feed[3], feed[5], feed[6]],
               [feed[1], feed[2]]]
    hist = _full_raw(spark, batches[0])
    for b in batches[1:]:
        hist = scd2_apply_changes(
            hist, _log_df(spark, b), key_cols=["k"], seq_col="seq",
            attr_cols=["attr"],
        )
    # raw layer ≡ uncompressed full rebuild
    got = sorted(map(tuple, hist.collect()))
    want = sorted(map(tuple, _full_raw(spark, feed).collect()))
    assert got == want
    # compressed view ≡ compressed full rebuild (a@40 survives)
    got_c = sorted(map(tuple, scd2_compress(
        hist, key_cols=["k"], attr_cols=["attr"]).collect()))
    want_c = sorted(map(tuple, _full(spark, feed).collect()))
    assert got_c == want_c


def test_scd2_incremental_replay_and_untouched_keys(spark):
    from global_market_index_etl_spark.operators.scd2 import (
        scd2_apply_changes,
    )

    feed = [(1, 10, "a"), (1, 20, "b"), (2, 10, "x")]
    hist = _full_raw(spark, feed)
    # replay an already-applied batch: history must be unchanged,
    # including key 2 (untouched pass-through)
    replay = scd2_apply_changes(
        hist, _log_df(spark, feed[:2]), key_cols=["k"], seq_col="seq",
        attr_cols=["attr"],
    )
    assert sorted(map(tuple, replay.collect())) == sorted(
        map(tuple, hist.collect())
    )


def test_interval_join_negative_epochs(spark):
    """Pre-1970 timestamps: `div` truncates toward zero (not floor), which
    merely coarsens buckets around zero — monotonicity still guarantees
    trunc(lo) <= trunc(pt) <= trunc(hi-1), so no match can be lost."""
    intervals = [(1, -15, -5), (2, -5, 5), (3, -100, 100)]
    points = [(10, -15), (11, -6), (12, -5), (13, -1), (14, 0), (15, 4),
              (16, 5), (17, -99), (18, 99)]
    expect = _brute_pairs(points, intervals)
    for bucket in (1, 7, 10, 1000):
        got = _run_pairs(
            spark,
            [(pid, pt, 0) for pid, pt in points],
            [(iid, lo, hi, 0) for iid, lo, hi in intervals],
            bucket,
        )
        assert got == expect, f"bucket={bucket}"


# --------------------------------------------------------------------- #
# round-8 advice fixes
# --------------------------------------------------------------------- #


def test_interval_join_rejects_reserved_column(spark):
    """An input column named __bucket would be silently overwritten by the
    internal bucket derivation — must be rejected up front."""
    import pytest

    p = spark.createDataFrame([(1, 5, 0)], "pid long, pt long, __bucket long")
    i = spark.createDataFrame([(9, 0, 10)], "iid long, lo long, hi long")
    with pytest.raises(ValueError, match="reserved"):
        interval_join_bucketed(
            p, i, ts_col="pt", lo_col="lo", hi_col="hi", bucket_width=10
        )
    p2 = spark.createDataFrame([(1, 5)], "pid long, pt long")
    i2 = spark.createDataFrame(
        [(9, 0, 10, 0)], "iid long, lo long, hi long, __bucket long"
    )
    with pytest.raises(ValueError, match="reserved"):
        interval_join_bucketed(
            p2, i2, ts_col="pt", lo_col="lo", hi_col="hi", bucket_width=10
        )


def test_stream_interval_join_rejects_reserved_columns(spark):
    import pytest

    from global_market_index_etl_spark.streaming.joins import (
        stream_interval_join_bucketed,
    )

    p = spark.createDataFrame(
        [(1,)], "pid long"
    ).withColumn("pt", F.current_timestamp()).withColumn("__pb", F.lit(0))
    i = spark.createDataFrame([(9,)], "iid long").withColumn(
        "it", F.current_timestamp()
    )
    with pytest.raises(ValueError, match="reserved"):
        stream_interval_join_bucketed(
            p, i, point_ts_col="pt", interval_ts_col="it", window_seconds=60
        )


def test_interval_join_auto_bucket_width(spark):
    """bucket_width=None sizes buckets from the median interval length and
    produces exactly the brute-force pair set."""
    intervals = [(1, 0, 10), (2, 5, 25), (3, 100, 140), (4, 200, 201)]
    points = [(i, t) for i, t in enumerate(range(-5, 250, 3))]
    expect = _brute_pairs(points, intervals)
    got = _run_pairs(
        spark,
        [(pid, pt, 0) for pid, pt in points],
        [(iid, lo, hi, 0) for iid, lo, hi in intervals],
        None,  # auto
    )
    assert got == expect


def test_interval_join_auto_width_empty_intervals(spark):
    p = spark.createDataFrame([(1, 5, 0)], "pid long, pt long, pk long")
    i = spark.createDataFrame([], "iid long, lo long, hi long, ik long")
    j = interval_join_bucketed(
        p, i, ts_col="pt", lo_col="lo", hi_col="hi", bucket_width=None
    )
    assert j.count() == 0


def test_scd2_null_ordered_row_does_not_fake_version_start(spark):
    """A NULL in the order column must not mark its SUCCESSOR as a key's
    first row (the old lag(order).isNull() conflation): with identical
    attr values the successor row compresses away."""
    rows = [
        (1, None, 0, "a"),  # NULL-ordered row sorts first
        (1, 10, 0, "a"),    # same attr — must COLLAPSE, not survive
        (1, 30, 0, "b"),
    ]
    df = spark.createDataFrame(rows, "k long, seq long, tie long, attr string")
    got = sorted(
        map(
            tuple,
            scd2_from_changelog(
                df, key_cols=["k"], order_cols=["seq", "tie"],
                attr_cols=["attr"],
            ).select("k", "attr", "valid_from", "valid_to").collect(),
        ),
        key=str,
    )
    # versions: (a @ NULL..30), (b @ 30..open) — the seq=10 row collapsed
    assert got == [(1, "a", None, 30), (1, "b", 30, None)]


def test_scd2_apply_conflicting_redelivery_batch_wins(spark):
    """A batch row sharing (key, seq) with a stored version but different
    attributes is a correction: the BATCH row must win, deterministically,
    regardless of partitioning."""
    from global_market_index_etl_spark.operators.scd2 import (
        scd2_apply_changes,
        scd2_from_changelog,
    )

    hist_log = spark.createDataFrame(
        [(1, "old", 10), (1, "keep", 20)], "k long, attr string, seq long"
    )
    hist = scd2_from_changelog(
        hist_log, key_cols=["k"], order_cols=["seq"], attr_cols=["attr"],
        compress=False,
    )
    batch = spark.createDataFrame(
        [(1, "corrected", 10)], "k long, attr string, seq long"
    )
    for parts in (1, 2, 7):
        out = scd2_apply_changes(
            hist.repartition(parts),
            batch.repartition(parts),
            key_cols=["k"], seq_col="seq", attr_cols=["attr"],
        )
        rows = {(r.k, r.valid_from): r.attr for r in out.collect()}
        assert rows == {(1, 10): "corrected", (1, 20): "keep"}, f"parts={parts}"


def test_scd2_resolve_log_batch_internal_ties_deterministic(spark):
    """Batch-internal conflicting duplicates at the same (key, seq) resolve
    to the same survivor under any partitioning (attribute-value tiebreak)."""
    from global_market_index_etl_spark.operators.scd2 import scd2_resolve_log

    batch_rows = [(1, "zeta", 10), (1, "alpha", 10), (1, "mid", 10)]
    empty_hist = spark.createDataFrame([], "k long, attr string, seq long")
    got = set()
    for parts in (1, 3, 8):
        batch = spark.createDataFrame(
            batch_rows, "k long, attr string, seq long"
        ).repartition(parts)
        out = scd2_resolve_log(
            empty_hist, batch, key_cols=["k"], seq_col="seq",
            attr_cols=["attr"],
        ).collect()
        assert len(out) == 1
        got.add(out[0].attr)
    assert len(got) == 1  # same survivor every time


def test_interval_join_hot_bucket_is_aqe_skew_split(spark):
    """The module docstring claims input-skew hot buckets are an equi-join
    skew problem that AQE's skew-join handling splits at runtime (unlike
    the LSH band join's OUTPUT skew, which needs manual tiling).  Assert
    it: plant a hot bucket (200k points in one time slice vs 100k spread
    wide), lower the AQE skew thresholds to test scale, run, and require
    the final adaptive plan to carry a skew-split join."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        # no broadcast: force the shuffled join AQE skew-handling targets
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB"
        )
        pts_hot = spark.range(200_000).select(
            (F.col("id") % 10).alias("pt"), F.col("id").alias("pid")
        )
        pts_cold = spark.range(100_000).select(
            (F.col("id") * 17 % 1_000_000).alias("pt"),
            (F.col("id") + 300_000).alias("pid"),
        )
        intervals = spark.range(2_000).select(
            (F.col("id") * 500).alias("lo"),
            (F.col("id") * 500 + 50).alias("hi"),
            F.col("id").alias("iid"),
        )
        j = interval_join_bucketed(
            pts_hot.unionByName(pts_cold),
            intervals,
            ts_col="pt",
            lo_col="lo",
            hi_col="hi",
            bucket_width=10,
        ).groupBy().count()
        [[n]] = j.collect()
        assert n > 0
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, (
            "planted hot bucket was not skew-split by AQE:\n" + plan[:800]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scd2_resolve_log_rejects_reserved_columns(spark):
    import pytest

    from global_market_index_etl_spark.operators.scd2 import scd2_resolve_log

    hist = spark.createDataFrame([], "k long, __src string, seq long")
    batch = spark.createDataFrame(
        [(1, "x", 10)], "k long, __src string, seq long"
    )
    with pytest.raises(ValueError, match="reserved"):
        scd2_resolve_log(
            hist, batch, key_cols=["k"], seq_col="seq", attr_cols=["__src"]
        )


def _exact_substr(spark, docs, min_len=4, keep_first=True):
    from global_market_index_etl_spark.operators.spans import (
        exact_substring_dedup,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = exact_substring_dedup(
        df, doc_id="doc_id", text_col="text", min_len=min_len,
        keep_first=keep_first,
    )
    return {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_removed_tokens)
        for r in out.collect()
    }


def test_exact_substring_keeps_first_occurrence(spark):
    """ExactSubstr semantics (Lee et al.): the corpus-wide FIRST copy of a
    repeated ≥L-token block survives; later copies are removed."""
    docs = [
        (1, "alpha one two three four beta"),
        (2, "gamma one two three four delta"),
        (3, "totally unrelated content sits here"),
    ]
    got = _exact_substr(spark, docs, min_len=4)
    assert got[1] == ("alpha one two three four beta", 6, 0)  # first copy
    assert got[2] == ("gamma delta", 6, 4)  # later copy scrubbed
    assert got[3] == ("totally unrelated content sits here", 5, 0)


def test_exact_substring_unaligned_offsets(spark):
    """The planted UNALIGNED case (round-11 verdict item 6): the repeated
    block starts at token 1 in one doc and token 4 in the other — no
    shared alignment grid. Stride-1 windows catch it exactly."""
    docs = [
        (1, "one two three four five tail1 tail2"),
        (2, "pre1 pre2 pre3 one two three four five post"),
    ]
    got = _exact_substr(spark, docs, min_len=5)
    assert got[1] == ("one two three four five tail1 tail2", 7, 0)
    assert got[2] == ("pre1 pre2 pre3 post", 9, 5)


def test_exact_substring_within_doc_repeat_counts(spark):
    """Unlike the cross-document boilerplate scrubber, a block pasted
    twice inside ONE document is a repeat: the first paste survives, the
    second is removed."""
    docs = [(1, "a b c d mid1 mid2 a b c d"), (2, "x y z w q r s t")]
    got = _exact_substr(spark, docs, min_len=4)
    assert got[1] == ("a b c d mid1 mid2", 10, 4)
    assert got[2][2] == 0


def test_exact_substring_long_region_union_of_windows(spark):
    """A repeated region LONGER than L is covered completely (union of its
    stride-1 L-windows), and the survivor copy stays complete."""
    block = "w1 w2 w3 w4 w5 w6 w7"  # 7 tokens, L=4 → 4 windows
    docs = [(1, f"{block} enda"), (2, f"startb {block}")]
    got = _exact_substr(spark, docs, min_len=4)
    assert got[1] == (f"{block} enda", 8, 0)
    assert got[2] == ("startb", 8, 7)


def test_exact_substring_remove_all_mode(spark):
    """keep_first=False reproduces the boilerplate-scrubber behavior:
    every copy goes, including the first."""
    docs = [
        (1, "alpha one two three four beta"),
        (2, "gamma one two three four delta"),
    ]
    got = _exact_substr(spark, docs, min_len=4, keep_first=False)
    assert got[1] == ("alpha beta", 6, 4)
    assert got[2] == ("gamma delta", 6, 4)


def test_exact_substring_survivor_is_corpus_global_minimum(spark):
    """With three copies the (doc_id, position)-minimal one survives —
    deterministic regardless of partitioning."""
    docs = [
        (5, "pad1 pad2 one two three four"),  # later doc, later position
        (3, "one two three four tail"),        # doc 3, position 1 → survivor
        (9, "one two three four"),
    ]
    got = _exact_substr(spark, docs, min_len=4)
    assert got[3] == ("one two three four tail", 5, 0)
    assert got[5] == ("pad1 pad2", 6, 4)
    assert got[9] == ("", 4, 4)


# --------------------------------------------------------------------- #
# adversarial skew: one mega-hot planted window (round-13 verdict item 1)
# --------------------------------------------------------------------- #
#
# The salted two-phase kernel exists exactly for this corpus shape: ONE
# window fingerprint carried by (almost) every document — the license
# header / navigation chrome case that concentrates on a single reducer
# under a count-over-Window(__w) formulation. These tests pin the
# VALUE contract on that shape (the survivor election and coverage stay
# exact) and the salt-invariance property (any n_salts gives the same
# answer — partial counts are additive, survivor is min-of-mins). The
# timing proof at 100k+ occurrences lives in scripts/scale_testdata.py's
# planted-skew smoke.


def _hot_corpus(n_docs: int, block: str, k: int):
    """Every doc carries the same k-token block at a varying position,
    surrounded by per-doc-unique filler; doc 7 carries it twice."""
    docs = []
    for i in range(1, n_docs + 1):
        pre = " ".join(f"u{i}x{j}" for j in range(i % 3))
        post = f"u{i}tail0 u{i}tail1"
        text = f"{pre} {block} {post}".strip()
        if i == 7:
            text = f"{text} {block}"
        docs.append((i, text))
    return docs


def test_planted_hot_window_exact_substring_survivor(spark):
    from global_market_index_etl_spark.operators.spans import (
        exact_substring_dedup,
    )

    k = 6
    block = "h0 h1 h2 h3 h4 h5"
    docs = _hot_corpus(120, block, k)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = exact_substring_dedup(
        df, min_len=k, keep_first=True, n_salts=5
    ).collect()
    got = {r.doc_id: (r.cleaned_text, r.n_removed_tokens) for r in out}
    assert len(got) == 120
    # the corpus-wide first occurrence is min (doc_id, position): doc 1
    # has the block at the earliest position of the smallest doc_id —
    # the block must survive there and ONLY there.
    survivors = [d for d, (txt, _) in got.items() if block in txt]
    assert survivors == [1], survivors
    # every other doc lost exactly the k block tokens (doc 7 lost 2k:
    # its in-doc repeat is a global repeat too).
    for d, (txt, removed) in got.items():
        if d == 1:
            assert removed == 0
        elif d == 7:
            assert removed == 2 * k
        else:
            assert removed == k, (d, txt, removed)


def test_planted_hot_window_salt_invariance(spark):
    from global_market_index_etl_spark.operators.spans import (
        duplicate_span_suite,
        duplicate_window_profile,
        exact_substring_dedup,
        remove_duplicate_spans,
    )

    k = 4
    block = "h0 h1 h2 h3"
    docs = _hot_corpus(60, block, k)
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def rows(df_out):
        return sorted(tuple(r) for r in df_out.collect())

    base = rows(exact_substring_dedup(df, min_len=k, n_salts=1))
    for n_salts in (3, 16):
        assert rows(
            exact_substring_dedup(df, min_len=k, n_salts=n_salts)
        ) == base

    suite1 = rows(
        duplicate_span_suite(df, k=k, n_salts=1, share_cache=False)
    )
    suite16 = rows(
        duplicate_span_suite(df, k=k, n_salts=16, share_cache=False)
    )
    assert suite1 == suite16

    removed1 = rows(
        remove_duplicate_spans(df, k=k, n_salts=1, share_cache=False)
    )
    removed16 = rows(
        remove_duplicate_spans(df, k=k, n_salts=16, share_cache=False)
    )
    assert removed1 == removed16

    profile1 = rows(duplicate_window_profile(df, k=k, n_salts=1))
    profile16 = rows(duplicate_window_profile(df, k=k, n_salts=16))
    assert profile1 == profile16


def test_planted_hot_window_profile_counts(spark):
    k = 4
    block = "h0 h1 h2 h3"
    docs = _hot_corpus(80, block, k)
    got = _profile(spark, docs, k=k)
    # the block is the only cross-doc duplicate; every doc's dup-window
    # count is exactly its number of block occurrences (overlap-free by
    # construction: filler tokens are doc-unique).
    for d, (_, n_dup) in got.items():
        assert n_dup == (2 if d == 7 else 1), (d, got[d])
