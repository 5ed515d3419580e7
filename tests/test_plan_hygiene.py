"""Plan-shape guards over EVERY declared query — the properties that decide
whether a plan survives a 100× scale-up, asserted mechanically so a future
edit cannot silently regress them.

- No CartesianProduct / BroadcastNestedLoopJoin outside the explicit
  all-pairs allowlist (the exact similarity kernels, whose join condition
  is deliberately non-equi; their scale paths are the LSH/IVF variants).
- Parquet scans must prune columns: no scan may read every column of the
  wide tables unless the query's semantics genuinely need them.
"""

from __future__ import annotations

import os
import re

import pytest

from global_market_index_etl_spark.operators.util import broadcast_if_small
from global_market_index_etl_spark.plans import REGISTRY
from global_market_index_etl_spark.sources import load_table

from .conftest import SF_SMALL

# exact all-pairs kernel: ann_probe_suite's BRUTE leg is the documented
# non-equi probes×corpus design (probe side broadcast) — but its lsh leg
# and the other bucketed variants (ann_ivf_topk, emb_neardup_cosine,
# dedup_*) are the scale path and must stay equi-join, so the suite gets
# a TIGHT allowance (≤ 1 fact-table non-equi join, and never a
# CartesianProduct) instead of a blanket exemption: a regression that
# degrades the lsh bucket probe to a second all-pairs join still fails.
ALLPAIRS_BUDGET = {"ann_probe_suite": 1}

_BNLJ_FACT_RE = (
    r"BroadcastNestedLoopJoin[\s\S]{0,2000}?"
    r"Scan parquet[^\n]*(lineitem|events|documents|embeddings)"
)

# full-width reads that are semantically required (SELECT * shapes)
FULL_WIDTH_OK = {
    "e1_pipeline_market_bars",
    "mm_decode_features",
    # skew_salted_pipeline left this list in round 15: the adaptive join
    # salts the ALREADY-PRUNED 2-column fact, so its scans prune normally.
    "k2_upsert_roundtrip",  # reads back its own 3-column table
}

LINEITEM_WIDTH = 11  # columns in the fixture lineitem table


def _formatted_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_accidental_cross_join(spark, name):
    plan = _formatted_plan(REGISTRY[name].spark(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, name
    # BNLJ is fine only for tiny broadcast inputs (calendar grids etc.);
    # flag it on the big tables — up to the declared budget for the one
    # suite whose brute leg IS a documented fact-table non-equi join
    if "BroadcastNestedLoopJoin" in plan:
        hits = len(re.findall(_BNLJ_FACT_RE, plan))
        assert hits <= ALLPAIRS_BUDGET.get(name, 0), (
            f"{name}: {hits} non-equi join(s) against a fact table "
            f"(budget {ALLPAIRS_BUDGET.get(name, 0)})"
        )


# Tables whose row count grows linearly with the scale factor.  An
# unconditional F.broadcast() on any of these overrides the session's
# autoBroadcastJoinThreshold safety and OOMs at 100× — the hint must go
# through the stats-guarded broadcast_if_small instead.
_SF_SCALED = ("customer", "part", "supplier", "orders", "lineitem",
              "events", "documents", "embeddings")
_FORCED_HINT = re.compile(
    r"F\.broadcast\(\s*(?:" + "|".join(_SF_SCALED) + r")\b"
)


def test_no_unconditional_broadcast_of_scaled_tables():
    """Source lint: every broadcast of an sf-scaled table is stats-guarded.

    `part_keys`, `avg_bal`, `sn`/`cn` etc. are bounded derivations and pass
    (the regex requires the bare table identifier).  A new query that writes
    `F.broadcast(customer)` fails here before it ever reaches the driver.
    """
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "global_market_index_etl_spark",
    )
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if _FORCED_HINT.search(line):
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, (
        "unconditional broadcast hint on an sf-scaled table:\n"
        + "\n".join(offenders)
    )


def test_broadcast_if_small_hints_only_under_threshold(spark):
    nation = load_table(spark, SF_SMALL, "nation")
    hinted = broadcast_if_small(nation)
    assert "ResolvedHint" in str(hinted._jdf.queryExecution().analyzed()), (
        "small parquet scan should receive the broadcast hint"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        unhinted = broadcast_if_small(nation)
        assert "ResolvedHint" not in str(
            unhinted._jdf.queryExecution().analyzed()
        ), "side over the threshold must pass through unhinted"
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert broadcast_if_small(nation) is nation, (
            "disabled auto-broadcast must disable the hint too"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_if_small_skips_statless_plans(spark):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    out = broadcast_if_small(df)
    assert "ResolvedHint" not in str(out._jdf.queryExecution().analyzed()), (
        "no statistics ⇒ leave the decision to AQE"
    )


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n, q in REGISTRY.items()
        if n not in FULL_WIDTH_OK
    ),
)
def test_scans_prune_columns(spark, name):
    plan = _formatted_plan(REGISTRY[name].spark(spark, SF_SMALL))
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        ncols = len(m.group(1).split(",")) if m.group(1) else 0
        assert ncols < LINEITEM_WIDTH, (
            f"{name}: scan reads {ncols} columns — projection not pruned"
        )


# Selective predicates must reach the parquet reader as PushedFilters —
# at 100 TB the difference between scanning a day and scanning the table.
# Each entry: (query, fragment that must appear inside a PushedFilters list)
PUSHDOWN_EXPECTED = {
    # Q1's recent5 leg (fused into the sort/rank suite in round 13)
    "q_sort_limit_suite": ["EqualTo(o_custkey,42)"],
    # fused filter suite: BOTH legs' predicates must still reach their scans
    "f_filter_suite": ["GreaterThanOrEqual(ts,", "In(l_returnflag,"],
    "j4_interval_join": ["EqualTo(event_type,error"],
    # the q6 leg of the fused suite stays the canonical pushdown probe
    "tpch_scalar_agg_suite": ["IsNotNull(l_shipdate)"],
    "tpch_q12_priority_buckets": ["IsNotNull(l_shipdate)"],
}


@pytest.mark.parametrize("name", sorted(PUSHDOWN_EXPECTED))
def test_selective_filters_reach_the_scan(spark, name):
    plan = _formatted_plan(REGISTRY[name].spark(spark, SF_SMALL))
    pushed = " | ".join(
        re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    )
    for fragment in PUSHDOWN_EXPECTED[name]:
        assert fragment in pushed, (
            f"{name}: expected pushdown fragment {fragment!r} missing — "
            f"PushedFilters: {pushed[:200]}"
        )


def _formatted_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_doc_prepartition_reused_across_feature_aggregations(spark):
    """Partitioning-reuse guard (round 10): DSIR featurization and the
    span-dedup profile pre-partition the DOCUMENTS by id, and every
    downstream id-keyed aggregation must reuse that partitioning. The
    static plan therefore carries exactly ONE document-keyed hash
    exchange — the one that moves one row per document — and NO exchange
    keyed on (doc_id, bucket)/(doc_id, window) feature rows, which is the
    regression this guards against (a 4.3M-row shuffle at sf1 vs 50k;
    ~170× the payload at corpus scale)."""
    from global_market_index_etl_spark.operators.sampling import dsir_select
    from global_market_index_etl_spark.operators.spans import (
        duplicate_window_profile,
    )
    import pyspark.sql.functions as F

    docs = load_table(spark, SF_SMALL, "documents")

    plan = _formatted_plan(dsir_select(docs, F.col("lang") == "en", 10))
    # the feature-row aggregation key would appear as
    # hashpartitioning(doc_id, _groupingexpression...) or
    # hashpartitioning(doc_id, bucket...)
    assert not re.search(
        r"hashpartitioning\(doc_id\S*, (?:__tgt|_groupingexpression|bucket)",
        plan,
    ), "DSIR feature rows are being shuffled — doc pre-partition regressed"
    assert re.search(r"hashpartitioning\(doc_id\S*, \d+\)", plan), (
        "expected the one-row-per-document repartition exchange"
    )

    plan = _formatted_plan(duplicate_window_profile(docs))
    assert not re.search(
        r"hashpartitioning\(doc_id\S*, (?:_groupingexpression|__w)", plan
    ), "span windows are being shuffled by (doc, window) — regressed"
    assert re.search(r"hashpartitioning\(doc_id\S*, \d+\)", plan)


def test_span_suite_legs_share_the_persisted_reduction(spark):
    """The fused span suite's whole point (round 11): BOTH legs must read
    the persisted one-row-per-(window, doc) reduction instead of each
    re-running the window explode + shuffle — the executed plan shows two
    InMemoryTableScans over it (profile leg + removal leg's covered-set
    branch). A regression to per-leg recompute drops them to zero."""
    from global_market_index_etl_spark.operators.spans import (
        duplicate_span_suite,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    plan = duplicate_span_suite(docs, k=8)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, (
        "span suite legs no longer share the persisted (window, doc) "
        "reduction:\n" + plan[:1500]
    )


def test_exact_substring_salted_skew_proof_plan(spark):
    """ExactSubstr's scale contract (round 13, verdict item 1): the
    per-fingerprint (count, survivor) verdicts ride a SALTED two-phase
    aggregate, never a window function or an unsalted occurrence-row
    reduction keyed on the raw fingerprint — a mega-hot boilerplate
    window (10^8 occurrences of one license header at 100 TB) must
    spread across salts instead of landing on one reducer. Concretely:

    - NO Window operator anywhere in the plan (the round-12 formulation's
      count/min-over-Window(__w) was the skew);
    - at least one exchange keyed (__w, __salt) — the occurrence-row
      partials and/or the verdict join-back;
    - exactly ONE exchange keyed on __w alone: the partials→totals
      reduction, whose input is bounded to ≤ n_salts rows per window by
      construction;
    - no nested-loop/cartesian anywhere."""
    from global_market_index_etl_spark.operators.spans import (
        exact_substring_dedup,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    plan = exact_substring_dedup(docs)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not re.search(r"\n[^\n]*\bWindow\b", plan), (
        "a window function crept back into ExactSubstr — the "
        "per-fingerprint verdicts must stay a salted two-phase aggregate"
    )
    n_salted = len(re.findall(r"hashpartitioning\(__w#\d+L?, __salt#\d+", plan))
    assert n_salted >= 1, (
        "expected the salted (__w, __salt) partials exchange:\n"
        + plan[:1500]
    )
    n_w_alone = len(re.findall(r"hashpartitioning\(__w#\d+L?, \d+\)", plan))
    assert n_w_alone == 1, (
        f"expected exactly one __w-alone exchange (the bounded "
        f"partials→totals reduction), found {n_w_alone}:\n" + plan[:1500]
    )
    _assert_adaptive_replication(plan)


def test_span_window_key_is_two_hashes_wide(spark):
    """Every span operator keys its windows on TWO xxhash64 of the token
    slice (a 128-bit key): at the 100 TB design point a single 64-bit key
    expects millions of birthday collisions, each one deleting legitimate
    text.  The window generator in each plan must evaluate both hashes
    per window."""
    from global_market_index_etl_spark.operators import spans

    docs = load_table(spark, SF_SMALL, "documents")
    for op in (
        spans.duplicate_window_profile,
        spans.remove_duplicate_spans,
        spans.duplicate_span_suite,
        spans.exact_substring_dedup,
    ):
        plan = _formatted_plan(op(docs))
        generators = [
            line for line in plan.splitlines()
            if "explode(transform(" in line
        ]
        assert generators, f"{op.__name__}: no window generator in plan"
        for line in generators:
            n = len(re.findall(r"xxhash64\((?:\d+, )?slice\(__t", line))
            assert n == 2, (
                f"{op.__name__}: window key evaluates {n} slice hash(es), "
                f"expected 2:\n{line}"
            )


def _assert_adaptive_replication(plan: str) -> None:
    """Round 14 (verdict item 1): verdict replication must be OCCUPANCY-
    based — exploding the collected occupied-salt list — never the flat
    ×n_salts ``explode(sequence(0, n_salts-1))`` cross that taxed every
    cold duplicated window with a 16× verdict fan-out it never used
    (the measured ~4× sf1 span-tier constant factor)."""
    assert not re.search(r"explode\(sequence\(0,\s*\d+", plan), (
        "flat x n_salts verdict replication crept back — replicate to "
        "the occupied salts (collect_list in the totals aggregate), not "
        "the full salt range:\n" + plan[:1500]
    )
    assert re.search(r"explode\(__occ#\d+", plan), (
        "expected the occupied-salt explode (__occ) in the verdict "
        "subtree:\n" + plan[:1500]
    )


def test_span_suite_salted_skew_proof_plan(spark):
    """The k=8 boilerplate tier shares ExactSubstr's salted discipline
    (round 13): no Window operator in the fused suite's plan, and the
    document-frequency verdicts reduce through the salted partials;
    round 14 adds the occupancy-adaptive replication contract."""
    from global_market_index_etl_spark.operators.spans import (
        duplicate_span_suite,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    plan = duplicate_span_suite(docs, k=8)._jdf.queryExecution(
    ).executedPlan().toString()
    assert not re.search(r"\n[^\n]*\bWindow\b", plan), (
        "a window function crept back into the span suite — the "
        "doc-frequency verdicts must stay a salted two-phase aggregate"
    )
    assert len(
        re.findall(r"hashpartitioning\(__w#\d+L?, __salt#\d+", plan)
    ) >= 1
    _assert_adaptive_replication(plan)


def test_skew_salted_pipeline_adaptive_join_plan(spark):
    """Round 15: salted_join is histogram-adaptive, and the registry row
    must PROVE both dispositions in its executed plan:

    - the 'uniform' leg's probe comes back empty, so its join is the
      PLAIN equi-join — exactly one Generate/explode in the whole fused
      plan (the planted leg's), not two;
    - the planted leg's small-side replication is CONDITIONAL (explode of
      a CASE WHEN hot THEN n_salts-array ELSE [salt-0] array) — the flat
      unconditional ``explode(sequence(0, n_salts-1))`` that replicated
      every dimension row ×16 is forbidden (the round-14 span-tier
      lesson applied to the generic join);
    - no nested-loop/cartesian anywhere."""
    plan = REGISTRY["skew_salted_pipeline"].spark(
        spark, SF_SMALL
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not re.search(r"explode\(sequence\(0,\s*\d+", plan), (
        "flat x n_salts small-side replication crept back — the salted "
        "join must replicate hot keys only:\n" + plan[:1500]
    )
    engaged = re.findall(r"Generate explode\(CASE WHEN", plan)
    assert len(engaged) == 1, (
        f"expected exactly ONE conditional-replication explode (the "
        f"planted leg; the uniform leg must degrade to the plain join), "
        f"found {len(engaged)}:\n" + plan[:1500]
    )
