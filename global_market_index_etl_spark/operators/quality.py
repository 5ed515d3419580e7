"""Data-quality aggregates (SURVEY.md §2.9 A1-A4, §2.5 F6).

The reference logs per-column null counts, stage row counts, time ranges and
unique metadata values (standardizer.py:253-258, currency_converter.py:170-174,
main.py:76-93, notebook probes). Each becomes one Spark aggregation —
partial (map-side) aggregation makes all of these single-shuffle-of-scalars
jobs regardless of input size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def null_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A1 — one row, one column per input column with its NULL count
    (standardizer.py:253-258). All counters computed in a single pass."""
    cols = columns or df.columns
    return df.agg(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
            for c in cols
        ]
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    order: list | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, best-first — the per-domain cap
    every web-corpus curation pipeline applies so one boilerplate-heavy
    source cannot dominate the training mix.

    ``order`` ranks rows within the group (e.g. quality desc); ``id_col``
    appended as tie-break makes the survivors deterministic. One keyed
    window shuffle; Spark pushes a per-group top-cap limit into the sort
    (WindowGroupLimit), so no group's full row set is ever materialized.
    """
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    ordering = list(order or [])
    if id_col is not None:
        ordering.append(F.col(id_col).asc())
    if not ordering:
        raise ValueError("pass order and/or id_col — unordered cap is "
                         "nondeterministic")
    w = Window.partitionBy(group_col).orderBy(*ordering)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


# --- expectations: declarative row-level data-quality rules -------------

def expect_not_null(column: str):
    """Rule: column must be non-null."""
    return (f"{column}_not_null", F.col(column).isNotNull())


def expect_in_range(column: str, lo, hi):
    """Rule: lo <= column <= hi (NULL fails)."""
    cond = (F.col(column) >= lo) & (F.col(column) <= hi)
    return (f"{column}_in_range", F.coalesce(cond, F.lit(False)))


def expect_in_set(column: str, allowed: list):
    """Rule: column ∈ allowed (NULL fails)."""
    return (
        f"{column}_in_set",
        F.coalesce(F.col(column).isin(allowed), F.lit(False)),
    )


def expect_matches(column: str, pattern: str):
    """Rule: column fully matches the regex (NULL fails)."""
    return (
        f"{column}_matches",
        F.coalesce(F.col(column).rlike(pattern), F.lit(False)),
    )


def expect_unique(column: str):
    """Rule marker for column uniqueness — enforced with one groupBy in
    ``validate`` (a window, not a per-row predicate)."""
    return (f"{column}_unique", ("__unique__", column))


def validate(df: DataFrame, rules: list) -> tuple[DataFrame, DataFrame]:
    """Evaluate declarative expectations; returns ``(flagged, report)``.

    ``flagged`` is the input plus one boolean column per rule and a
    ``n_violations`` total — callers route clean/dirty rows downstream
    (``flagged.filter('n_violations = 0')``). ``report`` is the one-row
    per-rule violation-count summary the reference logs per stage
    (standardizer.py:253-258 generalized).

    Per-row rules are pure codegen predicates evaluated in ONE pass;
    uniqueness needs group context and costs one keyed window shuffle on
    the checked column. At 100 TB: predicates are scan-speed; put
    ``expect_unique`` only on key columns you would shuffle on anyway.
    """
    from pyspark.sql import Window

    flagged = df
    names: list[str] = []
    for name, rule in rules:
        if isinstance(rule, tuple) and rule[0] == "__unique__":
            col = rule[1]
            w = Window.partitionBy(col)
            flagged = flagged.withColumn(
                name, F.count(F.lit(1)).over(w) == 1
            )
        else:
            flagged = flagged.withColumn(name, rule)
        names.append(name)
    total = None
    for name in names:
        v = (~F.col(name)).cast("int")
        total = v if total is None else (total + v)
    flagged = flagged.withColumn("n_violations", total)
    report = flagged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum((~F.col(name)).cast("long")).alias(f"viol_{name}")
            for name in names
        ],
    )
    return flagged, report
