"""Wide↔long reshaping (SURVEY.md §2.3).

The reference unpivots the yfinance wide MultiIndex frame with
``raw_df.stack(level=0)`` (standardizer.py:50-75). In Spark the idiomatic
equivalents are ``DataFrame.unpivot`` (a.k.a. melt) when measure columns
become (name, value) rows, and plain long-format sources when we control the
scan. Both are narrow (no shuffle): unpivot is a generator-style projection
that multiplies rows within a partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def unpivot(
    df: DataFrame,
    id_columns: list[str],
    value_columns: list[str],
    variable_name: str = "field",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long: one output row per (input row × value column).

    Spark mapping of pandas ``stack`` (reference standardizer.py:71-73).
    Values are cast to a common type by ``unpivot`` — callers should align
    types first if they mix ints and doubles.
    """
    return df.unpivot(id_columns, value_columns, variable_name, value_name)

