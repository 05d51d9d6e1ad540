"""Key-uniqueness at table scale — the reference's ``uniqueItems``
(draft04.py:391-422) lifted from row-local arrays to a 10^12-row column
(SURVEY.md §2.7).

Skew: the failure mode at web scale is a *hot key* (e.g. a crawler bug
emitting one url billions of times).  ``groupBy(key).count()`` already
bounds it: the map side runs a partial aggregation (``partial_count``)
before the shuffle, so each map partition ships at most ONE row per key
— a hot key reaches its reducer as at most (#map partitions) subtotals,
never as its raw rows.  That is exactly what a salted two-stage
aggregate (group by key and partition id, then by key) would ship, minus
the salted stage's own full shuffle, so there is one aggregation.
``uniqueness_report`` still accepts ``salted=`` for existing callers; it
does not change the plan.  AQE's skew handling covers the residual case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _key_counts(df: DataFrame, keys: list[str] | str) -> DataFrame:
    """``keys..., dup_count``: rows per key."""
    if isinstance(keys, str):
        keys = [keys]
    return df.groupBy(*keys).agg(F.expr("count(1) AS dup_count"))


def duplicate_keys(df: DataFrame, keys: list[str] | str) -> DataFrame:
    """Keys appearing more than once, with their multiplicity.

    Returns ``keys... , dup_count`` sorted nowhere (caller orders).
    """
    return _key_counts(df, keys).where("dup_count > 1")


def uniqueness_report(df: DataFrame, keys: list[str] | str, *, salted: bool = True) -> DataFrame:
    """One-row summary: total rows, distinct keys, duplicated keys, extra
    rows attributable to duplicates.  ``salted`` does not change the plan
    (module docstring)."""
    return _key_counts(df, keys).selectExpr(
        "sum(dup_count) AS total_rows",
        "count(1) AS distinct_keys",
        "sum(CAST(dup_count > 1 AS BIGINT)) AS duplicated_keys",
        "sum(CASE WHEN dup_count > 1 THEN dup_count - 1 ELSE 0 END)"
        " AS surplus_rows")
