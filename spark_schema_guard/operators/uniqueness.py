"""Key-uniqueness at table scale — the reference's ``uniqueItems``
(draft04.py:391-422) lifted from row-local arrays to a 10^12-row column
(SURVEY.md §2.7).

Skew strategy: a straight ``groupBy(key).count()`` already does map-side
partial aggregation, so duplicate keys compress before the shuffle; the
failure mode at web scale is a *hot key* (e.g. a crawler bug emitting one
url billions of times) whose partial counts still land on one reducer
together with its raw siblings.  ``salted=True`` runs the classic two-stage
aggregate: stage 1 groups by (key, spark_partition_id) — purely map-local,
no skew possible — stage 2 re-aggregates the per-partition subtotals by
key, shuffling at most (#partitions) rows per key regardless of its row
count.  AQE's skew handling covers the residual case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _key_counts(df: DataFrame, keys: list[str] | str,
                salted: bool) -> DataFrame:
    """``keys..., dup_count``: rows per key, salted or not."""
    if isinstance(keys, str):
        keys = [keys]
    if salted:
        partials = (
            df.groupBy(*keys, F.spark_partition_id().alias("__salt"))
            .agg(F.count(F.lit(1)).alias("__partial"))
        )
        return partials.groupBy(*keys).agg(F.sum("__partial").alias("dup_count"))
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("dup_count"))


def duplicate_keys(
    df: DataFrame,
    keys: list[str] | str,
    *,
    salted: bool = True,
) -> DataFrame:
    """Keys appearing more than once, with their multiplicity.

    Returns ``keys... , dup_count`` sorted nowhere (caller orders).
    """
    return _key_counts(df, keys, salted).where(F.col("dup_count") > 1)


def uniqueness_report(df: DataFrame, keys: list[str] | str, *, salted: bool = True) -> DataFrame:
    """One-row summary: total rows, distinct keys, duplicated keys, extra
    rows attributable to duplicates."""
    n = F.col("dup_count")
    return _key_counts(df, keys, salted).agg(
        F.sum(n).alias("total_rows"),
        F.count(F.lit(1)).alias("distinct_keys"),
        F.sum((n > 1).cast("long")).alias("duplicated_keys"),
        F.sum(F.when(n > 1, n - 1).otherwise(0)).alias("surplus_rows"),
    )
