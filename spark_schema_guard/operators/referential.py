"""Referential-integrity checks — the table-scale flavor of the
reference's ``$ref``/``dependencies`` keywords (SURVEY.md §2.7).

``orphan_rows`` is a LEFT ANTI join: fact rows whose foreign key has no
match in the dimension.  Join-strategy selection for scale:

* dimension small (the common case for closed-world code lists like
  languages) → ``F.broadcast(dim)``: no shuffle of the 10^12-row fact side
  at all, the anti-join runs map-side;
* dimension large → sort-merge anti join; AQE re-plans to broadcast at
  runtime if the dimension turns out under the threshold, and splits
  skewed fact partitions (hot FK values) via skew-join handling.

``referential_report`` counts the same orphans in one scan of the fact
side: a left join to the dimension keys, which carry a hit flag, feeds
one aggregation (fact rows, orphan rows, approximate orphan keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dim_keys(dim: DataFrame, fk: str, pk: str | None,
              broadcast_dim: bool | None) -> DataFrame:
    """Distinct dimension keys renamed to ``fk``, broadcast unless
    ``broadcast_dim`` is False (dims are small in the validation
    workload)."""
    keys = dim.select(F.col(pk or fk).alias(fk)).dropDuplicates([fk])
    if broadcast_dim is None or broadcast_dim:
        keys = F.broadcast(keys)
    return keys


def orphan_rows(
    fact: DataFrame,
    dim: DataFrame,
    fk: str,
    pk: str | None = None,
    *,
    broadcast_dim: bool | None = None,
    null_is_violation: bool = False,
) -> DataFrame:
    """Fact rows whose ``fk`` does not resolve in ``dim.pk``.

    NULL fks are absent properties under the engine's convention and pass
    by default (``required`` owns missing-ness); flip ``null_is_violation``
    to count them.
    """
    keys = _dim_keys(dim, fk, pk, broadcast_dim)
    candidates = fact if null_is_violation else fact.where(F.col(fk).isNotNull())
    return candidates.join(keys, on=fk, how="left_anti")


def referential_report(
    fact: DataFrame,
    dim: DataFrame,
    fk: str,
    pk: str | None = None,
    *,
    broadcast_dim: bool | None = None,
    null_is_violation: bool = False,
) -> DataFrame:
    """One-row summary of an FK check: fact rows, orphan rows, orphan keys
    (the counts of :func:`orphan_rows` under the same flags)."""
    keys = _dim_keys(dim, fk, pk, broadcast_dim).withColumn("__hit", F.lit(True))
    orphan = F.col("__hit").isNull()
    if not null_is_violation:
        orphan = orphan & F.col(fk).isNotNull()
    return fact.select(fk).join(keys, on=fk, how="left").agg(
        F.count(F.lit(1)).alias("fact_rows"),
        F.count_if(orphan).alias("orphan_rows"),
        F.approx_count_distinct(F.when(orphan, F.col(fk))).alias("orphan_keys"),
    )
