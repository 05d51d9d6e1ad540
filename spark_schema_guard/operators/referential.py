"""Referential-integrity checks — the table-scale flavor of the
reference's ``$ref``/``dependencies`` keywords (SURVEY.md §2.7).

A foreign key resolves when SOME dimension row carries it: referential
integrity is an existence predicate over the dimension keys, so neither
check deduplicates the dimension (duplicate keys cannot multiply fact
rows in a semi/anti/existence join, and a NULL key never matches).

``orphan_rows`` is a LEFT ANTI join: fact rows whose foreign key has no
match in the dimension.  ``referential_report`` counts the same orphans
in one scan of the fact side: each fact key gets a ``NOT EXISTS`` flag
over the dimension (an ``ExistenceJoin``), which feeds one aggregation
(fact rows, orphan rows, approximate orphan keys).  Join-strategy
selection for scale:

* dimension small (the common case for closed-world code lists like
  languages) → ``F.broadcast(dim)``: no shuffle of the 10^12-row fact side
  at all, the join runs map-side;
* dimension large → sort-merge join; AQE re-plans to broadcast at
  runtime if the dimension turns out under the threshold, and splits
  skewed fact partitions (hot FK values) via skew-join handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..columnar.varsql import sqlident


def _dim_keys(dim: DataFrame, name: str, pk: str,
              broadcast_dim: bool | None) -> DataFrame:
    """The dimension's keys as column ``name``, broadcast unless
    ``broadcast_dim`` is False (dims are small in the validation
    workload)."""
    keys = dim.select(F.col(pk).alias(name))
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
    keys = _dim_keys(dim, fk, pk or fk, broadcast_dim)
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
    keys = _dim_keys(dim, "__pk", pk or fk, broadcast_dim)
    hit = keys.where(F.col("__pk") == F.col(fk).outer()).exists()
    orphan = "__orphan"
    if not null_is_violation:
        orphan += f" AND {sqlident(fk)} IS NOT NULL"
    return fact.select(F.col(fk), (~hit).alias("__orphan")).selectExpr(
        "count(1) AS fact_rows",
        f"count_if({orphan}) AS orphan_rows",
        f"approx_count_distinct(CASE WHEN {orphan} THEN {sqlident(fk)} END)"
        " AS orphan_keys")
