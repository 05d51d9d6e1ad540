"""Distribution-drift detection across partitions/buckets (SURVEY.md §2.7):
chi-square homogeneity for categorical columns (``lang``) and two-sample
Kolmogorov-Smirnov for continuous ones (``warc_ts`` epochs).

Everything is expressed as DataFrame aggregations — the contingency table
and CDF grids are tiny (|categories| × |buckets| or |grid| rows) after one
distributed shuffle, so the statistics compose at any scale.

KS has two modes:

* ``exact``  — windowed cumulative CDF over the pooled sample; globally
  ordered window = single-partition sort, fine at test scale and exactly
  reproducible in the DuckDB oracle;
* ``grid``   — CDFs evaluated at B ``percentile_approx`` grid points;
  one sketch pass for the grid, one histogram pass that bins each row
  with a log2(B)-deep comparison tree (SQL text, so building it costs
  the same driver work at any B), and a <=B-row CDF comparison on the
  driver — the 10^12-row path (error ≤ 1/B + sketch error, B defaults
  to 256).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..audit import unit_column
from ..columnar.varsql import sqlnum


def contingency(df: DataFrame, value_col: str, bucket_col: Column | str) -> DataFrame:
    """bucket × value counts — the shared input of both tests."""
    bucket = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    return df.groupBy(bucket.alias("bucket"), F.col(value_col).alias("value")) \
             .agg(F.count(F.lit(1)).alias("n"))


def chi_square_drift(
    df: DataFrame,
    value_col: str,
    bucket_col: Column | str,
) -> DataFrame:
    """Pearson chi-square test of homogeneity: does the distribution of
    ``value_col`` differ across buckets?

    Returns one row: ``statistic``, ``dof``, ``n_buckets``, ``n_values``.
    (No p-value — the judge of drift is a threshold on the statistic given
    dof; scipy is not assumed present.)
    """
    cells = contingency(df, value_col, bucket_col)
    # grand total folded in as a broadcast single-row join (not an eager
    # .collect() — no Spark job fires until the caller acts on the result)
    grand = cells.agg(F.sum("n").alias("grand"))
    row_tot = cells.groupBy("bucket").agg(F.sum("n").alias("row_n"))
    col_tot = cells.groupBy("value").agg(F.sum("n").alias("col_n"))
    joined = (
        cells.join(row_tot, "bucket").join(col_tot, "value")
        .crossJoin(F.broadcast(grand))
        .withColumn("expected", F.col("row_n") * F.col("col_n") / F.col("grand"))
        .withColumn("contrib", F.pow(F.col("n") - F.col("expected"), 2) / F.col("expected"))
    )
    return joined.agg(
        F.sum("contrib").alias("statistic"),
        ((F.count_distinct("bucket") - 1) * (F.count_distinct("value") - 1)).alias("dof"),
        F.count_distinct("bucket").alias("n_buckets"),
        F.count_distinct("value").alias("n_values"),
    )


def unit_of(df: DataFrame, unit_col: Column | str | None) -> Column:
    """``unit_col`` as a Column; None = the audit table's work unit
    (:func:`~spark_schema_guard.audit.unit_column`: the row's data
    file)."""
    if unit_col is None:
        return unit_column(df)
    return F.col(unit_col) if isinstance(unit_col, str) else unit_col


def chi_square_by_unit(
    df: DataFrame,
    value_col: str,
    unit_col: Column | str | None = None,
) -> DataFrame:
    """Per-unit drift verdicts (north rule: drift across partitions):
    one row per unit — ``unit, n_rows, statistic, dof`` — where
    ``statistic`` is the chi-square goodness-of-fit of the unit's
    ``value_col`` distribution against the POOLED corpus distribution.
    ``unit_col=None`` units by the row's data file, the same stable
    work unit the audit table uses, so a monitoring job can point at
    the exact files whose language mix (or any categorical) drifted.

    Missing cells (values a unit never saw) are folded in algebraically
    instead of materializing the unit × value cross product:
    ``Σ_all (n−e)²/e  =  Σ_observed (n−e)²/e + (row_n − Σ_observed e)``
    since each missing cell contributes exactly its expectation.  The
    whole computation is two aggregations over |units|·|values| cells —
    at 10^12 rows the shuffled state is the contingency table, not the
    data.
    """
    unit = unit_of(df, unit_col)
    value = F.col(value_col)
    cells = (
        df.where(value.isNotNull())
        .groupBy(unit.alias("unit"), value.alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    col_tot = cells.groupBy("value").agg(F.sum("n").alias("col_n"))
    grand = col_tot.agg(F.sum("col_n").alias("grand"),
                        F.count(F.lit(1)).alias("n_values"))
    per_cell = (
        cells.join(F.broadcast(col_tot), "value")
        .crossJoin(F.broadcast(grand))
    )
    # Σ_all (n−e)²/e with e = row_n·p_v reduces to (Σ_obs n²/p_v)/row_n
    # − row_n: the cross terms collapse (Σ_obs n = row_n) and the missing
    # cells contribute exactly row_n − Σ_obs e.
    per_unit = (
        per_cell.groupBy("unit")
        .agg(F.sum("n").alias("n_rows"),
             F.sum(F.pow(F.col("n"), 2)
                   / (F.col("col_n") / F.col("grand"))).alias("_nsq_over_p"),
             F.max("n_values").alias("_n_values"))
    )
    return per_unit.select(
        "unit", "n_rows",
        (F.col("_nsq_over_p") / F.col("n_rows") - F.col("n_rows"))
        .alias("statistic"),
        (F.col("_n_values") - 1).alias("dof"))


def _grid_bucket(grid: list) -> Column:
    """Bucket index of ``v`` on a sorted grid = count of grid points
    <= v (``bisect_right``), as one SQL-text binary-search CASE tree of
    depth ceil(log2(B+1)): a data row makes ~log2(B) comparisons, not
    the up-to-B of a WHEN chain.  The obvious
    ``size(filter(grid_array, q -> q <= v))`` is a higher-order
    function — CodegenFallback on the one DATA-SIZED stage of the KS
    grid path (the repo's measured HOF invariant).  NaN sorts above
    every grid point -> last bucket."""
    points = [sqlnum(float(q)) for q in grid]

    def tree(lo: int, hi: int) -> str:
        # the answer lies in [lo, hi]; v < grid[mid] splits it in two
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (f"CASE WHEN v < {points[mid]} THEN {tree(lo, mid)} "
                f"ELSE {tree(mid + 1, hi)} END")

    return F.expr(tree(0, len(grid)))


def _grid_of(tagged: DataFrame, grid_size: int) -> list:
    """The sorted distinct ``percentile_approx`` grid of ``v`` at
    probabilities 1/B .. (B-1)/B, one SQL array literal."""
    probs = ", ".join(sqlnum(i / grid_size) for i in range(1, grid_size))
    row = tagged.select(F.expr(
        f"percentile_approx(v, array({probs}), 1000)")).collect()[0]
    return sorted(set(row[0] or []))


def ks_by_unit(
    df: DataFrame,
    value_col: str,
    unit_col: Column | str | None = None,
    *,
    grid: list[float] | None = None,
    grid_size: int = 64,
) -> DataFrame:
    """Per-unit KS drift for continuous columns: one row per unit —
    ``unit, n_rows, statistic`` — where ``statistic`` is the max CDF gap
    between the unit and the POOLED corpus, evaluated on a shared grid
    (the same binned-KS contract as ``ks_drift(mode="grid")``: error ≤
    1/|grid| + sketch error).  ``grid=None`` derives it from one pooled
    ``percentile_approx`` pass; pass an explicit grid for
    engine-portable reproducibility (the oracle mode).

    Every unit's CDF is evaluated at every observed bucket (a
    |units| × |grid| frame built from the binned aggregate, not the
    data), because the pooled CDF moves where a unit's doesn't.
    """
    unit = unit_of(df, unit_col)
    value = F.col(value_col).cast("double")
    tagged = df.select(unit.alias("unit"), value.alias("v")).where(
        F.col("v").isNotNull())
    if grid is None:
        grid = _grid_of(tagged, grid_size)
    if not grid:
        return tagged.groupBy("unit").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.lit(0.0).alias("statistic"))
    binned = (tagged.groupBy("unit", _grid_bucket(grid).alias("b"))
              .agg(F.count(F.lit(1)).alias("n")))
    buckets = binned.select("b").distinct()
    units = binned.groupBy("unit").agg(F.sum("n").alias("row_n"))
    full = (units.crossJoin(F.broadcast(buckets))
            .join(binned, ["unit", "b"], "left")
            .withColumn("n", F.coalesce(F.col("n"), F.lit(0))))
    w_u = Window.partitionBy("unit").orderBy("b") \
        .rowsBetween(Window.unboundedPreceding, 0)
    pooled = binned.groupBy("b").agg(F.sum("n").alias("pn"))
    # pooled CDF over the <= B grid buckets: stats.cum_bounded (the B×B
    # triangular join; WindowExec-warning rationale lives there)
    from .stats import cum_bounded

    pooled_cum = cum_bounded(pooled, "b", {"pcum": "pn"})
    grand = pooled.agg(F.sum("pn").alias("grand"))
    cum = (full.withColumn("cum", F.sum("n").over(w_u))
           .join(F.broadcast(pooled_cum.select("b", "pcum")), "b")
           .crossJoin(F.broadcast(grand)))
    return (cum.groupBy("unit")
            .agg(F.max("row_n").alias("n_rows"),
                 F.max(F.abs(F.col("cum") / F.col("row_n")
                             - F.col("pcum") / F.col("grand")))
                 .alias("statistic")))


def psi_by_unit(
    df: DataFrame,
    value_col: str,
    unit_col: Column | str | None = None,
    *,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per unit — the standard ML-monitoring
    drift score: ``PSI_u = Σ_v (p_uv − p_v)·ln(p_uv / p_v)`` of the
    unit's ``value_col`` share vector against the pooled corpus shares.
    Returns ``unit, n_rows, psi`` (one row per unit; PSI ≥ 0.2 is the
    conventional "significant shift" threshold).

    Categories a unit never saw still contribute, so the unit × value
    grid IS materialized — but it is |units|·|values| rows built from
    two tiny aggregates (a broadcast of the value totals), never from
    the data.  Zero shares are clamped to ``eps`` (documented,
    engine-portable — the oracle applies the identical clamp).
    ``value_col`` is categorical; bin continuous columns first.
    """
    unit = unit_of(df, unit_col)
    value = F.col(value_col)
    cells = (
        df.where(value.isNotNull())
        .groupBy(unit.alias("unit"), value.alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    col_tot = cells.groupBy("value").agg(F.sum("n").alias("col_n"))
    grand = col_tot.agg(F.sum("col_n").alias("grand"))
    row_tot = cells.groupBy("unit").agg(F.sum("n").alias("row_n"))
    grid = (
        row_tot.crossJoin(F.broadcast(col_tot))
        .join(cells, ["unit", "value"], "left")
        .crossJoin(F.broadcast(grand))
    )
    p_unit = F.greatest(F.coalesce(F.col("n"), F.lit(0)) / F.col("row_n"),
                        F.lit(eps))
    p_pool = F.greatest(F.col("col_n") / F.col("grand"), F.lit(eps))
    contrib = (p_unit - p_pool) * F.log(p_unit / p_pool)
    return (
        grid.groupBy("unit")
        .agg(F.max("row_n").alias("n_rows"),
             F.sum(contrib).alias("psi"))
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: Column | str,
    *,
    mode: str = "grid",
    grid_size: int = 256,
) -> DataFrame:
    """Two-sample KS statistic between the two groups defined by the
    boolean ``group_col``.  Returns one row: ``statistic``, ``n_left``,
    ``n_right``.
    """
    group = F.col(group_col) if isinstance(group_col, str) else group_col
    value = F.col(value_col).cast("double")
    tagged = df.select(value.alias("v"), group.cast("boolean").alias("g")).where(
        F.col("v").isNotNull() & F.col("g").isNotNull())

    if mode == "exact":
        counts = tagged.groupBy("v", "g").agg(F.count(F.lit(1)).alias("n"))
        totals = tagged.groupBy("g").agg(F.count(F.lit(1)).alias("tot"))
        pivoted = (
            counts.groupBy("v")
            .agg(F.sum(F.when(F.col("g"), F.col("n")).otherwise(0)).alias("n_l"),
                 F.sum(F.when(~F.col("g"), F.col("n")).otherwise(0)).alias("n_r"))
        )
        # exact mode is the documented oracle-parity / small-data path:
        # the cum-sum over the full distinct-value set IS a
        # single-partition scan by design, so the unpartitioned-window
        # warning it logs is accurate — at scale use mode="grid"
        w = Window.partitionBy(F.lit(0)).orderBy("v") \
            .rowsBetween(Window.unboundedPreceding, 0)
        tl = totals.where(F.col("g")).select("tot")
        tr = totals.where(~F.col("g")).select("tot")
        cum = (
            pivoted
            .withColumn("cum_l", F.sum("n_l").over(w))
            .withColumn("cum_r", F.sum("n_r").over(w))
            .crossJoin(F.broadcast(tl.withColumnRenamed("tot", "tot_l")))
            .crossJoin(F.broadcast(tr.withColumnRenamed("tot", "tot_r")))
            .withColumn("diff", F.abs(F.col("cum_l") / F.col("tot_l")
                                      - F.col("cum_r") / F.col("tot_r")))
        )
        return cum.agg(F.max("diff").alias("statistic"),
                       F.max("tot_l").alias("n_left"),
                       F.max("tot_r").alias("n_right"))

    if mode == "grid":
        # binned KS: one percentile sketch pass for the grid, one
        # histogram pass binning each row into its grid cell (a
        # log2(B)-deep comparison tree per row), then the CDF comparison
        # over <=B rows.
        grid = _grid_of(tagged, grid_size)
        if not grid:
            return tagged.agg(F.lit(0.0).alias("statistic"),
                              F.sum(F.col("g").cast("long")).alias("n_left"),
                              F.sum((~F.col("g")).cast("long")).alias("n_right"))
        binned = (
            tagged.groupBy(_grid_bucket(grid).alias("b"))
            .agg(F.sum(F.col("g").cast("long")).alias("n_l"),
                 F.sum((~F.col("g")).cast("long")).alias("n_r"))
        )
        # The CDF comparison runs on the DRIVER over the <= B binned
        # rows (the take_token_budget boundary-collect idiom): the only
        # data-sized work is the binning groupBy above, and an O(B)
        # Python finish is one job where a distributed cumsum (window or
        # triangular join) costs two more stages + a broadcast per call
        # — measured ~0.8 s of pure scheduling at local[32] on 2M rows,
        # constant (not growing) at the 100-TB target.  Same IEEE
        # arithmetic as the SQL it replaces: long cumsums, double
        # division.
        rows = sorted(binned.collect(), key=lambda r: r["b"])

        def result(stat, tl, tr):
            # an inline VALUES relation: a LocalTableScan that runs no job
            # (a row-object createDataFrame would run a Python-worker job
            # on every read)
            def lit(x, sql_type):
                return f"CAST({'NULL' if x is None else sqlnum(x)} AS {sql_type})"
            return df.sparkSession.sql(
                f"SELECT * FROM VALUES ({lit(stat, 'DOUBLE')}, "
                f"{lit(tl, 'BIGINT')}, {lit(tr, 'BIGINT')}) "
                "AS t(statistic, n_left, n_right)")

        if not rows:
            return result(None, None, None)
        tl = sum(r["n_l"] for r in rows)
        tr = sum(r["n_r"] for r in rows)
        if not tl or not tr:
            return result(None, tl, tr)
        stat = cl = cr = 0
        for r in rows:
            cl += r["n_l"]
            cr += r["n_r"]
            stat = max(stat, abs(cl / tl - cr / tr))
        return result(float(stat), tl, tr)

    raise ValueError(f"unknown mode {mode!r}")
