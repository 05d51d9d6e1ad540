"""Per-column statistics — the table-scale view of the reference's
type/required/bounds keywords (SURVEY.md §2.7).

One single-pass aggregation computes every requested stat for every column:
count, null fraction, min/max, distinct counts (exact or HyperLogLog++ via
``approx_count_distinct``), and quantile sketches (``percentile_approx``,
a KLL-style mergeable sketch).  At 10^12 rows this is one scan + one
partial-agg shuffle of a few hundred bytes per partition — no per-column
passes, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..columnar.varsql import sqlident, sqlnum, sqlstr


def _is_numeric(dtype) -> bool:
    return isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                              T.FloatType, T.DoubleType, T.DecimalType))


def column_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    exact_distinct: bool = False,
    distinct_rsd: float = 0.05,
    quantiles: tuple = (0.25, 0.5, 0.75),
) -> DataFrame:
    """One row per profiled column: count, nulls, null_frac, distinct,
    min/max (as strings for heterogenous columns), numeric mean and
    quantiles.

    ``exact_distinct=True`` uses ``count_distinct`` (an extra shuffle per
    column — use for oracle comparisons at small SF); the default HLL++
    sketch merges map-side and scales to 10^12 rows.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    columns = columns or list(fields)
    probs = ", ".join(sqlnum(float(q)) for q in quantiles)
    per_column = []
    for c in columns:
        col = sqlident(c)
        nulls = f"sum(CAST({col} IS NULL AS BIGINT))"
        distinct = (f"count(DISTINCT {col})" if exact_distinct else
                    f"approx_count_distinct({col}, {sqlnum(float(distinct_rsd))})")
        if _is_numeric(fields[c]):
            mean = f"avg({col})"
            quants = f"percentile_approx({col}, array({probs}))"
        else:
            mean = "CAST(NULL AS DOUBLE)"
            quants = "CAST(NULL AS ARRAY<DOUBLE>)"
        per_column.append(
            f"named_struct('column', {sqlstr(c)}, 'count', count(1), "
            f"'nulls', {nulls}, 'null_frac', {nulls} / count(1), "
            f"'distinct', {distinct}, "
            f"'min', CAST(min({col}) AS STRING), "
            f"'max', CAST(max({col}) AS STRING), "
            f"'mean', {mean}, 'quantiles', {quants})")
    # one aggregation, pivoted into one row per column by inline()
    return df.selectExpr(f"inline(array({', '.join(per_column)}))")


def null_fractions(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    columns = columns or [f.name for f in df.schema.fields]
    per_column = []
    for c in columns:
        nulls = f"sum(CAST({sqlident(c)} IS NULL AS BIGINT))"
        per_column.append(f"named_struct('column', {sqlstr(c)}, "
                          f"'nulls', {nulls}, "
                          f"'null_frac', {nulls} / count(1))")
    return df.selectExpr(f"inline(array({', '.join(per_column)}))")


def rank_bounded(df: DataFrame, count_col: str, tie_col: str,
                 *, out: str = "rank") -> DataFrame:
    """Rank an ALREADY-BOUNDED frame (<= k rows post-``limit``) by
    ``(count_col DESC, tie_col ASC)`` without a window: rank = 1 + the
    number of rows sorting strictly before, via a k×k broadcast
    triangular self-join.  An empty-partition-spec window here would
    emit the WindowExec "No Partition Defined" warning — which must
    stay reserved for REAL unbounded windows (Catalyst constant-folds
    ``partitionBy(lit)`` back to an empty spec, so there is no silent
    variant).  Assumes ``tie_col`` is unique and both columns non-null
    (true for groupBy outputs keyed on ``tie_col``).  Shared by
    ``heavy_hitters`` and ``textstats.token_vocabulary``; keep the
    rationale here, in one place.
    """
    keep = list(df.columns)
    before = df.select(F.col(count_col).alias("__rb_n"),
                       F.col(tie_col).alias("__rb_t"))
    return (df.join(F.broadcast(before),
                    (F.col("__rb_n") > F.col(count_col))
                    | ((F.col("__rb_n") == F.col(count_col))
                       & (F.col("__rb_t") < F.col(tie_col))), "left")
            .groupBy(*keep)
            .agg((F.count("__rb_t") + 1).cast("int").alias(out)))


def cum_bounded(df: DataFrame, order_col: str,
                sums: dict[str, str]) -> DataFrame:
    """Cumulative sums over an ALREADY-BOUNDED frame (<= B grid/bin
    rows): for each output name -> source column in ``sums``, the
    running total over rows with ``order_col`` <= this row's, via the
    same B×B broadcast triangular join as :func:`rank_bounded` (and for
    the same reason — no empty-partition-spec window).  All input
    columns are carried through.  Used by ``drift.ks_by_unit``'s pooled
    CDF (which must stay a frame — it joins against the per-unit rows);
    ``ks_drift(mode="grid")`` instead finishes its CDF driver-side over
    the collected <= B bins.
    """
    keep = list(df.columns)
    right = df.select(
        F.col(order_col).alias("__cb_b"),
        *[F.col(src).alias(f"__cb_{out}") for out, src in sums.items()])
    return (df.join(F.broadcast(right), F.col("__cb_b") <= F.col(order_col))
            .groupBy(*keep)
            .agg(*[F.sum(f"__cb_{out}").alias(out) for out in sums]))


def heavy_hitters(
    df: DataFrame,
    column,
    *,
    k: int = 20,
    min_share: float = 0.0,
) -> DataFrame:
    """Exact top-k most frequent values of ``column`` (a name or a Column
    expression) with their share of all non-null rows:
    ``value, n_rows, share, rank``.

    Rank is deterministic (count DESC, value ASC) so results are
    engine-portable.  The top-k itself is ``ORDER BY ... LIMIT k``,
    which Spark executes as TakeOrderedAndProject — each partition of
    the aggregated counts keeps its local top-k and only k·P candidate
    rows merge — so no single-partition sort/window ever sees the full
    distinct-value set, even with ``min_share=0`` on a high-cardinality
    column.  The ``row_number`` that materializes the rank runs over the
    already-limited k rows (bounded work by construction; pinned by
    tests/test_plan_shape.py).  ``min_share`` additionally prefilters
    the tail before the merge (a value with share >= 1/k survives every
    prefilter >= 1/k — the Misra-Gries guarantee).
    """
    col = F.col(column) if isinstance(column, str) else column
    counts = (
        df.select(col.alias("value")).where(F.col("value").isNotNull())
        .groupBy("value").agg(F.count(F.lit(1)).alias("n_rows"))
    )
    total = counts.agg(F.sum("n_rows").alias("t"))
    shared = counts.crossJoin(F.broadcast(total)).withColumn(
        "share", F.col("n_rows") / F.col("t")).drop("t")
    if min_share > 0.0:
        shared = shared.where(F.col("share") >= min_share)
    topk = shared.orderBy(F.col("n_rows").desc(), F.col("value").asc()).limit(k)
    return (rank_bounded(topk, "n_rows", "value")
            .select("rank", "value", "n_rows", "share"))


def domain_skew(df: DataFrame, url_col: str = "url", *, k: int = 10) -> DataFrame:
    """Hot-domain profile of a web corpus: top-k domains by page count
    with shares — the diagnostic that sizes the hot key url uniqueness
    must absorb (north rule).  Domain = authority part of the URL,
    extracted JVM-side."""
    domain = F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    return heavy_hitters(df, F.when(domain != "", domain), k=k)


def domain_report(
    df: DataFrame,
    url_col: str,
    text_col: str,
    lang_col: str | None = None,
    *,
    low_quality_below: float = 0.5,
    distinct: str = "approx",
    distinct_rsd: float = 0.05,
) -> DataFrame:
    """Per-DOMAIN quality rollup — the "which hosts to ban or cap"
    operational table every crawl pipeline maintains (RefinedWeb /
    Dolma curate at domain granularity).  One row per host:

    ``host, n_pages, n_urls, n_tokens, quality_sum_e4, n_low_quality``
    (+ ``n_langs, top_lang`` when ``lang_col`` is given); mean quality
    = ``quality_sum_e4 / 1e4 / n_pages`` — the sum ships as a LONG of
    e4-scaled per-doc scores (each already rounded to 4 decimals by
    ``quality_features``), so the aggregate is EXACT-integer and
    engine-portable: a float mean would reassociate differently on
    every partitioning.  ``top_lang`` breaks count ties toward the
    larger lang code (the ``language_guess`` direction).  Rows whose
    URL has no host (non-URL strings, and NULL urls too) group under
    ``''`` — in BOTH legs, so hostless rows keep their lang rollup.
    NULL lang values are excluded from ``n_langs``/``top_lang`` (NULL is
    "unknown", not a language); a host with only NULL langs gets NULL in
    both columns via the left join.

    ``distinct="approx"`` (the scale default) computes ``n_urls`` with a
    HyperLogLog++ sketch (``approx_count_distinct``, relative error
    ``distinct_rsd``) — constant memory per host, no two-phase distinct
    expansion; ``distinct="exact"`` swaps in ``count_distinct`` and is
    the oracle/differential mode.

    .. note:: **Behavior change (round 4)** — ``n_urls`` used to be
       exact by default; it is now a sketch.  Callers comparing
       ``n_urls`` against exact counts (or against ``n_pages``) must
       pass ``distinct="exact"`` or tolerate ``distinct_rsd`` noise.
       The approx path marks the column with field metadata
       ``{"approx": true, "rsd": <distinct_rsd>}`` so downstream code
       can detect the sketch programmatically
       (``df.schema["n_urls"].metadata``).

    Scale shape: host + quality features are pure Column expressions on
    the scan; the host rollup is one map-side-combining ``groupBy(host)``
    (exact mode expands to the standard two-phase distinct — volume
    = distinct urls; approx mode is one phase), and the lang leg (only
    with ``lang_col``) is a stacked ``groupBy(host, lang)`` →
    ``groupBy(host)`` joined back on one-row-per-host frames.  No
    windows; a hot domain is one reducer row, not a skew hazard."""
    from .textstats import quality_features
    from .urlnorm import url_host

    if distinct not in ("approx", "exact"):
        raise ValueError("distinct must be 'approx' or 'exact'")
    keep = (lang_col,) if lang_col else ()
    host = F.coalesce(url_host(F.col(url_col)), F.lit(""))
    feats = quality_features(
        df.select(F.col(url_col), F.col(text_col),
                  *[F.col(c) for c in keep])
        .withColumn("__host", host),
        "__host", text_col, keep=(url_col, *keep))
    q_e4 = F.round(F.col("quality_score") * 10000).cast("long")
    if distinct == "exact":
        n_urls = F.count_distinct(F.col(url_col)).cast("long") \
            .alias("n_urls")
    else:
        n_urls = (F.approx_count_distinct(F.col(url_col), distinct_rsd)
                  .cast("long")
                  .alias("n_urls",
                         metadata={"approx": True, "rsd": distinct_rsd}))
    host_stats = (feats.groupBy(F.col("__host").alias("host"))
                  .agg(F.count(F.lit(1)).cast("long").alias("n_pages"),
                       n_urls,
                       F.sum("n_tokens").cast("long").alias("n_tokens"),
                       F.sum(q_e4).cast("long").alias("quality_sum_e4"),
                       F.sum((F.col("quality_score")
                              < F.lit(low_quality_below)).cast("long"))
                       .cast("long").alias("n_low_quality")))
    if not lang_col:
        return host_stats
    # the lang leg needs ONLY (host, lang) — built from a narrow raw
    # projection, never from the feature stream (reusing `feats` here
    # re-ran the whole tokenize for a pair of counts: A/B on the 2M-row
    # bench table, second pass 1.9s -> 0.6s)
    lang_stats = (df.select(host.alias("host"),
                            F.col(lang_col).alias("__lang"))
                  .where(F.col("__lang").isNotNull())
                  .groupBy("host", "__lang")
                  .agg(F.count(F.lit(1)).alias("__n"))
                  .groupBy("host")
                  .agg(F.count(F.lit(1)).cast("int").alias("n_langs"),
                       F.max(F.struct(F.col("__n"), F.col("__lang")))
                       .getField("__lang").alias("top_lang")))
    return host_stats.join(lang_stats, "host", "left")


def partition_verdicts(applied: DataFrame) -> DataFrame:
    """Per-partition pass/fail rollup (north rule): one row per input
    partition with row/valid/violation counts — the distributed analog of
    the reference's per-call exception stream.  (The audit table's rows
    are per data file, not per partition: see ``audit.AuditedRun``.)"""
    return (
        applied.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"),
             F.sum(F.col("verdict").cast("long")).alias("valid_rows"),
             F.sum(F.size("violations")).alias("violations"))
    )


def numeric_outliers(
    df: DataFrame,
    id_col: str,
    value_col: str,
    *,
    group_col: str | None = None,
    k: float = 3.5,
    mode: str = "approx",
    accuracy: int = 10000,
) -> DataFrame:
    """Robust per-row outlier verdicts on a numeric column — the
    modified z-score of Iglewicz & Hoaglin (1993): ``robust_z =
    0.6745 * (x - median) / MAD`` with ``MAD = median(|x - median|)``,
    flagged when ``|robust_z| > k`` (their recommended 3.5).  Median/MAD
    resist exactly the contamination this op exists to find (a mean/std
    z-score is dragged by its own outliers).  With ``group_col`` the
    statistics are per group (e.g. per event type / per crawl snapshot)
    — the data-quality twin of the drift family: drift compares units
    against each other, this flags individual ROWS against their own
    cohort.

    Returns one row per input row: ``(id, [group], value, med, mad,
    robust_z, is_outlier)``.  ``robust_z`` is rounded to 6 decimals
    (engine-portable hashing convention).  Degenerate cohorts
    (``MAD = 0`` — over half the values identical): ``robust_z`` is
    NULL and ``is_outlier = (x != median)``, the conservative reading.
    NULL values carry NULL stats and a NULL verdict (the module-wide
    NULL policy — missingness is ``null_fractions``' job).

    ``mode="approx"`` (default) estimates both medians with
    ``approx_percentile`` (KLL-style mergeable sketch, bounded memory
    per group at any scale); ``mode="exact"`` uses the exact
    ``percentile`` aggregate, whose per-group buffer is the group's
    value list — the oracle/dev mode (DuckDB's ``quantile_cont``
    reproduces Spark's exact interpolation BIT-FOR-BIT, verified on
    interpolated cases), not the 10^12-row path.

    Scale shape: two grouped aggregations (groups are plan-scale — one
    row each, broadcast back into the row stream twice) and zero
    windows; the row stream is scanned twice and never shuffled (both
    joins are build-side-tiny broadcasts).  Reference analog: the
    minimum/maximum keywords bound values ABSOLUTELY
    (draft04.py:126-166); this bounds them STATISTICALLY against their
    cohort.
    """
    if mode not in ("approx", "exact"):
        raise ValueError(f"mode must be 'approx' or 'exact', got {mode!r}")
    if k <= 0:
        raise ValueError("k must be > 0")

    def med_of(col: str):
        if mode == "exact":
            return F.expr(f"percentile({col}, 0.5)")
        return F.expr(f"approx_percentile({col}, 0.5, {accuracy})")

    gcols = [group_col] if group_col else []
    v = F.col(value_col).cast("double")
    base = df.select(F.col(id_col), *[F.col(g) for g in gcols],
                     v.alias("__v"))
    vals = base.where(F.col("__v").isNotNull())
    meds = vals.groupBy(*gcols).agg(med_of("__v").alias("med"))
    meds = F.broadcast(meds)
    devs = (vals.join(meds, gcols) if gcols
            else vals.crossJoin(meds))
    mads = devs.select(*gcols, F.abs(F.col("__v") - F.col("med"))
                       .alias("__d")).groupBy(*gcols).agg(
        med_of("__d").alias("mad"))
    stats = meds.join(F.broadcast(mads), gcols) if gcols \
        else meds.crossJoin(F.broadcast(mads))
    # LEFT: rows whose value (or group key) is NULL have no stats row to
    # match — they keep NULL med/mad and fall into the NULL-verdict arm
    joined = (base.join(F.broadcast(stats), gcols, "left") if gcols
              else base.crossJoin(F.broadcast(stats)))
    z = F.lit(0.6745) * (F.col("__v") - F.col("med")) / F.col("mad")
    return joined.select(
        F.col(id_col), *[F.col(g) for g in gcols],
        F.col("__v").alias(value_col),
        "med", "mad",
        F.when(F.col("__v").isNotNull() & (F.col("mad") > 0),
               F.round(z, 6)).alias("robust_z"),
        F.when(F.col("__v").isNull(), F.lit(None).cast("boolean"))
        .when(F.col("mad") > 0, F.abs(z) > k)
        .otherwise(F.col("__v") != F.col("med")).alias("is_outlier"),
    )
