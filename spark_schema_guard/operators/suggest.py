"""Constraint suggestion — mine a validation schema FROM the data.

The reference direction is schema → validator
(/root/reference/fastjsonschema/__init__.py:212 `compile`); production
tables usually start from the other end: terabytes of rows and no
written contract.  This operator profiles a table into the constraint
vocabulary the engine already validates (the Deequ
ConstraintSuggestion idea re-expressed over this engine's keyword set):
``required`` (null-free columns), ``minimum``/``maximum`` (numeric
bounds), ``minLength``/``maxLength`` (string lengths), ``enum``
(low-cardinality string columns).  ``suggested_schema`` turns the
profile into a plain JSON-schema dict that feeds straight back into
``ssg.compile`` / ``ssg.compile_plan`` — mine on a trusted snapshot,
then validate every future batch against the mined contract.

Scale shape (10^12-row argument):

* ``distinct="approx"`` (default): ONE full-table aggregation computes
  count / nulls / min / max / lengths for every column plus
  HyperLogLog++ distinct sketches (``approx_count_distinct`` — merges
  map-side; the shuffle is a few hundred bytes per partition).  The
  single wide row is collected (bounded: one row) and enum-eligible
  string columns get a SECOND bounded pass: melt only the eligible
  columns, DISTINCT (map-side combining; result ≤ |eligible| × distinct
  values, known small), one tiny groupBy.  Two scans total, no
  per-column jobs, no unbounded collect.
* ``distinct="exact"``: same two-pass plan with ``count_distinct``
  (Catalyst expands the aggregate — one duplicated pass per distinct
  column).  This is the ORACLE mode for small-SF differential checks;
  the sketch mode is the 100-TB mode.

The driver round-trip between the two jobs is deliberate and bounded
(one row) — the same broadcast-threshold-style adaptivity
``connected_components`` uses: which columns deserve an enum pass is a
plan-level decision, not a per-row one.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drift import unit_of

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

#: profile output schema — stable for oracles and for suggested_schema().
#: This is also the set constraint_drift REQUIRES; the profile carries two
#: more columns (min_int/max_int — exact long bounds for integral columns,
#: NULL otherwise) that suggested_schema prefers when present: the double
#: view rounds past 2^53, and a rounded-UP minimum would break the mined
#: contract's closure guarantee on huge ids.
_OUT_COLS = ("column", "spark_type", "n_rows", "n_nulls", "n_distinct",
             "min_num", "max_num", "min_len", "max_len", "enum_vals",
             "required")


def _column_aggs(fields, columns, *, enum_sep, distinct, distinct_rsd):
    """The per-column aggregate list both typed-column miners share
    (``suggest_constraints`` ungrouped, ``suggest_by_unit`` grouped):
    ``__rows`` plus, per column, nulls / distinct (exact or HLL++) /
    double bounds / exact long bounds / string lengths / the
    separator-poisoning flag — all algebraic or sketch-mergeable, so
    map-side partial aggregation applies either way."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"))
        if distinct == "exact":
            aggs.append(F.count_distinct(col).alias(f"{c}__nd"))
        else:
            aggs.append(F.approx_count_distinct(col, distinct_rsd)
                        .alias(f"{c}__nd"))
        if isinstance(fields[c], _NUMERIC):
            aggs.append(F.min(col.cast("double")).alias(f"{c}__min"))
            aggs.append(F.max(col.cast("double")).alias(f"{c}__max"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__min"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__max"))
        if isinstance(fields[c], _INTEGRAL):
            # exact long bounds: the double view rounds past 2^53
            aggs.append(F.min(col).cast("long").alias(f"{c}__imin"))
            aggs.append(F.max(col).cast("long").alias(f"{c}__imax"))
        else:
            aggs.append(F.lit(None).cast("long").alias(f"{c}__imin"))
            aggs.append(F.lit(None).cast("long").alias(f"{c}__imax"))
        if isinstance(fields[c], T.StringType):
            aggs.append(F.min(F.length(col)).cast("int").alias(f"{c}__lmin"))
            aggs.append(F.max(F.length(col)).cast("int").alias(f"{c}__lmax"))
            # a value embedding the separator (or a newline) makes the
            # joined enum rendering ambiguous — poisons eligibility
            bad = F.max((col.contains(enum_sep) | col.contains("\n"))
                        .cast("int"))
            aggs.append(F.coalesce(bad, F.lit(0)).alias(f"{c}__sep"))
        else:
            aggs.append(F.lit(None).cast("int").alias(f"{c}__lmin"))
            aggs.append(F.lit(None).cast("int").alias(f"{c}__lmax"))
            aggs.append(F.lit(1).alias(f"{c}__sep"))
    return aggs


def suggest_constraints(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    *,
    enum_max: int = 16,
    enum_sep: str = ",",
    distinct: str = "approx",
    distinct_rsd: float = 0.05,
) -> DataFrame:
    """One row per profiled column:

    ``(column, spark_type, n_rows, n_nulls, n_distinct, min_num,
    max_num, min_len, max_len, enum_vals, required)``

    * ``min_num``/``max_num``: double view of numeric columns (NULL
      otherwise);
    * ``min_len``/``max_len``: character lengths of string columns;
    * ``enum_vals``: ``enum_sep``-joined SORTED distinct values of a
      string column whose non-null distinct count is in
      ``[1, enum_max]`` — NULL for every other column;
    * ``required``: the column has rows and zero NULLs (NULL means
      absent under this engine's row-object convention, so a null-free
      column is evidence for ``required``).

    ``distinct="exact"`` swaps the HLL++ sketch for ``count_distinct``
    (oracle parity; enum eligibility is then exact too).  Values
    containing ``enum_sep`` or a newline never produce an enum
    suggestion (the joined rendering would be ambiguous) — such a
    column reports ``enum_vals`` NULL.
    """
    if distinct not in ("approx", "exact"):
        raise ValueError("distinct must be 'approx' or 'exact'")
    if enum_max < 1:
        raise ValueError("enum_max must be >= 1")
    fields = {f.name: f.dataType for f in df.schema.fields}
    columns = list(columns or fields)
    for c in columns:
        if c not in fields:
            raise ValueError(f"no such column: {c}")

    aggs = _column_aggs(fields, columns, enum_sep=enum_sep,
                        distinct=distinct, distinct_rsd=distinct_rsd)
    stats = df.agg(*aggs).collect()[0]  # bounded: exactly one row

    eligible = [c for c in columns
                if isinstance(fields[c], T.StringType)
                and 1 <= stats[f"{c}__nd"] <= enum_max
                and stats[f"{c}__sep"] == 0]
    enum_vals: dict[str, str] = {}
    if eligible:
        melted = df.select(F.expr(
            "stack({n}, {args}) as (column, val)".format(
                n=len(eligible),
                args=", ".join(f"'{c}', `{c}`" for c in eligible)))
        ).where(F.col("val").isNotNull()).distinct()
        per_col = (melted.groupBy("column")
                   .agg(F.array_join(F.sort_array(F.collect_set("val")),
                                     enum_sep).alias("vals"),
                        F.count(F.lit(1)).alias("nd"))
                   .collect())
        for r in per_col:
            # approx sketch may have under-counted: re-check the bar on
            # the exact distinct row count of this bounded pass
            if r["nd"] <= enum_max:
                enum_vals[r["column"]] = r["vals"]

    spark = df.sparkSession
    rows = []
    for c in columns:
        n_rows = stats["__rows"]
        n_nulls = stats[f"{c}__nulls"] or 0
        rows.append((
            c, fields[c].simpleString(), n_rows, n_nulls,
            int(stats[f"{c}__nd"]),
            stats[f"{c}__min"], stats[f"{c}__max"],
            stats[f"{c}__imin"], stats[f"{c}__imax"],
            stats[f"{c}__lmin"], stats[f"{c}__lmax"],
            enum_vals.get(c),
            bool(n_rows > 0 and n_nulls == 0),
        ))
    schema = T.StructType([
        T.StructField("column", T.StringType()),
        T.StructField("spark_type", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_nulls", T.LongType()),
        T.StructField("n_distinct", T.LongType()),
        T.StructField("min_num", T.DoubleType()),
        T.StructField("max_num", T.DoubleType()),
        T.StructField("min_int", T.LongType()),
        T.StructField("max_int", T.LongType()),
        T.StructField("min_len", T.IntegerType()),
        T.StructField("max_len", T.IntegerType()),
        T.StructField("enum_vals", T.StringType()),
        T.StructField("required", T.BooleanType()),
    ])
    return spark.createDataFrame(rows, schema)


def suggested_schema(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    *,
    enum_max: int = 16,
    enum_sep: str = ",",
    distinct: str = "approx",
    distinct_rsd: float = 0.05,
    profile: DataFrame | None = None,
) -> dict:
    """Mine ``df`` (or reuse a ``suggest_constraints`` ``profile``) into
    a JSON-schema dict the engine compiles directly::

        schema = suggested_schema(trusted_snapshot)
        plan = ssg.compile_plan(schema, next_batch.schema)
        plan.verdicts(next_batch)

    Per column: the Spark type maps to its JSON type (integral →
    ``integer``, float/decimal → ``number``, boolean → ``boolean``,
    string → ``string``; other types get no type keyword), numeric
    columns gain observed ``minimum``/``maximum`` (exact ints for
    integral columns), string columns gain ``minLength``/``maxLength``
    and — when eligible — ``enum``.  Null-free columns with data are
    ``required``.  The mined contract is CLOSED over the snapshot: every
    profiled row satisfies it by construction (pinned by test).
    """
    if profile is None:
        profile = suggest_constraints(df, columns, enum_max=enum_max,
                                      enum_sep=enum_sep, distinct=distinct,
                                      distinct_rsd=distinct_rsd)
    fields = {f.name: f.dataType for f in df.schema.fields}
    properties: dict[str, dict] = {}
    required: list[str] = []
    for r in profile.collect():
        c = r["column"]
        dtype = fields.get(c)
        prop: dict = {}
        if isinstance(dtype, _INTEGRAL):
            prop["type"] = "integer"
            # exact long bounds when the profile carries them (the double
            # view rounds past 2^53 — a rounded-up minimum would exclude
            # the true min and break closure); caller-built profiles
            # without min_int fall back to the double view
            exact = "min_int" in r.__fields__ and r["min_int"] is not None
            if exact:
                prop["minimum"] = int(r["min_int"])
                prop["maximum"] = int(r["max_int"])
            elif r["min_num"] is not None:
                prop["minimum"] = int(r["min_num"])
                prop["maximum"] = int(r["max_num"])
        elif isinstance(dtype, _NUMERIC):
            prop["type"] = "number"
            if r["min_num"] is not None:
                prop["minimum"] = r["min_num"]
                prop["maximum"] = r["max_num"]
        elif isinstance(dtype, T.BooleanType):
            prop["type"] = "boolean"
        elif isinstance(dtype, T.StringType):
            prop["type"] = "string"
            if r["min_len"] is not None:
                prop["minLength"] = int(r["min_len"])
                prop["maxLength"] = int(r["max_len"])
            if r["enum_vals"] is not None:
                prop["enum"] = r["enum_vals"].split(enum_sep)
        properties[c] = prop
        if r["required"]:
            required.append(c)
    schema: dict = {"type": "object", "properties": properties}
    if required:
        schema["required"] = sorted(required)
    return schema


def suggest_by_unit(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    *,
    unit_col: Column | str | None = None,
    enum_max: int = 16,
    enum_sep: str = ",",
    distinct: str = "approx",
    distinct_rsd: float = 0.05,
) -> DataFrame:
    """Per-UNIT constraint mining: :func:`suggest_constraints`' profile,
    one row per ``(unit, column)`` — the contract-tracking analog of the
    ``*_by_unit`` drift operators (``unit_col=None`` units by the row's
    data file, the audit table's work unit, so every crawl
    snapshot / input file gets its own mined contract).  A unit's slice
    feeds :func:`constraint_drift` directly::

        prof = suggest_by_unit(web, ["lang", "text"], unit_col="source")
        prof.persist()
        constraint_drift(prof.where("unit = 'src1'").drop("unit"),
                         prof.where("unit = 'src2'").drop("unit"))

    Unlike the eager single-table miner this returns a LAZY frame and
    never collects: the unit count may be unbounded (one per input
    file), so the profile itself must be distributed.

    Scale shape (10^12-row argument): ONE grouped aggregation
    (``groupBy(unit)``, all-algebraic/HLL++ aggregates, map-side
    partial) produces a row per unit; a compile-time exploded projection
    unpivots it to (unit, column) rows — never a units × columns driver
    loop.  The enum value pass is the same bounded second scan as
    :func:`suggest_constraints`, made per-unit-safe by LEFT-SEMI-joining
    the melted value stream against the (unit, column) pairs the first
    pass found ELIGIBLE (≤ enum_max distinct), so no ``collect_set``
    state ever exceeds enum_max values per group; the eligibility frame
    derives from the same grouped aggregate, and AQE exchange reuse
    dedupes the repeated subtree at runtime (persist the result if you
    fan it out further).  ``distinct="exact"`` is the oracle mode.

    Rows whose unit expression is NULL profile under the NULL unit, and
    ``required`` means null-free WITHIN the unit.
    """
    if distinct not in ("approx", "exact"):
        raise ValueError("distinct must be 'approx' or 'exact'")
    if enum_max < 1:
        raise ValueError("enum_max must be >= 1")
    unit = unit_of(df, unit_col)
    fields = {f.name: f.dataType for f in df.schema.fields}
    columns = list(columns or fields)
    for c in columns:
        if c not in fields:
            raise ValueError(f"no such column: {c}")

    aggs = _column_aggs(fields, columns, enum_sep=enum_sep,
                        distinct=distinct, distinct_rsd=distinct_rsd)
    wide = df.groupBy(unit.alias("unit")).agg(*aggs)

    structs = [F.struct(
        F.lit(c).alias("column"),
        F.lit(fields[c].simpleString()).alias("spark_type"),
        F.col(f"{c}__nulls").alias("n_nulls"),
        F.col(f"{c}__nd").cast("long").alias("n_distinct"),
        F.col(f"{c}__min").alias("min_num"),
        F.col(f"{c}__max").alias("max_num"),
        F.col(f"{c}__imin").alias("min_int"),
        F.col(f"{c}__imax").alias("max_int"),
        F.col(f"{c}__lmin").alias("min_len"),
        F.col(f"{c}__lmax").alias("max_len"),
        F.col(f"{c}__sep").alias("sep"),
    ) for c in columns]
    core = (wide.select("unit", F.col("__rows").alias("n_rows"),
                        F.explode(F.array(*structs)).alias("s"))
            .select("unit", "s.column", "s.spark_type", "n_rows",
                    "s.n_nulls", "s.n_distinct", "s.min_num", "s.max_num",
                    "s.min_int", "s.max_int", "s.min_len", "s.max_len",
                    "s.sep"))

    str_cols = [c for c in columns if isinstance(fields[c], T.StringType)]
    if str_cols:
        elig = core.where(
            F.col("spark_type").eqNullSafe("string")
            & F.col("n_distinct").between(1, enum_max)
            & (F.col("sep") == 0)).select("unit", "column")
        melted = df.select(
            unit.alias("unit"),
            F.expr("stack({n}, {args}) as (column, val)".format(
                n=len(str_cols),
                args=", ".join(f"'{c}', `{c}`" for c in str_cols)))
        ).where(F.col("val").isNotNull())
        # joins are NULL-SAFE on unit: rows whose unit expression is
        # NULL profile under the NULL unit and must keep their enums
        # (a plain equi-join would silently drop them).  No broadcast
        # HINT: the eligibility frame is one row per eligible
        # (unit, column) and the unit count is unbounded by this
        # function's own contract — AQE picks broadcast at runtime
        # whenever it actually fits, and falls back to a shuffle join
        # when a million-file corpus makes it big.
        e = elig.select(F.col("unit").alias("__eu"),
                        F.col("column").alias("__ec"))
        vals = melted.join(
            e,
            F.col("unit").eqNullSafe(F.col("__eu"))
            & (F.col("column") == F.col("__ec")),
            "left_semi").distinct()
        per = (vals.groupBy("unit", "column")
               .agg(F.array_join(F.sort_array(F.collect_set("val")),
                                 enum_sep).alias("enum_vals"),
                    F.count(F.lit(1)).alias("__nd2"))
               # the approx sketch may have under-counted eligibility:
               # re-check the bar on this pass's exact distinct count
               .where(F.col("__nd2") <= enum_max)
               .select(F.col("unit").alias("__pu"),
                       F.col("column").alias("__pc"), "enum_vals"))
        out = core.join(
            per,
            F.col("unit").eqNullSafe(F.col("__pu"))
            & (F.col("column") == F.col("__pc")),
            "left").drop("__pu", "__pc")
    else:
        out = core.withColumn("enum_vals", F.lit(None).cast("string"))
    return out.select(
        "unit", "column", "spark_type", "n_rows", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_int", "max_int", "min_len", "max_len",
        "enum_vals",
        ((F.col("n_rows") > 0) & (F.col("n_nulls") == 0)).alias("required"))


#: sentinel key injected into the per-doc key/value stream so ONE
#: exploded scan also yields doc-level counts (NUL-prefixed — no sane
#: JSON key starts with "\\x00"; see _json_kv_stream for the documented
#: hostile-collision corner)
_SENT_DOC = "\x00__doc__"

#: the fixed JSON-type vocabulary the profiler can observe — per-type MAX
#: flags in the corpus aggregation (codegen-friendly; no collect_set)
_JSON_TYPES = ("array", "boolean", "integer", "null", "number", "object",
               "other", "string")

#: variant type tag -> JSON-schema type name (schema_of_variant tags:
#: BIGINT / DECIMAL(p,0) are JSON integers — a JSON int past long range
#: parses to an integral DECIMAL; DOUBLE / fractional DECIMAL are JSON
#: numbers; the mapping mirrors columnar/varsql.py's is_bigint /
#: is_intdec / is_num predicates so mined types agree with validated ones)


def _variant_map(df: DataFrame, json_col: str):
    """``map<string,variant>`` view of the JSON column — the ONE parse
    recipe both mining passes share (a drifting copy would let the enum
    pass profile differently-parsed values than the stats pass)."""
    # last-wins duplicate keys, like the reference's json.loads (same
    # session-wide conf note as jsoncol.validate_json_column)
    df.sparkSession.conf.set("spark.sql.variant.allowDuplicateKeys", "true")
    return F.try_variant_get(F.try_parse_json(F.col(json_col)),
                             "$", "map<string,variant>")


def _json_kv_stream(df: DataFrame, json_col: str):
    """(key, v variant) rows — one per key of each JSON-object doc, plus
    exactly one ``_SENT_DOC`` row per input ROW whose variant VALUE
    encodes the doc kind (JSON ``null`` = parsed to an object, ``false``
    = everything else: NULL text, broken syntax, scalar/array root), so
    a single exploded scan carries both per-key stats and doc counts.

    Reserved-namespace corner (documented, pinned by test): a hostile
    object doc that itself carries the NUL-prefixed sentinel key is
    counted by its OWN entry's value (object iff that value is JSON
    null) and that entry never reaches the profile.

    The parse is materialized in its OWN projection before the
    sentinel when-chain: the chain references the map 4 times, and
    inline that meant 4 parse+cast walks per doc — Catalyst does not
    collapse the two projections because duplicating a non-cheap
    expression is exactly what CollapseProject guards against
    (A/B-measured 20.8s -> 7.5s on the 2M-doc bench leg)."""
    step = df.select(_variant_map(df, json_col).alias("__m"))
    m = F.col("__m")
    vnull = F.parse_json(F.lit("null"))
    vfalse = F.parse_json(F.lit("false"))
    aug = (F.when(m.isNull(), F.create_map(F.lit(_SENT_DOC), vfalse))
           .when(~F.map_contains_key(m, _SENT_DOC),
                 F.map_concat(m, F.create_map(F.lit(_SENT_DOC), vnull)))
           .otherwise(m))
    return step.select(F.explode(aug).alias("key", "v"))


def _variant_exprs():
    """Shared per-value expressions over the ``v`` variant column.

    Integer typing mirrors the VALIDATION engine's draft-04 rule
    (columnar/varsql.py ``type_pass``): the variant parser canonicalizes
    ``"1.0"`` to DECIMAL(1,0), erasing json.loads' float-vs-int
    distinction, so a scale-0 DECIMAL tag counts as *integer* only past
    the long range (where it can only be a plain too-big-for-BIGINT
    integer literal) and as *number* otherwise — keeping mined types in
    agreement with both the reference's json.loads typing and the
    validator the mined schema feeds (same documented corner: a >=2^63
    integral written WITH a decimal point is indistinguishable)."""
    tag = F.schema_of_variant(F.col("v"))
    vnull = F.is_variant_null(F.col("v"))
    num_all = F.try_variant_get(F.col("v"), "$", "double")
    is_int = (tag == "BIGINT") | (
        tag.startswith("DECIMAL") & tag.endswith(",0)")
        & (F.abs(num_all) >= F.lit(9.223372036854776e18)))
    is_num = (tag == "BIGINT") | (tag == "DOUBLE") | tag.startswith("DECIMAL")
    jtype = (F.when(vnull, "null")
             .when(is_int, "integer")
             .when(is_num, "number")
             .when(tag == "STRING", "string")
             .when(tag == "BOOLEAN", "boolean")
             .when(tag.startswith("OBJECT"), "object")
             .when(tag.startswith("ARRAY"), "array")
             .otherwise("other"))
    num = F.when(is_num, num_all)
    lng = F.when(is_int, F.try_variant_get(F.col("v"), "$", "long"))
    s = F.when(tag == "STRING",
               F.try_variant_get(F.col("v"), "$", "string"))
    return jtype, vnull, is_int, num, lng, s


_JSON_OUT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("json_types", T.StringType()),
    T.StructField("n_objects", T.LongType()),
    T.StructField("n_nonobject", T.LongType()),
    T.StructField("n_present", T.LongType()),
    T.StructField("n_null", T.LongType()),
    T.StructField("n_distinct", T.LongType()),
    T.StructField("min_num", T.DoubleType()),
    T.StructField("max_num", T.DoubleType()),
    T.StructField("min_int", T.LongType()),
    T.StructField("max_int", T.LongType()),
    T.StructField("min_len", T.IntegerType()),
    T.StructField("max_len", T.IntegerType()),
    T.StructField("enum_vals", T.StringType()),
    T.StructField("required", T.BooleanType()),
])


def suggest_json_constraints(
    df: DataFrame,
    json_col: str,
    *,
    enum_max: int = 16,
    enum_sep: str = ",",
    distinct: str = "approx",
    distinct_rsd: float = 0.05,
    max_keys: int = 10_000,
) -> DataFrame:
    """Mine per-KEY constraints from a dynamic JSON string column — the
    inverse of :func:`~spark_schema_guard.jsoncol.validate_json_column`
    (the reference direction is schema → validator,
    /root/reference/fastjsonschema/__init__.py:212; production JSON
    columns usually ship with no written contract).  One row per
    distinct top-level key observed across the corpus:

    ``(key, json_types, n_objects, n_nonobject, n_present, n_null,
    n_distinct, min_num, max_num, min_int, max_int, min_len, max_len,
    enum_vals, required)``

    * ``json_types``: sorted ``,``-joined set of JSON types the key's
      values take (``integer number string boolean object array null``
      — an explicit JSON ``null`` is type ``null`` AND counts as
      present, matching the reference's ``required`` semantics);
    * ``n_objects`` / ``n_nonobject`` (constant per row): docs whose
      text parses to a JSON object / everything else (NULL text, broken
      syntax, scalar or array root);
    * ``min_num``/``max_num``: double view over numeric values;
      ``min_int``/``max_int``: EXACT long bounds over integer values —
      NULLed when any integer exceeds long range (a rounded bound
      would break the mined contract's closure, see
      :func:`suggested_json_schema`);
    * ``min_len``/``max_len``/``n_distinct``/``enum_vals``: over
      string-typed values (same enum bar and separator-poisoning rule
      as :func:`suggest_constraints`);
    * ``required``: present in EVERY object doc.

    Scale shape (10^12-row argument): ONE parse per doc
    (``try_parse_json`` → ``map<string,variant>``), exploded to
    ``(key, value)`` rows that feed a ``groupBy(key)`` whose aggregates
    are all algebraic — map-side partial aggregation collapses the
    stream to (#keys × partitions) rows before the shuffle, so the
    exchange carries kilobytes no matter the corpus size.  Doc-level
    counts ride the SAME scan as injected per-doc sentinel keys
    (NUL-prefixed; map-side combine absorbs the hot sentinel key — it
    is one partial row per task, never a skewed reducer).  The enum
    value pass is a SECOND bounded scan over eligible keys only,
    exactly like :func:`suggest_constraints`; ``distinct="exact"`` is
    the oracle mode, ``"approx"`` (HLL++) the 100-TB mode.

    ``max_keys`` bounds the per-key profile itself: a corpus that uses
    JSON objects as MAPS (one key per entity id) has data-scale key
    cardinality, and collecting its profile would be unbounded — the
    miner fails loudly past the cap (the ``PlanTooLarge`` philosophy)
    instead of OOMing the driver.
    """
    if distinct not in ("approx", "exact"):
        raise ValueError("distinct must be 'approx' or 'exact'")
    if enum_max < 1:
        raise ValueError("enum_max must be >= 1")
    if max_keys < 1:
        raise ValueError("max_keys must be >= 1")
    kv = _json_kv_stream(df, json_col)
    jtype, vnull, is_int, num, lng, s = _variant_exprs()
    # the variant expressions are PROJECTED once per kv row before the
    # aggregate: as aggregate-input expressions each aggregate walks
    # the variant again (schema_of_variant / try_variant_get do a full
    # value walk, and they feed a dozen aggregates) — A/B-measured
    # 52.6s -> 33.8s on the 2M-doc bench leg's stats pass
    kv = kv.select("key", jtype.alias("__jt"), vnull.alias("__vn"),
                   is_int.alias("__ii"), num.alias("__nm"),
                   lng.alias("__lg"), s.alias("__s"))
    s = F.col("__s")
    nd = (F.count_distinct(s) if distinct == "exact"
          else F.approx_count_distinct(s, distinct_rsd))
    # observed types as per-type MAX flags, not collect_set: the type
    # vocabulary is fixed, and collect_set is a TypedImperativeAggregate
    # that forces the whole corpus pass onto ObjectHashAggregateExec —
    # flags keep it in codegen'd HashAggregate (A/B: 12.2s -> 10.3s on
    # the 2M-doc bench leg); json_types is assembled driver-side
    type_flags = [F.max(F.col("__jt") == tn).alias(f"t_{tn}")
                  for tn in _JSON_TYPES]
    grouped = kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.col("__vn").cast("long")).alias("n_null"),
        *type_flags,
        nd.alias("nd"),
        F.min("__nm").alias("min_num"), F.max("__nm").alias("max_num"),
        F.min("__lg").alias("min_int"), F.max("__lg").alias("max_int"),
        F.sum(F.col("__ii").cast("long")).alias("n_int"),
        F.count("__lg").alias("n_long"),
        F.min(F.length(s)).cast("int").alias("min_len"),
        F.max(F.length(s)).cast("int").alias("max_len"),
        F.coalesce(F.max((s.contains(enum_sep) | s.contains("\n"))
                         .cast("int")), F.lit(0)).alias("sep"),
    )
    # the collect is bounded by max_keys, LOUDLY: a corpus that uses
    # JSON objects as maps (id-keyed entries) has data-scale key
    # cardinality, and a per-key profile of it is driver-unboundable —
    # fail like PlanTooLarge instead of OOMing the driver
    rows_in = grouped.limit(max_keys + 2).collect()
    if len(rows_in) > max_keys + 1:  # +1: the sentinel key
        raise ValueError(
            f"more than max_keys={max_keys} distinct JSON keys — this "
            "column uses objects as maps, not records; per-key mining "
            "is not meaningful (raise max_keys, or profile a slice)")

    by_key = {r["key"]: r for r in rows_in}
    sent = by_key.pop(_SENT_DOC, None)
    n_total = sent["n_present"] if sent is not None else 0
    n_objects = (sent["n_null"] or 0) if sent is not None else 0
    n_nonobject = n_total - n_objects

    def types_of(r):
        return {tn for tn in _JSON_TYPES if r[f"t_{tn}"]}

    eligible = [k for k, r in by_key.items()
                if types_of(r) == {"string"}
                and 1 <= r["nd"] <= enum_max and r["sep"] == 0]
    enum_vals: dict[str, str] = {}
    if eligible:
        # second bounded pass for eligible keys only.  Few keys: a
        # map_filter over literal membership prunes the map BEFORE the
        # explode (measured 5.6s -> 4.9s on the 2M-doc bench leg; the
        # HOF is fine here — this pass is already CodegenFallback via
        # the variant expressions).  Many keys: literals would put
        # O(|eligible|) nodes in the plan (the documented driver-
        # analysis trap, see similarity._probe_frame), so switch to a
        # one-node local-relation semi-join over the exploded stream.
        m = _variant_map(df, json_col)
        if len(eligible) <= 64:
            kv2 = df.select(F.explode(
                F.map_filter(m, lambda k, _: k.isin(eligible))
            ).alias("key", "v"))
        else:
            elig_df = df.sparkSession.createDataFrame(
                [(k,) for k in eligible], "key string")
            kv2 = (df.select(F.explode(m).alias("key", "v"))
                   .join(F.broadcast(elig_df), "key", "left_semi"))
        _, _, _, _, _, s2 = _variant_exprs()
        per_key = (kv2.select("key", s2.alias("val"))
                   .where(F.col("val").isNotNull()).distinct()
                   .groupBy("key")
                   .agg(F.array_join(F.sort_array(F.collect_set("val")),
                                     enum_sep).alias("vals"),
                        F.count(F.lit(1)).alias("nd"))
                   .collect())
        for r in per_key:
            if r["nd"] <= enum_max:  # approx sketch may have under-counted
                enum_vals[r["key"]] = r["vals"]

    rows = []
    for k in sorted(by_key):
        r = by_key[k]
        overflow = r["n_int"] > r["n_long"]  # long cast lost an integer
        rows.append((
            k, ",".join(sorted(types_of(r))), n_objects, n_nonobject,
            r["n_present"], r["n_null"] or 0, int(r["nd"]),
            r["min_num"], r["max_num"],
            None if overflow else r["min_int"],
            None if overflow else r["max_int"],
            r["min_len"], r["max_len"],
            enum_vals.get(k),
            bool(n_objects > 0 and r["n_present"] == n_objects),
        ))
    return df.sparkSession.createDataFrame(rows, _JSON_OUT_SCHEMA)


def suggested_json_schema(
    df: DataFrame,
    json_col: str,
    *,
    enum_max: int = 16,
    enum_sep: str = ",",
    distinct: str = "approx",
    distinct_rsd: float = 0.05,
    additional_properties: bool = False,
    profile: DataFrame | None = None,
) -> dict:
    """Mine a JSON string column (or reuse a
    :func:`suggest_json_constraints` ``profile``) into a JSON-schema
    dict that feeds straight back into
    :func:`~spark_schema_guard.jsoncol.validate_json_column`::

        schema = suggested_json_schema(trusted_snapshot, "props")
        out = validate_json_column(next_batch, "props", schema,
                                   engine="columnar")

    Per key: observed JSON types become the ``type`` keyword (a list
    when mixed; ``null`` observed → ``"null"`` joins the list), integer
    keys gain EXACT ``minimum``/``maximum`` (omitted when any value
    exceeded long range — a rounded bound would exclude real data),
    mixed/float numeric keys gain double bounds (omitted whenever any
    numeric magnitude exceeds 2^53: past that the double view cannot
    prove exactness — big integers round, and scale-0 decimal literals
    type as "number" yet compare exactly in the columnar engine), and
    boolean-bearing keys get NO bounds at all (both engines bound-check
    booleans — bool is int in the reference — so a bound mined from the
    numeric values would reject the snapshot's own ``false``); string
    keys gain ``minLength``/``maxLength`` and — for pure-string
    low-cardinality keys — ``enum``; keys present in every object doc
    become ``required``.  ``additional_properties=False`` (default) CLOSES the
    contract: a future batch with a novel key fails validation, which
    is the drift signal a mined contract is for.

    The mined contract is CLOSED over its snapshot: every doc whose
    text parses to a JSON object validates by construction (pinned by
    test; non-object docs fail with the engine's "must be valid JSON"
    sentinel, which is what you want from a corpus gate).
    """
    if profile is None:
        profile = suggest_json_constraints(
            df, json_col, enum_max=enum_max, enum_sep=enum_sep,
            distinct=distinct, distinct_rsd=distinct_rsd)
    properties: dict[str, dict] = {}
    required: list[str] = []
    two53 = 1 << 53
    for r in profile.collect():
        types = set(r["json_types"].split(","))
        prop: dict = {}
        tnames = sorted(types - {"other"})
        if tnames:
            prop["type"] = tnames[0] if len(tnames) == 1 else tnames
        has_int = "integer" in types
        has_frac = "number" in types
        # both engines bound-check BOOLEANS too (bool is int in the
        # reference, draft04.py minimum's isinstance check; varsql's
        # is_numlike includes the BOOLEAN tag) — a mined bound computed
        # only over numeric values would reject a snapshot's own
        # `false` (0 < minimum), so boolean-bearing keys get no bounds
        has_bool = "boolean" in types
        if has_bool:
            pass
        elif has_int and not has_frac:
            if r["min_int"] is not None:  # NULL = long overflow: omit
                prop["minimum"] = int(r["min_int"])
                prop["maximum"] = int(r["max_int"])
        elif has_frac:
            # double bounds are exact only while every numeric value is
            # double-representable.  Two lossy corners are omitted
            # (never rounded): an INTEGER past 2^53 (its exact long is
            # in min_int/max_int, but the double bound would round),
            # and any numeric magnitude past 2^53 at all — a scale-0
            # DECIMAL literal like 1152921504606846977.0 types as
            # "number" (json.loads parity) yet the columnar engine
            # compares it EXACTLY on the decimal view (varsql
            # is_intdec), so a rounded double bound would reject the
            # snapshot's own value
            safe_int = (not has_int
                        or (r["min_int"] is not None
                            and -two53 <= r["min_int"]
                            and r["max_int"] <= two53))
            safe_dbl = (r["min_num"] is not None
                        and abs(r["min_num"]) <= two53
                        and abs(r["max_num"]) <= two53)
            if safe_int and safe_dbl:
                prop["minimum"] = r["min_num"]
                prop["maximum"] = r["max_num"]
        if "string" in types and r["min_len"] is not None:
            prop["minLength"] = int(r["min_len"])
            prop["maxLength"] = int(r["max_len"])
        if r["enum_vals"] is not None and types == {"string"}:
            prop["enum"] = r["enum_vals"].split(enum_sep)
        properties[r["key"]] = prop
        if r["required"]:
            required.append(r["key"])
    schema: dict = {"type": "object", "properties": properties}
    if required:
        schema["required"] = sorted(required)
    if not additional_properties:
        schema["additionalProperties"] = False
    return schema


def constraint_drift(
    profile_a: DataFrame,
    profile_b: DataFrame,
    *,
    enum_sep: str = ",",
) -> DataFrame:
    """Contract diff between two ``suggest_constraints`` profiles (an
    old trusted snapshot vs a new batch): one row per
    ``(column, finding)`` with ``breaking`` = TRUE when data satisfying
    the NEW profile can violate a schema mined from the OLD one.

    Findings (emitted only when they hold):

    * ``column_added`` / ``column_removed`` (removal breaks iff the old
      column was required) — presence changes suppress all others;
    * ``type_changed`` (``detail`` = ``old->new``; suppresses the
      value-level findings below);
    * ``became_nullable`` (breaking) / ``became_required``;
    * ``min_widened`` / ``max_widened`` (new data exceeds old bounds —
      breaking) and ``min_narrowed`` / ``max_narrowed``, with the two
      numbers in ``old_num`` / ``new_num``; same for string lengths as
      ``minlen_*`` / ``maxlen_*``.  Bounds diffing uses the profile's
      double view — integer drift smaller than a double ULP past 2^53
      is not flagged (drift is a signal; the mined CONTRACT itself uses
      the exact ``min_int``/``max_int``);
    * ``enum_values_added`` (breaking; ``detail`` = the new values,
      sorted, ``enum_sep``-joined) / ``enum_values_removed`` /
      ``enum_dropped`` (cardinality exploded past the bar — breaking) /
      ``enum_gained``.

    Profiles are one row per COLUMN, so the diff is driver-scale — and
    it is ONE projection (per joined row, an array of conditional
    finding structs, exploded once), not a union of 17 filtered
    sub-frames.  Two reasons: a caller may pass a LAZY profile (read
    from parquet, or hand-built over the table) and a 17-branch union
    would evaluate that subtree 17 times; and even over the local
    relations :func:`suggest_constraints` returns, the single plan
    halves wall time (measured 6.1s -> 2.9s on the bench leg, the
    remainder being the four eager table scans inside the two profile
    calls).
    """
    need = set(_OUT_COLS)
    for side, p in (("a", profile_a), ("b", profile_b)):
        missing = need - set(p.columns)
        if missing:
            raise ValueError(
                f"profile_{side} lacks suggest_constraints columns: "
                f"{sorted(missing)}")
    a = profile_a.select([F.col(c).alias(f"a_{c}") for c in _OUT_COLS])
    b = profile_b.select([F.col(c).alias(f"b_{c}") for c in _OUT_COLS])
    j = a.join(b, a["a_column"] == b["b_column"], "full_outer").select(
        F.coalesce(a["a_column"], b["b_column"]).alias("column"),
        "*").drop("a_column", "b_column")

    both = F.col("a_spark_type").isNotNull() & F.col("b_spark_type").isNotNull()
    same_type = F.col("a_spark_type") == F.col("b_spark_type")
    no_num = F.lit(None).cast("double")
    no_det = F.lit(None).cast("string")

    def finding(cond, name, breaking, old_num=None, new_num=None,
                detail=None):
        # a conditional struct, not a filtered sub-frame: all findings
        # ride ONE array in ONE projection so `j` evaluates once
        return F.when(cond, F.struct(
            F.lit(name).alias("finding"),
            (breaking if isinstance(breaking, Column)
             else F.lit(breaking)).cast("boolean").alias("breaking"),
            (old_num if old_num is not None else no_num)
            .cast("double").alias("old_num"),
            (new_num if new_num is not None else no_num)
            .cast("double").alias("new_num"),
            (detail if detail is not None else no_det)
            .cast("string").alias("detail")))

    an, bn = F.col("a_min_num"), F.col("b_min_num")
    ax, bx = F.col("a_max_num"), F.col("b_max_num")
    aln, bln = F.col("a_min_len").cast("double"), F.col("b_min_len").cast("double")
    alx, blx = F.col("a_max_len").cast("double"), F.col("b_max_len").cast("double")
    ae, be = F.col("a_enum_vals"), F.col("b_enum_vals")
    sep_pat = re.escape(enum_sep)  # split() takes a regex; sep is literal
    a_set, b_set = F.split(ae, sep_pat, -1), F.split(be, sep_pat, -1)
    added = F.array_join(F.array_sort(F.array_except(b_set, a_set)), enum_sep)
    removed = F.array_join(F.array_sort(F.array_except(a_set, b_set)), enum_sep)

    parts = [
        finding(F.col("a_spark_type").isNull(), "column_added", False),
        finding(F.col("b_spark_type").isNull(), "column_removed",
                F.coalesce(F.col("a_required"), F.lit(False))),
        finding(both & ~same_type, "type_changed", True,
                detail=F.concat(F.col("a_spark_type"), F.lit("->"),
                                F.col("b_spark_type"))),
    ]
    live = both & same_type  # value-level findings only on stable typing
    parts += [
        finding(live & F.col("a_required") & ~F.col("b_required"),
                "became_nullable", True),
        finding(live & ~F.col("a_required") & F.col("b_required"),
                "became_required", False),
        finding(live & (bn < an), "min_widened", True, an, bn),
        finding(live & (bn > an), "min_narrowed", False, an, bn),
        finding(live & (bx > ax), "max_widened", True, ax, bx),
        finding(live & (bx < ax), "max_narrowed", False, ax, bx),
        finding(live & (bln < aln), "minlen_widened", True, aln, bln),
        finding(live & (bln > aln), "minlen_narrowed", False, aln, bln),
        finding(live & (blx > alx), "maxlen_widened", True, alx, blx),
        finding(live & (blx < alx), "maxlen_narrowed", False, alx, blx),
        finding(live & ae.isNotNull() & be.isNotNull() & (added != ""),
                "enum_values_added", True, detail=added),
        finding(live & ae.isNotNull() & be.isNotNull() & (removed != ""),
                "enum_values_removed", False, detail=removed),
        finding(live & ae.isNotNull() & be.isNull(), "enum_dropped", True),
        finding(live & ae.isNull() & be.isNotNull(), "enum_gained", False),
    ]
    # explode keeps NULL array elements as NULL rows — the where() is the
    # per-finding filter, applied after j evaluated exactly once
    return (
        j.select("column", F.explode(F.array(*parts)).alias("__f"))
        .where(F.col("__f").isNotNull())
        .select("column", "__f.finding", "__f.breaking",
                "__f.old_num", "__f.new_num", "__f.detail"))


def json_constraint_drift(
    profile_a: DataFrame,
    profile_b: DataFrame,
    *,
    enum_sep: str = ",",
) -> DataFrame:
    """:func:`constraint_drift` over two :func:`suggest_json_constraints`
    profiles (old trusted snapshot of a JSON column vs a new batch) —
    the same per-``(column, finding)`` diff rows, with ``column`` =
    the JSON key and ``type_changed`` comparing the observed JSON type
    SETS (``detail`` = ``old->new`` of the sorted ``,``-joined sets, so
    a key that gains a second type reads e.g. ``integer->integer,string``
    and value-level findings are suppressed for it, exactly like a Spark
    type change).  ``n_nulls`` maps to ABSENCE (``n_objects -
    n_present``): a key that stops appearing in every doc surfaces as
    ``became_nullable`` (breaking — it was mined ``required``)."""
    def adapt(p: DataFrame) -> DataFrame:
        return p.select(
            F.col("key").alias("column"),
            F.col("json_types").alias("spark_type"),
            F.col("n_objects").alias("n_rows"),
            (F.col("n_objects") - F.col("n_present")).alias("n_nulls"),
            "n_distinct", "min_num", "max_num", "min_len", "max_len",
            "enum_vals", "required")
    return constraint_drift(adapt(profile_a), adapt(profile_b),
                            enum_sep=enum_sep)
