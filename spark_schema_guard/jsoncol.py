"""Validation of dynamic JSON string columns (e.g. ``events.props``).

Two engines (plus ``engine="auto"``, which compiles the columnar plan
and falls back to the python engine only on ``PlanUnsupported``):

* ``engine="python"`` (exact): the driver-compiled closure validator is
  captured in an Arrow-batched pandas UDF — compile once, ship once per
  task, evaluate per batch.  Full reference semantics incl.
  additionalProperties over open keys, type-strict enum, dynamic types.
  This is the only per-row-Python path in the engine, reserved for data
  whose structure is genuinely dynamic (the reference's whole workload).

* ``engine="columnar"`` (fast): ``from_json`` parses into a struct derived
  from the schema, then the columnar plan compiler takes over — all JVM.
  Open-key keywords see the TRUE runtime key set via ``json_object_keys``
  on the raw JSON text: ``additionalProperties: false``,
  ``propertyNames``, ``min/maxProperties``, ``required`` (an explicit
  null value counts as present, reference-exact) and boolean
  ``patternProperties`` all match the reference.  VALUE schemas over
  undeclared keys run on a ``map<string, variant>`` view (Spark 4
  VariantType preserves exact JSON types; ``schema_of_variant`` +
  ``try_variant_get`` drive scalar keyword checks with reference-parity
  messages; ``enum``/``const`` members that are themselves arrays or
  objects compare with the reference's type-strict deep equality,
  unrolled to static SQL text at compile time).  A field-level type mismatch on a DECLARED key parses to a
  NULL field while the key stays visible, so the type rule fires instead
  of a blanket invalid-JSON sentinel; "must be valid JSON" is reserved
  for text that is not a JSON object at all.  Combinators
  (``anyOf``/``oneOf``/``allOf``/``not``/``if``-``then``-``else``)
  over scalar branches compose from the same variant rules — exact
  dynamic-type semantics with byte-parity messages.  NESTED container
  value schemas recurse through ``array<variant>`` /
  ``map<string,variant>`` casts (``items``/``contains``/``min-maxItems``,
  ``properties``/``required``/``dependencies``/``additionalProperties``/
  ``patternProperties``/``propertyNames``/``min-maxProperties``), each
  violation carrying the child's own dotted/indexed name.
  ``uniqueItems`` reproduces the reference's freeze canonicalization
  (cross-type 1 == 1.0, bool→"True"/"False" collision) via canonical
  strings, and recursive ``$ref``s unroll to ``ref_unroll_depth``
  repeats per compile path (the reference compiles recursion to
  recursive functions, generator.py:192-217; expression trees must
  unroll) — data nested deeper raises at evaluation time by default
  (``on_depth_exceeded="violation"`` flags it instead; never a silent
  wrong verdict).  Combinator-heavy recursion like the draft
  metaschemas (~10 self-refs per level) exceeds ``plan_text_budget``
  and raises ``PlanTooLarge`` at compile time — ``engine="auto"``
  routes those to the python engine, whose compiled-closure validator
  is the right tool there.  ``json_types="coerce"`` opts out of the
  variant view for a cheaper plan that validates the typed struct parse
  directly (string fields silently absorb numbers/bools — the
  pre-variant behavior, now an explicit choice).
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rowcheck import compile_row_validator

VIOLATION_TYPE = T.ArrayType(T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("rule", T.StringType()),
    T.StructField("message", T.StringType()),
]))


def json_violations_udf(definition, *, formats=None, use_formats=True,
                        use_default=True):
    """Build a pandas UDF: JSON string -> violations array."""
    validator = compile_row_validator(
        definition, formats=formats, use_formats=use_formats,
        use_default=use_default, fast_fail=False, detailed_exceptions=True,
    )
    @F.pandas_udf(VIOLATION_TYPE)
    def check(series: pd.Series) -> pd.Series:
        def one(value):
            if value is None:
                return []
            try:
                data = json.loads(value)
            except Exception:
                return [{"name": "data", "rule": None,
                         "message": "data must be valid JSON"}]
            try:
                return [e.as_row() for e in validator.collect(data)]
            except RecursionError:
                return [{"name": "data", "rule": None,
                         "message": "data is too deeply nested"}]

        return series.map(one)

    return check


def validate_json_column(
    df: DataFrame,
    column: str,
    definition: dict,
    *,
    engine: str = "python",
    violations_col: str = "violations",
    verdict_col: str = "verdict",
    formats=None,
    json_types: str = "exact",
    mode: str = "strict",
    ref_unroll_depth: int = 3,
    on_depth_exceeded: str | None = None,
    canon_depth: int = 5,
    plan_text_budget: int = 2_000_000,
    pack_recursion: bool = True,
) -> DataFrame:
    """Append violations + verdict for a JSON string column.

    ``mode`` presets the depth-exceeded policy (columnar engine only):

    * ``"strict"`` (default): data nested past ``ref_unroll_depth`` /
      ``canon_depth`` RAISES at evaluation time — exact-parity mode,
      right for differential tests and bounded contracts.
    * ``"scale"``: the same data yields a per-row depth violation and
      the job COMPLETES — the right default for a multi-hour corpus
      run, where one pathological row at hour 10 must not abort the
      job.  Equivalent to ``on_depth_exceeded="violation"``; an
      explicit ``on_depth_exceeded`` always wins over the preset.

    ``json_types`` (columnar engine only): ``"exact"`` (default) types
    declared scalar fields from the variant view — exact reference
    semantics for dynamic JSON types, ~1.4x the plan cost of
    ``"coerce"``, which validates the schema-typed struct parse
    directly (numbers/booleans silently coerce into string-typed
    fields; undeclared-key value schemas raise PlanUnsupported).

    ``engine="auto"`` compiles the columnar (JVM, zero-shuffle) plan and
    falls back to the exact Arrow-batched python engine only when the
    schema needs it (``PlanUnsupported``: nested value schemas over
    undeclared keys, recursive object refs).

    Session side effect (exact mode): sets
    ``spark.sql.variant.allowDuplicateKeys=true`` SESSION-WIDE so the
    variant parse treats duplicate JSON keys as last-wins like the
    reference's ``json.loads``.  The conf is read when the returned
    (lazy) DataFrame executes, so it cannot be scoped to this plan and
    is deliberately not restored — sessions that rely on the builder's
    strict duplicate-key rejection for their OWN variant parses should
    validate in ``json_types="coerce"`` mode or a separate session."""
    if mode not in ("strict", "scale"):
        raise ValueError(f"mode must be 'strict' or 'scale', got {mode!r}")
    if on_depth_exceeded is None:
        on_depth_exceeded = "violation" if mode == "scale" else "error"
    if engine == "auto":
        from .columnar.compiler import PlanUnsupported
        try:
            return validate_json_column(
                df, column, definition, engine="columnar",
                violations_col=violations_col, verdict_col=verdict_col,
                formats=formats, json_types=json_types,
                ref_unroll_depth=ref_unroll_depth,
                on_depth_exceeded=on_depth_exceeded,
                canon_depth=canon_depth,
                plan_text_budget=plan_text_budget,
                pack_recursion=pack_recursion)
        except PlanUnsupported:
            return validate_json_column(
                df, column, definition, engine="python",
                violations_col=violations_col, verdict_col=verdict_col,
                formats=formats)
    if engine == "python":
        udf = json_violations_udf(definition, formats=formats)
        out = df.withColumn(violations_col, udf(F.col(column)))
        return out.withColumn(verdict_col, F.size(F.col(violations_col)) == 0)

    if engine == "columnar":
        from .columnar import spark_struct_for
        from .columnar.compiler import compile_plan_for_column

        if json_types not in ("exact", "coerce"):
            raise ValueError(f"unknown json_types {json_types!r}")
        exact = json_types == "exact"
        struct_type = spark_struct_for(definition)
        tmp = "__parsed__"
        tmp_v = "__variants__"
        tmp_k = "__json_keys__"
        # materialized parses per row (helper COLUMNS, not inline
        # expressions — the JSON expressions are CodegenFallback, inline
        # copies would re-parse the text per rule): the schema-typed
        # struct always; in exact mode also a map<string,variant> view
        # whose map_keys doubles as the runtime key array (Catalyst
        # prunes the struct parse whenever every declared-field rule
        # compiles against the variant view); in coerce mode just
        # json_object_keys for the key-level open-key rules.
        out = df.withColumn(tmp, F.from_json(F.col(column), struct_type))
        if exact:
            # try_parse_json (the native variant parser) + a "$" cast to
            # map<string,variant> measures ~16x cheaper than
            # from_json(map<string,variant>) for the same view (broken
            # syntax and non-object JSON both yield NULL either way).
            # Duplicate keys must be last-wins like the reference's
            # json.loads — the variant builder rejects them unless this
            # (runtime-settable) conf says otherwise; set defensively
            # for sessions not built by build_session.
            df.sparkSession.conf.set(
                "spark.sql.variant.allowDuplicateKeys", "true")
            out = (out.withColumn(tmp_v, F.try_variant_get(
                       F.try_parse_json(F.col(column)),
                       "$", "map<string,variant>"))
                   .withColumn(tmp_k, F.map_keys(F.col(tmp_v))))
        else:
            out = out.withColumn(tmp_k,
                                 F.json_object_keys(F.col(column)))
        plan = compile_plan_for_column(
            definition, tmp, struct_type,
            json_source_col=column,
            variant_source_col=tmp_v if exact else None,
            keys_source_col=tmp_k,
            exact_json_types=exact,
            formats=formats,
            ref_unroll_depth=ref_unroll_depth,
            on_depth_exceeded=on_depth_exceeded,
            canon_depth=canon_depth,
            plan_text_budget=plan_text_budget,
            pack_recursion=pack_recursion)
        # "malformed" = the text is not a JSON object at all (broken
        # syntax, or a scalar/array where an object is required).  A
        # field-level type mismatch parses to a NULL field while the key
        # stays visible in json_object_keys, so the declared-field type
        # rules fire with reference semantics instead of a blanket
        # invalid-JSON sentinel.
        malformed = F.when(
            F.col(column).isNotNull() & F.col(tmp_k).isNull(),
            F.array(F.struct(
                F.lit("data").alias("name"),
                F.lit(None).cast("string").alias("rule"),
                F.lit("data must be valid JSON").alias("message"),
            )),
        )
        out = plan.with_aux(out).withColumn(
            violations_col,
            F.coalesce(malformed, plan.violations_column()),
        ).drop(tmp, tmp_k, *([tmp_v] if exact else []))
        out = plan.drop_aux(out)
        return out.withColumn(verdict_col, F.size(F.col(violations_col)) == 0)

    raise ValueError(f"unknown engine {engine!r}")
