"""Validation of dynamic JSON string columns (e.g. ``events.props``).

Two engines (plus ``engine="auto"``, which compiles the columnar plan
and falls back to the python engine only on ``PlanUnsupported``):

* ``engine="python"`` (exact): the driver-compiled closure validator is
  captured in an Arrow-batched pandas UDF — compile once, ship once per
  task, evaluate per batch.  Full reference semantics incl.
  additionalProperties over open keys, type-strict enum, dynamic types.
  This is the only per-row-Python path in the engine, reserved for data
  whose structure is genuinely dynamic (the reference's whole workload).

* ``engine="columnar"`` (fast): ``compile_plan_for_column(...).apply(df)``
  — all JVM.  The plan owns its parse: a struct derived from the schema,
  a ``map<string, variant>`` view (exact mode) and the runtime key array
  are its first helper columns, so it saves, reloads and runs under
  ``AuditedRun`` like a table plan.  Open-key keywords see the TRUE
  runtime key set: ``additionalProperties: false``,
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
  is the right tool there.  Every ``properties`` key compiles wherever
  it is declared: one outside the top-level ``properties`` (under a
  combinator, ``if``/``then``/``else`` or a schema ``dependencies``) has
  no field in the parsed struct and validates over the variant view.
  ``json_types="coerce"`` opts out of the variant view for a cheaper
  plan that validates the typed struct parse directly (string fields
  silently absorb numbers/bools — the pre-variant behavior, now an
  explicit choice); it raises ``PlanUnsupported`` for a property outside
  the top-level struct, so ``engine="auto"`` runs the python engine
  there.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import DataFrame
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
    ref_unroll_depth: int = 3,
    on_depth_exceeded: str = "error",
    canon_depth: int = 5,
    plan_text_budget: int = 2_000_000,
    pack_recursion: bool = True,
) -> DataFrame:
    """Append violations + verdict for a JSON string column.

    ``on_depth_exceeded`` (columnar engine only): ``"error"`` (default)
    RAISES at evaluation time on data nested past ``ref_unroll_depth`` /
    ``canon_depth`` — exact-parity mode, right for differential tests
    and bounded contracts.  ``"violation"`` yields a per-row depth
    violation instead and the job COMPLETES — the right choice for a
    multi-hour corpus run, where one pathological row at hour 10 must
    not abort the job.

    ``json_types`` (columnar engine only): ``"exact"`` (default) types
    declared scalar fields from the variant view — exact reference
    semantics for dynamic JSON types, ~1.4x the plan cost of
    ``"coerce"``, which validates the schema-typed struct parse
    directly (numbers/booleans silently coerce into string-typed
    fields; undeclared-key value schemas, and properties declared
    outside the top-level ``properties``, raise PlanUnsupported).

    ``engine="auto"`` compiles the columnar (JVM, zero-shuffle) plan and
    falls back to the exact Arrow-batched python engine only when the
    schema needs it (``PlanUnsupported``: nested value schemas over
    undeclared keys, recursive object refs).

    The columnar engine is ``compile_plan_for_column(...).apply(df)``;
    see :meth:`ValidationPlan.apply` for its session side effect in
    exact mode (``spark.sql.variant.allowDuplicateKeys``)."""
    if engine in ("columnar", "auto"):
        from .columnar.compiler import PlanUnsupported, compile_plan_for_column

        try:
            plan = compile_plan_for_column(
                definition, column, json_types=json_types, formats=formats,
                ref_unroll_depth=ref_unroll_depth,
                on_depth_exceeded=on_depth_exceeded, canon_depth=canon_depth,
                plan_text_budget=plan_text_budget,
                pack_recursion=pack_recursion)
        except PlanUnsupported:
            if engine == "columnar":
                raise
        else:
            return plan.apply(df, violations_col, verdict_col)
    elif engine != "python":
        raise ValueError(f"unknown engine {engine!r}")
    udf = json_violations_udf(definition, formats=formats)
    out = df.withColumn(violations_col, udf(F.col(column)))
    return out.withColumn(verdict_col, F.size(F.col(violations_col)) == 0)
