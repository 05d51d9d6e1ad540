"""ValidationPlan: the compiled, reusable artifact of the columnar compiler.

``plan.apply(df)`` appends two columns:

* ``violations: array<struct<name,rule,message>>`` — every failed rule in
  plan order (the reference's ``fast_fail=False`` error list,
  generator.py:148-152); empty array = valid row;
* ``verdict: boolean`` — ``size(violations) == 0``.

The first array element equals the reference's fast-fail error (rule
registration order is preserved by the compiler).  Every rule is Spark SQL
text built in plain Python at compile time; :meth:`ValidationPlan.
violations_column` parses the finished text once per use, so Catalyst
folds the constant parts, prunes unused columns, and whole-stage codegen
evaluates the rest JVM-side.

A JSON-column plan (``compile_plan_for_column``) carries its own parse
helpers and a not-a-JSON-object guard, so ``apply`` is the one way every
plan is evaluated, and ``to_spec``/``load_plan`` round-trip it too.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .varsql import _and, _nf, sqlstr

_NULL_STR = "CAST(NULL AS STRING)"


@dataclass
class Rule:
    """One vectorized validation rule, as SQL text.

    ``fail`` is a boolean expression that is true exactly where the rule
    is violated (never null — the compiler wraps it in coalesce).  The
    keyword emitters return Rules with no ``site`` yet: the compiler
    places them at one.
    """

    rule: str | None  # keyword id ('type', 'minimum', ...) or None
    site: str | None  # static dotted path for plan display
    name: str | None  # runtime name (may embed dynamic indices/keys)
    message: str | None
    fail: str
    # pre-built violation struct whose rule id varies per row (nested
    # element/map-entry violations surface their inner rule verbatim);
    # it replaces name/rule/message
    dynamic: str | None = None
    # offending value as a string (reference error objects carry .value)
    value: str | None = None
    # a dynamic rule's condition without its struct-non-null test: a
    # first-failing coalesce writes CASE WHEN gate THEN dynamic, the
    # struct once
    gate: str | None = None

    def gated(self, condition: str) -> "Rule":
        """The same rule, active only where ``condition`` holds (if/then,
        positional items length guards...)."""
        condition = _nf(condition)
        return dataclasses.replace(
            self, fail=_and(condition, self.fail),
            gate=self.gate and _and(condition, self.gate))

    def struct_sql(self, lean: bool = False,
                   include_value: bool = False) -> str:
        """The violation struct this rule emits where it fails."""
        d = f"({self.dynamic})" if self.dynamic is not None else None
        rule = f"{d}.rule" if d else (
            sqlstr(self.rule) if self.rule is not None else _NULL_STR)
        if lean:
            # detailed_exceptions=False analog (generator.py:277-282):
            # rule id only, no name/message construction work per row
            return (f"named_struct('name', {_NULL_STR}, 'rule', {rule}, "
                    f"'message', {_NULL_STR})")
        if d and not include_value:
            return self.dynamic
        name, message = ((f"{d}.name", f"{d}.message") if d
                         else (self.name, self.message))
        value = ""
        if include_value:
            value = f", 'value', {self.value or _NULL_STR}"
        return (f"named_struct('name', {name}, 'rule', {rule}, "
                f"'message', {message}{value})")


class ValidationPlan:
    def __init__(self, rules, defaults, schema_definition, df_schema,
                 regex_engine="jvm", detailed=True, include_value=False,
                 options=None, aux_cols=None, guard=None):
        self.rules = rules
        # helper columns (name, SQL text) projected before rule evaluation
        # and dropped after — JSON parses materialized once per row (the
        # parse expressions are CodegenFallback; inline copies would
        # re-parse the text per consulting rule).  A Python-UDF predicate
        # is a thunk building its Column at apply time.  Ordered: later
        # entries may reference earlier ones.
        self._aux = aux_cols or []
        # (condition, violation struct) as SQL text: where the condition
        # holds, that one violation replaces the rule list (a JSON plan's
        # not-a-JSON-object check)
        self.guard = guard
        self.defaults = defaults
        self.schema_definition = schema_definition
        self.df_schema = df_schema
        self.regex_engine = regex_engine
        self.detailed = detailed
        self.include_value = include_value
        self.options = options or {}

    @property
    def aux_cols(self) -> list[tuple[str, Column]]:
        """The helper columns as ``(name, Column)`` pairs."""
        return [(name, F.expr(c) if isinstance(c, str) else c())
                for name, c in self._aux]

    # -- evaluation --------------------------------------------------------

    def violations_column(self) -> Column:
        tail = (",value:STRING" if self.include_value and self.detailed
                else "")
        empty = ("CAST(array() AS "
                 f"ARRAY<STRUCT<name:STRING,rule:STRING,message:STRING{tail}>>)")
        # concat of per-rule conditional singleton arrays, NOT
        # filter(array(...), lambda): higher-order functions are
        # CodegenFallback, and one in the output projection drops the
        # whole stage out of whole-stage codegen — A/B measured ~35%
        # off the events_json bench query by keeping this codegen-able
        parts = [
            f"CASE WHEN {rule.fail} THEN array("
            f"{rule.struct_sql(not self.detailed, self.include_value)}) "
            f"ELSE {empty} END"
            for rule in self.rules]
        body = (empty if not parts else parts[0] if len(parts) == 1
                else "concat(" + ", ".join(parts) + ")")
        if self.guard is not None:
            condition, struct = self.guard
            body = f"CASE WHEN {condition} THEN array({struct}) ELSE {body} END"
        return F.expr(body)

    def with_aux(self, df: DataFrame) -> DataFrame:
        """Project the plan's helper columns (in registration order — later
        entries may reference earlier ones)."""
        out = df
        for name, col in self.aux_cols:
            out = out.withColumn(name, col)
        return out

    def drop_aux(self, df: DataFrame) -> DataFrame:
        return df.drop(*[name for name, _ in self._aux]) if self._aux else df

    def apply(self, df: DataFrame, violations_col: str = "violations",
              verdict_col: str = "verdict") -> DataFrame:
        """Append ``violations_col`` and ``verdict_col``.

        Session side effect (exact-mode JSON plans): sets
        ``spark.sql.variant.allowDuplicateKeys=true`` SESSION-WIDE so the
        variant parse treats duplicate JSON keys as last-wins like the
        reference's ``json.loads``.  The conf is read when the returned
        (lazy) DataFrame executes, so it cannot be scoped to this plan
        and is deliberately not restored — sessions that rely on strict
        duplicate-key rejection for their OWN variant parses should use
        ``json_types="coerce"`` plans or a separate session."""
        if self.options.get("json_types") == "exact":
            df.sparkSession.conf.set(
                "spark.sql.variant.allowDuplicateKeys", "true")
        out = self.with_aux(df).withColumn(violations_col, self.violations_column())
        out = self.drop_aux(out)
        return out.withColumn(verdict_col, F.size(F.col(violations_col)) == F.lit(0))

    def verdicts(self, df: DataFrame) -> DataFrame:
        """Lean projection: every input row -> verdict + first violation
        (the fast-fail view derived from the full evaluation)."""
        applied = self.apply(df)
        return applied.select(
            *[F.col(f.name) for f in df.schema.fields],
            F.col("verdict"),
            F.try_element_at(F.col("violations"), F.lit(1)).alias("first_violation"),
        )

    def violation_rows(self, df: DataFrame, keys: list[str] | None = None) -> DataFrame:
        """Exploded violations: one output row per (input row, failed rule)."""
        key_cols = [F.col(k) for k in (keys or [f.name for f in df.schema.fields])]
        applied = self.apply(df)
        exploded = applied.where(~F.col("verdict")).select(
            *key_cols, F.explode(F.col("violations")).alias("violation"))
        return exploded.select(
            *key_cols,
            F.col("violation.name").alias("name"),
            F.col("violation.rule").alias("rule"),
            F.col("violation.message").alias("message"),
        )

    def with_defaults(self, df: DataFrame) -> DataFrame:
        """Output projection with schema defaults applied to absent
        (NULL / missing) top-level columns.  Never mutates validated input
        columns in place — the reference's use_default data transformation
        (draft04.py:560-561) re-expressed as a projection."""
        out = df
        existing = {f.name for f in df.schema.fields}
        for column, default in self.defaults:
            if column in existing:
                out = out.withColumn(column, F.coalesce(F.col(column), F.lit(default)))
            else:
                out = out.withColumn(column, F.lit(default))
        return out

    # -- introspection -----------------------------------------------------

    def describe(self) -> list[dict]:
        return [{"rule": r.rule, "site": r.site} for r in self.rules]

    def explain(self) -> str:
        lines = [f"ValidationPlan ({len(self.rules)} rules, regex_engine={self.regex_engine})"]
        for i, r in enumerate(self.rules):
            lines.append(f"  [{i}] {r.site}: {r.rule}")
        if self.defaults:
            lines.append(f"  defaults: {self.defaults}")
        return "\n".join(lines)

    # -- persistence (compile_to_code analog, __init__.py:294-341) ---------

    def to_spec(self) -> dict:
        """The plan as a JSON-able spec: everything needed to rebuild it
        bit-identically on another driver (the reference serializes its
        generated source + regexes, generator.py:98-119; our plan is a
        pure function of schema + table schema + options, so the spec *is*
        the artifact).  Custom format/handler callables are not
        serializable — like the reference, re-supply them at load time."""
        opts = dict(self.options)
        if opts.get("formats"):
            opts["formats"] = sorted(opts["formats"])  # names only, as a marker
        if opts.get("handlers"):
            opts["handlers"] = sorted(opts["handlers"])
        return {
            "format": "spark-schema-guard/plan-spec@1",
            "definition": self.schema_definition,
            "df_schema": self.df_schema.jsonValue() if self.df_schema else None,
            "options": opts,
        }

    def save(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump(self.to_spec(), fh, indent=1)


def load_plan(path_or_spec, df_schema=None, *, formats=None, handlers=None):
    """Rebuild a :class:`ValidationPlan` from a spec produced by
    :meth:`ValidationPlan.save` — the load half of ``compile_to_code``
    parity (tests/test_compile_to_code.py:9-30 in the reference).  Pass
    ``df_schema`` to retarget the plan at a different table layout;
    ``formats``/``handlers`` re-bind custom callables the spec can only
    name."""
    import json

    from pyspark.sql import types as T

    if isinstance(path_or_spec, str):
        with open(path_or_spec) as fh:
            spec = json.load(fh)
    else:
        spec = path_or_spec
    if spec.get("format") != "spark-schema-guard/plan-spec@1":
        raise ValueError(f"not a plan spec: {spec.get('format')!r}")
    opts = dict(spec.get("options") or {})
    named_formats = opts.pop("formats", None)
    named_handlers = opts.pop("handlers", None)
    # the spec records custom callables by NAME only — the supplied dicts
    # must cover every recorded name, or the rebuilt plan would silently
    # diverge from the saved one
    if named_formats:
        missing = sorted(set(named_formats) - set(formats or {}))
        if missing:
            raise ValueError(
                f"plan spec names custom formats {sorted(named_formats)}; "
                f"formats= is missing {missing}")
    if named_handlers:
        missing = sorted(set(named_handlers) - set(handlers or {}))
        if missing:
            raise ValueError(
                f"plan spec names custom handlers {sorted(named_handlers)}; "
                f"handlers= is missing {missing}")
    json_column = opts.pop("json_column", None)
    if json_column is not None:
        from .compiler import compile_plan_for_column

        return compile_plan_for_column(spec["definition"], json_column,
                                       formats=formats, handlers=handlers,
                                       **opts)
    if df_schema is None and spec.get("df_schema"):
        df_schema = T.StructType.fromJson(spec["df_schema"])

    from .compiler import compile_plan

    return compile_plan(spec["definition"], df_schema,
                        formats=formats, handlers=handlers, **opts)
