"""Columnar plan compiler: JSON-Schema definition → ordered list of
vectorized rule predicates, each written as Spark SQL text.

The Spark analog of the reference's code generator (``generator.py``): one
driver-side compile turns the schema into declarative SQL that Catalyst
optimizes and whole-stage codegen evaluates JVM-side — no per-row Python
in the hot path.  Compilation is plain Python string building (zero py4j
round-trips); the plan parses the finished text when it is applied.
This module maps typed columns, struct fields, array elements and map
values onto sites and places emitted rules there (:meth:`_PlanCompiler.
_placed`).  Every keyword has ONE emitter, in the mixed-in ``varsql``
world, which also compiles VARIANT values; a typed site reaches them
through its views (:meth:`_PlanCompiler._views`), a JSON-backed
property through its variant value (``_json_property_rules``).
Evaluation-order parity: rules are emitted in the reference's
keyword-registration order (``draft04.py:42-68`` + draft-06/07
extensions), properties in schema order, so the first element of the
``violations`` array equals the reference's fast-fail error.

Static-type constant folding (the optimization the reference cannot do,
and Catalyst cannot either because it doesn't know rule semantics): a
typed site's JSON type facts are Python literals, so ``type: string`` on
a StringType column, ``minLength`` on a numeric column or ``type:
integer`` on a LongType column fold away before any text is written.

NULL convention: a NULL cell means the property is *absent* (JSON has
missing-vs-null; flat columns do not).  Per-value rules are therefore gated
on ``IS NOT NULL`` and only ``required`` fires on NULL — matching the
reference, where subschemas of absent keys are never evaluated.

Python-regex parity: ``pattern``/``format`` default to JVM ``rlike`` with the
``$``→``\\Z``→``\\z`` end-anchor translation (fast path); ``regex_engine=
"python"`` switches to an Arrow-batched pandas UDF running the same
precompiled Python regex bank as the reference for byte-exact semantics.
Python-UDF predicates (that engine, callable custom formats, ``format:
regex``) are the only Column-built expressions: each is a plan helper
column the rule text references by name.
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import SchemaDefinitionError
from ..ref_resolver import SchemaStore
from ..rowcheck.compiler import _Compiler as _RowCompiler, _pick_dialect
from . import typemap
from .plan import _NULL_STR, Rule, ValidationPlan
from .varsql import (_and, _nf, _PackFrame, _PackSingle, _typed_views,
                     _VariantSQLMixin, _Views, sqlident, sqlstr)


@dataclass
class _Site:
    """One value location as SQL text: a column, struct field, map value,
    or array element reached via a HOF lambda."""

    expr: str | None  # None only for the root row object
    dtype: T.DataType
    sname: str  # static dotted name for plan display
    name: str | None = None  # runtime name; None = the static sname
    base_uri: str = ""
    # Columns and struct fields follow NULL-means-absent; array elements and
    # map values are always "present" — their NULL is a JSON null value.
    null_is_value: bool = False
    # For struct sites parsed out of a JSON string column: the JSON TEXT of
    # this object (root = the raw column; nested = get_json_object slice).
    # Lets object keywords see the TRUE runtime key set instead of only
    # the schema-declared struct fields.
    json: str | None = None
    # Helper column holding the map<string,variant> view of ``json`` — the
    # anchor the varsql rule world hangs off.
    variant: str | None = None
    # Runtime key array of ``json`` (a helper column or map_keys(variant)).
    # Several object keywords consult it; JSON expressions re-parse per
    # inline occurrence, so parses are materialized once per row.
    keys: str | None = None
    # Inside a HOF lambda: the value is a lambda variable, so it cannot
    # feed a row-level helper column.
    lam: bool = False

    @property
    def name_sql(self) -> str:
        return sqlstr(self.sname) if self.name is None else self.name

    def present(self) -> str:
        if self.expr is None or self.null_is_value:
            return "true"
        if self.keys is not None:
            # JSON-backed object site: presence = the text parsed as a
            # JSON object.  Equivalent to the typed-struct parse being
            # non-null for every row the caller doesn't already override
            # with its malformed-JSON check, and it frees Catalyst to
            # prune the struct parse when all rules compile against the
            # variant view (scalar-only schemas → one parse per row).
            return f"({self.keys} IS NOT NULL)"
        return f"({self.expr} IS NOT NULL)"

    def child(self, expr, dtype, suffix, json=None,
              null_is_value=False) -> "_Site":
        name = (None if self.name is None
                else f"concat({self.name}, {sqlstr(suffix)})")
        return _Site(expr, dtype, self.sname + suffix, name, self.base_uri,
                     null_is_value, json=json, lam=self.lam)

    def fields(self) -> dict[str, "_Site"]:
        """Child site per statically known field (root columns or a
        struct's fields); a JSON-backed struct field keeps its JSON text."""
        if self.expr is not None and not isinstance(self.dtype, T.StructType):
            return {}
        return {f.name: self.child(
            sqlident(f.name) if self.expr is None
            else f"{self.expr}.{sqlident(f.name)}", f.dataType, "." + f.name,
            json=(f"get_json_object({self.json}, "
                  f"{sqlstr(_json_path(f.name))})"
                  if self.json is not None
                  and isinstance(f.dataType, T.StructType) else None))
            for f in self.dtype.fields}


def _value_of(site: _Site) -> str | None:
    """The site's value as a string, for ``include_value``."""
    return f"CAST({site.expr} AS STRING)" if site.expr is not None else None


def _json_path(key: str) -> str:
    """get_json_object path for a static key."""
    if re.fullmatch(r"[A-Za-z0-9_]+", key):
        return f"$.{key}"
    return "$['" + key.replace("'", "\\'") + "']"


def _ddl(dtype: T.DataType) -> str:
    """DDL type string with every field name quoted: JSON keys may hold
    spaces, dots, colons and backticks."""
    if isinstance(dtype, T.StructType):
        return "struct<" + ",".join(
            f"{sqlident(f.name)}:{_ddl(f.dataType)}" for f in dtype.fields) + ">"
    if isinstance(dtype, T.ArrayType):
        return f"array<{_ddl(dtype.elementType)}>"
    return dtype.simpleString()


class PlanUnsupported(SchemaDefinitionError):
    """A keyword/type combination the columnar compiler cannot express;
    callers may fall back to the row-validator pandas-UDF path."""


class PlanTooLarge(PlanUnsupported):
    """The compiled plan would exceed the expression-size budget —
    recursion-unrolled combinator-heavy schemas (e.g. the draft
    metaschemas, ~10 self-refs per level) produce multi-MB expression
    trees that Catalyst analyzes in minutes.  The python engine's
    compiled-closure validator is the right tool there; raise
    ``plan_text_budget`` / ``ref_unroll_budget`` to force the columnar
    attempt anyway."""


class _PlanCompiler(_VariantSQLMixin):
    def __init__(self, store: SchemaStore, dialect: str, options: dict):
        self.store = store
        self.dialect = dialect
        order, formats = _RowCompiler._DIALECTS[dialect]
        self.keyword_order = order
        self.format_table = formats
        self.integral_float_is_int = dialect != "draft04"
        self.regex_engine = options.get("regex_engine", "jvm")
        self.use_formats = options.get("use_formats", True)
        self.use_default = options.get("use_default", True)
        self.custom_formats = options.get("formats") or {}
        # exact JSON value typing for declared fields / undeclared value
        # schemas via VariantType; "coerce" = the typed struct parse
        # (faster, documented string-coercion caveat)
        self.exact_json_types = options.get("json_types", "exact") == "exact"
        # recursive $ref over JSON/variant values: per-path unroll depth
        # (each canonical ref may repeat this many times along one
        # compile path — the reference compiles recursion to recursive
        # FUNCTIONS, generator.py:192-217; expressions must unroll).
        # Data nested deeper than the bound is handled per
        # on_depth_exceeded: "error" raises at evaluation time (never a
        # silently wrong verdict), "violation" emits a distinguishable
        # violation row (documented divergence, mirrors the python
        # engine's RecursionError sentinel).
        self.ref_unroll_depth = int(options.get("ref_unroll_depth", 3))
        self.on_depth_exceeded = options.get("on_depth_exceeded", "error")
        if self.on_depth_exceeded not in ("error", "violation"):
            raise SchemaDefinitionError(
                f"on_depth_exceeded must be 'error' or 'violation', got "
                f"{self.on_depth_exceeded!r}")
        # uniqueItems freeze canonicalization recursion bound (containers
        # nested deeper raise at evaluation time).  The canon tree has a
        # 2-way branch per level (array + object), so cost is ~2^depth
        # PER uniqueItems site (~60KB of SQL text at depth 5, built once
        # as a memoized template) — 5 covers the reference's own deepest
        # uniqueItems suite cases with headroom; raise per-call for
        # deeper-container corpora.
        self.canon_depth = int(options.get("canon_depth", 5))
        # runaway guards for recursive-$ref unrolling: expansion count
        # and generated-SQL size; exceeding either raises PlanUnsupported
        # AT COMPILE TIME (engine="auto" falls back to the python engine)
        # instead of stalling the driver on an intractable plan
        # defaults calibrated on measured spends: FHIR-like recursive
        # schemas cost 0.03-1.1M chars at depths 3-5 (compile in ms, run
        # JVM-only); the draft-04 metaschema costs 3.9M at depth 1 and
        # ~2 min of Catalyst analysis — the python engine is the right
        # tool there, so the default budget draws the line between them.
        # Only the variant world spends against them: typed-column rules
        # have no recursion to unroll.
        self._vref_budget = int(options.get("ref_unroll_budget", 4000))
        self._vsql_char_budget = int(
            options.get("plan_text_budget", 2_000_000))
        # packed recursion (SCALE.md jsoncol): re-encountered recursive
        # $refs compile as ONE shared child body per level applied over
        # a tagged kid array — text linear in unroll depth instead of
        # exponential in the per-level site count.  False restores the
        # classic full inline unroll (differential escape hatch).
        self.pack_recursion = bool(options.get("pack_recursion", True))
        self._vsql_chars = 0
        self._vsql_n = 0
        self._vref_stack: list[str] = []
        self._v_base_uri: str | None = None
        # packed recursion state: the open level frames, and the ONE
        # frame every top-level compile site shares — its groups' result
        # arrays become helper columns at _vpack_flush, so all top-level
        # sites of a recursion target share one packed chain
        self._vpack_frames: list[_PackFrame] = []
        self._vpack_global = _PackFrame()
        self._vref_edges: dict = {}
        self._vref_targets: dict = {}
        self._vref_comp_memo: dict = {}
        self._vpack_body_memo: dict = {}
        self._canon_tpl_cache: dict = {}
        self._too_deep_tpl_cache: dict = {}
        self.defaults: list[tuple[str, object]] = []  # top-level column defaults
        self._ref_stack: list[tuple[str, str]] = []
        # helper columns (name, SQL text or Column thunk) the plan must
        # project before rule evaluation — nested JSON parses
        # materialized once per row instead of once per consulting rule
        # (from_json/get_json_object are CodegenFallback: every inline
        # copy re-parses the text), and Python-UDF predicates
        self.aux_cols: list[tuple[str, object]] = []
        self._aux_memo: dict = {}

    def _aux(self, hint: str, sql) -> str:
        """Register a helper column and return its quoted name.  Text is
        memoized: combinator branches re-request the same typed
        projection of the same variant — they must share one helper
        column, not stack duplicates."""
        key = (hint, sql) if isinstance(sql, str) else None
        name = self._aux_memo.get(key)
        if name is None:
            name = f"__aux{len(self.aux_cols)}_{hint}__"
            self.aux_cols.append((name, sql))
            if key is not None:
                self._aux_memo[key] = name
        return f"`{name}`"

    def _vmap(self, site: _Site) -> str:
        """map<string,variant> view of a JSON object site's entries
        (try_parse_json + "$" cast — the native variant parser measures
        ~16x cheaper than from_json(map<string,variant>))."""
        if site.variant is None:
            site.variant = self._aux(
                "vmap", f"try_variant_get(try_parse_json({site.json}), "
                        "'$', 'map<string,variant>')")
        return site.variant

    def _keys(self, site: _Site) -> str | None:
        """Runtime key array of this object, when the true key set is
        knowable (JSON-backed struct sites); None for plain structs."""
        if site.keys is None:
            if site.variant is not None:
                # piggyback on the already-materialized variant parse
                site.keys = f"map_keys({site.variant})"
            elif site.json is not None:
                site.keys = self._aux("keys",
                                      f"json_object_keys({site.json})")
        return site.keys

    # ------------------------------------------------------------------
    def compile_root(self, definition, df_schema: T.StructType) -> list[Rule]:
        site = _Site(None, df_schema, "data",
                     base_uri=self.store.root_uri())
        return self.compile_value(definition, site)

    def compile_json_column(self, definition, column: str):
        """Rules over a JSON string column, and the not-a-JSON-object
        guard.  The plan owns its parse: the schema-typed struct, the
        map<string,variant> view (exact mode) and the runtime key array
        are its first helper columns, materialized once per row (the
        JSON expressions are CodegenFallback; inline copies would
        re-parse the text per rule).  Catalyst prunes the struct parse
        whenever every declared-field rule compiles against the variant
        view."""
        text = sqlident(column)
        dtype = typemap.spark_struct_for(definition)
        site = _Site(self._aux("parsed", f"from_json({text}, "
                                         f"{sqlstr(_ddl(dtype))})"),
                     dtype, "data", base_uri=self.store.root_uri(),
                     json=text)
        if self.exact_json_types:
            # the variant builder rejects duplicate keys unless
            # spark.sql.variant.allowDuplicateKeys is set (plan.apply
            # sets it): last-wins, like the reference's json.loads
            site.keys = self._aux("keys", f"map_keys({self._vmap(site)})")
        else:
            site.keys = self._aux("keys", f"json_object_keys({text})")
        # not a JSON object at all (broken syntax, or a scalar/array where
        # an object is required).  A field-level type mismatch parses to a
        # NULL field while the key stays visible, so the declared-field
        # type rules fire instead of this blanket sentinel.
        guard = (f"({text} IS NOT NULL AND {site.keys} IS NULL)",
                 f"named_struct('name', 'data', 'rule', {_NULL_STR}, "
                 "'message', 'data must be valid JSON')")
        return self.compile_value(definition, site), guard

    def compile_value(self, definition, site: _Site) -> list[Rule]:
        if definition is True or definition == {}:
            return []
        if definition is False:
            return [Rule(None, site.sname, site.name_sql,
                         f"concat({site.name_sql}, ' must not be there')",
                         site.present())]
        if not isinstance(definition, dict):
            raise SchemaDefinitionError("definition must be an object")

        if "$ref" in definition:
            target, doc_uri, canonical = self.store.resolve(definition["$ref"], site.base_uri)
            key = (canonical, site.sname)
            if key in self._ref_stack:
                # same schema at the same static site: recursion that does
                # not descend the (finite) Spark type — terminate as pass
                return []
            self._ref_stack.append(key)
            try:
                # same site, re-based to the target document — $ref is
                # transparent, so every value-semantics field (explicit
                # null handling, JSON text/variant/key views) carries over
                return self.compile_value(
                    target, dataclasses.replace(site, base_uri=doc_uri))
            finally:
                self._ref_stack.pop()

        with self._v_based(site.base_uri):
            rules = self._keyword_rules(definition, site.name_sql,
                                        self._views(site))
        return self._placed(site, rules, site.present(), value=_value_of(site))

    # -- helpers -----------------------------------------------------------

    def _views(self, site: _Site) -> _Views:
        """The site as the shared emitters read it: its value views and
        JSON type facts (the typed world's site mapping), holding the
        site its subschemas compile at.  A Python predicate needs a
        row-level value: inside a lambda the views refuse one."""
        return _typed_views(
            site.expr, site.dtype, site.null_is_value, json=site.json,
            udf=self._lambda_udf if site.lam else self._udf_predicate,
            site=site)

    def _udf_predicate(self, expr, hint, test, on_null=False) -> str:
        """A Python predicate over a string value: an Arrow-batched pandas
        UDF projected as a plan helper column the rule text references
        by name."""
        def build():
            @F.pandas_udf(T.BooleanType())
            def predicate(s: pd.Series) -> pd.Series:
                return s.map(lambda v: on_null if v is None else bool(test(v)))

            return predicate(F.expr(expr))

        return self._aux(hint, build)

    @staticmethod
    def _lambda_udf(*_):
        # element/entry values live inside HOF lambdas, where Spark
        # cannot run a Python UDF
        raise PlanUnsupported(
            "Python-evaluated predicates (regex_engine='python', "
            "callable formats, format 'regex') cannot check array "
            "elements or map entries; use engine='python'")

    def _placed(self, site, rules, gate, value=None) -> list[Rule]:
        """Emitted rules placed at ``site``: active where ``gate`` holds,
        with the site's display name and ``value`` (its value SQL for
        ``include_value``; a nested violation struct's offending value
        lies below the site, so it carries none).  Rules compiled at a
        site already (combinator branches, positional items) stay."""
        out = []
        for rule in rules:
            if rule.site is None:
                fail = _and(gate, rule.fail)
                if fail == "false":
                    continue
                rule = dataclasses.replace(
                    rule, site=site.sname, fail=fail,
                    gate=rule.gate and _and(gate, rule.gate),
                    value=None if rule.dynamic else value)
            out.append(rule)
        return out

    def _json_property_rules(self, site, key, field, prop_definition):
        """One property of a JSON-backed object: value rules gated on
        TRUE key presence, a present-but-NULL field treated as an
        explicit JSON null (null_is_value, like the map branch) — so
        {"k": null} fails `type`, not `required`.  The property schema
        validates the VARIANT value (exact JSON type — the typed struct
        parse silently coerces numbers/booleans into string fields); what
        the variant world cannot express falls back to the parsed-struct
        ``field``.  ``field`` is None for a key outside the parsed
        struct: then there is nothing to fall back to, and coerce mode
        or an inexpressible schema raises :class:`PlanUnsupported`."""
        gate = _and(site.present(),
                    _nf(f"array_contains({site.keys}, {sqlstr(key)})"))
        base = (field if field is not None
                else site.child(None, T.NullType(), "." + key))
        try:
            if not self.exact_json_types:
                raise PlanUnsupported("coerce mode")
            vmap = self._vmap(site)
            # materialize the per-key variant AND its type tag once per
            # row: variant_get/schema_of_variant are CodegenFallback, and
            # every keyword rule of this property would otherwise re-run
            # the map lookup + type recovery (A/B: ~25% off the
            # events_json exact-mode bench query)
            value = self._aux("vkey",
                              f"try_element_at({vmap}, {sqlstr(key)})")
            sov = self._aux("sov", f"schema_of_variant({value})")
            with self._v_based(base.base_uri), self._vpack_top(
                    _PackSingle(value, base.name_sql)) as ctx:
                rules = self._variant_rules(
                    prop_definition, base.name_sql, _Views(value, sov_sql=sov),
                    ctx=ctx)
        except PlanTooLarge:
            # too-large is a final verdict for the columnar engine (the
            # struct fallback would re-raise a misleading secondary
            # error); engine="auto" routes it to the python engine
            raise
        except PlanUnsupported as unsupported:
            if field is None:
                raise PlanUnsupported(
                    f"property {base.sname!r} is declared outside the "
                    "top-level properties, so the parsed struct has no "
                    "field for it: the columnar engine validates it only "
                    "over the variant view (json_types='exact') and only "
                    f"with keywords that view expresses ({unsupported}); "
                    "use engine='python'") from unsupported
            child = dataclasses.replace(
                field, null_is_value=True,
                json=(field.json if field.json is not None else self._aux(
                    "jtxt", f"get_json_object({site.json}, "
                            f"{sqlstr(_json_path(key))})")))
            return [rule.gated(gate)
                    for rule in self.compile_value(prop_definition, child)]
        return self._placed(base, rules, gate)


def _build_plan(definition, options: dict, compile_rules,
                **plan_args) -> ValidationPlan:
    """The one plan builder: check the definition, then compile its
    rules.  The row-level compile raises every ``SchemaDefinitionError``
    the reference would raise at compile time; ``compile_rules`` maps the
    configured :class:`_PlanCompiler` to ``(rules, guard)``."""
    from ..rowcheck import compile_row_validator

    compile_row_validator(
        definition, handlers=options["handlers"], formats=options["formats"],
        use_default=options["use_default"],
        use_formats=options["use_formats"], fast_fail=False)
    compiler = _PlanCompiler(
        SchemaStore(definition, handlers=options["handlers"]),
        _pick_dialect(definition), options)
    rules, guard = compile_rules(compiler)
    compiler._vpack_flush()
    return ValidationPlan(
        rules=rules, aux_cols=compiler.aux_cols, defaults=compiler.defaults,
        schema_definition=definition, regex_engine=options["regex_engine"],
        guard=guard, options=options, **plan_args)


def compile_plan_for_column(
    definition,
    column: str,
    *,
    json_types: str = "exact",
    regex_engine: str = "jvm",
    use_formats: bool = True,
    use_default: bool = True,
    formats: dict | None = None,
    handlers: dict | None = None,
    ref_unroll_depth: int = 3,
    on_depth_exceeded: str = "error",
    canon_depth: int = 5,
    ref_unroll_budget: int = 4000,
    plan_text_budget: int = 2_000_000,
    pack_recursion: bool = True,
) -> ValidationPlan:
    """Compile a schema for a JSON string column into a plan that parses
    the column itself: ``plan.apply(df)`` validates ``df[column]``, and
    the plan saves and reloads like a table plan.

    Object keywords see the true runtime key set, so open-key semantics
    (additionalProperties: false, propertyNames, min/maxProperties,
    required-with-explicit-null) match the reference instead of only the
    schema-declared struct fields.  ``json_types="exact"`` types values
    from the variant view; ``"coerce"`` validates the schema-typed struct
    parse (see :func:`~spark_schema_guard.jsoncol.validate_json_column`).
    """
    if json_types not in ("exact", "coerce"):
        raise ValueError(f"unknown json_types {json_types!r}")
    return _build_plan(definition, {
        "json_column": column,
        "json_types": json_types,
        "regex_engine": regex_engine,
        "use_formats": use_formats,
        "use_default": use_default,
        "formats": formats,
        "handlers": handlers,
        "ref_unroll_depth": ref_unroll_depth,
        "on_depth_exceeded": on_depth_exceeded,
        "canon_depth": canon_depth,
        "ref_unroll_budget": ref_unroll_budget,
        "plan_text_budget": plan_text_budget,
        "pack_recursion": pack_recursion,
    }, lambda c: c.compile_json_column(definition, column), df_schema=None)


def compile_plan(
    definition,
    df_schema: T.StructType,
    *,
    regex_engine: str = "jvm",
    use_formats: bool = True,
    use_default: bool = True,
    detailed_exceptions: bool = True,
    include_value: bool = False,
    formats: dict | None = None,
    handlers: dict | None = None,
) -> ValidationPlan:
    """Compile a JSON-Schema definition against a DataFrame schema into a
    :class:`ValidationPlan` of vectorized rules."""
    return _build_plan(definition, {
        "regex_engine": regex_engine,
        "use_formats": use_formats,
        "use_default": use_default,
        "detailed_exceptions": detailed_exceptions,
        "include_value": include_value,
        "formats": formats,
        "handlers": handlers,
    }, lambda c: (c.compile_root(definition, df_schema), None),
        df_schema=df_schema, detailed=detailed_exceptions,
        include_value=include_value)
