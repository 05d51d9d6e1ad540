"""SQL-text helpers of the columnar engine, the keyword emitters both
rule worlds share, and the rule compiler for VARIANT values.

Every rule the engine emits is SQL text built by Python string
concatenation — zero py4j round-trips at compile time; the plan parses
the finished text when it is applied.  (Building Column objects node by
node cost one round-trip per expression node: unrolling the draft-04
metaschema ONE level deep took ~1.45M py4j calls, ~270 s of driver time,
for a plan whose logic is a few hundred KB of SQL.)  This module holds
the literal/violation-struct helpers, ONE emitter per keyword, which
typed sites and VARIANT values dispatch from ``_KEYWORDS`` by one loop
(``_keyword_rules``), and the variant world: open-key value schemas,
exact-typed declared JSON fields, depth-bounded recursive ``$ref``.
Emitters return :class:`plan.Rule` s and read only the value's views:
:class:`_Views` of a VARIANT test its runtime type tag,
:class:`_TypedViews` of a typed site carry literal type facts that
``_and``/``_or``/``_not`` fold in Python, and each gives its object
members (key facts, static member names, a member's rules, runtime
entries).  An emitter recurses through the view: ``w.rules`` compiles a
subschema there (``compile_value`` at a typed site,
:meth:`_VariantSQLMixin._variant_rules` over a VARIANT).

Semantics are a 1:1 mirror of the reference validator's keyword order
and messages (fastjsonschema draft04.py:42-68 keyword registration;
message templates throughout) — the same contract the Column builder
carried, pinned by the columnar conformance replay and the differential
fuzz suites.

``_VariantSQLMixin`` is mixed into ``compiler._PlanCompiler``; it reads
the compiler's option fields (keyword_order, format_table,
ref_unroll_depth, canon_depth, ...) and its SchemaStore.
"""

from __future__ import annotations

import contextlib
import dataclasses
import decimal
import math
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import types as T

from ..exceptions import SchemaDefinitionError
from ..formats import jvm_pattern
from ..rowcheck.compiler import (_UNESCAPED_DOLLAR, ref_numeric,
                                 schema_value_repr)
from . import typemap

VIOL_STRUCT_SQL = "STRUCT<name:STRING,rule:STRING,message:STRING>"


def sqlstr(s: str) -> str:
    """SQL string literal (Spark's default backslash-escaping parser)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sqlident(name: str) -> str:
    """Quoted SQL identifier (backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sqlnum(x) -> str:
    """SQL literal matching F.lit semantics: ints are BIGINT literals,
    floats DOUBLE literals (bare ``1.5`` would parse as DECIMAL),
    Decimals exact DECIMAL literals (collapsing a Decimal bound to
    ``repr(float(...))`` flips verdicts for values inside the double
    ulp of the bound — e.g. ``minimum: Decimal('1e18') + 0.1`` vs a
    BIGINT 10^18)."""
    if isinstance(x, bool):
        x = int(x)
    if isinstance(x, int):
        if -(2 ** 63) <= x <= 2 ** 63 - 1:
            return f"{x}L"
        # out-of-long integer literal: exact decimal, like F.lit(Decimal)
        return f"CAST('{x}' AS DECIMAL(38,0))"
    if isinstance(x, decimal.Decimal) and x.is_finite():
        _, digits, exp = x.as_tuple()
        scale = max(0, -exp)
        precision = max(len(digits) + max(exp, 0), scale + 1)
        if precision <= 38:
            return f"CAST('{x}' AS DECIMAL({precision},{scale}))"
        x = float(x)  # beyond DecimalType range: double, like F.lit
    if math.isnan(x):
        return "double('NaN')"
    if math.isinf(x):
        return "double('Infinity')" if x > 0 else "double('-Infinity')"
    return repr(float(x)) + "D"


class _Views:
    """One value as SQL text, as the keyword emitters read it: value
    views (``num`` double, ``lng`` long, ``dec`` decimal(38,0), ``s``,
    ``b``, ``arr``, ``obj``), JSON type facts (``is_num``, ``is_numlike``
    = number or boolean, ``is_bigint``, ``is_intdec``, ``is_str``,
    ``is_bool``, ``is_arr``, ``is_obj``, ``vnull``) and container
    members (``nkeys``, ``has``, ``prop``, ``item``).

    This class views a VARIANT: its facts test the runtime type tag.
    Three facts are constant here and vary only over typed values
    (:class:`_TypedViews`): ``temporal`` (a date/timestamp read as its
    ISO string), ``exact_long`` (an integer column: exact ``multipleOf``)
    and ``udf`` (the Python-predicate host — a variant value feeds no
    row-level helper column)."""

    __slots__ = ("v", "sov", "num", "lng", "dec", "s", "b", "arr", "obj",
                 "okeys", "vnull", "present", "is_num", "is_numlike",
                 "is_bigint", "is_intdec", "is_str", "is_bool", "is_arr",
                 "is_obj", "arr_gate")
    temporal = False
    exact_long = False
    udf = None

    def __init__(self, v_sql: str, sov_sql: str | None = None):
        self.v = v_sql
        sov = self.sov = sov_sql or f"schema_of_variant({v_sql})"
        self.num = f"try_variant_get({v_sql}, '$', 'double')"
        self.lng = f"try_variant_get({v_sql}, '$', 'long')"
        self.dec = f"try_variant_get({v_sql}, '$', 'decimal(38,0)')"
        self.s = f"try_variant_get({v_sql}, '$', 'string')"
        self.b = f"try_variant_get({v_sql}, '$', 'boolean')"
        self.arr = f"try_variant_get({v_sql}, '$', 'array<variant>')"
        self.obj = f"try_variant_get({v_sql}, '$', 'map<string,variant>')"
        self.vnull = f"is_variant_null({v_sql})"
        self.present = f"({v_sql} IS NOT NULL)"
        self.okeys = f"map_keys({self.obj})"
        self.is_num = (f"({sov} = 'BIGINT' OR {sov} = 'DOUBLE' "
                       f"OR startswith({sov}, 'DECIMAL'))")
        self.is_numlike = f"({self.is_num} OR {sov} = 'BOOLEAN')"
        self.is_bigint = f"({sov} = 'BIGINT')"
        self.is_str = f"({sov} = 'STRING')"
        self.is_bool = f"({sov} = 'BOOLEAN')"
        # integral DECIMAL tag: a JSON integer beyond long range
        # (``10000000000000000000`` parses as DECIMAL(20,0)).  Fractional
        # decimals keep nonzero scale and stay on the double view —
        # matching the reference, where json.loads already made them
        # Python floats
        self.is_intdec = (f"(startswith({sov}, 'DECIMAL') "
                          f"AND endswith({sov}, ',0)'))")
        self.is_arr = self.arr_gate = f"startswith({sov}, 'ARRAY')"
        self.is_obj = f"startswith({sov}, 'OBJECT')"

    @property
    def nkeys(self):
        return f"size({self.obj})"

    def has(self, key: str) -> str:
        return f"map_contains_key({self.obj}, {sqlstr(key)})"

    def prop(self, key: str) -> "_Views":
        return _Views(f"try_element_at({self.obj}, {sqlstr(key)})")

    def item(self, i: int) -> "_Views":
        return _Views(f"try_element_at({self.arr}, {i + 1})")

    # -- view-keyed compile: the one place the two worlds part ----------

    def rules(self, c, definition, name_sql, pass_only=False, ctx=None):
        """The rules of subschema ``definition`` at this value: the
        variant keyword table."""
        return c._variant_rules(definition, name_sql, self, pass_only, ctx)

    def elem(self, c, x: str, name_sql: str, suffix: str = "[*]"):
        """The view of a member held by lambda variable ``x``: an array
        element or an object entry's value, named ``name_sql``."""
        return _Views(x)

    def item_rules(self, c, idx, definition, name_sql, gate, pass_only,
                   ctx):
        """Declared positional item ``idx``: its first failing rule as
        one struct over the bound item, active where ``gate`` holds."""
        return c._nested_rules(
            definition, f"concat({name_sql}, '[{idx}]')",
            f"try_element_at({self.arr}, {idx + 1})", gate, pass_only,
            _derive_ctx(ctx, lambda lv: f"try_element_at({lv.arr}, {idx + 1})",
                        lambda nm: f"concat({nm}, '[{idx}]')"))

    def variant_items(self, c) -> str | None:
        """The elements as VARIANTs for the uniqueItems canon (None:
        ``array_distinct`` compares them exactly)."""
        return self.arr

    # -- object members --------------------------------------------------

    members = ()  # the statically known member names: none, only entries

    def object_keys(self, c) -> "_ObjectKeys":
        """The key facts the object keywords read (the gate "false" where
        the value is never an object)."""
        return _ObjectKeys(self.is_obj, self.okeys, lambda key: _nf(
            f"map_contains_key({self.obj}, {sqlstr(key)})"))

    def member_rules(self, c, key, definition, name_sql, pass_only, ctx):
        """Member ``key``: its first failing rule as one struct over the
        bound member, active where the key is present."""
        ok = self.object_keys(c)
        return c._nested_rules(
            definition, f"concat({name_sql}, {sqlstr('.' + key)})",
            f"try_element_at({self.obj}, {sqlstr(key)})",
            _and(ok.gate, ok.has(key)), pass_only,
            _derive_ctx(ctx,
                        lambda lv: f"try_element_at({lv.obj}, {sqlstr(key)})",
                        lambda nm: f"concat({nm}, {sqlstr('.' + key)})"))

    def entries_rules(self, c, key_filter, definition, rule_id, name_sql,
                      pass_only, ctx):
        """First entry ``key_filter`` selects and ``definition`` rejects."""
        return c._entries_rules(key_filter, definition, rule_id, name_sql,
                                self, pass_only, ctx)

    def record_default(self, c, key, value):
        """A declared property's ``default``: only the root row of a
        typed table projects defaults."""


_ISO_TS = "yyyy-MM-dd'T'HH:mm:ss'Z'"
_ISO_DATE = "yyyy-MM-dd"


class _TypedViews(_Views):
    """The views of a value of a static Spark type.  Its type facts are
    ``true``/``false`` (:func:`typemap.json_types_of`) — or the NULL test
    where NULL is a value (array elements, map values, JSON-backed
    properties) — so its rules fold in Python.  A view the type never has
    is a typed NULL.  ``json``: the text of a JSON-backed value, whose
    JSON null is the null (the typed parse NULLs what it cannot coerce);
    a JSON-backed string may hold an object or array the parse flattened
    (its ``is_arr``/``is_obj`` raise), a JSON-backed struct hides its key
    set (no members).  ``udf(expr, hint, test, on_null)``: a Python
    predicate as a helper column, or a refusal inside a lambda.
    ``site``: the compiler site the views were built from, where its
    subschemas compile (an enum/const member view has none).  The array
    keywords' ``arr_gate`` is static: over a NULL array they are NULL."""

    __slots__ = ("temporal", "exact_long", "udf", "site", "_arr", "_obj",
                 "_members")
    _NO_VIEW = {"num": "DOUBLE", "lng": "BIGINT", "dec": "DECIMAL(38,0)",
                "s": "STRING", "b": "BOOLEAN", "arr": "ARRAY<VARIANT>",
                "obj": "MAP<STRING,VARIANT>"}

    def __init__(self, expr: str | None, dtype, null_is_value=False, *,
                 json: str | None = None, udf=None, site=None):
        for view, sql_type in self._NO_VIEW.items():
            setattr(self, view, f"CAST(NULL AS {sql_type})")
        self.v = expr
        self.present = "true" if expr is None else _Null(expr, negated=True)
        self.vnull = (_Null(expr if json is None else json)
                      if null_is_value else "false")
        types = typemap.json_types_of(dtype)
        value = _Null(expr, negated=True) if null_is_value else "true"
        (self.is_num, self.is_bigint, self.is_str, self.is_bool, self._arr,
         self._obj) = (value if t in types else "false" for t in (
             "number", "integer", "string", "boolean", "array", "object"))
        self.is_numlike = _or([self.is_num, self.is_bool])
        self.is_intdec = "false"
        self.arr_gate = "true" if "array" in types else "false"
        self.site = site
        self.temporal = typemap.is_temporal(dtype)
        self.exact_long = "integer" in types
        self._members = None
        if "number" in types:
            self.num = self.lng = expr
        elif "boolean" in types:
            self.b, self.num = expr, f"CAST({expr} AS DOUBLE)"
        elif "string" in types:
            self.s = expr
            if self.temporal:
                iso = _ISO_DATE if isinstance(dtype, T.DateType) else _ISO_TS
                self.s = f"date_format({expr}, {sqlstr(iso)})"
            if json is not None:
                self._arr = self._obj = None
        elif "array" in types:
            self.arr, self._members = expr, dtype.elementType
        elif json is None and isinstance(dtype, T.StructType):
            self._members = {
                f.name: (f.dataType, sqlident(f.name) if expr is None
                         else f"{expr}.{sqlident(f.name)}")
                for f in dtype.fields}
        elif json is None and "object" in types \
                and isinstance(dtype.keyType, T.StringType):
            self.obj, self._members = expr, dtype.valueType
        self.okeys = f"map_keys({self.obj})"
        self.udf = None if udf is None else (
            lambda hint, test, on_null=False: udf(self.s, hint, test, on_null))

    @staticmethod
    def _untyped():
        from .compiler import PlanUnsupported

        raise PlanUnsupported(
            "a JSON-backed value typed as string (a recursive $ref, or a "
            "schema of several types) may hold an object or array the "
            "typed parse flattened; use engine='python'")

    @property
    def is_arr(self):
        return self._untyped() if self._arr is None else self._arr

    @property
    def is_obj(self):
        return self._untyped() if self._obj is None else self._obj

    # ``_members``: a struct's fields as name -> (type, expr), NULL
    # meaning absent; a map's value type; an array's element type; None
    # where the true members are unknown

    @property
    def nkeys(self):
        if isinstance(self._members, dict):
            return ("(" + " + ".join(
                f"CAST(({e} IS NOT NULL) AS INT)"
                for _, e in self._members.values()) + ")"
                if self._members else "0")
        return None if self._members is None else f"size({self.obj})"

    def has(self, key):
        if isinstance(self._members, dict):
            member = self._members.get(key)
            return "false" if member is None else f"({member[1]} IS NOT NULL)"
        return f"map_contains_key({self.obj}, {sqlstr(key)})"

    def prop(self, key):
        if isinstance(self._members, dict):
            dtype, expr = self._members[key]
            return _typed_views(expr, dtype)
        return _typed_views(f"try_element_at({self.obj}, {sqlstr(key)})",
                            self._members, null_is_value=True)

    def item(self, i):
        return _typed_views(f"try_element_at({self.arr}, {i + 1})",
                            self._members, null_is_value=True)

    def rules(self, c, definition, name_sql, pass_only=False, ctx=None):
        return c.compile_value(definition, self.site)

    def elem(self, c, x, name_sql, suffix="[*]"):
        return c._views(dataclasses.replace(
            self.site.child(x, self._members, suffix, null_is_value=True),
            name=name_sql, lam=True))

    def item_rules(self, c, idx, definition, name_sql, gate, pass_only,
                   ctx):
        # the item's own rules, each active where ``gate`` holds
        item = self.site.child(f"try_element_at({self.arr}, {idx + 1})",
                               self._members, f"[{idx}]", null_is_value=True)
        return [rule.gated(gate) for rule in c.compile_value(definition, item)]

    def variant_items(self, c):
        """``array_distinct`` cannot compare a map or a VARIANT: such
        elements go through ``to_variant_object`` and the variant canon,
        refused at compile time where that cannot render them."""
        if isinstance(self._members, T.VariantType):
            return self.arr
        if not typemap.holds_map_or_variant(self._members):
            return None
        depth = typemap.variant_depth(self._members)
        if depth is None or depth > c.canon_depth:
            c._plan_unsupported(
                f"uniqueItems over {self._members.simpleString()} elements: "
                "a map with non-string keys, a value with no JSON equal or "
                "nesting past canon_depth; use engine='python'")
        x = c._vsql_var()
        return f"transform({self.arr}, {x} -> to_variant_object({x}))"

    # -- object members: a struct's fields are static members (NULL
    # meaning absent), a map has runtime entries, a JSON-backed object
    # both (its parsed fields, and the true key set ``c._keys``).  The
    # object gate is the presence gate, except where NULL is a value (an
    # array element, a map value, a JSON-backed property, where a JSON
    # null or a non-object text parses to NULL): NULL is no empty object

    def object_keys(self, c):
        site = self.site

        def gate(probe):
            return f"({probe} IS NOT NULL)" if site.null_is_value else "true"

        if isinstance(site.dtype, T.MapType):
            return _ObjectKeys(
                gate(site.expr), f"map_keys({site.expr})",
                lambda key: f"map_contains_key({site.expr}, {sqlstr(key)})")
        if site.expr is not None and not isinstance(site.dtype, T.StructType):
            # never an object: every key-set rule folds away
            return _ObjectKeys("false", None, lambda key: "false", {})
        keys = c._keys(site)
        if keys is not None:
            # JSON-backed sites test TRUE key presence — an explicit null
            # value is present (reference semantics), unlike the
            # struct-field NULL-means-absent approximation
            return _ObjectKeys(
                gate(keys), keys,
                lambda key: _nf(f"array_contains({keys}, {sqlstr(key)})"))
        fields = {key: child.present() for key, child in site.fields().items()}
        return _ObjectKeys(gate(site.expr), None,
                           lambda key: fields.get(key, "false"), fields)

    @property
    def members(self):
        return tuple(self.site.fields())

    def member_rules(self, c, key, definition, name_sql, pass_only, ctx):
        # a static field's own rules at its site; a map value's, active
        # where the key is present; a JSON-backed property's over its
        # JSON value (``_json_property_rules``)
        site = self.site
        if isinstance(site.dtype, T.MapType):
            child = site.child(f"try_element_at({site.expr}, {sqlstr(key)})",
                               site.dtype.valueType, "." + key,
                               null_is_value=True)
            gate = _and(site.present(),
                        f"map_contains_key({site.expr}, {sqlstr(key)})")
            return [rule.gated(gate)
                    for rule in c.compile_value(definition, child)]
        field = site.fields().get(key)
        if c._keys(site) is not None:
            return c._json_property_rules(site, key, field, definition)
        return [] if field is None else c.compile_value(definition, field)

    def entries_rules(self, c, key_filter, definition, rule_id, name_sql,
                      pass_only, ctx):
        # a map's values compile at their typed sites, a JSON-backed
        # object's over its map<string,variant> view; a struct has none
        site, obj, ctx = self.site, self, None
        if isinstance(site.dtype, T.MapType):
            if not isinstance(site.dtype.keyType, T.StringType):
                c._plan_unsupported(
                    f"{rule_id} over a map column keyed by "
                    f"{site.dtype.keyType.simpleString()}: JSON object keys "
                    "are strings; use engine='python'")
        elif c._keys(site) is None:
            return []
        elif not c.exact_json_types:
            c._plan_unsupported(
                f"{rule_id} value schemas over undeclared keys need "
                "exact JSON typing; use json_types='exact' (default) or "
                "engine='python'")
        else:
            obj = c._views(dataclasses.replace(
                site, expr=c._vmap(site), null_is_value=False, json=None,
                dtype=T.MapType(T.StringType(), T.VariantType())))
            ctx = _PackSingle(None, name_sql, obj=obj.obj)
        with c._vpack_top(ctx) as ctx:
            return c._entries_rules(key_filter, definition, rule_id,
                                    name_sql, obj, ctx=ctx)

    def record_default(self, c, key, value):
        if c.use_default and self.site.expr is None:
            c.defaults.append((key, value))


def _typed_views(expr, dtype, null_is_value=False, **kwargs) -> _Views:
    """The views of a value of Spark type ``dtype``: a VARIANT keeps
    its runtime type tag; any other type gets static facts."""
    if isinstance(dtype, T.VariantType):
        return _Views(expr)
    return _TypedViews(expr, dtype, null_is_value, **kwargs)


class _PackCtx:
    """Where the value currently being compiled sits RELATIVE TO its
    recursion-level root — enough information to enumerate, at level
    scope, every value a recursion site ranges over (the kid segment)
    and to correlate an inner lambda's value back to its packed result.

    Packed recursion (SCALE.md jsoncol section): SQL text's only
    sharing mechanism is a lambda applied over an array, so instead of
    re-inlining a recursive ``$ref``'s body at every site (text(d) =
    B + sites·text(d-1), exponential), each level collects every
    site's values into ONE tagged array and applies the child body
    once via ``transform`` (text(d) = B + text(d-1), linear).  A ctx
    exists only while the value is reachable from the level root
    through static hops plus AT MOST ONE collection hop (array
    elements or object entries) — deeper sites fall back to the
    classic inline unroll (correct, just bigger)."""

    __slots__ = ()

    def replace(self, val: str, name: str):
        raise NotImplementedError


class _PackSingle(_PackCtx):
    """A single level-scope value (level root, or a static property /
    positional-item hop below one).  ``obj``: its entries' map, given
    where the value is an object's map view rather than a VARIANT."""

    __slots__ = ("val", "name", "obj")

    def __init__(self, val: str | None, name: str, obj: str | None = None):
        self.val = val
        self.name = name
        self.obj = obj if obj is not None else _Views(val).obj

    def replace(self, val, name):
        return _PackSingle(val, name)

    def corr(self, rv: str) -> str:
        return ""

    def segment(self, tag: int, cidx: int) -> str:
        return (f"array(named_struct('t', {tag}, 'c', {cidx}, "
                f"'i', 0, 'k', '', "
                f"'v', {self.val}, 'nm', {self.name}))")


class _PackArray(_PackCtx):
    """Every element of a level-scope array (``items`` /
    ``additionalItems`` hop).  ``val``/``name`` are templates over the
    segment's own lambda vars ``(sx, si)``; ``inner_i`` is the
    CONSUMING check lambda's index var, correlated via the kid's ``i``
    field."""

    __slots__ = ("coll", "sx", "si", "val", "name", "inner_i")

    def __init__(self, coll, sx, si, val, name, inner_i):
        self.coll = coll
        self.sx = sx
        self.si = si
        self.val = val
        self.name = name
        self.inner_i = inner_i

    def replace(self, val, name):
        return _PackArray(self.coll, self.sx, self.si, val, name,
                          self.inner_i)

    def corr(self, rv: str) -> str:
        return f" AND {rv}.i = {self.inner_i}"

    def segment(self, tag: int, cidx: int) -> str:
        # coalesce: a non-array value makes the collection NULL, and a
        # NULL leg would NULL the whole concat'd kid array (silent pass)
        return (f"coalesce(transform({self.coll}, "
                f"({self.sx}, {self.si}) -> "
                f"named_struct('t', {tag}, 'c', {cidx}, "
                f"'i', {self.si}, 'k', '', "
                f"'v', {self.val}, 'nm', {self.name})), array())")


class _PackEntries(_PackCtx):
    """Every (filtered) entry value of a level-scope object
    (``additionalProperties`` / ``patternProperties`` hop); correlated
    by map key (unique within an object)."""

    __slots__ = ("entries", "se", "filt", "val", "name", "inner_key")

    def __init__(self, entries, se, filt, val, name, inner_key):
        self.entries = entries
        self.se = se
        self.filt = filt
        self.val = val
        self.name = name
        self.inner_key = inner_key

    def replace(self, val, name):
        return _PackEntries(self.entries, self.se, self.filt, val, name,
                            self.inner_key)

    def corr(self, rv: str) -> str:
        return f" AND {rv}.k = {self.inner_key}"

    def segment(self, tag: int, cidx: int) -> str:
        src = self.entries
        if self.filt is not None:
            src = f"filter({src}, {self.se} -> {self.filt})"
        # coalesce: a non-object value makes map_entries NULL, and a
        # NULL leg would NULL the whole concat'd kid array (silent pass)
        return (f"coalesce(transform({src}, {self.se} -> "
                f"named_struct('t', {tag}, 'c', {cidx}, "
                f"'i', 0, 'k', {self.se}.key, "
                f"'v', {self.val}, 'nm', {self.name})), array())")


def _derive_ctx(ctx, val_fn, name_fn):
    """Static value hop under a pack ctx: compose the accessor into the
    ctx's value/name templates (``val_fn(level_views) -> value text``,
    ``name_fn(parent_name_text) -> name text``)."""
    if ctx is None:
        return None
    lv = _Views(ctx.val)
    return ctx.replace(val_fn(lv), name_fn(ctx.name))


class _PackGroup:
    """One recursion COMPONENT's packed sites within one level frame.
    ``comp`` is the sorted tuple of mutually-recursive canonicals; the
    shared child body dispatches on the kid's member index, so the
    whole component costs ONE body per level (text linear in depth).
    Full and probe sites share the body: a probe consumes
    ``viol IS NULL`` (equivalent to its pass boolean — _violation_sql
    yields a struct iff some triple fails)."""

    __slots__ = ("rsvar", "comp", "stack", "segments")

    def __init__(self, rsvar, comp, stack):
        self.rsvar = rsvar
        self.comp = comp
        self.stack = stack
        self.segments: list = []


class _PackFrame:
    __slots__ = ("groups",)

    def __init__(self):
        self.groups: dict = {}


class _Null(str):
    """``(x IS NULL)`` or ``(x IS NOT NULL)``: a test that is never NULL
    itself, so it may fold against its negation — ``_and``/``_or``/
    ``_not`` do that in Python, where a typed site's type facts meet."""

    def __new__(cls, x: str, negated: bool = False):
        self = super().__new__(cls, f"({x} IS {'NOT ' if negated else ''}NULL)")
        self.x, self.negated = x, negated
        return self

    @property
    def complement(self) -> "_Null":
        return _Null(self.x, not self.negated)


class _Safe(str):
    """A boolean text that is never NULL (a ``_nf`` result)."""


def _nf(x: str) -> str:
    """NULL-as-false coalesce (a literal or a ``_Safe`` text needs none)."""
    if x in ("true", "false") or isinstance(x, _Safe):
        return x
    return _Safe(f"coalesce({x}, false)")


def _complemented(parts) -> bool:
    return any(isinstance(p, _Null) and p.complement in parts for p in parts)


def _and(*parts: str) -> str:
    """Conjunction folding literal ``true``/``false`` (and a NULL test
    met by its negation) in Python, so a statically decided rule
    disappears from the text.  Each part is one operand: parenthesized,
    a comparison or a function call."""
    if "false" in parts or _complemented(parts):
        return "false"
    parts = [p for p in parts if p != "true"]
    if not parts:
        return "true"
    return parts[0] if len(parts) == 1 else "(" + " AND ".join(parts) + ")"


def _or(parts) -> str:
    """Disjunction, folding like :func:`_and`."""
    parts = list(parts)
    if "true" in parts or _complemented(parts):
        return "true"
    parts = [p for p in parts if p != "false"]
    if not parts:
        return "false"
    return parts[0] if len(parts) == 1 else "(" + " OR ".join(parts) + ")"


def _not(x: str) -> str:
    if isinstance(x, _Null):
        return x.complement
    if isinstance(x, _Safe):
        return _Safe(f"NOT {x}")
    return {"true": "false", "false": "true"}.get(x, f"NOT {x}")


def _msg(name_sql: str, text: str, pass_only: bool = False) -> str:
    """Message SQL: the runtime name followed by ``text`` ("NULL" in a
    pass-only probe, which never surfaces messages)."""
    return "NULL" if pass_only else f"concat({name_sql}, {sqlstr(' ' + text)})"


def _rule(rule_id, name_sql, message, fail, **nested):
    """An emitted :class:`plan.Rule` (NULL-safe ``fail``, no site yet);
    ``nested``: a nested value's first-failing ``dynamic`` and ``gate``."""
    from .plan import Rule

    return Rule(rule_id, None, name_sql, message, _nf(fail), **nested)


def _violation_parts(rules) -> list:
    """Per-rule violation structs (NULL where the rule passes), in order.
    A nested struct is itself NULL where its value has no violation, so
    its presence ``gate`` suffices and the struct is written once."""
    return [f"CASE WHEN {_nf(r.gate)} THEN {r.dynamic} END"
            if r.gate is not None else
            f"CASE WHEN {r.fail} THEN {r.struct_sql()} END" for r in rules]


def _violation_sql(rules) -> str:
    """First failing rule as a violation struct (NULL when none): a flat
    coalesce of per-rule CASEs, every nested struct written once per
    level — plan size linear, not exponential, in the nesting depth."""
    parts = _violation_parts(rules)
    if not parts:
        return f"CAST(NULL AS {VIOL_STRUCT_SQL})"
    return parts[0] if len(parts) == 1 else "coalesce(" + ", ".join(parts) + ")"


def _any_fail(rules) -> str:
    return "(" + " OR ".join(r.fail for r in rules) + ")"


def _subschemas(definition, keyword) -> list:
    if not isinstance(definition[keyword], (list, tuple)):
        raise SchemaDefinitionError(f"{keyword} must be an array")
    return definition[keyword]


@dataclass
class _ObjectKeys:
    """The key facts of one object value as SQL text (its view's
    ``object_keys``).  ``gate``: true where the value is an object
    ("true" where the rule's own presence gate already implies it, never
    where NULL is a value — NULL is not an empty object; "false" where
    the value is never an object).  ``keys``: the runtime key
    array, or None at a static struct site, whose keys are ``fields``
    (field name -> presence test), known at compile time.
    ``has(key)``: boolean, the key is present."""

    gate: str
    keys: str | None
    has: Callable[[str], str]
    fields: dict | None = None

    def count(self) -> str:
        if self.keys is not None:
            return f"size({self.keys})"
        return ("(" + " + ".join(f"CAST({p} AS INT)"
                                 for p in self.fields.values()) + ")"
                if self.fields else "0")


_CANON_V = "__CANON_V__"

_JSON_TYPES = ("null", "boolean", "number", "integer", "string", "array",
               "object")

# keyword -> its one emitter (a _VariantSQLMixin method), dispatched from
# here by typed sites and VARIANT values alike (``_keyword_rules``)
_KEYWORDS = {
    **dict.fromkeys((
        "type", "enum", "const", "minimum", "maximum", "exclusiveMinimum",
        "exclusiveMaximum", "multipleOf", "minLength", "maxLength",
        "pattern", "format", "contentEncoding", "contentMediaType"),
        "_scalar_rules"),
    "allOf": "_all_of_rules", "anyOf": "_any_of_rules",
    "oneOf": "_one_of_rules", "not": "_not_rules", "if": "_if_rules",
    "minItems": "_item_count_rules", "maxItems": "_item_count_rules",
    "uniqueItems": "_unique_items_rules", "items": "_items_rules",
    "contains": "_contains_rules",
    "minProperties": "_count_rules", "maxProperties": "_count_rules",
    "required": "_required_rules", "propertyNames": "_property_names_rules",
    "dependencies": "_dependencies_rules", "properties": "_properties_rules",
    "patternProperties": "_pattern_properties_rules",
    "additionalProperties": "_additional_properties_rules",
}

_JSON_LITERAL_RE = (r"^\s*(-?\d+(\.\d+)?([eE][+-]?\d+)?|true|false|null|\".*\")\s*$")


class _VariantSQLMixin:
    """The keyword emitters (rules of SQL text) and the VARIANT-value
    rule compiler.

    Its one host, ``compiler._PlanCompiler``, sets every field it reads
    in ``__init__``: the options (``keyword_order``, ``format_table``,
    ``custom_formats``, ``use_formats``, ``integral_float_is_int``,
    ``regex_engine``, ``ref_unroll_depth``, ``on_depth_exceeded``,
    ``canon_depth``, ``pack_recursion``), ``store``, and the compile
    state (budgets, counters, the ref stack, packed-recursion frames and
    memos)."""

    # Keywords the variant world expresses (the table, and $ref: a
    # depth-bounded unroll); anything else raises PlanUnsupported
    # (engine="python" is the exact path there)
    _VARIANT_SUPPORTED = set(_KEYWORDS) | {"$ref"}
    _VARIANT_ANNOTATIONS = {
        "title", "description", "default", "examples", "$comment",
        "$schema", "$id", "id", "definitions",
        # consumed by the "if" handler at its keyword position
        "then", "else",
        # consumed by the "items" handler at its keyword position
        "additionalItems",
    }

    # -- plumbing ----------------------------------------------------------

    def _plan_unsupported(self, message: str):
        from .compiler import PlanUnsupported
        raise PlanUnsupported(message)

    def _plan_too_large(self, message: str):
        from .compiler import PlanTooLarge
        raise PlanTooLarge(message)

    @contextlib.contextmanager
    def _v_based(self, uri: str):
        """Resolve the ``$ref``s compiled inside against ``uri``."""
        saved, self._v_base_uri = self._v_base_uri, uri
        try:
            yield
        finally:
            self._v_base_uri = saved

    def _vsql_var(self, hint: str = "x") -> str:
        """Fresh lambda-variable name (text world controls its names)."""
        self._vsql_n += 1
        return f"__{hint}{self._vsql_n}"

    def _vsql_spend(self, text: str) -> str:
        """Account generated text against the plan-size guard: a plan
        too large to analyze/codegen should fail AT COMPILE TIME with a
        clean PlanUnsupported (engine='auto' falls back to the python
        engine) instead of stalling the driver."""
        self._vsql_chars += len(text)
        if self._vsql_chars > self._vsql_char_budget:
            self._plan_too_large(
                "columnar plan text exceeds the size budget "
                f"({self._vsql_char_budget} chars) — recursion unrolling "
                "is too large for expression form; raise plan_text_budget "
                "or use engine='python'")
        return text

    def _vref_spend(self) -> None:
        """Count one recursive $ref expansion (inline or packed site)
        against ``ref_unroll_budget``."""
        self._vref_budget -= 1
        if self._vref_budget < 0:
            self._plan_too_large(
                "recursive $ref unrolling exceeds the expansion "
                "budget (ref_unroll_budget); lower ref_unroll_depth "
                "or use engine='python'")

    # -- packed recursion ---------------------------------------------------

    def _vref_graph_scan(self, canonical, target, doc_uri) -> None:
        """Record ``canonical``'s direct $ref edges (and, transitively,
        every canonical it can reach) in ``self._vref_edges`` /
        ``self._vref_targets``.  Conservative walk over every nested
        dict/list, so a $ref-shaped DATA literal inside enum/const may
        add an edge — harmless: packing a non-recursive ref is correct,
        just unnecessary."""
        edges = self._vref_edges
        if canonical in edges:
            return
        self._vref_targets[canonical] = (target, doc_uri)
        out: dict = {}

        def walk(defn, base):
            if isinstance(defn, dict):
                ref = defn.get("$ref")
                if isinstance(ref, str):
                    try:
                        t, uri, canon = self.store.resolve(ref, base)
                    except Exception:
                        return
                    out.setdefault(canon, (t, uri))
                    return
                for v in defn.values():
                    walk(v, base)
                return
            if isinstance(defn, (list, tuple)):
                for v in defn:
                    walk(v, base)

        walk(target, doc_uri)
        edges[canonical] = frozenset(out)
        for canon2, (t2, uri2) in out.items():
            self._vref_graph_scan(canon2, t2, uri2)

    def _vref_component(self, canonical, target, doc_uri) -> tuple:
        """The recursion component of ``canonical``: the sorted tuple of
        canonicals on a $ref cycle through it — empty when the ref is
        not recursive at all.  One packed group (and ONE shared dispatch
        body per level) serves the whole component; per-member chains
        under mutual recursion would re-create the exponential
        branching packing exists to remove."""
        memo = self._vref_comp_memo
        if canonical in memo:
            return memo[canonical]
        self._vref_graph_scan(canonical, target, doc_uri)
        edges = self._vref_edges
        # transitive closure by worklist (the scanned graph is small)
        reach = {c: set(edges.get(c, ())) for c in edges}
        changed = True
        while changed:
            changed = False
            for c, r in reach.items():
                add = set()
                for d in r:
                    add |= reach.get(d, set())
                if not add <= r:
                    r |= add
                    changed = True
        for c in edges:
            if c in reach.get(c, ()):
                memo[c] = tuple(sorted(
                    d for d in reach[c] | {c}
                    if c in reach.get(d, ()) and d in reach.get(d, ())))
            else:
                memo[c] = ()
        return memo[canonical]

    def _vpack_register(self, canonical, target, doc_uri, ctx, w,
                        pass_only):
        """Register one recursion site in the innermost level frame and
        return the rules that read its packed result.  The site's
        values join the group's kid array; the shared child body
        compiles EAGERLY on group creation (so an unsupported target
        raises inside the caller's try/fallback) and the kid array is
        assembled at frame finalize (``_vpack_child_sql``)."""
        frame = self._vpack_frames[-1]
        # one group per recursion COMPONENT: under mutual recursion,
        # per-canonical (or per-stack, or per-mode) groups each spawn
        # their own chains and the branching re-creates the exponential
        # blowup packing exists to kill.  Merged sites share the FIRST
        # registration's stack; the shared body bounds recursion at
        # ref_unroll_depth chain LEVELS (each level pushes every
        # component member once) — for single-ref recursion exactly the
        # inline depth, for ref cycles a uniform level bound instead of
        # the inline form's per-canonical path counting.
        comp = self._vref_component(canonical, target, doc_uri)
        group = frame.groups.get(comp)
        if group is None:
            self._vsql_n += 1
            top = frame is self._vpack_global
            rsvar = (f"`__vrs{self._vsql_n}_pack__`" if top
                     else f"__vrs{self._vsql_n}")
            group = _PackGroup(rsvar, comp, list(self._vref_stack))
            frame.groups[comp] = group
        _, lengths, _ = self._vpack_body(group)
        cidx = comp.index(canonical)
        tag = len(group.segments)
        group.segments.append(ctx.segment(tag, cidx))
        self._vref_spend()
        rv = self._vsql_var("r")
        corr = ctx.corr(rv)
        if pass_only:
            yv = self._vsql_var("y")
            fail = (f"exists({group.rsvar}, {rv} -> "
                    f"({rv}.t = {tag}{corr} AND exists({rv}.viols, "
                    f"{yv} -> {yv} IS NOT NULL)))")
            return [_rule(None, None, "NULL", self._vsql_spend(fail))]
        # one rule per target-body slot: the inline expansion returns
        # the target's full rule list, and top-level consumers keep one
        # plan rule per rule — collect-all output must match
        sel = (f"try_element_at(filter({group.rsvar}, {rv} -> "
               f"({rv}.t = {tag}{corr})), 1).viols")
        out = []
        for j in range(lengths[cidx]):
            # try_element_at, not [..]: subscripting would throw on an
            # out-of-bound index under ANSI mode instead of NULLing
            struct = f"try_element_at({sel}, {j + 1})"
            out.append(_rule(
                None, None, None,
                self._vsql_spend(f"(({struct}) IS NOT NULL)"),
                dynamic=struct, gate="true"))
        return out

    def _vpack_child_sql(self, group: _PackGroup) -> str:
        """The group's packed result array: kids (the concatenated tagged
        segments) mapped through ONE instance of the recursion target's
        body — compiled at the ref-stack depth the inline expansion
        would have used, with its OWN frame so deeper recursion packs
        again (the linear chain).

        The body lambda (everything but the group-specific kid array) is
        MEMOIZED on (canonical, mode, per-canonical stack counts) — the
        only stack property the compile consults is ``count(c)``, so two
        groups at the same depth profile share one body text and the
        many per-top-site chains collapse onto one body set."""
        kvar, _lengths, body = self._vpack_body(group)
        kids = group.segments[0] if len(group.segments) == 1 \
            else "concat(" + ", ".join(group.segments) + ")"
        return self._vsql_spend(
            f"transform({kids}, {kvar} -> named_struct("
            f"'t', {kvar}.t, 'i', {kvar}.i, 'k', {kvar}.k, "
            f"'viols', {body}))")

    def _vpack_body(self, group: _PackGroup):
        """Compile (memoized) the component's shared dispatch body as a
        (kvar, violation-struct-text) closed check over one kid."""
        memo = self._vpack_body_memo
        stack = list(group.stack) + list(group.comp)
        counts = {}
        for c in stack:
            counts[c] = counts.get(c, 0) + 1
        mkey = (group.comp, tuple(sorted(counts.items())))
        cached = memo.get(mkey)
        if cached is None:
            kvar = self._vsql_var("k")
            saved_stack = self._vref_stack
            self._vref_stack = stack
            self._vpack_frames.append(_PackFrame())
            try:
                ctx = _PackSingle(f"{kvar}.v", f"{kvar}.nm")
                arms = []
                lengths = []
                for j, canon in enumerate(group.comp):
                    target, uri = self._vref_targets[canon]
                    with self._v_based(uri):
                        parts = _violation_parts(self._variant_rules(
                            target, f"{kvar}.nm", _Views(f"{kvar}.v"),
                            ctx=ctx))
                    lengths.append(len(parts))
                    # per-RULE violation slots, not just the first
                    # failing: a top-level site expands back to one
                    # rule per slot, so collect-all output matches the
                    # inline unroll exactly
                    arms.append(
                        "array(" + ", ".join(parts) + ")" if parts
                        else f"CAST(array() AS ARRAY<{VIOL_STRUCT_SQL}>)")
                if len(arms) == 1:
                    body = arms[0]
                else:
                    body = ("CASE " + " ".join(
                        f"WHEN {kvar}.c = {j} THEN {v}"
                        for j, v in enumerate(arms)) + " END")
                body = self._vpack_bind(self._vpack_frames[-1], body)
            finally:
                self._vpack_frames.pop()
                self._vref_stack = saved_stack
            cached = memo[mkey] = (kvar, tuple(lengths), body)
        return cached

    def _vpack_flush(self) -> None:
        """Assemble each global group's packed result array into its
        helper column (rules already reference the fixed name).  Called
        once by the plan builders after every rule has compiled."""
        for group in self._vpack_global.groups.values():
            rs = self._vpack_child_sql(group)
            self.aux_cols.append((group.rsvar.strip("`"), rs))
        self._vpack_global.groups.clear()

    def _vpack_bind(self, frame: _PackFrame, text: str) -> str:
        """Bind every packed group's result array around ``text`` (the
        composed level expression) via the array-of-one ``transform``
        trick — SQL text's only let-binding."""
        for group in reversed(list(frame.groups.values())):
            rs = self._vpack_child_sql(group)
            text = (f"try_element_at(transform(array({rs}), "
                    f"{group.rsvar} -> {text}), 1)")
        return text

    @contextlib.contextmanager
    def _vpack_top(self, ctx):
        """Compile at a TOP-LEVEL site (pack ctx ``ctx``) under the
        shared global frame; yields the ctx to compile with (None where
        nothing packs).  Every top-level recursion site of one target
        joins the SAME group, whose result array becomes ONE helper
        column (``_vpack_flush``) that all consuming rules reference by
        its fixed name — zero per-rule, per-property duplication of the
        packed chain."""
        if not self.pack_recursion or ctx is None:
            yield None
            return
        self._vpack_frames.append(self._vpack_global)
        try:
            yield ctx
        finally:
            self._vpack_frames.pop()

    # -- uniqueItems freeze canonicalization -------------------------------

    def _variant_canon_tpl(self, depth: int) -> str:
        """The reference's uniqueItems freeze canonicalization
        (draft04.py:412-421) as a canonical STRING of a VARIANT value,
        as a memoized SQL template over the ``__CANON_V__`` placeholder:
        two values render equal iff the reference's ``fn`` makes them
        equal set members —

        * bool -> ``str(var)`` ("True"/"False"), deliberately COLLIDING
          with the equal strings;
        * numbers compare cross-type (1 == 1.0): integral values render
          exact integer digits (long when BIGINT or |v| < 2^63,
          decimal(38,0) beyond, double repr past 1e38), non-integral
          ones their double repr;
        * strings are length-prefixed (collision-proof against the
          container separators);
        * dict -> frozenset => sorted key=canon entries; list -> tuple
          => ordered element canons.

        Containers nested past ``depth`` raise at evaluation time (loud,
        never a silently wrong verdict)."""
        cache = self._canon_tpl_cache
        if depth in cache:
            return cache[depth]
        w = _Views(_CANON_V)
        integral = (f"(NOT isnan({w.num}) AND abs({w.num}) != "
                    f"double('Infinity') AND ({w.num} % 1.0D) = 0.0D)")
        exact_digits = (
            "coalesce("
            f"CASE WHEN {w.sov} = 'BIGINT' THEN CAST({w.lng} AS STRING) END, "
            f"CASE WHEN abs({w.num}) < {sqlnum(float(2 ** 63))} "
            f"THEN CAST(CAST({w.num} AS BIGINT) AS STRING) END, "
            f"CAST(try_cast({w.num} AS DECIMAL(38,0)) AS STRING), "
            f"CAST({w.num} AS STRING))")
        num_canon = (f"concat('n:', CASE WHEN {_nf(integral)} "
                     f"THEN {exact_digits} "
                     f"ELSE CAST({w.num} AS STRING) END)")
        str_canon = (f"concat('s:', CAST(length({w.s}) AS STRING), ':', "
                     f"{w.s})")
        bool_canon = f"IF({w.b}, 's:4:True', 's:5:False')"
        scalar = (f"CASE WHEN {w.vnull} THEN 'z' "
                  f"WHEN {w.sov} = 'BOOLEAN' THEN {bool_canon} "
                  f"WHEN {w.sov} = 'STRING' THEN {str_canon} "
                  f"WHEN {w.is_num} THEN {num_canon} ")
        if depth <= 0:
            deep = ("CAST(raise_error('uniqueItems value nests deeper "
                    "than the canonicalization bound "
                    f"({self.canon_depth}); raise canon_depth "
                    "or use engine=\\'python\\'') AS STRING)")
            tpl = scalar + f"ELSE {deep} END"
        else:
            x = f"__cx{depth}"
            e = f"__ce{depth}"
            inner = self._variant_canon_tpl(depth - 1)
            arr_canon = (
                f"concat('a:[', concat_ws('\\u001f', transform({w.arr}, "
                f"{x} -> {inner.replace(_CANON_V, x)})), ']')")
            entry = (f"concat('k:', CAST(length({e}.key) AS STRING), ':', "
                     f"{e}.key, '=', "
                     f"{inner.replace(_CANON_V, e + '.value')})")
            obj_canon = (
                f"concat('o:{{', concat_ws('\\u001f', array_sort("
                f"transform(map_entries({w.obj}), {e} -> {entry}))), '}}')")
            tpl = (scalar
                   + f"WHEN {w.is_arr} THEN {arr_canon} "
                   + f"WHEN {w.is_obj} THEN {obj_canon} "
                   + f"ELSE concat('?', {w.sov}) END")
        cache[depth] = tpl
        return tpl

    def _variant_canon_sql(self, v_sql: str, depth: int) -> str:
        return self._variant_canon_tpl(depth).replace(_CANON_V, v_sql)

    def _variant_too_deep_tpl(self, depth: int) -> str:
        """Boolean template over ``__CANON_V__``: does the value contain
        a CONTAINER nested more than ``depth`` levels down — exactly the
        data that would hit the canon template's raise branch.  Used by
        ``on_depth_exceeded="violation"`` to flag too-deep rows as
        violations (job completes) instead of raising mid-scan."""
        cache = self._too_deep_tpl_cache
        if depth in cache:
            return cache[depth]
        w = _Views(_CANON_V)
        if depth <= 0:
            tpl = f"({w.is_arr} OR {w.is_obj})"
        else:
            x = f"__cd{depth}"
            inner = self._variant_too_deep_tpl(depth - 1).replace(
                _CANON_V, x)
            tpl = (f"(({w.is_arr} AND exists({w.arr}, {x} -> {inner})) "
                   f"OR ({w.is_obj} AND exists(map_values({w.obj}), "
                   f"{x} -> {inner})))")
        cache[depth] = tpl
        return tpl

    def _variant_too_deep_sql(self, v_sql: str, depth: int) -> str:
        return self._vsql_spend(
            self._variant_too_deep_tpl(depth).replace(_CANON_V, v_sql))

    # -- enum/const deep equality ------------------------------------------

    def _member_match_sql(self, w: _Views, m, keyword: str) -> str:
        """Type-strict deep equality of the value against the
        compile-time ``enum``/``const`` member ``m`` (reference
        draft04.py:120-155 _enum_value_matches): bool is identity,
        numbers compare across int/float but never bool, dicts need the
        exact key set with recursively-matching values, lists exact
        length with element-wise matches."""
        if m is None:
            return w.vnull
        if isinstance(m, bool):
            return _and(w.is_bool, f"{w.b} = {str(m).lower()}")
        if isinstance(m, (int, float)):
            if (isinstance(m, int) or float(m).is_integer()) \
                    and -2 ** 63 <= int(m) <= 2 ** 63 - 1:
                mi = int(m)
                # integral member: exact — long values match as longs;
                # doubles iff integral, in long range, equal after the
                # cast (try_cast: Catalyst may evaluate it before the
                # range test, and an out-of-range CAST raises under ANSI)
                dbl = _and(w.is_num, _not(w.is_bigint),
                           f"({w.num} % 1.0D) = 0.0D",
                           f"{w.num} >= {sqlnum(float(-2 ** 63))}",
                           f"{w.num} < {sqlnum(float(2 ** 63))}",
                           f"try_cast({w.num} AS BIGINT) = {mi}L")
                return _or([_and(w.is_bigint, f"{w.lng} = {mi}L"), dbl])
            return _and(w.is_num, f"{w.num} = {sqlnum(float(m))}")
        if isinstance(m, str):
            return _and(w.is_str, f"{w.s} = {sqlstr(m)}")
        if isinstance(m, (list, tuple)):
            if w.is_arr == "false":
                return "false"
            return _and(w.is_arr, f"size({w.arr}) = {len(m)}L", *(
                self._member_match_sql(w.item(i), item, keyword)
                for i, item in enumerate(m)))
        if isinstance(m, dict):
            if w.is_obj == "false":
                return "false"
            if w.nkeys is None:
                self._plan_unsupported(
                    f"{keyword} with an object member over a JSON-backed "
                    "object: its parsed struct does not show the true key "
                    "set; use engine='python'")
            parts = [w.is_obj, f"{w.nkeys} = {len(m)}L"]
            for k, item in m.items():
                if w.has(k) == "false":
                    return "false"
                parts += [w.has(k),
                          self._member_match_sql(w.prop(k), item, keyword)]
            return _and(*parts)
        raise SchemaDefinitionError(
            f"enum/const member of unsupported type: {type(m).__name__}")

    # -- $ref depth guard ----------------------------------------------------

    def _depth_guard_rule(self, name_sql: str, w: _Views,
                          pass_only: bool = False):
        """Rule guarding data that nests past ref_unroll_depth: with
        on_depth_exceeded="error" any VALUE present at the cut-off site
        raises at evaluation time (rows within the bound are untouched);
        with "violation" it emits a distinguishable violation row
        (mirroring the python engine's RecursionError sentinel).  The
        guard raises inside probes too — a combinator branch cannot
        honestly pass or fail on data the plan never unrolled."""
        if pass_only:
            message = (f"'value exceeds the columnar plan\\'s $ref "
                       f"unroll depth ({self.ref_unroll_depth}); raise "
                       "ref_unroll_depth or use engine=\\'python\\''")
        else:
            message = (f"concat({name_sql}, ' exceeds the columnar "
                       f"plan\\'s $ref unroll depth "
                       f"({self.ref_unroll_depth}); raise "
                       "ref_unroll_depth or use engine=\\'python\\'')")
        if self.on_depth_exceeded == "violation":
            return _rule("$ref-depth", name_sql, message, w.present)
        err = f"raise_error({message})"
        return _rule(None, name_sql, message,
                     f"CASE WHEN {w.present} THEN ({err} IS NOT NULL) "
                     "ELSE false END")

    # -- nested values -------------------------------------------------------

    def _failing_sql(self, coll: str, params: str, viol: str) -> str:
        """The violation structs of ``coll``'s failing members, in order:
        ``viol`` maps one member (lambda ``params``) to its struct or
        NULL.  ``try_element_at(.., 1)`` is the first failing member."""
        y = self._vsql_var("y")
        return (f"filter(transform({coll}, {params} -> {viol}), "
                f"{y} -> {y} IS NOT NULL)")

    def _branch_pass_sql(self, sub, name_sql, w: _Views,
                         ctx=None) -> str:
        """True where subschema ``sub`` accepts the value — no rule of
        the branch fails.  Compiles in pass-only mode where the view
        has one: probes never surface names/messages/structs."""
        rules = w.rules(self, sub, name_sql, True, ctx)
        if not rules:
            return "true"
        return "(" + " AND ".join(f"NOT {r.fail}" for r in rules) + ")"

    def _nested_rules(self, sub, name_sql, child_sql, gate, pass_only,
                      ctx):
        """One rule whose violation struct is the VARIANT child value's
        own first failing rule, active where ``gate`` holds (pass-only
        probes reduce to the bare boolean — no struct, no messages).

        The child value expression is BOUND to a lambda variable
        (``transform(array(v), var -> ...)``) so its text appears once
        instead of once per view per rule — the rule set references the
        short variable.  Keeps nested plan size linear instead of
        multiplicative in the value-path length."""
        var = self._vsql_var("v")
        rules = self._variant_rules(sub, name_sql, _Views(var), pass_only,
                                    ctx)
        if not rules:
            return []
        if pass_only:
            bound = f"exists(array({child_sql}), {var} -> {_any_fail(rules)})"
            return [_rule(None, None, "NULL", f"({_nf(gate)} AND {bound})")]
        struct = (f"try_element_at(transform(array({child_sql}), "
                  f"{var} -> {_violation_sql(rules)}), 1)")
        return [_rule(None, None, None,
                      f"({_nf(gate)} AND ({struct}) IS NOT NULL)",
                      dynamic=struct, gate=gate)]

    def _elems_ctx(self, ctx, start, inner_i):
        """Pack ctx for an array-elements hop — only from a Single
        parent (one collection hop per level, see _PackCtx)."""
        if not isinstance(ctx, _PackSingle):
            return None
        lv = _Views(ctx.val)
        sx, si = self._vsql_var(), self._vsql_var("i")
        coll = (f"slice({lv.arr}, {start + 1}, "
                f"greatest(size({lv.arr}) - {start}, 0))")
        cname = (f"concat({ctx.name}, '[', CAST({si} + {start} "
                 f"AS STRING), ']')")
        return _PackArray(coll, sx, si, sx, cname, inner_i)

    def _entries_ctx(self, ctx, key_filter, inner_e):
        """Pack ctx for an object-entries hop — only from a Single
        parent; the segment applies the SAME key filter so packed
        evaluation never touches an entry the inline form would have
        skipped."""
        if not isinstance(ctx, _PackSingle):
            return None
        se = self._vsql_var("e")
        return _PackEntries(
            f"map_entries({ctx.obj})", se, key_filter(f"{se}.key"),
            f"{se}.value", f"concat({ctx.name}, '.', {se}.key)",
            f"{inner_e}.key")

    def _member_rules(self, rule_id, sub, gate, coll, params, member: _Views,
                      name_sql, keep, pass_only, ctx):
        """The first member of ``coll`` (lambda ``params``, viewed as
        ``member``, named ``name_sql``) that ``keep`` selects and ``sub``
        rejects: one rule, active where ``gate`` holds, whose violation
        is that member's own (``data...[i] must be ...``)."""
        rules = member.rules(self, sub, name_sql, pass_only, ctx)
        if not rules:
            return []
        if pass_only:
            # a transform over (x, i) or entries rather than a bare
            # exists: packed sites inside correlate by index or key
            y = self._vsql_var("y")
            bools = f"transform({coll}, {params} -> {_and(keep, _any_fail(rules))})"
            return [_rule(None, None, "NULL", _and(
                gate, _nf(f"exists({bools}, {y} -> {y})")))]
        viol = _violation_sql(rules)
        failing = self._failing_sql(coll, params, viol if keep == "true" else
                                    f"CASE WHEN {keep} THEN {viol} END")
        return [_rule(rule_id, None, None,
                      _and(gate, _nf(f"size({failing}) > 0")),
                      dynamic=f"try_element_at({failing}, 1)", gate=gate)]

    def _elements_rules(self, sub, start, name_sql, w: _Views, pass_only,
                        ctx):
        """The first array element from ``start`` that violates ``sub``."""
        x, i = self._vsql_var(), self._vsql_var("i")
        ename = ("NULL" if pass_only else
                 f"concat({name_sql}, '[', CAST({i} + {start} AS STRING), ']')")
        return self._member_rules(
            "items", sub, w.arr_gate, f"slice({w.arr}, {start + 1}, "
            f"greatest(size({w.arr}) - {start}, 0))", f"({x}, {i})",
            w.elem(self, x, ename), ename, "true", pass_only,
            self._elems_ctx(ctx, start, i))

    def _entries_rules(self, key_filter, sub, rule_id, name_sql, w: _Views,
                       pass_only=False, ctx=None):
        """The first object entry whose key passes ``key_filter`` (key
        SQL -> boolean SQL) and whose value violates ``sub``."""
        e = self._vsql_var("e")
        ename = "NULL" if pass_only else f"concat({name_sql}, '.', {e}.key)"
        return self._member_rules(
            rule_id, sub, w.is_obj, f"map_entries({w.obj})", e,
            w.elem(self, f"{e}.value", ename, ".<k>"), ename,
            key_filter(f"{e}.key"), pass_only,
            self._entries_ctx(ctx, key_filter, e))

    # -- combinator and array keywords: one emitter each, for every site --
    #
    # Each reads only the value's views and recurses through them:
    # ``w.rules`` compiles a subschema at the view (``compile_value`` at a
    # typed site, the variant table over a VARIANT), ``w.elem`` views an
    # element or entry value, ``w.item_rules`` compiles a declared
    # positional item and ``w.variant_items`` feeds the uniqueItems canon.
    # Those, and the object member facts, are the only places the worlds
    # part; add no typed branch here.

    def _all_of_rules(self, keyword, definition, name_sql, w: _Views,
                      pass_only=False, ctx=None):
        # reference inlines allOf sub-blocks: inner keywords surface with
        # their own rules/messages (draft04.py:173)
        return [rule for sub in _subschemas(definition, keyword)
                for rule in w.rules(self, sub, name_sql, pass_only, ctx)]

    def _any_of_rules(self, keyword, definition, name_sql, w: _Views,
                      pass_only=False, ctx=None):
        passes = [self._branch_pass_sql(sub, name_sql, w, ctx)
                  for sub in _subschemas(definition, keyword)]
        return [_rule("anyOf", name_sql, _msg(
            name_sql, "cannot be validated by any definition", pass_only),
            _not(_or(passes)))]

    def _one_of_rules(self, keyword, definition, name_sql, w: _Views,
                      pass_only=False, ctx=None):
        count = " + ".join(
            f"CAST({self._branch_pass_sql(sub, name_sql, w, ctx)} AS INT)"
            for sub in _subschemas(definition, keyword)) or "0"
        return [_rule("oneOf", name_sql, "NULL" if pass_only else
                      f"concat({name_sql}, ' must be valid exactly by one "
                      f"definition (', CAST(({count}) AS STRING), "
                      "' matches found)')", f"({count}) != 1")]

    def _not_rules(self, keyword, definition, name_sql, w: _Views,
                   pass_only=False, ctx=None):
        sub = definition["not"]
        if sub is False:
            return []
        text = ("must not be there" if sub is True
                else "must NOT match a disallowed definition")
        return [_rule("not", name_sql, _msg(name_sql, text, pass_only),
                      self._branch_pass_sql(sub, name_sql, w, ctx))]

    def _if_rules(self, keyword, definition, name_sql, w: _Views,
                  pass_only=False, ctx=None):
        if_pass = _nf(self._branch_pass_sql(definition["if"], name_sql, w,
                                            ctx))
        return [rule.gated(gate)
                for branch, gate in (("then", if_pass),
                                     ("else", _not(if_pass)))
                for rule in w.rules(self, definition.get(branch, True),
                                    name_sql, pass_only, ctx)]

    def _item_count_rules(self, keyword, definition, name_sql, w: _Views,
                          pass_only=False, ctx=None):
        b = definition[keyword]
        if not isinstance(b, (int, float)):
            raise SchemaDefinitionError(f"{keyword} must be a number")
        op, text = self._ITEM_COUNTS[keyword]
        return [_rule(keyword, name_sql, _msg(name_sql, text.format(b),
                                              pass_only),
                      _and(w.arr_gate, f"size({w.arr}) {op} {sqlnum(b)}"))]

    def _unique_items_rules(self, keyword, definition, name_sql, w: _Views,
                            pass_only=False, ctx=None):
        if not definition["uniqueItems"] or w.arr_gate == "false":
            return []
        out = []
        items = w.variant_items(self)
        if items is None:
            dup = _and(w.arr_gate,
                       f"size({w.arr}) > size(array_distinct({w.arr}))")
        else:
            # the reference's freeze canon (cross-type 1 == 1.0, bool ->
            # "True"/"False" collision, draft04.py:412-421) via
            # canonical strings
            x = self._vsql_var()
            canon = self._vsql_spend(
                self._variant_canon_sql(x, self.canon_depth))
            dup = _and(w.arr_gate, f"size({w.arr}) > size(array_distinct("
                                   f"transform({items}, {x} -> {canon})))")
            if self.on_depth_exceeded == "violation":
                # scale mode: a too-deep element becomes ONE violation
                # row and the canon (whose depth-0 branch raises) is
                # skipped via a lazy CASE — never an aborted job, never
                # a silent verdict
                xd = self._vsql_var()
                probe = self._variant_too_deep_sql(xd, self.canon_depth)
                too_deep = _and(w.arr_gate,
                                f"exists({items}, {xd} -> {probe})")
                out.append(_rule(
                    "uniqueItems-depth", name_sql, _msg(
                        name_sql, "nests deeper than the uniqueItems "
                        f"canonicalization depth (canon_depth="
                        f"{self.canon_depth}); raise canon_depth for an "
                        "exact verdict", pass_only), too_deep))
                dup = f"(CASE WHEN {too_deep} THEN false ELSE {dup} END)"
        out.append(_rule("uniqueItems", name_sql, _msg(
            name_sql, "must contain unique items", pass_only), dup))
        return out

    def _items_rules(self, keyword, definition, name_sql, w: _Views,
                     pass_only=False, ctx=None):
        items = definition["items"]
        if items is True or w.arr_gate == "false":
            return []

        def longer_than(n):
            return _and(w.arr_gate, f"size({w.arr}) > {n}")

        if items is False:
            return [_rule("items", name_sql, _msg(
                name_sql, "must not be there", pass_only), longer_than(0))]
        if not isinstance(items, list):
            return self._elements_rules(items, 0, name_sql, w, pass_only, ctx)
        out = []
        for idx, sub in enumerate(items):
            out.extend(w.item_rules(self, idx, sub, name_sql,
                                    longer_than(idx), pass_only, ctx))
        extra = definition.get("additionalItems")
        if extra is False:
            out.append(_rule("items", name_sql, _msg(
                name_sql, "must contain only specified items", pass_only),
                longer_than(len(items))))
        elif isinstance(extra, (dict, bool)) and extra is not True:
            out.extend(self._elements_rules(extra, len(items), name_sql, w,
                                            pass_only, ctx))
        return out

    def _contains_rules(self, keyword, definition, name_sql, w: _Views,
                        pass_only=False, ctx=None):
        sub = definition["contains"]
        if w.arr_gate == "false":
            return []
        if sub is False:
            return [_rule("contains", name_sql, _msg(
                name_sql, "is always invalid", pass_only), w.is_arr)]
        if sub is True:
            return [_rule("contains", name_sql, _msg(
                name_sql, "must not be empty", pass_only),
                _and(w.arr_gate, f"size({w.arr}) = 0"))]
        x = self._vsql_var()
        found = self._branch_pass_sql(sub, "''", w.elem(self, x, "''"))
        return [_rule("contains", name_sql, _msg(
            name_sql, "must contain one of contains definition", pass_only),
            _and(w.arr_gate, f"NOT exists({w.arr}, {x} -> {found})"))]

    # -- object keywords: one emitter each, for every site ---------------
    #
    # Each reads the value's object member facts: its key facts
    # (``w.object_keys``, an _ObjectKeys), its statically known member
    # names (``w.members``), a member's rules (``w.member_rules``) and its
    # runtime entries (``w.entries_rules``).  Where the message or the
    # test must walk the keys (additionalProperties: false,
    # patternProperties: false, propertyNames), the emitter has a second
    # branch for a static struct site (ok.keys is None) that unrolls the
    # field names at compile time: it exists only to keep lambdas out of
    # the typed hot path (whole-stage codegen, test_plan_shape.py), and no
    # further static/runtime branches belong here.

    _COUNT_BOUNDS = {
        "minProperties": ("<", "must contain at least {} properties"),
        "maxProperties": (
            ">", "must contain less than or equal to {} properties"),
    }

    def _count_rules(self, keyword, definition, name_sql, w: _Views,
                     pass_only=False, ctx=None):
        bound = definition[keyword]
        if not isinstance(bound, (int, float)):
            raise SchemaDefinitionError(f"{keyword} must be a number")
        ok = w.object_keys(self)
        op, template = self._COUNT_BOUNDS[keyword]
        return [_rule(keyword, name_sql,
                      _msg(name_sql, template.format(bound), pass_only),
                      _and(ok.gate, f"({ok.count()} {op} {sqlnum(bound)})"))]

    def _required_rules(self, keyword, definition, name_sql, w: _Views,
                        pass_only=False, ctx=None):
        required = definition["required"]
        if not isinstance(required, (list, tuple)):
            raise SchemaDefinitionError("required must be an array")
        if len(required) != len(set(required)):
            raise SchemaDefinitionError(
                "required must contain unique elements")
        if not definition.get("additionalProperties", True):
            patterns = list(definition.get("patternProperties", {}))
            impossible = [
                key for key in required
                if key not in definition.get("properties", {})
                and not any(re.search(p, key) for p in patterns)
            ]
            if impossible:
                raise SchemaDefinitionError(
                    "data: items {} are required but not allowed"
                    .format(impossible))
        ok = w.object_keys(self)
        missing = [(key, f"NOT {ok.has(key)}") for key in required]
        # the message lists ONLY the missing keys, sorted by raw name
        # then repr-quoted (draft04.py:525-528: str(sorted(missing)));
        # concat_ws skips the NULLs of present keys
        shown = "".join(f", CASE WHEN {flag} THEN {sqlstr(repr(key))} END"
                        for key, flag in sorted(missing))
        message = ("NULL" if pass_only else
                   f"concat({name_sql}, ' must contain [', "
                   f"concat_ws(', '{shown}), '] properties')")
        return [_rule("required", name_sql, message,
                      _and(ok.gate, _or([f for _, f in missing])))]

    def _dependencies_rules(self, keyword, definition, name_sql, w: _Views,
                            pass_only=False, ctx=None):
        deps = definition["dependencies"]
        if not isinstance(deps, dict):
            raise SchemaDefinitionError("dependencies must be an object")
        ok = w.object_keys(self)
        out = []
        for key, requirement in deps.items():
            present = _and(ok.gate, ok.has(key))
            if present == "false":
                continue  # never an object: nothing to compile
            if isinstance(requirement, dict):
                out.extend(rule.gated(present) for rule in w.rules(
                    self, requirement, name_sql, pass_only, ctx))
            elif requirement is False:
                out.append(_rule("dependencies", name_sql,
                                 "NULL" if pass_only else
                                 f"concat({sqlstr(key + ' in ')}, {name_sql}, "
                                 "' must not be there')", present))
            elif requirement is not True:
                out.extend(_rule("dependencies", name_sql, _msg(
                    name_sql, f"missing dependency {needed} for {key}",
                    pass_only), _and(ok.gate, ok.has(key),
                                     f"NOT {ok.has(needed)}"))
                    for needed in requirement)
        return out

    def _properties_rules(self, keyword, definition, name_sql, w: _Views,
                          pass_only=False, ctx=None):
        out = []
        for key, sub in definition["properties"].items():
            if not isinstance(sub, (dict, bool)):
                clean = re.sub(r"[^a-zA-Z0-9]", "", key)
                raise SchemaDefinitionError(
                    "data[{}] must be object".format(clean))
            out.extend(w.member_rules(self, key, sub, name_sql, pass_only,
                                      ctx))
            if isinstance(sub, dict) and "default" in sub:
                w.record_default(self, key, sub["default"])
        return out

    def _pattern_properties_rules(self, keyword, definition, name_sql,
                                  w: _Views, pass_only=False, ctx=None):
        """A static member matching a pattern validates as a member (a
        JSON-backed property over its JSON value, like ``properties``),
        the other matching keys on the runtime entries."""
        out = []
        for pattern, sub in definition["patternProperties"].items():
            if sub is False:
                out.extend(self._pattern_false_rules(pattern, name_sql, w,
                                                     pass_only))
            elif sub is not True and sub != {}:
                matcher = re.compile(pattern)
                out.extend(rule for key in w.members if matcher.search(key)
                           for rule in w.member_rules(self, key, sub, name_sql,
                                                      pass_only, ctx))
                java = jvm_pattern(_UNESCAPED_DOLLAR.sub(r"\\Z", pattern))

                def matches_undeclared(k_sql, _j=java, _d=sorted(w.members)):
                    return "(" + " AND ".join(
                        [f"rlike({k_sql}, {sqlstr(_j)})"]
                        + [f"{k_sql} != {sqlstr(d)}" for d in _d]) + ")"

                out.extend(w.entries_rules(self, matches_undeclared, sub,
                                           "patternProperties", name_sql,
                                           pass_only, ctx))
        return out

    def _pattern_false_rules(self, pattern, name_sql, w: _Views,
                             pass_only=False):
        """``patternProperties: {pattern: false}``: a violation named by
        the offending key, with no keyword id (a boolean-false schema's
        error carries none) — one per matching field at a static site,
        else one naming the first matching runtime key, in the key
        array's order (a map's entry order, a JSON text's key order; a
        variant object's keys come sorted)."""
        ok = w.object_keys(self)
        if ok.keys is not None:
            java = jvm_pattern(_UNESCAPED_DOLLAR.sub(r"\\Z", pattern))
            k = self._vsql_var("k")
            matching = f"filter({ok.keys}, {k} -> rlike({k}, {sqlstr(java)}))"
            hits = [(f"concat({name_sql}, '.', try_element_at({matching}, 1))",
                     _and(ok.gate, f"size({matching}) > 0"))]
        else:
            matcher = re.compile(pattern)
            hits = [(f"concat({name_sql}, {sqlstr('.' + key)})",
                     _and(ok.gate, p))
                    for key, p in ok.fields.items() if matcher.search(key)]
        if pass_only:
            return [_rule(None, name_sql, "NULL", fail) for _, fail in hits]
        # gate = the FULL fail condition: the struct is non-null even
        # where nothing matches (a named_struct of a NULL name)
        return [_rule(None, None, None, fail, gate=fail, dynamic=(
            f"named_struct('name', {kname}, 'rule', CAST(NULL AS STRING), "
            f"'message', concat({kname}, ' must not be there'))"))
            for kname, fail in hits]

    def _additional_properties_rules(self, keyword, definition, name_sql,
                                     w: _Views, pass_only=False, ctx=None):
        """A key neither declared in ``properties`` nor matched by a
        ``patternProperties`` pattern: ``false`` rejects it, a schema
        validates its value — a static member's as a member, the other
        keys' on the runtime entries."""
        add = definition["additionalProperties"]
        if add is True or add == {}:
            return []
        declared = definition.get("properties", {})
        patterns = [re.compile(p)
                    for p in definition.get("patternProperties", {})]
        extra = [key for key in w.members if key not in declared
                 and not any(p.search(key) for p in patterns)]
        if add is not False:
            return [rule for key in extra for rule in w.member_rules(
                self, key, add, name_sql, pass_only, ctx)] + w.entries_rules(
                self, self._extra_key(definition, w.members), add,
                "additionalProperties", name_sql, pass_only, ctx)
        ok = w.object_keys(self)
        if ok.keys is not None:
            k = self._vsql_var("k")
            extras = f"filter({ok.keys}, {k} -> {self._extra_key(definition)(k)})"
            fail = f"size({extras}) > 0"
            shown = (f"concat_ws(', ', transform(array_sort({extras}), "
                     f"{k} -> concat({sqlstr(chr(39))}, {k}, "
                     f"{sqlstr(chr(39))})))")
        elif not extra:
            return []
        else:
            # static keys: the extra fields unroll at compile time
            fail = _or([ok.fields[key] for key in extra])
            shown = "concat_ws(', '" + "".join(
                f", CASE WHEN {ok.fields[key]} THEN {sqlstr(repr(key))} END"
                for key in sorted(extra)) + ")"
        return [_rule("additionalProperties", name_sql,
                      "NULL" if pass_only else
                      f"concat({name_sql}, ' must not contain ', "
                      f"concat('{{', {shown}, '}}'), ' properties')",
                      _and(ok.gate, fail))]

    def _extra_key(self, definition, members=()):
        """Key SQL -> true where the key is neither declared in
        ``properties`` (nor a static member) nor matched by a
        ``patternProperties`` pattern."""
        declared = sorted(set(definition.get("properties", {}))
                          | set(members))
        java = [jvm_pattern(_UNESCAPED_DOLLAR.sub(r"\\Z", p))
                for p in definition.get("patternProperties", {})]

        def is_extra(k_sql):
            conds = (["true"] + [f"{k_sql} != {sqlstr(k)}" for k in declared]
                     + [f"NOT rlike({k_sql}, {sqlstr(j)})" for j in java])
            return "(" + " AND ".join(conds) + ")"

        return is_extra

    def _property_names_rules(self, keyword, definition, name_sql, w: _Views,
                              pass_only=False, ctx=None):
        names_definition = definition["propertyNames"]
        if names_definition is True or names_definition == {}:
            return []
        ok = w.object_keys(self)
        message = "must be named by propertyName definition"
        if names_definition is False:
            message = "must not be there"
            fail = (f"size({ok.keys}) > 0" if ok.keys is not None
                    else _or(list(ok.fields.values())))
        elif ok.keys is not None:
            # keys are KNOWN strings: a typed string site, so the
            # non-string branches fold away in Python
            from .compiler import _Site

            k = self._vsql_var("k")
            name_pass = self._branch_pass_sql(
                names_definition, "''", self._views(_Site(
                    k, T.StringType(), "<key>", "''",
                    self._v_base_uri or self.store.root_uri(), lam=True)))
            fail = f"NOT {_nf(f'forall({ok.keys}, {k} -> {name_pass})')}"
        else:
            # static keys: validate the names at plan time, under the
            # plan's store (the root's definitions, its handlers) and
            # formats, as the row-level compile does
            from ..rowcheck.compiler import RowValidator
            from ..rowcheck.compiler import _Compiler as _RowCompiler

            names = RowValidator(_RowCompiler(self.store, self.dialect, {
                "formats": self.custom_formats,
                "use_formats": self.use_formats,
            }).compile_node(names_definition,
                            self._v_base_uri or self.store.root_uri()),
                fast_fail=False)
            fail = _or([p for key, p in ok.fields.items()
                        if names.collect(key)])
        if fail == "false":
            return []
        return [_rule("propertyNames", name_sql,
                      _msg(name_sql, message, pass_only), _and(ok.gate, fail))]

    # -- scalar keywords: one emitter each, for every site ---------------
    #
    # Each reads only the value's views (_Views / _TypedViews): variant
    # values, typed columns, struct fields, array elements, map values
    # and propertyNames keys all come here.  A typed site's facts are
    # literals, so its statically decided rules fold away in Python and
    # its text stays free of variant functions.  What differs per world
    # is a fact of the view — never a test of which world called.

    # keyword -> (fail-op, integer-edge transform, message); for an
    # integer value v: v < b <=> v < ceil(b), v <= b <=> v <= floor(b),
    # v > b <=> v > floor(b), v >= b <=> v >= ceil(b)
    _BOUNDS = {
        "minimum": ("<", math.ceil, "must be bigger than or equal to {}"),
        "maximum": (">", math.floor, "must be smaller than or equal to {}"),
        "exclusiveMinimum": ("<=", math.floor, "must be bigger than {}"),
        "exclusiveMaximum": (">=", math.ceil, "must be smaller than {}"),
    }
    _ITEM_COUNTS = {
        "minItems": ("<", "must contain at least {} items"),
        "maxItems": (">", "must contain less than or equal to {} items"),
    }
    _LENGTHS = {
        "minLength": ("<", "must be longer than or equal to {} characters"),
        "maxLength": (">", "must be shorter than or equal to {} characters"),
    }

    def _type_pass(self, w: _Views, t: str) -> str:
        if t != "integer":
            return {"null": w.vnull, "boolean": w.is_bool, "string": w.is_str,
                    "number": w.is_num}.get(t) or (
                w.is_arr if t == "array" else w.is_obj)
        if self.integral_float_is_int:
            # modulo, not floor(): floor(double) -> LONG overflows past
            # 2^63 (1e308 is integral)
            return _or([w.is_bigint, _and(w.is_num, _not(w.is_bigint),
                                          f"({w.num} % 1.0D) = 0.0D")])
        # draft-04 strict: json.loads("3.0") is a FLOAT, never an int —
        # but the variant parser canonicalizes "3.0" to DECIMAL(1,0),
        # erasing the distinction.  A DECIMAL(p,0) tag can only come from
        # (a) a decimal-point/exponent literal, or (b) a plain integer too
        # big for BIGINT (>= 2^63, p >= 19) — so scale-0 decimals count
        # as integers only past the long range.  Documented corner: a
        # >=2^63 integral written WITH a decimal point ("9.3e18" style) is
        # indistinguishable and passes.
        return _or([w.is_bigint, _and(
            w.is_intdec, f"abs({w.num}) >= 9.223372036854776E18D")])

    def _py_predicate(self, w: _Views, hint, test, on_null=False) -> str:
        """A Python predicate over the string value: a helper column the
        rule text names (``regex_engine='python'``, callable formats)."""
        if w.udf is None:
            self._plan_unsupported(
                "Python-evaluated predicates (regex_engine='python', "
                "callable formats) cannot check variant values; use "
                "engine='python'")
        return w.udf(hint, test, on_null)

    def _regex_fail(self, w: _Views, pattern: str, anchored: bool) -> str:
        """A string that does not match: ``.match`` semantics when
        ``anchored`` (formats), else ``.search`` (``pattern``)."""
        if self.regex_engine == "python":
            find = (re.compile(pattern).match if anchored
                    else re.compile(pattern).search)
            match = self._py_predicate(w, "re",
                                       lambda v: find(v) is not None)
        else:
            java = jvm_pattern(pattern)
            if anchored and not java.startswith("^"):
                java = "^(?:" + java + ")"
            match = f"rlike({w.s}, {sqlstr(java)})"
        return _and(w.is_str, _not(match))

    def _bound_fail(self, op, edge, b, w: _Views) -> str:
        # compare the literal the reference's generated source re-parses
        # (ref_numeric); the message keeps str(b)
        b = ref_numeric(b)
        dbl_fail = _and(w.is_numlike, _not(w.is_bigint), _not(w.is_intdec),
                        f"{w.num} {op} {sqlnum(b)}")
        # exact long-side comparison for long values — the double view
        # rounds 2^53+ magnitudes across the bound; and exact for JSON
        # integers BEYOND long range too (variant tag DECIMAL(p,0)).  A
        # bound outside a value class's range puts every value on one
        # side: the constant
        try:
            bi = int(edge(b))
        except (OverflowError, ValueError):  # infinite bound
            bi = None
        const = str((b > 0) == (op in ("<", "<="))).lower()
        big_fail = (_and(w.is_bigint, f"{w.lng} {op} {bi}L")
                    if bi is not None and -2 ** 63 <= bi <= 2 ** 63 - 1
                    else _and(w.is_bigint, const))
        dec_fail = (_and(w.is_intdec,
                         f"{w.dec} {op} CAST('{bi}' AS DECIMAL(38,0))")
                    if bi is not None and len(str(abs(bi))) <= 38
                    else _and(w.is_intdec, const))
        return _or([dbl_fail, big_fail, dec_fail])

    def _multiple_of_rules(self, divisor, w: _Views, name_sql, msg):
        # Decimal divisors compare as the reference's re-parsed source
        # literal; the message keeps str(original)
        message = msg(f"must be multiple of {divisor}")
        divisor = ref_numeric(divisor)
        if w.exact_long and isinstance(divisor, int):
            # exact long modulo — documented deliberate divergence from
            # the reference's float true-division past 2^53 on TYPED
            # integer columns (tests/test_divergences.py)
            return [_rule("multipleOf", name_sql, message,
                          f"(({w.lng} % {sqlnum(divisor)}) != 0L)")]
        # the DOUBLE view for every other number, mirroring the
        # reference exactly:
        # - int divisor: q = value / divisor via float TRUE DIVISION,
        #   invalid iff q is non-integral (any |q| >= 2^52 is integral
        #   and VALID, draft04.py:366)
        # - float divisor: Decimal(repr(value)) path -> decimal cast
        #   (try_cast + double-fmod fallback: magnitudes past
        #   Decimal(38,18) would raise under ANSI)
        fdiv = sqlnum(float(divisor))
        if isinstance(divisor, int):
            fail = f"(({w.num} / {fdiv}) % 1.0D) != 0.0D"
        else:
            dec = "DECIMAL(38,18)"
            div = divisor if isinstance(divisor, decimal.Decimal) \
                else repr(float(divisor))
            fail = (f"coalesce((try_cast({w.num} AS {dec}) % "
                    f"CAST('{div}' AS {dec})) != CAST(0 AS {dec}), "
                    f"({w.num} % {fdiv}) != 0.0D)")
        return [_rule("multipleOf", name_sql, message,
                      _and(w.is_numlike, fail)),
                _rule("multipleOf", name_sql, "'inifinity reached'", _and(
                    w.is_numlike, f"({w.num} / {fdiv}) = double('Infinity')"))]

    def _format_fail(self, fmt, w: _Views):
        """(message text, fail) of ``format``; None where it checks
        nothing."""
        if fmt in self.custom_formats:
            custom = self.custom_formats[fmt]
            if isinstance(custom, str):
                return f"must be {fmt}", self._regex_fail(w, custom, True)
            match = self._py_predicate(w, "fmt", custom)
            return f"must be {fmt}", _and(w.is_str, _not(match))
        if fmt in self.format_table:
            if w.temporal and fmt in ("date-time", "date"):
                return None  # a real timestamp/date always renders validly
            return f"must be {fmt}", self._regex_fail(
                w, self.format_table[fmt], True)
        if fmt == "regex" and w.udf is not None:
            # a variant value feeds no helper column: format "regex"
            # goes unchecked there, a known gap
            def compiles(v):
                try:
                    re.compile(v)
                    return True
                except Exception:
                    return False

            match = w.udf("regex", compiles, on_null=True)
            return "must be a valid regex", _and(w.is_str, _not(match))
        return None

    def _scalar_rules(self, keyword, definition, name_sql, w: _Views,
                      pass_only=False, ctx=None):
        """The rules of one scalar keyword over the value's views; a rule
        that can never fail is dropped.  The definition is checked first,
        also where the keyword is vacuous."""
        def msg(text):
            return _msg(name_sql, text, pass_only)

        def rule(rule_id, text, fail):
            return _rule(rule_id, name_sql, text, fail)

        value = definition[keyword]
        if keyword == "type":
            types = value if isinstance(value, list) else [value]
            if not all(t in _JSON_TYPES for t in types):
                raise SchemaDefinitionError("Unknown type")
            ok = _or([self._type_pass(w, t) for t in types])
            out = [rule("type", msg("must be " + " or ".join(types)),
                        _not(ok))]
        elif keyword in ("enum", "const"):
            if keyword == "enum" and not isinstance(value, (list, tuple)):
                raise SchemaDefinitionError("enum must be an array")
            text = (f"must be one of {schema_value_repr(value)}"
                    if keyword == "enum" else "must be same as const "
                    f"definition: {schema_value_repr(value)}")
            ok = _or([self._member_match_sql(w, m, keyword) for m in
                      (value if keyword == "enum" else [value])])
            out = [rule(keyword, msg(text), _not(ok))]
        elif keyword in self._BOUNDS or keyword == "multipleOf":
            if not isinstance(value, (int, float, decimal.Decimal)):
                raise SchemaDefinitionError(
                    f"{keyword} must be an integer, a float or a decimal"
                    if keyword.startswith("exclusive") else
                    f"{keyword} must be a number")
            if keyword == "multipleOf":
                out = self._multiple_of_rules(value, w, name_sql, msg)
            else:
                # minimum/maximum turn exclusive under the draft-04 truthy
                # modifier (reference draft04.py:339, inherited by later
                # dialects)
                modifier = "exclusive" + keyword[0].upper() + keyword[1:]
                op, edge, text = self._BOUNDS[
                    modifier if modifier in self._BOUNDS
                    and definition.get(modifier) else keyword]
                out = [rule(keyword, msg(text.format(value)),
                            self._bound_fail(op, edge, value, w))]
        elif keyword in self._LENGTHS:
            if not isinstance(value, (int, float)):
                raise SchemaDefinitionError(f"{keyword} must be a number")
            op, text = self._LENGTHS[keyword]
            out = [rule(keyword, msg(text.format(value)),
                        _and(w.is_str, f"length({w.s}) {op} {sqlnum(value)}"))]
        elif keyword == "pattern":
            out = [rule("pattern", msg(f"must match pattern {value}"),
                        self._regex_fail(w, _UNESCAPED_DOLLAR.sub(r"\\Z", value),
                                         anchored=False))]
        elif keyword == "format":
            checked = self._format_fail(value, w) if self.use_formats \
                else None
            out = [rule("format", msg(checked[0]), checked[1])] if checked \
                else []
        elif keyword == "contentEncoding":
            # the reference runs base64.b64decode WITHOUT validate:
            # non-alphabet chars are DISCARDED, then the filtered length
            # must pad to a multiple of 4 — Spark's try_to_binary alone is
            # laxer (accepts 'abc'), so mirror the filter + padding check
            filt = f"regexp_replace({w.s}, '[^A-Za-z0-9+/=]', '')"
            out = [rule(None, msg("must be encoded by base64"), _and(
                w.is_str, f"((length({filt}) % 4L) != 0L "
                          f"OR try_to_binary({filt}, 'base64') IS NULL)"))
                   ] if value == "base64" else []
        else:  # contentMediaType; scalar JSON literals get_json_object
            # cannot see pass by the literal regex
            out = [rule(None, msg("must be valid JSON"), _and(
                w.is_str, f"get_json_object({w.s}, '$') IS NULL",
                f"NOT rlike({w.s}, {sqlstr(_JSON_LITERAL_RE)})"))
                   ] if value == "application/json" else []
        return [r for r in out if r.fail != "false"]

    # -- the variant keyword table -------------------------------------------

    def _variant_rules(self, definition, name_sql: str, w: _Views,
                       pass_only: bool = False, ctx=None):
        """The rules validating one VARIANT value against a schema, in
        dialect keyword order with reference-parity messages.

        ``pass_only``: the caller is a combinator probe that consumes
        only the fail booleans — names, messages and nested violation
        structs are skipped (they would be discarded anyway, and on
        recursion-unrolled schemas they dominate plan size).

        ``ctx``: the value's position relative to its recursion-level
        root (``_PackCtx``), threading the packed-recursion machinery —
        ``None`` disables packing for this subtree (sites fall back to
        the inline unroll)."""
        if definition is True or definition == {}:
            return []
        if definition is False:
            return [_rule(None, name_sql, "NULL" if pass_only else
                          f"concat({name_sql}, ' must not be there')",
                          "true")]
        if not isinstance(definition, dict):
            raise SchemaDefinitionError("definition must be an object")
        if "$ref" in definition:
            # $ref overrides siblings (draft 04-07, like compile_value).
            # Recursion unrolls to ref_unroll_depth repeats of the SAME
            # canonical ref along this path (the reference compiles
            # recursion to recursive FUNCTIONS, generator.py:192-217;
            # expression trees must unroll); deeper DATA hits the depth
            # guard.
            base = self._v_base_uri or self.store.root_uri()
            target, doc_uri, canonical = self.store.resolve(
                definition["$ref"], base)
            if self._vref_stack.count(canonical) >= self.ref_unroll_depth:
                return [self._depth_guard_rule(name_sql, w,
                                               pass_only=pass_only)]
            if (self.pack_recursion and ctx is not None
                    and self._vpack_frames
                    and self._vref_component(canonical, target, doc_uri)):
                # PACKED recursion: a re-encountered ref becomes a site
                # in the level frame instead of re-inlining its body —
                # text linear in depth instead of exponential in the
                # per-level site count (SCALE.md jsoncol section)
                return self._vpack_register(canonical, target, doc_uri,
                                            ctx, w, pass_only)
            self._vref_spend()
            self._vref_stack.append(canonical)
            try:
                with self._v_based(doc_uri):
                    expanded = self._variant_rules(
                        target, name_sql, w, pass_only=pass_only, ctx=ctx)
            finally:
                self._vref_stack.pop()
            # account each expansion's text against the size budget —
            # recursion blowup shows up here, where it is created
            for rule in expanded:
                self._vsql_spend(rule.fail)
            return expanded
        hard = [k for k in definition if k not in self._VARIANT_SUPPORTED
                and k not in self._VARIANT_ANNOTATIONS]
        if hard:
            self._plan_unsupported(
                f"open-key value schema uses {sorted(hard)} — only scalar "
                "keywords are expressible over dynamically-typed "
                "undeclared keys; use engine='python'")

        return self._keyword_rules(definition, name_sql, w, pass_only, ctx)

    def _keyword_rules(self, definition, name_sql, w: _Views,
                       pass_only=False, ctx=None):
        """The rules of ``definition``'s keywords over the value's views,
        in dialect keyword order: one emitter per keyword, one loop for
        typed sites (``compile_value``) and VARIANT values
        (``_variant_rules``)."""
        return [rule for keyword in self.keyword_order if keyword in definition
                for rule in getattr(self, _KEYWORDS[keyword])(
                    keyword, definition, name_sql, w, pass_only, ctx)]
