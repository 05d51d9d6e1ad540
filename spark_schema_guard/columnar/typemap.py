"""Static Spark type ↔ JSON-Schema type mapping.

The key semantic shift vs the reference (SURVEY.md §1.3): Spark data carries
a static schema, so `type` keywords largely resolve at plan-build time —
a `string` rule on a StringType column is a constant-true the plan never
evaluates (predicate elimination Catalyst can't do because it doesn't know
rule semantics), while a `string` rule on a LongType column is a
constant-fail for every present value.
"""

from __future__ import annotations

from pyspark.sql import types as T

# JSON type(s) a Spark column can *statically* hold (never 'null' — a NULL
# cell means the property is absent, see plan.py docstring).
_ATOMIC = {
    T.StringType: ("string",),
    T.CharType: ("string",),
    T.VarcharType: ("string",),
    T.BooleanType: ("boolean",),
    T.ByteType: ("integer", "number"),
    T.ShortType: ("integer", "number"),
    T.IntegerType: ("integer", "number"),
    T.LongType: ("integer", "number"),
    T.FloatType: ("number",),
    T.DoubleType: ("number",),
    T.DecimalType: ("number",),
    # timestamps/dates surface as their ISO string form (JSON has no
    # temporal type); format checks evaluate against that representation
    T.TimestampType: ("string",),
    T.TimestampNTZType: ("string",),
    T.DateType: ("string",),
    # binary is bytes, no JSON type — as the row-level engine sees it
    T.BinaryType: (),
    T.ArrayType: ("array",),
    T.MapType: ("object",),
    T.StructType: ("object",),
    T.NullType: (),
}


def json_types_of(dtype: T.DataType) -> tuple[str, ...]:
    for cls, names in _ATOMIC.items():
        if isinstance(dtype, cls):
            return names
    return ()


def is_temporal(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType))


def _members(dtype: T.DataType) -> list:
    if isinstance(dtype, T.StructType):
        return [f.dataType for f in dtype.fields]
    if isinstance(dtype, T.ArrayType):
        return [dtype.elementType]
    return [dtype.valueType] if isinstance(dtype, T.MapType) else []


def holds_map_or_variant(dtype: T.DataType) -> bool:
    """A map or a VARIANT anywhere in the type: Spark cannot compare or
    order such values (``array_distinct`` rejects them)."""
    return isinstance(dtype, (T.MapType, T.VariantType)) or any(
        holds_map_or_variant(m) for m in _members(dtype))


def variant_depth(dtype: T.DataType) -> int | None:
    """Container depth of a value as ``to_variant_object`` renders it
    (a VARIANT leaf counts 0: its own depth shows at run time); None
    where a JSON-equal rendering does not exist: non-string map keys,
    binary or temporal leaves."""
    if isinstance(dtype, T.MapType) \
            and not isinstance(dtype.keyType, T.StringType):
        return None
    if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
        depths = [variant_depth(m) for m in _members(dtype)]
        return None if None in depths else 1 + max(depths, default=0)
    if isinstance(dtype, T.VariantType) or (
            json_types_of(dtype) and not is_temporal(dtype)):
        return 0
    return None


def _contains_ref(node) -> bool:
    if isinstance(node, dict):
        return "$ref" in node or any(_contains_ref(v) for v in node.values())
    if isinstance(node, list):
        return any(_contains_ref(v) for v in node)
    return False


def _deref(node, store, base, seen):
    """Follow a $ref chain; returns (node, base, seen), with node=None on
    a cycle (recursive schemas have no finite static type — callers fall
    back to StringType; the plan compiler independently terminates the
    same recursion as pass)."""
    while isinstance(node, dict) and "$ref" in node and store is not None:
        target, doc_uri, canonical = store.resolve(node["$ref"], base)
        if canonical in seen:
            return None, base, seen
        seen = seen | {canonical}
        node, base = target, doc_uri
    return node, base, seen


def spark_struct_for(definition: dict, store=None) -> T.StructType:
    """Derive a Spark StructType from an object-typed JSON schema — used to
    ``from_json``-parse JSON string columns into typed structs so the whole
    rule plan stays JVM-side, and by the synthetic data generator.

    ``$ref`` is transparent: refs resolve through a :class:`SchemaStore`
    (built on demand) so a referenced object schema infers the same struct
    as its inline form."""
    base, seen = "", frozenset()
    if store is None and _contains_ref(definition):
        from ..ref_resolver import SchemaStore
        store = SchemaStore(definition)
        definition = store.root  # the ref-absolutized copy
    if store is not None:
        base = store.base_uri
        definition, base, seen = _deref(definition, store, base, seen)
        if definition is None or not isinstance(definition, dict):
            return T.StructType([])
    fields = []
    for key, sub in definition.get("properties", {}).items():
        fields.append(T.StructField(
            key, _spark_type_for(sub, store, base, seen), nullable=True))
    return T.StructType(fields)


def spark_type_for(definition) -> T.DataType:
    return _spark_type_for(definition, None, "", frozenset())


def _spark_type_for(definition, store, base, seen) -> T.DataType:
    definition, base, seen = _deref(definition, store, base, seen)
    if definition is None:
        return T.StringType()  # recursive ref: no finite static type
    if not isinstance(definition, dict):
        return T.StringType()
    declared = definition.get("type")
    if isinstance(declared, list):
        non_null = [t for t in declared if t != "null"]
        declared = non_null[0] if non_null else "null"
    if declared == "object" or "properties" in definition:
        fields = []
        for key, sub in definition.get("properties", {}).items():
            fields.append(T.StructField(
                key, _spark_type_for(sub, store, base, seen), nullable=True))
        return T.StructType(fields)
    if declared == "array":
        items = definition.get("items")
        element = _spark_type_for(items if isinstance(items, dict) else {},
                                  store, base, seen)
        return T.ArrayType(element, containsNull=True)
    return {
        "string": T.StringType(),
        "integer": T.LongType(),
        "number": T.DoubleType(),
        "boolean": T.BooleanType(),
        "null": T.NullType(),
    }.get(declared, T.StringType())
