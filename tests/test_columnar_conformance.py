"""DIRECT columnar conformance: the reference's per-keyword unit cases
replayed as 1-row DataFrames against the COLUMNAR engine (not transitively
through the rowcheck engine).

Each case is (schema, value); expected validity and the expected rule id
come from compiling the schema with the reference itself (conftest
``reference`` fixture), so the bank cannot drift from reference behavior.
Case groups mirror the reference's unit suites:

* type/min/max/exclusive/multipleOf — tests/test_number.py:14-178
* string length/pattern               — tests/test_string.py:9-96
* arrays                              — tests/test_array.py:9-220
* objects                             — tests/test_object.py:9-318
* combinators/boolean schemas         — tests/test_common.py:9-149,
                                        tests/test_composition.py,
                                        tests/test_boolean_schema.py
* const/enum                          — tests/test_const.py, test_common.py
* formats                             — tests/test_format.py

Values are wrapped as one row-column ``v`` with the natural Spark type of
the value (the columnar model: a typed column, validated in place).
``None`` values are routed through the JSON-column path instead, where an
explicit null is distinguishable from an absent column (columns follow
NULL-means-absent by design).

Each case runs twice: against the reference (skipped by name where the
oracle is absent) and, live, against the row-level validator (rowcheck),
whose verdict and first rule id the columnar engine must give on every
case — typed columns reach the same scalar keyword emitters as variant
values, so these cases pin each typed site kind by kind.
"""

import json

import pytest
from pyspark.sql import types as T

import spark_schema_guard as ssg
from spark_schema_guard.columnar.compiler import PlanUnsupported
from spark_schema_guard.jsoncol import validate_json_column
from spark_schema_guard.rowcheck import compile_row_validator

D6 = "http://json-schema.org/draft-06/schema"
D7 = "http://json-schema.org/draft-07/schema"

CASES = [
    # --- type (test_number.py:14-27, test_string.py, test_boolean.py) ----
    ({"type": "integer"}, -5), ({"type": "integer"}, 0),
    ({"type": "integer"}, "abc"), ({"type": "integer"}, True),
    ({"type": "integer"}, []), ({"type": "integer"}, {"a": 1}),
    ({"type": "number"}, 3.5), ({"type": "number"}, 5),
    ({"type": "number"}, True), ({"type": "number"}, "5"),
    ({"type": "string"}, "abc"), ({"type": "string"}, ""),
    ({"type": "string"}, 5), ({"type": "string"}, True),
    ({"type": "boolean"}, True), ({"type": "boolean"}, False),
    ({"type": "boolean"}, 0), ({"type": "boolean"}, "true"),
    ({"type": "array"}, [1, 2]), ({"type": "array"}, "ab"),
    ({"type": "object"}, {"a": 1}), ({"type": "object"}, [1]),
    ({"$schema": D6, "type": "integer"}, 3.0),   # integral float, draft-06
    ({"$schema": D6, "type": "integer"}, 3.5),
    # --- maximum / exclusiveMaximum (test_number.py:30-60) ---------------
    ({"type": "integer", "maximum": 10}, 10),
    ({"type": "integer", "maximum": 10}, 11),
    ({"type": "integer", "maximum": 10, "exclusiveMaximum": True}, 10),
    ({"type": "integer", "maximum": 10, "exclusiveMaximum": True}, 9),
    ({"$schema": D6, "type": "integer", "exclusiveMaximum": 10}, 10),
    ({"$schema": D6, "type": "integer", "exclusiveMaximum": 10}, 9),
    # --- minimum / exclusiveMinimum (test_number.py:63-93) ---------------
    ({"type": "integer", "minimum": 10}, 9),
    ({"type": "integer", "minimum": 10}, 10),
    ({"type": "integer", "minimum": 10, "exclusiveMinimum": True}, 10),
    ({"type": "integer", "minimum": 10, "exclusiveMinimum": True}, 11),
    ({"$schema": D6, "type": "integer", "exclusiveMinimum": 10}, 10),
    ({"$schema": D6, "type": "integer", "exclusiveMinimum": 10}, 11),
    ({"type": "number", "minimum": 1.5}, 1.4),
    ({"type": "number", "minimum": 1.5}, 1.5),
    # --- multipleOf (test_number.py:96-178) ------------------------------
    ({"type": "integer", "multipleOf": 3}, -4),
    ({"type": "integer", "multipleOf": 3}, -3),
    ({"type": "integer", "multipleOf": 3}, 9),
    ({"type": "integer", "multipleOf": 3}, 10),
    ({"type": "number", "multipleOf": 0.01}, 19.01),
    ({"type": "number", "multipleOf": 0.01}, 19.001),
    ({"type": "number", "multipleOf": 0.0001}, 0.0075),
    # --- string length / pattern (test_string.py:9-96) -------------------
    ({"type": "string", "minLength": 2}, "a"),
    ({"type": "string", "minLength": 2}, "ab"),
    ({"type": "string", "minLength": 2}, "é"),      # 1 char, 2 bytes
    ({"type": "string", "maxLength": 2}, "abc"),
    ({"type": "string", "maxLength": 2}, "ab"),
    ({"type": "string", "pattern": "^[ab]+$"}, "abab"),
    ({"type": "string", "pattern": "^[ab]+$"}, "abc"),
    ({"type": "string", "pattern": "a$"}, "xa"),
    ({"type": "string", "pattern": "a$"}, "a\n"),        # $ -> \Z rewrite
    # --- enum / const (test_common.py:120-149, test_const.py) ------------
    ({"enum": [1, 2, 3]}, 2), ({"enum": [1, 2, 3]}, 4),
    ({"enum": ["a", "b"]}, "a"), ({"enum": ["a", "b"]}, "c"),
    ({"enum": [1]}, True),                               # type-strict
    ({"enum": [True]}, 1),
    ({"enum": ["1"]}, 1),
    ({"$schema": D6, "const": 42}, 42),
    ({"$schema": D6, "const": 42}, 43),
    ({"$schema": D6, "const": "x"}, "x"),
    # --- arrays (test_array.py:9-220) ------------------------------------
    ({"type": "array", "minItems": 2}, [1]),
    ({"type": "array", "minItems": 2}, [1, 2]),
    ({"type": "array", "maxItems": 2}, [1, 2, 3]),
    ({"type": "array", "maxItems": 2}, [1, 2]),
    ({"type": "array", "uniqueItems": True}, [1, 2, 1]),
    ({"type": "array", "uniqueItems": True}, [1, 2, 3]),
    ({"type": "array", "items": {"type": "integer"}}, [1, 2]),
    ({"type": "array", "items": {"type": "integer"}}, ["a"]),
    ({"type": "array", "items": {"type": "integer", "minimum": 2}}, [1, 3]),
    ({"type": "array",
      "items": [{"type": "integer"}, {"type": "string"}]}, [1]),
    ({"type": "array", "items": [{"type": "integer"}],
      "additionalItems": {"type": "integer"}}, [1, 2]),
    ({"$schema": D6, "type": "array",
      "contains": {"type": "integer", "minimum": 5}}, [1, 6]),
    ({"$schema": D6, "type": "array",
      "contains": {"type": "integer", "minimum": 5}}, [1, 2]),
    ({"$schema": D6, "type": "array", "contains": True}, []),
    # --- objects (test_object.py:9-318) ----------------------------------
    ({"type": "object", "minProperties": 1}, {"a": 1}),
    ({"type": "object", "maxProperties": 1}, {"a": 1, "b": 2}),
    ({"type": "object", "required": ["a"]}, {"a": 1}),
    ({"type": "object", "required": ["a"]}, {"b": 1}),
    ({"type": "object",
      "properties": {"a": {"type": "integer", "minimum": 0}}}, {"a": 5}),
    ({"type": "object",
      "properties": {"a": {"type": "integer", "minimum": 0}}}, {"a": -5}),
    ({"type": "object", "properties": {"a": {"type": "string"}}},
     {"a": "x"}),
    ({"type": "object", "dependencies": {"a": ["b"]}}, {"a": 1}),
    ({"type": "object", "dependencies": {"a": ["b"]}}, {"a": 1, "b": 2}),
    ({"type": "object",
      "dependencies": {"a": {"required": ["b"]}}}, {"a": 1}),
    # --- combinators (test_common.py:9-119, test_composition.py) ---------
    ({"allOf": [{"type": "integer"}, {"minimum": 5}]}, 7),
    ({"allOf": [{"type": "integer"}, {"minimum": 5}]}, 3),
    ({"anyOf": [{"type": "integer"}, {"type": "string"}]}, 5),
    ({"anyOf": [{"type": "integer"}, {"type": "string"}]}, 5.5),
    ({"oneOf": [{"minimum": 5}, {"maximum": 10}]}, 3),
    ({"oneOf": [{"minimum": 5}, {"maximum": 10}]}, 7),   # both match
    ({"oneOf": [{"minimum": 5}, {"maximum": 10}]}, 12),
    ({"not": {"type": "integer"}}, "x"),
    ({"not": {"type": "integer"}}, 5),
    ({"$schema": D7, "if": {"minimum": 5}, "then": {"maximum": 10},
      "else": {"maximum": 2}}, 7),
    ({"$schema": D7, "if": {"minimum": 5}, "then": {"maximum": 10},
      "else": {"maximum": 2}}, 12),
    ({"$schema": D7, "if": {"minimum": 5}, "then": {"maximum": 10},
      "else": {"maximum": 2}}, 3),
    ({"$schema": D7, "if": {"minimum": 5}, "then": {"maximum": 10},
      "else": {"maximum": 2}}, 1),
    # boolean schemas (test_boolean_schema.py)
    ({"$schema": D6, "properties": {"x": True}, "type": "object"}, {"x": 1}),
    ({"$schema": D6, "properties": {"x": False}, "type": "object"}, {"x": 1}),
    # --- formats (test_format.py) ----------------------------------------
    ({"type": "string", "format": "email"}, "a@b.c"),
    ({"type": "string", "format": "email"}, "nope"),
    ({"type": "string", "format": "ipv4"}, "127.0.0.1"),
    ({"type": "string", "format": "ipv4"}, "127.0.0.300"),
    ({"type": "string", "format": "ipv4"}, "127.0.0.-1"),
    ({"type": "string", "format": "hostname"}, "example.com"),
    ({"type": "string", "format": "hostname"}, "-bad-.com"),
    ({"type": "string", "format": "date-time"}, "2020-01-01T00:00:00Z"),
    ({"type": "string", "format": "date-time"}, "2020-13-01T00:00:00Z"),
    ({"type": "string", "format": "uri"}, "https://x.example/a"),
    ({"type": "string", "format": "uri"}, "not a uri"),
    ({"$schema": D7, "type": "string", "format": "date"}, "2020-02-29"),
    ({"$schema": D7, "type": "string", "format": "date"}, "2020-02-30x"),
    # --- contentEncoding / contentMediaType (draft-07) -------------------
    ({"$schema": D7, "type": "string", "contentEncoding": "base64"}, "aGk="),
    ({"$schema": D7, "type": "string", "contentEncoding": "base64"}, "a!"),
    ({"$schema": D7, "type": "string",
      "contentMediaType": "application/json"}, '{"a": 1}'),
    ({"$schema": D7, "type": "string",
      "contentMediaType": "application/json"}, "{nope"),
    # --- more formats (test_format.py) -----------------------------------
    ({"$schema": D7, "type": "string", "format": "time"}, "12:30:00Z"),
    ({"$schema": D7, "type": "string", "format": "time"}, "25:00:00Z"),
    ({"$schema": D6, "type": "string", "format": "uri-reference"}, "/a/b"),
    ({"$schema": D6, "type": "string", "format": "json-pointer"}, "/a/0/b"),
    ({"$schema": D6, "type": "string", "format": "json-pointer"}, "a/b"),
    ({"type": "string", "format": "ipv6"}, "::1"),
    ({"type": "string", "format": "ipv6"}, "1:2:3:4:5:6:7:8:9"),
    ({"type": "string", "format": "uuid"},
     "123e4567-e89b-12d3-a456-426614174000"),
    ({"type": "string", "format": "uuid"}, "123e4567"),
    ({"type": "string", "format": "unknown-format-x"}, "anything"),
    # --- nested structures ------------------------------------------------
    ({"type": "array", "items": {"type": "array",
                                 "items": {"type": "integer", "minimum": 0}}},
     [[1, 2], [3]]),
    ({"type": "array", "items": {"type": "array",
                                 "items": {"type": "integer", "minimum": 0}}},
     [[1, -2]]),
    ({"type": "object",
      "properties": {"o": {"type": "object",
                           "properties": {"n": {"type": "integer",
                                                "maximum": 5}},
                           "required": ["n"]}}},
     {"o": {"n": 9}}),
    # --- combinator + keyword interplay ----------------------------------
    ({"allOf": [{"type": "string"}, {"minLength": 3}, {"pattern": "^a"}]},
     "abc"),
    ({"allOf": [{"type": "string"}, {"minLength": 3}, {"pattern": "^a"}]},
     "ab"),
    ({"anyOf": [{"type": "integer", "minimum": 10},
                {"type": "integer", "multipleOf": 3}]}, 9),
    ({"anyOf": [{"type": "integer", "minimum": 10},
                {"type": "integer", "multipleOf": 3}]}, 8),
    ({"not": {"enum": [1, 2, 3]}}, 2),
    ({"not": {"enum": [1, 2, 3]}}, 4),
    # --- $ref (test_integration.py style) --------------------------------
    ({"definitions": {"pos": {"type": "integer", "minimum": 1}},
      "$ref": "#/definitions/pos"}, 5),
    ({"definitions": {"pos": {"type": "integer", "minimum": 1}},
      "$ref": "#/definitions/pos"}, 0),
    ({"definitions": {"name": {"type": "string", "minLength": 2}},
      "type": "object",
      "properties": {"a": {"$ref": "#/definitions/name"},
                     "b": {"$ref": "#/definitions/name"}}},
     {"a": "ok", "b": "x"}),
    # --- draft-04 vs draft-06 integral floats through bounds --------------
    ({"type": "number", "maximum": 3}, 3.0),
    ({"type": "number", "maximum": 3}, 3.5),
    ({"type": ["integer", "string"]}, 5),
    ({"type": ["integer", "string"]}, "x"),
    ({"type": ["integer", "string"]}, 5.5),
]

# None values: routed through the JSON-column path (explicit null is a
# VALUE there; a typed row-column NULL means absent by design)
NULL_CASES = [
    ({"type": "integer"}, None),
    ({"type": "string"}, None),
    ({"type": "null"}, None),
    ({"type": "null"}, 0),
    ({"enum": [None, 1]}, None),
]


def _spark_type(value):
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, str):
        return T.StringType()
    if isinstance(value, list):
        if not value:
            return T.ArrayType(T.LongType())
        elem_types = {type(v) for v in value}
        if len(elem_types) != 1:
            raise _Hetero()
        return T.ArrayType(_spark_type(value[0]))
    if isinstance(value, dict):
        if not value:
            raise _Hetero()
        return T.StructType([
            T.StructField(k, _spark_type(v)) for k, v in value.items()])
    raise _Hetero()


class _Hetero(Exception):
    pass


def _to_row(value):
    if isinstance(value, dict):
        return tuple(_to_row(v) for v in value.values())
    if isinstance(value, list):
        return [_to_row(v) for v in value]
    return value


def _reference_outcome(reference, schema, value):
    """(valid, rule) according to the reference implementation."""
    try:
        validator = reference.compile(schema)
    except Exception:
        return None  # reference rejects the schema: case not applicable
    try:
        validator(value)
        return (True, None)
    except reference.JsonSchemaValueException as exc:
        return (False, exc.rule)


@pytest.mark.parametrize("schema,value", CASES,
                         ids=[f"case{i}" for i in range(len(CASES))])
def test_columnar_keyword_conformance(spark, reference, schema, value):
    expected = _reference_outcome(reference, schema, value)
    if expected is None:
        pytest.skip("reference rejects this schema")
    wrapper_schema = {k: v for k, v in schema.items()
                      if k not in ("$schema", "definitions")}
    wrapper = {"type": "object", "properties": {"v": wrapper_schema}}
    if "$schema" in schema:
        wrapper["$schema"] = schema["$schema"]
    if "definitions" in schema:
        # root-relative $ref pointers must keep resolving after wrapping
        wrapper["definitions"] = schema["definitions"]
    try:
        df_schema = T.StructType([T.StructField("v", _spark_type(value))])
    except _Hetero:
        pytest.skip("no natural homogeneous Spark type for this value")
    df = spark.createDataFrame([(_to_row(value),)], df_schema)
    try:
        plan = ssg.compile_plan(wrapper, df_schema)
    except PlanUnsupported:
        pytest.skip("columnar-unsupported keyword/type combination")
    row = plan.apply(df).collect()[0]
    valid, rule = expected
    assert row["verdict"] == valid, (
        f"columnar verdict {row['verdict']} != reference {valid} "
        f"for {schema!r} / {value!r}: {row['violations']}")
    if not valid:
        assert row["violations"][0]["rule"] == rule, (
            f"first rule {row['violations'][0]['rule']!r} != "
            f"reference rule {rule!r} for {schema!r} / {value!r}")


@pytest.mark.parametrize("schema,value", NULL_CASES,
                         ids=[f"null{i}" for i in range(len(NULL_CASES))])
def test_columnar_null_conformance_via_json(spark, reference, schema, value):
    expected = _reference_outcome(reference, schema, value)
    if expected is None:
        pytest.skip("reference rejects this schema")
    inner = {k: v for k, v in schema.items() if k != "$schema"}
    wrapper = {"type": "object", "properties": {"v": inner}}
    doc = json.dumps({"v": value})
    df = spark.createDataFrame([(doc,)], "props string")
    try:
        out = validate_json_column(df, "props", wrapper, engine="columnar")
    except PlanUnsupported:
        pytest.skip("columnar-unsupported keyword/type combination")
    row = out.collect()[0]
    valid, rule = expected
    assert row["verdict"] == valid, (
        f"columnar verdict {row['verdict']} != reference {valid} "
        f"for {schema!r} / {value!r}: {row['violations']}")
    if not valid and row["violations"][0]["rule"] is not None:
        assert row["violations"][0]["rule"] == rule


# --- live half: the columnar engine against rowcheck, no oracle needed ----

def _wrap(schema):
    """The case schema as the property ``v`` of an object schema."""
    wrapper = {"type": "object", "properties": {
        "v": {k: v for k, v in schema.items()
              if k not in ("$schema", "definitions")}}}
    for k in ("$schema", "definitions"):
        if k in schema:
            wrapper[k] = schema[k]
    return wrapper


def _rowcheck_outcome(wrapper, doc):
    """(valid, first rule) according to the row-level validator."""
    errors = compile_row_validator(wrapper, fast_fail=False).collect(doc)
    return (not errors, errors[0].rule if errors else None)


def _columnar_outcome(row):
    violations = row["violations"]
    return (row["verdict"], violations[0]["rule"] if violations else None)


@pytest.mark.parametrize("schema,value", CASES,
                         ids=[f"case{i}" for i in range(len(CASES))])
def test_columnar_keyword_conformance_live(spark, schema, value):
    wrapper = _wrap(schema)
    try:
        df_schema = T.StructType([T.StructField("v", _spark_type(value))])
    except _Hetero:
        pytest.skip("no natural homogeneous Spark type for this value")
    df = spark.createDataFrame([(_to_row(value),)], df_schema)
    row = ssg.compile_plan(wrapper, df_schema).apply(df).collect()[0]
    assert _columnar_outcome(row) == _rowcheck_outcome(wrapper, {"v": value}), (
        schema, value, row["violations"])


@pytest.mark.parametrize("schema,value", NULL_CASES,
                         ids=[f"null{i}" for i in range(len(NULL_CASES))])
def test_columnar_null_conformance_live(spark, schema, value):
    wrapper = _wrap(schema)
    doc = json.dumps({"v": value})
    df = spark.createDataFrame([(doc,)], "props string")
    row = validate_json_column(df, "props", wrapper,
                               engine="columnar").collect()[0]
    assert _columnar_outcome(row) == _rowcheck_outcome(
        wrapper, json.loads(doc)), (schema, value, row["violations"])
