"""Deliberate, documented divergences from the reference implementation.

Each test pins OUR behavior and explains why it differs (see the module
docstring of spark_schema_guard/rowcheck/compiler.py).
"""

import pytest

import spark_schema_guard as ssg


def test_property_names_false_on_non_object_passes():
    # Reference crashes with AttributeError (missing is-dict guard,
    # draft06.py:117-120); JSON Schema spec says non-objects pass.
    assert ssg.validate({"propertyNames": False}, 42) == 42
    with pytest.raises(ssg.ValidationError):
        ssg.validate({"propertyNames": False}, {"a": 1})


def test_additional_properties_message_sorted():
    # Reference prints raw set repr (hash-order, nondeterministic across
    # executors); we sort keys for deterministic distributed output.
    with pytest.raises(ssg.ValidationError) as exc:
        ssg.validate({"additionalProperties": False}, {"b": 1, "a": 2})
    assert exc.value.message == "data must not contain {'a', 'b'} properties"


def test_collect_mode_through_ref():
    # Reference raises a nested JsonSchemaValuesException from inside $ref'd
    # validators in collect mode; we feed one flat error sink.
    schema = {
        "definitions": {"s": {"type": "string"}},
        "type": "object",
        "properties": {"a": {"$ref": "#/definitions/s"},
                       "b": {"$ref": "#/definitions/s"}},
    }
    validator = ssg.compile(schema, fast_fail=False)
    with pytest.raises(ssg.ValidationErrors) as exc:
        validator({"a": 1, "b": 2})
    assert [e.name for e in exc.value.errors] == ["data.a", "data.b"]


def test_typed_long_multiple_of_is_exact(spark):
    # Reference computes value/divisor through float true-division for
    # int divisors (draft04.py:366), so any odd int past 2^53 counts as
    # "a multiple of 2" — a float artifact (pinned against the reference
    # below). On a TYPED integer column the columnar engine uses exact
    # long modulo instead; the JSON engines keep byte-parity with the
    # reference's float semantics (pinned in the bigint conformance test
    # in test_jsoncol.py).
    from pyspark.sql import types as T

    df = spark.createDataFrame([(2 ** 60 + 1,), (2 ** 60,), (7,), (6,)],
                               T.StructType([T.StructField("k", T.LongType())]))
    plan = ssg.compile_plan(
        {"type": "object", "properties": {"k": {"multipleOf": 2}}}, df.schema)
    got = {r["k"]: r["verdict"] for r in plan.apply(df).collect()}
    assert got == {2 ** 60 + 1: False, 2 ** 60: True, 7: False, 6: True}


def test_reference_long_multiple_of_is_float_division(reference):
    # the reference's float path calls the huge odd int valid
    reference.validate({"multipleOf": 2}, 2 ** 60 + 1)  # no raise


_AB_STRINGS = {"properties": {"a": {"type": "string"},
                              "b": {"type": "string"}}}


def _collect_all(spark, schema, value):
    """(rowcheck, typed columnar, JSON columnar) violations of
    ``{"t": value}``, each as (rule, name, message) tuples; ``value`` is
    a list of ``{"a": int, "b": int}`` objects."""
    import json

    from pyspark.sql import types as T

    from spark_schema_guard.columnar.compiler import compile_plan_for_column

    def listed(violations):
        return [(v["rule"], v["name"], v["message"]) for v in violations]

    data = {"t": value}
    expected = [(e.rule, e.name, e.message) for e in
                ssg.compile(schema, fast_fail=False).collect(data)]
    ab = T.StructType([T.StructField("a", T.LongType()),
                       T.StructField("b", T.LongType())])
    typed = spark.createDataFrame(
        [([(o["a"], o["b"]) for o in value],)],
        T.StructType([T.StructField("t", T.ArrayType(ab))]))
    text = spark.createDataFrame([(json.dumps(data),)], "doc string")
    return (expected,
            listed(ssg.compile_plan(schema, typed.schema).apply(typed)
                   .first()["violations"]),
            listed(compile_plan_for_column(schema, "doc").apply(text)
                   .first()["violations"]))


@pytest.mark.parametrize("array_schema,value", [
    ({"items": _AB_STRINGS}, [{"a": 1, "b": 2}, {"a": 1, "b": 2}]),
    ({"items": [True], "additionalItems": _AB_STRINGS},
     [{"a": 1, "b": 2}, {"a": 1, "b": 2}, {"a": 1, "b": 2}]),
], ids=["items", "additionalItems"])
def test_columnar_element_schema_reports_first_failing_element(
        spark, array_schema, value):
    # Collect-all mode: the row validator lists every failing rule of
    # every element; the columnar engine, typed or JSON, reports one
    # violation per element schema — the first failing element's first
    # failing rule.  Verdicts and the first violation agree.
    expected, typed, json_column = _collect_all(
        spark, {"properties": {"t": array_schema}}, value)
    assert len(expected) == 4
    assert typed == json_column == expected[:1]


def test_columnar_positional_item_collect_all(spark):
    # A declared positional item lists every failing rule of the item
    # on a typed column, as the row validator does; over a JSON column
    # it is one bound struct: the item's first failing rule only.
    expected, typed, json_column = _collect_all(
        spark, {"properties": {"t": {"items": [_AB_STRINGS]}}},
        [{"a": 1, "b": 2}])
    assert len(expected) == 2
    assert typed == expected
    assert json_column == expected[:1]
