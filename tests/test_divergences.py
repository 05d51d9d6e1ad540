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
