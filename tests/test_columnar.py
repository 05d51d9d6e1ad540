"""Columnar plan vs row-level validator: internal differential testing.

For each test table + schema, the columnar plan's violations (computed
JVM-side) must equal the row validator's violations (reference-parity
closures) computed driver-side on the same rows — rule, name and message.
"""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import spark_schema_guard as ssg

DOCS_SCHEMA = {
    "type": "object",
    "required": ["doc_id", "text", "lang"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "text": {"type": "string", "minLength": 60, "maxLength": 480},
        "lang": {"enum": ["en", "de", "fr", "es"]},
        "source": {"type": "string", "pattern": "^src[0-9]+$"},
        "n_chars": {"type": "integer", "minimum": 0, "multipleOf": 2},
    },
}


def _to_json_value(value, dtype):
    """Row -> JSON object under the engine's conventions: NULL columns and
    struct fields are absent; NULL array elements and map values are JSON
    nulls."""
    if value is None:
        return None
    if isinstance(dtype, T.VariantType):
        return value.toPython()
    if isinstance(dtype, T.StructType):
        out = {}
        for f in dtype.fields:
            v = value[f.name] if not isinstance(value, dict) else value.get(f.name)
            if v is not None:
                out[f.name] = _to_json_value(v, f.dataType)
        return out
    if isinstance(dtype, T.MapType):
        return {k: _to_json_value(v, dtype.valueType) if v is not None else None
                for k, v in value.items()}
    if isinstance(dtype, T.ArrayType):
        return [_to_json_value(v, dtype.elementType) if v is not None else None
                for v in value]
    return value


def assert_matches_rowcheck(plan, df, schema, limit=500, **options):
    applied = plan.apply(df).limit(limit).collect()
    validator = ssg.compile(schema, fast_fail=False, **options)
    mismatches = []
    for row in applied:
        data = {}
        for f in df.schema.fields:
            v = row[f.name]
            if v is not None:
                data[f.name] = _to_json_value(v, f.dataType)
        expected = [(e.rule, e.name, e.message) for e in validator.collect(data)]
        actual = [(v["rule"], v["name"], v["message"]) for v in row["violations"]]
        if expected != actual:
            mismatches.append((data, expected, actual))
    assert not mismatches, f"{len(mismatches)} rows diverged; first: {mismatches[0]}"


def test_documents_schema_matches_rowcheck(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = ssg.compile_plan(DOCS_SCHEMA, df.schema)
    assert_matches_rowcheck(plan, df, DOCS_SCHEMA)


def test_lineitem_numeric_rules(spark, sf_dir):
    schema = {
        "type": "object",
        "required": ["l_orderkey", "l_quantity"],
        "properties": {
            "l_quantity": {"type": "number", "minimum": 1, "maximum": 50},
            "l_discount": {"type": "number", "minimum": 0, "exclusiveMaximum": 0.11},
            "l_extendedprice": {"type": "number", "multipleOf": 0.01},
            "l_returnflag": {"enum": ["A", "N", "R"]},
            "l_linenumber": {"type": "integer", "minimum": 1, "maximum": 7},
        },
    }
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = ssg.compile_plan(schema, df.schema)
    assert_matches_rowcheck(plan, df, schema)


def test_constant_folding(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = ssg.compile_plan(
        {"type": "object",
         "properties": {"text": {"type": "string"},
                        "doc_id": {"type": ["integer", "null"]}}},
        df.schema)
    # statically-satisfied type rules fold away entirely
    assert plan.rules == []


def test_verdict_counts(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = ssg.compile_plan(DOCS_SCHEMA, df.schema)
    out = plan.apply(df)
    total = out.count()
    ok = out.where("verdict").count()
    assert total == df.count()
    assert 0 < ok < total  # schema deliberately trips some rows


def test_nested_struct_array(spark):
    schema = {
        "type": "object",
        "required": ["name"],
        "properties": {
            "name": {"type": "string", "minLength": 2},
            "tags": {"type": "array", "minItems": 1, "maxItems": 3,
                     "uniqueItems": True, "items": {"type": "string", "maxLength": 5}},
            "meta": {"type": "object", "required": ["a"],
                     "properties": {"a": {"type": "integer", "minimum": 0},
                                    "b": {"type": "string", "enum": ["x", "y"]}}},
            "scores": {"type": "array",
                       "contains": {"type": "number", "minimum": 100}},
        },
    }
    rows = [
        {"name": "ok", "tags": ["a", "b"], "meta": {"a": 1, "b": "x"}, "scores": [100.0, 1.0]},
        {"name": "x", "tags": [], "meta": {"a": -1, "b": "z"}, "scores": [1.0]},
        {"name": "dup", "tags": ["t", "t"], "meta": {"b": "x"}, "scores": None},
        {"name": "long", "tags": ["abcdefgh"], "meta": None, "scores": [150.0]},
        {"name": None, "tags": None, "meta": {"a": 5}, "scores": [99.0, 101.5]},
    ]
    spark_schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("meta", T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
        ])),
        T.StructField("scores", T.ArrayType(T.DoubleType())),
    ])
    spark_df = spark.createDataFrame(
        [tuple(r[k] for k in ("name", "tags", "meta", "scores")) for r in rows]
        if False else
        [(r["name"], r["tags"],
          None if r["meta"] is None else (r["meta"].get("a"), r["meta"].get("b")),
          r["scores"]) for r in rows],
        spark_schema)
    plan = ssg.compile_plan(schema, spark_schema)
    assert_matches_rowcheck(plan, spark_df, schema)


def test_positional_items(spark):
    schema = {
        "type": "object",
        "properties": {
            "triple": {"type": "array", "minItems": 1, "maxItems": 3,
                       "items": [{"type": "number"}, {"type": "number", "minimum": 5},
                                 {"type": "number"}],
                       "additionalItems": False},
        },
    }
    spark_schema = T.StructType([
        T.StructField("triple", T.ArrayType(T.DoubleType()))])
    df = spark.createDataFrame(
        [([1.0, 6.0, 3.0],), ([1.0, 2.0],), ([],), ([1.0, 6.0, 3.0, 4.0],), (None,)],
        spark_schema)
    plan = ssg.compile_plan(schema, spark_schema)
    assert_matches_rowcheck(plan, df, schema)


def test_map_column_keywords(spark):
    schema = {
        "type": "object",
        "properties": {
            "props": {
                "type": "object",
                "required": ["k"],
                "minProperties": 1,
                "maxProperties": 3,
                "properties": {"k": {"type": "integer", "minimum": 0}},
                "patternProperties": {"^x_": {"type": "integer", "maximum": 100}},
                "additionalProperties": False,
            },
        },
    }
    spark_schema = T.StructType([
        T.StructField("props", T.MapType(T.StringType(), T.LongType()))])
    df = spark.createDataFrame(
        [({"k": 1},), ({"k": -2},), ({"x_a": 5},), ({"k": 1, "x_a": 500},),
         ({"k": 1, "bad": 2},), ({},), (None,),
         ({"k": 1, "a": 2, "b": 3, "c": 4},)],
        spark_schema)
    plan = ssg.compile_plan(schema, spark_schema)
    assert_matches_rowcheck(plan, df, schema)


def test_combinators_columnar(spark):
    schema = {
        "type": "object",
        "properties": {
            "n": {"oneOf": [{"type": "number", "multipleOf": 3},
                            {"type": "number", "multipleOf": 5}]},
            "m": {"anyOf": [{"type": "number", "minimum": 10},
                            {"type": "number", "maximum": 5}]},
            "p": {"not": {"type": "null"}},
            "q": {"if": {"exclusiveMaximum": 0}, "then": {"minimum": -10},
                  "else": {"multipleOf": 2}},
            "r": {"allOf": [{"type": "number"}, {"minimum": 5}]},
        },
    }
    spark_schema = T.StructType([
        T.StructField(c, T.LongType()) for c in ("n", "m", "p", "q", "r")])
    df = spark.createDataFrame(
        [(3, 3, 1, -5, 6), (15, 8, 1, -15, 4), (2, 11, 1, 4, None),
         (5, None, None, 3, 5), (None, 4, 2, None, 7)],
        spark_schema)
    plan = ssg.compile_plan(schema, spark_schema)
    assert_matches_rowcheck(plan, df, schema)


def test_defaults_projection(spark):
    schema = {
        "type": "object",
        "properties": {
            "a": {"type": "string", "default": "zz"},
            "b": {"type": "integer", "default": 42},
        },
    }
    spark_schema = T.StructType([T.StructField("a", T.StringType()),
                                 T.StructField("b", T.LongType())])
    df = spark.createDataFrame([("x", 1), (None, None)], spark_schema)
    plan = ssg.compile_plan(schema, spark_schema)
    out = plan.with_defaults(df).collect()
    assert [tuple(r) for r in out] == [("x", 1), ("zz", 42)]


def test_oneof_message_count(spark):
    schema = {"type": "object",
              "properties": {"n": {"oneOf": [{"multipleOf": 3}, {"multipleOf": 5}]}}}
    spark_schema = T.StructType([T.StructField("n", T.LongType())])
    df = spark.createDataFrame([(15,), (2,), (3,)], spark_schema)
    plan = ssg.compile_plan(schema, spark_schema)
    rows = {r["n"]: r["violations"] for r in plan.apply(df).collect()}
    assert rows[15][0]["message"] == \
        "data.n must be valid exactly by one definition (2 matches found)"
    assert rows[2][0]["message"] == \
        "data.n must be valid exactly by one definition (0 matches found)"
    assert rows[3] == []


def test_required_message_sorted(spark):
    schema = {"type": "object", "required": ["b", "a", "c"]}
    spark_schema = T.StructType([T.StructField("a", T.StringType()),
                                 T.StructField("b", T.StringType()),
                                 T.StructField("c", T.StringType())])
    df = spark.createDataFrame([(None, "x", None)], spark_schema)
    plan = ssg.compile_plan(schema, spark_schema)
    row = plan.apply(df).collect()[0]
    assert row["violations"][0]["message"] == "data must contain ['a', 'c'] properties"
    assert row["violations"][0]["rule"] == "required"


def test_null_array_elements_and_map_values(spark):
    # null inside arrays/maps is a JSON null VALUE (fails type rules),
    # unlike null columns/struct fields which mean "absent"
    schema = {
        "type": "object",
        "properties": {
            "tags": {"items": {"type": "string"}},
            "mixed": {"items": {"type": ["string", "null"]}},
            "props": {"properties": {"k": {"type": "integer"}}},
        },
    }
    spark_schema = T.StructType([
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("mixed", T.ArrayType(T.StringType())),
        T.StructField("props", T.MapType(T.StringType(), T.LongType())),
    ])
    df = spark.createDataFrame(
        [(["a", None], ["a", None], {"k": None}),
         (["a"], [None], {"k": 1}),
         (None, None, None)],
        spark_schema)
    plan = ssg.compile_plan(schema, spark_schema)
    assert_matches_rowcheck(plan, df, schema)


@pytest.mark.parametrize("keyword", [
    {"required": ["a"]}, {"minProperties": 1},
    {"propertyNames": {"maxLength": 1}}, {"dependencies": {"bb": ["a"]}},
])
def test_null_object_elements_skip_key_set_keywords(spark, keyword):
    # a NULL array element of struct or map type is a JSON null, not an
    # empty object: object key-set keywords do not apply to it.  At most
    # one element per array fails, as columnar reports the first.
    schema = {"type": "object",
              "properties": {"s": {"items": keyword}, "m": {"items": keyword}}}
    spark_schema = T.StructType([
        T.StructField("s", T.ArrayType(T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("bb", T.LongType())]))),
        T.StructField("m", T.ArrayType(
            T.MapType(T.StringType(), T.LongType()))),
    ])
    df = spark.createDataFrame(
        [([None, {"a": None, "bb": 2}], [None, {"bb": 2}]),
         ([None], [None]),
         ([{"a": 1, "bb": None}, None], [{}, None])],
        spark_schema)
    plan = ssg.compile_plan(schema, spark_schema)
    assert_matches_rowcheck(plan, df, schema)


@pytest.mark.parametrize("keyword,bounds", [
    ("minimum", [0, 1, 5, 0.5]),
    ("maximum", [-1, 0, 1, 0.5]),
    ("exclusiveMinimum", [-1, 0, 1]),
    ("exclusiveMaximum", [0, 1, 2]),
    # int divisors only: a float divisor on a bool raises InvalidOperation
    # in the reference (Decimal('True')), and rowcheck mirrors that
    ("multipleOf", [1, 2, 3]),
])
def test_numeric_keywords_on_booleans(spark, keyword, bounds):
    # the reference checks numeric keywords on any isinstance(x, (int,
    # float, Decimal)) value, bools included: True/False compare as 1/0
    spark_schema = T.StructType([
        T.StructField("b", T.BooleanType()),
        T.StructField("s", T.StructType([T.StructField("flag", T.BooleanType())])),
        T.StructField("arr", T.ArrayType(T.BooleanType())),
    ])
    df = spark.createDataFrame(
        [(True, (True,), [None, True, False]),
         (False, (False,), [False]),
         (None, (None,), []),
         (True, None, None)],
        spark_schema)
    for bound in bounds:
        kw = {keyword: bound}
        # one site per schema: columnar reports the first failing array
        # element, so compare each row's verdict and first violation
        for prop in ({"b": kw}, {"s": {"properties": {"flag": kw}}},
                     {"arr": {"items": kw}}):
            schema = {"type": "object", "properties": prop}
            validator = ssg.compile(schema, fast_fail=False)
            for out in ssg.compile_plan(schema, spark_schema).apply(df).collect():
                data = {f.name: _to_json_value(out[f.name], f.dataType)
                        for f in spark_schema.fields if out[f.name] is not None}
                want = [(e.rule, e.name, e.message) for e in validator.collect(data)]
                have = [(v["rule"], v["name"], v["message"]) for v in out["violations"]]
                assert (out["verdict"], have[:1]) == (not want, want[:1]), (schema, data)


@pytest.mark.parametrize("schema,dtype,values", [
    ({"const": {"a": 1}},
     T.StructType([T.StructField("a", T.LongType())]),
     [(1,), (2,), (None,)]),
    ({"enum": [{"a": 1}, {"b": 2}]},
     T.MapType(T.StringType(), T.LongType()),
     [{"a": 1}, {"b": 2}, {"a": 1, "b": 2}, {"a": None}, {}]),
    ({"const": [{"a": 1}]},
     T.ArrayType(T.StructType([T.StructField("a", T.LongType())])),
     [[(1,)], [(2,)], [(1,), (1,)], [None], []]),
], ids=["struct", "map", "array-of-struct"])
def test_typed_container_members_match_rowcheck(spark, schema, dtype, values):
    # an object or array enum/const member compares member by member
    # over the typed value: key set, then each value, type-strictly
    spark_schema = T.StructType([T.StructField("o", dtype)])
    df = spark.createDataFrame([(v,) for v in values], spark_schema)
    wrapper = {"type": "object", "properties": {"o": schema}}
    assert_matches_rowcheck(ssg.compile_plan(wrapper, spark_schema), df,
                            wrapper)


_MAP = T.MapType(T.StringType(), T.LongType())


@pytest.mark.parametrize("dtype,values", [
    (T.ArrayType(_MAP),
     [[{"a": 1}, {"a": 1}], [{"a": 1}, {"b": 1}], [{"a": 1, "b": 2},
      {"b": 2, "a": 1}], [{"a": None}, {"a": None}], [None, None], []]),
    (T.ArrayType(T.StructType([T.StructField("k", T.LongType()),
                               T.StructField("m", _MAP)])),
     [[(1, {"a": 1}), (1, {"a": 1})], [(1, {"a": 1}), (1, {"b": 1})],
      [(None, {"a": 1}), (None, {"a": 1})], [(1, None), (2, None)]]),
], ids=["map", "struct-of-map"])
def test_typed_unique_items_over_maps_match_rowcheck(spark, dtype, values):
    # array_distinct cannot compare a map: map-bearing elements go
    # through to_variant_object and the variant canon
    spark_schema = T.StructType([T.StructField("o", dtype)])
    df = spark.createDataFrame([(v,) for v in values], spark_schema)
    wrapper = {"type": "object", "properties": {"o": {"uniqueItems": True}}}
    plan = ssg.compile_plan(wrapper, spark_schema)
    assert_matches_rowcheck(plan, df, wrapper)
    assert [row["verdict"] for row in plan.apply(df).collect()][:2] == [
        False, True]


def test_typed_contains_false_passes_null_element(spark):
    # a NULL array element is a JSON null, not an array: contains
    # (even contains: false) does not apply to it
    spark_schema = T.StructType([T.StructField(
        "o", T.ArrayType(T.ArrayType(T.LongType())))])
    df = spark.createDataFrame([([None, [1]],), ([None],), ([None, []],)],
                               spark_schema)
    schema = {"properties": {"o": {"items": {"contains": False}}}}
    validator = ssg.compile(schema, fast_fail=False)
    for out in ssg.compile_plan(schema, spark_schema).apply(df).collect():
        want = [(e.rule, e.name, e.message)
                for e in validator.collect({"o": out["o"]})]
        have = [(v["rule"], v["name"], v["message"])
                for v in out["violations"]]
        assert (out["verdict"], have) == (not want, want[:1])


def test_typed_unique_items_refuses_non_string_map_keys():
    # the variant canon renders string-keyed objects only: refused when
    # the plan compiles, never at apply
    from spark_schema_guard.columnar.compiler import PlanUnsupported

    spark_schema = T.StructType([T.StructField(
        "o", T.ArrayType(T.MapType(T.LongType(), T.LongType())))])
    with pytest.raises(PlanUnsupported, match="uniqueItems"):
        ssg.compile_plan({"properties": {"o": {"uniqueItems": True}}},
                         spark_schema)


@pytest.mark.parametrize("schema,options", [
    ({"definitions": {"short": {"maxLength": 1}},
      "propertyNames": {"$ref": "#/definitions/short"}}, {}),
    ({"propertyNames": {"format": "lower"}},
     {"formats": {"lower": "^[a-z]$"}}),
], ids=["root-definitions", "custom-format"])
def test_static_property_names_match_rowcheck(spark, schema, options):
    # the field names of a typed table are checked at compile time, under
    # the plan's own definitions and formats
    spark_schema = T.StructType([T.StructField("ab", T.LongType()),
                                 T.StructField("c", T.LongType())])
    df = spark.createDataFrame([(1, 2), (None, 2), (None, None)],
                               spark_schema)
    plan = ssg.compile_plan(schema, spark_schema, **options)
    assert plan.rules
    assert_matches_rowcheck(plan, df, schema, **options)


VARIANT_DOCS = ['{"a": "x"}', '{"a": 1, "b": -1}', '{}', '{"a": "x", "b": 2}',
                '{"ab": "y", "z": 0}', '{"b": "q", "c": 1}', 'null', '5',
                '[1]', None]


@pytest.mark.parametrize("schema", [
    {"required": ["a"]},
    {"minProperties": 1, "maxProperties": 1},
    {"propertyNames": {"maxLength": 1}},
    {"properties": {"a": {}}, "additionalProperties": False},
    {"properties": {"a": {}}, "additionalProperties": {"type": "string"}},
    {"properties": {"a": {"type": "string"}, "b": {"minimum": 0}}},
    {"patternProperties": {"^a": {"type": "string"}, "^z": False}},
    {"dependencies": {"a": ["b"]}},
    {"dependencies": {"a": {"required": ["b"]}}},
], ids=["required", "min-max-properties", "property-names",
        "additional-false", "additional-schema", "properties",
        "pattern-properties", "dependencies-array", "dependencies-schema"])
def test_typed_variant_object_keywords_match_rowcheck(spark, schema):
    # a VARIANT column of a typed table reads its key facts, members and
    # entries from the variant views: every object keyword compiles
    spark_schema = T.StructType([T.StructField("v", T.VariantType())])
    df = spark.createDataFrame([(d,) for d in VARIANT_DOCS],
                               "s string").selectExpr("parse_json(s) AS v")
    wrapper = {"properties": {"v": schema}}
    plan = ssg.compile_plan(wrapper, spark_schema)
    assert plan.rules
    assert_matches_rowcheck(plan, df, wrapper)
