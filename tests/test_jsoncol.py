"""JSON string column validation: python (exact) and columnar engines
over events.props and synthetic open-key documents, and JSON-column
plans as standalone artifacts (apply, save/reload, AuditedRun)."""

import json

import pytest
from pyspark.sql import functions as F

import spark_schema_guard as ssg
from spark_schema_guard.jsoncol import validate_json_column

PROPS_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 80}},
}

OPEN_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer"}},
    "patternProperties": {"^x_": {"type": "number"}},
    "additionalProperties": False,
    "propertyNames": {"maxLength": 8},
    "dependencies": {"a": ["b"]},
}


def test_events_props_python_engine(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = validate_json_column(df, "props", PROPS_SCHEMA, engine="python")
    rows = out.select("props", "violations", "verdict").limit(300).collect()
    validator = ssg.compile(PROPS_SCHEMA, fast_fail=False)
    for row in rows:
        expected = [e.as_row() for e in validator.collect(json.loads(row["props"]))]
        actual = [v.asDict() for v in row["violations"]]
        assert actual == expected
        assert row["verdict"] == (not expected)


def test_open_key_schema_python_engine(spark):
    docs = [
        '{"k": 1}',
        '{"k": "s"}',
        '{"k": 1, "x_a": 2.5}',
        '{"k": 1, "x_a": "bad"}',
        '{"k": 1, "zzz": 9}',
        '{"k": 1, "toolongkey": 1}',
        '{"k": 1, "a": 1}',
        '{"k": 1, "a": 1, "b": 2}',
        '{bad json',
        None,
        '{}',
    ]
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    out = validate_json_column(df, "props", OPEN_SCHEMA, engine="python")
    got = {row["props"]: [v["rule"] for v in row["violations"]]
           for row in out.collect()}
    validator = ssg.compile(OPEN_SCHEMA, fast_fail=False)
    for doc in docs:
        if doc is None:
            assert got[None] == []
        elif doc == "{bad json":
            assert got[doc] == [None]  # malformed JSON sentinel
        else:
            assert got[doc] == [e.rule for e in validator.collect(json.loads(doc))]


def test_events_props_columnar_engine(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    py = validate_json_column(df, "props", PROPS_SCHEMA, engine="python")
    jvm = validate_json_column(df, "props", PROPS_SCHEMA, engine="columnar")
    py_rows = {r["event_id"]: r["verdict"] for r in py.select("event_id", "verdict").collect()}
    jvm_rows = {r["event_id"]: r["verdict"] for r in jvm.select("event_id", "verdict").collect()}
    assert py_rows == jvm_rows


def test_columnar_engine_malformed(spark):
    df = spark.createDataFrame([('{"k": 5}',), ("{nope",), (None,)], "props string")
    out = validate_json_column(df, "props", PROPS_SCHEMA, engine="columnar")
    rows = {r["props"]: (r["verdict"], [v["message"] for v in r["violations"]])
            for r in out.collect()}
    assert rows['{"k": 5}'] == (True, [])
    assert rows["{nope"] == (False, ["data must be valid JSON"])
    assert rows[None] == (True, [])


OPEN_KEY_SCHEMA = {
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer"}},
    "additionalProperties": False,
    "propertyNames": {"maxLength": 8},
    "minProperties": 1,
    "maxProperties": 3,
    "dependencies": {"a": ["b"]},
}


def test_open_key_columnar_matches_python(spark):
    """Columnar open-key parity: additionalProperties False, propertyNames,
    min/maxProperties, dependencies presence, and required-with-explicit-
    null all see the TRUE runtime key set via json_object_keys."""
    docs = [
        '{"k": 1}',
        '{"k": null}',            # present key: fails type, NOT required
        '{}',                     # required + minProperties
        '{"k": 1, "zzz": 9}',     # additionalProperties
        '{"k": 1, "toolongkey": 1}',   # propertyNames + additional
        '{"k": 1, "a": 1}',       # dependencies (a needs b) + additional
        '{"k": 1, "a": 1, "b": 2, "c": 3}',  # maxProperties + additional
    ]
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    py = validate_json_column(df, "props", OPEN_KEY_SCHEMA, engine="python")
    cols = validate_json_column(df, "props", OPEN_KEY_SCHEMA, engine="columnar")
    py_rows = {r["props"]: [v["rule"] for v in r["violations"]]
               for r in py.collect()}
    col_rows = {r["props"]: [v["rule"] for v in r["violations"]]
                for r in cols.collect()}
    assert py_rows == col_rows
    # verdict parity also for non-object JSON (message approximated as
    # the malformed sentinel columnar-side, but verdict must agree)
    shapes = spark.createDataFrame(
        [('[1, 2]',), ('5',), ('"s"',)], "props string")
    pv = {r["props"]: r["verdict"] for r in validate_json_column(
        shapes, "props", OPEN_KEY_SCHEMA, engine="python").collect()}
    cv = {r["props"]: r["verdict"] for r in validate_json_column(
        shapes, "props", OPEN_KEY_SCHEMA, engine="columnar").collect()}
    assert pv == cv == {"[1, 2]": False, "5": False, '"s"': False}


def test_open_key_full_schema_columnar_matches_python(spark):
    """OPEN_SCHEMA (pattern value schemas + additionalProperties False +
    propertyNames + dependencies) runs columnar via the variant view of
    undeclared keys and must agree with the exact python engine."""
    docs = [
        '{"k": 1}',
        '{"k": "s"}',
        '{"k": 1, "x_a": 2.5}',
        '{"k": 1, "x_a": "bad"}',
        '{"k": 1, "x_a": true}',
        '{"k": 1, "zzz": 9}',
        '{"k": 1, "toolongkey": 1}',
        '{}',
    ]
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    py = validate_json_column(df, "props", OPEN_SCHEMA, engine="python")
    cols = validate_json_column(df, "props", OPEN_SCHEMA, engine="columnar")
    pv = {r["props"]: (r["verdict"], sorted(v["rule"] or "" for v in r["violations"]))
          for r in py.collect()}
    cv = {r["props"]: (r["verdict"], sorted(v["rule"] or "" for v in r["violations"]))
          for r in cols.collect()}
    assert pv == cv


def test_open_key_variant_value_schemas(spark):
    """additionalProperties/patternProperties VALUE schemas over
    undeclared keys: scalars AND nested containers compile via variant
    (array<variant> / map<string,variant> recursion)."""
    add_schema = {"type": "object",
                  "properties": {"k": {"type": "integer"}},
                  "additionalProperties": {"type": "string", "minLength": 2}}
    docs = ['{"k": 1, "a": "ok"}', '{"k": 1, "a": "x"}',
            '{"k": 1, "a": 7}', '{"k": 1}', '{"k": 1, "a": null}']
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    py = validate_json_column(df, "props", add_schema, engine="python")
    cols = validate_json_column(df, "props", add_schema, engine="columnar")
    pv = {r["props"]: [(v["rule"], v["message"]) for v in r["violations"]]
          for r in py.collect()}
    cv = {r["props"]: [(v["rule"], v["message"]) for v in r["violations"]]
          for r in cols.collect()}
    assert pv == cv

    nested = {"type": "object",
              "additionalProperties": {"type": "object",
                                       "required": ["x"],
                                       "properties": {
                                           "x": {"type": "array",
                                                 "items": {"type": "integer"},
                                                 "minItems": 1}}}}
    ndocs = ['{"o": {"x": [1]}}', '{"o": {"x": []}}', '{"o": {"x": ["s"]}}',
             '{"o": {}}', '{"o": 3}', '{"o": {"x": [1], "y": 0}}', '{}']
    ndf = spark.createDataFrame([(d,) for d in ndocs], "props string")
    npy = validate_json_column(ndf, "props", nested, engine="python")
    ncols = validate_json_column(ndf, "props", nested, engine="columnar")
    npv = {r["props"]: [(v["rule"], v["message"]) for v in r["violations"]]
           for r in npy.collect()}
    ncv = {r["props"]: [(v["rule"], v["message"]) for v in r["violations"]]
           for r in ncols.collect()}
    assert npv == ncv


def test_variant_deep_enum_const(spark):
    """enum/const members that are arrays/objects compare with the
    reference's type-strict deep equality (draft04.py:120-155) over the
    variant view: bool is identity, 1 == 1.0 but never True, dicts need
    the exact key set, lists exact length — all unrolled statically."""
    schema = {"type": "object",
              "properties": {"k": {"type": "integer"}},
              "additionalProperties": {
                  "enum": [[1, 2], {"a": 1, "b": [True, None]}, "x", 3,
                           [], {}, {"a": True}]}}
    docs = ['{"k":1,"z":[1,2]}', '{"k":1,"z":[1,2,3]}',
            '{"k":1,"z":[1.0,2]}', '{"k":1,"z":[true,2]}',
            '{"k":1,"z":{"a":1,"b":[true,null]}}',
            '{"k":1,"z":{"a":1,"b":[true,0]}}',
            '{"k":1,"z":{"a":1.0,"b":[true,null]}}',
            '{"k":1,"z":{"a":true}}', '{"k":1,"z":{"a":1}}',
            '{"k":1,"z":[]}', '{"k":1,"z":{}}', '{"k":1,"z":"x"}',
            '{"k":1,"z":3}', '{"k":1,"z":3.5}', '{"k":1,"z":null}']
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    py = {r["props"]: (r["verdict"],
                       [(v["rule"], v["message"]) for v in r["violations"]])
          for r in validate_json_column(df, "props", schema,
                                        engine="python").collect()}
    co = {r["props"]: (r["verdict"],
                       [(v["rule"], v["message"]) for v in r["violations"]])
          for r in validate_json_column(df, "props", schema,
                                        engine="columnar").collect()}
    assert py == co
    assert py['{"k":1,"z":[1.0,2]}'][0] is True       # 1.0 == 1
    assert py['{"k":1,"z":[true,2]}'][0] is False     # True is not 1

    const_schema = {"type": "object",
                    "additionalProperties": {"const": {"a": [1, "x"]}}}
    cdocs = ['{"z":{"a":[1,"x"]}}', '{"z":{"a":[1,"y"]}}',
             '{"z":{"a":[1,"x"],"b":1}}', '{"z":{"a":[1.0,"x"]}}']
    cdf = spark.createDataFrame([(d,) for d in cdocs], "props string")
    cpy = {r["props"]: (r["verdict"],
                        [(v["rule"], v["message"]) for v in r["violations"]])
           for r in validate_json_column(cdf, "props", const_schema,
                                         engine="python").collect()}
    cco = {r["props"]: (r["verdict"],
                        [(v["rule"], v["message"]) for v in r["violations"]])
           for r in validate_json_column(cdf, "props", const_schema,
                                         engine="columnar").collect()}
    assert cpy == cco
    assert cpy['{"z":{"a":[1,"x"]}}'][0] is True
    assert cpy['{"z":{"a":[1.0,"x"]}}'][0] is True


def test_open_key_message_parity(spark):
    """Byte parity of the open-key violation messages vs the reference
    row validator."""
    docs = ['{"k": 1, "zz": 1, "aa": 2}', '{"k": 1, "toolongkey": 1}']
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    schema = {"type": "object",
              "properties": {"k": {"type": "integer"}},
              "additionalProperties": False,
              "propertyNames": {"maxLength": 8}}
    py = validate_json_column(df, "props", schema, engine="python")
    cols = validate_json_column(df, "props", schema, engine="columnar")
    pm = {r["props"]: [v["message"] for v in r["violations"]] for r in py.collect()}
    cm = {r["props"]: [v["message"] for v in r["violations"]] for r in cols.collect()}
    assert pm == cm


def test_coerce_mode_fast_path(spark, sf_dir):
    """json_types='coerce' validates the typed struct parse directly:
    agrees with exact mode on well-typed data, and refuses undeclared-key
    value schemas instead of mistyping them."""
    from spark_schema_guard.columnar.compiler import PlanUnsupported

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = validate_json_column(events, "props", PROPS_SCHEMA,
                                 engine="columnar")
    coerce = validate_json_column(events, "props", PROPS_SCHEMA,
                                  engine="columnar", json_types="coerce")
    a = {r["event_id"]: r["verdict"]
         for r in exact.select("event_id", "verdict").collect()}
    b = {r["event_id"]: r["verdict"]
         for r in coerce.select("event_id", "verdict").collect()}
    assert a == b
    # key-level open-key rules still work in coerce mode
    df = spark.createDataFrame([('{"k": 1, "zz": 2}',), ('{"k": 1}',)],
                               "props string")
    closed = {**PROPS_SCHEMA, "additionalProperties": False}
    got = {r["props"]: r["verdict"] for r in validate_json_column(
        df, "props", closed, engine="columnar",
        json_types="coerce").collect()}
    assert got == {'{"k": 1, "zz": 2}': False, '{"k": 1}': True}
    # value schemas over undeclared keys need exact typing
    open_vals = {**PROPS_SCHEMA, "additionalProperties": {"type": "string"}}
    with pytest.raises(PlanUnsupported, match="exact"):
        validate_json_column(df, "props", open_vals, engine="columnar",
                             json_types="coerce")
    with pytest.raises(ValueError, match="json_types"):
        validate_json_column(df, "props", PROPS_SCHEMA, engine="columnar",
                             json_types="bogus")


def test_ref_transparent_struct_inference_and_open_keys(spark):
    """$ref is transparent end-to-end in the columnar engine: a root-level
    $ref infers the referenced object's struct (declared-field typing,
    explicit-null semantics) and keeps the runtime key view
    (additionalProperties) — byte-parity with the python engine."""
    plain = {"type": "object", "required": ["k"],
             "properties": {"k": {"type": "integer"}},
             "additionalProperties": False}
    reffed = {"definitions": {"obj": plain}, "$ref": "#/definitions/obj"}
    from spark_schema_guard.columnar import spark_struct_for
    assert spark_struct_for(reffed).simpleString() == "struct<k:bigint>"

    df = spark.createDataFrame(
        [('{"k": null}',), ('{"k": 1, "zz": 2}',), ('{"k": "s"}',),
         ('{"k": 7}',), ('not json',)], "props string")
    results = {}
    for eng in ("python", "columnar"):
        out = validate_json_column(df, "props", reffed, engine=eng)
        results[eng] = {
            r["props"]: (r["verdict"],
                         [v["message"] for v in (r["violations"] or [])])
            for r in out.collect()}
    assert results["python"] == results["columnar"]
    assert results["columnar"]['{"k": 7}'][0] is True
    assert results["columnar"]['{"k": null}'][0] is False


def test_recursive_ref_columnar_unrolls_to_depth(spark):
    """Recursive $ref compiles COLUMNAR now: the unroll repeats each
    canonical ref up to ref_unroll_depth times along a compile path
    (the reference compiles recursion to recursive functions,
    generator.py:192-217; expression trees must unroll).  In-bound
    documents validate with exact python-engine parity; data nested
    DEEPER than the bound raises at evaluation time by default (never a
    silently wrong verdict) or emits a distinguishable violation with
    on_depth_exceeded='violation'."""
    from spark_schema_guard.columnar import spark_struct_for

    rec = {"definitions": {"node": {
               "type": "object",
               "properties": {"v": {"type": "integer"},
                              "next": {"$ref": "#/definitions/node"}}}},
           "$ref": "#/definitions/node"}
    assert spark_struct_for(rec).simpleString() == "struct<v:bigint,next:string>"
    docs = ['{"v": 1, "next": {"v": 2}}',
            '{"v": "bad"}',
            '{"v": 1, "next": {"v": "bad"}}',
            '{"v": 1, "next": {"next": {"v": 3}}}',
            '{"v": 1, "next": {"next": {"next": {"v": "bad"}}}}']
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    results = {}
    for eng in ("python", "columnar"):
        out = validate_json_column(df, "props", rec, engine=eng)
        results[eng] = {
            r["props"]: (r["verdict"],
                         [v["message"] for v in (r["violations"] or [])])
            for r in out.collect()}
    assert results["python"] == results["columnar"]
    assert results["columnar"]['{"v": 1, "next": {"v": 2}}'][0] is True
    assert results["columnar"]['{"v": 1, "next": {"v": "bad"}}'] == (
        False, ["data.next.v must be integer"])

    # the columnar plan stays pure-JVM (no Arrow/Python eval)
    text = (validate_json_column(df, "props", rec, engine="columnar")
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" not in text and "BatchEvalPython" not in text


def test_recursive_ref_depth_exceeded_is_loud(spark):
    """Data nested past ref_unroll_depth: 'error' mode raises at
    evaluation (the default — depth-1 keeps the plan small and honest),
    'violation' mode emits a distinguishable violation row."""
    rec = {"definitions": {"node": {
               "type": "object",
               "properties": {"v": {"type": "integer"},
                              "next": {"$ref": "#/definitions/node"}}}},
           "$ref": "#/definitions/node"}
    deep = '{"next": {"next": {"v": 1}}}'
    df = spark.createDataFrame([(deep,)], "props string")

    out = validate_json_column(df, "props", rec, engine="columnar",
                               ref_unroll_depth=1)
    with pytest.raises(Exception, match="unroll depth"):
        out.collect()

    out2 = validate_json_column(df, "props", rec, engine="columnar",
                                ref_unroll_depth=1,
                                on_depth_exceeded="violation")
    rows = out2.collect()
    assert rows[0]["verdict"] is False
    assert any("unroll depth" in v["message"]
               for v in rows[0]["violations"])
    # an in-bound sibling row is untouched by the guard
    df2 = spark.createDataFrame([('{"next": {"v": 1}}',)], "props string")
    ok = validate_json_column(df2, "props", rec, engine="columnar",
                              ref_unroll_depth=1).collect()
    assert ok[0]["verdict"] is True


def test_engine_auto_picks_columnar_else_python(spark):
    """engine='auto': JVM columnar plan when expressible, exact python
    engine on PlanUnsupported — never an error, never silent wrongness."""
    df = spark.createDataFrame([('{"k": 1}',), ('{"k": "s"}',)], "props string")
    expressible = {"type": "object", "properties": {"k": {"type": "integer"}}}
    out = validate_json_column(df, "props", expressible, engine="auto")
    text = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in text  # took the columnar path
    assert {r["props"]: r["verdict"] for r in out.collect()} == {
        '{"k": 1}': True, '{"k": "s"}': False}

    # recursion now stays columnar (depth-bounded unroll) — a CALLABLE
    # custom format over undeclared keys is still PlanUnsupported, so
    # auto falls back to the exact engine there
    unsupported = {"type": "object",
                   "additionalProperties": {"format": "always-ok"}}
    out2 = validate_json_column(df, "props", unsupported, engine="auto",
                                formats={"always-ok": lambda v: True})
    text2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in text2  # fell back to the exact engine
    assert all(r["verdict"] for r in out2.collect())


def test_bigint_precision_parity_with_python_engine(spark):
    """Numeric keywords over dynamically-typed JSON values compare like
    the reference: bounds and enum/const are EXACT past 2^53 (BIGINT
    variants compare as longs — the double view rounds onto the wrong
    side), while multipleOf keeps the reference's float-division
    semantics (a huge odd int IS 'a multiple of 2' there)."""
    big = 2 ** 60 + 1
    docs = [f'{{"k": {big}}}', f'{{"k": {2 ** 60}}}',
            '{"k": 9007199254740993}', '{"k": -0.0}', '{"k": 1e308}',
            '{"k": 3.0}', '{"k": 2.5}', '{"k": true}',
            '{"k": -9223372036854775808}', '{"k": 9223372036854775807}']
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    cases = [
        {"type": "object", "properties": {"k": {"type": "integer", "minimum": big}}},
        {"type": "object", "properties": {"k": {"enum": [big, "x"]}}},
        {"type": "object", "properties": {"k": {"const": 3}}},
        {"type": "object", "properties": {"k": {"multipleOf": 2}}},
        # (bool + float-divisor multipleOf crashes IN THE REFERENCE —
        # Decimal(repr(True)) raises InvalidOperation — and the exact
        # engine faithfully mirrors that, so keep true out of this case)
        {"type": "object", "properties": {"k": {"multipleOf": 0.5}},
         "__skip_docs__": ['{"k": true}']},
        {"type": "object", "properties": {"k": {"maximum": 2.5}}},
        {"type": "object", "properties": {"k": {"exclusiveMinimum": float(2 ** 60)}}},
        {"type": "object", "properties": {"k": {"maximum": -2 ** 63}}},
    ]
    for sch in cases:
        skip = sch.pop("__skip_docs__", [])
        case_df = spark.createDataFrame(
            [(d,) for d in docs if d not in skip], "props string")
        res = {}
        for eng in ("python", "columnar"):
            out = validate_json_column(case_df, "props", sch, engine=eng)
            res[eng] = {r["props"]: r["verdict"] for r in out.collect()}
        assert res["python"] == res["columnar"], (sch, res)


def test_combinators_on_declared_json_fields(spark):
    """Combinator schemas (anyOf/oneOf/allOf/not/if-then-else) on
    DECLARED JSON fields compile over the variant view when every
    branch is scalar — exact dynamic-type semantics with byte-parity
    messages (incl. oneOf's dynamic '(N matches found)'), instead of
    the coercing struct fallback that mis-typed heterogeneous values."""
    docs = ['{"k": 5}', '{"k": "abc"}', '{"k": true}', '{"k": 5.5}',
            '{"k": null}', '{}', '{"k": 15}', '{"k": 9}']
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    cases = [
        {"type": "object", "properties": {"k": {"anyOf": [
            {"type": "integer"}, {"type": "boolean"}]}}},
        {"type": "object", "properties": {"k": {"oneOf": [
            {"type": "number", "multipleOf": 3},
            {"type": "number", "multipleOf": 5}]}}},
        {"type": "object", "properties": {"k": {"not": {"type": "string"}}}},
        {"type": "object", "properties": {"k": {
            "if": {"type": "integer"}, "then": {"minimum": 3},
            "else": {"type": "string"}}}},
        {"type": "object", "properties": {"k": {"allOf": [
            {"type": "number"}, {"minimum": 5}]}}},
        {"type": "object", "properties": {"k": {"not": True}}},
        {"type": "object", "properties": {"k": {"not": {}}}},
    ]
    for sch in cases:
        res = {}
        for eng in ("python", "columnar"):
            out = validate_json_column(df, "props", sch, engine=eng)
            res[eng] = {
                r["props"]: (r["verdict"],
                             [(x["rule"], x["message"])
                              for x in r["violations"]])
                for r in out.collect()}
        assert res["python"] == res["columnar"], (sch, res)


_M = {"type": "string"}


@pytest.mark.parametrize("element,docs,verdicts", [
    ({"if": {"minItems": 2}, "then": {"items": {"type": "string"}}},
     ['{"t": [[1]]}', '{"t": [[1, 2]]}', '{"t": [["a", "b"]]}',
      '{"t": [[1], [2, 3]]}'], [True, False, True, False]),
    ({"dependencies": {"a": {"properties": {"b": {"items": _M}}}}},
     ['{"t": [{"b": [1]}]}', '{"t": [{"a": 0, "b": [1]}]}',
      '{"t": [{"b": [1]}, {"a": 0, "b": ["x"]}]}'], [True, False, True]),
], ids=["if-then", "dependencies"])
def test_conditional_nested_element_matches_rowcheck(spark, element, docs,
                                                     verdicts):
    """A nested value's first failing rule under a condition (if/then, a
    schema dependency) inside an array element fires only where the
    condition holds: the element's violation struct is gated by it
    too, not only by the value's presence."""
    schema = {"properties": {"t": {"items": element}}}
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    res = {}
    for engine in ("python", "columnar"):
        out = validate_json_column(df, "doc", schema, engine=engine)
        res[engine] = {r["doc"]: (r["verdict"], [
            (v["rule"], v["name"], v["message"]) for v in r["violations"]][:1])
            for r in out.collect()}
    assert res["python"] == res["columnar"]
    assert [res["python"][d][0] for d in docs] == verdicts


# Object-site cases checked against rowcheck: (schema, docs).
_NESTED_KEYS = {"properties": {"x": {}}, "required": ["x"],
                "propertyNames": {"maxLength": 3}}
_NESTED_DOCS = ['{"o": null}', '{"o": 5}', '{"o": "abcd"}', '{"o": {}}',
                '{"o": {"x": 1, "long": 2}}']
KEY_SET_CASES = {
    # a property declared outside the top-level properties
    "allOf": ({"type": "object", "allOf": [{"properties": {"m": _M}}]},
              ['{"m": 7}', '{"m": "x"}', "{}"]),
    "anyOf": ({"type": "object", "anyOf": [{"properties": {"m": _M}}]},
              ['{"m": 7}', '{"m": "x"}']),
    "if-then": ({"type": "object", "if": {"required": ["n"]},
                 "then": {"properties": {"m": _M}}},
                ['{"n": 1, "m": 7}', '{"m": 7}', '{"n": 1, "m": "x"}']),
    "dependencies": ({"type": "object",
                      "dependencies": {"n": {"properties": {"m": _M}}}},
                     ['{"n": 1, "m": 7}', '{"m": 7}']),
    # patternProperties over a declared field sees its JSON value
    "pattern-maxLength": ({"type": "object", "properties": {"n": _M},
                           "patternProperties": {"^n$": {"maxLength": 1}}},
                          ['{"n": true}', '{"n": "ab"}', '{"n": "a"}']),
    "pattern-type": ({"type": "object", "properties": {"n": _M},
                      "patternProperties": {"^n$": _M}},
                     ['{"n": 5}', '{"n": "a"}']),
    # a nested required lists missing keys sorted by raw name
    "nested-required": ({"type": "object", "properties": {"o": {
        "type": "object", "required": ["a", "a b"]}}},
        ['{"o": {}}', '{"o": {"a b": 1}}', '{"o": {"a": 1}}']),
    # a nested object's key-set keywords pass a JSON null or a
    # non-object: neither is an empty object
    "nested-null": ({"type": "object", "properties": {"o": _NESTED_KEYS}},
                    _NESTED_DOCS),
    "nested-null-typed": ({"type": "object", "properties": {"o": {
        "type": "object", **_NESTED_KEYS}}}, _NESTED_DOCS),
}


@pytest.mark.parametrize("json_types", ["exact", "coerce"])
@pytest.mark.parametrize("case", sorted(KEY_SET_CASES))
def test_object_sites_match_rowcheck(spark, case, json_types):
    """Object sites give rowcheck's full violations array: every
    property key compiles wherever it is declared, patternProperties
    validates a declared field's JSON value, and a nested required lists
    its missing keys in rowcheck's order.  Coerce mode either agrees or
    raises PlanUnsupported — it never passes silently."""
    from spark_schema_guard.columnar.compiler import (PlanUnsupported,
                                                      compile_plan_for_column)
    from spark_schema_guard.rowcheck import compile_row_validator

    schema, docs = KEY_SET_CASES[case]
    try:
        plan = compile_plan_for_column(schema, "doc", json_types=json_types)
    except PlanUnsupported as unsupported:
        # coerce mode has no struct field for a key declared outside the
        # top-level properties, and says which key; nor does it validate
        # pattern value schemas
        assert json_types == "coerce"
        assert ("'data.m'" in str(unsupported)
                or "patternProperties" in str(unsupported))
        return
    validator = compile_row_validator(schema, fast_fail=False)
    df = spark.createDataFrame(list(enumerate(docs)), "i int, doc string")
    got = [[v.asDict() for v in r["violations"]]
           for r in plan.apply(df).orderBy("i").collect()]
    want = [[e.as_row() for e in validator.collect(json.loads(d))]
            for d in docs]
    assert got == want


@pytest.mark.parametrize("keyword", [
    {"required": True}, {"required": ["a", "a"]},
    {"minProperties": "1"}, {"maxProperties": None},
    {"additionalProperties": False, "required": ["a"]},
])
def test_key_set_definition_checked_at_non_object_site(keyword):
    """A key-set keyword's definition is checked at every site, also at
    a field that is never an object (the draft-03 ``required: true``
    form on a string column): rowcheck rejects the schema, and so does
    the columnar plan."""
    from pyspark.sql import types as T

    from spark_schema_guard.rowcheck import compile_row_validator

    schema = {"properties": {"name": {"type": "string", **keyword}}}
    with pytest.raises(ssg.SchemaDefinitionError) as want:
        compile_row_validator(schema)
    with pytest.raises(ssg.SchemaDefinitionError) as got:
        ssg.compile_plan(
            schema, T.StructType([T.StructField("name", T.StringType())]))
    assert str(got.value) == str(want.value)


@pytest.mark.parametrize("keyword", [
    {"minimum": "1"}, {"exclusiveMaximum": None}, {"multipleOf": "2"},
    {"maxLength": "x"}, {"enum": 5}, {"type": "strin"},
])
def test_scalar_definition_checked_at_vacuous_site(keyword):
    """A scalar keyword's definition is checked also where it can never
    fail (a bound on a boolean column folds away): rowcheck rejects the
    schema, and so does the columnar plan, with the same message."""
    from pyspark.sql import types as T

    from spark_schema_guard.rowcheck import compile_row_validator

    schema = {"$schema": "http://json-schema.org/draft-07/schema#",
              "properties": {"flag": keyword}}
    with pytest.raises(ssg.SchemaDefinitionError) as want:
        compile_row_validator(schema)
    with pytest.raises(ssg.SchemaDefinitionError) as got:
        ssg.compile_plan(
            schema, T.StructType([T.StructField("flag", T.BinaryType())]))
    assert str(got.value) == str(want.value)


@pytest.mark.parametrize("json_types", ["exact", "coerce"])
@pytest.mark.parametrize("keyword", ["enum", "const"])
def test_json_object_member_is_plan_unsupported(json_types, keyword):
    """The parsed struct of a JSON-backed object hides its true key set:
    an object enum/const member there refuses the plan at compile time,
    naming the keyword, instead of failing at apply."""
    from spark_schema_guard.columnar.compiler import (
        PlanUnsupported, compile_plan_for_column)

    member = {"a": 1}
    schema = {keyword: [member] if keyword == "enum" else member}
    with pytest.raises(PlanUnsupported, match=keyword):
        compile_plan_for_column(schema, "doc", json_types=json_types)


@pytest.mark.parametrize("prop", [
    {"type": ["integer", "null"]},
    {"type": ["integer", "null"], "enum": [1, None]},
])
def test_coerce_null_is_the_json_null(spark, prop):
    """In coerce mode the typed parse NULLs a value it cannot coerce
    ("abc" in an integer field); the null a schema allows is the JSON
    null of the text, so such a value still fails, as in rowcheck."""
    from spark_schema_guard.columnar.compiler import compile_plan_for_column
    from spark_schema_guard.rowcheck import compile_row_validator

    schema = {"type": "object", "properties": {"k": prop}}
    docs = ['{"k": null}', '{"k": "abc"}', '{"k": 1}', '{"k": 2}', '{}']
    plan = compile_plan_for_column(schema, "doc", json_types="coerce")
    df = spark.createDataFrame(list(enumerate(docs)), "i int, doc string")
    got = [[v.asDict() for v in r["violations"]]
           for r in plan.apply(df).orderBy("i").collect()]
    validator = compile_row_validator(schema, fast_fail=False)
    want = [[e.as_row() for e in validator.collect(json.loads(d))]
            for d in docs]
    assert got == want


@pytest.mark.parametrize("json_types", ["exact", "coerce"])
@pytest.mark.parametrize("prop,options", [
    ({"type": "string", "pattern": "^[a-z]+$"}, {"regex_engine": "python"}),
    ({"type": "string", "format": "lower"}, {"formats": {"lower": str.islower}}),
], ids=["regex-engine", "callable-format"])
def test_json_property_python_predicate_matches_rowcheck(spark, prop, options,
                                                          json_types):
    """A declared JSON property whose keyword needs a Python predicate
    (the python regex engine, a callable format) has no variant form: it
    validates the parsed field, the predicate a helper column, and
    equals rowcheck in both modes."""
    from spark_schema_guard.columnar.compiler import compile_plan_for_column
    from spark_schema_guard.rowcheck import compile_row_validator

    schema = {"type": "object", "properties": {"k": prop}}
    docs = ['{"k": "abc"}', '{"k": "aB1"}', '{"k": "\\u00e9t\\u00e9"}',
            '{"k": "\\u0661"}', '{"k": null}', '{}']
    plan = compile_plan_for_column(schema, "doc", json_types=json_types,
                                   **options)
    assert any(not isinstance(sql, str) for _, sql in plan._aux)
    df = spark.createDataFrame(list(enumerate(docs)), "i int, doc string")
    got = [[v.asDict() for v in r["violations"]]
           for r in plan.apply(df).orderBy("i").collect()]
    validator = compile_row_validator(schema, fast_fail=False,
                                      formats=options.get("formats"))
    want = [[e.as_row() for e in validator.collect(json.loads(d))]
            for d in docs]
    assert got == want


# -- a JSON-column plan is one self-contained artifact ----------------------

APPLY_DOCS = [
    '{"k": 5}', '{"k": -1}', '{"k": 5, "k": 90}', '{"x": 1}', '{"k": "5"}',
    "not json", "[1, 2]", '"text"', None,
]
NOT_AN_OBJECT = [{"name": "data", "rule": None,
                  "message": "data must be valid JSON"}]


@pytest.mark.parametrize("json_types", ["exact", "coerce"])
def test_json_plan_applies_by_itself(spark, json_types):
    """A JSON-column plan parses its own column: applied directly, and
    after a save/reload through its spec, it gives the rows of
    validate_json_column's columnar engine — non-object text, NULL and
    duplicate keys (last wins, like json.loads) included."""
    from spark_schema_guard.columnar.compiler import compile_plan_for_column
    from spark_schema_guard.columnar.plan import load_plan

    df = spark.createDataFrame(list(enumerate(APPLY_DOCS)),
                               "i int, doc string")
    schema = {**PROPS_SCHEMA, "additionalProperties": False}
    plan = compile_plan_for_column(schema, "doc", json_types=json_types)
    reloaded = load_plan(json.loads(json.dumps(plan.to_spec())))

    def rows(out):
        return [(r["verdict"], [v.asDict() for v in r["violations"]])
                for r in out.orderBy("i").collect()]

    want = rows(validate_json_column(df, "doc", schema, engine="columnar",
                                     json_types=json_types))
    assert rows(plan.apply(df)) == want
    assert rows(reloaded.apply(df)) == want
    assert want[0] == (True, [])
    assert want[5:] == [(False, NOT_AN_OBJECT)] * 3 + [(True, [])]
    if json_types == "exact":
        assert [v["rule"] for v in want[2][1]] == ["maximum"]


def test_audited_run_over_json_plan(spark, tmp_path):
    """AuditedRun runs a JSON-column plan; its per-unit rows, valid rows
    and violation counts equal rowcheck's over the same files."""
    from spark_schema_guard.audit import AuditedRun
    from spark_schema_guard.columnar.compiler import compile_plan_for_column

    input_path = str(tmp_path / "docs")
    files = [['{"k": 5}', '{"k": -1}', None, '{"k": 90, "k": 1}'],
             ['{"x": 1}', '{"k": 7}', '{"k": 81}']]
    for i, docs in enumerate(files):
        spark.createDataFrame([(d,) for d in docs], "doc string") \
            .coalesce(1).write.mode("append" if i else "error") \
            .parquet(input_path)
    plan = compile_plan_for_column(PROPS_SCHEMA, "doc")
    audit_path = str(tmp_path / "audit")
    AuditedRun(spark, plan, input_path, audit_path, run_id="r1").run()
    got = {r["unit"]: (r["rows"], r["valid_rows"], r["violation_count"])
           for r in spark.read.parquet(audit_path).collect()}

    validator = ssg.compile(PROPS_SCHEMA, fast_fail=False)
    want = {}
    for r in spark.read.parquet(input_path).select(
            F.col("_metadata.file_path").alias("unit"), "doc").collect():
        n = 0 if r["doc"] is None else len(
            validator.collect(json.loads(r["doc"])))
        rows, valid, violations = want.get(r["unit"], (0, 0, 0))
        want[r["unit"]] = (rows + 1, valid + (n == 0), violations + n)
    assert got == want
    assert sorted(got.values()) == [(3, 1, 2), (4, 3, 1)]


def test_column_plan_spec_roundtrip(spark):
    from spark_schema_guard.columnar.compiler import compile_plan_for_column
    from spark_schema_guard.columnar.plan import load_plan

    schema = {"type": "object", "required": ["k"],
              "properties": {"k": {"type": "integer", "minimum": 0}}}
    plan = compile_plan_for_column(schema, "props")
    reloaded = load_plan(plan.to_spec())
    df = spark.createDataFrame([('{"k": 5}',), ('{"k": -1}',)],
                               "props string")
    a = [(r["verdict"], [v["rule"] for v in r["violations"]])
         for r in plan.apply(df).collect()]
    b = [(r["verdict"], [v["rule"] for v in r["violations"]])
         for r in reloaded.apply(df).collect()]
    assert a == b
    assert a[0][0] and not a[1][0]


RECURSIVE_SCHEMA = {
    "type": "object",
    "definitions": {"arr": {"type": "array", "items": {"$ref": "#"}}},
    "properties": {
        "items": {"anyOf": [{"$ref": "#"}, {"$ref": "#/definitions/arr"}]},
        "name": {"type": "string"},
    },
    "additionalProperties": {"$ref": "#"},
}


def test_packed_sites_spend_ref_unroll_budget():
    """ref_unroll_budget bounds the packed path too: every packed
    recursion site counts one expansion, like an inline unroll."""
    from spark_schema_guard.columnar.compiler import (PlanTooLarge,
                                                      compile_plan_for_column)

    schema = {"type": "object",
              "properties": {f"p{i}": {"$ref": "#"} for i in range(30)}}
    assert compile_plan_for_column(schema, "doc",
                                   ref_unroll_budget=4000).rules
    with pytest.raises(PlanTooLarge, match="ref_unroll_budget"):
        compile_plan_for_column(schema, "doc", ref_unroll_budget=20)


def test_packed_recursion_text_linear(monkeypatch):
    """Generated text must stay near-linear in unroll depth — the whole
    point of packing (inline text multiplies per site per level)."""
    from spark_schema_guard.columnar.compiler import (_PlanCompiler,
                                                      compile_plan_for_column)

    spent = []
    init = _PlanCompiler.__init__

    def recorded(self, *a, **k):
        init(self, *a, **k)
        spent.append(self)

    monkeypatch.setattr(_PlanCompiler, "__init__", recorded)
    sizes = {}
    for depth in (3, 6):
        compile_plan_for_column(RECURSIVE_SCHEMA, "doc",
                                ref_unroll_depth=depth,
                                plan_text_budget=10**9)
        sizes[depth] = spent[-1]._vsql_chars
    # doubling the depth must cost far less than the inline form's
    # per-level multiplier (>= 3x/level => >= 27x for +3 levels)
    assert sizes[6] < sizes[3] * 6, sizes
