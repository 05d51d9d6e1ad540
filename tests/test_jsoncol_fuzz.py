"""Randomized open-key JSON-column differential: seeded random open-key
schemas (additionalProperties / patternProperties / propertyNames /
min-maxProperties / required / dependencies, with scalar value schemas)
over seeded random JSON docs; the columnar engine must agree with the
exact python engine on every verdict.

Violation lists: the columnar engine reports ONE violation per open-key
rule (the first failing entry, like its map-column design), while the
python engine reports one per failing key — so the check is containment:
columnar rules/messages ⊆ python rules/messages, and emptiness agrees.

A second generator declares properties outside the top-level
``properties`` (under a root allOf / anyOf / if-then / schema
dependency) and draws patterns that overlap declared keys.
"""

import json
import random

import pytest

from spark_schema_guard.columnar.compiler import PlanUnsupported
from spark_schema_guard.jsoncol import validate_json_column

KEY_POOL = ["k", "n", "s", "x_a", "x_b", "zz", "verylongkey", "a", "b"]


def _random_value(rng):
    return rng.choice([
        rng.randint(-5, 120),
        round(rng.uniform(-2.0, 3.0), 3),
        rng.choice(["en", "abc", "x", "", "src9", "12"]),
        rng.random() < 0.5,
        None,
        [1, 2],
        {"in": 1},
        # container values that exercise the variant-nested compiler
        rng.choice([[], ["ab", "x"], [1, "x", True], [0, -3, 2 ** 60],
                    [None], [1.5, 3.0], ["en", "en", "abc", "x", "y"]]),
        rng.choice([{}, {"in": "s"}, {"in": 2, "other": None},
                    {"a": 1, "b": 2, "c": 3}, {"in": [1]},
                    {"in": {"deep": 1}}]),
        # adversarial numerics/strings: past-2^53 ints (rounded double
        # views once moved these across bounds/enum members), integral
        # doubles, long-range edges, unicode incl. astral + quotes
        rng.choice([2 ** 60 + 1, 2 ** 60, 9007199254740993,
                    -2 ** 63, 2 ** 63 - 1]),
        rng.choice([1e308, -0.0, 3.0, 1e15 + 0.5]),
        rng.choice(["é", "日本語", "emoji \U0001F600", 'qu"ote',
                    "back\\slash", "tab\tnewline\n"]),
    ])


def _random_doc(rng):
    keys = rng.sample(KEY_POOL, rng.randint(0, 5))
    return json.dumps({k: _random_value(rng) for k in keys})


def _scalar_schema(rng):
    return rng.choice([
        {"type": rng.choice(["integer", "number", "string", "boolean",
                             "null"])},
        {"type": "integer", "minimum": rng.randint(-5, 60)},
        {"type": "number", "maximum": rng.randint(0, 80)},
        {"type": "string", "minLength": rng.randint(0, 4)},
        {"type": "string", "pattern": rng.choice(["^a", "[0-9]$", "^en$"])},
        {"enum": rng.sample([1, 2, "en", "abc", True, None], 3)},
        {"enum": rng.sample([2 ** 60 + 1, 2 ** 60, 3.0, "é", -0.0], 3)},
        {"multipleOf": rng.choice([2, 3])},
        {"format": rng.choice(["ipv4", "date-time", "email", "hostname",
                               "uri", "unknown-format"])},
        {"type": "integer",
         "minimum": rng.choice([0, 2 ** 53 + 1, 2 ** 60])},
        {"const": rng.choice([2 ** 60 + 1, 3.0, "é", True, None])},
        # container members: type-strict deep equality unrolled statically
        # by _variant_member_match (bool identity, 1 == 1.0, exact key set)
        {"enum": rng.sample([[1, 2], {"in": 1}, ["ab", "x"], [], {},
                             {"in": 2, "other": None}, [1.0, 2],
                             {"in": True}, [None], 1, "en"], 3)},
        {"const": rng.choice([[1, 2], {"in": 1}, [], {}, [1, "x", True],
                              {"in": [1]}, {"in": {"deep": 1}},
                              [2 ** 60 + 1, 3.0]])},
        True,
        False,
    ])


def _container_schema(rng):
    """Array/object value schemas exercising the variant-nested container
    compiler (items/contains/min-maxItems, properties/required/
    additionalProperties over map<string,variant>)."""
    r = rng.random()
    if r < 0.25:
        return {"type": "array", "items": _scalar_schema(rng),
                "minItems": rng.randint(0, 2)}
    if r < 0.4:
        return {"type": "array",
                "items": [_scalar_schema(rng), _scalar_schema(rng)],
                "additionalItems": rng.choice([True, False,
                                               _scalar_schema(rng)])}
    if r < 0.55:
        return {"contains": _scalar_schema(rng),
                "maxItems": rng.randint(1, 4)}
    if r < 0.8:
        return {"type": "object",
                "properties": {"in": _scalar_schema(rng)},
                "required": rng.choice([[], ["in"]]),
                "minProperties": rng.randint(0, 1)}
    return {"type": "object",
            "additionalProperties": _scalar_schema(rng),
            "maxProperties": rng.randint(1, 3)}


def _value_schema(rng):
    return (_container_schema(rng) if rng.random() < 0.35
            else _scalar_schema(rng))


def _random_open_schema(rng):
    schema = {"type": "object",
              "properties": {"k": {"type": "integer", "minimum": 0},
                             "s": {"type": "string"}}}
    if rng.random() < 0.4:
        schema["properties"]["n"] = _container_schema(rng)
    if rng.random() < 0.5:
        schema["required"] = rng.sample(["k", "s"], rng.randint(1, 2))
    r = rng.random()
    if r < 0.4:
        schema["additionalProperties"] = False
    elif r < 0.7:
        schema["additionalProperties"] = _value_schema(rng)
    if rng.random() < 0.5:
        schema["patternProperties"] = {"^x_": _value_schema(rng)}
    if rng.random() < 0.4:
        schema["propertyNames"] = {"maxLength": rng.randint(1, 8)}
    if rng.random() < 0.3:
        schema["minProperties"] = rng.randint(0, 2)
    if rng.random() < 0.3:
        schema["maxProperties"] = rng.randint(1, 4)
    if rng.random() < 0.3:
        schema["dependencies"] = {"a": ["b"]}
    return schema


def _random_wrapped_schema(rng):
    """Properties declared outside the top-level ``properties`` (under a
    root allOf / anyOf / if-then / schema dependency), and patterns that
    overlap declared keys."""
    inner = {"properties": {"k": _scalar_schema(rng), "a": _value_schema(rng)}}
    if rng.random() < 0.4:
        inner["required"] = rng.sample(["k", "a"], 1)
    schema = {"type": "object", "properties": {"s": {"type": "string"}}}
    how = rng.choice(["allOf", "anyOf", "if", "dependencies"])
    if how == "allOf":
        schema["allOf"] = [inner, {"minProperties": rng.randint(0, 2)}]
    elif how == "anyOf":
        schema["anyOf"] = [inner, {"required": ["zz"]}]
    elif how == "if":
        schema["if"] = {"required": ["n"]}
        schema["then"] = inner
    else:
        schema["dependencies"] = {"n": inner}
    if rng.random() < 0.7:
        schema["patternProperties"] = {
            rng.choice(["^s$", "^[ks]", "a|x_"]): _value_schema(rng)}
    return schema


def _check_against_python(spark, schema, docs):
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    py = validate_json_column(df, "props", schema, engine="python")
    try:
        cols = validate_json_column(df, "props", schema, engine="columnar")
    except PlanUnsupported:
        pytest.skip("schema outside the columnar scalar subset")
    py_rows = {r["props"]: r for r in py.collect()}
    col_rows = {r["props"]: r for r in cols.collect()}
    for doc in docs:
        p, c = py_rows[doc], col_rows[doc]
        assert p["verdict"] == c["verdict"], (
            f"verdict mismatch for {doc!r} under {schema!r}: "
            f"py={p['violations']} col={c['violations']}")
        if doc in ("{broken", None):
            continue  # malformed sentinel text differs by design
        p_rules = {v["rule"] for v in p["violations"]}
        c_rules = {v["rule"] for v in c["violations"]}
        assert c_rules <= p_rules, (
            f"columnar invented rules {c_rules - p_rules} for {doc!r} "
            f"under {schema!r}")
        p_msgs = {v["message"] for v in p["violations"]}
        for v in c["violations"]:
            assert v["message"] in p_msgs, (
                f"columnar message {v['message']!r} not among python "
                f"messages {sorted(p_msgs)} for {doc!r} under {schema!r}")


@pytest.mark.parametrize("seed", range(40))
def test_open_key_fuzz_columnar_matches_python(spark, seed):
    rng = random.Random(9000 + seed)
    schema = _random_open_schema(rng)
    docs = [_random_doc(rng) for _ in range(12)] + ["{broken", None, "{}"]
    _check_against_python(spark, schema, docs)


@pytest.mark.parametrize("seed", range(24))
def test_wrapped_properties_fuzz_columnar_matches_python(spark, seed):
    """Every property key validates wherever it is declared, and
    patternProperties over declared keys sees the JSON value."""
    rng = random.Random(9500 + seed)
    schema = _random_wrapped_schema(rng)
    docs = [_random_doc(rng) for _ in range(12)] + ["{}"]
    _check_against_python(spark, schema, docs)
