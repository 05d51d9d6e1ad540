"""Systematic keyword x draft conformance battery.

The official JSON-Schema-Test-Suite files are not vendored in this
container, so this module re-creates its coverage style systematically:
for every (draft, keyword-schema) in the battery, a UNIVERSAL instance
zoo (nulls, bools, ints incl. past-2^53, floats incl. integral, strings,
arrays incl. heterogeneous, objects, nesting) is validated by

* the reference validator (driver-side) — the expected outcome,
* the python engine (Arrow UDF) — expects byte-equal first message,
* the columnar engine (JSON-column path, exact variant typing) —
  expects equal verdict and byte-equal FIRST message (the columnar
  contract: violations[0] equals the reference's fast-fail error).

This mirrors the reference's own suite harness discipline
(tests/json_schema/utils.py:73-128: raise/no-raise per case) while
using the reference itself as the oracle, so the battery can never
drift from reference behavior.  Instances ride a JSON column in BULK —
one DataFrame per schema — so the ~2.5k case evaluations cost ~100
Spark jobs, not ~2.5k.

The battery runs once per module (the reference_battery fixture);
test_keyword_battery asserts each draft's failures and
test_battery_counts_summary asserts (and prints) the per-draft totals,
so neither depends on another test having run first.
"""

import ast
import json
import math
import re

import pytest

from spark_schema_guard.columnar.compiler import PlanUnsupported
from spark_schema_guard.jsoncol import validate_json_column

D4 = "http://json-schema.org/draft-04/schema"
D6 = "http://json-schema.org/draft-06/schema"
D7 = "http://json-schema.org/draft-07/schema"

# the universal instance zoo — every schema sees every instance
ZOO = [
    None, True, False,
    0, 1, -1, 3, 10, 100, -17, 2 ** 60 + 1, -(2 ** 60),
    0.0, 3.0, 3.5, -2.5, 1.5, 1e308,
    "", "a", "abc", "3", "foo bar", "UPPER", "café",
    "2018-02-27T11:12:13Z", "not-an-email", "a@example.com",
    [], [1, 2, 3], ["a", "b", "a"], [1, "a", True], [[1], [2]],
    [1, 1], [1.0, 1], ["x"],
    {}, {"a": 1}, {"a": "x", "b": 2}, {"v": 1},
    {"a": {"b": [1, 2]}}, {"credit_card": 1},
    {"a": None}, {"name": "ok", "extra": 5},
]

# keyword schemas; drafts = which dialects to run them under
SCHEMAS = [
    # type
    (({"type": "integer"}), (D4, D6, D7)),
    (({"type": "number"}), (D4,)),
    (({"type": "string"}), (D4,)),
    (({"type": "boolean"}), (D4,)),
    (({"type": "array"}), (D4,)),
    (({"type": "object"}), (D4,)),
    (({"type": "null"}), (D4, D7)),
    (({"type": ["string", "null"]}), (D4, D6)),
    (({"type": ["integer", "boolean"]}), (D4,)),
    # enum / const
    (({"enum": [1, "two", [3], {"four": 4}, None, True]}), (D4, D6, D7)),
    (({"enum": ["a", "b"]}), (D4,)),
    (({"const": 3}), (D6, D7)),
    (({"const": {"a": [1, 2]}}), (D6, D7)),
    # numeric bounds
    (({"minimum": 3}), (D4, D6, D7)),
    (({"maximum": 3}), (D4, D6, D7)),
    (({"minimum": 3, "exclusiveMinimum": True}), (D4,)),
    (({"maximum": 3, "exclusiveMaximum": True}), (D4,)),
    (({"exclusiveMinimum": 3}), (D6, D7)),
    (({"exclusiveMaximum": 3}), (D6, D7)),
    (({"minimum": 2.5}), (D4, D7)),
    (({"minimum": 2 ** 60}), (D4, D7)),
    (({"multipleOf": 2}), (D4, D6, D7)),
    (({"multipleOf": 0.5}), (D4, D7)),
    # strings
    (({"minLength": 2}), (D4, D6, D7)),
    (({"maxLength": 2}), (D4, D6, D7)),
    (({"pattern": "^a"}), (D4, D6, D7)),
    (({"pattern": "b$"}), (D4,)),
    (({"format": "email"}), (D4, D7)),
    (({"format": "date-time"}), (D4, D7)),
    (({"format": "ipv4"}), (D4, D7)),
    (({"format": "regex"}), (D7,)),
    (({"format": "unknown-format"}), (D4,)),
    # arrays
    (({"minItems": 2}), (D4, D6, D7)),
    (({"maxItems": 2}), (D4, D6, D7)),
    (({"uniqueItems": True}), (D4, D6, D7)),
    (({"items": {"type": "integer"}}), (D4, D6, D7)),
    (({"items": [{"type": "integer"}, {"type": "string"}]}), (D4, D7)),
    (({"items": [{"type": "integer"}], "additionalItems": False}),
     (D4, D7)),
    (({"items": [{"type": "integer"}],
       "additionalItems": {"type": "string"}}), (D4,)),
    (({"items": False}), (D6, D7)),
    (({"contains": {"type": "string"}}), (D6, D7)),
    (({"contains": {"minimum": 5}}), (D6,)),
    # objects
    (({"minProperties": 1}), (D4, D6, D7)),
    (({"maxProperties": 1}), (D4, D6, D7)),
    (({"required": ["a"]}), (D4, D6, D7)),
    (({"required": ["a", "b"]}), (D4,)),
    (({"properties": {"a": {"type": "integer"}}}), (D4, D6, D7)),
    (({"properties": {"a": {"type": "string"}},
       "additionalProperties": False}), (D4, D7)),
    (({"additionalProperties": {"type": "integer"}}), (D4, D7)),
    (({"patternProperties": {"^a": {"type": "integer"}}}), (D4, D7)),
    # boolean subschemas are draft-06+ (the reference rejects them in
    # draft-04 with "definition must be an object")
    (({"patternProperties": {"^b": False}}), (D6,)),
    (({"propertyNames": {"maxLength": 1}}), (D6, D7)),
    (({"propertyNames": {"pattern": "^[av]"}}), (D6,)),
    (({"dependencies": {"credit_card": ["a"]}}), (D4, D7)),
    (({"dependencies": {"a": {"required": ["b"]}}}), (D4, D7)),
    # combinators / boolean schemas
    (({"allOf": [{"minimum": 1}, {"maximum": 5}]}), (D4, D6, D7)),
    (({"anyOf": [{"type": "string"}, {"minimum": 5}]}), (D4, D6, D7)),
    (({"oneOf": [{"type": "integer"}, {"minimum": 2}]}), (D4, D6, D7)),
    (({"not": {"type": "integer"}}), (D4, D6, D7)),
    (({"not": {}}), (D4,)),
    (({"if": {"type": "integer"}, "then": {"minimum": 2},
       "else": {"maxLength": 3}}), (D7,)),
    # $ref
    (({"definitions": {"pos": {"minimum": 0}},
       "$ref": "#/definitions/pos"}), (D4, D7)),
    (({"definitions": {
        "node": {"properties": {"v": {"type": "integer"},
                                "next": {"$ref": "#/definitions/node"}}}},
       "$ref": "#/definitions/node"}), (D4, D7)),
    # content (draft-07)
    (({"contentEncoding": "base64"}), (D7,)),
    (({"contentMediaType": "application/json"}), (D7,)),
]

_DRAFT_CASES = {}
for _schema, _drafts in SCHEMAS:
    for _d in _drafts:
        _DRAFT_CASES.setdefault(_d, []).append(_schema)

_SET_MSG = re.compile(r"^(.* must not contain )(\{.*\})( properties)$")


def _canon_message(message):
    """The reference renders the offending-keys SET with raw str() —
    iteration order is hash-seed dependent, so two reference processes
    can disagree with each other (draft04.py:631).  The engine sorts
    (engine-portable determinism); compare set literals as sets."""
    if message is None:
        return None
    m = _SET_MSG.match(message)
    if not m:
        return message
    try:
        keys = ast.literal_eval(m.group(2))
    except (ValueError, SyntaxError):
        return message
    shown = "{" + ", ".join(repr(k) for k in sorted(keys, key=repr)) + "}"
    return m.group(1) + shown + m.group(3)


def _expected(reference, compiled, value):
    try:
        compiled(json.loads(json.dumps(value)))
        return True, None
    except reference.JsonSchemaValueException as e:
        return False, e.message
    except Exception:
        # the reference itself crashes on some corners (e.g. bool under
        # a float-divisor multipleOf: Decimal(repr(True)) raises) — no
        # defined outcome to match, skip the instance
        return None, None


def _battery_wrapper(draft, schema):
    wrapper = {"$schema": draft + "#",
               "type": "object",
               "properties": {"v": {k: v for k, v in schema.items()
                                    if k != "definitions"}}}
    if "definitions" in schema:
        wrapper["definitions"] = schema["definitions"]
    return wrapper


def _run_reference_battery(spark, reference, draft):
    """Every battery schema under this draft, against the whole zoo, on
    both engines, checked against the reference's verdict and first
    message.  Returns the draft's check count, failures, columnar-
    unsupported instance evaluations and reference-rejected schemas."""
    result = {"checked": 0, "failures": [], "columnar_unsupported": 0,
              "schema_rejected": 0}
    failures = result["failures"]
    for schema in _DRAFT_CASES[draft]:
        wrapper = _battery_wrapper(draft, schema)
        try:
            compiled = reference.compile(wrapper)
        except Exception:
            result["schema_rejected"] += 1
            continue
        docs, expect = [], []
        for value in ZOO:
            if isinstance(value, float) and (math.isnan(value)
                                             or math.isinf(value)):
                continue
            want = _expected(reference, compiled, {"v": value})
            if want[0] is None:
                continue
            docs.append(json.dumps({"v": value}))
            expect.append(want)
        df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                                   "i INT, doc STRING")
        outs = {}
        outs["python"] = validate_json_column(df, "doc", wrapper,
                                              engine="python")
        try:
            outs["columnar"] = validate_json_column(df, "doc", wrapper,
                                                    engine="columnar")
        except PlanUnsupported:
            result["columnar_unsupported"] += len(docs)
        for engine, out in outs.items():
            rows = {r["i"]: r for r in out.collect()}
            for i, (valid, message) in enumerate(expect):
                r = rows[i]
                if r["verdict"] != valid:
                    failures.append(
                        (engine, schema, docs[i], "verdict",
                         r["verdict"], valid))
                elif not valid and (not r["violations"] or
                                    _canon_message(
                                        r["violations"][0]["message"])
                                    != _canon_message(message)):
                    got = (r["violations"][0]["message"]
                           if r["violations"] else None)
                    failures.append((engine, schema, docs[i],
                                     "message", got, message))
                result["checked"] += 1
    return result


@pytest.fixture(scope="module")
def reference_battery(spark, reference):
    """The reference battery, run once per draft for the whole module:
    short draft name ("draft-04") -> _run_reference_battery's result."""
    return {draft.rsplit("/", 2)[-2]:
            _run_reference_battery(spark, reference, draft)
            for draft in sorted(_DRAFT_CASES)}


@pytest.mark.parametrize(
    "draft", sorted(_DRAFT_CASES),
    ids=lambda d: d.rsplit("/", 2)[-2])
def test_keyword_battery(reference_battery, draft):
    """Every battery schema under this draft, against the whole zoo, on
    both engines — verdicts AND first messages must match the
    reference."""
    result = reference_battery[draft.rsplit("/", 2)[-2]]
    failures, checked = result["failures"], result["checked"]
    assert not failures, (
        f"{len(failures)} divergence(s) of {checked} checks; first 5: "
        + repr(failures[:5]))


def test_battery_counts_summary(reference_battery):
    """Per-draft totals (the 'test header' counts): the battery must
    have actually exercised every draft at meaningful breadth."""
    counts = {d: r["checked"] for d, r in reference_battery.items()}
    unsupported = sum(r["columnar_unsupported"]
                      for r in reference_battery.values())
    rejected = sum(r["schema_rejected"] for r in reference_battery.values())
    print(f"\nconformance battery: {sum(counts.values())} checks "
          f"({counts}); columnar-unsupported instance-evals: "
          f"{unsupported}, schemas rejected by the reference: {rejected}")
    assert set(counts) == {"draft-04", "draft-06", "draft-07"}
    assert counts["draft-04"] >= 1500
    assert counts["draft-06"] >= 700
    assert counts["draft-07"] >= 1200
    assert rejected == 0


# --- live battery: columnar vs python, no reference needed ------------------

# Instances on which the columnar and python engines are known to
# disagree, keyed (draft, json.dumps(schema, sort_keys=True), instance
# document) -> reason, so a divergence is listed, never silently dropped.
# Empty: the two engines agreed on every instance when this check was
# introduced.
KNOWN_ENGINE_DIVERGENCES: dict = {}


def _first_message(violations):
    return _canon_message(violations[0]["message"]) if violations else None


@pytest.mark.parametrize(
    "draft", sorted(_DRAFT_CASES),
    ids=lambda d: d.rsplit("/", 2)[-2])
def test_keyword_battery_columnar_vs_python(spark, draft):
    """Every battery schema under this draft, against the whole zoo:
    the columnar engine must give the python engine's verdict and first
    message on every instance (the self-contained half of
    test_keyword_battery, live without the reference)."""
    from decimal import InvalidOperation

    from spark_schema_guard.rowcheck import compile_row_validator

    short = draft.rsplit("/", 2)[-2]
    failures = []
    checked = 0
    for schema in _DRAFT_CASES[draft]:
        wrapper = _battery_wrapper(draft, schema)
        validator = compile_row_validator(wrapper, fast_fail=False)
        docs = []
        for value in ZOO:
            doc = json.dumps({"v": value})
            try:
                validator.collect(json.loads(doc))
            except InvalidOperation:
                # no defined outcome: the python engine mirrors the
                # reference's crash on a bool under a float-divisor
                # multipleOf (Decimal(repr(True))), which would fail the job
                continue
            docs.append(doc)
        df = spark.createDataFrame(list(enumerate(docs)), "i INT, doc STRING")
        df = validate_json_column(df, "doc", wrapper, engine="python",
                                  violations_col="py_violations",
                                  verdict_col="py_verdict")
        # every battery schema compiles on the columnar engine
        out = validate_json_column(df, "doc", wrapper, engine="columnar")
        key = json.dumps(schema, sort_keys=True)
        for r in out.collect():
            doc = docs[r["i"]]
            got = (r["verdict"], _first_message(r["violations"]))
            want = (r["py_verdict"], _first_message(r["py_violations"]))
            checked += 1
            if got != want and (short, key, doc) not in \
                    KNOWN_ENGINE_DIVERGENCES:
                failures.append((key, doc, got, want))
    assert checked >= 500
    assert not failures, (
        f"{len(failures)} columnar/python divergence(s) of {checked} "
        f"checks; first 5: " + repr(failures[:5]))
