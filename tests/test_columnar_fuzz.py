"""Randomized columnar ≡ rowcheck differential: seeded random schemas
over the documents table; for every row the columnar plan's verdict and
first-violation rule must equal the row validator's (which is itself
pinned to the reference by tests/test_rowcheck_differential.py and the
hypothesis fuzzers — so transitively columnar ≡ reference)."""

import random

import pytest
from pyspark.sql import functions as F

import spark_schema_guard as ssg

COLUMNS = ["doc_id", "text", "lang", "source", "n_chars"]
# documents plus derived columns of the Spark types it lacks: boolean,
# double and array<long>
TYPED_COLUMNS = COLUMNS + ["flag", "ratio", "parts"]


def _with_typed_columns(docs):
    doc_id = F.col("doc_id")
    return docs.select(
        *COLUMNS,
        F.when(doc_id % 7 != 0, doc_id % 3 == 0).alias("flag"),
        (F.col("n_chars") / 4.0).alias("ratio"),
        F.when(doc_id % 11 != 0, F.slice(
            F.array(doc_id % 3, F.col("n_chars") % 3, doc_id % 5, F.lit(1)),
            1, (doc_id % 5).cast("int"))).alias("parts"))


def _numeric_choices(rng: random.Random, bounds: list, divisors: list) -> list[dict]:
    return [
        {"minimum": rng.choice(bounds)},
        {"maximum": rng.choice(bounds)},
        {"exclusiveMinimum": rng.choice(bounds)},
        {"exclusiveMaximum": rng.choice(bounds)},
        {"multipleOf": rng.choice(divisors)},
    ]


def _random_property_schema(rng: random.Random, column: str) -> dict:
    numeric = column in ("doc_id", "n_chars")
    choices: list[dict] = []
    if column == "flag":
        # int divisors only: a float divisor on a bool raises in the
        # reference (Decimal('True')) and in rowcheck alike
        choices += _numeric_choices(rng, [-1, 0, 0.5, 1, 2], [1, 2, 3])
    elif column == "ratio":
        choices += _numeric_choices(rng, [-1, 0, 15.5, 60, 100.25],
                                    [0.25, 0.5, 2, 3])
    elif column == "parts":
        choices += [
            {"minItems": rng.randint(0, 4)},
            {"maxItems": rng.randint(0, 4)},
            {"uniqueItems": True},
            {"items": rng.choice(_numeric_choices(rng, [0, 1, 2, 3], [2, 3]))},
        ]
    elif numeric:
        choices += [
            {"minimum": rng.randint(-5, 400)},
            {"maximum": rng.randint(-5, 400)},
            {"exclusiveMinimum": rng.randint(-5, 400)},
            {"exclusiveMaximum": rng.randint(-5, 400)},
            {"multipleOf": rng.choice([2, 3, 7])},
            {"type": rng.choice(["integer", "number", "string"])},
            {"enum": [rng.randint(0, 50) for _ in range(3)]},
        ]
    else:
        choices += [
            {"minLength": rng.randint(0, 200)},
            {"maxLength": rng.randint(0, 200)},
            {"pattern": rng.choice(["^src", "[0-9]$", "a.c", "^(en|de)$"])},
            {"type": rng.choice(["string", "integer"])},
            {"enum": rng.sample(["en", "de", "fr", "es", "src1", "zz"], 3)},
            {"format": rng.choice(["email", "hostname", "unknown"])},
        ]
    schema: dict = {}
    for _ in range(rng.randint(1, 2)):
        schema.update(rng.choice(choices))
    # wrap some in combinators
    wrap = rng.random()
    if wrap < 0.15:
        return {"not": schema}
    if wrap < 0.3:
        other = dict(rng.choice(choices))
        return {"anyOf": [schema, other]}
    if wrap < 0.4:
        other = dict(rng.choice(choices))
        return {"oneOf": [schema, other]}
    if wrap < 0.5:
        other = dict(rng.choice(choices))
        return {"allOf": [schema, other]}
    return schema


def _random_schema(rng: random.Random, columns: list[str] = COLUMNS) -> dict:
    props = {
        c: _random_property_schema(rng, c)
        for c in rng.sample(columns, rng.randint(1, 3))
    }
    schema: dict = {"type": "object", "properties": props}
    if rng.random() < 0.5:
        schema["required"] = rng.sample(sorted(props), 1)
    if rng.random() < 0.2:
        schema["if"] = {"properties": {"lang": {"enum": ["en"]}}}
        schema["then"] = {"required": [rng.choice(columns)]}
    return schema


def _assert_matches_rowcheck(docs, rng, seed, columns=COLUMNS):
    rows = [r.asDict() for r in docs.collect()]
    for _ in range(8):
        schema = _random_schema(rng, columns)
        try:
            plan = ssg.compile_plan(schema, docs.schema)
            validator = ssg.compile(schema, fast_fail=False)
        except ssg.SchemaDefinitionError:
            continue
        got = {
            r["doc_id"]: (r["verdict"], r["first_rule"])
            for r in plan.apply(docs).select(
                "doc_id", "verdict",
                F.try_element_at("violations", F.lit(1)).getField("rule")
                .alias("first_rule")).collect()
        }
        for row in rows:
            data = {k: v for k, v in row.items() if v is not None}
            errors = validator.collect(data)
            want = (not errors, errors[0].rule if errors else None)
            assert got[row["doc_id"]] == want, (
                f"seed={seed} schema={schema!r} doc={row!r} "
                f"columnar={got[row['doc_id']]} rowcheck={want}")


@pytest.mark.parametrize("seed", range(8))
def test_columnar_matches_rowcheck_random_schemas(spark, sf_dir, seed):
    rng = random.Random(20260817 + seed)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _assert_matches_rowcheck(docs, rng, seed)


@pytest.mark.parametrize("seed", range(8))
def test_columnar_matches_rowcheck_typed_columns(spark, sf_dir, seed):
    rng = random.Random(20261018 + seed)
    docs = _with_typed_columns(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    _assert_matches_rowcheck(docs, rng, seed, TYPED_COLUMNS)
