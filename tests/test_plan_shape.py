"""Physical-plan shape assertions: the jvm-mode plan must stay entirely
JVM-side (no Python evaluation nodes), read only needed columns, and the
python regex mode must be the only thing that introduces Arrow UDFs."""

import ast
import contextlib
import json
import math
import os
import re

from pyspark.sql import functions as F
from pyspark.sql import types as T

import spark_schema_guard as ssg
from spark_schema_guard.webgen import WEB_PAGE_SCHEMA, web_pages


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """The executed (final adaptive) plan of ``df``, after running it."""
    df.collect()
    return _physical(df).split("== Initial Plan ==")[0]


@contextlib.contextmanager
def _py4j_calls(monkeypatch):
    """Every py4j command the block sends, as a list that fills while the
    block runs."""
    from py4j.java_gateway import GatewayClient

    calls = []
    send = GatewayClient.send_command

    def counted(self, command, *args, **kwargs):
        calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    try:
        yield calls
    finally:
        monkeypatch.setattr(GatewayClient, "send_command", send)


def _round_trips(monkeypatch, fn) -> int:
    """py4j commands ``fn()`` sends, except releases of garbage-collected
    JavaObjects: those follow Python's GC timing, not the code under
    test."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    with _py4j_calls(monkeypatch) as calls:
        fn()
    return sum(not c.startswith(MEMORY_COMMAND_NAME) for c in calls)


def test_jvm_plan_has_no_python_nodes(spark, sf_dir):
    web = web_pages(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = ssg.compile_plan(WEB_PAGE_SCHEMA, web.schema)
    text = _physical(plan.apply(web).select("url", "verdict"))
    assert "BatchEvalPython" not in text
    assert "ArrowEvalPython" not in text
    assert "RLIKE" in text or "rlike" in text


def test_python_regex_mode_uses_arrow(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = ssg.compile_plan(
        {"type": "object", "properties": {"source": {"pattern": "^src[0-9]+$"}}},
        docs.schema, regex_engine="python")
    text = _physical(plan.apply(docs).select("doc_id", "verdict"))
    assert "ArrowEvalPython" in text  # vectorized, never row-at-a-time
    assert "BatchEvalPython" not in text


def test_column_pruning_reaches_scan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = ssg.compile_plan(
        {"type": "object", "properties": {"lang": {"enum": ["en", "de"]}}},
        docs.schema)
    text = _physical(plan.apply(docs).select("doc_id", "verdict"))
    # scan must read only doc_id + lang, not text/source/n_chars
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in text


def test_partition_verdicts(spark, sf_dir):
    from spark_schema_guard.operators.stats import partition_verdicts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(4)
    plan = ssg.compile_plan(
        {"type": "object", "properties": {"lang": {"enum": ["en", "de"]}}},
        docs.schema)
    out = partition_verdicts(plan.apply(docs)).collect()
    assert sum(r["rows"] for r in out) == docs.count()
    assert all(r["valid_rows"] <= r["rows"] for r in out)


def test_regex_modes_agree_on_ascii(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    schema = {"type": "object",
              "properties": {"source": {"pattern": "^src[0-9]+$"},
                             "text": {"format": "email"}}}
    jvm = ssg.compile_plan(schema, docs.schema, regex_engine="jvm")
    py = ssg.compile_plan(schema, docs.schema, regex_engine="python")
    a = {r["doc_id"]: r["verdict"] for r in jvm.apply(docs).select("doc_id", "verdict").collect()}
    b = {r["doc_id"]: r["verdict"] for r in py.apply(docs).select("doc_id", "verdict").collect()}
    assert a == b


def test_regex_mode_unicode_digit_divergence(spark):
    # Java \d is ASCII-only; Python \d matches Unicode digits.  jvm mode
    # is the fast path with that documented caveat; python mode matches
    # the reference exactly.
    df = spark.createDataFrame([("١٢٣",), ("123",)], "v string")
    schema = {"type": "object", "properties": {"v": {"pattern": r"^\d+$"}}}
    jvm = ssg.compile_plan(schema, df.schema, regex_engine="jvm")
    py = ssg.compile_plan(schema, df.schema, regex_engine="python")
    jvm_verdicts = {r["v"]: r["verdict"] for r in jvm.apply(df).collect()}
    py_verdicts = {r["v"]: r["verdict"] for r in py.apply(df).collect()}
    assert py_verdicts == {"١٢٣": True, "123": True}   # reference semantics
    assert jvm_verdicts["123"] is True
    assert jvm_verdicts["١٢٣"] is False                # documented caveat


def test_dollar_anchor_newline_parity(spark):
    # 'a$' must NOT match 'a\n' (the reference rewrites $ -> \Z); Java
    # rlike gets the equivalent \z rewrite
    df = spark.createDataFrame([("a",), ("a\n",), ("ba",)], "v string")
    schema = {"type": "object", "properties": {"v": {"pattern": "a$"}}}
    for engine in ("jvm", "python"):
        plan = ssg.compile_plan(schema, df.schema, regex_engine=engine)
        got = {r["v"]: r["verdict"] for r in plan.apply(df).collect()}
        assert got == {"a": True, "a\n": False, "ba": True}, engine


def test_validation_plan_has_no_shuffle(spark, sf_dir):
    # plan.apply is a pure projection: zero Exchange nodes before any
    # user-added aggregation (SCALE.md "zero shuffles" claim)
    web = web_pages(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = ssg.compile_plan(WEB_PAGE_SCHEMA, web.schema)
    text = _physical(plan.apply(web))
    assert "Exchange" not in text


def test_jsoncol_parses_json_once(spark, sf_dir):
    # every rule reads the same MATERIALIZED parse: exactly ONE
    # parseJson (the native variant parser, codegen-able via
    # static_invoke) per plan, ZERO from_json (CodegenFallback) — never
    # one parse per rule
    from spark_schema_guard.jsoncol import validate_json_column

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = validate_json_column(
        events, "props",
        {"type": "object", "required": ["k"],
         "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 80}}},
        engine="columnar")
    text = _physical(out)
    # scalar-only schema: every rule compiles against the variant view
    # and presence reads its key array, so Catalyst prunes the typed
    # struct parse — exactly ONE parse per row, and it is the native
    # variant parser, which stays inside whole-stage codegen
    assert text.count("parseJson") == 1
    assert text.count("from_json") == 0
    assert "Exchange" not in text


TREE_SCHEMA = {
    "definitions": {"node": {
        "type": "object",
        "required": ["v"],
        "properties": {
            "v": {"type": "integer", "minimum": 0},
            "tag": {"type": "string", "maxLength": 6},
            "next": {"$ref": "#/definitions/node"},
            "kids": {"type": "array", "items": {"$ref": "#/definitions/node"}},
        },
        "additionalProperties": {"type": "string"},
    }},
    "$ref": "#/definitions/node",
}


def test_compile_makes_no_py4j_round_trips(spark, sf_dir, monkeypatch):
    """Plan construction is pure Python: every rule is SQL text, so
    compiling makes zero py4j round-trips (schemas without Python-UDF
    predicates); the text is parsed only when the plan is applied."""
    from spark_schema_guard.columnar.compiler import compile_plan_for_column

    web_schema = web_pages(
        spark.read.parquet(f"{sf_dir}/documents.parquet")).schema
    with _py4j_calls(monkeypatch) as calls:
        web_plan = ssg.compile_plan(WEB_PAGE_SCHEMA, web_schema)
        tree_plan = compile_plan_for_column(TREE_SCHEMA, "doc")
        assert calls == []
        assert web_plan.rules and tree_plan.rules
        # applying the plan is where the JVM first sees the text
        web_plan.violations_column()
        assert calls


def test_typed_plans_fold_type_facts_in_python(spark, sf_dir):
    """Typed columns reach the scalar keyword emitters the variant world
    uses, with literal type facts: every statically decided test folds
    away in Python, so a typed plan's text holds no variant function and
    no lambda."""
    from test_columnar import DOCS_SCHEMA

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for schema, df in ((WEB_PAGE_SCHEMA, web_pages(docs)),
                       (DOCS_SCHEMA, docs)):
        plan = ssg.compile_plan(schema, df.schema)
        assert plan.rules and not plan.aux_cols
        for rule in plan.rules:
            for text in (rule.fail, rule.message, rule.name, rule.value):
                for banned in ("schema_of_variant", "try_variant_get",
                               "is_variant_null", "->"):
                    assert banned not in (text or ""), (banned, rule)


GOLDEN = os.path.join(os.path.dirname(__file__), "data",
                      "plan_text_golden.json")

# web_pages(documents).schema, spelled out so compiling needs no JVM
WEB_DF_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("source", T.StringType()),
])

_AB = T.StructType([T.StructField("a", T.LongType()),
                    T.StructField("b", T.StringType())])
TYPED_ARRAYS_DF_SCHEMA = T.StructType([
    T.StructField("nums", T.ArrayType(T.LongType())),
    T.StructField("recs", T.ArrayType(_AB)),
    T.StructField("grid", T.ArrayType(T.ArrayType(T.LongType()))),
    T.StructField("obj", _AB),
])

# every combinator and array keyword over typed arrays, array elements
# and a struct column
TYPED_ARRAYS_SCHEMA = {"properties": {
    "nums": {"minItems": 1, "maxItems": 4, "uniqueItems": True,
             "items": {"type": "integer", "minimum": 0},
             "contains": {"minimum": 10},
             "anyOf": [{"maxItems": 2}, {"items": {"maximum": 5}}],
             "not": {"contains": {"const": 7}}},
    "recs": {"uniqueItems": True,
             "items": {"required": ["a"],
                       "properties": {"a": {"minimum": 0},
                                      "b": {"maxLength": 3}},
                       "anyOf": [{"required": ["b"]},
                                 {"properties": {"a": {"maximum": 5}}}]},
             "contains": {"properties": {"a": {"const": 1}}},
             "oneOf": [{"items": {"required": ["b"]}}, {"maxItems": 1}]},
    "grid": {"items": [{"items": {"minimum": 0}},
                       {"uniqueItems": True, "contains": {"const": 0}}],
             "additionalItems": {"maxItems": 2, "items": {"maximum": 9},
                                 "contains": False},
             "if": {"minItems": 2}, "then": {"items": [{"minItems": 1}]},
             "else": {"contains": True}},
    "obj": {"allOf": [{"required": ["a"]},
                      {"properties": {"b": {"minLength": 1}}}],
            "anyOf": [{"properties": {"a": {"minimum": 1}}},
                      {"required": ["b"]}],
            "oneOf": [{"required": ["a"]}, {"required": ["b"]}],
            "not": {"properties": {"a": {"const": 0}}},
            "if": {"required": ["a"]},
            "then": {"properties": {"a": {"maximum": 100}}},
            "else": {"required": ["b"]}},
}}


_INNER = T.StructType([T.StructField("inner", _AB),
                       T.StructField("n", T.LongType())])
TYPED_OBJECTS_DF_SCHEMA = T.StructType([
    T.StructField("obj", _AB),
    T.StructField("counts", T.MapType(T.StringType(), T.LongType())),
    T.StructField("recs", T.MapType(T.StringType(), _AB)),
    T.StructField("outer", _INNER),
    T.StructField("v", T.VariantType()),
])

# every object keyword over a struct, a map of scalars, a map of structs,
# a nested struct, a VARIANT column and the root row
TYPED_OBJECTS_SCHEMA = {
    "required": ["obj"], "minProperties": 1, "maxProperties": 3,
    "propertyNames": {"maxLength": 6},
    "dependencies": {"recs": ["counts"], "outer": {"required": ["obj"]}},
    "patternProperties": {"^c": {"minProperties": 1}, "^zz": False},
    "additionalProperties": {"not": {"type": "null"}},
    "properties": {
        "obj": {"required": ["a"], "minProperties": 1,
                "properties": {"a": {"minimum": 0}},
                "patternProperties": {"^b$": {"maxLength": 3}},
                "additionalProperties": False,
                "dependencies": {"a": ["b"],
                                 "b": {"properties": {"a": {"maximum": 9}}}}},
        "counts": {"required": ["x"], "maxProperties": 4,
                   "propertyNames": {"pattern": "^[a-z]+$"},
                   "properties": {"x": {"minimum": 0}},
                   "patternProperties": {"^y": {"maximum": 5}, "^z": False},
                   "additionalProperties": {"minimum": 1},
                   "dependencies": {"x": ["y"], "w": False,
                                    "v": {"required": ["x"]}}},
        "recs": {"minProperties": 1,
                 "patternProperties": {
                     "^r": {"properties": {"a": {"minimum": 0}}}},
                 "additionalProperties": {
                     "required": ["a"],
                     "properties": {"b": {"maxLength": 2}}}},
        "outer": {"dependencies": {"n": False},
                  "additionalProperties": {"type": "integer"},
                  "properties": {"inner": {
                      "required": ["b"],
                      "properties": {"a": {}, "b": {"minLength": 1}},
                      "additionalProperties": False,
                      "propertyNames": False}}},
        "v": {"required": ["a"], "minProperties": 1,
              "propertyNames": {"maxLength": 3},
              "properties": {"a": {"type": "string"}},
              "patternProperties": {"^b": {"minimum": 0}, "^z": False},
              "additionalProperties": {"type": "string"},
              "dependencies": {"a": ["b"], "c": {"required": ["d"]}}},
    },
}

# the same keywords over a JSON column, with a property declared under
# allOf (outside the parsed struct) and one whose python-regex pattern
# falls back to the parsed field
JSON_OBJECTS_SCHEMA = {
    "required": ["id"], "minProperties": 1, "maxProperties": 8,
    "propertyNames": {"maxLength": 8},
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "name": {"type": "string", "pattern": "^[a-z]+$"},
        "meta": {"type": "object", "required": ["k"], "minProperties": 1,
                 "properties": {"k": {"type": "string"}},
                 "patternProperties": {"^x": {"type": "integer"},
                                       "^z": False},
                 "additionalProperties": False,
                 "dependencies": {"k": ["v"], "v": False}},
        "tags": {"type": "object", "maxProperties": 4,
                 "propertyNames": {"maxLength": 3},
                 "additionalProperties": {"type": "string"}},
    },
    "patternProperties": {"^n": {"minLength": 1}, "^q": False,
                          "^t": {"type": "object"}},
    "additionalProperties": {"type": ["integer", "string"]},
    "dependencies": {"meta": ["id"], "zz": False,
                     "tags": {"properties": {"extra": {"type": "boolean"}}}},
    "allOf": [{"properties": {"extra2": {"type": "number"}}}],
}


def _perfbench_schemas() -> dict:
    """perfbench's JSON schemas, read from its source without importing
    it (the workloads module imports the benchmark's own helpers)."""
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "perfbench", "workloads.py")
    with open(path) as fh:
        module = ast.parse(fh.read())
    return {target.id: ast.literal_eval(node.value)
            for node in module.body if isinstance(node, ast.Assign)
            for target in node.targets
            if getattr(target, "id", None) in ("FLAT_SCHEMA", "TREE_SCHEMA")}


def _plan_text(plan) -> dict:
    """Everything a plan evaluates, as text: per rule its fail condition
    and its violation struct (rule id, name, message, value), the helper
    columns and the guard.  Lambda variables are renumbered in order of
    first appearance, so a fresh-name counter that moves renames
    nothing."""
    rules = [[r.fail, r.struct_sql(include_value=True)] for r in plan.rules]
    aux = [[name, sql if isinstance(sql, str) else "<python udf>"]
           for name, sql in plan._aux]
    text = json.dumps({"rules": rules, "aux": aux,
                       "guard": list(plan.guard or [])})
    numbers: dict = {}

    def renumber(match):
        key = match.group(0)
        numbers.setdefault(key, len(numbers) + 1)
        return f"__{match.group(1)}{numbers[key]}"

    return json.loads(re.sub(r"__([a-z]+)(\d+)", renumber, text))


def plan_texts() -> dict:
    """The golden plans: the web table, perfbench's JSON schemas (exact,
    and the flat one in coerce mode), every combinator and array keyword
    over typed arrays, and every object keyword over typed objects and a
    JSON column."""
    from spark_schema_guard.columnar.compiler import compile_plan_for_column

    bench = _perfbench_schemas()
    plans = {
        "web": ssg.compile_plan(WEB_PAGE_SCHEMA, WEB_DF_SCHEMA),
        "tree": compile_plan_for_column(bench["TREE_SCHEMA"], "tree"),
        "flat": compile_plan_for_column(bench["FLAT_SCHEMA"], "props"),
        "flat_coerce": compile_plan_for_column(
            bench["FLAT_SCHEMA"], "props", json_types="coerce"),
        "typed_arrays": ssg.compile_plan(TYPED_ARRAYS_SCHEMA,
                                         TYPED_ARRAYS_DF_SCHEMA),
        "typed_objects": ssg.compile_plan(TYPED_OBJECTS_SCHEMA,
                                          TYPED_OBJECTS_DF_SCHEMA),
        "json_objects": compile_plan_for_column(
            JSON_OBJECTS_SCHEMA, "doc", regex_engine="python"),
    }
    return {name: _plan_text(plan) for name, plan in plans.items()}


def test_plan_text_golden():
    """The compiled plan text of the benchmark schemas and of the typed
    array keywords equals the recorded one (compiling needs no JVM).  A
    deliberate change rewrites the file with ``PYTHONPATH=. python
    tests/test_plan_shape.py`` and says why in the change log."""
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    texts = plan_texts()
    assert sorted(texts) == sorted(golden)
    for name, text in texts.items():
        assert text == golden[name], name


PUBLIC_COMPILE_OPTIONS = {
    "compile_plan": [
        "regex_engine", "use_formats", "use_default", "detailed_exceptions",
        "include_value", "formats", "handlers"],
    "compile_plan_for_column": [
        "json_types", "regex_engine", "use_formats", "use_default",
        "formats", "handlers", "ref_unroll_depth", "on_depth_exceeded",
        "canon_depth", "ref_unroll_budget", "plan_text_budget",
        "pack_recursion"],
    "validate_json_column": [
        "engine", "violations_col", "verdict_col", "formats", "json_types",
        "ref_unroll_depth", "on_depth_exceeded", "canon_depth",
        "plan_text_budget", "pack_recursion"],
}


def test_public_compile_options_are_pinned():
    """The keyword options of the public compile entry points are a
    tracked surface (no JVM needed): a new option needs a measured
    reason (ROADMAP aim 2, "prefer deleting a path to adding a knob"),
    and this list changes with it."""
    import inspect

    from spark_schema_guard.columnar.compiler import (compile_plan,
                                                      compile_plan_for_column)
    from spark_schema_guard.jsoncol import validate_json_column

    for fn in (compile_plan, compile_plan_for_column, validate_json_column):
        got = [p.name for p in inspect.signature(fn).parameters.values()
               if p.kind is inspect.Parameter.KEYWORD_ONLY]
        assert got == PUBLIC_COMPILE_OPTIONS[fn.__name__], (
            f"{fn.__name__} options changed; ROADMAP aim 2: a new option "
            "needs a measured reason")


def test_language_consistency_reads_no_python_rdd(spark, sf_dir):
    """The marker table is an inline VALUES relation, not a row-object
    createDataFrame: that is a Python RDD (``ExistingRDD``), and every
    read of it runs a Python-worker job."""
    from spark_schema_guard.operators.textstats import language_consistency

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text = _physical(language_consistency(docs, "doc_id", "text"))
    assert "ExistingRDD" not in text
    assert "LocalTableScan" in text


def test_bpe_merges_frame_reads_no_python_rdd(spark):
    """The merge table is an inline VALUES relation too, with the same
    columns and types, also when there are no merges."""
    from spark_schema_guard.operators import bpe_merges_frame

    merges = [{"rank": 0, "left": "a'b", "right": "c\\d", "n": 5},
              {"rank": 1, "left": "ab", "right": "</w>", "n": 2 ** 40}]
    for rows in (merges, []):
        frame = bpe_merges_frame(spark, rows)
        assert frame.schema.simpleString() == (
            "struct<rank:int,left:string,right:string,n:bigint>")
        assert [r.asDict() for r in frame.collect()] == rows
        text = _physical(frame)
        assert "ExistingRDD" not in text
        assert "LocalTableScan" in text


def _ks_frame(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(F.col("n_chars").cast("double").alias("v"),
                       (F.col("doc_id") % 2 == 0).alias("g"))


def test_table_checks_py4j_calls_do_not_grow_with_their_size(
        spark, sf_dir, monkeypatch):
    """ks_drift(grid) builds its bucket tree and probabilities as SQL
    text and column_profile one aggregation text: building and
    collecting them costs the same py4j calls at any grid size or
    column count."""
    from spark_schema_guard.operators import column_profile, ks_drift

    frame = _ks_frame(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cases = {
        "ks_drift": {b: (lambda b=b: ks_drift(frame, "v", "g", mode="grid",
                                             grid_size=b).collect())
                     for b in (16, 256)},
        "column_profile": {n: (lambda n=n: column_profile(
            docs, docs.columns[:n]).collect()) for n in (1, 5)},
    }
    for name, sizes in cases.items():
        counts = []
        for fn in sizes.values():
            fn()  # warm: first-use lookups are not the operator's cost
            counts.append(_round_trips(monkeypatch, fn))
        assert counts[0] == counts[1], (name, counts)


def _exchanges(text: str) -> list[str]:
    return re.findall(r"(?<!Broadcast)Exchange (\w+)", text)


def test_uniqueness_report_is_one_aggregation(spark, sf_dir):
    """One shuffle by key (the map-side partial count bounds a hot key
    to one row per map partition), then the one-row summary: no salt
    stage."""
    from spark_schema_guard.operators import uniqueness_report

    web = web_pages(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    text = _final_plan(uniqueness_report(web, "url"))
    assert _exchanges(text) == ["SinglePartition", "hashpartitioning"], text
    assert re.search(r"Exchange hashpartitioning\(url#\d+", text), text
    assert "partial_count" in text
    assert "spark_partition_id" not in text.lower()


def test_referential_report_is_an_existence_join(spark, sf_dir, tmp_path):
    """The orphan flag is an existence join over the raw dimension keys:
    no aggregation deduplicates the dimension, so the plan's only
    aggregates are the report's own partial + final pair.  With both
    auto-broadcast thresholds off, only the ``broadcast_dim`` hint can
    make the join a broadcast, so the pin holds for dimensions of any
    size: broadcast by default and under True, a shuffled join under
    False."""
    from spark_schema_guard.operators import referential_report

    web = web_pages(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    dim = str(tmp_path / "dim")
    spark.createDataFrame([("en",), ("de",), ("de",), (None,)],
                          "code string").write.parquet(dim)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        for broadcast_dim in (None, True, False):
            text = _final_plan(referential_report(
                web, spark.read.parquet(dim), "lang", "code",
                broadcast_dim=broadcast_dim))
            join = "SortMergeJoin" if broadcast_dim is False \
                else "BroadcastHashJoin"
            assert re.search(rf"{join} .*ExistenceJoin", text), text
            assert ("BroadcastExchange" in text) == (broadcast_dim
                                                     is not False), text
            assert text.count("HashAggregate") == 2, text
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def _case_depth(sql: str) -> int:
    depth = deepest = 0
    for token in re.findall(r"\b(CASE|END)\b", sql):
        depth += 1 if token == "CASE" else -1
        deepest = max(deepest, depth)
    return deepest


def test_ks_grid_result_is_local_and_bucket_tree_is_shallow(
        spark, sf_dir, monkeypatch):
    """ks_drift(grid)'s result is an inline VALUES relation (a
    LocalTableScan: reading it runs no job), and its data-sized binning
    stage is a binary-search CASE tree of depth ceil(log2(B+1)), not a
    B-branch chain."""
    from spark_schema_guard.operators import drift

    built = []
    bucket = drift._grid_bucket

    def recorded(grid):
        built.append((len(grid), bucket(grid)))
        return built[-1][1]

    monkeypatch.setattr(drift, "_grid_bucket", recorded)
    out = drift.ks_drift(_ks_frame(spark, sf_dir), "v", "g", mode="grid",
                         grid_size=64)
    assert _physical(out).startswith("LocalTableScan"), _physical(out)
    [(size, col)] = built
    assert size > 16
    depth = _case_depth(str(col))
    assert depth == math.ceil(math.log2(size + 1)), (size, depth)


def test_json_engines_reach_the_traced_hooks(spark, monkeypatch):
    """perfbench's traced run times the JSON engines by wrapping two
    module attributes (perfbench/run.py): the columnar engine must look
    up columnar.compiler.compile_plan_for_column, and the python engine
    jsoncol.compile_row_validator, at call time — once per call."""
    import spark_schema_guard.columnar.compiler as compiler
    import spark_schema_guard.jsoncol as jsoncol

    calls = []

    def count(module, attr):
        original = getattr(module, attr)

        def counted(*args, **kwargs):
            calls.append(attr)
            return original(*args, **kwargs)

        monkeypatch.setattr(module, attr, counted)

    count(compiler, "compile_plan_for_column")
    count(jsoncol, "compile_row_validator")
    df = spark.createDataFrame([('{"k": 1}',), ('{"k": -1}',)], "props string")
    schema = {"type": "object",
              "properties": {"k": {"type": "integer", "minimum": 0}}}
    for engine, hook in (("columnar", "compile_plan_for_column"),
                         ("python", "compile_row_validator")):
        calls.clear()
        out = jsoncol.validate_json_column(df, "props", schema, engine=engine)
        assert sorted(r["verdict"] for r in out.collect()) == [False, True]
        assert calls == [hook], engine


def test_nested_jsoncol_materializes_parses(spark):
    # nested object schemas register aux columns (text slice, variant
    # map, key array) so each is parsed once per row, never once per
    # consulting rule
    from spark_schema_guard.jsoncol import validate_json_column

    df = spark.createDataFrame([('{"k": 1, "o": {"x": 5}}',)], "props string")
    schema = {"type": "object",
              "properties": {"k": {"type": "integer"},
                             "o": {"type": "object", "required": ["x"],
                                   "properties": {"x": {"type": "integer"}},
                                   "additionalProperties": {"type": "string"}}}}
    out = validate_json_column(df, "props", schema, engine="columnar")
    text = _physical(out)
    assert "BatchEvalPython" not in text and "Exchange" not in text
    # nested object value schemas recurse through the SAME variant
    # parse (array<variant>/map<string,variant> casts) — one parseJson
    # per row, no struct re-parse, no text slicing
    assert text.count("parseJson") == 1
    assert text.count("from_json") == 0
    assert text.count("get_json_object") == 0


def test_open_key_json_plan_stays_jvm(spark):
    # open-key keywords (runtime key set + variant value schemas) must
    # not introduce Python nodes or shuffles; the struct parse and the
    # variant map parse are the only from_json occurrences
    from spark_schema_guard.jsoncol import validate_json_column

    df = spark.createDataFrame([('{"k": 1, "King": "x"}',)], "props string")
    schema = {"type": "object", "required": ["k"],
              "properties": {"k": {"type": "integer"}},
              "additionalProperties": {"type": "string", "minLength": 2},
              "propertyNames": {"maxLength": 8}}
    out = validate_json_column(df, "props", schema, engine="columnar")
    text = _physical(out)
    assert "BatchEvalPython" not in text
    assert "ArrowEvalPython" not in text
    assert "Exchange" not in text
    # one shared native variant parse, struct parse pruned
    assert text.count("parseJson") == 1
    assert text.count("from_json") == 0


def test_per_unit_drift_windows_are_partitioned(spark, sf_dir):
    """chi_square_by_unit / psi_by_unit have NO window at all; ks_by_unit's
    per-unit cumulative window partitions by unit.  The one unpartitioned
    window (pooled CDF) runs over <= |grid| rows — assert it is the only
    one."""
    from spark_schema_guard.operators import (chi_square_by_unit, ks_by_unit,
                                              psi_by_unit)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    unit = F.col("doc_id") % 8
    for op in (chi_square_by_unit, psi_by_unit):
        text = _physical(op(docs, "lang", unit))
        assert "Window" not in text, op.__name__
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    text = _physical(ks_by_unit(events, "value", F.col("event_id") % 8,
                                grid=[10.0, 40.0, 80.0]))
    # the ONLY window is the per-unit cumulative one: the pooled CDF is a
    # broadcast triangular join now (an unpartitioned window would log
    # the WindowExec warning that masks real global-window regressions)
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", text)
    assert specs and all("unit" in s for s in specs), text[:2000]


def test_ann_rank_stage_is_two_stage(spark, sf_dir):
    """VERDICT-r02 #1: no ANN query may rank a query's full candidate
    set in one window partition.  The plan must prune per-partition
    first (MapInPandas running top-k) and only then window over the
    bounded k·P merge frame — so the single Window node sits ABOVE the
    prune in every ann plan."""
    from spark_schema_guard.operators.similarity import (
        cosine_topk, cosine_topk_ivf, cosine_topk_lsh)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = [(r["vec_id"], r["embedding"])
               for r in emb.where(F.col("vec_id") < 2).collect()]
    frames = {
        "brute": cosine_topk(emb, "vec_id", "embedding", queries, k=3),
        "lsh": cosine_topk_lsh(emb, "vec_id", "embedding", queries, k=3,
                               n_planes=3, multiprobe=0, max_bucket=10000),
        "ivf": cosine_topk_ivf(emb, "vec_id", "embedding", queries, k=3,
                               n_centroids=4, nprobe=2, max_bucket=10000),
    }
    for name, df in frames.items():
        lines = _physical(df).splitlines()
        # "Window [" is the rank exec node; WindowGroupLimit nodes are
        # Spark's own partial/final top-k pushdown (bounded, welcome)
        windows = [i for i, ln in enumerate(lines) if "Window [" in ln]
        prunes = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
        assert len(windows) == 1, (name, lines)
        assert prunes, (name, lines)
        # treeString prints parents above children: the window must be
        # an ancestor of the prune, i.e. rank only pruned rows
        assert windows[0] < prunes[0], (name, lines)
        assert not any("CartesianProduct" in ln for ln in lines), name


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The gram join must broadcast the (small) benchmark side — never a
    sort-merge shuffle of the full training corpus, never a cartesian
    product — and the whole pipeline stays JVM-side."""
    from spark_schema_guard.operators import ngram_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    out = ngram_decontaminate(docs, "doc_id", "text", bench, "text", n=4)
    text = _physical(out)
    assert "BroadcastHashJoin" in text
    assert "CartesianProduct" not in text
    assert "BatchEvalPython" not in text
    # the corpus-side gram join must not shuffle-sort the big side: the
    # only SortMergeJoin allowed is the final per-doc left join back to
    # ids (AQE may plan either); the inner gram match must be broadcast
    gram_joins = [ln for ln in text.splitlines() if "Join Inner" in ln]
    assert all("BroadcastHashJoin" in ln for ln in gram_joins), gram_joins


def test_violations_projection_stays_in_wholestage_codegen(spark, sf_dir):
    """The violations array is a concat of per-rule conditional
    singleton arrays, NOT filter(array(...), lambda): one higher-order
    function in the output projection is CodegenFallback and drops the
    whole stage out of whole-stage codegen, silently evaluating every
    rule interpreted (A/B: ~1.5x on the headline query).  Pin: every
    Project in the executed validation plan carries the codegen star."""
    web = web_pages(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = ssg.compile_plan(WEB_PAGE_SCHEMA, web.schema)
    applied = plan.apply(web)
    agg = applied.agg(F.sum(F.col("verdict").cast("long")),
                      F.sum(F.size("violations")))
    agg.collect()
    # AQE prints "== Final Plan ==" (starred when codegen'd) followed by
    # "== Initial Plan ==" (never starred) — scan only the executed one
    text = _physical(agg).split("== Initial Plan ==")[0]
    for line in text.split("\n"):
        stripped = line.lstrip(" +-:*()0123456789")
        if stripped.startswith("Project ["):
            assert "*(" in line.split("Project")[0], (
                "un-codegen'd Project in the validation plan:\n" + line)


def test_dedup_lines_plan_shape(spark, sf_dir):
    """dedup_lines must be groupBy-shaped end to end: partial (map-side)
    aggregation before BOTH shuffles (winner selection and reassembly),
    no window over the corpus, no cartesian product, and the reassembly
    projection free of lambda higher-order functions."""
    from spark_schema_guard.operators.dedup import dedup_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    text = _physical(dedup_lines(docs, "doc_id", "text", min_len=10))
    assert "Window" not in text, text[:2000]
    assert "CartesianProduct" not in text
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
    # both aggregations run partial_ merge combiners (map-side combine)
    assert text.count("partial_") >= 2, text[:2000]
    # no lambda HOF in the projection (lambdafunction prints in plans)
    assert "lambdafunction" not in text.lower(), text[:2000]


def test_topk_and_grid_cdf_plans_have_no_window(spark, sf_dir):
    """heavy_hitters / token_vocabulary rank their <= k rows via the
    broadcast triangular join (stats.rank_bounded) and
    ks_drift(mode="grid") finishes its <= B-bucket CDF on the driver —
    zero Window nodes, so the WindowExec "No Partition Defined" warning
    can only ever mean a REAL global window regressed in somewhere."""
    from spark_schema_guard.operators import heavy_hitters, ks_drift
    from spark_schema_guard.operators.textstats import token_vocabulary

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plans = {
        "heavy_hitters": _physical(heavy_hitters(docs, "lang", k=3)),
        "token_vocabulary": _physical(
            token_vocabulary(docs, "doc_id", "text", k=10)),
        "ks_grid": _physical(ks_drift(
            docs.select(F.col("n_chars").cast("double").alias("v"),
                        (F.col("doc_id") % 2 == 0).alias("g")),
            "v", "g", mode="grid", grid_size=16)),
    }
    for name, text in plans.items():
        assert "Window" not in text, name


def test_bucketed_band_index_join_shuffles_batch_only(spark, sf_dir, tmp_path):
    """A band index persisted with write_band_index (catalog ref,
    bucketed by (band, bucket)) joins incremental batches WITHOUT an
    Exchange on the index side: the probe plan has strictly fewer
    band-key shuffles than the same join against a plain parquet copy,
    and the index scan reads bucketed.  This is the 10^12-row claim of
    SCALE.md's incremental-dedup section made checkable."""
    import re

    from spark_schema_guard.operators.dedup import (incremental_candidates,
                                                    minhash_band_index,
                                                    read_band_index,
                                                    write_band_index)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.length("text") >= 8)
    idx = minhash_band_index(docs.where("doc_id < 250"), "doc_id", "text",
                             num_hashes=4, bands=4)
    spark.sql("DROP TABLE IF EXISTS band_idx_plan_test")
    write_band_index(idx, "band_idx_plan_test", buckets=8)
    plain_path = str(tmp_path / "plain_idx")
    idx.write.parquet(plain_path)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        def band_exchanges(index_df):
            cand = incremental_candidates(docs.where("doc_id >= 250"),
                                          index_df, "doc_id", "text",
                                          num_hashes=4, bands=4)
            cand.collect()
            text = _physical(cand)
            return text, set(re.findall(
                r"Exchange hashpartitioning\((band#\d+), (bucket#\d+)", text))

        bucketed_plan, bucketed_ex = band_exchanges(
            read_band_index(spark, "band_idx_plan_test"))
        plain_plan, plain_ex = band_exchanges(
            spark.read.parquet(plain_path))
        assert "Bucketed: true" in bucketed_plan
        assert len(bucketed_ex) < len(plain_ex), (bucketed_ex, plain_ex)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS band_idx_plan_test")


def test_strip_boilerplate_plan_shape(spark, sf_dir):
    """strip_boilerplate must stay groupBy-shaped: document frequency and
    reassembly as partial-combining aggregates, no corpus window, no
    cartesian product, no Python nodes, no lambda HOFs."""
    from spark_schema_guard.operators.dedup import strip_boilerplate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "text")
    text = _physical(strip_boilerplate(docs, "doc_id", "text", "lang",
                                       min_docs=2, min_frac=0.3))
    assert "Window" not in text, text[:2000]
    assert "CartesianProduct" not in text
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
    assert text.count("partial_") >= 2, text[:2000]
    assert "lambdafunction" not in text.lower(), text[:2000]


def test_cluster_representatives_plan_shape(spark, sf_dir):
    """Canonical selection must be ONE map-side-combining aggregate — no
    per-cluster window (the giant-near-clique single-partition trap)."""
    from spark_schema_guard.operators.dedup import cluster_representatives

    members = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id"), (F.col("doc_id") % 50).alias("cluster_id"),
        F.col("n_chars").alias("score"))
    text = _physical(cluster_representatives(members, "doc_id", "cluster_id",
                                             score_col="score"))
    assert "Window" not in text, text[:2000]
    assert text.count("partial_") >= 1, text[:2000]
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_verify_jaccard_plan_shape(spark, sf_dir):
    """The verify stage's shingle reduction must combine map-side
    (DISTINCT + size aggregates) and never window or go cartesian; the
    candidate restriction must appear as joins, not a Python filter."""
    from spark_schema_guard.operators.dedup import verify_jaccard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    pairs = docs.select(F.col("doc_id").alias("id_a"),
                        (F.col("doc_id") + 1).alias("id_b")).limit(100)
    text = _physical(verify_jaccard(docs, "doc_id", "text", pairs))
    assert "Window" not in text, text[:2000]
    assert "CartesianProduct" not in text
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
    assert text.count("partial_") >= 2, text[:2000]


def test_constraint_drift_single_plan_no_union(spark, sf_dir):
    """The contract diff must be ONE exploded projection over the joined
    profiles — no N-way union: a LAZY caller-supplied profile (here a
    plain aggregate over parquet) must scan its table exactly once."""
    from spark_schema_guard.operators import constraint_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def lazy_profile(side):
        # minimal hand-built profile satisfying the contract columns
        return docs.groupBy().agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("text").isNull().cast("long")).alias("n_nulls"),
            F.approx_count_distinct("text").alias("n_distinct"),
            F.min(F.col("n_chars").cast("double") * side).alias("min_num"),
            F.max(F.col("n_chars").cast("double") * side).alias("max_num"),
            F.min(F.length("text")).cast("int").alias("min_len"),
            F.max(F.length("text")).cast("int").alias("max_len"),
        ).select(
            F.lit("text").alias("column"), F.lit("string").alias("spark_type"),
            "n_rows", "n_nulls", "n_distinct", "min_num", "max_num",
            "min_len", "max_len", F.lit(None).cast("string").alias("enum_vals"),
            F.lit(True).alias("required"))

    out = constraint_drift(lazy_profile(1), lazy_profile(2))
    text = _physical(out)
    assert "Union" not in text, text[:2000]
    # one parquet scan per profile side, never one per finding
    assert text.count("Scan parquet") <= 2, text[:3000]
    rows = out.collect()
    assert {r["finding"] for r in rows} >= {"max_widened"}


def test_suggest_json_kv_plan_shape(spark, sf_dir):
    """suggest_json_constraints' stats pass: one variant parse exploded
    to (key, value) rows feeding a groupBy(key) — all JVM, exactly one
    Exchange, and a PARTIAL aggregate below it (map-side combine is what
    absorbs the per-doc sentinel key and bounds the shuffle to
    #keys x tasks rows)."""
    from spark_schema_guard.operators.suggest import _json_kv_stream

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = events.select(F.concat(
        F.lit('{"k": '), (F.col("event_id") % 7).cast("string"),
        F.lit(', "s": "x"}')).alias("doc"))
    grouped = _json_kv_stream(df, "doc").groupBy("key").agg(
        F.count(F.lit(1)).alias("n"))
    text = _physical(grouped)
    assert "BatchEvalPython" not in text
    assert "ArrowEvalPython" not in text
    assert text.count("Exchange") == 1
    assert "partial_count" in text  # map-side combine before the shuffle
    # the parse must run ONCE per doc: the sentinel when-chain
    # references the map 4 times, and if CollapseProject ever re-inlines
    # the dedicated parse projection the walk quadruples (A/B-measured
    # 20.8s -> 7.5s on the 2M-doc bench leg)
    assert text.count("parseJson") == 1


def test_quality_gate_plans_are_pure_projection(spark, sf_dir):
    """gopher_rules / c4_rules are per-doc Column projections: zero
    Exchange, zero Window, no Python nodes — they ride the scan (their
    line/token lambdas cost codegen fallback, a documented trade, but
    never a shuffle)."""
    from spark_schema_guard.operators.textstats import c4_rules, gopher_rules

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    for frame in (gopher_rules(docs, "doc_id", "text"),
                  c4_rules(docs, "doc_id", "text")):
        text = _physical(frame)
        assert "Exchange" not in text, text[:2000]
        assert "Window" not in text
        assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_capped_selection_windows_only_boundary_bucket(spark, sf_dir):
    """temperature_mix / cap_per_stratum inherit take_token_budget's
    two-stage shape: ONE per-stratum cumsum window, fed through the
    broadcast boundary join and a __bkt = boundary filter (never the
    whole stratum), with the pre-boundary prefix kept by a pure filter
    union branch."""
    from spark_schema_guard.operators import cap_per_stratum, temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for frame in (temperature_mix(docs, "doc_id", "lang", 100, tau=0.5),
                  cap_per_stratum(docs, "doc_id", "lang", 7)):
        text = _physical(frame)
        assert text.count("Window") == 1, text[:2000]
        assert "BroadcastHashJoin" in text or "BroadcastNestedLoop" in text
        assert "__bb" in text  # the boundary filter feeds the window
        assert "Union" in text
        assert "CartesianProduct" not in text
        assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_importance_weights_broadcasts_lambda(spark, sf_dir):
    """The fixed-point λ table joins the gram stream as a broadcast
    LocalTableScan (never a shuffle or a cartesian product), and the
    whole scoring plan stays JVM-side."""
    from spark_schema_guard.operators import importance_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = importance_weights(docs, "doc_id", "text",
                             docs.where(F.col("doc_id") % 97 == 0),
                             "doc_id", "text", n=2, buckets=512)
    text = _physical(out)
    assert "BroadcastHashJoin" in text, text[:2000]
    # the λ table is a single local-relation node (LocalTableScan or
    # the RDD-backed local scan), one plan node regardless of buckets
    assert "LocalTableScan" in text or "Scan ExistingRDD" in text
    assert "CartesianProduct" not in text
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_dup_span_plan_stays_jvm_and_windows_per_doc(spark, sf_dir):
    """dup_span_features: the coverage window partitions by doc id (its
    sort is bounded by one document's dup grams — never a corpus-wide
    window), the gram-count reduction carries fixed-width md5 keys, and
    the whole plan is JVM-side."""
    from spark_schema_guard.operators.dedup import dup_span_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dup_span_features(docs, "doc_id", "text", n=4)
    text = _physical(out)
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
    assert "CartesianProduct" not in text
    # every Window node is doc-partitioned (hashpartitioning on doc_id
    # feeds it), so no single-partition global sort exists in the plan
    import re

    for m in re.finditer(r"Window \[", text):
        seg = text[m.start():m.start() + 300]
        assert "windowspecdefinition(doc_id" in seg, seg


def test_nb_classifier_plan_broadcasts_lambda(spark, sf_dir):
    """The classifier's λ table is a broadcast local relation (the
    importance_weights shape): one LocalTableScan, a BroadcastHashJoin
    into the gram stream, zero Python nodes."""
    from spark_schema_guard.operators import nb_classifier_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = nb_classifier_scores(
        docs, "doc_id", "text",
        docs.where(F.col("doc_id") % 97 == 0), "doc_id", "text",
        docs.where(F.col("doc_id") % 89 == 0), "doc_id", "text",
        n=1, buckets=256)
    text = _physical(out)
    assert "BroadcastHashJoin" in text, text[:2000]
    assert "LocalTableScan" in text or "Scan ExistingRDD" in text
    assert "CartesianProduct" not in text
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_simhash_near_dups_filters_before_pair_dedup(spark, sf_dir):
    """The hamming cut must sit BELOW the pair-level dedup Exchange in
    the plan (filter inside the join stage, dropDuplicates only over
    surviving near-dups) — the 'dedup after the reduction stage' rule."""
    from spark_schema_guard.operators.dedup import simhash_near_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("doc_id") < 1000)
    out = simhash_near_dups(docs, "doc_id", "text", bits=32, max_hamming=3)
    text = _physical(out)
    # the aggregate implementing dropDuplicates consumes a hamming
    # column already computed+filtered upstream (Catalyst folds the cut
    # into the pair-join condition itself): every bit_count occurrence
    # must sit BELOW (deeper than) the dedup HashAggregate keyed on
    # (id_a, id_b) — toString is top-down, so all bit_count line
    # indices must be GREATER than the first dedup agg line, and the
    # dedup agg must aggregate the already-computed hamming column
    lines = text.splitlines()
    dedup_idx = next(i for i, ln in enumerate(lines)
                     if "HashAggregate" in ln and "id_a" in ln
                     and "id_b" in ln)
    assert "hamming" in lines[dedup_idx], lines[dedup_idx]
    bit_idxs = [i for i, ln in enumerate(lines) if "bit_count" in ln]
    assert bit_idxs and all(i > dedup_idx for i in bit_idxs), text[:3000]


if __name__ == "__main__":
    with open(GOLDEN, "w") as fh:
        json.dump(plan_texts(), fh, indent=1, sort_keys=True)
        fh.write("\n")
