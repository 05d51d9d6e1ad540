"""Pins for the round-3 VERDICT tasks and ADVICE-r02 findings."""

from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

# The official json-schema.org draft-04 metaschema, checked in so the
# metaschema tests below read one document that needs no reference.
DRAFT04_METASCHEMA = (Path(__file__).parent / "data"
                      / "draft-04-metaschema.json")


# --- VERDICT #1 / ADVICE #4: ANN rank stage + degenerate vectors ------------


def _toy_vectors(spark):
    """12 well-formed 4-dim vectors + a NULL, a ragged, and a NaN row."""
    rows = []
    for i in range(12):
        rows.append((i, [1.0 + i * 0.01, 0.5, -0.25, float(i % 3)]))
    rows.append((100, None))
    rows.append((101, [1.0]))
    rows.append((102, [float("nan"), 1.0, 1.0, 1.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_brute_drops_malformed_vectors(spark):
    from spark_schema_guard.operators.similarity import cosine_topk

    df = _toy_vectors(spark)
    queries = [(0, [1.0, 0.5, -0.25, 0.0])]
    out = cosine_topk(df, "vec_id", "embedding", queries, k=20).collect()
    ids = {r["neighbor_id"] for r in out}
    assert ids == set(range(1, 12))  # self + malformed rows excluded
    assert all(r["cosine"] is not None for r in out)
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, 12))


def test_lsh_and_ivf_bucket_columns_null_for_malformed(spark):
    from spark_schema_guard.operators.similarity import (
        hyperplanes, ivf_cell_column, lsh_bucket_column)

    df = _toy_vectors(spark)
    planes = hyperplanes(4, 3, seed=7)
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    got = df.select(
        "vec_id",
        lsh_bucket_column(F.col("embedding"), planes).alias("bucket"),
        ivf_cell_column(F.col("embedding"), cents).alias("cell"),
    ).collect()
    by_id = {r["vec_id"]: r for r in got}
    for bad in (100, 101, 102):
        assert by_id[bad]["bucket"] is None, bad
        assert by_id[bad]["cell"] is None, bad
    for ok in range(12):
        assert by_id[ok]["bucket"] is not None
        assert by_id[ok]["cell"] is not None


def test_lsh_max_bucket_drops_degenerate_bucket(spark):
    from spark_schema_guard.operators.similarity import cosine_topk_lsh

    # 30 near-identical vectors pile into one degenerate bucket; 3 live
    # in the opposite bucket.  With the cap the big bucket vanishes.
    rows = [(i, [1.0, 0.001 * i]) for i in range(30)]
    rows += [(200 + i, [-1.0, -0.001 * i]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = [(0, [1.0, 0.0])]

    uncapped = cosine_topk_lsh(df, "vec_id", "embedding", queries, k=5,
                               n_planes=2, multiprobe=0).collect()
    assert {r["neighbor_id"] for r in uncapped} <= set(range(30))
    assert len(uncapped) == 5

    capped = cosine_topk_lsh(df, "vec_id", "embedding", queries, k=5,
                             n_planes=2, multiprobe=0,
                             max_bucket=10).collect()
    assert capped == []  # the query's own bucket was degenerate -> dropped


# --- ADVICE #1: normalize_url userinfo / IPv6 authorities -------------------


def test_normalize_url_userinfo_and_ipv6(spark):
    from spark_schema_guard.operators.urlnorm import normalize_url

    cases = [
        # userinfo carried through verbatim, real host still normalized
        ("https://user:pw@Example.COM/x", "https://user:pw@example.com/x"),
        ("HTTPS://u@HOST.example:443/a", "https://u@host.example/a"),
        # IPv6 literal: host split on ']', not on ':'
        ("https://[::1]:8080/", "https://[::1]:8080/"),
        ("HTTP://[2001:DB8::1]/p", "http://[2001:db8::1]/p"),
        ("https://[::1]:443/x", "https://[::1]/x"),
        ("https://u@[::1]:9000/x?q=1#f", "https://u@[::1]:9000/x?q=1"),
        # the original safe normalizations still hold
        ("HTTPS://Host:443/a#frag", "https://host/a"),
        ("https://h", "https://h/"),
        ("not a url", "not a url"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r["n"] for r in
           df.select(normalize_url(F.col("u")).alias("n")).collect()]
    assert got == [want for _, want in cases]


# --- ADVICE #3: blank docs produce no n=1 grams ------------------------------


def test_word_ngram_stack_blank_doc_has_no_unigrams(spark):
    from spark_schema_guard.operators.textstats import (
        repetition_features, word_ngram_stack)

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a a b")], "doc_id long, text string")
    grams = word_ngram_stack(df, "doc_id", "text", ns=(1,)).collect()
    assert all(r["gram"] != "" for r in grams)
    assert {r["doc_id"] for r in grams} == {3}

    rep = {r["doc_id"]: r for r in
           repetition_features(df, "doc_id", "text", ns=(1,)).collect()}
    assert rep[1]["top1gram_frac"] == 0.0 and rep[1]["n_tokens"] == 0
    assert rep[2]["top1gram_frac"] == 0.0 and rep[2]["n_tokens"] == 0
    assert rep[3]["top1gram_frac"] == pytest.approx(2 / 3, abs=1e-4)


def test_decontaminate_ignores_blank_docs_at_n1(spark):
    from spark_schema_guard.operators.decontam import ngram_decontaminate

    docs = spark.createDataFrame(
        [(1, ""), (2, "secret token here")], "doc_id long, text string")
    bench = spark.createDataFrame([("",), ("secret token here",)], "text string")
    out = {r["doc_id"]: r for r in
           ngram_decontaminate(docs, "doc_id", "text", bench, "text",
                               n=1).collect()}
    assert out[1]["contaminated"] is False  # blank doc vs blank bench row
    assert out[2]["contaminated"] is True


# --- ADVICE #2: audit unit must never be '' ----------------------------------


def test_audit_unit_prefers_metadata_and_rejects_empty(spark, tmp_path):
    import spark_schema_guard as ssg
    from spark_schema_guard.audit import AuditedRun

    data = spark.range(10).select(F.col("id").cast("string").alias("url"))
    path = str(tmp_path / "pages")
    data.repartition(2).write.parquet(path)
    plan = ssg.compile_plan(
        {"type": "object", "required": ["url"]},
        spark.read.parquet(path).schema)

    run = AuditedRun(spark, plan, path, str(tmp_path / "audit"), run_id="r1")
    units = [r["__unit"] for r in
             run.pending_input().select("__unit").distinct().collect()]
    assert len(units) == 2 and all(u for u in units)

    # a source with no file lineage must fail loudly, not resume-skip
    spark.range(5).select(F.col("id").cast("string").alias("url")) \
        .createOrReplaceTempView("ssg_r3_no_files")
    run2 = AuditedRun(spark, plan, "ssg_r3_no_files",
                      str(tmp_path / "audit2"), run_id="r2")
    with pytest.raises(Exception, match="audit unit is empty"):
        run2.pending_input().collect()
    spark.catalog.dropTempView("ssg_r3_no_files")


# --- VERDICT #5: one native variant parse; duplicate-key parity --------------


def test_jsoncol_duplicate_keys_last_wins(spark, reference):
    """The exact path's variant parse must treat duplicate JSON keys as
    last-key-wins, exactly like the reference's json.loads — the native
    variant builder rejects them unless allowDuplicateKeys is set."""
    import json

    from spark_schema_guard.jsoncol import validate_json_column

    schema = {"type": "object", "required": ["k"],
              "properties": {"k": {"type": "integer",
                                   "minimum": 0, "maximum": 80}}}
    rows = ['{"k": 99, "k": 2}', '{"k": 2, "k": 99}', '{"k": 99}']
    ref = reference.compile(schema)

    def ref_ok(txt):
        try:
            ref(json.loads(txt))
            return True
        except Exception:
            return False

    df = spark.createDataFrame([(r,) for r in rows], "props string")
    out = validate_json_column(df, "props", schema, engine="columnar")
    got = {r["props"]: r["verdict"] for r in out.collect()}
    assert got == {r: ref_ok(r) for r in rows}
    assert got['{"k": 99, "k": 2}'] is True  # last key wins, 2 <= 80


# --- VERDICT #8: public-API round materialization in CC ----------------------


def test_connected_components_storage_hygiene(spark, tmp_path):
    """The distributed CC loop must leave no per-round residue: at most
    one persistent RDD (the caller-owned result snapshot) and only the
    two alternating round dirs in the caller's work_dir.  The private
    persistent-RDD bridge may be used to ASSERT here, never by the
    operator itself."""
    import os

    from spark_schema_guard.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")

    def n_persistent():
        return len(spark.sparkContext._jsc.getPersistentRDDs()
                   .keySet().toArray())

    before = n_persistent()
    wd = str(tmp_path / "cc")
    out = connected_components(edges, driver_max_edges=0, work_dir=wd)
    got = {(r["id"], r["component"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert n_persistent() <= before + 1
    assert set(os.listdir(wd)) <= {"labels_0", "labels_1"}

    # the operator source itself must not touch the private bridge
    import inspect

    import spark_schema_guard.operators.dedup as dd
    assert "getPersistentRDDs" not in inspect.getsource(dd)


def test_connected_components_default_tmp_cleanup(spark):
    """Without work_dir (and no checkpoint dir) the loop creates and
    fully removes its own local temp base."""
    import glob
    import tempfile

    from spark_schema_guard.operators.dedup import connected_components

    pre = set(glob.glob(f"{tempfile.gettempdir()}/ssg_cc_*"))
    edges = spark.createDataFrame([(5, 6), (6, 7)], "id_a long, id_b long")
    out = connected_components(edges, driver_max_edges=0)
    assert {(r["id"], r["component"]) for r in out.collect()} == \
        {(5, 5), (6, 5), (7, 5)}
    assert set(glob.glob(f"{tempfile.gettempdir()}/ssg_cc_*")) == pre


# --- ADVICE #5: v1-write fallback keyed on error condition -------------------


def test_v1_rejection_detector():
    from pyspark.errors import AnalysisException

    from spark_schema_guard.io import _is_v1_write_rejection

    assert not _is_v1_write_rejection(ValueError("Cannot write into v1 table"))

    class FakeV1Rejection(AnalysisException):
        def __init__(self):
            Exception.__init__(self)

        def getCondition(self):
            return "_LEGACY_ERROR_TEMP_1012"

    class FakeOtherAnalysis(AnalysisException):
        def __init__(self):
            Exception.__init__(self)

        def getCondition(self):
            return "TABLE_OR_VIEW_NOT_FOUND"

    assert _is_v1_write_rejection(FakeV1Rejection())
    assert not _is_v1_write_rejection(FakeOtherAnalysis())


def test_ann_two_stage_matches_single_partition_answer(spark):
    """Exactness of the per-partition prune: repartitioning the input
    must never change the top-k answer (any global winner is a local
    winner in its own partition)."""
    from spark_schema_guard.operators.similarity import cosine_topk

    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = [(1, rows[1][1]), (2, rows[2][1])]

    one = cosine_topk(df.coalesce(1), "vec_id", "embedding", queries, k=7)
    many = cosine_topk(df.repartition(13), "vec_id", "embedding", queries, k=7)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(((r["query_id"], r["rank"], r["neighbor_id"])
                   for r in one.collect())) == \
           sorted(((r["query_id"], r["rank"], r["neighbor_id"])
                   for r in many.collect()))


# --- VERDICT #2/#3: recursive $ref unroll + variant uniqueItems -------------


_UNIQUE_CASES = [
    # reference tests/test_array.py:49-73 (test_unique_items), plus the
    # freeze-canon corner cases draft04.py:412-421 implies: bool renders
    # str(var) ("True"/"False") and numbers compare cross-type
    [], [1], [1, 1], [1, 2, 3],
    [True, False], [True, True],
    ["abc", "bce", "hhh"], ["abc", "abc"],
    [{"a": "a"}, {"b": "b"}], [{"a": "a"}, {"a": "a"}],
    [{"a": "a", "b": "b"}, {"b": "b", "c": "c"}],
    [{"a": "a", "b": "b"}, {"b": "b", "a": "a"}],
    [1, "1"], [{"a": "b"}, "{'a': 'b'}"],
    [[1, 2], [2, 1]], [[1, 2], [1, 2]],
    [{"a": {"b": {"c": [1, 2]}}}, {"a": {"b": {"c": [1, 2]}}}],
    [{"a": {"b": {"c": [2, 1]}}}, {"a": {"b": {"c": [1, 2]}}}],
    [True, "True"], [False, "False"], [1, 1.0], [0, False],
    [None, None], [None, False], [1.5, 1.5], [1.5, "1.5"],
    [[], []], [{}, {}], [[], {}],
]


def test_variant_unique_items_matches_reference(spark, reference):
    """uniqueItems over a JSON column (variant canon path) reproduces
    the reference's freeze canonicalization verdict-for-verdict —
    including the deliberate bool/"True" collision and cross-type
    numeric equality."""
    import json
    from spark_schema_guard.jsoncol import validate_json_column

    schema = {"type": "object",
              "properties": {"a": {"type": "array", "uniqueItems": True}}}
    theirs = reference.compile(schema)
    docs = [json.dumps({"a": case}) for case in _UNIQUE_CASES]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = validate_json_column(df, "doc", schema, engine="columnar")
    got = {r["doc"]: (r["verdict"],
                      [v["message"] for v in r["violations"]])
           for r in out.collect()}
    for d in docs:
        try:
            theirs(json.loads(d))
            assert got[d] == (True, []), (d, got[d])
        except reference.JsonSchemaValueException as e:
            assert got[d][0] is False, d
            assert got[d][1][0] == e.message, (d, got[d], e.message)


def test_metaschema_columnar_budget_routes_to_python(spark):
    """The draft-04 metaschema (~10 self-refs per level, all inside
    combinator probes) exceeds the default plan_text_budget: columnar
    raises PlanTooLarge at COMPILE time (never a stall), and
    engine='auto' lands on the exact python engine."""
    import json
    from spark_schema_guard.columnar.compiler import PlanTooLarge
    from spark_schema_guard.jsoncol import validate_json_column

    meta = json.loads(DRAFT04_METASCHEMA.read_text())
    df = spark.createDataFrame([('{"type": "string"}',),
                                ('{"type": "nope"}',)], "doc string")
    with pytest.raises(PlanTooLarge, match="budget"):
        validate_json_column(df, "doc", meta, engine="columnar")
    out = validate_json_column(df, "doc", meta, engine="auto")
    got = {r["doc"]: r["verdict"] for r in out.collect()}
    assert got == {'{"type": "string"}': True, '{"type": "nope"}': False}


def test_metaschema_columnar_depth1_parity_slow(spark, reference):
    """Capability proof (the suite's one slow test, ~40 s of Catalyst
    analysis): with a raised plan_text_budget the draft-04 metaschema
    DOES compile columnar at unroll depth 1 and matches the reference
    message-for-message on schema documents nested within the bound."""
    import json
    from spark_schema_guard.jsoncol import validate_json_column

    meta = json.loads(DRAFT04_METASCHEMA.read_text())
    theirs = reference.compile(meta)
    docs = [json.dumps(d, sort_keys=True) for d in [
        {}, {"type": "object",
             "properties": {"a": {"type": "string"}}, "required": ["a"]},
        {"type": ["string", "null"], "minLength": 2},
        {"type": 1}, {"type": "objekt"}, {"type": []},
        {"type": ["string", "string"]}, {"minLength": -1},
        {"minLength": 1.5}, {"required": ["a", "a"]},
        {"properties": {"a": {"type": 42}}}, {"items": "not-a-schema"},
        {"enum": []}, {"multipleOf": 0}, {"exclusiveMinimum": "yes"},
    ]]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    out = validate_json_column(df, "doc", meta, engine="columnar",
                               ref_unroll_depth=1, canon_depth=1,
                               plan_text_budget=20_000_000)
    got = {r["doc"]: (r["verdict"],
                      [v["message"] for v in r["violations"]])
           for r in out.collect()}
    for d in docs:
        try:
            theirs(json.loads(d))
            assert got[d][0] is True, (d, got[d])
        except reference.JsonSchemaValueException as e:
            assert got[d][0] is False, d
            assert got[d][1][0] == e.message, (d, got[d], e.message)


# --- VERDICT #4: measured recall floors for the approximate ANN paths -------


def _recall_truth(emb, queries, k):
    from spark_schema_guard.operators.similarity import cosine_topk

    truth = {}
    for r in cosine_topk(emb, "vec_id", "embedding", queries,
                         k=k).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return truth


def _recall_of(frame, truth):
    got = {}
    for r in frame.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return sum(len(got.get(q, set()) & t) / len(t)
               for q, t in truth.items()) / len(truth)


@pytest.mark.skipif(
    not __import__("os").path.exists("/root/testdata/sf0.1"),
    reason="needs the sf0.1 embeddings corpus")
def test_ann_recall_floors_at_defaults(spark):
    """Pins the measured recall@5 (SCALE.md sweep: IVF 16/4 = 0.89,
    multi-table LSH 6/2/4 = 0.52 on the sf0.1 embeddings) with
    headroom, so a refactor cannot silently degrade the approximate
    paths.  Also checks multi-table LSH emits no duplicate neighbors
    (a pair can match in several tables)."""
    from pyspark.sql import functions as F
    from spark_schema_guard.operators.similarity import (
        cosine_topk_ivf, cosine_topk_lsh)
    from spark_schema_guard.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings").cache()
    qrows = (emb.select("vec_id", "embedding",
                        F.md5(F.col("vec_id").cast("string")).alias("h"))
             .orderBy("h").limit(8).collect())
    queries = [(r["vec_id"], [float(x) for x in r["embedding"]])
               for r in qrows]
    truth = _recall_truth(emb, queries, 5)

    ivf = cosine_topk_ivf(emb, "vec_id", "embedding", queries, k=5)
    assert _recall_of(ivf, truth) >= 0.70

    lsh = cosine_topk_lsh(emb, "vec_id", "embedding", queries, k=5,
                          n_tables=4)
    rows = lsh.collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
    assert len(pairs) == len(set(pairs))  # no cross-table duplicates
    ranks = {}
    for r in rows:
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in ranks.values())
    assert _recall_of(lsh, truth) >= 0.35


# --- driver contract: entry() itself is smoke-checked every round -----------


def test_driver_entry_contract(spark):
    """The driver calls ``entry(spark)`` and collects: pin that it runs,
    yields rows, and keeps a stable schema; and that every ``queries()``
    key has an ``oracle_sql()`` entry (the per-round correctness gate
    compares them pairwise)."""
    import __spark_entry__ as mod

    out = mod.entry(spark)
    assert [f.name for f in out.schema.fields] == [
        "verdict", "first_rule", "n_rows"]
    rows = out.collect()
    assert len(rows) >= 1
    assert {r["verdict"] for r in rows} <= {True, False}

    q, o = mod.queries(), mod.oracle_sql()
    assert set(q) == set(o)
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and s.strip().upper().startswith(("SELECT", "WITH"))
               for s in o.values())


def test_webgen_replica_stride_is_long(spark):
    """replicas >= ~21475 used to overflow the int32 stride product under
    ANSI mode (caught by the 128M-row scaling ladder).  Pin long math."""
    from spark_schema_guard.webgen import web_pages

    one = spark.createDataFrame(
        [(1, "hello world text", "en", "src1", 16)],
        "doc_id long, text string, lang string, source string, n_chars int")
    top = (web_pages(one, replicas=30000)
           .agg(F.max(F.expr("CAST(regexp_extract(url, '([0-9]+)$', 1) AS LONG)"))
                .alias("m")).collect()[0]["m"])
    assert top == 1 + 29999 * 100000


# --- round-3 code-review findings --------------------------------------------


def test_take_token_budget_integer_strata(spark):
    """The boundary frame's __stratum DDL used to hardcode 'string',
    crashing createDataFrame for any non-string strata column."""
    from spark_schema_guard.operators.sampling import take_token_budget

    rows = [(i, i % 3, 10) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, grp int, tok long")
    out = take_token_budget(df, "doc_id", "tok", strata_col="grp",
                            budgets={0: 50, 1: 100}, default_budget=0)
    got = out.groupBy("grp").agg(F.sum("tok").alias("t")).collect()
    by = {r["grp"]: r["t"] for r in got}
    assert by.get(0, 0) == 50 and by.get(1, 0) == 100 and 2 not in by


def test_varsql_json_literal_regex_matches_scalars():
    """The raw-string '\\\\s*$' tail made the rescue regex unmatchable —
    it must accept exactly what the typed path's literal_ok accepts."""
    import re

    from spark_schema_guard.columnar import varsql

    for ok in ["123", "-4.5", "1e10", "true", "false", "null",
               '"x"', ' 42 ', '  "quoted"  ']:
        assert re.search(varsql._JSON_LITERAL_RE, ok), ok
    for bad in ["{", "[1", "abc", ""]:
        assert not re.search(varsql._JSON_LITERAL_RE, bad), bad


def test_decimal_bound_matches_reference_codegen_roundtrip(spark, reference):
    """fastjsonschema interpolates bounds into generated source via
    str(), so ``Decimal('1e18') + 0.1`` COMPARES as the re-parsed float
    literal 1e18 (BIGINT 10^18 passes) while integral Decimals compare
    as exact int literals — and the MESSAGE keeps str(Decimal).  Pin
    that round trip on both engines (rowcheck + variant SQL)."""
    import json
    from decimal import Decimal

    import spark_schema_guard as ssg
    from spark_schema_guard.jsoncol import validate_json_column

    cases = [
        # (bound, doc, key-value as Python)
        (Decimal("1000000000000000000.1"), 1000000000000000000),
        (Decimal("1000000000000000000.1"), 999999999999999999),
        (Decimal("10000000000000000001"), 10000000000000000000),
        (Decimal("2.5"), 2),
        (Decimal("2.5"), 3),
        # JSON integers beyond 2^63 land in the variant's DECIMAL(p,0)
        # tag — exact there too, for plain int bounds alike
        (10 ** 19 + 1, 10 ** 19),
        (10 ** 19 + 1, 10 ** 19 + 2),
    ]
    for bound, val in cases:
        schema = {"type": "object", "required": ["k"],
                  "properties": {"k": {"type": "integer", "minimum": bound}}}
        doc = f'{{"k": {val}}}'
        ref = reference.compile(schema)
        try:
            ref(json.loads(doc))
            expected, ref_msg = True, None
        except Exception as e:
            expected, ref_msg = False, str(e)

        # python engine: verdict AND byte-equal message
        mine = ssg.compile(schema, fast_fail=False)
        errs = mine.collect(json.loads(doc))
        assert (not errs) == expected, (bound, val)
        if ref_msg is not None:
            assert errs[0].message == ref_msg, (bound, val)

        # variant SQL engine
        df = spark.createDataFrame([(doc,)], "js string")
        row = validate_json_column(df, "js", schema,
                                   engine="columnar").collect()[0]
        assert row["verdict"] == expected, (bound, val)
        if ref_msg is not None:
            assert row["violations"][0]["message"] == ref_msg, (bound, val)


def test_connected_components_checkpointdir_scratch_cleanup(spark, tmp_path):
    """With a checkpoint dir set, the loop derives an ssg_cc_* scratch
    subdir — it created it, so it must also remove it (previously only
    the mkdtemp base was cleaned; object-store scratch accumulated two
    label snapshots per call)."""
    import os

    from spark_schema_guard.operators.dedup import connected_components

    sc = spark.sparkContext
    ck = str(tmp_path / "ck")
    sc.setCheckpointDir(ck)
    try:
        edges = spark.createDataFrame([(1, 2), (2, 3)],
                                      "id_a long, id_b long")
        out = connected_components(edges, driver_max_edges=0)
        assert {(r["id"], r["component"]) for r in out.collect()} == \
            {(1, 1), (2, 1), (3, 1)}
        leftovers = [d for d in os.listdir(ck) if d.startswith("ssg_cc_")]
        assert leftovers == []
    finally:
        # reset so later tests see the no-checkpoint-dir default again
        sc._jsc.sc().setCheckpointDir(None)


def test_simhash_near_dups_bucket_cap(spark):
    """A degenerate (blk, key) bucket — e.g. many identical texts —
    must be droppable via max_bucket (quadratic-join guard, mirroring
    minhash_candidates); the default cap leaves small corpora exact."""
    from spark_schema_guard.operators.dedup import simhash_near_dups

    rows = [(i, "the same exact text repeated") for i in range(40)] + \
           [(100, "something else entirely here"),
            (101, "something else entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # default cap (10000): all-pairs answer — the 40-clone clique links
    full = simhash_near_dups(df, "doc_id", "text", bits=32, max_hamming=3)
    assert full.where(F.col("id_a") < 40).count() == 40 * 39 // 2

    # cap below the clique: its buckets drop, the small pair survives
    capped = simhash_near_dups(df, "doc_id", "text", bits=32,
                               max_hamming=3, max_bucket=8)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 40 and b < 40 for a, b in got)


def test_verify_jaccard_restrict_parity(spark, sf_dir):
    """restrict=True (semi-join the corpus to pair members before
    shingling) must return exactly the default path's scores."""
    from spark_schema_guard.operators.dedup import verify_jaccard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    pairs = docs.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 3).alias("id_b"))
    base = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in verify_jaccard(docs, "doc_id", "text", pairs).collect()}
    rest = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in verify_jaccard(docs, "doc_id", "text", pairs,
                                    restrict=True).collect()}
    assert base and base == rest


def test_suggested_schema_exact_bounds_past_2_53(spark):
    """Mined integer bounds must come from the exact long view: the
    double view rounds past 2^53 and a rounded-up minimum would exclude
    the true min — breaking the mined contract's closure guarantee."""
    import spark_schema_guard as ssg
    from spark_schema_guard.operators import (suggest_constraints,
                                              suggested_schema)

    lo, hi = (1 << 60) + 1, (1 << 60) + 4049
    df = spark.createDataFrame([(lo,), (hi,)], "big_id long")
    prof = {r["column"]: r for r in suggest_constraints(df).collect()}
    assert prof["big_id"]["min_int"] == lo          # exact
    assert prof["big_id"]["max_int"] == hi
    assert float(prof["big_id"]["min_num"]) != lo   # the double view rounds

    mined = suggested_schema(df)
    assert mined["properties"]["big_id"]["minimum"] == lo
    assert mined["properties"]["big_id"]["maximum"] == hi
    out = ssg.compile_plan(mined, df.schema).apply(df)
    assert out.where(~F.col("verdict")).count() == 0  # closed over snapshot
