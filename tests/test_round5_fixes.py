"""Pins for the round-5 VERDICT tasks and ADVICE-r04 findings:
density-adaptive ANN/SemDeDup defaults, at-scale recall floors, the
reported (no-longer-silent) auto bucket cap, and max_bucket input
validation."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


# --- VERDICT #1: density-adaptive "auto" defaults ---------------------------


def test_auto_param_formulas():
    from spark_schema_guard.operators.semdedup import _auto_sem_centroids
    from spark_schema_guard.operators.similarity import (
        _auto_n_centroids, _auto_n_planes)

    # n_planes targets LSH_TARGET_BUCKET rows/bucket, clamped [4, 16]
    assert _auto_n_planes(100) == 4
    assert _auto_n_planes(2_000) == 4          # ceil(log2(3.9)) = 2 -> 4
    assert _auto_n_planes(20_000) == 6         # ceil(log2(39.1)) = 6
    assert _auto_n_planes(1_000_000) == 11
    assert _auto_n_planes(10**12) == 16        # clamp top
    # n_centroids is sqrt-N clamped [8, 65536]
    assert _auto_n_centroids(10) == 8
    assert _auto_n_centroids(2_000) == 45
    assert _auto_n_centroids(20_000) == 141
    assert _auto_n_centroids(10**12) == 65_536
    # SemDeDup cells target SEM_TARGET_CELL rows/cell, clamped
    assert _auto_sem_centroids(100) == 2
    assert _auto_sem_centroids(20_000) == 20
    assert _auto_sem_centroids(10**9) == 100_000


def test_auto_string_params_validated(spark):
    from spark_schema_guard.operators.semdedup import semantic_near_dups
    from spark_schema_guard.operators.similarity import (
        cosine_topk_ivf, cosine_topk_lsh)

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, v array<double>")
    q = [(1, [1.0, 0.0])]
    with pytest.raises(ValueError, match="n_planes"):
        cosine_topk_lsh(df, "vec_id", "v", q, n_planes="atuo")
    with pytest.raises(ValueError, match="n_tables"):
        cosine_topk_lsh(df, "vec_id", "v", q, n_planes=4, n_tables="all")
    with pytest.raises(ValueError, match="n_centroids"):
        cosine_topk_ivf(df, "vec_id", "v", q, n_centroids="max")
    with pytest.raises(ValueError, match="n_centroids"):
        semantic_near_dups(df, "vec_id", "v", n_centroids="none")


def test_semdedup_auto_matches_explicit(spark):
    """auto must resolve to ceil(n / SEM_TARGET_CELL) on the non-NULL
    vector count and give the exact same pairs as that explicit int."""
    from spark_schema_guard.operators.semdedup import semantic_near_dups

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(60)]
    rows.append((999, None))
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    auto = sorted((r["id_a"], r["id_b"]) for r in semantic_near_dups(
        df, "vec_id", "v", threshold=0.3).collect())
    # 60 non-NULL vectors / 1000 target -> clamp floor of 2 cells
    explicit = sorted((r["id_a"], r["id_b"]) for r in semantic_near_dups(
        df, "vec_id", "v", threshold=0.3, n_centroids=2).collect())
    assert auto == explicit and len(auto) > 0


# --- ADVICE-r04 (low): max_bucket input validation --------------------------


def test_max_bucket_rejects_garbage(spark):
    from spark_schema_guard.operators.similarity import _cap_buckets

    df = spark.range(5).select(F.col("id").alias("bucket"))
    for bad in ("aut0", "none", 2.5, True, 0, -3):
        with pytest.raises(ValueError, match="max_bucket"):
            _cap_buckets(df, "bucket", bad, n_buckets=4)
    # the valid forms still work
    assert _cap_buckets(df, "bucket", None).count() == 5
    assert _cap_buckets(df, "bucket", 10).count() == 5
    assert _cap_buckets(df, "bucket", "auto", n_buckets=4).count() == 5


def test_max_bucket_accepts_numpy_integers(spark):
    """Any numbers.Integral is a cap (a numpy.int64 from a sizing
    computation caps exactly like the int); bool is still garbage."""
    from spark_schema_guard.operators.similarity import _cap_buckets

    # bucket 0 holds 3 rows, bucket 1 holds 2
    df = spark.range(5).select((F.col("id") % 2).alias("bucket"))
    for cap, kept in ((np.int64(2), 2), (np.int32(3), 5), (2, 2)):
        assert _cap_buckets(df, "bucket", cap).count() == kept
    for bad in (True, np.bool_(True), np.float64(2.0), np.int64(0)):
        with pytest.raises(ValueError, match="max_bucket"):
            _cap_buckets(df, "bucket", bad)


# --- ADVICE-r04 (medium): the auto cap is reported, not silent --------------


def test_auto_cap_warns_when_it_drops(spark):
    """Dropping more than CAP_WARN_FRACTION of the corpus must emit a
    UserWarning naming the dropped rows — the silent-recall-regression
    fix.  A benign corpus must stay warning-free."""
    from spark_schema_guard.operators.similarity import (
        AUTO_CAP_FLOOR, cosine_topk_lsh)

    n = AUTO_CAP_FLOOR + 2_000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0), F.lit(4.0))
        .alias("embedding"))
    queries = [(0, [1.0, 2.0, 3.0, 4.0])]
    with pytest.warns(UserWarning, match="under-recall"):
        out = cosine_topk_lsh(df, "vec_id", "embedding", queries, k=5,
                              n_planes=6, multiprobe=0,
                              n_tables=1).collect()
    assert out == []

    import warnings as _w
    benign = spark.createDataFrame(
        [(i, [1.0 + 0.01 * i, 0.5 - 0.002 * i, float(i % 7), -1.0])
         for i in range(200)], "vec_id long, embedding array<double>")
    with _w.catch_warnings():
        _w.simplefilter("error")
        got = cosine_topk_lsh(benign, "vec_id", "embedding",
                              [(0, [1.0, 0.5, 3.0, -1.0])], k=5,
                              n_planes=3, multiprobe=1,
                              n_tables=1).collect()
    assert len(got) == 5


def test_auto_cap_no_join_when_nothing_dropped(spark):
    """The common case (no bucket over cap) must add NO keep-join to
    the candidate plan — the round-4 cap cost came from an always-on
    bucket-histogram subtree inside the candidate job."""
    from spark_schema_guard.operators.similarity import cosine_topk_lsh

    benign = spark.createDataFrame(
        [(i, [1.0 + 0.01 * i, 0.5 - 0.002 * i, float(i % 7), -1.0])
         for i in range(200)], "vec_id long, embedding array<double>")
    auto = cosine_topk_lsh(benign, "vec_id", "embedding",
                           [(0, [1.0, 0.5, 3.0, -1.0])], k=5,
                           n_planes=3, multiprobe=1, n_tables=1)
    off = cosine_topk_lsh(benign, "vec_id", "embedding",
                          [(0, [1.0, 0.5, 3.0, -1.0])], k=5,
                          n_planes=3, multiprobe=1, n_tables=1,
                          max_bucket=None)
    plan_auto = auto._jdf.queryExecution().optimizedPlan().toString()
    plan_off = off._jdf.queryExecution().optimizedPlan().toString()
    assert plan_auto.count("Join") == plan_off.count("Join")


# --- ADVICE-r04 (low): decontam broadcast lifecycle + error message ---------


def test_bench_broadcast_lives_with_its_frame(spark, monkeypatch):
    """The bench-matrix broadcast is held by the returned frame's plan
    (the JVM PythonFunction), not by a module registry: the Python
    handle is garbage once the call returns, and the frame still
    collects."""
    import gc
    import weakref

    from pyspark import SparkContext

    from spark_schema_guard.operators import decontam

    handles = []
    broadcast = SparkContext.broadcast

    def tracked(self, value):
        bc = broadcast(self, value)
        handles.append(weakref.ref(bc))
        return bc

    monkeypatch.setattr(SparkContext, "broadcast", tracked)
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "doc_id long, v array<double>")
    bench = spark.createDataFrame([([1.0, 0.0],)], "bv array<double>")
    out = decontam.embedding_decontaminate(
        docs, "doc_id", "v", bench, "bv", threshold=0.99)
    gc.collect()
    assert handles and all(ref() is None for ref in handles)
    got = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    assert got == {1: True, 2: False}


def test_max_bench_error_names_old_default(spark):
    from spark_schema_guard.operators.decontam import embedding_decontaminate

    docs = spark.createDataFrame([(1, [1.0])], "doc_id long, v array<double>")
    bench = spark.createDataFrame([([float(i)],) for i in range(4)],
                                  "bv array<double>")
    with pytest.raises(ValueError, match="2,000,000"):
        embedding_decontaminate(docs, "doc_id", "v", bench, "bv",
                                max_bench=3)


# --- ADVICE-r04 (low): approx n_urls is detectable --------------------------


def test_domain_report_marks_approx_n_urls(spark):
    from spark_schema_guard.operators.stats import domain_report

    df = spark.createDataFrame(
        [("https://a.example/x", "some plain text here", "en")] * 3,
        "url string, text string, lang string")
    approx = domain_report(df, "url", "text", "lang")
    assert approx.schema["n_urls"].metadata.get("approx") is True
    exact = domain_report(df, "url", "text", "lang", distinct="exact")
    assert not exact.schema["n_urls"].metadata.get("approx")
    assert exact.select("host", "n_urls").collect()[0]["n_urls"] == 1


# --- VERDICT #3: packed recursion in the variant SQL world ------------------


RECURSIVE_SCHEMA = {
    "type": "object",
    "definitions": {"arr": {"type": "array", "items": {"$ref": "#"}}},
    "properties": {
        "items": {"anyOf": [{"$ref": "#"}, {"$ref": "#/definitions/arr"}]},
        "name": {"type": "string"},
    },
    "additionalProperties": {"$ref": "#"},
}

RECURSIVE_DOCS = [
    {"name": "ok"},
    {"items": {"name": "n"}},
    {"items": [{"name": "n"}]},
    {"items": "neither"},
    {"items": [{"name": 42}]},     # pinned: the NULL-segment bug made
    {"zzz": {"name": "deep"}},     # the arr branch silently pass this
    {"zzz": 5},
    {"zzz": {"name": 9}},
    {"items": [[{"name": "x"}]]},  # arr-of-arr fails items: not a schema
]


def _jsoncol_results(spark, schema, docs, **kw):
    import json as _json

    from spark_schema_guard.jsoncol import validate_json_column

    df = spark.createDataFrame(
        [(i, _json.dumps(d)) for i, d in enumerate(docs)],
        "i INT, doc STRING")
    out = validate_json_column(df, "doc", schema, engine="columnar", **kw)
    return {r["i"]: (r["verdict"], [v["message"] for v in r["violations"]])
            for r in out.select("i", "verdict", "violations").collect()}


def test_packed_recursion_matches_inline(spark):
    """Packed recursion (the default) must produce the exact verdicts
    and messages of the classic inline unroll on mutual-recursion
    schemas — including non-container values at packed sites (a NULL
    collection leg used to NULL the whole kid array: silent pass)."""
    packed = _jsoncol_results(spark, RECURSIVE_SCHEMA, RECURSIVE_DOCS)
    inline = _jsoncol_results(spark, RECURSIVE_SCHEMA, RECURSIVE_DOCS,
                              pack_recursion=False)
    assert packed == inline
    assert packed[4][0] is False and packed[8][0] is False


MUTUAL_SCHEMA = {
    "definitions": {
        "a": {"type": "object",
              "properties": {"b": {"$ref": "#/definitions/b"},
                             "n": {"type": "integer"}}},
        "b": {"type": "object",
              "properties": {"a": {"$ref": "#/definitions/a"},
                             "s": {"type": "string"}}},
    },
    "$ref": "#/definitions/a",
}


def test_packed_vs_inline_depth_bound_on_mutual_recursion(spark):
    """Pinned divergence at exactly ref_unroll_depth: packed recursion
    bounds a ref cycle by chain LEVELS (each level pushes every
    component member once), the inline unroll by repeats of each
    canonical along the path.  Data ``ref_unroll_depth`` hops deep
    validates exactly under both; one hop deeper, packed reports the
    depth bound while inline still validates (a/b alternate, so each
    canonical has only been repeated about half as often)."""
    depth = 2
    docs = [
        {"b": {"a": {"n": "bad"}}},       # exactly `depth` hops
        {"b": {"a": {"n": 1}}},
        {"b": {"a": {"b": {"s": 5}}}},    # depth + 1 hops
        {"b": {"a": {"b": {}}}},
    ]
    bound = ("data.b.a.b exceeds the columnar plan's $ref unroll depth "
             "(2); raise ref_unroll_depth or use engine='python'")
    packed = _jsoncol_results(spark, MUTUAL_SCHEMA, docs,
                              ref_unroll_depth=depth,
                              on_depth_exceeded="violation")
    inline = _jsoncol_results(spark, MUTUAL_SCHEMA, docs,
                              ref_unroll_depth=depth,
                              on_depth_exceeded="violation",
                              pack_recursion=False)
    within = {0: (False, ["data.b.a.n must be integer"]), 1: (True, [])}
    assert {i: packed[i] for i in within} == within
    assert {i: inline[i] for i in within} == within
    assert packed[2] == packed[3] == (False, [bound])
    assert inline[2] == (False, ["data.b.a.b.s must be string"])
    assert inline[3] == (True, [])


# --- VERDICT #1: at-density recall floors for the auto defaults -------------


@pytest.mark.skipif(
    not os.path.exists("/root/testdata/sf0.1"),
    reason="needs the sf0.1 embeddings corpus")
def test_ann_auto_recall_floor_at_10x_density(spark):
    """The round-4 gap: the old fixed defaults held ~0.2 recall@5 at
    20k vectors and nothing failed.  Pin the auto defaults at the 10x
    amplified corpus (the SCALE.md sweep's density) with headroom:
    LSH auto >= 0.5, IVF auto >= 0.8."""
    import sys
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from recall_sweep import amplify_embeddings

    from spark_schema_guard.operators.similarity import (
        cosine_topk, cosine_topk_ivf, cosine_topk_lsh)
    from spark_schema_guard.session import load_table

    base = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    emb = amplify_embeddings(spark, base, 10).cache()
    qrows = (emb.select("vec_id", "embedding",
                        F.md5(F.col("vec_id").cast("string")).alias("h"))
             .orderBy("h").limit(8).collect())
    queries = [(r["vec_id"], [float(x) for x in r["embedding"]])
               for r in qrows]
    truth = {}
    for r in cosine_topk(emb, "vec_id", "embedding", queries,
                         k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(frame):
        got = {}
        for r in frame.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(q, set()) & t) / len(t)
                   for q, t in truth.items()) / len(truth)

    lsh = recall(cosine_topk_lsh(emb, "vec_id", "embedding", queries, k=5))
    ivf = recall(cosine_topk_ivf(emb, "vec_id", "embedding", queries, k=5))
    emb.unpersist()
    assert lsh >= 0.5, f"LSH auto recall@5 fell to {lsh:.3f} at 10x density"
    assert ivf >= 0.8, f"IVF auto recall@5 fell to {ivf:.3f} at 10x density"
