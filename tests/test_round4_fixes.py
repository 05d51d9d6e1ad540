"""Pins for the round-4 VERDICT tasks and ADVICE-r03 findings."""

import pytest
from pyspark.sql import functions as F


# --- VERDICT #3: auto max_bucket default on ANN paths -----------------------


def _constant_corpus(spark, n):
    """Adversarial corpus: n identical vectors — every sign-LSH bucket
    and every IVF cell assignment collapses onto ONE bucket."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0), F.lit(4.0))
        .alias("embedding"))


def test_lsh_auto_cap_bounds_degenerate_corpus(spark):
    from spark_schema_guard.operators.similarity import (
        AUTO_CAP_FLOOR, cosine_topk_lsh)

    n = AUTO_CAP_FLOOR + 2_000
    df = _constant_corpus(spark, n)
    queries = [(0, [1.0, 2.0, 3.0, 4.0])]

    # default ("auto"): the single bucket holds all n rows, n > cap ->
    # dropped before the candidate join; the job completes with no
    # candidates instead of funnelling the whole corpus into one task
    capped = cosine_topk_lsh(df, "vec_id", "embedding", queries, k=5,
                             n_planes=6, multiprobe=0).collect()
    assert capped == []

    # explicit opt-out still scores everything
    full = cosine_topk_lsh(df, "vec_id", "embedding", queries, k=5,
                           n_planes=6, multiprobe=0,
                           max_bucket=None).collect()
    assert len(full) == 5


def test_ivf_auto_cap_bounds_degenerate_corpus(spark):
    from spark_schema_guard.operators.similarity import (
        AUTO_CAP_FLOOR, cosine_topk_ivf)

    n = AUTO_CAP_FLOOR + 2_000
    df = _constant_corpus(spark, n)
    queries = [(0, [1.0, 2.0, 3.0, 4.0])]

    # 64 cells (realistic: n_centroids scales with the corpus) — one
    # degenerate cell holding ALL rows is 64x the mean, far past the
    # 8x auto headroom, so it is dropped; with 4 cells the same pile-up
    # is only 4x the mean and auto (correctly) keeps it
    capped = cosine_topk_ivf(df, "vec_id", "embedding", queries, k=5,
                             n_centroids=64, nprobe=4).collect()
    assert capped == []

    full = cosine_topk_ivf(df, "vec_id", "embedding", queries, k=5,
                           n_centroids=64, nprobe=4,
                           max_bucket=None).collect()
    assert len(full) == 5


def test_auto_cap_keeps_benign_buckets(spark):
    """A small benign corpus sits far under AUTO_CAP_FLOOR — the auto
    default must not drop anything (results identical to opt-out)."""
    from spark_schema_guard.operators.similarity import cosine_topk_lsh

    rows = [(i, [1.0 + 0.01 * i, 0.5 - 0.002 * i, float(i % 7), -1.0])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = [(0, [1.0, 0.5, 3.0, -1.0])]
    auto = cosine_topk_lsh(df, "vec_id", "embedding", queries, k=5,
                           n_planes=3, multiprobe=1).collect()
    off = cosine_topk_lsh(df, "vec_id", "embedding", queries, k=5,
                          n_planes=3, multiprobe=1,
                          max_bucket=None).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, off))
    assert len(auto) == 5


def test_cap_buckets_auto_requires_n_buckets(spark):
    from spark_schema_guard.operators.similarity import _cap_buckets

    df = spark.range(5).select(F.col("id").alias("bucket"))
    with pytest.raises(ValueError, match="n_buckets"):
        _cap_buckets(df, "bucket", "auto")


# --- ADVICE #1: NULL element inside a benchmark embedding -------------------


def test_embedding_decontam_null_bench_element(spark):
    from spark_schema_guard.operators.decontam import embedding_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "doc_id long, emb array<double>")
    bench = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [None, 1.0])],
        "bid long, emb array<double>")
    out = {r["doc_id"]: r for r in embedding_decontaminate(
        corpus, "doc_id", "emb", bench, "emb", threshold=0.95).collect()}
    # the NULL-element bench vector is dropped (documented), the good
    # one still matches doc 1
    assert out[1]["contaminated"] is True
    assert out[1]["n_bench_matches"] == 1
    assert out[2]["contaminated"] is False


def test_embedding_decontam_all_bench_unscorable(spark):
    from spark_schema_guard.operators.decontam import embedding_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "doc_id long, emb array<double>")
    bench = spark.createDataFrame(
        [(10, [None, 1.0])], "bid long, emb array<double>")
    with pytest.raises(ValueError, match="no well-formed benchmark"):
        embedding_decontaminate(corpus, "doc_id", "emb", bench, "emb")


# --- VERDICT #4: per-row depth-exceeded policy at scale ---------------------


_REC = {"definitions": {"node": {
            "type": "object",
            "properties": {"v": {"type": "integer"},
                           "next": {"$ref": "#/definitions/node"}}}},
        "$ref": "#/definitions/node"}


def test_scale_mode_one_deep_row_among_10k_completes(spark):
    """The 100-TB contract: ONE pathological row in a 10k-row job yields
    ONE violation row and the job COMPLETES (on_depth_exceeded=
    "violation"); the strict default still raises for exact-parity runs."""
    from spark_schema_guard.jsoncol import validate_json_column

    docs = spark.range(10_000).select(
        F.col("id"),
        F.when(F.col("id") == 7_777,
               F.lit('{"next": {"next": {"v": 1}}}'))
        .otherwise(F.lit('{"next": {"v": 1}}')).alias("props"))

    out = validate_json_column(docs, "props", _REC, engine="columnar",
                               ref_unroll_depth=1,
                               on_depth_exceeded="violation").collect()
    assert len(out) == 10_000
    bad = [r for r in out if r["verdict"] is False]
    assert len(bad) == 1 and bad[0]["id"] == 7_777
    assert any("unroll depth" in v["message"] for v in bad[0]["violations"])

    strict = validate_json_column(docs, "props", _REC, engine="columnar",
                                  ref_unroll_depth=1)
    with pytest.raises(Exception, match="unroll depth"):
        strict.collect()


def test_scale_mode_validates_mode_value(spark):
    """on_depth_exceeded is the one depth knob; an unknown value is
    rejected when the plan compiles."""
    from spark_schema_guard.jsoncol import validate_json_column

    df = spark.createDataFrame([('{"v": 1}',)], "props string")
    with pytest.raises(ValueError, match="on_depth_exceeded"):
        validate_json_column(df, "props", _REC, engine="columnar",
                             on_depth_exceeded="fast")


def test_unique_items_depth_violation_mode(spark):
    """uniqueItems canon depth now honors on_depth_exceeded: scale mode
    flags the too-deep ROW (job completes, verdicts elsewhere exact);
    strict mode keeps the loud raise."""
    from spark_schema_guard.jsoncol import validate_json_column

    schema = {"type": "object",
              "properties": {"arr": {"type": "array",
                                     "uniqueItems": True}}}
    docs = ['{"arr": [1, 2, 3]}',          # unique -> pass
            '{"arr": [1, 2, 1]}',          # dup -> uniqueItems violation
            '{"arr": [[[1]]]}']            # nests past canon_depth=1
    df = spark.createDataFrame([(d,) for d in docs], "props string")

    out = {r["props"]: r for r in validate_json_column(
        df, "props", schema, engine="columnar", canon_depth=1,
        on_depth_exceeded="violation").collect()}
    assert out['{"arr": [1, 2, 3]}']["verdict"] is True
    assert out['{"arr": [1, 2, 1]}']["verdict"] is False
    assert any("unique items" in v["message"]
               for v in out['{"arr": [1, 2, 1]}']["violations"])
    deep = out['{"arr": [[[1]]]}']
    assert deep["verdict"] is False
    assert any("canonicalization depth" in v["message"]
               for v in deep["violations"])

    strict = validate_json_column(df, "props", schema, engine="columnar",
                                  canon_depth=1)
    with pytest.raises(Exception, match="canonicalization bound"):
        strict.collect()


# --- ADVICE #2: domain_report NULL url / NULL lang --------------------------


def test_domain_report_null_url_and_lang(spark):
    from spark_schema_guard.operators import domain_report

    rows = [
        ("https://a.example/x", "good text here", "en"),
        ("https://a.example/y", "more good text", None),   # NULL lang
        (None, "orphan row text", "de"),                    # NULL url
        ("not a url", "hostless text", "de"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    out = {r["host"]: r for r in domain_report(
        df, "url", "text", "lang", distinct="exact").collect()}

    # NULL url and non-URL strings both land in the '' bucket — kept,
    # with their lang rollup (they used to vanish via the inner join)
    assert "" in out
    assert out[""]["n_pages"] == 2
    assert out[""]["n_langs"] == 1
    assert out[""]["top_lang"] == "de"

    # NULL lang is excluded from n_langs/top_lang, pages still counted
    assert out["a.example"]["n_pages"] == 2
    assert out["a.example"]["n_langs"] == 1
    assert out["a.example"]["top_lang"] == "en"


def test_domain_report_all_null_langs_left_join(spark):
    from spark_schema_guard.operators import domain_report

    df = spark.createDataFrame(
        [("https://b.example/x", "some text", None)],
        "url string, text string, lang string")
    rows = domain_report(df, "url", "text", "lang",
                         distinct="exact").collect()
    assert len(rows) == 1
    assert rows[0]["host"] == "b.example"
    assert rows[0]["n_langs"] is None
    assert rows[0]["top_lang"] is None


def test_domain_report_approx_default(spark):
    from spark_schema_guard.operators import domain_report

    df = spark.createDataFrame(
        [(f"https://c.example/{i}", "text body", "en") for i in range(50)],
        "url string, text string, lang string")
    rows = domain_report(df, "url", "text", "lang").collect()
    assert len(rows) == 1
    # HLL++ at rsd=0.05 on 50 distinct urls is exact in practice, but
    # only require the sketch to be in range — the point is the default
    # runs the approx path without error
    assert abs(rows[0]["n_urls"] - 50) <= 5
    with pytest.raises(ValueError, match="distinct"):
        domain_report(df, "url", "text", distinct="bogus")
