"""Round-2 hardening: null-id sampling policy, format/handler coverage
on plan load, lazy chi-square planning, scale-safe heavy-hitters plan
shape, KS grid-vs-exact accuracy, and portable simhash/bpe modes."""

import pytest
from pyspark.sql import functions as F

from spark_schema_guard.columnar.plan import load_plan
from spark_schema_guard.operators.drift import chi_square_drift, ks_drift
from spark_schema_guard.operators.sampling import downsample, stratified_sample
from spark_schema_guard.operators.stats import heavy_hitters


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# -- sampling null-id policy -------------------------------------------------


def test_downsample_keeps_null_ids_at_full_fraction(spark):
    df = spark.createDataFrame([(1, "a"), (None, "b"), (2, "c")],
                               "id long, v string")
    assert downsample(df, "id", 1.0).count() == 3
    # fractional sampling cannot subsample a NULL key: dropped
    assert all(r["id"] is not None
               for r in downsample(df, "id", 0.5).collect())


def test_stratified_null_ids_follow_stratum_threshold(spark):
    df = spark.createDataFrame(
        [(None, "en"), (None, "de"), (1, "en"), (2, "de")],
        "id long, lang string")
    out = stratified_sample(df, "lang", {"en": 1.0, "de": 0.5}, "id",
                            mode="hash").collect()
    # the null-id 'en' row survives (keep-all stratum); null-id 'de' cannot
    assert (None, "en") in {(r["id"], r["lang"]) for r in out}
    assert (None, "de") not in {(r["id"], r["lang"]) for r in out}


# -- plan spec round-trips ---------------------------------------------------


def test_load_plan_rejects_missing_format_names():
    from pyspark.sql import types as T

    import spark_schema_guard as ssg

    df_schema = T.StructType([T.StructField("v", T.StringType())])
    plan = ssg.compile_plan(
        {"type": "object", "properties": {"v": {"format": "my_fmt"}}},
        df_schema, formats={"my_fmt": r"^x+$"})
    spec = plan.to_spec()
    with pytest.raises(ValueError, match="my_fmt"):
        load_plan(spec, formats={"other": r"^y$"})
    # covering dict loads fine
    load_plan(spec, formats={"my_fmt": r"^x+$", "extra": r"^z$"})


# -- drift -------------------------------------------------------------------


def test_chi_square_is_lazy(spark):
    df = spark.createDataFrame(
        [("en", False), ("de", False), ("en", True), ("fr", True)] * 5,
        "lang string, b boolean")
    sc = spark.sparkContext
    sc.setJobGroup("chisq-lazy-probe", "plan construction must be lazy")
    try:
        out = chi_square_drift(df, "lang", F.col("b"))
        fired = sc.statusTracker().getJobIdsForGroup("chisq-lazy-probe")
        assert not fired, "plan construction fired a Spark job"
    finally:
        sc.setJobGroup("", "")
    row = out.collect()[0]
    assert row["n_buckets"] == 2 and row["n_values"] == 3


def test_ks_grid_tracks_exact(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    grp = F.col("event_type") == "error"
    exact = ks_drift(events, "value", grp, mode="exact").collect()[0]
    grid = ks_drift(events, "value", grp, mode="grid",
                    grid_size=256).collect()[0]
    assert grid["n_left"] == exact["n_left"]
    assert grid["n_right"] == exact["n_right"]
    # binned CDF error is bounded by the bin mass (~1/grid_size + sketch)
    assert abs(grid["statistic"] - exact["statistic"]) <= 1.0 / 256 + 0.02


# -- heavy hitters plan shape ------------------------------------------------


def test_heavy_hitters_no_global_window_over_counts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = heavy_hitters(docs, "source", k=5)
    text = _physical(out)
    # the top-k must be TakeOrderedAndProject (per-partition top-k +
    # driver merge), never a full sort; any Window node operates on the
    # already-limited k rows
    assert "TakeOrderedAndProject" in text
    window_idx = text.find("Window")
    if window_idx != -1:
        assert "TakeOrderedAndProject" in text[window_idx:], \
            "Window must sit above the limited top-k, not the raw counts"
    rows = out.collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(rows[i]["n_rows"] >= rows[i + 1]["n_rows"]
               for i in range(len(rows) - 1))


# -- portable hash modes -----------------------------------------------------


def test_simhash_md5_mode_portable_and_blocking_lossless(spark):
    from spark_schema_guard.operators.dedup import simhash, simhash_near_dups

    rows = [(i, f"the quick brown fox {i % 3} jumps over dog {i % 3}")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash(df, "doc_id", "text", bits=32,
                             hash_fn="md5").collect()}
    assert all(0 <= v < 2 ** 32 for v in sigs.values())
    # identical token multisets -> identical fingerprints
    assert sigs[0] == sigs[3]

    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_dups(df, "doc_id", "text", bits=32,
                                      max_hamming=4, hash_fn="md5").collect()}
    # blocked join must equal brute-force hamming filter (pigeonhole)
    expect = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 4:
                expect[(a, b)] = h
    assert got == expect


def test_bpe_ish_tokens(spark):
    from spark_schema_guard.operators.textstats import bpe_ish_token_count

    df = spark.createDataFrame(
        [(1, "abc123 def!"), (2, ""), (3, "x,y.z"), (4, "¡hola señor!")],
        "id int, text string")
    got = {r["id"]: r["n"]
           for r in df.select("id", bpe_ish_token_count(F.col("text"))
                              .alias("n")).collect()}
    # abc|123|def|! ; '' ; x|,|y|.|z ; ¡|hola|se|ñ|or|!
    assert got == {1: 4, 2: 0, 3: 5, 4: 6}


def test_simhash_empty_doc_and_merge_semantics(spark):
    """simhash drops docs with empty/NULL text, and rows sharing an id
    merge their bit votes (sum over the union of their tokens)."""
    from spark_schema_guard.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, ""), (4, "   "), (5, None),
         (6, "alpha beta"), (6, "gamma")],
        "doc_id int, text string")
    out = simhash(df, "doc_id", "text", bits=16, hash_fn="md5")
    got = {r["doc_id"]: r["simhash"] for r in out.collect()}
    assert set(got) == {1, 2, 6}       # empty/whitespace/NULL dropped
    assert got[1] == got[2]
    # duplicate-id rows merge their token votes: {alpha beta}+{gamma}
    # fingerprints like one doc "alpha beta gamma"
    assert got[6] == got[1]


def test_minhash_signature_null_and_duplicate_text_semantics(spark):
    """Identical texts get identical signatures; NULL text yields NO
    signature row at all (round 3: it has no shingle set — a NULL-sig
    row would band as bucket '' in md5 mode and as the seed hash in
    xxhash64 mode, silently pairing NULL-text docs with each other)."""
    from spark_schema_guard.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, None)],
        "doc_id int, text string")
    for hash_fn in ("md5", "xxhash64"):
        out = minhash_signatures(df, "doc_id", "text", num_hashes=4,
                                 shingle_k=4, hash_fn=hash_fn)
        got = {r["doc_id"]: tuple(r)[1:] for r in out.collect()}
        assert got[1] == got[2]
        assert set(got) == {1, 2}, hash_fn  # NULL text -> no row
