"""Benchmark harness — prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline metric: end-to-end validated documents/sec (verdicts + violation
rows forced) on the synthetic web-page table at $SPARK_GRAFT_SF_DIR
(default sf0.1), local[$SPARK_GRAFT_CPUS] (default: the CPUs this
process may run on).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_bench(cores: int, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    import spark_schema_guard as ssg
    from spark_schema_guard.jsoncol import validate_json_column
    from spark_schema_guard.operators import (
        chi_square_drift, column_profile, ks_drift, uniqueness_report,
    )
    from spark_schema_guard.operators.dedup import minhash_candidates
    from spark_schema_guard.operators.similarity import cosine_topk
    from spark_schema_guard.operators.textstats import quality_features
    from spark_schema_guard.session import build_session
    from spark_schema_guard.webgen import WEB_PAGE_SCHEMA, web_pages

    # 16MB input splits: the bench tables are sub-GB, so the default 128MB
    # would give fewer splits than cores (single task wave, straggler
    # bound).  16m ~= 64 splits on the 906MB bench table, so every core
    # gets many task waves.  On a real cluster with TB inputs the default
    # is right.
    spark = build_session(app_name=f"schema-guard-bench-{cores}",
                          cores=cores, shuffle_partitions=max(cores, 8),
                          extra_conf={"spark.sql.files.maxPartitionBytes": "16m"})
    timings: dict[str, float] = {}

    def timed(name, thunk):
        # best of two runs: single-shot timings on a shared VM jitter by
        # 2x+ (page cache, JIT, concurrent load); min is the steady state
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            result = thunk()
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)
        return result

    # the base docs table is ONE small parquet file = one input split:
    # every explode-amplifying op (shingles, n-grams) would run its map
    # side in a single task.  Repartition once at load — the real
    # corpora these ops target have splits >> cores (same reason webgen
    # repartitions before its explode).
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(64)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_base = docs.count(); events.count(); emb.count()

    # The north metric reads stored web pages, so benchmark against a
    # materialized parquet web table (generated once, cached across runs;
    # amplification is deterministic — webgen.py replicas).  The base
    # table is a single parquet file = one input split: repartition BEFORE
    # the explode so generation itself parallelizes.
    replicas = max(1, 2_000_000 // max(n_base, 1))
    n_docs = n_base * replicas
    cache_dir = os.environ.get(
        "SPARK_GRAFT_BENCH_CACHE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache"))
    web_path = os.path.join(cache_dir, f"web_{os.path.basename(sf_dir)}_{n_docs}")
    if not os.path.isdir(web_path):
        web_pages(docs.repartition(64), replicas=replicas) \
            .write.mode("overwrite").parquet(web_path)
    web = spark.read.parquet(web_path)

    web_plan = ssg.compile_plan(WEB_PAGE_SCHEMA, web.schema)

    def web_validate():
        applied = web_plan.apply(web)
        # force verdicts AND violation materialization
        return applied.agg(
            F.sum(F.col("verdict").cast("long")),
            F.sum(F.size("violations"))).collect()

    # warmup (JIT + page cache), then the best of two steady-state runs
    web_validate()
    timed("web_validate", web_validate)

    docs_schema = {
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
    docs_plan = ssg.compile_plan(docs_schema, docs.schema)
    timed("docs_validate", lambda: docs_plan.apply(docs).agg(
        F.sum(F.col("verdict").cast("long")), F.sum(F.size("violations"))).collect())

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li_schema = {
        "type": "object",
        "required": ["l_orderkey", "l_quantity"],
        "properties": {
            "l_quantity": {"type": "number", "minimum": 1, "maximum": 50},
            "l_discount": {"type": "number", "minimum": 0,
                           "exclusiveMaximum": 0.11},
            "l_extendedprice": {"type": "number", "multipleOf": 0.01},
            "l_returnflag": {"enum": ["A", "N", "R"]},
            "l_linenumber": {"type": "integer", "minimum": 1, "maximum": 7},
        },
    }
    li_plan = ssg.compile_plan(li_schema, lineitem.schema)
    timed("lineitem_validate", lambda: li_plan.apply(lineitem).agg(
        F.sum(F.col("verdict").cast("long")), F.sum(F.size("violations"))).collect())

    timed("web_stats", lambda: column_profile(
        web, ["url", "text", "lang"]).collect())
    from spark_schema_guard.operators import numeric_outliers
    # robust z on the full amplified web table (text length per lang),
    # approx sketch mode = the scale path; consumer forces the verdicts
    timed("stats_outliers", lambda: numeric_outliers(
        web.select("doc_id", "lang", F.length("text").alias("tl")),
        "doc_id", "tl", group_col="lang", mode="approx").agg(
        F.sum(F.col("is_outlier").cast("long")),
        F.sum("robust_z")).collect())
    timed("web_uniqueness", lambda: uniqueness_report(web, "url").collect())
    from spark_schema_guard.operators import normalize_url
    timed("web_url_normalize", lambda: web.agg(
        F.sum(F.length(normalize_url("url")))).collect())
    timed("drift_chisq", lambda: chi_square_drift(
        web, "lang", (F.col("source") == "src3")).collect())
    from spark_schema_guard.operators import chi_square_by_unit
    timed("drift_by_unit", lambda: chi_square_by_unit(
        web, "lang", F.col("doc_id") % 64).collect())
    timed("drift_ks_grid", lambda: ks_drift(
        web.select(F.unix_timestamp("warc_ts").cast("double").alias("e"),
                   (F.col("source") == "src3").alias("g")),
        "e", "g", mode="grid", grid_size=64).collect())
    props_schema = {
        "type": "object", "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 80}}}
    timed("events_json", lambda: validate_json_column(
        events, "props", props_schema,
        engine="columnar").agg(F.sum(F.col("verdict").cast("long"))).collect())
    timed("events_json_coerce", lambda: validate_json_column(
        events, "props", props_schema, engine="columnar",
        json_types="coerce").agg(F.sum(F.col("verdict").cast("long"))).collect())
    timed("dedup_minhash", lambda: minhash_candidates(
        docs, "doc_id", "text", num_hashes=8, bands=4, shingle_k=8,
        hash_fn="xxhash64").count())

    from spark_schema_guard.operators import domain_skew, stratified_sample
    from spark_schema_guard.operators.dedup import duplicate_clusters

    def clusters():
        edges = minhash_candidates(docs, "doc_id", "text", num_hashes=8,
                                   bands=4, shingle_k=8, hash_fn="xxhash64")
        return duplicate_clusters(docs.select("doc_id"), "doc_id", edges) \
            .where(~F.col("is_canonical")).count()

    timed("dedup_clusters", clusters)
    timed("domain_skew", lambda: domain_skew(web, "url", k=10).collect())
    timed("sample_mix", lambda: stratified_sample(
        web, "lang", {"en": 1.0, "de": 0.5, "fr": 0.25}, "doc_id",
        mode="hash").count())
    from spark_schema_guard.operators import take_token_budget
    from spark_schema_guard.operators.textstats import token_count

    def token_budget():
        d = docs.withColumn("tokens", token_count(F.col("text")))
        # ~half of each lang's token mass (docs average ~54 tokens over
        # 5 langs): the boundary machinery is engaged in every stratum
        # (bucket sums + boundary window both timed, never keep-all)
        return take_token_budget(
            d, "doc_id", "tokens", strata_col="lang",
            budgets={}, default_budget=max(1, n_base * 5)).count()

    timed("sample_token_budget", token_budget)
    from spark_schema_guard.operators import temperature_mix
    timed("sample_temperature", lambda: temperature_mix(
        docs, "doc_id", "lang", n_base // 3, tau=0.5).count())
    qvecs = [(r["vec_id"], r["embedding"])
             for r in emb.where(F.col("vec_id") < 3).collect()]
    timed("ann_topk", lambda: cosine_topk(
        emb, "vec_id", "embedding", qvecs, k=5).collect())

    from spark_schema_guard.operators.dedup import simhash_near_dups
    from spark_schema_guard.operators.similarity import cosine_topk_lsh
    timed("ann_topk_lsh", lambda: cosine_topk_lsh(
        emb, "vec_id", "embedding", qvecs, k=5, n_planes=6,
        multiprobe=2, n_tables=1).collect())
    from spark_schema_guard.operators.similarity import cosine_topk_ivf
    timed("ann_topk_ivf", lambda: cosine_topk_ivf(
        emb, "vec_id", "embedding", qvecs, k=5, n_centroids=16,
        nprobe=4).collect())
    timed("dedup_simhash", lambda: simhash_near_dups(
        docs, "doc_id", "text", bits=32, max_hamming=3).count())
    timed("text_quality", lambda: quality_features(docs, "doc_id", "text").agg(
        F.sum("quality_score")).collect())
    from spark_schema_guard.operators.textstats import gopher_rules
    # consumer sums every signal + flag: a bare count() would let
    # Catalyst prune the rule expressions under test
    timed("text_gopher", lambda: gopher_rules(docs, "doc_id", "text").agg(
        F.sum("mean_word_len"), F.sum("symbol_ratio"), F.sum("alpha_frac"),
        F.sum("bullet_frac"), F.sum("ellipsis_frac"),
        F.sum(F.col("n_stop_hits").cast("long")),
        F.sum(F.col("keep").cast("long"))).collect())
    from spark_schema_guard.operators import ngram_decontaminate
    from spark_schema_guard.operators.textstats import repetition_features
    timed("text_repetition", lambda: repetition_features(
        docs, "doc_id", "text").agg(
        F.sum("top2gram_frac"), F.sum("dup3gram_frac")).collect())
    timed("decontaminate", lambda: ngram_decontaminate(
        docs, "doc_id", "text", docs.where(F.col("doc_id") % 97 == 0),
        "text", n=8).agg(
        F.sum(F.col("contaminated").cast("long")),
        F.sum("n_matched_ngrams")).collect())
    from spark_schema_guard.operators import embedding_decontaminate

    def decontam_emb_leg():
        # amplified corpus (linear cost: one matmul per batch against a
        # fixed ~|emb|/97 bench matrix) — each replica is a UNIFORM
        # per-replica scale of its original (direction preserved), so
        # bench originals flag all their copies
        embn = emb.count()
        reps = max(1, 128000 // max(embn, 1))
        big = emb.select(
            F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("__r"),
            "vec_id", "embedding").select(
            (F.col("vec_id") + F.col("__r").cast("long") * 100000)
            .alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x * (1.0 + F.col("__r") % 5))
            .alias("embedding"))
        return embedding_decontaminate(
            big, "vec_id", "embedding",
            emb.where(F.col("vec_id") % 97 == 0), "embedding",
            threshold=0.95).agg(
            F.sum(F.col("contaminated").cast("long")),
            F.sum("n_bench_matches")).collect()

    timed("decontam_embedding", decontam_emb_leg)
    from spark_schema_guard.operators.dedup import dedup_lines

    def lines_leg():
        # the gate query's exact construction (shared helper): 8-token
        # lines + an id-shifted copy so half of all long lines are dups
        from spark_schema_guard.webgen import lined_docs
        return dedup_lines(lined_docs(docs, shift=10 ** 6),
                           "doc_id", "text", min_len=10).agg(
            F.sum("n_lines"), F.sum("n_kept"),
            F.sum(F.length("text"))).collect()

    timed("dedup_lines", lines_leg)
    from spark_schema_guard.operators.textstats import c4_rules

    def c4_leg():
        # same lined corpus as dedup_lines; consumer sums every signal
        # so Catalyst cannot prune the line filter under test
        from spark_schema_guard.webgen import lined_docs
        return c4_rules(lined_docs(docs, shift=10 ** 6), "doc_id", "text",
                        terminators=("n", "e", "t", "w", "a"),
                        line_drop_tokens=("spark",),
                        page_drop_phrases=("customer",)).agg(
            F.sum("n_lines"), F.sum("n_kept"), F.sum(F.length("clean_text")),
            F.sum(F.col("has_drop_phrase").cast("long")),
            F.sum(F.col("keep").cast("long"))).collect()

    timed("text_c4", c4_leg)
    from spark_schema_guard.operators.textstats import dup_line_features

    def dup_lines_leg():
        from spark_schema_guard.webgen import lined_docs
        return dup_line_features(
            lined_docs(docs, chunk_tokens=2, shift=10 ** 6),
            "doc_id", "text").agg(
            F.sum("n_lines"), F.sum("dup_line_frac"),
            F.sum("dup_line_char_frac")).collect()

    timed("text_dup_lines", dup_lines_leg)
    from spark_schema_guard.operators import importance_weights
    # leg includes the two driver-side bucket-count collects — they are
    # part of the operator's cost model
    timed("sample_importance", lambda: importance_weights(
        docs, "doc_id", "text", docs.where(F.col("doc_id") % 97 == 0),
        "doc_id", "text", n=2, buckets=4096).agg(
        F.sum("weight_int"), F.sum("n_grams")).collect())
    from spark_schema_guard.operators import cap_per_stratum
    timed("sample_domain_cap", lambda: cap_per_stratum(
        web.withColumn("domain", F.regexp_extract(
            "url", r"^https://([^/]+)/", 1)),
        "url", "domain", max(1, n_docs // 500)).count())
    from spark_schema_guard.operators.dedup import (dedup_against_index,
                                                    minhash_band_index)

    def incremental_leg():
        # snapshot-over-snapshot: first half of the corpus is the frozen
        # index, second half is the incoming batch (index build + probe
        # both timed — comparable with the dedup_minhash self-join leg)
        half = n_base // 2
        idx = minhash_band_index(docs.where(F.col("doc_id") < half),
                                 "doc_id", "text", num_hashes=8, bands=4,
                                 shingle_k=8)
        return dedup_against_index(docs.where(F.col("doc_id") >= half),
                                   idx, "doc_id", "text", num_hashes=8,
                                   bands=4, shingle_k=8,
                                   min_shared_bands=2).count()

    timed("dedup_incremental", incremental_leg)
    from spark_schema_guard.operators.textstats import token_vocabulary
    timed("text_vocab", lambda: token_vocabulary(
        docs, "doc_id", "text", k=1000, min_count=2).collect())
    from spark_schema_guard.operators import domain_report
    timed("domain_report", lambda: domain_report(
        web, "url", "text", "lang").agg(
        F.sum("n_pages"), F.sum("n_urls"), F.sum("n_tokens"),
        F.sum("quality_sum_e4"), F.sum("n_low_quality"),
        F.sum("n_langs"), F.count_distinct("top_lang")).collect())
    from spark_schema_guard.operators import url_features
    timed("url_features", lambda: url_features(web, "doc_id", "url").agg(
        F.sum("path_depth"), F.sum("n_query_params"), F.sum("digit_frac"),
        F.sum("url_len"), F.sum("n_blocked_words"),
        F.sum(F.col("url_ok").cast("long")),
        F.count_distinct("host")).collect())
    from spark_schema_guard.operators.textstats import language_consistency
    timed("text_langmix", lambda: language_consistency(
        docs, "doc_id", "text", n_chunks=4).agg(
        F.sum(F.col("mixed").cast("long")), F.sum("n_span_langs"),
        F.count_distinct("dominant_lang")).collect())
    from spark_schema_guard.operators.textstats import (encoding_features,
                                                        fix_encoding)

    def encoding_leg():
        # plant defects on a deterministic slice (the gate construction)
        # so the replace chain does real rewrites, then force every
        # signal + the repaired text
        corr = docs.select("doc_id", F.when(
            F.col("doc_id") % 5 == 0,
            F.replace(F.col("text"), F.lit("e"), F.lit("Ã©")))
            .otherwise(F.col("text")).alias("text"))
        encoding_features(corr, "doc_id", "text").agg(
            F.sum("n_mojibake"), F.sum("n_replacement"),
            F.sum("n_control"), F.sum("n_nbsp"),
            F.sum(F.col("enc_clean").cast("long"))).collect()
        return fix_encoding(corr, "doc_id", "text").agg(
            F.sum(F.length("fixed_text"))).collect()

    timed("text_encoding", encoding_leg)
    from spark_schema_guard.operators import bpe_encode_counts, train_bpe
    # distributed word-count scan + the bounded driver merge loop —
    # the merge loop's input (distinct words) is corpus-size-independent
    timed("bpe_train", lambda: train_bpe(docs, "doc_id", "text",
                                         n_merges=32))
    bpe_merges = train_bpe(docs, "doc_id", "text", n_merges=32)
    timed("bpe_encode", lambda: bpe_encode_counts(
        docs, "doc_id", "text", bpe_merges).agg(
        F.sum("n_words"), F.sum("n_bpe_tokens")).collect())
    from spark_schema_guard.operators.textstats import pii_features
    # consumer sums EVERY count column: a bare .count() would let
    # Catalyst prune the regexes under test
    timed("text_pii", lambda: pii_features(docs, "doc_id", "text").agg(
        F.sum("n_email"), F.sum("n_ipv4"), F.sum("n_phone"),
        F.sum(F.col("pii_free").cast("long"))).collect())
    from spark_schema_guard.operators.textstats import chunk_by_sentences
    timed("text_chunks_sent", lambda: chunk_by_sentences(
        docs.select("doc_id",
                    F.replace(F.col("text"), F.lit(" "), F.lit(". "))
                    .alias("text")),
        "doc_id", "text", chunk_tokens=32).agg(
        F.sum("n_sentences"), F.sum("n_chunk_tokens"),
        F.sum(F.length("chunk_text"))).collect())
    from spark_schema_guard.operators.textstats import chunk_documents
    # sum(length(chunk_text)) forces the slice + array_join, not just
    # the chunk-id explode
    timed("text_chunks", lambda: chunk_documents(
        docs, "doc_id", "text", chunk_tokens=64, overlap=8).agg(
        F.count(F.lit(1)), F.sum("n_chunk_tokens"),
        F.sum(F.length("chunk_text"))).collect())
    from spark_schema_guard.operators.lmscore import (cross_entropy,
                                                      train_ngram_lm)

    def lm_leg():
        # CCNet shape at bench scale: train the bigram LM on a ~5% ref
        # slice, score the WHOLE corpus; consumer sums score + bigram
        # count so neither join side can be pruned
        lm = train_ngram_lm(docs.where(F.col("doc_id") % 20 == 0),
                            "doc_id", "text")
        return cross_entropy(docs, lm, "doc_id", "text").agg(
            F.sum("n_bigrams"), F.sum("h_bits")).collect()

    timed("text_lm_score", lm_leg)
    from spark_schema_guard.operators.urlfilter import blocked_urls

    def blocklist_leg():
        # full amplified web table vs a 99-entry domain blocklist
        # (parents of the dN.example.org hosts + the hot domain);
        # consumer counts blocked rows so the join cannot be pruned
        bl = spark.createDataFrame(
            [(f"d{i}.example.org",) for i in range(0, 97, 2)]
            + [("example.com",)], "domain string")
        return blocked_urls(web, "doc_id", "url", bl).agg(
            F.sum(F.col("blocked").cast("long"))).collect()

    timed("web_blocklist", blocklist_leg)
    from spark_schema_guard.operators.semdedup import semantic_dedup

    def semdedup_leg():
        # amplified embedding corpus: every replica keeps direction
        # (scaled copies are cosine-1 near-dups of their original), so
        # the group structure is real; 64 cells bound the self-join —
        # the leg's cost is quadratic IN-CELL, so the corpus is sized to
        # ~32k vectors (~8M in-cell pairs), not to the doc count
        embn = emb.count()
        reps = max(1, 32000 // max(embn, 1))
        # replica r rescales element i by 1+((r*(i+1))%5): replicas with
        # r ≡ r' (mod 5) are EXACT clones (bounded ~reps/5 cliques per
        # base vector), different patterns land ~0.9 cosine — so the
        # edge list is realistic, not one giant clique per direction
        big = emb.select(
            F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("__r"),
            "vec_id", "embedding").select(
            (F.col("vec_id") + F.col("__r").cast("long") * 100000)
            .alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x, i: x * (1.0 + (F.col("__r") * (i + 1)) % 5))
            .alias("embedding"))
        return semantic_dedup(big, "vec_id", "embedding", threshold=0.99,
                              n_centroids=64, max_cell=20000).agg(
            F.sum(F.col("is_canonical").cast("long"))).collect()

    timed("semantic_dedup", semdedup_leg)
    from spark_schema_guard.operators import nb_classifier_scores
    # NB quality gate: train on the %97/%89 slices, score every doc;
    # consumer sums logits + keeps so the scoring join cannot be pruned
    timed("text_classifier", lambda: nb_classifier_scores(
        docs, "doc_id", "text",
        docs.where(F.col("doc_id") % 97 == 0), "doc_id", "text",
        docs.where(F.col("doc_id") % 89 == 0), "doc_id", "text",
        n=1, buckets=4096).agg(
        F.sum("logit_int"), F.sum(F.col("keep").cast("long")),
        F.sum("n_grams")).collect())
    from spark_schema_guard.operators.dedup import dup_span_features
    # cross-doc duplicated 8-gram spans; consumer forces both fraction
    # columns so the coverage window is never pruned
    timed("text_dup_spans", lambda: dup_span_features(
        docs, "doc_id", "text", n=8).agg(
        F.sum("n_dup_grams"), F.sum("dup_tokens"),
        F.sum("dup_gram_frac"), F.sum("dup_token_frac")).collect())
    from spark_schema_guard.operators import extraction_report
    # runs on the FULL amplified web table: the verdict column forces the
    # tag-strip + byte compare on every row (the north rule's invariant)
    timed("web_extraction", lambda: extraction_report(
        web, "html", "text", "doc_id").collect())
    from spark_schema_guard.operators.dedup import (cluster_representatives,
                                                    strip_boilerplate,
                                                    verify_jaccard)
    # docs text is single-line, so split on spaces: every token is a
    # candidate "line" — maximal work for the document-frequency cut;
    # consumer forces the reassembled text
    timed("strip_boilerplate", lambda: strip_boilerplate(
        docs, "doc_id", "text", "lang", min_docs=2, min_frac=0.5,
        split_pattern=" ", join_sep=" ").agg(
        F.sum(F.length("text"))).collect())

    def verify_leg():
        # deterministic candidate list: every even doc paired with its
        # successor (n/2 pairs) — times the verify machinery (two shingle
        # reductions + pair join), not candidate discovery
        pairs = docs.where(F.col("doc_id") % 2 == 0).select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"))
        return verify_jaccard(docs, "doc_id", "text", pairs,
                              shingle_k=8).agg(F.sum("jaccard")).collect()

    timed("dedup_verify", verify_leg)
    timed("dedup_canonical", lambda: cluster_representatives(
        docs.select("doc_id", (F.col("doc_id") % 512).alias("cluster_id"),
                    F.col("n_chars").alias("score")),
        "doc_id", "cluster_id", score_col="score").collect())
    from spark_schema_guard.operators import (constraint_drift,
                                              suggest_constraints)
    profile_cols = ["doc_id", "text", "lang", "source", "n_chars"]
    timed("suggest", lambda: suggest_constraints(
        docs, profile_cols).collect())
    timed("constraint_drift", lambda: constraint_drift(
        suggest_constraints(docs.where(F.col("doc_id") % 2 == 0),
                            profile_cols),
        suggest_constraints(docs.where(F.col("doc_id") % 2 == 1),
                            profile_cols)).collect())

    # JSON-column schema mining over the full web table: one variant
    # parse + explode + map-side-combined groupBy(key) per doc (approx
    # sketch mode = the 100-TB path)
    from spark_schema_guard.operators import suggest_json_constraints
    wi = F.col("doc_id")
    jdoc = F.concat(
        F.lit('{"k": '), (wi % 97).cast("string"),
        F.lit(', "lang": "l'), (wi % 5).cast("string"), F.lit('"'),
        F.lit(', "score": '), ((wi % 8) / 4.0).cast("string"),
        F.when(wi % 3 == 0, F.lit(', "flag": true')).otherwise(F.lit("")),
        F.when(wi % 7 == 0, F.lit(', "note": null')).otherwise(F.lit("")),
        F.when(wi % 4 == 0, F.concat(
            F.lit(', "mix": '),
            F.when(wi % 8 == 0, (wi % 50).cast("string"))
             .otherwise(F.concat(F.lit('"m'), (wi % 3).cast("string"),
                                 F.lit('"'))))).otherwise(F.lit("")),
        F.lit("}"))
    jdf = web.select(jdoc.alias("doc"))
    timed("suggest_json", lambda: suggest_json_constraints(
        jdf, "doc").collect())
    from spark_schema_guard.operators import suggest_by_unit
    timed("suggest_by_unit", lambda: suggest_by_unit(
        web, ["doc_id", "lang", "text"],
        unit_col=(F.col("doc_id") % 64)).collect())

    docs_per_sec = round(n_docs / timings["web_validate"], 1)
    spark.stop()
    return {"timings": timings, "rows": n_docs, "docs_per_sec": docs_per_sec,
            "cores": cores}


def main():
    from spark_schema_guard.session import default_cores

    result = run_bench(default_cores(), SF_DIR)
    line = {
        "metric": "validated_docs_per_sec",
        "value": result["docs_per_sec"],
        "unit": "docs/sec",
        "queries": result["timings"],
        "sf": _sf_of(SF_DIR),
        "extra": {"rows": result["rows"], "cores": result["cores"],
                  "docs_per_sec": result["docs_per_sec"]},
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
