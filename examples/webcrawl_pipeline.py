"""End-to-end web-corpus pipeline: the engine's operators composed the way
a production crawl-ingest job would use them.

    python examples/webcrawl_pipeline.py [sf_dir] [out_dir]

Stages (each one scan/shuffle-shaped as analyzed in SCALE.md):

1. schema validation  — compiled plan, verdict + violations columns;
                        html->text extraction byte-identity check
2. quality gates      — per-column stats, url uniqueness + quality
                        scoring, lang drift, encoding health, mixed-
                        language detection, repetition signals,
                        Gopher/C4 rule gates, benchmark n-gram AND
                        embedding decontamination, PII scan
3. dedup              — hot-domain cap -> MinHash LSH candidates ->
                        exact-Jaccard VERIFY stage -> connected
                        components -> keep the highest-quality doc per
                        cluster -> SemDeDup semantic pass
4. data mixing        — deterministic per-lang sampling, temperature
                        mixing diagnostic + per-lang token budgets,
                        BPE tokenizer prep on the shipped mix
5. chunk + audited write — 256-token training windows; clean corpus +
                        violation rows + per-file audit metrics
                        (resumable: re-running skips completed input
                        files)
6. contract mining    — profile the shipped corpus into a JSON-schema
                        contract, prove it closed, diff it against the
                        raw crawl (constraint drift)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import spark_schema_guard as ssg
from spark_schema_guard.operators import (
    chi_square_by_unit, chi_square_drift, column_profile, domain_skew,
    ngram_decontaminate, psi_by_unit, stratified_sample, uniqueness_report,
)
from spark_schema_guard.operators import take_token_budget
from spark_schema_guard.operators.textstats import (
    chunk_documents, pii_features, repetition_features, token_count,
)
from spark_schema_guard.operators.dedup import (
    duplicate_clusters, minhash_candidates,
)
from spark_schema_guard.session import build_session
from spark_schema_guard.webgen import WEB_PAGE_SCHEMA, web_pages


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="webcrawl_pipeline_")
    spark = build_session(app_name="webcrawl-pipeline", cores=8,
                          shuffle_partitions=16)
    report: dict = {"input": sf_dir, "out": out_dir}

    # the synthetic Common-Crawl-shaped table (url, warc_ts, html, text, lang)
    web = web_pages(spark.read.parquet(f"{sf_dir}/documents.parquet"))

    # -- 0. crawl hygiene: domain blocklist -------------------------------
    # the C4/RefinedWeb first gate: drop pages whose host equals or sits
    # under a blocked domain, BEFORE any per-byte work happens
    from spark_schema_guard.operators import blocked_urls, filter_blocked
    blocklist = spark.createDataFrame(
        [("d13.example.org",), ("d27.example.org",)], "domain string")
    n_raw = web.count()
    report["blocklist"] = {
        "blocked": blocked_urls(web, "doc_id", "url", blocklist)
        .where("blocked").count()}
    web = filter_blocked(web, "doc_id", "url", blocklist)
    report["blocklist"]["kept"] = web.count()
    assert report["blocklist"]["kept"] + report["blocklist"]["blocked"] \
        == n_raw

    # URL quality scoring (RefinedWeb-style): depth / params / digit
    # share / blocked words — report-only here (the synthetic crawl is
    # clean); a real job drops url_ok=false rows alongside the blocklist
    from spark_schema_guard.operators import url_features
    uf = url_features(web, "doc_id", "url")
    report["url_quality"] = {
        "flagged": uf.where(~F.col("url_ok")).count(),
        "max_depth": uf.agg(F.max("path_depth")).collect()[0][0]}

    # -- 1. validation ----------------------------------------------------
    plan = ssg.compile_plan(WEB_PAGE_SCHEMA, web.schema)
    validated = plan.apply(web)
    verdicts = validated.groupBy("verdict").count().collect()
    report["validation"] = {str(r["verdict"]): r["count"] for r in verdicts}

    # extraction consistency: re-extracting text from the html bytes must
    # reproduce the text column byte-identically per url (the invariant
    # every downstream dedup/fingerprint/token count silently assumes)
    from spark_schema_guard.operators import extraction_report
    report["extraction"] = {
        r["extraction_verdict"]: r["n_rows"]
        for r in extraction_report(web, "html", "text", "url").collect()}

    # -- 2. quality gates -------------------------------------------------
    profile = column_profile(web, ["url", "text", "lang"]).collect()
    report["stats"] = {r["column"]: {"nulls": r["nulls"],
                                     "distinct": r["distinct"]}
                      for r in profile}
    uniq = uniqueness_report(web, "url").collect()[0]
    report["url_uniqueness"] = {k: uniq[k] for k in
                                ("total_rows", "distinct_keys",
                                 "duplicated_keys", "surplus_rows")}
    report["hot_domains"] = [
        (r["value"], r["n_rows"])
        for r in domain_skew(web, "url", k=3).collect()]
    drift = chi_square_drift(web, "lang", (F.col("source") == "src3")).collect()[0]
    report["lang_drift_chisq"] = round(drift["statistic"], 2)
    # per-unit drift verdicts: which slice of the corpus shifted, by
    # chi-square GoF and PSI against the pooled lang mix (production
    # jobs unit by data file, like the audit table; doc_id buckets keep
    # the demo tiny)
    by_unit = chi_square_by_unit(web, "lang", F.col("doc_id") % 4).collect()
    report["lang_drift_by_unit"] = {
        str(r["unit"]): round(r["statistic"], 2) for r in by_unit}
    psi = psi_by_unit(web, "lang", F.col("doc_id") % 4).collect()
    report["lang_psi_by_unit"] = {
        str(r["unit"]): round(r["psi"], 4) for r in psi}

    # encoding health + repair (ftfy-style): count mojibake / control /
    # NBSP artifacts and substitute the repaired text — the clean-page
    # fast path is a no-op (fixed == text)
    from spark_schema_guard.operators.textstats import (encoding_features,
                                                        fix_encoding)
    enc = encoding_features(web, "doc_id", "text")
    report["encoding_gate"] = {
        "dirty": enc.where(~F.col("enc_clean")).count(),
        # repaired bytes == original on a clean corpus (the no-op fast
        # path); a real job substitutes fixed_text the way the PII gate
        # substitutes redacted below
        "bytes_changed": fix_encoding(web, "doc_id", "text")
        .where(F.col("fixed_text") != F.col("text")).count()}

    # mixed-language detection: spans voting different languages flag
    # template pollution / machine-translated halves
    from spark_schema_guard.operators.textstats import language_consistency
    mixed = language_consistency(web, "doc_id", "text", n_chunks=4)
    report["language_mix"] = {
        "mixed": mixed.where(F.col("mixed")).count(),
        "unknown": mixed.where(F.col("mixed").isNull()).count()}

    # repetition gate (Gopher-style): drop keyword-stuffed / boilerplate
    # pages whose most frequent bigram takes over half the text
    rep = repetition_features(web, "doc_id", "text")
    repetitive = rep.where(F.col("top2gram_frac") > 0.5)
    report["repetition_gate"] = {"flagged": repetitive.count()}

    # hard quality gates: Gopher's document rules and C4's line rules
    # (thresholds tuned to the synthetic corpus, as in the gate queries;
    # a real crawl uses the paper defaults)
    from spark_schema_guard.operators.textstats import c4_rules, gopher_rules
    gop = gopher_rules(web, "doc_id", "text", min_stop_hits=1,
                       max_word_len=4.6)
    report["gopher_gate"] = {"rejected": gop.where(~F.col("keep")).count()}
    c4 = c4_rules(web, "doc_id", "text",
                  terminators=("n", "e", "t", "w", "a"),
                  line_drop_tokens=("spark",),
                  page_drop_phrases=("customer",), min_kept_lines=1)
    report["c4_gate"] = {"rejected": c4.where(~F.col("keep")).count()}

    # benchmark decontamination: quarantine pages sharing 8-grams with
    # the held-out eval slice (demo bench = deterministic doc_id slice)
    bench = web.where(F.col("doc_id") % 97 == 0)
    contam = ngram_decontaminate(web, "doc_id", "text", bench, "text", n=8)
    report["decontamination"] = {
        "contaminated": contam.where("contaminated").count()}

    # LM perplexity gate (CCNet-style): train a bigram LM on the trusted
    # slice (here: the en pages), score every page in bits/bigram,
    # bucket head/middle/tail at the scored tertiles — tail pages are
    # the "least like the reference corpus" candidates for dropping
    from spark_schema_guard.operators import perplexity_score
    ppl = perplexity_score(web, web.where(F.col("lang") == "en"),
                           "doc_id", "text")
    report["perplexity_gate"] = {
        str(r["ppl_bucket"]): r["n"] for r in
        ppl.groupBy("ppl_bucket").agg(F.count(F.lit(1)).alias("n"))
        .collect()}

    # quality classifier (fastText-style NB, closed-form training):
    # bootstrap the labels from the perplexity gate itself — head pages
    # are positives, tail pages negatives (the CCNet move: no hand
    # labels exist at crawl scale), then score EVERY page
    from spark_schema_guard.operators import nb_classifier_scores
    pos = web.join(ppl.where(F.col("ppl_bucket") == "head")
                   .select("doc_id"), "doc_id", "left_semi")
    neg = web.join(ppl.where(F.col("ppl_bucket") == "tail")
                   .select("doc_id"), "doc_id", "left_semi")
    clf = nb_classifier_scores(web, "doc_id", "text",
                               pos, "doc_id", "text",
                               neg, "doc_id", "text", n=1, buckets=4096)
    report["quality_classifier"] = {
        "kept": clf.where("keep").count(),
        "dropped": clf.where(~F.col("keep")).count()}

    # cross-doc duplicated spans (the exact-substring-dedup signal):
    # pages whose tokens mostly sit inside corpus-duplicated 8-gram
    # spans are template farms / mirrored boilerplate
    from spark_schema_guard.operators.dedup import dup_span_features
    spans = dup_span_features(web, "doc_id", "text", n=8)
    report["dup_spans"] = {
        "template_heavy": spans.where(F.col("dup_token_frac") > 0.5)
        .count()}

    # PII gate: count emails/IPs/phones per page (zero-shuffle scan) and
    # SUBSTITUTE the redacted text for flagged pages — clean pages keep
    # their original bytes (redacted == text when nothing matched)
    pii = pii_features(web, "doc_id", "text", redact=True)
    report["pii_gate"] = {"flagged": pii.where(~F.col("pii_free")).count()}

    # -- 3. dedup: candidates -> clusters -> canonical only ---------------
    clean = validated.where(F.col("verdict")) \
        .join(contam.where(~F.col("contaminated")).select("doc_id"),
              "doc_id", "left_semi") \
        .join(pii.select("doc_id", "redacted"), "doc_id") \
        .withColumn("text", F.coalesce("redacted", "text")).drop("redacted")
    # hot-domain cap: no single host contributes more than 50 pages
    # (md5-deterministic pick) — bounds the planted 20% hot domain
    # before the shuffle-heavy dedup stages see the skew
    from spark_schema_guard.operators import cap_per_stratum
    capped = cap_per_stratum(
        clean.withColumn(
            "domain", F.regexp_extract("url", r"^https://([^/]+)/", 1)),
        "doc_id", "domain", 50).drop("domain")
    report["domain_cap"] = {"before": clean.count(),
                            "after": capped.count()}
    clean = capped
    edges = minhash_candidates(clean, "doc_id", "text",
                               num_hashes=8, bands=4, shingle_k=8)
    # VERIFY stage: LSH candidates are probabilistic — keep only pairs
    # whose EXACT shingle Jaccard clears the near-dup bar before linking
    from spark_schema_guard.operators.dedup import verify_jaccard
    verified = verify_jaccard(clean, "doc_id", "text", edges,
                              shingle_k=8, min_jaccard=0.5)
    report["verify_stage"] = {"candidates": edges.count(),
                              "verified": verified.count()}
    clustered = duplicate_clusters(clean, "doc_id", verified)
    # quality-aware canonical: keep the LONGEST member per cluster (not
    # the lowest id) — cluster_representatives' argmax aggregate
    from spark_schema_guard.operators.dedup import keep_canonical
    deduped = keep_canonical(
        clean,
        clustered.join(clean.select(
            "doc_id", F.length("text").alias("score")), "doc_id"),
        "doc_id", score_col="score")
    # the MinHash-dedup lineage is the deepest plan in the pipeline and
    # THREE consumers sit below it (semantic dedup's two union branches
    # + the band index) — persist the survivors once
    deduped = deduped.persist()
    report["dedup"] = {"before": clean.count(), "after": deduped.count()}

    # SEMANTIC dedup (SemDeDup): MinHash only catches near-identical
    # BYTES; the embedding pass groups near-identical MEANING.  Cells
    # come from the md5-seeded k-means quantizer; survivors keep the
    # longest member per semantic group
    from spark_schema_guard.operators import semantic_keep_best
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select(F.col("vec_id").alias("doc_id"), "embedding")
    with_emb = deduped.join(emb, "doc_id", "left")
    sem_kept = semantic_keep_best(
        with_emb.where(F.col("embedding").isNotNull())
                .withColumn("__score", F.length("text")),
        "doc_id", "embedding", "__score",
        threshold=0.35, n_centroids=8, max_cell=100_000)
    # pages with no embedding pass through untouched (they were never
    # semantically comparable)
    deduped = with_emb.where(F.col("embedding").isNull()) \
        .unionByName(sem_kept.drop("__score")) \
        .drop("embedding").persist()
    report["semantic_dedup"] = {"after": deduped.count()}

    # embedding-space decontamination: the semantic sibling of the
    # n-gram check above — flag survivors whose embedding is
    # near-identical to a bench item (paraphrased eval leakage)
    from spark_schema_guard.operators import embedding_decontaminate
    sem_contam = embedding_decontaminate(
        with_emb.where(F.col("embedding").isNotNull()), "doc_id",
        "embedding", emb.where(F.col("doc_id") % 97 == 0), "embedding",
        threshold=0.9)
    report["semantic_decontamination"] = {
        "contaminated": sem_contam.where(F.col("contaminated")).count()}

    # incremental leg: persist the survivors' band index once, then any
    # FUTURE snapshot probes it instead of re-running the corpus
    # self-join (here: re-ingesting this same crawl drops every doc)
    from spark_schema_guard.operators.dedup import (dedup_against_index,
                                                    minhash_band_index)
    index_path = os.path.join(out_dir, "band_index")
    minhash_band_index(deduped, "doc_id", "text",
                       num_hashes=8, bands=4, shingle_k=8) \
        .write.mode("overwrite").parquet(index_path)
    resurvey = dedup_against_index(
        web.withColumn("doc_id", F.col("doc_id") + 10_000_000),
        spark.read.parquet(index_path), "doc_id", "text",
        num_hashes=8, bands=4, shingle_k=8, min_shared_bands=2)
    report["incremental_dedup"] = {"re-ingested_kept": resurvey.count()}

    # -- 4. data mixing ---------------------------------------------------
    mixed = stratified_sample(
        deduped, "lang", {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.5},
        "doc_id", mode="hash")
    report["mix"] = {r["lang"]: r["n"] for r in
                     mixed.groupBy("lang").agg(
                         F.count(F.lit(1)).alias("n")).collect()}
    # DSIR importance weights toward an English "target domain": the
    # per-lang mean scores confirm the selection signal orders languages
    from spark_schema_guard.operators import importance_weights
    iw = importance_weights(deduped, "doc_id", "text",
                            deduped.where(F.col("lang") == "en"),
                            "doc_id", "text", n=2, buckets=2048)
    report["importance_weights"] = {
        r["lang"]: round(r["m"], 4) for r in
        iw.join(deduped.select("doc_id", "lang"), "doc_id")
          .groupBy("lang").agg(F.avg("logw").alias("m")).collect()}

    # temperature mixing diagnostic (n^0.3): what the per-lang mix looks
    # like when low-resource langs are upweighted XLM-R-style
    from spark_schema_guard.operators import temperature_mix
    report["temperature_mix"] = {
        r["lang"]: r["n"] for r in
        temperature_mix(deduped, "doc_id", "lang", 200, tau=0.3)
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}

    # cap every language at a token budget (deterministic md5 order):
    # the "mix to N tokens per source" step of a real training run
    mixed = take_token_budget(
        mixed.withColumn("__tok", token_count(F.col("text"))),
        "doc_id", "__tok", strata_col="lang",
        budgets={"en": 1_500}, default_budget=400).drop("__tok")
    report["token_budget"] = {r["lang"]: r["n"] for r in
                              mixed.groupBy("lang").agg(
                                  F.count(F.lit(1)).alias("n")).collect()}

    # deterministic train/val/test columns (salted md5 — survives
    # re-runs, repartitioning AND the sampling above)
    from spark_schema_guard.operators import assign_splits
    mixed = assign_splits(mixed, "doc_id",
                          {"train": 0.9, "val": 0.05, "test": 0.05})
    # several actions consume `mixed` below (splits count, corpus write,
    # chunk write) — persist once so the validation/dedup lineage is not
    # recomputed per action
    mixed = mixed.persist()
    report["splits"] = {r["split"]: r["n"] for r in
                        mixed.groupBy("split").agg(
                            F.count(F.lit(1)).alias("n")).collect()}

    # tokenizer prep: train BPE merges on the SHIPPED mix (distributed
    # word counts -> deterministic driver merge loop) and measure the
    # resulting tokens/doc on the same corpus
    from spark_schema_guard.operators import bpe_encode_counts, train_bpe
    merges = train_bpe(mixed, "doc_id", "text", n_merges=64)
    bpe = bpe_encode_counts(mixed, "doc_id", "text", merges).agg(
        F.sum("n_words").alias("w"), F.sum("n_bpe_tokens").alias("t")
    ).collect()[0]
    report["tokenizer_prep"] = {
        "merges": len(merges),
        "bpe_tokens_per_word": round(bpe["t"] / max(bpe["w"], 1), 3)}

    # -- 5. chunk + audited, resumable write ------------------------------
    corpus_path = os.path.join(out_dir, "corpus")
    mixed.drop("violations", "verdict", "cluster_id", "is_canonical") \
        .write.mode("overwrite").parquet(corpus_path)
    # training shards: fixed 256-token windows with 32-token overlap
    chunks_path = os.path.join(out_dir, "chunks")
    chunk_documents(mixed, "doc_id", "text",
                    chunk_tokens=256, overlap=32) \
        .write.mode("overwrite").parquet(chunks_path)
    # count what was WRITTEN — recounting the chunk frame would re-run
    # the whole chunking lineage a second time
    report["chunks"] = {"n": spark.read.parquet(chunks_path).count()}
    plan.violation_rows(web, keys=["url"]).write.mode("overwrite") \
        .parquet(os.path.join(out_dir, "violations"))

    # -- 6. mine the corpus contract + watch it drift ----------------------
    # profile the shipped corpus into a JSON-schema contract (bounds,
    # lengths, enums, required) and diff it against the raw crawl: the
    # findings are exactly what the cleaning stages changed
    from spark_schema_guard.operators import (constraint_drift,
                                              suggest_constraints,
                                              suggested_schema)
    corpus_cols = ["url", "lang", "text"]
    mined = suggested_schema(mixed, corpus_cols)
    report["mined_contract"] = {
        "required": mined.get("required", []),
        "lang_enum": mined["properties"]["lang"].get("enum")}
    # the mined contract is closed over the corpus it was mined from
    closed = ssg.compile_plan(mined, mixed.select(*corpus_cols).schema) \
        .apply(mixed.select(*corpus_cols))
    report["mined_contract"]["corpus_violations"] = \
        closed.where(~F.col("verdict")).count()
    drift = constraint_drift(suggest_constraints(mixed, corpus_cols),
                             suggest_constraints(web, corpus_cols))
    report["contract_drift_vs_raw"] = {
        f"{r['column']}.{r['finding']}": bool(r["breaking"])
        for r in drift.collect()}

    # the same loop over a DYNAMIC JSON column: every crawler carries a
    # per-page metadata blob with no written contract — mine one from
    # the snapshot (per-key types/bounds/enums from one exploded variant
    # scan), then validate the column with it
    from spark_schema_guard.jsoncol import validate_json_column
    from spark_schema_guard.operators import suggested_json_schema
    i = F.col("doc_id")
    crawl_meta = F.concat(
        F.lit('{"status": '),
        F.when(i % 50 == 0, F.lit("404")).otherwise(F.lit("200")),
        F.lit(', "content_type": "text/html", "fetch_ms": '),
        ((i % 900) / 4.0).cast("string"),
        F.when(i % 9 == 0, F.lit(', "redirected": true'))
         .otherwise(F.lit("")),
        F.lit("}"))
    meta = web.select("url", crawl_meta.alias("crawl_meta"))
    jmined = suggested_json_schema(meta, "crawl_meta")
    jchecked = validate_json_column(meta, "crawl_meta", jmined,
                                    engine="columnar")
    report["json_contract"] = {
        "keys": sorted(jmined["properties"]),
        "required": jmined.get("required", []),
        "status_bounds": [
            jmined["properties"]["status"].get("minimum"),
            jmined["properties"]["status"].get("maximum")],
        "snapshot_violations":
            jchecked.where(~F.col("verdict")).count()}

    from spark_schema_guard.audit import AuditedRun

    run = AuditedRun(spark, plan, corpus_path,
                     os.path.join(out_dir, "audit"))
    report["audit"] = run.run()
    # a second run validates nothing: every input file is checkpointed
    rerun = AuditedRun(spark, plan, corpus_path,
                       os.path.join(out_dir, "audit"))
    report["audit_resume"] = rerun.run()

    print(json.dumps(report, indent=1, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
