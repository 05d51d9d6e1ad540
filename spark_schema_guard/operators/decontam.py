"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark corpus.

The standard LLM-pipeline hygiene step (GPT-3 appendix C, PaLM §7,
Llama 2 §A.6 all describe n-gram–overlap decontamination): a document
whose text contains any length-``n`` word n-gram that also appears in a
held-out benchmark is quarantined so eval scores stay honest.

Scale shape: the benchmark side is SMALL (eval suites are thousands of
rows, not billions) — its distinct n-gram set is broadcast, so the
training-corpus side stays a map-side hash join on the same scan that
produced the grams.  The doc side streams every gram (built via the
per-doc lead() window in word_ngram_stack — ~10x faster than HOF gram
arrays) into the broadcast probe, and one groupBy(id) counts DISTINCT
matched grams, so only matched grams (normally a tiny fraction) ever
shuffle.  No all-pairs comparison anywhere; at n>=8 grams are
near-unique so the join key carries no skew.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textstats import word_ngram_stack


def ngram_decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench: DataFrame,
    bench_text_col: str,
    *,
    n: int = 8,
) -> DataFrame:
    """Per-document contamination verdicts against a benchmark corpus.

    Returns one row per input document: ``n_matched_ngrams`` (how many of
    the doc's distinct word n-grams appear anywhere in the benchmark) and
    ``contaminated`` (any match).  Tokenization is lowercase whitespace
    splitting on both sides, so the check is symmetric and
    engine-portable (the DuckDB oracle reproduces it verbatim).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # all grams (not per-doc distinct) probe the broadcast set; the
    # per-doc count_distinct dedups AFTER the match, so the only shuffled
    # rows are matched grams (normally a tiny fraction) — a pre-join
    # distinct would shuffle the whole gram stream instead
    doc_grams = word_ngram_stack(df, id_col, text_col, (n,)) \
        .select(id_col, "gram")
    bench_grams = word_ngram_stack(
        bench.select(F.monotonically_increasing_id().alias("__bid"),
                     F.col(bench_text_col)),
        "__bid", bench_text_col, (n,)).select("gram").distinct()
    matched = doc_grams.join(F.broadcast(bench_grams), "gram") \
        .groupBy(id_col).agg(
            F.count_distinct("gram").alias("n_matched_ngrams"))
    return df.select(id_col).join(matched, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_matched_ngrams"), F.lit(0)).cast("long")
            .alias("n_matched_ngrams"),
        (F.coalesce(F.col("n_matched_ngrams"), F.lit(0)) > 0)
            .alias("contaminated"),
    )


def embedding_decontaminate(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bench: DataFrame,
    bench_vec_col: str,
    *,
    threshold: float = 0.9,
    max_bench: int = 100_000,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag training
    documents whose embedding is near-identical (cosine >= ``threshold``)
    to ANY held-out benchmark embedding — the semantic sibling of
    :func:`ngram_decontaminate` that catches paraphrased or reformatted
    eval items an n-gram overlap misses (the contamination mode the
    GPT-4 / Llama-3 reports measure with embedding similarity).

    Returns one row per input document: ``n_bench_matches`` (how many
    bench embeddings clear the threshold) and ``contaminated``.  Rows
    whose embedding cannot be scored — NULL / wrong dimension / NaN /
    zero norm — get NULL in both columns: "unknown" is an honest verdict
    for an uncheckable document, never a silent "clean".

    Scale shape (10^12-row argument): the benchmark side is SMALL and
    FIXED-SIZE (eval suites are 10^3-10^5 items), so its matrix is
    collected once driver-side (guarded by ``max_bench``, whose default
    of 10^5 rows keeps the matrix tens of MB, inside safe broadcast
    range) and shipped to executors as a BROADCAST variable — torrent
    distribution once per executor, never re-serialized inside each
    task's closure — then one BLAS matmul per Arrow batch against the
    corpus scan, ZERO shuffles, zero joins, no per-query fan-out.  Cost
    is one corpus scan x a constant-width matmul; a 4x cluster does it
    4x as fast with no cross-talk.  Bench vectors that cannot be scored
    are dropped at collect time (they could never clear a cosine
    threshold); a NULL *element* inside a bench vector becomes NaN and
    the row is dropped by the same finite filter.

    Pair membership (cosine >= threshold) is stable across engines for
    any threshold not within ~1e-12 of a real cosine — the same
    float-reassociation contract as ``semdedup.semantic_near_dups``'s
    arrow mode; only counts and booleans are emitted, never raw scores.
    """
    bvecs = [r["bv"] for r in (
        bench.select(F.col(bench_vec_col).cast("array<double>").alias("bv"))
        .where(F.col("bv").isNotNull())
        .limit(max_bench + 1).collect())]
    if len(bvecs) > max_bench:
        raise ValueError(
            f"benchmark side exceeds max_bench={max_bench}; a benchmark "
            "this large should be n-gram-decontaminated or sliced.  "
            "(The default dropped from 2,000,000 to 100,000 in round 4 "
            "to keep the broadcast matrix tens of MB — pass "
            "max_bench=<your count> explicitly to restore the old bound.)")
    dims = {len(v) for v in bvecs}
    if len(dims) != 1:
        raise ValueError(
            f"benchmark embeddings must share one dimension, got {sorted(dims)}"
            if dims else "no well-formed benchmark embeddings to compare against")
    dim = dims.pop()
    B = np.asarray(
        [[float(x) if x is not None else float("nan") for x in v]
         for v in bvecs], dtype=np.float64)
    bnorm = np.sqrt((B * B).sum(axis=1))
    ok = np.isfinite(B).all(axis=1) & (bnorm > 0)
    B, bnorm = B[ok], bnorm[ok]
    if not len(B):
        raise ValueError("no well-formed benchmark embeddings to compare against")

    id_type = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField("__id", id_type),
        T.StructField("n_bench_matches", T.LongType()),
        T.StructField("contaminated", T.BooleanType())])
    thr = float(threshold)
    # broadcast, not closure capture: the bench matrix ships to each
    # executor once via torrent instead of riding every task's
    # serialized closure.  It lives as long as the returned frame's plan
    # (the JVM PythonFunction holds it); Spark's ContextCleaner reclaims
    # it after that — destroying it eagerly would break the lazy frame.
    bc = df.sparkSession.sparkContext.broadcast((B, bnorm))

    def score(batches):
        Bm, Bn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.full((len(pdf), dim), np.nan, dtype=np.float64)
            for i, v in enumerate(pdf["__v"]):
                if v is not None and len(v) == dim:
                    M[i] = v
            nrm = np.sqrt((M * M).sum(axis=1))
            valid = np.isfinite(M).all(axis=1) & (nrm > 0)
            n = np.zeros(len(pdf), dtype=np.int64)
            if valid.any():
                S = (M[valid] @ Bm.T) / np.outer(nrm[valid], Bn)
                n[valid] = (S >= thr).sum(axis=1)
            out = pd.DataFrame({
                "__id": pdf["__id"],
                "n_bench_matches": pd.array(n, dtype="Int64"),
                "contaminated": pd.array(n > 0, dtype="boolean")})
            out.loc[~valid, ["n_bench_matches", "contaminated"]] = pd.NA
            yield out

    return (df.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).cast("array<double>").alias("__v"))
            .mapInPandas(score, schema)
            .withColumnRenamed("__id", id_col))
