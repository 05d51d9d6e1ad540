"""Structured Streaming support.

The reference is a batch-only engine (SURVEY.md §2.7), but a compiled
:class:`ValidationPlan` is pure Column expressions, so it applies to a
streaming DataFrame unchanged — validation becomes a stateless map stage.
This module adds the streaming-specific conveniences:

* :func:`validate_stream` — plan over a readStream source;
* :func:`violation_rate_by_window` — watermarked event-time windows of
  verdict/violation counts (late data handled by the watermark, state
  bounded);
* :func:`stream_drift_chisq` — watermarked windowed chi-square
  goodness-of-fit of a categorical histogram (``lang``) against a fixed
  baseline, one stateful aggregation per window;
* :func:`stream_to_audit` — foreachBatch sink appending per-batch metric
  rows to the same audit table the batch runner uses, so a streaming job
  is resumable/observable identically;
* :func:`stream_blocked_urls` — the domain-blocklist crawl gate as
  stateless per-label stream-static broadcast joins;
* :func:`stream_lm_bits_by_window` — windowed mean LM cross-entropy
  (the CCNet perplexity signal as a live drift monitor).

Dynamic JSON columns need no streaming-specific operator at all:
``jsoncol.validate_json_column`` (columnar engine) is pure Column
expressions, so it applies to a readStream frame unchanged — including
with a contract MINED from a trusted batch snapshot by
``operators.suggested_json_schema`` (mine once, stream-validate every
later batch; novel keys and out-of-bounds values surface as violations
under the closed contract — pinned by
tests/test_cli_streaming.py::test_stream_validate_mined_json_contract).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validate_stream(stream_df: DataFrame, plan) -> DataFrame:
    """Apply a compiled plan to a streaming DataFrame (stateless)."""
    return plan.apply(stream_df)


def violation_rate_by_window(
    validated: DataFrame,
    time_col: str,
    *,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Windowed verdict aggregation with a watermark for late rows."""
    win = F.window(F.col(time_col), window, slide) if slide else \
        F.window(F.col(time_col), window)
    return (
        validated.withWatermark(time_col, watermark)
        .groupBy(win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("verdict")).cast("long")).alias("invalid_rows"),
            F.sum(F.size("violations")).alias("violations"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "rows", "invalid_rows", "violations",
        )
    )


def stream_unique(
    stream_df: DataFrame,
    keys: list[str] | str,
    *,
    time_col: str,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming uniqueness enforcement: keep the first row per key, the
    streaming analog of the batch url-uniqueness constraint
    (operators/uniqueness.py).

    State is bounded by the watermark — Spark evicts keys once the event
    time passes ``watermark``, so a duplicate arriving later than the
    horizon is NOT detected (the unavoidable batch/stream tradeoff; run
    the batch salted check for the full-history guarantee)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return (
        stream_df.withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def stream_drift_chisq(
    stream_df: DataFrame,
    value_col: str,
    baseline,
    *,
    time_col: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Windowed chi-square goodness-of-fit drift of a categorical column
    (``lang`` histograms, north rule) against a FIXED baseline
    distribution — the streaming analog of
    :func:`operators.drift.chi_square_drift`, which tests homogeneity
    across batch buckets.

    ``baseline`` is a ``dict`` value -> share or a tiny DataFrame with
    ``value``/``share`` columns (collected driver-side once; shares are
    normalized).  The baseline category set is known at plan time, so
    each window reduces to ONE stateful aggregation of conditional
    counts (k+1 longs per window — append-mode safe, map-side
    combinable, state bounded by windows-in-horizon × (k+1)).  Emits per
    closed window: ``statistic`` = Σ (obs_i − n·p_i)²/(n·p_i) over
    baseline categories, ``dof`` = k−1, plus ``novel_rows`` — rows whose
    value has no baseline mass (expected 0 makes the statistic
    degenerate, so novelty is reported as its own count instead of an
    infinity).  High-cardinality columns belong in the batch operator;
    this one is for histogram-sized category sets.
    """
    if isinstance(baseline, DataFrame):
        shares = {r["value"]: float(r["share"]) for r in baseline.collect()}
    else:
        shares = {k: float(v) for k, v in baseline.items()}
    shares = {k: v for k, v in shares.items() if v > 0.0}
    if not shares:
        raise ValueError("baseline must contain at least one positive share")
    total = sum(shares.values())
    cats = sorted(shares)
    win = F.window(F.col(time_col), window, slide) if slide else \
        F.window(F.col(time_col), window)
    val = F.col(value_col)
    aggs = [F.count(F.lit(1)).alias("rows")]
    for i, cat in enumerate(cats):
        aggs.append(F.sum(val.eqNullSafe(F.lit(cat)).cast("long"))
                    .alias(f"_c{i}"))
    agg = (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(win.alias("win")).agg(*aggs)
    )
    n = F.col("rows")
    stat = F.lit(0.0)
    known = F.lit(0).cast("long")
    for i, cat in enumerate(cats):
        expected = n * F.lit(shares[cat] / total)
        stat = stat + F.pow(F.col(f"_c{i}") - expected, 2) / expected
        known = known + F.col(f"_c{i}")
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "rows",
        (n - known).alias("novel_rows"),
        stat.alias("statistic"),
        F.lit(len(cats) - 1).cast("long").alias("dof"),
    )


def violation_streaks(
    validated: DataFrame,
    key_col: str,
    *,
    min_streak: int = 3,
    time_col: str | None = None,
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per key (e.g.
    web domain), track the running count of *consecutive* invalid rows
    across micro-batches; emit ``(key, streak, rows_seen)`` whenever the
    streak is at or above ``min_streak`` at the end of a batch — the
    "this domain just started failing systematically" alarm that a
    stateless window can't express (a window forgets the inter-batch
    carry).  State per key is two longs — bounded by |keys|."""
    import pandas as pd  # noqa: F401 — required by the pandas UDF contract
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_type = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("streak", T.LongType()),
        T.StructField("rows_seen", T.LongType()),
    ])
    state_type = T.StructType([
        T.StructField("streak", T.LongType()),
        T.StructField("rows_seen", T.LongType()),
    ])

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        streak, seen = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            # "consecutive" is defined in event-time order when a time
            # column is given, else in micro-batch arrival order
            if time_col is not None:
                pdf = pdf.sort_values(time_col)
            for ok in pdf["verdict"]:
                seen += 1
                # NULL verdicts arrive as None or NaN depending on the
                # Arrow batch; normalize explicitly — an unknown verdict
                # counts as a violation (policy: can't confirm validity)
                valid = False if pd.isna(ok) else bool(ok)
                streak = 0 if valid else streak + 1
        state.update((streak, seen))

        if streak >= min_streak:
            yield pd.DataFrame({"key": [key[0]], "streak": [streak],
                                "rows_seen": [seen]})
        else:
            yield pd.DataFrame({"key": [], "streak": [], "rows_seen": []})

    cols = [F.col(key_col).cast("string").alias("key"), F.col("verdict")]
    if time_col is not None:
        cols.append(F.col(time_col))
    return (
        validated.select(*cols)
        .groupBy("key")
        .applyInPandasWithState(update, out_type, state_type, "update",
                                GroupStateTimeout.NoTimeout)
    )


def stream_to_audit(validated: DataFrame, audit_path: str, run_id: str):
    """writeStream foreachBatch sink: per-micro-batch metrics appended to
    the audit table (unit = batch id), in ``audit.AUDIT_SCHEMA``."""
    from spark_schema_guard.audit import AUDIT_SCHEMA
    from spark_schema_guard.io import append_table

    def write_batch(batch_df: DataFrame, batch_id: int):
        metrics = batch_df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("verdict").cast("long")).alias("valid_rows"),
            F.sum(F.size("violations")).alias("violation_count"),
        ).withColumn("run_id", F.lit(run_id)) \
         .withColumn("unit", F.lit(f"batch-{batch_id}")) \
         .withColumn("schema_hash", F.lit("stream")) \
         .withColumn("rule_counts", F.lit(None)) \
         .withColumn("started_at", F.unix_timestamp()) \
         .withColumn("finished_at", F.unix_timestamp()) \
         .withColumn("wall_ms", F.lit(0))
        append_table(metrics.select(*[F.col(f.name).cast(f.dataType)
                                      for f in AUDIT_SCHEMA]), audit_path)

    return validated.writeStream.foreachBatch(write_batch)


def decontamination_filter(
    bench: DataFrame,
    bench_text_col: str,
    *,
    n: int = 8,
    bits_per_gram: int = 16,
    probes: int = 6,
):
    """Driver-side build of a streaming-safe contamination predicate.

    The batch operator (:func:`operators.decontam.ngram_decontaminate`)
    builds doc grams with a per-doc lead() window and joins the
    broadcast benchmark gram set — but analytic windows and mid-plan
    aggregations are not available to an append-mode stream.  The
    streaming shape is a BLOOM FILTER of the (static, small) benchmark
    gram set evaluated as a pure row expression — stateless, no
    shuffle, and the same design you'd ship at 10^12 docs (a few MB of
    bitset in the plan beats re-joining the exact set every
    micro-batch).

    Spark 4.1 does not expose ``bloom_filter_agg``/``might_contain`` to
    SQL, so the filter is built by hand with hash parity by
    construction: the bit indexes of the bench grams are computed by
    SPARK's own ``xxhash64(gram, probe_seed) pmod m`` (one tiny job,
    collected driver-side into an ``array<long>`` literal), and the
    stream probes the same expressions via ``element_at`` + ``getbit``.

    Plan-shape caveat: the per-gram probes are plain codegen-able
    expressions, but the top-level ``exists(grams, hit)`` is a
    higher-order function — CodegenFallback, so the projection stage
    that carries the flag evaluates interpreted (the repo's measured
    HOF invariant, CLAUDE.md).  That is the price of a STATELESS
    stream predicate: the batch rewrite (explode + groupBy) is a
    mid-plan aggregation an append-mode stream cannot run without
    unbounded state.  Micro-batches are small relative to the batch
    path, and the exact batch operator re-checks the quarantine.

    One-sided error, in the safe direction: a Bloom false positive
    over-quarantines a clean document (~0.1% at the default 16
    bits/gram × 6 probes); a contaminated document is NEVER missed.
    Run the exact batch operator over the quarantine for the final
    answer.

    Returns ``(predicate, n_grams)``: ``predicate(text_col)`` is a
    boolean Column, ``n_grams`` the benchmark gram count."""
    from .operators.textstats import _tokens, word_ngram_stack, word_ngrams

    bench_grams = word_ngram_stack(
        bench.select(F.monotonically_increasing_id().alias("__bid"),
                     F.col(bench_text_col)),
        "__bid", bench_text_col, (n,)).select("gram").distinct()
    n_grams = bench_grams.count()
    n_longs = max(1, -(-(max(n_grams, 1) * bits_per_gram) // 64))
    m = n_longs * 64

    def bit_indexes(g):
        return [F.pmod(F.xxhash64(g, F.lit(i)), F.lit(m))
                for i in range(probes)]

    idx_rows = bench_grams.select(
        F.explode(F.array(*bit_indexes(F.col("gram")))).alias("i")
    ).distinct().collect()
    words = [0] * n_longs
    for r in idx_rows:
        i = int(r["i"])
        words[i // 64] |= 1 << (i % 64)
    # LongType is signed — fold the top bit back
    bitset = F.lit([w - (1 << 64) if w >= (1 << 63) else w
                    for w in words])

    def gram_hit(g):
        hit = F.lit(True)
        for idx in bit_indexes(g):
            word = F.element_at(bitset, (idx / F.lit(64)).cast("int") + 1)
            hit = hit & (F.getbit(word, idx % F.lit(64)) == F.lit(1))
        return hit

    def predicate(text_col) -> Column:
        grams = word_ngrams(_tokens(F.col(text_col)
                                    if isinstance(text_col, str)
                                    else text_col), n)
        return F.exists(grams, gram_hit)

    return predicate, n_grams


def stream_decontaminate(
    stream_df: DataFrame,
    text_col: str,
    bench: DataFrame,
    bench_text_col: str,
    *,
    n: int = 8,
    flag_col: str = "contaminated",
) -> DataFrame:
    """Append a streaming-safe contamination flag (see
    :func:`decontamination_filter` for the Bloom design and its
    one-sided error)."""
    predicate, _ = decontamination_filter(bench, bench_text_col, n=n)
    return stream_df.withColumn(flag_col, predicate(text_col))


def stream_text_quality_by_window(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    time_col: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
    low_quality_below: float = 0.5,
) -> DataFrame:
    """Watermarked windowed aggregates of the per-doc quality features
    (operators/textstats.py quality_features — pure row expressions, so
    the same builder serves batch and stream): rows, mean quality
    score, mean stopword ratio, mean token count, and the low-quality
    share.  The per-window state is a handful of sums — bounded by
    windows-in-horizon."""
    from .operators.textstats import quality_features

    feats = quality_features(stream_df, id_col, text_col,
                             keep=(time_col,))
    win = F.window(F.col(time_col), window, slide) if slide else \
        F.window(F.col(time_col), window)
    return (
        feats.withWatermark(time_col, watermark)
        .groupBy(win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.avg("quality_score").alias("mean_quality"),
            F.avg("stopword_ratio").alias("mean_stopword_ratio"),
            F.avg("n_tokens").alias("mean_tokens"),
            F.avg((F.col("quality_score") < F.lit(low_quality_below))
                  .cast("double")).alias("low_quality_share"),
        )
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "rows", "mean_quality", "mean_stopword_ratio",
                "mean_tokens", "low_quality_share")
    )


def stream_encoding_by_window(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    time_col: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked windowed encoding-health rates — live crawl-ingest
    monitoring for the ftfy-style signals (a sudden mojibake spike is a
    decoder regression upstream, caught per window instead of per
    post-hoc batch audit).  Per window: rows, dirty share, and total
    mojibake / replacement-char / control / NBSP counts.  The
    per-window state is six sums — bounded by windows-in-horizon; the
    signal columns are the same pure row expressions as
    ``operators/textstats.py::encoding_features``, built inline on a
    frame that keeps the event time (a stream cannot re-join projected
    features back onto itself)."""
    from .operators.textstats import _CONTROL_RE, _mojibake_keys

    text = F.col(text_col)
    moji = "|".join(_mojibake_keys())
    n_moji = F.regexp_count(text, F.lit(moji))
    n_repl = F.regexp_count(text, F.lit("\ufffd"))
    n_ctrl = F.regexp_count(text, F.lit(_CONTROL_RE))
    n_nbsp = F.regexp_count(text, F.lit("\u00a0"))
    base = stream_df.select(
        F.col(id_col), F.col(time_col),
        n_moji.alias("__m"), n_repl.alias("__r"),
        n_ctrl.alias("__c"), n_nbsp.alias("__n"),
        ((n_moji + n_repl + n_ctrl + n_nbsp) == 0).alias("__clean"))
    win = F.window(F.col(time_col), window, slide) if slide else \
        F.window(F.col(time_col), window)
    return (
        base.withWatermark(time_col, watermark)
        .groupBy(win.alias("win"))
        .agg(F.count(F.lit(1)).alias("rows"),
             F.avg((~F.col("__clean")).cast("double")).alias("dirty_share"),
             F.sum("__m").cast("long").alias("n_mojibake"),
             F.sum("__r").cast("long").alias("n_replacement"),
             F.sum("__c").cast("long").alias("n_control"),
             F.sum("__n").cast("long").alias("n_nbsp"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "rows", "dirty_share", "n_mojibake", "n_replacement",
                "n_control", "n_nbsp")
    )


def stream_gate_by_window(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    time_col: str,
    gate: str = "gopher",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
    **gate_kwargs,
) -> DataFrame:
    """Watermarked windowed keep-rates for the hard quality gates
    (``gate="gopher"`` -> operators/textstats.gopher_rules,
    ``gate="c4"`` -> c4_rules): both gates are pure row projections, so
    the identical batch builder serves the stream — a crawl-side
    regression (template change, encoding bug, boilerplate flood) shows
    up as a falling ``keep_share`` in the CURRENT window.  Extra
    keyword arguments are forwarded to the gate builder (thresholds,
    terminators, blocklists).

    Emits per window: ``rows``, ``kept``, ``keep_share`` (NULL-verdict
    rows — NULL text — are excluded from the share, counted in
    ``n_null_verdict``).  Per-window state is three counters — bounded
    by windows-in-horizon.
    """
    from .operators.textstats import c4_rules, gopher_rules

    builders = {"gopher": gopher_rules, "c4": c4_rules}
    if gate not in builders:
        raise ValueError(f"gate must be one of {sorted(builders)}")
    flagged = builders[gate](stream_df, id_col, text_col,
                             carry=(time_col,), **gate_kwargs)
    win = F.window(F.col(time_col), window, slide) if slide else \
        F.window(F.col(time_col), window)
    return (
        flagged.withWatermark(time_col, watermark)
        .groupBy(win.alias("win"))
        .agg(F.count(F.lit(1)).alias("rows"),
             F.sum(F.col("keep").cast("long")).alias("kept"),
             F.avg(F.col("keep").cast("double")).alias("keep_share"),
             F.sum(F.col("keep").isNull().cast("long"))
              .alias("n_null_verdict"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "rows", "kept", "keep_share", "n_null_verdict")
    )


def stream_extraction_by_window(
    stream_df: DataFrame,
    *,
    time_col: str,
    html_col: str = "html",
    text_col: str = "text",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    extract=None,
) -> DataFrame:
    """Watermarked windowed extraction-consistency counters — the north
    rule's per-row html->text byte-identity invariant watched on a live
    ingest stream (an extractor regression shows up as a rising
    ``n_mismatch`` in the CURRENT window, not in next week's batch
    audit).  ``operators/extraction.extraction_check`` is a pure Column
    projection, so the identical builder serves batch and stream;
    per-window state is six counters — bounded by windows-in-horizon."""
    from .operators.extraction import extraction_check

    checked = extraction_check(stream_df, html_col, text_col,
                               extract=extract)
    v = F.col("extraction_verdict")

    def n(name):
        return F.sum((v == name).cast("long")).alias(f"n_{name}")

    return (
        checked.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("win"))
        .agg(F.count(F.lit(1)).alias("rows"), n("match"), n("mismatch"),
             n("missing_html"), n("missing_text"), n("undecodable"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "rows", "n_match", "n_mismatch", "n_missing_html",
                "n_missing_text", "n_undecodable")
    )


def stream_repetition_by_window(
    stream_df: DataFrame,
    text_col: str,
    *,
    time_col: str,
    n: int = 1,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    repetitive_above: float = 0.2,
) -> DataFrame:
    """Watermarked windowed repetition rates: per doc, the fraction of
    word n-grams taken by the single most frequent gram (Gopher's "top
    n-gram fraction"), aggregated per window (mean + share of docs above
    ``repetitive_above``).

    The per-doc fraction is computed as a pure row expression over the
    gram ARRAY (count the occurrences of each distinct gram) — O(d·u)
    per doc instead of the batch path's explode + groupBy, because an
    append-mode stream gets no analytic windows or mid-plan
    aggregations.  Use the batch operator
    (operators/textstats.repetition_features) for long-document corpora;
    this one is for streaming-sized documents."""
    from .operators.textstats import _tokens, word_ngrams

    toks = _tokens(F.col(text_col))
    grams = word_ngrams(F.filter(toks, lambda t: t != F.lit("")), n)
    top = F.array_max(F.transform(
        F.array_distinct(grams),
        lambda x: F.size(F.filter(grams, lambda y: y == x))))
    frac = F.when(F.size(grams) > 0,
                  top.cast("double") / F.size(grams)).otherwise(F.lit(0.0))
    win = F.window(F.col(time_col), window)
    return (
        stream_df.select(F.col(time_col),
                         frac.alias("top_gram_frac"))
        .withWatermark(time_col, watermark)
        .groupBy(win.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.avg("top_gram_frac").alias("mean_top_gram_frac"),
            F.avg((F.col("top_gram_frac") > F.lit(repetitive_above))
                  .cast("double")).alias("repetitive_share"),
        )
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "rows", "mean_top_gram_frac", "repetitive_share")
    )


def stream_dedup_sink(
    index: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    hash_fn: str = "xxhash64",
    max_bucket: int = 10000,
    min_shared_bands: int = 1,
    index_delta_path: str | None = None,
):
    """foreachBatch sink running incremental MinHash dedup of each
    micro-batch against a FROZEN corpus index (``minhash_band_index``
    output): survivors append to ``out_path`` with a ``__batch_id``
    column.

    Streaming dedup cannot be a plain stream-static join: the per-doc
    signature groupBy and the per-doc match aggregation would be
    UNBOUNDED streaming state (every doc id ever seen).  foreachBatch
    sidesteps that — within one micro-batch the full BATCH operator
    (``dedup_against_index``) runs with zero cross-batch state, which is
    also exactly how a production crawl pipeline consumes snapshots:
    micro-batch == ingest batch.

    With ``index_delta_path`` set, each batch's SURVIVORS also add
    their band rows there, and subsequent batches dedup against
    index ∪ delta — the stream deduplicates against its own history
    through a parquet-backed index extension with zero in-memory
    streaming state.  foreachBatch is AT-LEAST-once (a crash between a
    write and the checkpoint commit replays the batch), so both writes
    are per-``__batch_id`` dynamic partition OVERWRITES: a replayed
    batch rewrites its own partition instead of appending a second
    copy, which is what makes the sink effectively exactly-once.
    Duplicates WITHIN one micro-batch are intentionally not
    resolved here (that is the batch self-join's job — run
    ``minhash_candidates`` on the batch if needed); the delta only
    guards batch N+1 against batches ≤ N.

    Usage::

        sink = stream_dedup_sink(index, "doc_id", "text", out)
        stream.writeStream.foreachBatch(sink) \\
              .option("checkpointLocation", ck).start()
    """
    from .operators.dedup import dedup_against_index, minhash_band_index

    kw = dict(num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
              hash_fn=hash_fn, max_bucket=max_bucket)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = index
        if index_delta_path is not None:
            try:
                delta = spark.read.parquet(index_delta_path)
                idx = index.unionByName(delta.drop("__batch_id"))
            except AnalysisException as e:
                # ONLY the first-batch missing-path case may pass — any
                # other read failure (corrupt footer, permissions,
                # incompatible schema) must fail the batch loudly, or the
                # stream silently stops deduplicating against its history
                if "PATH_NOT_FOUND" not in (
                        (e.getErrorClass() or "") + str(e)):
                    raise
        kept = dedup_against_index(batch_df, idx, id_col, text_col,
                                   min_shared_bands=min_shared_bands, **kw)
        # one pass: materialize survivors, then derive their bands from
        # the written parquet (re-reading beats recomputing the batch
        # pipeline twice and keeps the two writes consistent).  Both
        # writes are dynamic partition overwrites keyed on __batch_id:
        # foreachBatch replays a batch after a mid-sink crash, and an
        # overwrite of the SAME partition is idempotent where a plain
        # append would duplicate every survivor (and its band rows)
        (kept.withColumn("__batch_id", F.lit(batch_id))
             .write.partitionBy("__batch_id")
             .option("partitionOverwriteMode", "dynamic")
             .mode("overwrite").parquet(out_path))
        if index_delta_path is not None:
            survivors = (spark.read.parquet(out_path)
                         .where(F.col("__batch_id") == batch_id))
            (minhash_band_index(survivors, id_col, text_col, **kw)
             .withColumn("__batch_id", F.lit(batch_id))
             .write.partitionBy("__batch_id")
             .option("partitionOverwriteMode", "dynamic")
             .mode("overwrite").parquet(index_delta_path))

    return _sink


def stream_blocked_urls(
    stream_df: DataFrame,
    url_col: str,
    blocklist: DataFrame,
    *,
    domain_col: str = "domain",
    max_labels: int = 8,
    flag_col: str = "blocked",
) -> DataFrame:
    """Append streaming-safe blocklist verdicts (``matched_domain`` +
    ``flag_col``) to every row — the crawl-hygiene gate applied at
    ingest time.

    The batch operator (:func:`operators.urlfilter.blocked_urls`)
    explodes the host's label suffixes and rolls matches back up with a
    per-row ``groupBy`` — a mid-plan aggregation an append-mode stream
    cannot run without state.  The streaming shape instead performs one
    STREAM-STATIC left join per label level (suffix k = the host's last
    ``k`` labels), ``max_labels`` of them, and takes ``least()`` over
    the per-level matches — semantically the same ``min(domain)`` as
    the batch rollup (least ignores NULLs), stateless, and every join
    broadcasts the static blocklist, so the stream never shuffles.

    Cost model: ``max_labels`` broadcast hash joins in one stage vs the
    batch path's single join over an exploded stream — the right trade
    for micro-batches; a backfill should use the batch operator.
    """
    if max_labels < 1:
        raise ValueError(f"max_labels must be >= 1, got {max_labels}")
    from .operators.urlnorm import url_host

    bl = blocklist.select(
        F.lower(F.col(domain_col)).alias("__bdom")).distinct()
    out = stream_df.withColumn("__host", url_host(F.col(url_col)))
    n_labels = F.size(F.split(F.col("__host"), r"[.]"))
    matches = []
    for k in range(1, max_labels + 1):
        suf = F.when(
            (F.col("__host") != "") & (n_labels >= k),
            F.expr(f"substring_index(__host, '.', -{k})"))
        out = out.withColumn(f"__suf{k}", suf).join(
            F.broadcast(bl.withColumnRenamed("__bdom", f"__m{k}")),
            F.col(f"__suf{k}") == F.col(f"__m{k}"), "left")
        matches.append(F.col(f"__m{k}"))
    matched = F.least(*matches) if len(matches) > 1 else matches[0]
    return (out.withColumn("matched_domain", matched)
            .withColumn(flag_col, F.col("matched_domain").isNotNull())
            .drop("__host", *[f"__suf{k}" for k in range(1, max_labels + 1)],
                  *[f"__m{k}" for k in range(1, max_labels + 1)]))


def stream_lm_bits_by_window(
    stream_df: DataFrame,
    text_col: str,
    lm,
    *,
    time_col: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked windowed mean LM cross-entropy (bits/bigram) of the
    incoming text — the CCNet quality signal as a DRIFT MONITOR: a
    window whose mean bits jump left the reference distribution (spam
    flood, language shift, template storm).

    The batch scorer (:func:`operators.lmscore.cross_entropy`) builds
    bigrams with a per-doc lead() window and aggregates per doc —
    analytic windows and per-doc regrouping are not append-stream-safe.
    Here bigrams are built as a per-row ARRAY expression (transform
    over an index sequence — a HOF, CodegenFallback; the documented
    price of stateless stream projections, cf. stream_decontaminate),
    exploded, joined to the BROADCAST model tables (stream-static
    equi-joins, stateless), and aggregated once per event-time window —
    the only state is one sum+count per window in the horizon.

    ``lm`` is an :class:`operators.lmscore.NgramLM`; train it on the
    static reference corpus (batch) and reuse it across restarts.
    """
    toks = F.filter(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda t: t != "")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("ctx"),
                        F.element_at(toks, i + 1).alias("tok"))),
    ).otherwise(F.array().cast("array<struct<ctx:string,tok:string>>"))
    bi = stream_df.select(
        F.col(time_col), F.explode(pairs).alias("p")
    ).select(time_col, F.col("p.ctx").alias("ctx"),
             F.col("p.tok").alias("tok"))
    scored = (
        bi.join(F.broadcast(lm.pairs), ["ctx", "tok"], "left")
          .join(F.broadcast(lm.contexts.withColumnRenamed(
              "ctx_n", "__ctx_n")), ["ctx"], "left")
          .join(F.broadcast(lm.vsize))
          .select(
              F.col(time_col),
              (-F.log2((F.coalesce(F.col("pair_n"), F.lit(0)) + 1.0)
                       / (F.coalesce(F.col("__ctx_n"), F.lit(0))
                          + F.col("v")))).alias("__bits"))
    )
    win = F.window(F.col(time_col), window, slide) if slide else \
        F.window(F.col(time_col), window)
    return (
        scored.withWatermark(time_col, watermark)
        .groupBy(win.alias("win"))
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.avg("__bits").alias("mean_h_bits"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "n_bigrams", "mean_h_bits")
    )
