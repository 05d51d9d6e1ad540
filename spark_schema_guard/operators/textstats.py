"""Text-analysis operators for web-corpus pipelines: token counting,
quality scoring, n-gram language identification, and document
fingerprinting — all native Column expressions (no Python in the row
path), so they ride the same scan as the validation rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..columnar.varsql import sqlstr

# tiny per-language stopword sets for the frequency heuristic — enough to
# separate the testdata languages deterministically
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "to"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "los"],
    "zh": ["的", "是", "不", "了", "在"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+")))


# BPE-ish sub-word token classes: letter runs, digit runs, and single
# other non-space characters.  Deliberately lookaround-free so the exact
# same pattern runs under Java regex (Spark) and RE2 (DuckDB oracle).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: letter runs, digit runs, and individual
    punctuation/symbol characters each count as one token (a cheap BPE
    stand-in for budget estimation).  Counted as regex matches — one
    scan, engine-portable."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("long")


def _tokens(text: Column) -> Column:
    """Whitespace tokens of the trimmed text (empty text -> [''])."""
    return F.split(F.trim(text), r"\s+")


def _token_hits(toks: Column, words) -> Column:
    """How many tokens are exact members of ``words`` — one pass over the
    token array (array_contains per token), not one string-replace scan
    per word."""
    word_arr = F.array(*[F.lit(w) for w in sorted(words)])
    return F.size(F.filter(toks, lambda t: F.array_contains(word_arr, t))) \
        .cast("long")


def word_occurrences(text: Column, word: str) -> Column:
    """Occurrences of a word as a whitespace-delimited token."""
    return _token_hits(_tokens(text), [word])


def quality_features(df: DataFrame, id_col: str, text_col: str,
                     keep: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc quality features: n_chars, n_tokens, mean token length,
    stopword ratio, punctuation ratio, digit ratio, and a [0,1] score.

    Single tokenize pass: the text is split once and every stopword test
    is an array membership check, instead of one full-string replace per
    stopword (22 scans per doc in the previous formulation).

    ``keep``: extra columns carried through untouched (e.g. the event
    time for streaming windows — the features are pure row expressions,
    so the same builder serves batch and streams).
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = token_count(text)
    stop_hits = _token_hits(_tokens(text), STOPWORDS)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    mean_tok_len = F.when(n_tokens > 0,
                          (n_chars - (n_tokens - 1)) / n_tokens).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, digits / n_chars).otherwise(F.lit(0.0))
    score = (
        F.least(n_tokens / F.lit(20.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * 0.15
        + (F.lit(1.0) - F.least(digit_ratio * F.lit(5.0), F.lit(1.0))) * 0.15
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(digit_ratio, 4).alias("digit_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-gram strings (space-joined) from a token array; empty array
    when the doc has fewer than ``n`` tokens.  A pure Column expression
    (transform over an index sequence) — use only where an ARRAY is
    required; for exploded per-gram processing prefer :func:`word_ngram_stack`,
    which builds grams via a per-doc lead() window and measures ~10x
    faster (HOF transforms are CodegenFallback, interpreted per gram)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def word_ngram_stack(df: DataFrame, id_col: str, text_col: str,
                     ns: tuple, *, with_pos: bool = False) -> DataFrame:
    """One row per (doc, n, gram) for every word n-gram, n in ``ns`` —
    lowercase whitespace tokens, grams space-joined.  With
    ``with_pos=True`` each row also carries ``pos``, the 0-based token
    index where the gram starts (used by span-coverage consumers such
    as :func:`~spark_schema_guard.operators.dedup.dup_span_features`).

    Built as posexplode(tokens) -> per-doc lead(tok, j) window ->
    concat_ws, NOT a transform-HOF over an index sequence: HOFs are
    CodegenFallback and measure ~10x slower per gram (see SCALE.md).
    The window partitions by doc id, so its sort is per-document
    (bounded by doc length) — no corpus-wide window; at 10^12 docs the
    token shuffle is the same volume the gram groupBys carry anyway.
    """
    from pyspark.sql.window import Window

    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"ns must be non-empty with every n >= 1, got {ns}")
    max_n = max(ns)
    toks = _tokens(F.lower(F.col(text_col)))
    st = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"))
    # blank/whitespace-only text splits to [''] — drop that phantom token
    # so n=1 honors the "docs shorter than n tokens yield no grams"
    # contract (a blank doc must not produce gram '')
    st = st.where(F.col("tok") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    lead_cols = [F.lead("tok", j).over(w).alias(f"_l{j}")
                 for j in range(1, max_n)]
    keep_pos = [F.col("pos")] if with_pos else []
    st = st.select(F.col(id_col), *keep_pos, F.col("tok"), *lead_cols)

    def _gram(n: int) -> Column:
        parts = [F.col("tok")] + [F.col(f"_l{j}") for j in range(1, n)]
        tail_ok = F.lit(True) if n == 1 else F.col(f"_l{n-1}").isNotNull()
        return F.when(tail_ok, F.concat_ws(" ", *parts))

    gram_structs = [F.struct(F.lit(n).alias("n"), _gram(n).alias("gram"))
                    for n in ns]
    return st.select(
        F.col(id_col), *keep_pos,
        F.explode(F.array(*gram_structs)).alias("t"),
    ).select(id_col, *([("pos")] if with_pos else []),
             F.col("t.n").alias("n"), F.col("t.gram").alias("gram")) \
        .where(F.col("gram").isNotNull())


def repetition_features(df: DataFrame, id_col: str, text_col: str,
                        *, ns: tuple = (2, 3)) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", table A1): for each n in ``ns`` the
    fraction of all word n-grams taken by the single most frequent one
    (``top{n}gram_frac``) and the fraction of n-gram occurrences that are
    repeats of an already-seen gram (``dup{n}gram_frac``).  High values
    flag boilerplate / keyword-stuffed pages a training pipeline drops.

    Scale shape: one explode of the per-doc gram arrays -> groupBy
    (id, n, gram) with map-side partial aggregation -> per-doc rollup.
    Shuffle volume is bounded by distinct grams per doc (same shape as
    minhash shingling, dedup.py); no window over the corpus, no driver
    collection.  Docs shorter than n tokens report 0.0 fractions.
    """
    stack = word_ngram_stack(df, id_col, text_col, ns)
    # single per-doc rollup with conditional aggregates: hash partitioning
    # on (id, n, gram) does not co-locate (id, n), so a groupBy(id, n)
    # middle stage would be a second full shuffle — fold it away
    counts = stack.groupBy(id_col, "n", "gram").agg(F.count("*").alias("cnt"))
    aggs = []
    for n in ns:
        is_n = F.col("n") == n
        aggs += [F.max(F.when(is_n, F.col("cnt"))).alias(f"_top{n}"),
                 F.sum(F.when(is_n, F.col("cnt"))).alias(f"_tot{n}"),
                 F.count(F.when(is_n, F.lit(1))).alias(f"_dis{n}")]
    frac_cols = []
    for n in ns:
        frac_cols.append(F.round(F.coalesce(
            F.col(f"_top{n}") / F.col(f"_tot{n}"), F.lit(0.0)), 4)
            .alias(f"top{n}gram_frac"))
        frac_cols.append(F.round(F.coalesce(
            1.0 - F.col(f"_dis{n}") / F.col(f"_tot{n}"), F.lit(0.0)), 4)
            .alias(f"dup{n}gram_frac"))
    per_doc = counts.groupBy(id_col).agg(*aggs) \
        .select(F.col(id_col), *frac_cols)
    out_cols = [F.col(id_col),
                token_count(F.col(text_col)).alias("n_tokens")]
    for n in ns:
        for stem in (f"top{n}gram_frac", f"dup{n}gram_frac"):
            out_cols.append(
                F.coalesce(F.col(stem), F.lit(0.0)).alias(stem))
    return df.select(F.col(id_col), F.col(text_col)) \
        .join(per_doc, id_col, "left").select(*out_cols)


def dup_line_features(df: DataFrame, id_col: str, text_col: str, *,
                      sep: str = r"\n") -> DataFrame:
    """Gopher's within-document duplicate-LINE signals (Rae et al. 2021,
    "Scaling Language Models", table A1 filters 1-4, complementing
    :func:`repetition_features`' n-gram filters 5-10): per document, the
    fraction of lines that are repeats of an identical earlier line in
    the SAME document (``dup_line_frac``) and the fraction of line
    characters sitting inside those repeats (``dup_line_char_frac``).
    Run again with ``sep=r"\\n\\n"`` for the paragraph variants (the
    output column names stay ``*_line_*`` — alias at the call site).

    Returns ``(id, n_lines, dup_line_frac, dup_line_char_frac)``;
    fractions are rounded to 4 decimals for stable cross-engine hashing
    (thresholds in a filter should recompute from raw counts if exact
    cutoffs matter).  NULL text yields NULL signals (explode drops the
    row; the left join brings it back with NULL aggregates — the
    module-wide NULL policy).  Empty lines count as lines, matching the
    paper's "fraction of lines" denominator.

    Scale shape: one explode of the per-doc line array -> groupBy
    ``(id, line)`` with map-side partial aggregation -> per-doc rollup
    (rows = distinct lines per doc) -> broadcast-eligible join back to
    ids.  No window, no corpus-wide state; a single giant document
    costs only its own line count.  Same shape as
    ``repetition_features`` — the A/B-measured explode+groupBy winner
    over array-fold HOFs (SCALE.md dedup section).
    """
    lines = F.split(F.col(text_col), sep)
    base = df.select(F.col(id_col), F.explode(lines).alias("__line"))
    counts = base.groupBy(id_col, "__line") \
        .agg(F.count(F.lit(1)).alias("__cnt"))
    chars = F.length("__line").cast("long")
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__cnt").alias("__n"),
        F.sum(F.col("__cnt") - 1).alias("__dup"),
        F.sum(F.col("__cnt") * chars).alias("__chars"),
        F.sum((F.col("__cnt") - 1) * chars).alias("__dupchars"))
    return df.select(F.col(id_col)).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("__n").alias("n_lines"),
        F.round(F.col("__dup") / F.col("__n"), 4).alias("dup_line_frac"),
        # all-empty lines have zero chars: 0/0 -> defined as 0.0
        F.round(F.when(F.col("__chars") > 0,
                       F.col("__dupchars") / F.col("__chars"))
                .otherwise(F.when(F.col("__n").isNotNull(), F.lit(0.0))),
                4).alias("dup_line_char_frac"),
    )


def language_guess(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-frequency language id: the language whose marker words hit
    most often; deterministic tie-break by language code."""
    text = F.col(text_col)
    toks = _tokens(text)
    scores = []
    for lang in sorted(LANG_MARKERS):
        hits = _token_hits(toks, LANG_MARKERS[lang])
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max on struct: compares hits first, then lang (desc tie-break
    # would need inversion; asc lang on equal hits is deterministic)
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col),
        best.getField("lang").alias("lang_guess"),
        best.getField("hits").alias("marker_hits"),
    )


def language_consistency(df: DataFrame, id_col: str, text_col: str, *,
                         n_chunks: int = 4) -> DataFrame:
    """Mixed-language detection: the document's token stream is cut into
    ``n_chunks`` contiguous spans, each span votes a language with the
    same stopword-marker heuristic as :func:`language_guess` (same
    max-(hits, lang) tie-break), and documents whose spans disagree are
    flagged — boilerplate in one language wrapping body text in another,
    machine-translated halves, template pollution.  Per doc:

    ``langs`` (sorted ','-joined distinct span votes), ``n_span_langs``,
    ``mixed`` (>1 distinct vote), ``dominant_lang`` (most spans won,
    ties to the LAST lang code — the ``language_guess`` tie direction).
    Spans with zero marker hits vote nothing; docs where NO span votes
    (NULL/empty/unknown-language text) return NULL in all four columns
    — unknown, not "consistent".

    Scale shape: posexplode(tokens) -> broadcast join against the tiny
    marker->lang table (only marker tokens survive) -> three stacked
    map-side-combining aggregations (span-lang counts, span argmax, doc
    rollup).  The explode+groupBy form, not per-span HOF filters — HOFs
    are CodegenFallback and one in the projection drops the whole stage
    out of codegen (see CLAUDE.md invariant); shuffle volume is marker
    HITS only, a tiny fraction of tokens."""
    if n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    # an inline table is a JVM-local relation: reading it starts no
    # Python worker, unlike a row-object createDataFrame
    rows = ", ".join(f"({sqlstr(w)}, {sqlstr(lang)})"
                     for lang in sorted(LANG_MARKERS)
                     for w in LANG_MARKERS[lang])
    markers = df.sparkSession.sql(
        f"SELECT * FROM VALUES {rows} AS t(tok, `__lang`)")
    toks = _tokens(F.lower(F.col(text_col)))
    st = (df.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"),
                    F.size(toks).alias("__nt"))
          .where(F.col("tok") != ""))
    st = st.withColumn(
        "__chunk",
        F.floor(F.col("pos") * n_chunks / F.col("__nt")).cast("int"))
    span_counts = (st.join(F.broadcast(markers), "tok")
                   .groupBy(id_col, "__chunk", "__lang")
                   .agg(F.count(F.lit(1)).alias("__hits")))
    span_votes = (span_counts.groupBy(id_col, "__chunk")
                  .agg(F.max(F.struct(F.col("__hits"),
                                      F.col("__lang"))).alias("__best"))
                  .select(id_col, F.col("__best.__lang").alias("__vote")))
    per_doc = (span_votes.groupBy(id_col, "__vote")
               .agg(F.count(F.lit(1)).alias("__won"))
               .groupBy(id_col)
               .agg(F.array_join(F.array_sort(F.collect_set("__vote")),
                                 ",").alias("langs"),
                    F.count(F.lit(1)).cast("int").alias("n_span_langs"),
                    F.max(F.struct(F.col("__won"), F.col("__vote")))
                    .getField("__vote").alias("dominant_lang")))
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(F.col(id_col), "langs", "n_span_langs",
                    F.when(F.col("n_span_langs").isNotNull(),
                           F.col("n_span_langs") > 1).alias("mixed"),
                    "dominant_lang"))


def fingerprint(df: DataFrame, id_col: str, text_col: str, *, prefix: int = 32) -> DataFrame:
    """Cheap stable document fingerprint: md5 over (normalized prefix,
    normalized suffix, length) — an O(1)-per-doc rolling-hash stand-in."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    fp = F.md5(F.concat_ws(
        "|",
        F.substring(norm, 1, prefix),
        F.substring(F.reverse(norm), 1, prefix),
        F.length(norm).cast("string"),
    ))
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def token_vocabulary(df: DataFrame, id_col: str, text_col: str, *,
                     k: int = 1000, lowercase: bool = True,
                     min_count: int = 1) -> DataFrame:
    """Top-k corpus vocabulary by token frequency — the
    tokenizer-training / stopword-extraction prep step.  Returns
    ``rank, token, n_occurrences, n_docs, share`` (share of ALL corpus
    token occurrences; rank deterministic: count DESC, token ASC).

    Scale shape: explode(tokens) -> TWO stacked map-side-combining
    aggregations — ``groupBy(token, id)`` then ``groupBy(token)`` —
    give exact per-token document counts WITHOUT a count-distinct
    expand, and the hot shuffle (first level) is keyed by (token, doc)
    so even a stop-word's rows spread over its documents rather than
    one reducer.  The top-k itself is ``ORDER BY ... LIMIT k``
    (TakeOrderedAndProject: partition-local top-k, k·P-row merge — the
    heavy_hitters shape), never a full sort or single-partition window
    over the distinct vocabulary.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    text = F.col(text_col)
    tok = F.explode(_tokens(F.lower(text) if lowercase else text))
    toks = (df.select(F.col(id_col).alias("__id"), tok.alias("token"))
            .where(F.col("token") != ""))
    pairs = (toks.groupBy("token", "__id")
             .agg(F.count(F.lit(1)).alias("__n")))
    vocab = (pairs.groupBy("token")
             .agg(F.sum("__n").alias("n_occurrences"),
                  F.count(F.lit(1)).alias("n_docs")))
    # share denominates over ALL corpus occurrences — computed before
    # the min_count cut, so pruning the tail never inflates shares
    total = vocab.agg(F.sum("n_occurrences").alias("__t"))
    if min_count > 1:
        vocab = vocab.where(F.col("n_occurrences") >= min_count)
    topk = (vocab.crossJoin(F.broadcast(total))
            .withColumn("share", F.col("n_occurrences") / F.col("__t"))
            .drop("__t")
            .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
            .limit(k))
    # rank without a window: stats.rank_bounded (the k×k triangular
    # join; WindowExec-warning rationale lives there)
    from .stats import rank_bounded

    return (rank_bounded(topk, "n_occurrences", "token")
            .select("rank", "token", "n_occurrences", "n_docs", "share"))


def chunk_documents(df: DataFrame, id_col: str, text_col: str, *,
                    chunk_tokens: int = 256, overlap: int = 0) -> DataFrame:
    """Split each document into fixed-size whitespace-token windows —
    the standard training-data prep step before tokenization proper.

    Returns ``(id, chunk_id, n_chunk_tokens, chunk_text)``: chunk ``c``
    covers tokens ``[c*stride, c*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the last chunk may be shorter;
    blank/whitespace-only docs produce NO chunks.

    Scale shape: one Generate (explode of a per-doc ``sequence`` of
    chunk ids) over the scan, then ``slice`` + ``array_join`` — all
    codegen-capable built-ins, no lambda higher-order functions, zero
    shuffle.  Output rows ~= corpus tokens / stride regardless of doc
    skew, and no per-doc window or sort is involved, so a single giant
    document costs only its own chunk count.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    text = F.col(text_col)
    n = token_count(text)
    n_chunks = F.ceil(F.greatest(n - overlap, F.lit(1)) / stride).cast("int")
    base = df.select(
        F.col(id_col), _tokens(text).alias("__toks"),
        # empty array (not NULL) so explode drops blank docs outright
        F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1))
         .otherwise(F.array().cast("array<int>")).alias("__chunk_ids"))
    piece = F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1,
                    chunk_tokens)
    return (base.select(F.col(id_col), "__toks",
                        F.explode("__chunk_ids").alias("chunk_id"))
                .select(F.col(id_col), F.col("chunk_id"),
                        F.size(piece).alias("n_chunk_tokens"),
                        F.array_join(piece, " ").alias("chunk_text")))


def chunk_by_sentences(df: DataFrame, id_col: str, text_col: str, *,
                       chunk_tokens: int = 256) -> DataFrame:
    """Sentence-boundary chunking — the RAG/training-prep complement to
    :func:`chunk_documents`: sentences are never split mid-way; each
    sentence joins the chunk its STARTING token offset falls into
    (``floor(start / chunk_tokens)``), so chunks hold whole sentences
    and run ~``chunk_tokens`` long, overflowing by at most one
    sentence.  Deterministic on any cluster size.

    Sentences end at ``. ! ?`` followed by whitespace — marked
    LOOKAROUND-FREE (a ``([.!?])\\s+`` capture rewritten to ``$1`` + a
    unit-separator control char, then a plain split), so a SQL oracle
    replays the segmentation with its own backreference syntax rather
    than a lookbehind RE2 lacks.  Text containing U+001E itself would
    split there too — the documented sentinel caveat.

    Returns ``(id, chunk_id, n_sentences, n_chunk_tokens, chunk_text)``
    with ``chunk_text`` the original sentences space-joined in order;
    blank/NULL docs produce no chunks.

    Scale shape: split -> posexplode -> per-DOC cumulative-token window
    (bounded by doc length, the ``word_ngram_stack`` precedent — never
    corpus-wide) -> one ``groupBy(id, chunk)`` reassembly via
    ``sort_array(collect_list(struct))`` (per-chunk memory, no lambda
    HOFs).  Shuffle volume ~ corpus sentences."""
    from pyspark.sql.window import Window

    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    marked = F.regexp_replace(F.trim(F.col(text_col)),
                              r"([.!?])\s+", "$1\u001e")
    sent = (df.select(F.col(id_col),
                      F.posexplode(F.split(marked, "\u001e"))
                      .alias("__i", "__s"))
            .where(F.trim(F.col("__s")) != ""))
    sent = sent.withColumn("__nt", token_count(F.col("__s")))
    w = (Window.partitionBy(id_col).orderBy("__i")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("__nt").over(w), F.lit(0))
    sent = sent.withColumn(
        "chunk_id", F.floor(start / chunk_tokens).cast("int"))
    piece = F.when(F.col("__s").isNotNull(),
                   F.struct(F.col("__i"), F.col("__s")))
    return (sent.groupBy(id_col, "chunk_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_sentences"),
                 F.sum("__nt").cast("int").alias("n_chunk_tokens"),
                 F.array_join(F.sort_array(F.collect_list(piece))
                              .getField("__s"), " ").alias("chunk_text")))


# PII scanning — patterns deliberately restricted to syntax that Java's
# regex and RE2 (DuckDB) interpret identically (no lookaround, no
# backreferences), so the same literal pattern is the oracle's pattern.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{4,6}\b",
}


# the Gopher repetition/quality paper's "must contain >= 2 of" word set
# (Rae et al. 2021, "Scaling Language Models", table A1 filter 8)
GOPHER_STOPWORDS = ("and", "be", "have", "of", "that", "the", "to", "with")


def gopher_rules(df: DataFrame, id_col: str, text_col: str, *,
                 min_tokens: int = 50, max_tokens: int = 100_000,
                 min_word_len: float = 3.0, max_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_frac: float = 0.8,
                 min_stop_hits: int = 2,
                 max_bullet_frac: float = 0.9,
                 max_ellipsis_frac: float = 0.3,
                 carry: tuple = ()) -> DataFrame:
    """Gopher-style document quality RULES (Rae et al. 2021, table A1):
    one boolean per rule plus the composite ``keep`` verdict, alongside
    the measured signals the rules threshold — the standard web-corpus
    pre-filter stage (word-count window, mean word length window,
    symbol-to-word ratio, alphabetic-word fraction, required stopwords,
    bullet/ellipsis line fractions).

    Unlike :func:`quality_features` (a soft 0-1 score), these are the
    hard accept/reject gates a training pipeline applies first.
    ``carry`` names extra input columns to pass through unchanged
    (e.g. an event-time column for the streaming window builder).  All
    signals are engine-portable expressions (same regexes run under
    Java regex and RE2), and every flag thresholds the UNROUNDED
    value — the reported ratio columns are rounded to 4 decimals for
    stable cross-engine hashing only.

    NULL text yields NULL signals and a NULL ``keep`` (filter or fill
    upstream — same policy as the dedup operators).

    Scale shape: pure per-doc Column projection over the scan — zero
    shuffle, no corpus state; the array lambdas run per doc on its own
    tokens/lines (bounded by doc length).  The reference engine has no
    corpus operators; this extends the web-pipeline family
    (SURVEY.md §2 extensions).
    """
    text = F.col(text_col)
    n_tokens = token_count(text)
    toks = _tokens(F.lower(text))
    # exact mean word length: non-whitespace chars / tokens (one
    # regexp_replace scan; quality_features' (n_chars-(n-1))/n variant
    # assumes single spaces and is kept there for continuity)
    nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    mean_wl = F.when(n_tokens > 0, nonspace / n_tokens).otherwise(F.lit(0.0))
    symbol_hits = F.regexp_count(text, F.lit(r"#|\.\.\.|…"))
    symbol_ratio = F.when(n_tokens > 0,
                          symbol_hits / n_tokens).otherwise(F.lit(0.0))
    alpha_hits = F.size(F.filter(toks, lambda t: t.rlike(r"\p{L}")))
    alpha_frac = F.when(n_tokens > 0,
                        alpha_hits / n_tokens).otherwise(F.lit(0.0))
    stop_hits = F.lit(0)
    for w in GOPHER_STOPWORDS:
        stop_hits = stop_hits + F.array_contains(toks, w).cast("int")
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    bullet = F.size(F.filter(
        lines, lambda line: F.substring(F.ltrim(line), 1, 1)
        .isin("-", "*", "•")))
    ellip = F.size(F.filter(
        lines, lambda line: F.rtrim(line).endswith("...")
        | F.rtrim(line).endswith("…")))
    bullet_frac = bullet / n_lines
    ellipsis_frac = ellip / n_lines
    r_tokens = (n_tokens >= min_tokens) & (n_tokens <= max_tokens)
    r_word_len = (mean_wl >= min_word_len) & (mean_wl <= max_word_len)
    r_symbol = symbol_ratio <= max_symbol_ratio
    r_alpha = alpha_frac >= min_alpha_frac
    r_stop = stop_hits >= min_stop_hits
    r_bullet = bullet_frac <= max_bullet_frac
    r_ellipsis = ellipsis_frac <= max_ellipsis_frac
    signals = [
        ("n_tokens", n_tokens),
        ("mean_word_len", F.round(mean_wl, 4)),
        ("symbol_ratio", F.round(symbol_ratio, 4)),
        ("alpha_frac", F.round(alpha_frac, 4)),
        ("n_stop_hits", stop_hits),
        ("bullet_frac", F.round(bullet_frac, 4)),
        ("ellipsis_frac", F.round(ellipsis_frac, 4)),
        ("r_tokens", r_tokens),
        ("r_word_len", r_word_len),
        ("r_symbol", r_symbol),
        ("r_alpha", r_alpha),
        ("r_stop", r_stop),
        ("r_bullet", r_bullet),
        ("r_ellipsis", r_ellipsis),
        ("keep", (r_tokens & r_word_len & r_symbol & r_alpha & r_stop
                  & r_bullet & r_ellipsis)),
    ]
    # NULL text must yield NULL signals (the documented NULL policy);
    # without the guard the when/otherwise fallbacks coerce several
    # signals to 0.0 and `keep` to a hard False for NULL input
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        *[F.when(text.isNotNull(), col).alias(name)
          for name, col in signals],
    )


# C4's line-keep terminators (Raffel et al. 2020 §2.2: lines are kept
# only when they end in a terminal punctuation mark — period,
# exclamation mark, question mark, or end quotation mark)
C4_TERMINATORS = (".", "!", "?", '"', "'")


def c4_rules(df: DataFrame, id_col: str, text_col: str, *,
             min_words_per_line: int = 5,
             min_kept_lines: int = 3,
             terminators: tuple = C4_TERMINATORS,
             line_drop_tokens: tuple = ("javascript",),
             page_drop_phrases: tuple = ("lorem ipsum", "{"),
             carry: tuple = ()) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2), the other
    standard web-corpus filter family next to :func:`gopher_rules`'
    document gates: keep a line only if it ends in a terminator, has at
    least ``min_words_per_line`` whitespace words, and contains none of
    ``line_drop_tokens`` (case-insensitive); drop the whole page when
    any ``page_drop_phrases`` member appears anywhere in the text
    (C4 drops "lorem ipsum" placeholders and curly-brace code pages) or
    when fewer than ``min_kept_lines`` lines survive.

    Returns ``(id, n_lines, n_kept, clean_text, has_drop_phrase,
    keep)`` with ``clean_text`` the surviving lines re-joined by
    newline in original order; ``carry`` names extra input columns to
    pass through unchanged (e.g. a streaming event-time column).  NULL text yields NULL signals and a
    NULL ``keep`` (the module-wide NULL policy — filter or fill
    upstream).

    The line predicate uses only engine-portable pieces (``right`` of
    the right-trimmed line, whitespace-split word count, lowercase
    ``contains``), so the DuckDB oracle (``text_c4``) replays every
    column byte-for-byte.

    Scale shape: pure per-doc Column projection over the scan — zero
    shuffle, zero corpus state; the line lambda is bounded by a single
    document's own line count.  Like ``gopher_rules``, the array
    ``filter`` drops the stage out of whole-stage codegen (the
    documented HOF trade-off) — acceptable here because cleaning is a
    dedicated pass whose cost is the regex word-splits themselves, not
    a guard bolted onto the validation hot path.
    """
    if min_words_per_line < 0 or min_kept_lines < 0:
        raise ValueError("min_words_per_line/min_kept_lines must be >= 0")
    if not terminators:
        raise ValueError("terminators must be non-empty")
    text = F.col(text_col)

    def _line_kept(line: Column) -> Column:
        words = F.when(F.length(F.trim(line)) == 0, F.lit(0)) \
            .otherwise(F.size(F.split(F.trim(line), r"\s+")))
        ok = (F.right(F.rtrim(line), F.lit(1)).isin(*terminators)
              & (words >= min_words_per_line))
        for tok in line_drop_tokens:
            ok = ok & ~F.contains(F.lower(line), F.lit(tok.lower()))
        return ok

    lines = F.split(text, r"\n")
    kept = F.filter(lines, _line_kept)
    has_phrase = F.lit(False)
    for p in page_drop_phrases:
        has_phrase = has_phrase | F.contains(F.lower(text), F.lit(p.lower()))
    # NULL text: split/contains are NULL -> force the composite NULL too
    has_phrase = F.when(text.isNull(), F.lit(None).cast("boolean")) \
        .otherwise(has_phrase)
    n_kept = F.size(kept)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.size(lines).alias("n_lines"),
        n_kept.alias("n_kept"),
        F.array_join(kept, "\n").alias("clean_text"),
        has_phrase.alias("has_drop_phrase"),
        ((n_kept >= min_kept_lines) & ~has_phrase).alias("keep"),
    )


def pii_features(df: DataFrame, id_col: str, text_col: str, *,
                 redact: bool = False,
                 patterns: dict[str, str] | None = None) -> DataFrame:
    """Per-doc PII signal for corpus filtering: one ``n_<kind>`` count per
    pattern plus a ``pii_free`` verdict; with ``redact=True`` also a
    ``redacted`` column with every match replaced by ``<KIND>``.

    Scale shape: pure Column ``regexp_count``/``regexp_replace`` over the
    scan — zero shuffle, whole-stage codegen, one pass per doc regardless
    of pattern count.  The reference engine has no corpus operators; this
    extends the web-pipeline family (SURVEY.md §2 extensions).
    """
    pats = dict(PII_PATTERNS if patterns is None else patterns)
    text = F.col(text_col)
    cols = [F.col(id_col)]
    total = F.lit(0)
    for kind in sorted(pats):
        n = F.regexp_count(text, F.lit(pats[kind]))
        cols.append(n.alias(f"n_{kind}"))
        total = total + n
    cols.append((total == 0).alias("pii_free"))
    if redact:
        red = text
        for kind in sorted(pats):
            red = F.regexp_replace(red, pats[kind], f"<{kind.upper()}>")
        cols.append(red.alias("redacted"))
    return df.select(*cols)


# UTF-8-as-cp1252 double-encoding artifacts (the ftfy core table, short
# form): each key is what a UTF-8 sequence looks like after being
# mis-decoded as Windows-1252, each value the intended character.
# Literal strings, no regex metacharacters — applied as plain chained
# replace() in a FIXED order (longest key first, then lexicographic) so
# any engine replays the rewrite byte-for-byte.
MOJIBAKE_TABLE: dict[str, str] = {
    "â€™": "’",   # â€™ -> right single quote
    "â€˜": "‘",   # â€˜ -> left single quote
    "â€œ": "“",   # â€œ -> left double quote
    "â€“": "–",   # â€“ -> en dash
    "â€”": "—",   # â€" -> em dash
    "â€¦": "…",   # â€¦ -> ellipsis
    "Ã©": "é",         # Ã© -> é
    "Ã¨": "è",         # Ã¨ -> è
    "Ã¡": "á",         # Ã¡ -> á
    "Ã¤": "ä",         # Ã¤ -> ä
    "Ã¶": "ö",         # Ã¶ -> ö
    "Ã¼": "ü",         # Ã¼ -> ü
    "Ã±": "ñ",         # Ã± -> ñ
    "Ã§": "ç",         # Ã§ -> ç
    "\u00c2\u00a0": " ",     # Â + NBSP -> space
}

_CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def _mojibake_keys() -> list[str]:
    return sorted(MOJIBAKE_TABLE, key=lambda k: (-len(k), k))


def encoding_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc encoding-health signals — the corpus-hygiene check a web
    pipeline runs before training (ftfy-style, detection half):
    ``n_mojibake`` (UTF-8-as-cp1252 artifact sequences from
    ``MOJIBAKE_TABLE``), ``n_replacement`` (U+FFFD from upstream decode
    failures), ``n_control`` (C0 controls except tab/newline/CR, plus
    DEL), ``n_nbsp`` (non-breaking spaces), and an ``enc_clean``
    verdict.  NULL text -> NULL counts (unknown, like the extraction
    report's NULL policy).

    Scale shape: one alternation ``regexp_count`` per signal class —
    four scans per doc regardless of table size, pure Column projection,
    zero shuffle, whole-stage codegen.  Patterns are literal
    alternations / hex classes in the Java-RE2-common dialect, so a SQL
    oracle runs the SAME pattern text."""
    text = F.col(text_col)
    moji = "|".join(_mojibake_keys())
    n_moji = F.regexp_count(text, F.lit(moji))
    n_repl = F.regexp_count(text, F.lit("\ufffd"))
    n_ctrl = F.regexp_count(text, F.lit(_CONTROL_RE))
    n_nbsp = F.regexp_count(text, F.lit("\u00a0"))
    return df.select(
        F.col(id_col),
        n_moji.alias("n_mojibake"),
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_control"),
        n_nbsp.alias("n_nbsp"),
        ((n_moji + n_repl + n_ctrl + n_nbsp) == 0).alias("enc_clean"))


def fix_encoding(df: DataFrame, id_col: str, text_col: str, *,
                 fixed_col: str = "fixed_text") -> DataFrame:
    """Repair half of the encoding check: chained LITERAL replaces of
    every ``MOJIBAKE_TABLE`` artifact (longest-first order), U+FFFD and
    C0-control stripping, NBSP -> space.  Emits the original columns
    plus ``fixed_col``; NULL text stays NULL.  Same fixed rewrite order
    as the oracle — the repaired text is engine-portable byte-for-byte.

    One projection, zero shuffle: each replace is a codegen'd scan of an
    in-flight string, the same shape as ``pii_features(redact=True)``."""
    fixed = F.col(text_col)
    for key in _mojibake_keys():
        fixed = F.replace(fixed, F.lit(key), F.lit(MOJIBAKE_TABLE[key]))
    fixed = F.replace(fixed, F.lit("\ufffd"), F.lit(""))
    fixed = F.regexp_replace(fixed, _CONTROL_RE, "")
    fixed = F.replace(fixed, F.lit("\u00a0"), F.lit(" "))
    return df.withColumn(fixed_col, fixed)
