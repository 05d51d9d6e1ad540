"""Deduplication operators for large-scale text corpora.

All hot paths are native Column expressions (shingling via
``sequence``+``substring`` explosion, hashing via ``md5``/``xxhash64``) —
no Python in the row path.  Hash choice:

* ``xxhash64`` — 64-bit native hash, the 10^12-row default;
* ``md5``      — hex-string hash whose lexicographic MIN is portable to any
  SQL engine (used by the DuckDB oracle queries).

Scale notes: shingle explosion multiplies rows by ~|text|; the minhash
aggregation is a groupBy(doc) with map-side partial MIN so the shuffle
carries one signature per doc, not the shingles.  Candidate-pair joins are
banded (LSH): docs join only within equal (band, band-signature) buckets,
turning the O(n²) all-pairs into bucket-local joins; a hot bucket (e.g. the
empty-text signature) is bounded by ``max_bucket`` to keep the join skew-
safe, and AQE skew-join splits the residue.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical texts: ``fingerprint, dup_count, doc_ids``."""
    fp = F.md5(F.col(text_col))
    return (
        df.groupBy(fp.alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("dup_count"),
             F.sort_array(F.collect_list(F.col(id_col))).alias("doc_ids"))
        .where(F.col("dup_count") > 1)
    )


def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_len: int = 30,
    split_pattern: str = "\n",
    join_sep: str = "\n",
) -> DataFrame:
    """Corpus-wide duplicate-LINE removal — the C4-style pipeline step
    ("keep only one occurrence of any repeated span"): every line whose
    length is >= ``min_len`` survives only in its globally FIRST
    occurrence, ordered by ``(id, line position)`` — deterministic on
    any cluster size.  Shorter lines never participate and are always
    kept: below ~a sentence they are legitimate boilerplate ("Home",
    section headers) whose removal harms documents, and they are exactly
    the hot keys that would skew the shuffle.

    Returns ``(id, text, n_lines, n_kept)``: ``text`` rebuilt from the
    surviving lines in original order (empty string when a document
    loses every line; NULL text stays NULL), ``n_lines``/``n_kept`` the
    before/after line counts.  ``split_pattern`` is a Java regex (the
    default splits on newlines); ``join_sep`` is the literal separator
    of the rebuilt text.

    NULL-id rows cannot hold a deterministic place in the (id, pos)
    order, so — mirroring ``downsample``'s NULL policy — they bypass
    dedup entirely: their text passes through UNCHANGED (n_kept ==
    n_lines), their lines never claim a first-occurrence slot, and
    they are never merged with each other by the reassembly groupBy.

    Scale shape (10^12-row argument): posexplode(split) -> ONE
    ``groupBy(md5(line))`` keeping the MIN ``(id, pos)`` occurrence —
    map-side combine collapses every distinct line to one row per
    partition before the shuffle, so a line repeated 10^6 times costs
    its occurrence count only locally -> shuffle join back on the line
    hash (the winner side has exactly one row per DISTINCT line, so the
    join has no duplicate build keys and AQE's skew split covers
    popular lines) -> ONE ``groupBy(id)`` reassembling surviving lines
    ordered by position (per-document memory, no corpus-wide sort or
    window).  Shuffle volume ~ corpus lines; reassembly avoids lambda
    HOFs (``sort_array(collect_list(struct))`` + ``getField``) so the
    projection stays in whole-stage codegen.
    """
    if min_len < 1:
        raise ValueError("min_len must be >= 1")
    # NULL-id rows pass through untouched (see docstring): a NULL id in
    # the winner struct would poison the keep-equality for EVERY copy of
    # its lines (NULL == x is NULL -> nobody keeps the line), and the
    # reassembly groupBy would merge all NULL-id docs into one row
    passthrough = df.where(F.col(id_col).isNull()).select(
        F.col(id_col), F.col(text_col),
        F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
            F.size(F.split(F.col(text_col), split_pattern)))
        .cast("int").alias("n_lines"),
    ).withColumn("n_kept", F.col("n_lines"))
    lines = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode_outer(
            F.split(F.col(text_col), split_pattern)).alias("pos", "line"),
    ).withColumn("__h", F.md5("line"))
    eligible = F.col("line").isNotNull() & (F.length("line") >= min_len)

    winners = (lines.where(eligible)
               .groupBy("__h")
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("pos").alias("p"))).alias("__w")))
    keep = (~eligible) | ((F.col("__w.i") == F.col(id_col))
                          & (F.col("__w.p") == F.col("pos")))
    marked = (lines.join(winners, "__h", "left")
              .withColumn("__keep", keep))
    surviving = F.when(F.col("__keep") & F.col("line").isNotNull(),
                       F.struct(F.col("pos"), F.col("line")))
    deduped = (marked.groupBy(id_col).agg(
        F.array_join(F.sort_array(F.collect_list(surviving))
                      .getField("line"), join_sep).alias("__text"),
        F.count("line").alias("n_lines"),
        F.count(F.when(F.col("__keep") & F.col("line").isNotNull(), 1)
                ).alias("n_kept"),
        F.max(F.col("line").isNotNull()).alias("__has"))
        .select(F.col(id_col),
                F.when(F.col("__has"), F.col("__text"))
                 .otherwise(F.lit(None).cast("string")).alias(text_col),
                F.col("n_lines").cast("int").alias("n_lines"),
                F.col("n_kept").cast("int").alias("n_kept")))
    return deduped.unionByName(passthrough)


def strip_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    *,
    min_docs: int = 2,
    min_frac: float = 0.5,
    split_pattern: str = "\n",
    join_sep: str = "\n",
) -> DataFrame:
    """Per-group boilerplate-LINE removal — the CCNet/RefinedWeb cleanup
    step ``dedup_lines`` deliberately does not do: a line that appears in
    at least ``min_docs`` documents AND at least ``min_frac`` of the
    documents **of the same group** (domain, site, lang) is boilerplate
    (nav bars, cookie banners, copyright footers) and is removed from
    EVERY document of that group — including its first occurrence, which
    is exactly where this differs from first-occurrence line dedup.
    There is no minimum line length: short lines ("Home", "Menu") are
    the canonical boilerplate, the opposite of ``dedup_lines``'s policy.

    Returns ``(id, group, text, n_lines, n_kept)`` with ``text`` rebuilt
    from the surviving lines in original order ('' when every line was
    boilerplate; NULL text stays NULL).

    NULL policy (mirrors ``dedup_lines``): rows whose id OR group is
    NULL pass through unchanged — a NULL group names no cohort to count
    document frequency against, and a NULL id cannot be reassembled
    deterministically.  Their lines never count toward any group's
    document frequencies.

    Scale shape (10^12-row argument): posexplode(split) -> per-line
    ``(group, md5(line), id)`` map-side-partial DISTINCT (a line repeated
    inside one doc counts that doc once) -> ``groupBy(group, line_hash)``
    document-frequency count -> join against the per-group doc counts
    (tiny: one row per group, broadcast) -> the boilerplate set is one
    row per DISTINCT offending line per group — small, broadcast-eligible
    — left-joined back onto the line stream (no duplicate build keys, so
    AQE's skew split covers hot lines) -> ONE ``groupBy(id)`` reassembly
    ordered by position (per-document memory, no corpus-wide sort).
    Shuffle volume ~ corpus lines, same as ``dedup_lines``.
    """
    if min_docs < 1:
        raise ValueError("min_docs must be >= 1")
    if not (0.0 < min_frac <= 1.0):
        raise ValueError("min_frac must be in (0, 1]")
    gid, grp, txt = F.col(id_col), F.col(group_col), F.col(text_col)
    n_lines_of = F.when(txt.isNull(), F.lit(0)).otherwise(
        F.size(F.split(txt, split_pattern))).cast("int")
    passthrough = df.where(gid.isNull() | grp.isNull()).select(
        gid, grp, txt, n_lines_of.alias("n_lines")
    ).withColumn("n_kept", F.col("n_lines"))

    lines = df.where(gid.isNotNull() & grp.isNotNull()).select(
        gid, grp,
        F.posexplode_outer(F.split(txt, split_pattern)).alias("pos", "line"),
    ).withColumn("__h", F.md5("line"))

    group_docs = (df.where(gid.isNotNull() & grp.isNotNull())
                  .groupBy(group_col).agg(F.count(F.lit(1)).alias("__nd")))
    line_df = (lines.where(F.col("line").isNotNull())
               .select(group_col, "__h", id_col).distinct()
               .groupBy(group_col, "__h")
               .agg(F.count(F.lit(1)).alias("__df")))
    boiler = (line_df.join(F.broadcast(group_docs), group_col)
              .where((F.col("__df") >= F.lit(min_docs))
                     & (F.col("__df") >= F.lit(min_frac) * F.col("__nd")))
              .select(group_col, "__h", F.lit(True).alias("__bp")))

    # explicit broadcast: the boilerplate set is small BY DEFINITION
    # (lines above a per-group document-frequency floor), but its plan
    # contains corpus-scale aggregations, so the optimizer's size
    # estimate is useless and the unhinted join ran as a SortMergeJoin
    # that SORTED the full line stream — a second corpus-volume shuffle
    # on top of the reassembly groupBy (A/B at the 16x family
    # amplification, local[4]: 7.0s -> 5.0s)
    marked = lines.join(F.broadcast(boiler), [group_col, "__h"], "left")
    kept_line = F.col("line").isNotNull() & F.col("__bp").isNull()
    surviving = F.when(kept_line, F.struct(F.col("pos"), F.col("line")))
    out = (marked.groupBy(id_col, group_col).agg(
        F.array_join(F.sort_array(F.collect_list(surviving))
                      .getField("line"), join_sep).alias("__text"),
        F.count("line").alias("n_lines"),
        F.count(F.when(kept_line, 1)).alias("n_kept"),
        F.max(F.col("line").isNotNull()).alias("__has"))
        .select(F.col(id_col), F.col(group_col),
                F.when(F.col("__has"), F.col("__text"))
                 .otherwise(F.lit(None).cast("string")).alias(text_col),
                F.col("n_lines").cast("int").alias("n_lines"),
                F.col("n_kept").cast("int").alias("n_kept")))
    return out.unionByName(passthrough)


def _shingle_array(text: Column, k: int) -> Column:
    """All k-character shingles of a string as an array (JVM-side);
    strings shorter than k shingle to themselves."""
    n = F.length(text) - F.lit(k - 1)
    return F.when(
        n >= 1,
        F.transform(F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                    lambda i: text.substr(i, F.lit(k))),
    ).otherwise(F.array(text))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    shingle_k: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: ``id, sig_0..sig_{n-1}``.

    signature_i = MIN over shingles of hash(salt_i || shingle).

    Deliberately explode+groupBy, NOT a higher-order array fold: HOF
    expressions are CodegenFallback (interpreted per element), while the
    explode feeds fully codegen'd hash-aggregates with map-side partial
    MIN — measured 1.3x faster end-to-end on minhash_candidates at
    sf0.1, despite the shingle row blowup.  The shuffle still carries
    only one signature row per doc (partial aggregation combines
    map-side).

    NULL text shingles to ``[NULL]``; the NULL shingle is dropped, so a
    NULL-text document yields NO signature row at all (and therefore never
    lands in any LSH band).  Without the filter the two hash modes would
    disagree — ``md5`` of a NULL shingle is NULL (MIN skips it) while
    ``xxhash64`` SKIPS null fields and returns the seed's hash, silently
    making every NULL-text doc a near-duplicate of every other.
    """
    shingles = df.select(
        F.col(id_col),
        F.explode(_shingle_array(F.col(text_col), shingle_k)).alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    if hash_fn == "md5":
        hashes = [
            F.min(F.md5(F.concat(F.lit(f"s{i}|"), F.col("shingle")))).alias(f"sig_{i}")
            for i in range(num_hashes)
        ]
    else:
        hashes = [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"sig_{i}")
            for i in range(num_hashes)
        ]
    return shingles.groupBy(id_col).agg(*hashes)


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    hash_fn: str = "xxhash64",
    max_bucket: int = 10000,
) -> DataFrame:
    """LSH candidate near-duplicate pairs: ``id_a < id_b`` sharing at least
    one band signature, with the count of agreeing bands."""
    banded = minhash_band_index(df, id_col, text_col, num_hashes=num_hashes,
                                bands=bands, shingle_k=shingle_k,
                                hash_fn=hash_fn, max_bucket=max_bucket,
                                id_out=id_col)
    left = banded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    right = banded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    pairs = left.join(right, ["band", "bucket"]).where(F.col("id_a") < F.col("id_b"))
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("shared_bands"))


def minhash_jaccard_estimate(
    signatures: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    out: str = "jaccard_est",
) -> DataFrame:
    """MinHash Jaccard ESTIMATE per candidate pair: the fraction of
    signature components on which the two docs agree —
    E[sig_i(A) == sig_i(B)] = J(A, B), the classic unbiased estimator
    (Broder).  ``signatures`` is a :func:`minhash_signatures` frame
    (``id_col`` + ``sig_0..sig_{n-1}``); returns ``(id_a, id_b, out)``.

    Scale shape: the candidate list joins the one-row-per-doc signature
    table twice on its ids — build sides are signature rows (narrow),
    no shingle re-expansion, no window.  Pairs whose doc has no
    signature row (NULL text never signs) drop: no estimate exists.
    """
    sig_cols = sorted((c for c in signatures.columns if c.startswith("sig_")),
                      key=lambda c: int(c[4:]))
    if not sig_cols:
        raise ValueError("signatures frame has no sig_* columns")
    a = signatures.select(
        F.col(id_col).alias(id_a),
        *[F.col(c).alias(f"__a{i}") for i, c in enumerate(sig_cols)])
    b = signatures.select(
        F.col(id_col).alias(id_b),
        *[F.col(c).alias(f"__b{i}") for i, c in enumerate(sig_cols)])
    agree = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        for i in range(len(sig_cols)))
    return (pairs.select(id_a, id_b).join(a, id_a).join(b, id_b)
            .select(F.col(id_a), F.col(id_b),
                    (agree / F.lit(float(len(sig_cols)))).alias(out)))


def verify_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    *,
    shingle_k: int = 8,
    id_a: str = "id_a",
    id_b: str = "id_b",
    min_jaccard: float | None = None,
    restrict: bool = False,
    containment: bool = False,
) -> DataFrame:
    """EXACT shingle-set Jaccard for a given candidate-pair list — the
    VERIFY stage of the classic LSH dedup pipeline (candidates are
    probabilistic; the keep/drop decision wants the true similarity).
    Returns ``(id_a, id_b, jaccard)``, optionally filtered to
    ``jaccard >= min_jaccard``.

    ``containment=True`` adds Broder's asymmetric containment scores
    from the SAME aggregate stream (zero extra cost):
    ``containment_a = |A∩B|/|A|`` and ``containment_b = |A∩B|/|B|`` —
    a near-1 containment with a low Jaccard is the partial-duplication
    signature (one doc embedded in a larger one: a quoted article, a
    page wrapping a syndicated body) that a symmetric score misses.

    Differs from :func:`ngram_jaccard_pairs`: that operator DISCOVERS
    pairs by self-joining the whole corpus on shingles (df-cut bounded);
    this one scores an already-small candidate list, so corpus-scale
    work is one shingle reduction, not a self-join.

    Scale shape: each doc's shingle set reduces to ONE row — a sorted
    array of md5 hashes built by a map-side-combining
    ``collect_set`` aggregate (md5 keeps elements fixed-width no matter
    the shingle text); each pair is unpivoted into two ``(member_id,
    pair, side)`` membership rows that join the set table ONCE
    (broadcast when the candidate list is small, plain hash join
    otherwise), and one ``groupBy(pair)`` brings the two arrays
    together so ``|A∩B|`` is a single JVM ``array_intersect`` per pair.
    The earlier one-row-per-(pair, shingle) formulation pushed the full
    Σ_pairs(|A|+|B|) stream through a 3-key hash aggregation — same
    bytes shuffled, ~400× the row count; A/B at the family-scaling
    amplification (16x, local[4]): 57s -> 18s.

    ``restrict=True`` additionally left-semi-joins the CORPUS to the
    pair-member id set BEFORE shingling, so shingle+md5+distinct cost
    is ∝ candidate coverage instead of corpus size — the right setting
    whenever the pairs reference a minority of the corpus (incremental
    verification, an externally scored pair list, a 10^12-row corpus
    with a 1% candidate slice).  It is OFF by default because at HIGH
    coverage the extra id-set join only re-partitions the corpus ahead
    of the heavy shingle map (A/B at sf0.1, candidates covering every
    doc: 1.85s -> 4.5s); at 65% coverage with a broadcastable id set it
    already wins (4.4s -> 2.7s).  jaccard = i / (na + nb - i) with na,
    nb, i all read off the pair's two arrays — no per-pair intersection
    join, no separate sizes branch.  Total shuffled volume is
    Σ_pairs (|shingles(A)| + |shingles(B)|) hashes — the inherent
    verify cost, proportional to the CANDIDATE volume, never the
    corpus.  Pairs with
    an unshingleable member (NULL text never shingles) drop: no exact
    score exists — such docs never band into candidates in the first
    place (see ``minhash_signatures``).

    ``pairs`` is referenced twice in the DAG (one unpivot per side;
    three with ``restrict``): passing the LAZY ``minhash_candidates``
    frame is fine — AQE exchange reuse dedupes the identical candidate
    subtrees at runtime — but a pipeline that also feeds the same
    candidates to clustering should still materialize them once.
    """
    # duplicate pair rows must yield one output row (the old per-shingle
    # aggregation dedup'd them implicitly); the candidate list is small
    # by contract, so this shuffle is cheap
    p = pairs.select(id_a, id_b).dropDuplicates([id_a, id_b])
    src = df
    if restrict:
        ids = (p.select(F.col(id_a).alias(id_col))
               .unionByName(p.select(F.col(id_b).alias(id_col))).distinct())
        src = df.join(ids, id_col, "left_semi")
    sets = (src.select(
        F.col(id_col).alias("__id"),
        F.explode(_shingle_array(F.col(text_col), shingle_k)).alias("__s"))
        .where(F.col("__s").isNotNull())
        .select("__id", F.md5("__s").alias("__h"))
        .groupBy("__id")
        .agg(F.sort_array(F.collect_set("__h")).alias("__set")))
    memb = (p.select(F.col(id_a).alias("__id"), id_a, id_b,
                     F.lit(0).alias("__side"))
            .unionByName(p.select(F.col(id_b).alias("__id"), id_a, id_b,
                                  F.lit(1).alias("__side"))))
    per_pair = (sets.join(memb, "__id")
                .groupBy(id_a, id_b)
                .agg(F.max(F.when(F.col("__side") == 0,
                                  F.col("__set"))).alias("__sa"),
                     F.max(F.when(F.col("__side") == 1,
                                  F.col("__set"))).alias("__sb")))
    na = F.size("__sa").cast("long")
    nb = F.size("__sb").cast("long")
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("long")
    stats = per_pair.where(F.col("__sa").isNotNull()
                           & F.col("__sb").isNotNull()) \
        .select(F.col(id_a), F.col(id_b), na.alias("__na"),
                nb.alias("__nb"), inter.alias("__i"))
    extra = []
    if containment:
        extra = [(F.col("__i") / F.col("__na")).alias("containment_a"),
                 (F.col("__i") / F.col("__nb")).alias("containment_b")]
    out = stats.select(
        F.col(id_a), F.col(id_b),
        (F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")))
        .alias("jaccard"), *extra)
    if min_jaccard is not None:
        out = out.where(F.col("jaccard") >= F.lit(min_jaccard))
    return out


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    hash_fn: str = "xxhash64",
    max_bucket: int = 10000,
    id_out: str = "id",
) -> DataFrame:
    """The banded LSH index of a corpus: one ``(band, bucket, id)`` row per
    (document, band).  This is the table a snapshot pipeline WRITES ONCE
    per frozen corpus (partitioned/bucketed by ``band, bucket``) and then
    reuses for every incremental batch — see ``incremental_candidates``.

    Pathological buckets (e.g. the constant signature of empty text) are
    capped at ``max_bucket`` members at BUILD time, mirroring
    ``minhash_candidates``: a bucket that big carries no near-dup signal
    and would otherwise make every future batch join skew on it.

    Scale shape: explode to ``bands`` rows per doc, one groupBy for the
    cap — the stored index is O(bands · corpus), ~row-width (band:int,
    bucket:string, id) regardless of document size.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes=num_hashes,
                              shingle_k=shingle_k, hash_fn=hash_fn)
    band_structs = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows_per_band + r}").cast("string")
                 for r in range(rows_per_band)]
        band_structs.append(F.struct(
            F.lit(b).alias("band"), F.concat_ws("|", *parts).alias("bucket")))
    banded = sigs.select(
        F.col(id_col).alias(id_out), F.explode(F.array(*band_structs)).alias("b")
    ).select(id_out, "b.band", "b.bucket")

    # cap pathological buckets (constant signatures) before any join
    bucket_sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bn"))
    return banded.join(
        bucket_sizes.where(F.col("bn") <= max_bucket).select("band", "bucket"),
        ["band", "bucket"])


def write_band_index(index: DataFrame, ref: str, *, buckets: int = 256,
                     mode: str = "overwrite") -> None:
    """Persist a ``minhash_band_index`` for reuse across snapshots.

    Catalog refs (``table:`` / bare identifiers — io.py semantics) are
    written hash-BUCKETED BY ``(band, bucket)`` into ``buckets`` file
    buckets and sorted within them: every future ``incremental_candidates``
    probe join then reads the index WITHOUT an Exchange on the index side
    (Spark reuses the table's bucketing as the join distribution; only
    the small batch side shuffles — pinned by
    tests/test_plan_shape.py::test_bucketed_band_index_join_shuffles_batch_only).
    On an Iceberg catalog the same layout is expressed as a
    ``bucket(N, ...)`` partition transform.  Path refs fall back to
    plain parquet partitioned by ``band`` (partition pruning only —
    paths cannot carry bucket metadata).
    """
    from .. import io as ssg_io

    if ssg_io.is_catalog_ref(ref):
        name = ref[len("table:"):] if ref.startswith("table:") else ref
        (index.write.bucketBy(buckets, "band", "bucket")
         .sortBy("band", "bucket")
         .format("parquet").mode(mode).saveAsTable(name))
    else:
        path = ref[len("path:"):] if ref.startswith("path:") else ref
        index.write.partitionBy("band").mode(mode).parquet(path)


def read_band_index(spark, ref: str) -> DataFrame:
    """Load a persisted band index written by ``write_band_index``."""
    from .. import io as ssg_io

    return ssg_io.read_table(spark, ref)


def incremental_candidates(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    hash_fn: str = "xxhash64",
    max_bucket: int = 10000,
) -> DataFrame:
    """Near-duplicate matches of a NEW batch against a FROZEN corpus index
    (``minhash_band_index`` output, typically read back from parquet):
    ``id, corpus_id, shared_bands`` for every (new doc, corpus doc) pair
    sharing at least one band bucket.  Banding parameters must match the
    ones the index was built with.

    This is the snapshot-over-snapshot dedup shape: the 10^12-row corpus
    index is built once, and each incoming crawl batch (orders of
    magnitude smaller) is banded and joined against it — no corpus
    self-join ever re-runs.  The join key is ``(band, bucket)``; with the
    index bucketed on those columns the shuffle moves ONLY the new
    batch's bands, and a broadcast of the (small) batch side turns the
    probe into an index scan.  Batch-side buckets are capped at
    ``max_bucket`` like the index side was at build time, so a degenerate
    batch (all-empty texts) cannot amplify against a popular index bucket.
    """
    batch = minhash_band_index(new_df, id_col, text_col,
                               num_hashes=num_hashes, bands=bands,
                               shingle_k=shingle_k, hash_fn=hash_fn,
                               max_bucket=max_bucket, id_out=id_col)
    idx = index.select(F.col("band"), F.col("bucket"),
                       F.col("id").alias("corpus_id"))
    hits = batch.join(idx, ["band", "bucket"])
    return (hits.groupBy(F.col(id_col), F.col("corpus_id"))
            .agg(F.count(F.lit(1)).alias("shared_bands")))


def dedup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 8,
    hash_fn: str = "xxhash64",
    max_bucket: int = 10000,
    min_shared_bands: int = 1,
) -> DataFrame:
    """The KEEP side of incremental dedup: rows of ``new_df`` that match
    NO frozen-corpus document in ``min_shared_bands`` or more band
    buckets (columns unchanged).  NULL-id/NULL-text rows never band
    (minhash of NULL text is no rows) and are therefore always kept —
    the same pass-through policy as ``dedup_lines``.

    Implemented as a left-anti join against the matched-id set, so the
    wide document rows shuffle at most once (and not at all when the
    matched-id set broadcasts — it is bounded by the batch size).
    """
    matched = (
        incremental_candidates(new_df, index, id_col, text_col,
                               num_hashes=num_hashes, bands=bands,
                               shingle_k=shingle_k, hash_fn=hash_fn,
                               max_bucket=max_bucket)
        .where(F.col("shared_bands") >= min_shared_bands)
        .select(id_col).distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 8,
    threshold: float = 0.6,
    max_shingle_freq: int = 10000,
) -> DataFrame:
    """Exact Jaccard similarity over distinct k-shingle sets for every pair
    of docs sharing at least one shingle: ``id_a, id_b, jaccard``.

    |A∩B| from a shingle-level self-join (common shingles only), |A∪B| =
    |A|+|B|-|A∩B|.  ``max_shingle_freq`` drops stop-shingles that would
    quadratically blow up the join (a standard df-cut).
    """
    shingled = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(_shingle_array(F.col(text_col), shingle_k))
                  ).alias("shingle"),
    )
    sizes = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    freq = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_count"))
    filtered = shingled.join(
        freq.where(F.col("df_count") <= max_shingle_freq).select("shingle"), "shingle")

    a = filtered.select(F.col("shingle"), F.col("id").alias("id_a"))
    b = filtered.select(F.col("shingle"), F.col("id").alias("id_b"))
    inter = (
        a.join(b, "shingle").where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter
        .join(sizes.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b")), "id_b")
        .withColumn("jaccard", F.col("inter")
                    / (F.col("size_a") + F.col("size_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def dup_span_features(df: DataFrame, id_col: str, text_col: str, *,
                      n: int = 8, min_count: int = 2) -> DataFrame:
    """CROSS-document duplicated-span signals at word-``n``-gram
    granularity — the distributed approximation of exact-substring
    deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", which removes substrings >= 50 tokens that
    appear more than once in the corpus; a suffix array is a single-node
    structure, but a span of >= ``s`` duplicated tokens necessarily
    duplicates every one of its length-``n`` token windows, so flagging
    corpus-duplicated ``n``-grams and measuring their coverage bounds the
    same signal shard-by-shard).

    A gram is *duplicated* when its total occurrence count across the
    corpus (within-doc repeats included, matching the paper's "appears
    more than once") is >= ``min_count``.  Per document:

    * ``n_tokens``, ``n_grams`` (= max(0, n_tokens - n + 1)),
    * ``n_dup_grams`` — this doc's gram occurrences that are duplicated,
    * ``dup_gram_frac`` — n_dup_grams / n_grams,
    * ``dup_tokens`` — tokens covered by the UNION of duplicated-gram
      spans [pos, pos+n) (interval union via a per-doc lag() window:
      first span costs ``n``, each next costs min(n, pos - prev_pos)),
    * ``dup_token_frac`` — dup_tokens / n_tokens.

    Fractions are rounded to 4 decimals (module convention); docs with
    no grams report zero counts and 0.0 fractions; NULL text reports
    NULL tokens/fractions (and zero dup counts — no grams exist); NULL
    ids are excluded from gram counting (they cannot join back) and
    report zero dup counts over their own token totals.  Tokenization is
    the shared lowercase-whitespace stack, so the DuckDB oracle
    reproduces every count exactly.

    Scale shape: gram counts are an md5-keyed groupBy with map-side
    partial aggregation (the decontaminate shape — fixed 32-hex keys,
    never raw gram strings, through the Exchange); the duplicated-gram
    set joins back on the same key; the coverage window partitions by
    doc id so its sort is bounded by one document's dup grams.  No
    corpus-wide window, no driver state.  Reference: this is a table
    operator the reference (a row validator) does not contain; cited
    paper only.
    """
    from pyspark.sql.window import Window

    from .textstats import token_count, word_ngram_stack

    if n < 1:
        raise ValueError("n must be >= 1")
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 would flag every gram)")
    stack = word_ngram_stack(
        df.where(F.col(id_col).isNotNull()).select(F.col(id_col),
                                                   F.col(text_col)),
        id_col, text_col, (n,), with_pos=True)
    hashed = stack.select(F.col(id_col), F.col("pos"),
                          F.md5("gram").alias("__h"))
    dup_keys = (hashed.groupBy("__h")
                .agg(F.count(F.lit(1)).alias("__c"))
                .where(F.col("__c") >= min_count).select("__h"))
    dup = hashed.join(dup_keys, "__h")
    w = Window.partitionBy(id_col).orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    covered = F.when(gap.isNull(), F.lit(n)).otherwise(
        F.least(F.lit(n), gap)).cast("long")
    per_doc = (dup.select(F.col(id_col), covered.alias("__cov"))
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("__nd"),
                    F.sum("__cov").alias("__tok")))
    n_tokens = token_count(F.col(text_col)).cast("long")
    n_grams = F.greatest(F.lit(0).cast("long"), n_tokens - (n - 1))
    n_dup = F.coalesce(F.col("__nd"), F.lit(0)).cast("long")
    dup_tok = F.coalesce(F.col("__tok"), F.lit(0)).cast("long")
    return df.select(F.col(id_col), F.col(text_col)) \
        .join(per_doc, id_col, "left").select(
            F.col(id_col),
            n_tokens.alias("n_tokens"),
            n_grams.alias("n_grams"),
            n_dup.alias("n_dup_grams"),
            F.round(F.when(n_grams > 0, n_dup / n_grams)
                    .otherwise(F.when(n_tokens.isNotNull(), F.lit(0.0))),
                    4).alias("dup_gram_frac"),
            dup_tok.alias("dup_tokens"),
            F.round(F.when(n_tokens > 0, dup_tok / n_tokens)
                    .otherwise(F.when(n_tokens.isNotNull(), F.lit(0.0))),
                    4).alias("dup_token_frac"),
        )


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 32,
            hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash fingerprint per doc from whitespace tokens: ``id, simhash``.

    bit_j(doc) = sign of Σ_tokens (bit_j(hash(token)) ? +1 : -1).

    ``hash_fn="md5"`` derives the per-token bits from the first
    ``bits/4`` hex chars of md5(token) — engine-portable (any SQL oracle
    can reproduce it digit-by-digit), used by the correctness gate;
    ``xxhash64`` is the cheaper 10^12-row default.
    """
    if not 1 <= bits <= 63:
        raise ValueError("bits must be in [1, 63] (fingerprints are "
                         "signed longs; bit 63 would overflow)")
    # Deliberately explode+groupBy, NOT a higher-order array fold: the
    # 32-field accumulator struct would rebuild per token in interpreted
    # HOF code (CodegenFallback), while the explode feeds fully
    # codegen'd SUM aggregates with map-side combine — measured 1.6x
    # faster end-to-end on simhash_near_dups at sf0.1.  The shuffle
    # still carries one 32-long row per doc, not the tokens.
    tokens = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
    ).where(F.length("tok") > 0)
    if hash_fn == "md5":
        assert bits % 4 == 0
        # big-endian prefix of the md5 hex digest: bit j lives in hex
        # digit (bits/4 - 1 - j//4), bit position j%4 of that digit
        h = F.conv(F.substring(F.md5("tok"), 1, bits // 4), 16, 10).cast("long")
    else:
        h = F.xxhash64("tok")
    aggs = [
        F.sum(((F.shiftright(h, j).bitwiseAND(F.lit(1))) * 2 - 1)).alias(f"b_{j}")
        for j in range(bits)
    ]
    summed = tokens.groupBy(id_col).agg(*aggs)
    fingerprint = F.lit(0).cast("long")
    for j in range(bits):
        fingerprint = fingerprint + F.when(F.col(f"b_{j}") > 0,
                                           F.lit(2 ** j).cast("long")).otherwise(0)
    return summed.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str, *,
                      bits: int = 32, max_hamming: int = 3,
                      hash_fn: str = "xxhash64",
                      max_bucket: int | None = 10000) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on bit-block
    equality: a pair within distance d must agree on at least one of d+1
    disjoint bit blocks (pigeonhole), so the blocking is LOSSLESS — the
    blocked join returns exactly the all-pairs answer, which is how the
    DuckDB oracle verifies this scale path with a brute-force query.

    ``max_bucket`` drops (blk, key) buckets larger than the cap before
    the self-join, mirroring ``minhash_candidates``: a degenerate bucket
    (near-constant fingerprints) would otherwise join quadratically.
    Losslessness then holds for every surviving bucket (the gate runs at
    a scale where no bucket nears the default cap, so the oracle still
    sees the exact all-pairs answer).  Corpus-scale sizing note: the
    EXPECTED bucket population is n / 2^(bits/(d+1)) — 32-bit
    fingerprints with d=3 give 8-bit keys, fine for per-cohort
    (domain / lang / snapshot) dedup but quadratic on a whole 10^12-row
    corpus; use ``bits=60`` (15-bit keys) and run per cohort, or prefer
    the MinHash LSH path whose bucket width does not shrink with d."""
    # simhash's per-doc groupBy Exchange doubles as the materialization
    # point the self-join below reuses — without one, each join side
    # would re-run the whole token-hash fold over the text
    hashed = simhash(df, id_col, text_col, bits=bits, hash_fn=hash_fn)
    blocks = max_hamming + 1
    width = bits // blocks
    structs = [
        F.struct(F.lit(b).alias("blk"),
                 F.shiftright(F.col("simhash"), b * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("key"))
        for b in range(blocks)
    ]
    banded = hashed.select(id_col, "simhash",
                           F.explode(F.array(*structs)).alias("b")) \
                   .select(id_col, "simhash", "b.blk", "b.key")
    if max_bucket is not None:
        sizes = banded.groupBy("blk", "key").agg(
            F.count(F.lit(1)).alias("__bn"))
        banded = banded.join(
            sizes.where(F.col("__bn") <= max_bucket).select("blk", "key"),
            ["blk", "key"])
    left = banded.select("blk", "key", F.col(id_col).alias("id_a"),
                         F.col("simhash").alias("sh_a"))
    right = banded.select("blk", "key", F.col(id_col).alias("id_b"),
                          F.col("simhash").alias("sh_b"))
    # hamming-filter BEFORE dropDuplicates: the distance is a pure
    # function of (sh_a, sh_b) already in the row, so the filter commutes
    # with the pair-dedup — but it runs map-side inside the join stage,
    # so only true near-dups (not every bucket-collision candidate)
    # shuffle through the dropDuplicates Exchange.  The candidate:surviving
    # ratio is ~2^width on random fingerprints — this is the "dedup after
    # the reduction stage" rule (see embedding_near_dups / similarity.py).
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        left.join(right, ["blk", "key"]).where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming).where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def _driver_union_find(pairs, id_type, spark):
    """Exact union-find over a collected edge list (the small-graph fast
    path); returns the (id, component) DataFrame with component = MIN id.
    The label table ships back through Arrow (a pandas frame + explicit
    schema) — ~10x cheaper than row-object createDataFrame at the
    2M-edge threshold."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id root: component id
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", id_type),
                           T.StructField("component", id_type)])
    if not parent:
        return spark.createDataFrame([], schema)
    import pandas as pd

    ids = list(parent)
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "component": [find(x) for x in ids]}),
        schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
    strict: bool = True,
    driver_max_edges: int = 2_000_000,
    contract_after_rounds: int = 2,
    contract_max_edges: int = 2_000_000,
    work_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list:
    ``(id, component)`` with component = MIN node id in the component.
    With ``strict`` (default), raises if ``max_iter`` rounds pass without
    reaching the fixpoint — unconverged labels silently over-split
    components, which for dedup means keeping duplicates; pass
    ``strict=False`` to accept the partial refinement instead.

    ADAPTIVE strategy (the broadcast-join-threshold pattern): when the
    edge list fits under ``driver_max_edges`` it is collected once and
    resolved with exact driver-side union-find — a dedup candidate graph
    after LSH banding is routinely tiny relative to the corpus, and the
    iterative distributed loop would pay several shuffle rounds of pure
    scheduling latency for it.  Above the threshold (the 10^12-row
    regime) the distributed min-label loop below runs.  Probing is one
    ``limit(threshold+1).collect()`` — if it comes back short it IS the
    complete edge set; otherwise the limit stopped early and the
    distributed path recomputes from source.  ``driver_max_edges=0``
    forces the distributed path (used by the oracle gate so the
    iterative algorithm stays under differential test).

    This is the cluster-resolution stage of a dedup pipeline: candidate
    pairs from ``exact_duplicates`` / ``minhash_candidates`` /
    ``simhash_near_dups`` are edges; each component is one duplicate
    cluster.  (Reference analog: ``uniqueItems`` dedups *within* a row —
    draft04.py:391-422; this dedups *across* 10^12 rows.)

    Algorithm: iterative min-label propagation with pointer-jumping —
    each round a node adopts the minimum label over {itself} ∪ neighbors
    ∪ its current label's node, with the (id ↔ label) links injected as
    extra edges so labels hop along label chains (label(label(u))
    reachable in one round).  Rounds are O(log d) in practice for dedup
    graphs (near-clique components); each round is one shuffled
    groupBy-min + join, AQE-safe.  Convergence detection rides the
    round's WRITE job as an ``Observation`` metric (the changed-label
    sum), so a round is exactly ONE Spark job — no second scan.

    CONTRACTION finish: bulk convergence takes 2-4 rounds on dedup
    graphs, but the fixpoint CONFIRMATION tail (a handful of labels
    rippling along chains of fused buckets) was measured dragging 5+
    further full-cost rounds (changed = 83, 4, 2, 1, 0 on the
    family-scaling graph).  From ``contract_after_rounds`` on, each
    round first tries to FINISH by contraction: distinct cross-label
    edges ``(min(la, lb), max(la, lb))`` of the current labeling form
    the condensed graph, and when that fits under
    ``contract_max_edges`` it is Arrow-collected and resolved with
    exact driver union-find, mapping every label to its component min
    (broadcast join back; labels in no cross edge map to themselves).
    This is EXACT at any point of the loop: a component's minimum node
    id is always present as a label (the min node's own label can only
    be itself), and the condensed components are exactly the original
    ones — so the finish replaces only the confirmation tail, never
    approximates.  A/B on the 16x family-scaling graph at local[4]:
    9 rounds / 12.1s -> 2 rounds + driver finish / 5.2s (2.3x), label
    sums identical.  With an
    adversarial graph whose condensed form stays above the cap the
    loop simply keeps iterating (``contract_max_edges=0`` disables,
    keeping the pure-iterative behavior under test in the gate's
    distributed-path pin).

    Round materialization (public API only — one documented exception:
    deleting a NON-local scratch dir on exit goes through
    ``sparkContext._jsc.hadoopConfiguration()``, the only filesystem
    surface PySpark exposes; it is failure-tolerant cleanup only, a
    Spark upgrade that breaks it leaks a scratch dir, never a result):
    each round's label table is WRITTEN to parquet and read back — this
    truncates the logical lineage (without truncation the self-joining
    plan grows exponentially and Catalyst analysis dominates) and,
    unlike ``localCheckpoint``, is fault-tolerant: on a 1000-executor
    cluster losing one executor mid-round does not kill the whole loop.
    Rounds alternate between TWO fixed directories, so round ``r``'s
    ``mode("overwrite")`` write reclaims round ``r-2``'s files through
    Spark's own committer — a hard 2-snapshot storage ceiling on any
    filesystem, with no private persistent-RDD bridge.  The returned
    frame is a single ``localCheckpoint`` of the final round (caller-
    owned, like any cached result), and the round dirs are DELETED on
    exit whenever this function created them (driver-local temp dir or
    a derived subdir of the checkpoint dir alike — via Hadoop FS for
    object-store paths); only a caller-supplied ``work_dir`` is kept.

    ``work_dir`` must be cluster-visible shared storage on multi-node
    deployments (e.g. an object-store scratch prefix); it defaults to
    the context's checkpoint dir when one is set, else a driver-local
    temp dir (correct for ``local[*]``).  The symmetric edge list is
    persisted once (otherwise every round recomputes the entire
    upstream candidate-pair pipeline — LSH shingle/band included) and
    released on exit.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull()
               & (F.col("a") != F.col("b")))
    )
    spark = edges.sparkSession
    if driver_max_edges > 0:
        # Arrow-collected probe: row-object .collect() costs seconds per
        # million edges in pure conversion; toPandas + tolist is ~10x
        probe = e.limit(driver_max_edges + 1).toPandas()
        if len(probe) <= driver_max_edges:
            id_type = e.schema["a"].dataType
            return _driver_union_find(
                list(zip(probe["a"].tolist(), probe["b"].tolist())),
                id_type, spark)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).persist()

    import shutil
    import tempfile
    import uuid

    own_base = False
    base = work_dir
    if base is None:
        ckdir = spark.sparkContext.getCheckpointDir()
        if ckdir:
            base = f"{ckdir.rstrip('/')}/ssg_cc_{uuid.uuid4().hex[:12]}"
        else:
            base = tempfile.mkdtemp(prefix="ssg_cc_")
        # both branches CREATED the dir: remove it on exit either way.
        # Only a caller-supplied work_dir is the caller's to keep.
        own_base = True

    def _rm_base():
        from urllib.parse import urlparse

        scheme = urlparse(base).scheme
        if scheme in ("", "file"):
            shutil.rmtree(base[len("file:"):] if scheme else base,
                          ignore_errors=True)
            return
        # object-store / HDFS scratch under the checkpoint dir: Hadoop
        # FileSystem is the only filesystem surface PySpark exposes
        # (py4j bridge).  Cleanup only — a failure here leaks a scratch
        # dir, never corrupts a result, hence the broad except.
        try:
            jsc = spark.sparkContext._jsc
            jpath = spark._jvm.org.apache.hadoop.fs.Path(base)
            jpath.getFileSystem(jsc.hadoopConfiguration()).delete(jpath, True)
        except Exception:
            pass

    def _materialize(df: DataFrame, rnd: int) -> DataFrame:
        path = f"{base}/labels_{rnd % 2}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    # seed with min(self, neighbors) instead of identity: costs nothing
    # (the identity init already paid a distinct() shuffle over the same
    # rows) and starts every node one propagation hop ahead — for the
    # shallow near-clique components dedup candidate graphs produce,
    # that is a full round (= one parquet materialization + one
    # convergence job) off the loop
    labels = _materialize(
        sym.groupBy("a").agg(F.min("b").alias("__mb"))
        .select(F.col("a").alias("id"),
                F.least(F.col("a"), F.col("__mb")).alias("label")), 0)
    changed = None  # None = fixpoint never confirmed (e.g. max_iter=0)
    try:
        for rnd in range(1, max_iter + 1):
            if contract_max_edges > 0 and rnd > contract_after_rounds:
                la = labels.select(F.col("id").alias("a"),
                                   F.col("label").alias("la"))
                lb = labels.select(F.col("id").alias("b"),
                                   F.col("label").alias("lb"))
                cross = (sym.join(la, "a").join(lb, "b")
                         .where(F.col("la") != F.col("lb"))
                         .select(F.least("la", "lb").alias("x"),
                                 F.greatest("la", "lb").alias("y"))
                         .distinct())
                cprobe = cross.limit(contract_max_edges + 1).toPandas()
                if len(cprobe) <= contract_max_edges:
                    if len(cprobe):
                        mapping = _driver_union_find(
                            list(zip(cprobe["x"].tolist(),
                                     cprobe["y"].tolist())),
                            labels.schema["label"].dataType, spark)
                        labels = (labels.join(
                            F.broadcast(mapping.withColumnRenamed(
                                "id", "label")), "label", "left")
                            .select("id", F.coalesce("component", "label")
                                    .alias("label")))
                    changed = 0  # exact fixpoint by construction
                    break
            links = labels.where(F.col("id") != F.col("label"))
            hop = links.select(F.col("id").alias("a"), F.col("label").alias("b"))
            all_edges = sym.union(hop).union(
                hop.select(F.col("b").alias("a"), F.col("a").alias("b")))
            neigh_min = (
                all_edges.join(
                    labels.select(F.col("id").alias("b"), F.col("label").alias("nl")),
                    "b")
                .groupBy("a").agg(F.min("nl").alias("nl"))
            )
            # convergence count rides the WRITE job as an observation
            # metric (Observation.get blocks on the action) — one job
            # per round, not write + a second changed-count scan
            from pyspark.sql import Observation
            obs = Observation(f"ssg_cc_round_{rnd}")
            new_labels = (
                labels.join(neigh_min, labels["id"] == neigh_min["a"], "left")
                .select(labels["id"],
                        F.least(labels["label"], F.col("nl")).alias("label"),
                        (F.least(labels["label"], F.col("nl"))
                         != labels["label"]).cast("long").alias("_chg"))
                .observe(obs, F.sum("_chg").alias("n"))
                .drop("_chg")
            )
            labels = _materialize(new_labels, rnd)
            changed = obs.get["n"] or 0  # sum over an empty graph is NULL
            if not changed:
                break
        # one caller-owned snapshot so the round dirs can be reclaimed
        out = labels.select("id", F.col("label").alias("component")) \
                    .localCheckpoint(eager=True)
    finally:
        sym.unpersist()
        if own_base:
            _rm_base()
    if strict and changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed or 'unknown'} labels still changing); raise max_iter "
            "or pass strict=False to accept the partial refinement")
    return out


def duplicate_clusters(
    df: DataFrame,
    id_col: str,
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 2_000_000,
    contract_after_rounds: int = 2,
    contract_max_edges: int = 2_000_000,
) -> DataFrame:
    """Resolve candidate-pair edges into duplicate clusters over ``df``:
    every row gains ``cluster_id`` (MIN id of its cluster; singletons are
    their own cluster) and ``is_canonical`` (True for the one row per
    cluster to keep — the standard keep-lowest-id dedup policy).

    The components table is tiny relative to ``df`` (only ids that appear
    in an edge), so the attach join is broadcast-eligible; rows without
    edges never shuffle.
    """
    comp = connected_components(edges, src, dst, max_iter=max_iter,
                                driver_max_edges=driver_max_edges,
                                contract_after_rounds=contract_after_rounds,
                                contract_max_edges=contract_max_edges)
    out = (
        df.join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
    )
    return out.withColumn("is_canonical", F.col("cluster_id") == F.col(id_col))


def cluster_representatives(
    members: DataFrame,
    id_col: str,
    cluster_col: str,
    *,
    score_col: str | None = None,
) -> DataFrame:
    """One representative per duplicate cluster: ``(cluster, rep_id,
    n_members)`` — the RefinedWeb-style "keep the best copy" policy,
    where ``duplicate_clusters``'s keep-lowest-id default is replaced by
    an explicit quality score (token count, text length, a model score).

    Representative = the member with the MAXIMUM ``score_col``, ties
    broken by MINIMUM id; with ``score_col=None`` it degrades to plain
    keep-lowest-id.  NULL scores lose to every non-NULL score (a doc the
    scorer could not rate must never displace a rated one); an all-NULL
    cluster falls back to lowest id.

    Single ``groupBy(cluster)`` with a ``min(struct(-score, id))``
    aggregate — map-side partial, whole-stage codegen, ONE shuffle whose
    volume is one row per cluster.  No window function: a global
    ``row_number() over (partition by cluster)`` would funnel each
    cluster through one partition, which for the giant near-clique
    clusters web dedup produces (template farms: 10^8 members) is the
    same single-partition trap the ANN rank stage had.  The ordering key
    casts the score to double — at 10^12 docs any plausible quality
    score (tokens, bytes, log-probs) is far below 2^53, and ties on the
    double view fall through to the exact id tiebreak anyway.
    """
    mid, mcl = F.col(id_col), F.col(cluster_col)
    if score_col is None:
        key = F.struct(F.lit(0.0).alias("s"), mid.alias("i"))
    else:
        # -score, with NULL -> +infinity so NULL-scored members sort
        # AFTER (lose to) every scored member under min()
        neg = F.when(F.col(score_col).isNull(),
                     F.lit(float("inf"))).otherwise(
            -F.col(score_col).cast("double"))
        key = F.struct(neg.alias("s"), mid.alias("i"))
    return (members.where(mid.isNotNull() & mcl.isNotNull())
            .groupBy(mcl.alias(cluster_col))
            .agg(F.min(key).alias("__best"),
                 F.count(F.lit(1)).alias("n_members"))
            .select(F.col(cluster_col),
                    F.col("__best.i").alias("rep_id"),
                    F.col("n_members").cast("int").alias("n_members")))


def keep_canonical(
    df: DataFrame,
    members: DataFrame,
    id_col: str,
    *,
    cluster_col: str = "cluster_id",
    member_id_col: str | None = None,
    score_col: str | None = None,
) -> DataFrame:
    """Filter ``df`` down to the rows a quality-aware dedup keeps: for
    every cluster in ``members`` (``member_id_col``/``cluster_col``, with
    an optional ``score_col`` — see :func:`cluster_representatives`),
    only the representative survives; rows of ``df`` that appear in no
    cluster pass through untouched (they are their own singleton).

    Shape: the representatives table is one row per CLUSTER and the
    losers table one row per non-representative MEMBER — both small
    relative to a 10^12-row ``df`` after LSH candidate generation, so
    the final ``left_anti`` join broadcasts in practice; when the dup
    set is genuinely huge AQE falls back to a shuffled anti join on the
    id, which is the correct shape anyway.
    """
    mid = member_id_col or id_col
    reps = cluster_representatives(members, mid, cluster_col,
                                   score_col=score_col)
    losers = (members.where(F.col(mid).isNotNull()
                            & F.col(cluster_col).isNotNull())
              .join(reps.select(cluster_col, "rep_id"), cluster_col)
              .where(F.col(mid) != F.col("rep_id"))
              .select(F.col(mid).alias(id_col)).distinct())
    return df.join(losers, id_col, "left_anti")


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    block_bits: int = 8,
    exact: bool = False,
) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column.

    The default is BLOCKED: docs are bucketed by the sign pattern of
    their first ``block_bits`` components (a 1-permutation hyperplane
    LSH) and only same-block pairs join — the shape that survives a
    10^12-row corpus.  ``exact=True`` opts into the all-pairs crossJoin
    (O(n²) — small inputs / oracle comparisons only).  The blocking is
    deterministic (sign bits of the stored vector), so a SQL oracle can
    reproduce the blocked result exactly.
    """
    if not exact and block_bits <= 0:
        raise ValueError(
            "block_bits must be > 0; pass exact=True to opt into the "
            "all-pairs crossJoin explicitly")
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0),
                              lambda acc, x: acc + x * x))
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     norm.alias("nrm"))
    if not exact:
        key = F.lit(0)
        for j in range(block_bits):
            key = key * 2 + (F.element_at(F.col("v"), j + 1) > 0).cast("int")
        base = base.withColumn("blk", key)
        join_keys = ["blk"]
        a = base.select("blk", F.col("id").alias("id_a"), F.col("v").alias("va"),
                        F.col("nrm").alias("na"))
        b = base.select("blk", F.col("id").alias("id_b"), F.col("v").alias("vb"),
                        F.col("nrm").alias("nb"))
        pairs = a.join(b, join_keys)
    else:
        a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                        F.col("nrm").alias("na"))
        b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                        F.col("nrm").alias("nb"))
        pairs = a.crossJoin(b)
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (
        pairs.where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
