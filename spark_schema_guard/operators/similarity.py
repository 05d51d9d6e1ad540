"""Approximate-nearest-neighbor search over embedding columns.

Baseline: brute-force cosine top-k — the query set is collected (it is
small by construction) and becomes a dense numpy matrix captured in an
Arrow-batched ``mapInPandas`` stage: each executor batch computes ONE
BLAS matmul ``(batch × dim) @ (dim × n_queries)`` and the stage keeps a
RUNNING per-query top-k across its partition's batches, emitting at
most ``k`` rows per (partition, query).  Scale paths: random-hyperplane
LSH bucketing — only same-bucket candidates are scored, with
multi-probe (flipping the weakest bit) to recover recall — and IVF
(inverted file): vectors bucket by nearest coarse centroid and queries
probe their ``nprobe`` nearest cells.  Hyperplanes are
seed-deterministic; IVF centroids are md5-order-seeded
(engine-portable, SQL-oracle-reproducible) with optional Lloyd
refinement.

Rank-stage design (the 100-TB argument): ranking is TWO-STAGE.
Stage 1 prunes inside the scoring pass itself — per physical partition,
per query, only the local top-k survives (exact: any global top-k row
is by definition in its own partition's top-k under the same total
order).  Zero shuffle; the scan's candidate volume collapses to
``k`` rows per (partition, query) before anything moves.  Stage 2 is a
window over that pruned frame — bounded at ``k·P`` rows per query by
construction (P = partition count), the same bounded-merge shape as
``stats.heavy_hitters``.  No operator ever sees a query's full
candidate set in one partition (pinned by tests/test_plan_shape.py).

Degenerate-bucket safety: LSH/IVF candidate joins accept a
``max_bucket`` cap mirroring ``dedup.minhash_candidates`` — buckets
larger than the cap (e.g. a junk bucket collecting zero/degenerate
vectors) are dropped before the join.  NULL / wrong-dimension / NaN
vectors never enter a bucket at all: ``lsh_bucket_column`` /
``ivf_cell_column`` emit NULL for them and the top-k entry points
pre-filter ``size(v) == dim``.

Expression strategy (A/B-measured on this box):
* higher-order ``F.aggregate`` folds are CodegenFallback — interpreted
  per row, ~16 folds/row for IVF assignment;
* unrolling the literal dots into ``v[0]*c0 + ...`` Column chains is
  worse end-to-end: a 64-dim × 16-centroid projection is ~3000
  expression nodes and costs ~12s of driver-side analysis per plan
  (measured), dwarfing execution;
* an Arrow-batched pandas stage with the constant matrix captured once
  is both: a single plan node, and vectorized C execution (one matmul
  per Arrow batch).  This is exactly the "vectorized Arrow UDF, no
  per-row Python" shape the engine uses for its exact JSON path.

Determinism note: numpy sums in SIMD/pairwise order, so cosines can
differ from a sequential fold in the last ulp.  Outputs expose ranks
(ordering), not raw floats; an ordering flip needs two distinct
neighbors within ~1e-16 cosine of each other — not observed across the
oracle gate's corpora (the DuckDB oracle recomputes with its own fold
order and matches row-for-row).
"""

from __future__ import annotations


import math
import numbers
import random
import warnings

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    """Column-column dot product (HOF fold) — for callers whose both
    sides are data columns (e.g. pair scoring after a self-join)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _batch_matrix(series: pd.Series, dim: int) -> np.ndarray:
    """Arrow batch of array<double> -> dense (n, dim) float64 matrix.
    Ragged/NULL rows become all-NaN rows; every consumer must mask NaN
    explicitly (the top-k prune drops them, the bucket/cell columns
    emit NULL for them) — NaN is a sentinel here, not a score."""
    out = np.full((len(series), dim), np.nan, dtype=np.float64)
    for i, v in enumerate(series):
        if v is not None and len(v) == dim:
            out[i] = v
    return out


def _query_matrix(queries):
    Q = np.asarray([[float(x) for x in vec] for _, vec in queries],
                   dtype=np.float64)
    qnorms = np.sqrt((Q * Q).sum(axis=1))
    return Q, qnorms


def _spark_type_for(value):
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    return T.StringType()


def _pruned_schema(qid_type, nid_type) -> T.StructType:
    return T.StructType([
        T.StructField("query_id", qid_type),
        T.StructField("neighbor_id", nid_type),
        T.StructField("cosine", T.DoubleType()),
    ])


def _topk_frame(frame: pd.DataFrame, k: int) -> pd.DataFrame:
    """Exact per-query top-k of a long (query_id, neighbor_id, cosine)
    frame under the engine's total order (cosine DESC, neighbor_id ASC).
    Stable mergesort keeps the order deterministic for equal keys."""
    ordered = frame.sort_values(["cosine", "neighbor_id"],
                                ascending=[False, True], kind="mergesort")
    return ordered.groupby("query_id", sort=False).head(k)


def _prune_all_queries(queries, k: int, qid_type, nid_type):
    """mapInPandas stage for the brute path: rows are (neighbor_id, v);
    every row is scored against EVERY query (one matmul per batch) and
    only the partition-local per-query top-k is emitted."""
    Q, qnorms = _query_matrix(queries)
    dim = Q.shape[1]
    qids = [qid for qid, _ in queries]
    schema = _pruned_schema(qid_type, nid_type)

    def prune(batches):
        kept: list[pd.DataFrame] = []
        for pdf in batches:
            if not len(pdf):
                continue
            M = _batch_matrix(pdf["v"], dim)
            with np.errstate(invalid="ignore", divide="ignore"):
                S = (M @ Q.T) / (np.sqrt((M * M).sum(axis=1))[:, None] * qnorms)
            nid = pdf["neighbor_id"].reset_index(drop=True)
            for j, qid in enumerate(qids):
                col = S[:, j]
                valid = ~np.isnan(col)
                sub = pd.DataFrame({"neighbor_id": nid[valid],
                                    "cosine": col[valid]})
                sub = sub[sub["neighbor_id"] != qid]
                if not len(sub):
                    continue
                sub = _topk_frame(sub.assign(query_id=qid), k)
                kept.append(sub[["query_id", "neighbor_id", "cosine"]])
        if kept:
            yield _topk_frame(pd.concat(kept, ignore_index=True), k)

    return prune, schema


def _prune_own_query(queries, k: int, qid_type, nid_type):
    """mapInPandas stage for the bucketed paths: rows are
    (query_id, neighbor_id, v) candidate pairs from the bucket join;
    each row is scored against ITS query only (row-wise vectorized dot)
    and the partition-local per-query top-k is emitted."""
    Q, qnorms = _query_matrix(queries)
    dim = Q.shape[1]
    qindex = {qid: i for i, (qid, _) in enumerate(queries)}
    schema = _pruned_schema(qid_type, nid_type)

    def prune(batches):
        kept: list[pd.DataFrame] = []
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            M = _batch_matrix(pdf["v"], dim)
            ji = pdf["query_id"].map(qindex).to_numpy(dtype=np.int64)
            Qsel = Q[ji]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = (M * Qsel).sum(axis=1) / (
                    np.sqrt((M * M).sum(axis=1)) * qnorms[ji])
            sub = pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "cosine": cos})
            sub = sub[~np.isnan(cos)
                      & (sub["neighbor_id"] != sub["query_id"])]
            # multi-table candidates may repeat a (query, neighbor) pair
            # WITHIN this partition: dedup before the local top-k, or a
            # doubled row could evict a true top-k neighbor (the cosine
            # is bit-identical per pair — row-wise dot, batch-order
            # independent — so dropping copies is exact)
            sub = sub.drop_duplicates(subset=["query_id", "neighbor_id"])
            if len(sub):
                kept.append(_topk_frame(sub, k))
        if kept:
            merged = pd.concat(kept, ignore_index=True).drop_duplicates(
                subset=["query_id", "neighbor_id"])
            yield _topk_frame(merged, k)

    return prune, schema


def _merge_topk(pruned: DataFrame, k: int,
                dedup: bool = False) -> DataFrame:
    """Stage-2 merge: exact global top-k over the pruned frame.  Input
    is bounded at k rows per (input partition, query) by construction,
    so this window ranks <= k·P rows per query — the heavy_hitters
    bounded-merge shape, never a full candidate set.

    ``dedup=True`` drops duplicate (query, neighbor) survivors first —
    needed by multi-table LSH, where the same pair can reach the merge
    from two partitions (both copies carry the bit-identical cosine, so
    this is exact).  Deduping HERE, on <= k·P rows per query, replaces
    the old candidate-level dropDuplicates that shuffled the full
    candidate set WITH its embedding payload (~3 GB at the
    family-scaling amplification; measured 15.25s -> 6.81s per call at
    local[4], 8.07s -> 3.48s at local[16])."""
    if dedup:
        pruned = pruned.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (pruned.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def _valid_vectors(df: DataFrame, id_col: str, vec_col: str, dim: int,
                   ) -> DataFrame:
    """Project (neighbor_id, v) keeping only well-formed vectors: NULL
    or wrong-dimension embeddings never become candidates (they used to
    surface as NULL-cosine rows when a bucket ran short of k)."""
    return (df.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
            .where(F.col("v").isNotNull() & (F.size("v") == dim)))


def _probe_frame(spark, pairs, qid_type, key_name: str) -> DataFrame:
    """Probe side of the bucket join as a local relation (one
    LocalTableScan node).  The previous form — ``explode(array(*struct
    literals))`` — cost O(probes) expression nodes of DRIVER-side
    analysis on every call (measured ~17s of parallelism-independent
    time at 256 queries x 4 tables in the family-scaling harness);
    a local relation is O(1) plan nodes and broadcasts identically."""
    schema = T.StructType([
        T.StructField("query_id", qid_type),
        T.StructField(key_name, T.IntegerType()),
    ])
    return spark.createDataFrame(pairs, schema)


# "auto" bucket-cap policy: keep buckets up to AUTO_CAP_FACTOR x the
# mean bucket size, never below AUTO_CAP_FLOOR rows (tiny corpora and
# mildly skewed buckets are harmless; the cap exists to bound the
# DEGENERATE case — e.g. zero-heavy embeddings all landing in one sign
# bucket, which would otherwise make one task score ~the whole corpus)
AUTO_CAP_FLOOR = 10_000
AUTO_CAP_FACTOR = 8
# auto caps warn when they silently remove more than this fraction of
# the corpus from candidacy — the signal a caller needs to raise
# n_planes/n_centroids or opt out with max_bucket=None
CAP_WARN_FRACTION = 0.02
# past this many dropped bucket ids the NOT-IN literal filter would
# bloat the plan; fall back to a broadcast keep-join instead
_CAP_ISIN_LIMIT = 1_000

# Density-adaptive defaults ("auto", round 5): fixed plane/centroid
# counts cannot hold recall as the corpus grows, so "auto" targets a
# BUCKET/CELL SIZE, not a bucket count — the same policy as
# max_bucket="auto".  Grounding (SCALE.md recall grids, sf0.1
# embeddings at 1x/10x density): single-table 6-plane LSH is stuck at
# ~0.2 recall@5 at BOTH scales, 4-table 6-plane LSH holds 0.52/0.63,
# and IVF recall rises monotonically with centroid count
# (32 centroids = 0.98/1.00 at ~3-12% scan).
LSH_TARGET_BUCKET = 512   # auto n_planes aims for ~this many rows/bucket
LSH_AUTO_TABLES = 4       # the measured recall lever (1-(1-r)^L)
IVF_MIN_CENTROIDS = 8
IVF_MAX_CENTROIDS = 65_536


def _auto_n_planes(n: int) -> int:
    """ceil(log2(n / LSH_TARGET_BUCKET)) clamped to [4, 16] — bucket
    population tracks LSH_TARGET_BUCKET instead of shrinking the
    per-bucket recall floor as density grows."""
    if n <= LSH_TARGET_BUCKET:
        return 4
    return max(4, min(16, math.ceil(math.log2(n / LSH_TARGET_BUCKET))))


def _auto_n_centroids(n: int) -> int:
    """round(sqrt(n)) clamped to [8, 65536] — the classic IVF nlist
    rule: per-query scanned fraction shrinks as nprobe/sqrt(n) while
    cells keep following the data (recall rose monotonically with
    centroid count on both measured densities)."""
    return max(IVF_MIN_CENTROIDS,
               min(IVF_MAX_CENTROIDS, round(math.sqrt(max(n, 1)))))


def _validate_max_bucket(max_bucket):
    """Reject typo'd strings ('aut0' used to fall into the int branch
    and Spark coerced the long<=string comparison — silent wrong
    filtering) and non-integer garbage; any ``numbers.Integral`` but
    ``bool`` is a cap (``numpy.int64`` included), returned as ``int``."""
    if max_bucket is None or max_bucket == "auto":
        return max_bucket
    if isinstance(max_bucket, bool) or not isinstance(max_bucket,
                                                      numbers.Integral):
        raise ValueError(
            f"max_bucket must be an int, None, or 'auto'; got {max_bucket!r}")
    if max_bucket <= 0:
        raise ValueError(f"max_bucket must be positive; got {max_bucket}")
    return int(max_bucket)


def _cap_buckets(data: DataFrame, key: str, max_bucket,
                 *, n_buckets: int | None = None,
                 total_hint: int | None = None) -> DataFrame:
    """Drop buckets larger than ``max_bucket`` before the candidate
    join — the dedup.minhash_candidates safety valve against degenerate
    buckets (mirrored in the SQL oracles).  ``None`` disables (explicit
    opt-out); an int keeps the original lazy in-plan keep-join (the
    oracle-replicated mode).

    ``"auto"`` (the ANN-path default) derives the cap from the data:
    ``max(AUTO_CAP_FLOOR, ceil(AUTO_CAP_FACTOR * total / n_buckets))``.
    Since round 5 auto mode is EAGER and REPORTED: the bucket histogram
    (tiny — one row per populated bucket) is aggregated up front, the
    over-cap bucket ids are collected, and

    * nothing over cap (the common case) → the candidate plan gains NO
      join at all;
    * a small dropped set → a literal NOT-IN filter (no join, no
      broadcast);
    * a dropped fraction above ``CAP_WARN_FRACTION`` →
      ``warnings.warn`` naming the dropped rows/buckets, so a clustered
      corpus whose true neighbors live in a hot bucket cannot lose them
      silently (the round-4 ADVICE finding).

    The eager histogram costs one narrow job; the previous in-plan form
    recomputed the same histogram inside the candidate job anyway, so
    total scan work is unchanged while the join disappears."""
    max_bucket = _validate_max_bucket(max_bucket)
    if max_bucket is None:
        return data
    sizes = data.groupBy(key).agg(F.count(F.lit(1)).alias("__bn"))
    if max_bucket != "auto":
        keep = sizes.where(F.col("__bn") <= max_bucket).select(key)
        return data.join(F.broadcast(keep), key)
    if not n_buckets:
        raise ValueError("auto bucket cap needs n_buckets")
    # cheap early exit: cap >= AUTO_CAP_FLOOR always, so no bucket can
    # exceed it unless the corpus itself does.  total_hint comes free
    # from the auto-sizing count; without it a bare count prunes the
    # bucket UDF column, far cheaper than the bucket histogram.
    total = total_hint if total_hint is not None else data.count()
    if total <= AUTO_CAP_FLOOR:
        return data
    # one job: corpus total + every over-floor bucket (the dropped set
    # is a subset — cap >= the floor)
    row = sizes.agg(
        F.sum("__bn").alias("t"),
        F.collect_list(F.when(F.col("__bn") > AUTO_CAP_FLOOR,
                              F.struct(F.col(key).alias("b"),
                                       F.col("__bn").alias("n"))))
        .alias("big")).first()
    total = row["t"] or 0
    cap = max(AUTO_CAP_FLOOR,
              math.ceil(AUTO_CAP_FACTOR * total / n_buckets))
    dropped = [r for r in row["big"] if r["n"] > cap]
    if not dropped:
        return data
    dropped_rows = sum(r["n"] for r in dropped)
    frac = dropped_rows / total if total else 0.0
    if frac > CAP_WARN_FRACTION:
        warnings.warn(
            f"max_bucket='auto' dropped {len(dropped)} bucket(s) holding "
            f"{dropped_rows} rows ({frac:.1%} of the corpus, cap={cap}) "
            f"from ANN candidacy; queries whose true neighbors live "
            f"there will under-recall.  Raise n_planes/n_tables/"
            f"n_centroids, or pass max_bucket=None to opt out.",
            stacklevel=3)
    if len(dropped) <= _CAP_ISIN_LIMIT:
        return data.where(~F.col(key).isin([r["b"] for r in dropped]))
    keep = sizes.where(F.col("__bn") <= cap).select(key)
    return data.join(F.broadcast(keep), key)


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple],
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each (query_id, query_vector).

    Returns ``query_id, neighbor_id, cosine, rank`` (rank 1 = nearest,
    ties broken by neighbor id for determinism; the query row itself is
    excluded when ids collide).  Two-stage: the scoring pass keeps only
    its partition's per-query top-k, the final window merges k·P rows.
    """
    dim = len(queries[0][1])
    data = _valid_vectors(df, id_col, vec_col, dim)
    prune, schema = _prune_all_queries(
        queries, k, _spark_type_for(queries[0][0]),
        df.schema[id_col].dataType)
    return _merge_topk(data.mapInPandas(prune, schema), k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seed-deterministic random hyperplanes (Box-Muller gaussians)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket_column(vec_col, planes: list[list[float]]):
    """Sign-pattern bucket id of a vector under the given hyperplanes
    (pandas UDF: one matmul + sign-bit packing per Arrow batch).
    NULL / wrong-dimension / NaN-bearing vectors get a NULL bucket —
    they drop out of bucket joins instead of polluting bucket 0."""
    P = np.asarray(planes, dtype=np.float64)
    dim = P.shape[1]
    weights = np.asarray([1 << (len(planes) - 1 - j)
                          for j in range(len(planes))], dtype=np.int64)

    @F.pandas_udf(T.IntegerType())
    def bucket(v: pd.Series) -> pd.Series:
        M = _batch_matrix(v, dim)
        proj = M @ P.T
        vals = pd.array(((proj > 0) @ weights).astype("int32"),
                        dtype="Int32")
        vals[np.isnan(proj).any(axis=1)] = pd.NA
        return pd.Series(vals)

    return bucket(vec_col)


def cosine_topk_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple],
    k: int = 5,
    *,
    n_planes: int | str = "auto",
    seed: int = 42,
    multiprobe: int = 2,
    n_tables: int | str = "auto",
    max_bucket: int | str | None = "auto",
) -> DataFrame:
    """ANN top-k: score only vectors in the query's LSH bucket (plus
    ``multiprobe`` single-bit-flip neighbor buckets).  ``max_bucket``
    drops degenerate buckets before the join (see module docstring) —
    the default ``"auto"`` caps at ``max(AUTO_CAP_FLOOR,
    AUTO_CAP_FACTOR x mean bucket size)`` so a pathological corpus
    (e.g. all-identical sign patterns) cannot funnel the whole table
    into one scoring task; pass ``None`` to explicitly opt out or an
    int for a fixed cap.  Ranking is the same two-stage prune+merge as
    ``cosine_topk``.

    ``n_tables`` is the recall lever (classic multi-table LSH): each
    table is an independent hyperplane set; a candidate is anything
    sharing a bucket with the query in ANY table.  Recall compounds as
    1-(1-r1)^L for roughly L× the scanned fraction — the measured curve
    on the synthetic embeddings is in SCALE.md (single-table sign-LSH
    recalls poorly there; 4 tables at 6 planes reach what one table
    needs ~10× the scan for).  Table t's buckets live in the id range
    ``[t·2^n_planes, (t+1)·2^n_planes)``, so the cap and the broadcast
    probe machinery are shared unchanged; cross-table duplicate
    candidates are dropped before scoring.

    ``n_planes``/``n_tables`` default to ``"auto"`` (round 5): one
    narrow count of the well-formed vectors sizes the corpus, then
    ``n_planes = clamp(ceil(log2(n / LSH_TARGET_BUCKET)), 4, 16)`` and
    ``n_tables = LSH_AUTO_TABLES`` — the density-adaptive policy
    measured in SCALE.md (the old fixed 6/1 default fell to ~0.2
    recall@5 as density grew; auto holds ≥0.6 at both measured
    densities).  Pass explicit ints to skip the count job."""
    dim = len(queries[0][1])
    data = _valid_vectors(df, id_col, vec_col, dim)
    for name, val in (("n_planes", n_planes), ("n_tables", n_tables)):
        if isinstance(val, str) and val != "auto":
            raise ValueError(f"{name} must be an int or 'auto'; got {val!r}")
    n = None
    if n_planes == "auto" or n_tables == "auto":
        n = data.count()
        if n_planes == "auto":
            n_planes = _auto_n_planes(n)
        if n_tables == "auto":
            n_tables = LSH_AUTO_TABLES
    tables = [hyperplanes(dim, n_planes, seed + 7919 * t)
              for t in range(n_tables)]
    if n_tables == 1:
        data = data.withColumn(
            "bucket", lsh_bucket_column(F.col("v"), tables[0]))
    else:
        per_table = [
            (lsh_bucket_column(F.col("v"), tables[t])
             + F.lit(t * 2 ** n_planes)).cast("int")
            for t in range(n_tables)]
        data = data.withColumn("bucket",
                               F.explode(F.array(*per_table)))
    data = _cap_buckets(data, "bucket", max_bucket,
                        n_buckets=n_tables * 2 ** n_planes,
                        total_hint=None if n is None else n * n_tables)

    def buckets_for(vec):
        probes = []
        for t, planes in enumerate(tables):
            base = 0
            projs = []
            for plane in planes:
                p = sum(x * y for x, y in zip(vec, plane))
                projs.append(p)
                base = base * 2 + (1 if p > 0 else 0)
            order = sorted(range(len(planes)),
                           key=lambda i: abs(projs[i]))
            offset = t * 2 ** n_planes
            probes.append(offset + base)
            for i in order[:multiprobe]:
                probes.append(offset
                              + (base ^ (1 << (len(planes) - 1 - i))))
        return probes

    # broadcast side carries only (query_id, bucket); query vectors live
    # in the scoring stage's captured matrix
    qid_type = _spark_type_for(queries[0][0])
    q = _probe_frame(
        df.sparkSession,
        [(qid, int(bucket))
         for qid, vec in queries for bucket in buckets_for(vec)],
        qid_type, "bucket")
    candidates = data.join(F.broadcast(q), "bucket")
    # a pair can match in several tables; duplicates are dropped inside
    # the prune stage (partition-local, pandas) and on the k·P pruned
    # frame in the merge — NEVER by a dropDuplicates over the raw
    # candidate set, which would shuffle every candidate row with its
    # full embedding payload
    prune, schema = _prune_own_query(
        queries, k, qid_type, df.schema[id_col].dataType)
    pruned = candidates.select("query_id", "neighbor_id", "v") \
                       .mapInPandas(prune, schema)
    return _merge_topk(pruned, k, dedup=n_tables > 1)


def ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    *,
    iterations: int = 0,
    dim: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer for IVF: seed centroids are the
    ``n_centroids`` vectors with lexicographically-smallest
    ``md5(id)`` — the same engine-portable selection rule as the
    sampling/minhash md5 modes, so a SQL oracle reproduces it exactly.
    ``iterations`` Lloyd steps (element-wise mean of each cell, computed
    as Spark aggregations) refine recall; the default 0 is the
    oracle-portable mode.

    NULL vectors never seed (they would poison every later matmul);
    pass ``dim`` to also exclude mis-dimensioned vectors from seeding —
    without it a ragged corpus can seed a centroid of the wrong width
    and silently redefine the space.

    Returns ``[(cell_id, centroid_vector), ...]`` — small by
    construction (collected to the driver, broadcast into plans)."""
    src = df.select(F.col(vec_col).cast("array<double>").alias("cv"),
                    F.md5(F.col(id_col).cast("string")).alias("__h__")) \
            .where(F.col("cv").isNotNull())
    if dim is not None:
        src = src.where(F.size("cv") == dim)
    seeded = src.orderBy("__h__").limit(n_centroids).collect()
    if not seeded:
        raise ValueError("no well-formed vectors to seed centroids from")
    cents = [(i, list(r["cv"])) for i, r in enumerate(seeded)]
    for _ in range(iterations):
        assigned = df.select(
            F.col(vec_col).cast("array<double>").alias("v")
        ).withColumn("cell", ivf_cell_column(F.col("v"), cents))
        means = (assigned.select("cell", F.posexplode("v").alias("pos", "x"))
                 .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
                 .collect())
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        cents = [(cid, [by_cell[cid][p] for p in sorted(by_cell[cid])]
                  if cid in by_cell else vec)
                 for cid, vec in cents]
    return cents


def ivf_cell_column(vec_col, cents: list[tuple[int, list[float]]]):
    """Nearest-centroid cell id of a vector: argmax cosine, ties to the
    smaller cell id (centroids are ordered by cell id and ``argmax``
    returns the first maximum).  One matmul per Arrow batch; the
    row-norm factor is a positive per-row constant, so it cannot change
    the argmax and is skipped.  NULL / wrong-dimension / NaN-bearing
    vectors get a NULL cell — they never join a probe."""
    C = np.asarray([[float(x) for x in c] for _, c in cents],
                   dtype=np.float64)
    C = C / np.sqrt((C * C).sum(axis=1))[:, None]
    ids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    C, ids = C[order], ids[order]
    dim = C.shape[1]

    @F.pandas_udf(T.IntegerType())
    def cell(v: pd.Series) -> pd.Series:
        M = _batch_matrix(v, dim)
        S = M @ C.T
        vals = pd.array(
            ids[np.argmax(np.nan_to_num(S, nan=-np.inf), axis=1)]
            .astype("int32"), dtype="Int32")
        vals[np.isnan(S).any(axis=1)] = pd.NA
        return pd.Series(vals)

    return cell(vec_col)


def cosine_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple],
    k: int = 5,
    *,
    n_centroids: int | str = "auto",
    nprobe: int = 4,
    iterations: int = 0,
    max_bucket: int | str | None = "auto",
) -> DataFrame:
    """IVF ANN top-k: vectors are bucketed by nearest coarse centroid
    (``ivf_centroids``), and each query scores only the vectors in its
    ``nprobe`` nearest cells.  Candidate count scales as
    ``nprobe/n_centroids`` of the corpus per query — the inverted-file
    alternative to the hyperplane-LSH path, with the same
    broadcast-join + two-stage-rank shape.  ``max_bucket`` drops
    degenerate cells before the join (default ``"auto"`` — see
    ``cosine_topk_lsh``; ``None`` opts out, an int fixes the cap).

    ``n_centroids`` defaults to ``"auto"`` (round 5): one narrow count
    sizes the corpus and ``n_centroids = clamp(round(sqrt(n)), 8,
    65536)`` — the classic IVF nlist rule, so the scanned fraction
    shrinks as ``nprobe/sqrt(n)`` while cells keep tracking the data
    (recall rose monotonically with centroid count at both measured
    densities — SCALE.md).  Pass an explicit int to skip the count."""
    dim = len(queries[0][1])
    data = _valid_vectors(df, id_col, vec_col, dim)
    if isinstance(n_centroids, str) and n_centroids != "auto":
        raise ValueError(
            f"n_centroids must be an int or 'auto'; got {n_centroids!r}")
    n = None
    if n_centroids == "auto":
        n = data.count()
        n_centroids = _auto_n_centroids(n)
    cents = ivf_centroids(df, id_col, vec_col, n_centroids,
                          iterations=iterations)
    data = data.withColumn("cell", ivf_cell_column(F.col("v"), cents))
    data = _cap_buckets(data, "cell", max_bucket, n_buckets=n_centroids,
                        total_hint=n)

    def probes_for(vec):
        vnorm = sum(x * x for x in vec) ** 0.5
        scored = []
        for cid, c in cents:
            cnorm = sum(x * x for x in c) ** 0.5
            cos = sum(x * y for x, y in zip(vec, c)) / (vnorm * cnorm)
            scored.append((-cos, cid))
        return [cid for _, cid in sorted(scored)[:nprobe]]

    qid_type = _spark_type_for(queries[0][0])
    q = _probe_frame(
        df.sparkSession,
        [(qid, int(cell))
         for qid, vec in queries for cell in probes_for(vec)],
        qid_type, "cell")
    candidates = data.join(F.broadcast(q), "cell")
    prune, schema = _prune_own_query(queries, k, qid_type,
                                     df.schema[id_col].dataType)
    pruned = candidates.select("query_id", "neighbor_id", "v") \
                       .mapInPandas(prune, schema)
    return _merge_topk(pruned, k)
