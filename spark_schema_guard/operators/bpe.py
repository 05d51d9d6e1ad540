"""BPE tokenizer training over a distributed corpus — the tokenizer-prep
step of an LLM data pipeline (Sennrich et al. 2016, the GPT-2 /
SentencePiece recipe).

Scale shape: real BPE trainers never iterate over the corpus — they
train on the WORD-FREQUENCY TABLE, because merge decisions depend only
on (distinct word, count).  That is exactly the Spark split used here:

* :func:`bpe_word_counts` — the distributed stage: one tokenize scan +
  one map-side-combining ``groupBy(word)``.  10^12 corpus tokens
  collapse to ~10^7 distinct words (Heaps' law), a driver-sized table.
* :func:`train_bpe` — the driver stage: classic greedy pair-merge on
  the collected word table with an inverted pair→word index, so each
  merge touches only the words containing the merged pair.  This part
  is inherently sequential (merge ``i+1`` depends on merge ``i``) and
  its input is corpus-size-independent — putting it on the driver is
  the broadcast-threshold pattern, not a scale compromise.
* :func:`bpe_encode_counts` — back to the cluster: the learned merge
  ranks ride a ``mapInPandas`` closure; encoding memoizes per DISTINCT
  word within each batch (natural text repeats words heavily), and
  emits per-document BPE token counts.

Determinism contract (what the DuckDB oracle replays merge-for-merge):
pair counts are exact integers over per-occurrence adjacent symbol
pairs weighted by word count; the winning pair maximizes count with
ties broken lexicographically on (left, right); a merge rewrites every
word left-to-right greedily (equivalent to a fold whose accumulator
merges when its last symbol is ``left`` and the next is ``right``).
No floats, no hashes, no RNG anywhere.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..columnar.varsql import sqlstr
from .textstats import _tokens

END_OF_WORD = "</w>"


def bpe_word_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_count: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """``(word, n)`` corpus word frequencies — the distributed half of
    BPE training.  Tokenization is lowercase whitespace splitting (the
    engine-portable convention shared with ``token_vocabulary``).
    ``min_count`` drops rare words; ``max_words`` keeps the top ``n``
    by (count DESC, word ASC) — a deterministic total order, compiled
    to ``TakeOrderedAndProject`` (no global sort materialization)."""
    toks = df.select(
        F.explode(_tokens(F.lower(F.col(text_col)))).alias("word")
    ).where(F.col("word") != "")
    out = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    if min_count > 1:
        out = out.where(F.col("n") >= min_count)
    if max_words is not None:
        out = out.orderBy(F.col("n").desc(), F.col("word").asc()) \
                 .limit(max_words)
    return out


def _merge_word(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right merge of every adjacent (left, right) —
    the fold the oracle's ``list_reduce`` replays."""
    out = [syms[0]]
    for s in syms[1:]:
        if out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return out


def train_bpe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_merges: int = 100,
    min_count: int = 1,
    max_words: int = 1_000_000,
    end_of_word: str = END_OF_WORD,
) -> list[dict]:
    """Learn ``n_merges`` BPE merges from the corpus.  Returns
    ``[{"rank", "left", "right", "n"}, ...]`` in merge order (may be
    shorter than ``n_merges`` if the word table runs out of adjacent
    pairs).  See the module docstring for the determinism contract.

    The driver holds one (syms, count) entry per distinct word (capped
    at ``max_words``) plus a pair→words inverted index; each merge
    rescans only the words that contain the winning pair."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    rows = bpe_word_counts(df, id_col, text_col, min_count=min_count,
                           max_words=max_words).collect()
    words = [([*r["word"], end_of_word], int(r["n"])) for r in rows]

    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple, set] = defaultdict(set)
    for wi, (syms, cnt) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += cnt
            pair_words[p].add(wi)

    merges: list[dict] = []
    for rank in range(n_merges):
        if not pair_counts:
            break
        # max count, ties to lexicographically smallest (left, right)
        best_n = max(pair_counts.values())
        best = min(p for p, n in pair_counts.items() if n == best_n)
        merges.append({"rank": rank, "left": best[0], "right": best[1],
                       "n": int(best_n)})
        for wi in sorted(pair_words[best]):
            syms, cnt = words[wi]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= cnt
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                pair_words[p].discard(wi)
            syms = _merge_word(syms, best[0], best[1])
            words[wi] = (syms, cnt)
            for p in zip(syms, syms[1:]):
                pair_counts[p] += cnt
                pair_words[p].add(wi)
    return merges


def bpe_merges_frame(spark: SparkSession, merges: list[dict]) -> DataFrame:
    """The learned merge table as a DataFrame ``(rank, left, right, n)``
    — the persistable artifact a tokenizer-build pipeline writes."""
    schema = T.StructType([
        T.StructField("rank", T.IntegerType()),
        T.StructField("left", T.StringType()),
        T.StructField("right", T.StringType()),
        T.StructField("n", T.LongType())])
    # an inline table is a JVM-local relation: reading it starts no
    # Python worker, unlike a row-object createDataFrame
    rows = ", ".join(f"({int(m['rank'])}, {sqlstr(m['left'])}, "
                     f"{sqlstr(m['right'])}, {int(m['n'])}L)" for m in merges)
    return spark.sql(
        f"SELECT * FROM VALUES {rows or '(NULL, NULL, NULL, NULL)'} "
        f"AS t(`rank`, `left`, `right`, `n`)"
        f"{'' if merges else ' WHERE false'}").to(schema)


def bpe_encode_word(word: str, merges: list[dict],
                    end_of_word: str = END_OF_WORD) -> list[str]:
    """Segment one word with a learned merge list — replays the merges
    in rank order (each as one greedy sweep), which by construction
    reproduces the trainer's own final segmentation of training words."""
    syms = [*word, end_of_word]
    for m in merges:
        if len(syms) < 2:
            break
        syms = _merge_word(syms, m["left"], m["right"])
    return syms


def bpe_encode_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[dict],
    *,
    end_of_word: str = END_OF_WORD,
) -> DataFrame:
    """Per-document BPE token counts under a learned merge list:
    ``(id, n_words, n_bpe_tokens)``.  NULL text yields 0/0 (no tokens —
    consistent with ``token_count``'s empty-text contract).

    The merge list rides the ``mapInPandas`` closure (small by
    construction); encoding memoizes per distinct word ACROSS batches
    of a partition, so cost is ∝ distinct words per partition, not
    corpus tokens.  One scan, zero shuffles."""
    ms = [dict(m) for m in merges]
    schema = T.StructType([
        T.StructField("__id", df.schema[id_col].dataType),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_bpe_tokens", T.LongType())])

    def encode(batches):
        cache: dict[str, int] = {}

        def word_len(w: str) -> int:
            got = cache.get(w)
            if got is None:
                got = cache[w] = len(bpe_encode_word(w, ms, end_of_word))
            return got

        for pdf in batches:
            n_words, n_toks = [], []
            for text in pdf["__t"]:
                if text is None:
                    n_words.append(0)
                    n_toks.append(0)
                    continue
                ws = [w for w in text.lower().split() if w]
                n_words.append(len(ws))
                n_toks.append(sum(word_len(w) for w in ws))
            yield pd.DataFrame({"__id": pdf["__id"],
                                "n_words": n_words,
                                "n_bpe_tokens": n_toks})

    return (df.select(F.col(id_col).alias("__id"),
                      F.col(text_col).alias("__t"))
            .mapInPandas(encode, schema)
            .withColumnRenamed("__id", id_col))


__all__ = ["bpe_word_counts", "train_bpe", "bpe_merges_frame",
           "bpe_encode_word", "bpe_encode_counts", "END_OF_WORD"]
