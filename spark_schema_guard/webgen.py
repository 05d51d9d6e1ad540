"""Deterministic synthetic Common-Crawl-style web-page table.

Shape per BASELINE.json ``input_hint``: ``(url:string, warc_ts:timestamp,
html:binary, text:string, lang:string)``.  Derived 1:1 from the driver's
``documents.parquet`` (seed-fixed, TESTDATA.md) by pure Column expressions,
so it is reproducible at any SF with zero external data and no RNG.

Planted violation seeds (FIXTURES.md T1), all keyed off ``doc_id`` so the
oracle can reproduce them:

* hot-domain skew: ~20% of rows share one domain (salting exercise);
* ~1% duplicate urls (uniqueness violations);
* ~2% empty text (minLength violations);
* ~1% lang outside the enum;
* one source-partition's warc_ts shifted by +45 days (KS drift) and with a
  skewed lang distribution (chi-square drift);
* some html NULL; a few html values non-utf8 bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def web_pages(documents: DataFrame, replicas: int = 1) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) -> web page table.

    ``replicas`` deterministically amplifies the table for benchmarking:
    each replica shifts doc_id by r*100000, preserving every planted-seed
    proportion (the stride is a multiple of the hot-domain and dup-url
    moduli).  replicas=1 (default) is the oracle-checked shape.
    """
    if replicas > 1:
        documents = (
            documents
            .select(F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("__r"),
                    "*")
            # __r is int (F.sequence); the stride product must be LONG or
            # replicas >= ~21475 overflows 32-bit int under ANSI mode
            .withColumn("doc_id",
                        F.col("doc_id") + F.col("__r").cast("long") * F.lit(100000))
            .drop("__r")
        )
    doc_id = F.col("doc_id")

    domain = (
        F.when(doc_id % 5 == 0, F.lit("hot.example.com"))  # 20% hot domain
        .otherwise(F.concat(F.lit("d"), (doc_id % 97).cast("string"),
                            F.lit(".example.org")))
    )
    # ~1% duplicates: rows with doc_id % 100 == 7 reuse the previous id's url
    url_id = F.when(doc_id % 100 == 7, doc_id - 1).otherwise(doc_id)
    url_domain = (
        F.when(url_id % 5 == 0, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("d"), (url_id % 97).cast("string"),
                            F.lit(".example.org")))
    )
    url = F.concat(F.lit("https://"), url_domain, F.lit("/page/"),
                   url_id.cast("string"))

    base = F.to_timestamp(F.lit("2024-03-01 00:00:00"))
    seconds = (doc_id * 467) % (30 * 24 * 3600)  # uniform over 30 days
    drifted = F.col("source") == "src3"  # one partition shifted for KS drift
    warc_ts = F.when(
        drifted,
        F.timestamp_seconds(F.unix_timestamp(base) + seconds + 45 * 24 * 3600),
    ).otherwise(F.timestamp_seconds(F.unix_timestamp(base) + seconds))

    text = F.when(doc_id % 53 == 0, F.lit("")).otherwise(F.col("text"))

    # drifted partition skews lang toward 'zh' (chi-square drift seed)
    lang = (
        F.when(doc_id % 101 == 0, F.lit("xx"))  # outside the enum
        .when(drifted & (doc_id % 3 == 0), F.lit("zh"))
        .otherwise(F.col("lang"))
    )

    html = (
        F.when(doc_id % 41 == 0, F.lit(None).cast("binary"))
        .when(doc_id % 43 == 0,
              F.concat(F.lit(b"\xff\xfe\xfd"), F.encode(text, "utf-8")))
        .otherwise(F.encode(
            F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")),
            "utf-8"))
    )

    return documents.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        doc_id.alias("doc_id"),       # lineage column, not part of input_hint
        F.col("source").alias("source"),
    )


WEB_PAGE_SCHEMA = {
    "type": "object",
    "required": ["url", "text", "lang", "warc_ts"],
    "properties": {
        "url": {"type": "string", "format": "uri", "pattern": "^https?://",
                "minLength": 10, "maxLength": 2048},
        "warc_ts": {"type": "string", "format": "date-time"},
        "text": {"type": "string", "minLength": 1},
        "lang": {"enum": ["en", "de", "fr", "es", "cs", "zh", "ru", "ja", "pt", "it"]},
    },
}

LANGUAGES_DIM = [
    ("en", "English"), ("de", "German"), ("fr", "French"), ("es", "Spanish"),
    ("cs", "Czech"), ("zh", "Chinese"), ("ru", "Russian"), ("ja", "Japanese"),
    ("pt", "Portuguese"), ("it", "Italian"),
]


def languages(spark) -> DataFrame:
    # an inline table is a JVM-local relation: reading it starts no
    # Python worker, unlike a row-object createDataFrame
    from spark_schema_guard.columnar.varsql import sqlstr

    rows = ", ".join(f"({sqlstr(c)}, {sqlstr(n)})" for c, n in LANGUAGES_DIM)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(lang_code, lang_name)")


def lined_docs(documents: DataFrame, *, chunk_tokens: int = 8,
               shift: int = 100000) -> DataFrame:
    """Deterministic line-structured corpus for exercising line-level
    dedup on the (newline-free) synthetic documents: each doc is rebuilt
    as ``chunk_tokens``-token lines joined by newlines, then unioned
    with an id-``shift``ed copy of itself so EVERY line of the copy is a
    cross-document duplicate.  Shared by the ``dedup_lines`` gate query
    and bench leg (one construction, one shift constant — the DuckDB
    oracle mirrors it with generate_series + string_agg)."""
    from pyspark.sql import functions as F

    from .operators.textstats import chunk_documents

    chunks = chunk_documents(documents, "doc_id", "text",
                             chunk_tokens=chunk_tokens)
    lined = (chunks.groupBy("doc_id")
             .agg(F.array_join(
                 F.sort_array(F.collect_list(
                     F.struct("chunk_id", "chunk_text")))
                 .getField("chunk_text"), "\n").alias("text")))
    return lined.unionByName(
        lined.select((F.col("doc_id") + shift).alias("doc_id"), "text"))
