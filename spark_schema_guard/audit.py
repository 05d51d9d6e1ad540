"""Checkpointed, resumable validation runs with a per-unit audit table
(SURVEY.md §2.7, north-rule requirement).

Unit of work = input file (:func:`unit_column`: ``_metadata.file_path``
when the source exposes it, ``input_file_name()`` as fallback — an empty
unit raises rather than silently collapsing all rows into one resumable
''): stable across retries and cluster sizes, unlike partition ids.  The
``*_by_unit`` drift and mining operators default to the same unit.  A run:

1. prunes completed files: the audit table's completed units for this
   schema hash are collected to the driver and the input is filtered by
   ``NOT (__unit IN (...))``, which Spark applies to the file listing —
   completed files are never opened (resume = skip everything already
   validated);
2. validates the remaining files in two scans that run at the same
   time: the violation-row write starts on a background thread that
   inherits the caller's job group and description, while the calling
   thread collects the per-file metrics (rows, valid, violations,
   per-rule counts) of a single grouping;
3. waits for the write (re-raising its error), then appends the per-file
   metric rows + lineage (run id, schema hash, wall time) to the audit
   table, last, as one file shipped through Arrow.

Every location (input, audit, violations) is a table reference
(``io.py``): a parquet path locally, or a catalog identifier such as
``iceberg.prod.audit`` on a cluster — catalog refs go through the V2
``writeTo(...).append()`` API, so on Iceberg each audit append is one
atomic snapshot commit and resume-after-crash sees only whole units.

Crash mid-run ⇒ files whose metrics were not appended are re-validated on
the next run; completed files are never recomputed.  Violation rows are
plain appends that finish before the audit rows start (overlapping the
metrics collect does not change that order; a failed write appends no
audit rows), so a crash between the two leaves violation rows for units
the next run validates again.
"""

from __future__ import annotations

import hashlib
import json
import time

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_schema_guard.columnar.varsql import sqlstr
from spark_schema_guard.io import append_table, read_table, table_exists

# The one audit-table schema: AuditedRun and streaming.stream_to_audit
# both write it, and resume reads with it (int ``started_at`` files from
# older runs widen to bigint on read).
AUDIT_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("unit", T.StringType()),
    T.StructField("schema_hash", T.StringType()),
    T.StructField("rows", T.LongType()),
    T.StructField("valid_rows", T.LongType()),
    T.StructField("violation_count", T.LongType()),
    T.StructField("rule_counts", T.MapType(T.StringType(), T.LongType())),
    T.StructField("started_at", T.LongType()),
    T.StructField("finished_at", T.LongType()),
    T.StructField("wall_ms", T.LongType()),
])
AUDIT_COLUMNS = AUDIT_SCHEMA.fieldNames()


def schema_hash(definition) -> str:
    return hashlib.sha256(
        json.dumps(definition, sort_keys=True).encode()).hexdigest()[:16]


def _completed_units(spark: SparkSession, audit_path: str,
                     s_hash: str) -> list[str]:
    # an existence probe, not a failed read: converting the missing
    # table's AnalysisException costs more than the probe
    if not table_exists(spark, audit_path):
        return []
    audit = read_table(spark, audit_path, schema=AUDIT_SCHEMA)
    rows = audit.where(F.col("schema_hash") == s_hash).select("unit").collect()
    return sorted({r["unit"] for r in rows})


def unit_column(df: DataFrame) -> Column:
    """The work unit of each row: its underlying data file.

    Prefers the source's hidden metadata column (``_metadata.file_path``
    — defined for file sources and Iceberg/DSv2 scans);
    ``input_file_name()`` is only the fallback, because DSv2 scans
    commonly return '' from it and it spells local paths ``file:///…``
    where the metadata column (and so the audit table) has ``file:/…``.
    An EMPTY unit fails LOUDLY at evaluation time: if '' ever reached
    the audit table, the next resume's filter would silently skip ALL
    new data — the exact inversion of the crash-consistency contract."""
    try:
        df.select(F.col("_metadata.file_path"))
        raw = F.col("_metadata.file_path")
    except Exception:
        raw = F.input_file_name()
    return F.when(F.length(raw) > 0, raw).otherwise(F.raise_error(F.lit(
        "audit unit is empty: this source exposes neither "
        "_metadata.file_path nor input_file_name(); resume would silently "
        "skip data — pass a file-backed input or a catalog table with "
        "file metadata")))


def _start(fn, *args) -> InheritableThread:
    """Run ``fn(*args)`` on a thread that inherits the caller's Spark
    local properties (job group, job description), so its jobs stay
    attributed to the caller.  The thread's ``errors`` holds what ``fn``
    raised."""
    errors: list[BaseException] = []

    def target():
        try:
            fn(*args)
        except BaseException as exc:
            errors.append(exc)

    thread = InheritableThread(target=target)
    thread.errors = errors
    thread.start()
    return thread


class AuditedRun:
    """One resumable validation pass of a plan over a file-backed input."""

    def __init__(self, spark: SparkSession, plan, input_path: str,
                 audit_path: str, run_id: str | None = None):
        self.spark = spark
        self.plan = plan
        self.input_path = input_path
        self.audit_path = audit_path
        self.run_id = run_id or f"run-{int(time.time())}"
        self.s_hash = schema_hash(plan.schema_definition)

    def pending_input(self) -> DataFrame:
        df = read_table(self.spark, self.input_path)
        df = df.withColumn("__unit", unit_column(df))
        done = _completed_units(self.spark, self.audit_path, self.s_hash)
        if done:
            # One SQL-text predicate (Column.isin costs a py4j call per
            # unit).  Units come from the audit table's stored values,
            # which are _metadata.file_path strings, so Spark evaluates
            # the filter against the file listing and never opens a
            # completed file.
            df = df.where(F.expr(
                f"NOT (__unit IN ({', '.join(map(sqlstr, done))}))"))
        return df

    def run(self, violations_path: str | None = None) -> dict:
        """Validate all pending units; append audit metrics; return summary."""
        started = time.time()
        pending = self.pending_input()
        applied = self.plan.apply(pending)

        writer = None
        if violations_path:
            violation_rows = (
                applied.where(~F.col("verdict"))
                .select("__unit", "violations", *[c for c in pending.columns
                                                  if c != "__unit"]))
            # the write and the collect below are independent actions:
            # run them at the same time
            writer = _start(append_table, violation_rows, violations_path)

        # One grouping per (unit, rule).  posexplode_outer yields pos NULL
        # for a row without violations and 0..k-1 for a row with k, so
        # pos NULL or 0 counts input rows once; verdict is false on every
        # exploded row of an invalid row, so its sum counts valid rows.
        try:
            per_rule = (
                applied.select(F.col("__unit").alias("unit"), "verdict",
                               F.posexplode_outer("violations.rule")
                               .alias("pos", "rule"))
                .groupBy("unit", "rule")
                .agg(F.count_if(F.coalesce("pos", F.lit(0)) == 0)
                     .alias("rows"),
                     F.sum(F.col("verdict").cast("long")).alias("valid_rows"),
                     F.count("pos").alias("n"))
                .collect())
        finally:
            # no write is in flight when run() returns or raises
            if writer is not None:
                writer.join()
        if writer is not None and writer.errors:
            raise writer.errors[0]
        units: dict[str, dict] = {}
        for r in per_rule:
            u = units.setdefault(r["unit"], {
                "rows": 0, "valid_rows": 0, "violation_count": 0,
                "rule_counts": {}})
            u["rows"] += r["rows"]
            u["valid_rows"] += r["valid_rows"] or 0
            u["violation_count"] += r["n"]
            if r["n"]:
                rule = "<none>" if r["rule"] is None else r["rule"]
                u["rule_counts"][rule] = u["rule_counts"].get(rule, 0) + r["n"]

        if units:
            import pandas as pd

            finished = time.time()
            lineage = {"run_id": self.run_id, "schema_hash": self.s_hash,
                       "started_at": int(started),
                       "finished_at": int(finished),
                       "wall_ms": int((finished - started) * 1000)}
            rows = pd.DataFrame(
                [{**lineage, **m, "unit": unit,
                  "rule_counts": m["rule_counts"] or None}
                 for unit, m in sorted(units.items())],
                columns=AUDIT_COLUMNS)
            # audit rows last, as one Arrow-shipped file
            append_table(
                self.spark.createDataFrame(rows, AUDIT_SCHEMA).coalesce(1),
                self.audit_path)
        return {
            "run_id": self.run_id,
            "units_validated": len(units),
            "rows": sum(u["rows"] for u in units.values()),
            "valid_rows": sum(u["valid_rows"] for u in units.values()),
        }
