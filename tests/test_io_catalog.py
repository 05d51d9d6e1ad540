"""Table-reference IO (spark_schema_guard/io.py): catalog identifiers go
through the V2 DataFrameWriterV2 / spark.read.table API — the code path
an Iceberg deployment takes (north rule: Iceberg input + Iceberg audit
table).  The sandbox has no Iceberg runtime, so the session catalog's
parquet provider stands in; the engine-side calls are identical.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from spark_schema_guard.io import (append_table, is_catalog_ref, read_table,
                                   table_exists)


def test_ref_classification(tmp_path):
    assert is_catalog_ref("db.audit")
    assert is_catalog_ref("iceberg.prod.web_pages")
    assert is_catalog_ref("audit_v2")
    assert is_catalog_ref("table:weird/name") is True  # explicit override
    assert not is_catalog_ref("path:db.audit")  # explicit override
    assert not is_catalog_ref("/data/audit")
    assert not is_catalog_ref("out/audit")
    assert not is_catalog_ref("./audit")
    assert not is_catalog_ref("s3://bucket/audit")
    assert not is_catalog_ref("a.b.c.d")  # too many parts for cat.db.table
    # ADVICE-r02: classification is a pure function of the string —
    # a bare identifier is a catalog table REGARDLESS of cwd contents
    existing = tmp_path / "localfile"
    existing.write_text("x")
    import os
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        assert is_catalog_ref("localfile")  # never flips with the cwd
        assert not is_catalog_ref("path:localfile")  # explicit opt-out
    finally:
        os.chdir(cwd)
    # data-file extensions read as paths without needing a prefix
    assert not is_catalog_ref("data.parquet")
    assert not is_catalog_ref("events.JSON")
    assert is_catalog_ref("db.audit")  # .audit is not a data extension


def _unique_table():
    return f"ssg_test_{uuid.uuid4().hex[:10]}"


def test_catalog_create_then_append_roundtrip(spark):
    name = _unique_table()
    df = spark.range(5).withColumn("tag", F.lit("a"))
    assert not table_exists(spark, name)
    append_table(df, name)  # creates via writeTo(...).create()
    assert table_exists(spark, name)
    append_table(df.withColumn("tag", F.lit("b")), name)  # appends
    back = read_table(spark, name)
    assert back.count() == 10
    assert back.where(F.col("tag") == "b").count() == 5
    spark.sql(f"DROP TABLE {name}")


def test_path_refs_still_parquet(spark, tmp_path):
    target = str(tmp_path / "out")
    df = spark.range(3)
    append_table(df, target)
    append_table(df, target)
    assert read_table(spark, target).count() == 6
    assert table_exists(spark, target)
    assert not table_exists(spark, str(tmp_path / "missing"))


def test_audited_run_against_catalog_audit_table(spark, tmp_path):
    """Full resumable validation with the audit table living in the
    catalog (the Iceberg shape) instead of a parquet path."""
    import spark_schema_guard as ssg
    from spark_schema_guard.audit import AuditedRun

    data = spark.range(100).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.when(F.col("id") % 10 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("t"), F.col("id"))).alias("text"))
    input_path = str(tmp_path / "pages")
    data.repartition(4).write.parquet(input_path)

    schema = {"type": "object",
              "properties": {"url": {"type": "string"},
                             "text": {"type": "string"}},
              "required": ["url", "text"]}
    plan = ssg.compile_plan(schema, spark.read.parquet(input_path).schema)

    audit_table = _unique_table()
    run1 = AuditedRun(spark, plan, input_path, audit_table, run_id="r1")
    summary1 = run1.run()
    assert summary1["rows"] == 100
    assert summary1["units_validated"] == 4

    # resume: everything already validated -> zero pending units
    run2 = AuditedRun(spark, plan, input_path, audit_table, run_id="r2")
    assert run2.pending_input().count() == 0
    summary2 = run2.run()
    assert summary2["rows"] == 0

    audit = read_table(spark, audit_table)
    assert audit.where(F.col("run_id") == "r1").count() == 4
    assert audit.agg(F.sum("valid_rows")).collect()[0][0] == 90
    spark.sql(f"DROP TABLE {audit_table}")


def test_read_write_orc_round_trip(spark, tmp_path):
    """fmt='orc' must use the ORC reader/writer — the old generic
    fall-through silently read .orc references with the parquet reader."""
    from spark_schema_guard.io import append_table, read_table

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    path = str(tmp_path / "t_orc")
    append_table(df, f"path:{path}", fmt="orc")
    back = read_table(spark, f"path:{path}", fmt="orc")
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]
    # and it is genuinely ORC on disk
    import os
    assert any(f.endswith(".orc") for f in os.listdir(path)), os.listdir(path)
