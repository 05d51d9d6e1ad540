"""Synthetic web table, multimodal plumbing, and audited resumable runs."""

import os
import uuid

import pytest

from pyspark.sql import functions as F

import spark_schema_guard as ssg
from spark_schema_guard.webgen import WEB_PAGE_SCHEMA, languages, web_pages
from spark_schema_guard.operators.multimodal import (
    attach_media_metadata, extract_features, sample_frames,
)
from spark_schema_guard.audit import AuditedRun


def test_web_pages_deterministic_and_seeded(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    web = web_pages(docs)
    a = web.orderBy("doc_id").limit(20).collect()
    b = web_pages(docs).orderBy("doc_id").limit(20).collect()
    assert a == b  # fully deterministic

    n = web.count()
    stats = web.agg(
        F.sum((F.length("text") == 0).cast("long")).alias("empty_text"),
        F.sum((F.col("lang") == "xx").cast("long")).alias("bad_lang"),
        F.sum(F.col("html").isNull().cast("long")).alias("null_html"),
        F.count_distinct("url").alias("urls"),
    ).collect()[0]
    assert 0 < stats["empty_text"] < n * 0.05
    assert 0 < stats["bad_lang"] < n * 0.03
    assert 0 < stats["null_html"] < n * 0.05
    assert stats["urls"] < n  # planted duplicates
    hot = web.where(F.col("url").contains("hot.example.com")).count()
    assert 0.15 < hot / n < 0.25  # hot-domain skew


def test_web_schema_plan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    web = web_pages(docs)
    plan = ssg.compile_plan(WEB_PAGE_SCHEMA, web.schema)
    out = plan.apply(web)
    agg = out.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("verdict").cast("long")).alias("ok")).collect()[0]
    assert 0 < agg["ok"] < agg["n"]
    rules = {r["rule"] for r in
             plan.violation_rows(web, keys=["url"]).select("rule").distinct().collect()}
    assert {"minLength", "enum"} <= rules


def test_multimodal_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    web = web_pages(docs).limit(100)
    with_meta = attach_media_metadata(web, "html", media_type="document")
    metas = with_meta.select("html_meta").where(F.col("html").isNotNull()).collect()
    assert all(m["html_meta"]["size_bytes"] > 0 for m in metas)

    feats = extract_features(web, "doc_id", "html").collect()
    ok = [f for f in feats if f["ok"]]
    bad = [f for f in feats if not f["ok"]]
    assert ok and all(len(f["features"]) == 16 for f in ok)
    assert all(f["error"] == "null payload" for f in bad)

    frames = sample_frames(web, "doc_id", "html", every_n_bytes=64, max_frames=3)
    got = frames.groupBy("doc_id").count().collect()
    assert got and all(1 <= r["count"] <= 3 for r in got)


def test_audited_run_resumes(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    input_path = str(tmp_path / "webpages")
    audit_path = str(tmp_path / "audit")
    web_pages(docs).repartition(4).write.parquet(input_path)

    plan = ssg.compile_plan(WEB_PAGE_SCHEMA,
                            spark.read.parquet(input_path).schema)
    first = AuditedRun(spark, plan, input_path, audit_path, run_id="r1").run()
    assert first["units_validated"] == 4
    total_rows = first["rows"]
    assert total_rows == docs.count()

    # second run: everything checkpointed, nothing re-validated
    second = AuditedRun(spark, plan, input_path, audit_path, run_id="r2").run()
    assert second["units_validated"] == 0
    assert second["rows"] == 0

    audit = spark.read.parquet(audit_path)
    assert audit.where(F.col("run_id") == "r1").count() == 4
    row = audit.where(F.col("run_id") == "r1").limit(1).collect()[0]
    assert row["rule_counts"] is None or all(
        n > 0 for n in row["rule_counts"].values())

    # a new file appears -> only it is validated
    web_pages(docs.limit(50)).write.mode("append").parquet(input_path)
    third = AuditedRun(spark, plan, input_path, audit_path, run_id="r3").run()
    assert third["units_validated"] >= 1
    assert third["rows"] == 50


class _RulesPlan:
    """Plan stand-in whose violations come straight from the data: the
    ``rules`` column lists each row's violated rule ids, NULL ids
    included (no compiled rule emits those)."""

    schema_definition = {"fixture": "rules column"}

    def apply(self, df):
        return (df.withColumn("violations", F.expr(
                    "transform(coalesce(rules, array()), "
                    "r -> named_struct('rule', r, 'message', 'm'))"))
                .withColumn("verdict", F.size("violations") == 0))


_RULE_ROWS = [[], ["a"], ["a", "b"], [None], ["b", None, "b"], None,
              ["c"], [], ["a", "a"]]


def _write_rule_files(spark, path, n_files):
    """Append ``n_files`` parquet files to ``path``, each holding every
    ``_RULE_ROWS`` case once; returns the new file names."""
    rows = spark.createDataFrame(list(enumerate(_RULE_ROWS)),
                                 "id long, rules array<string>").coalesce(1)
    names = []
    for _ in range(n_files):
        before = set(os.listdir(path)) if os.path.isdir(path) else set()
        rows.write.mode("append").parquet(path)
        names += [f for f in set(os.listdir(path)) - before
                  if f.endswith(".parquet")]
    return names


def _old_formula(applied):
    """Per-unit metrics the way the audit computed them before: a count/
    sum groupBy joined to an explode of the invalid rows' rule ids."""
    per_unit = applied.groupBy(F.col("__unit").alias("unit")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("verdict").cast("long")).alias("valid_rows"),
        F.sum(F.size("violations")).alias("violation_count"))
    rule_counts = (
        applied.where(~F.col("verdict"))
        .select(F.col("__unit").alias("unit"),
                F.explode("violations").alias("v"))
        .groupBy("unit", F.coalesce(F.col("v.rule"), F.lit("<none>"))
                 .alias("rule"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("unit")
        .agg(F.map_from_entries(F.collect_list(F.struct("rule", "n")))
             .alias("rule_counts")))
    return {r["unit"]: (r["rows"], r["valid_rows"], r["violation_count"],
                        r["rule_counts"])
            for r in per_unit.join(rule_counts, "unit", "left").collect()}


def test_audit_metrics_match_groupby_explode_formula(spark, tmp_path):
    input_path = str(tmp_path / "in")
    _write_rule_files(spark, input_path, 3)
    # and a file without violations: its rule_counts is NULL
    spark.createDataFrame([(90, []), (91, None)], "id long, rules array<string>") \
        .coalesce(1).write.mode("append").parquet(input_path)
    plan = _RulesPlan()
    want = _old_formula(plan.apply(AuditedRun(
        spark, plan, input_path, str(tmp_path / "unused")).pending_input()))
    assert sorted(str(w[3] and w[3]["<none>"]) for w in want.values()) == [
        "2", "2", "2", "None"]

    summary = AuditedRun(spark, plan, input_path, str(tmp_path / "audit"),
                         run_id="r1").run()
    got = {r["unit"]: (r["rows"], r["valid_rows"], r["violation_count"],
                       r["rule_counts"])
           for r in spark.read.parquet(str(tmp_path / "audit")).collect()}
    assert got == want
    assert summary == {"run_id": "r1", "units_validated": 4,
                       "rows": 3 * len(_RULE_ROWS) + 2,
                       "valid_rows": sum(w[1] for w in want.values())}


def _file_scan_metric(df, name):
    """Metric of the (only) file scan in ``df``'s executed plan; call it
    after an action on the same DataFrame."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    assert leaves.size() == 1
    return leaves.apply(0).metrics().apply(name).value()


def test_resume_scans_only_pending_files(spark, tmp_path):
    input_path = str(tmp_path / "in")
    _write_rule_files(spark, input_path, 4)
    plan = _RulesPlan()
    first = AuditedRun(spark, plan, input_path, str(tmp_path / "audit"),
                       run_id="r1").run()
    assert first["units_validated"] == 4
    added = _write_rule_files(spark, input_path, 1)

    pending = AuditedRun(spark, plan, input_path, str(tmp_path / "audit"),
                         run_id="r2").pending_input().select("__unit")
    units = {r["__unit"] for r in pending.collect()}
    assert [u.rsplit("/", 1)[1] for u in units] == added
    # completed files are pruned from the listing, never opened
    assert _file_scan_metric(pending, "numFiles") == 1
    assert _file_scan_metric(pending, "numOutputRows") == len(_RULE_ROWS)


def _count_jobs(spark, fn):
    sc = spark.sparkContext
    group = f"audit-jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, "count audit jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_audited_run_job_counts(spark, tmp_path):
    """A first run is at most 5 Spark jobs (input schema, violation
    write, the per-unit aggregation's two stages, audit write) and a
    resume adds one collect of the completed units."""
    files = str(tmp_path / "files")
    names = _write_rule_files(spark, files, 4)
    snapshot = tmp_path / "snapshot"
    snapshot.mkdir()
    plan = _RulesPlan()

    def run(run_id):
        return AuditedRun(spark, plan, str(snapshot), str(tmp_path / "audit"),
                          run_id=run_id).run(
            violations_path=str(tmp_path / "violations"))

    for name in names[:3]:
        os.link(os.path.join(files, name), snapshot / name)
    first, first_jobs = _count_jobs(spark, lambda: run("r1"))
    os.link(os.path.join(files, names[3]), snapshot / names[3])
    resume, resume_jobs = _count_jobs(spark, lambda: run("r2"))
    assert (first["units_validated"], resume["units_validated"]) == (3, 1)
    assert first_jobs <= 5, first_jobs
    assert resume_jobs <= 7, resume_jobs


def test_first_run_does_not_read_the_missing_audit_table(spark, tmp_path,
                                                         monkeypatch):
    """Resume asks whether the audit table exists before reading it, so
    a first run makes no failing read; the next run reads it once."""
    import spark_schema_guard.audit as audit

    input_path = str(tmp_path / "in")
    audit_path = str(tmp_path / "audit")
    _write_rule_files(spark, input_path, 1)
    reads = []
    read = audit.read_table

    def recorded(spark, ref, *args, **kwargs):
        reads.append(ref)
        return read(spark, ref, *args, **kwargs)

    monkeypatch.setattr(audit, "read_table", recorded)
    plan = _RulesPlan()
    for run_id, want in (("r1", 1), ("r2", 0)):
        out = AuditedRun(spark, plan, input_path, audit_path,
                         run_id=run_id).run()
        assert out["units_validated"] == want
    assert reads.count(audit_path) == 1, reads


def test_failed_violation_write_appends_no_audit_rows(spark, tmp_path):
    """The violation write runs beside the metrics collect; when it
    fails, run() raises and appends no audit rows, and the next run
    audits every unit exactly once."""
    input_path = str(tmp_path / "in")
    _write_rule_files(spark, input_path, 3)
    audit_path = str(tmp_path / "audit")
    blocked = tmp_path / "violations-file"
    blocked.write_text("a regular file, not a table")
    plan = _RulesPlan()
    with pytest.raises(Exception):
        AuditedRun(spark, plan, input_path, audit_path,
                   run_id="r1").run(violations_path=str(blocked))
    assert not os.path.exists(audit_path)

    again = AuditedRun(spark, plan, input_path, audit_path, run_id="r2").run(
        violations_path=str(tmp_path / "violations"))
    assert again["units_validated"] == 3
    audit = spark.read.parquet(audit_path)
    assert audit.count() == audit.select("unit").distinct().count() == 3
    assert {r["run_id"] for r in audit.collect()} == {"r2"}
    invalid = 3 * sum(1 for rules in _RULE_ROWS if rules)
    assert spark.read.parquet(str(tmp_path / "violations")).count() == invalid


def test_violation_write_jobs_keep_the_callers_job_group(spark, tmp_path):
    """The violation write's jobs run on another thread yet carry the
    caller's job group: a run writing violations has more jobs in the
    group than one that does not, and none outside it."""
    input_path = str(tmp_path / "in")
    _write_rule_files(spark, input_path, 2)
    plan = _RulesPlan()
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    jobs = {}
    for label, violations in (("without", None),
                              ("with", str(tmp_path / "violations"))):
        run = AuditedRun(spark, plan, input_path, str(tmp_path / label))
        out, jobs[label] = _count_jobs(spark, lambda: run.run(violations))
        assert out["units_validated"] == 2
    assert jobs["with"] > jobs["without"], jobs
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_pending_input_py4j_calls_do_not_grow_with_units(spark, tmp_path,
                                                          monkeypatch):
    """The completed-unit filter is one SQL-text expression, so building
    pending_input() against 10,000 completed units makes the same number
    of py4j calls as against 10."""
    import pandas as pd
    from py4j.java_gateway import GatewayClient
    from py4j.protocol import MEMORY_COMMAND_NAME

    from spark_schema_guard.audit import AUDIT_COLUMNS, AUDIT_SCHEMA

    input_path = str(tmp_path / "in")
    _write_rule_files(spark, input_path, 2)
    plan = _RulesPlan()
    calls = {}
    send = GatewayClient.send_command
    for n in (10, 10_000):
        audit = str(tmp_path / f"audit{n}")
        run = AuditedRun(spark, plan, input_path, audit)
        units = [f"file:/nowhere/part-{i}.parquet" for i in range(n)]
        rows = pd.DataFrame({**dict.fromkeys(AUDIT_COLUMNS), "run_id": "old",
                             "unit": units, "schema_hash": run.s_hash})
        spark.createDataFrame(rows, AUDIT_SCHEMA).write.parquet(audit)
        counted = []

        def counting(self, command, *args, **kwargs):
            # releases of garbage-collected JavaObjects follow Python's GC
            # timing (earlier tests' garbage too), not the code under test
            if not command.startswith(MEMORY_COMMAND_NAME):
                counted.append(command)
            return send(self, command, *args, **kwargs)

        monkeypatch.setattr(GatewayClient, "send_command", counting)
        pending = run.pending_input()
        monkeypatch.setattr(GatewayClient, "send_command", send)
        calls[n] = len(counted)
        assert pending.count() == 2 * len(_RULE_ROWS)
    assert calls[10_000] <= calls[10]


def test_by_unit_operators_default_to_the_audit_unit(spark, tmp_path):
    """unit_col=None units by the audit table's work unit: the drift and
    mining operators name the same units an AuditedRun writes over the
    same files (input_file_name() spells local paths file:///, the
    audit table file:/)."""
    from spark_schema_guard.operators import (chi_square_by_unit, ks_by_unit,
                                              psi_by_unit, suggest_by_unit)

    input_path = str(tmp_path / "in")
    for i, rows in enumerate([[("en", 1.0), ("de", 2.0)], [("en", 3.0)]]):
        spark.createDataFrame(rows, "lang string, v double").coalesce(1) \
            .write.mode("append" if i else "error").parquet(input_path)
    plan = ssg.compile_plan({"type": "object"},
                            spark.read.parquet(input_path).schema)
    audit_path = str(tmp_path / "audit")
    AuditedRun(spark, plan, input_path, audit_path, run_id="r1").run()
    audit_units = {r["unit"] for r in spark.read.parquet(audit_path).collect()}
    assert len(audit_units) == 2

    df = spark.read.parquet(input_path)
    for out in (chi_square_by_unit(df, "lang"), psi_by_unit(df, "lang"),
                ks_by_unit(df, "v", grid=[2.0]),
                suggest_by_unit(df, ["lang"])):
        assert {r["unit"] for r in out.collect()} == audit_units


def test_stream_and_batch_share_one_audit_schema(spark, tmp_path):
    """Batch run, then a stream batch, into the same audit table: the
    whole table reads back with one schema and a batch resume still
    skips the completed files."""
    from spark_schema_guard.audit import AUDIT_SCHEMA
    from spark_schema_guard.streaming import stream_to_audit

    input_path = str(tmp_path / "in")
    audit_path = str(tmp_path / "audit")
    _write_rule_files(spark, input_path, 2)
    plan = _RulesPlan()
    assert AuditedRun(spark, plan, input_path, audit_path,
                      run_id="batch1").run()["units_validated"] == 2

    source = spark.readStream.schema(
        spark.read.parquet(input_path).schema).parquet(input_path)
    query = (stream_to_audit(plan.apply(source), audit_path, "stream1")
             .option("checkpointLocation", str(tmp_path / "checkpoint"))
             .trigger(availableNow=True).start())
    query.awaitTermination()

    audit = spark.read.parquet(audit_path)
    assert audit.schema == AUDIT_SCHEMA
    latest, rows = audit.agg(F.max("started_at"), F.sum("rows")).collect()[0]
    assert latest > 0 and rows == 2 * 2 * len(_RULE_ROWS)

    resume = AuditedRun(spark, plan, input_path, audit_path, run_id="batch2")
    assert resume.run()["units_validated"] == 0
    _write_rule_files(spark, input_path, 1)
    assert resume.run()["units_validated"] == 1


def test_languages_dim_fk(spark, sf_dir):
    from spark_schema_guard.operators import orphan_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    web = web_pages(docs)
    orphans = orphan_rows(web, languages(spark), "lang", "lang_code")
    got = {r["lang"] for r in orphans.select("lang").distinct().collect()}
    assert got == {"xx"}


def test_pillow_decode_when_importable(spark):
    """Opt-in real-codec path: skips unless Pillow is installed (it is
    not baked into this container).  With Pillow present, pillow_decode
    rides the same mapInPandas plumbing as the deterministic fake."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from spark_schema_guard.operators.multimodal import (
        FEATURE_DIM, extract_features, pillow_decode)

    buf = io.BytesIO()
    Image.new("L", (8, 8), color=128).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, bytearray(png)), (2, bytearray(b"no"))],
                               "doc_id long, html binary")
    rows = {r["id"]: r for r in
            extract_features(df, "doc_id", "html",
                             decoder=pillow_decode).collect()}
    assert rows[1]["ok"] and len(rows[1]["features"]) == FEATURE_DIM
    assert rows[2]["ok"] is False and rows[2]["error"]


def test_pillow_decode_absent_raises_not_implemented():
    """Without Pillow the decoder raises the honest NotImplementedError
    (driver-side check — no silent fake substitution)."""
    try:
        import PIL  # noqa: F401
        pytest.skip("Pillow installed; the absent-path is not testable")
    except ImportError:
        pass
    from spark_schema_guard.operators.multimodal import pillow_decode
    with pytest.raises(NotImplementedError, match="Pillow"):
        pillow_decode(b"\x89PNG")
