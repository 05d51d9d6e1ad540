"""The four benchmark workloads, their seeded inputs and their output checks.

Every workload has the same shape:

* ``setup(ctx)``  - generate the inputs from ``ctx.seed`` and compile what
  the passes need (timed as ``setup_s``);
* ``run_pass(ctx)`` - one timed pass; returns its seconds and checks its
  outputs against the first pass's;
* ``check(ctx)`` - the independent oracle (DuckDB over the same parquet,
  or rowcheck on the driver), run once after timing.

Sizes are fixed so that every seed gives the same amount of work; the
seed only moves the generated values (``doc_id`` offset, words, languages,
the order in which audited files arrive, the JSON payload mix).
"""

from __future__ import annotations

import collections
import glob
import json
import os
import random
import shutil
import time

from pyspark.sql import functions as F

import spark_schema_guard as ssg
from spark_schema_guard import webgen
from spark_schema_guard.audit import AuditedRun
from spark_schema_guard.jsoncol import validate_json_column
from spark_schema_guard.operators import (
    column_profile, ks_drift, referential_report, uniqueness_report,
)
from spark_schema_guard.operators.drift import contingency

import oracle
from spans import plan_size

VOCAB = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango "
         "uniform victor whiskey xray yankee zulu crawl page index token "
         "schema guard spark table column record batch stream shard").split()
LANGS = [code for code, _ in webgen.LANGUAGES_DIM]


def drifted():
    """The source partition webgen shifts in time and language mix."""
    return F.col("source") == "src3"


def documents(spark, rows: int, seed: int, files: int):
    """Seeded ``documents(doc_id, text, lang, source, n_chars)`` in
    ``files`` partitions.  The seed offsets ``doc_id``, so the planted
    violations of ``webgen.web_pages`` land on other rows."""
    idx = F.col("id")

    def pick(values, salt):
        # one literal split on the JVM: far fewer py4j calls than an
        # array of literals, so set-up time is spent in Spark, not py4j
        arr = F.split(F.lit(" ".join(values)), " ")
        h = F.xxhash64(idx, F.lit(seed), F.lit(salt))
        return F.element_at(arr, (F.pmod(h, F.lit(len(values))) + 1).cast("int"))

    text = F.concat_ws(" ", *[pick(VOCAB, f"w{i}") for i in range(8)])
    return spark.range(rows, numPartitions=files).select(
        (idx + F.lit(seed * 1_000_003)).alias("doc_id"),
        text.alias("text"),
        pick(LANGS, "lang").alias("lang"),
        F.concat(F.lit("src"), F.pmod(idx, F.lit(8)).cast("string")).alias("source"),
        F.length(text).alias("n_chars"))


def write_web(ctx, path: str, rows: int, files: int):
    with ctx.tracer.span("webgen.generate"):
        webgen.web_pages(documents(ctx.spark, rows, ctx.seed, files)) \
            .write.mode("overwrite").parquet(path)
    return ctx.spark.read.parquet(path)


def compile_web_plan(ctx, df):
    with ctx.tracer.span("compile.plan") as attrs:
        plan = ssg.compile_plan(webgen.WEB_PAGE_SCHEMA, df.schema)
        if ctx.tracer.enabled:
            attrs.update(plan_size(plan))
    return plan


def web_doc(row) -> dict:
    """A web-table row as the JSON document rowcheck validates (absent
    keys for NULLs, RFC 3339 timestamps)."""
    doc = {"url": row["url"], "text": row["text"], "lang": row["lang"],
           "warc_ts": (row["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
                       if row["warc_ts"] is not None else None)}
    return {k: v for k, v in doc.items() if v is not None}


def web_rows(ctx, applied):
    """Every invalid row and ~1/250 of the valid ones, with the verdict
    and the rules each row violated, in one job."""
    pick = (~F.col("verdict")
            | (F.pmod(F.xxhash64("doc_id", F.lit(ctx.seed)), F.lit(250)) == 0))
    return applied.where(pick).select(
        "url", "warc_ts", "text", "lang", "verdict",
        F.col("violations.rule").alias("rules")).collect()


def rowcheck_web_rows(ctx, rows, name):
    """Driver-side rowcheck over collected rows; its verdicts must equal
    the Spark engine's."""
    with ctx.tracer.span("rowcheck.compile"):
        validator = ssg.compile(webgen.WEB_PAGE_SCHEMA, fast_fail=False)
    docs = [web_doc(r) for r in rows]
    with ctx.tracer.span("rowcheck.sample", rows=len(docs)):
        mine = [not validator.collect(d) for d in docs]
    bad = sum(a != r["verdict"] for a, r in zip(mine, rows))
    ctx.checks.expect(f"{name}: rowcheck verdicts on {len(rows)} collected rows",
                      bad == 0, f"{bad} differ")


def same(a, b, rel=1e-9) -> bool:
    """Equality of nested results, floats within ``rel``."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= rel * max(abs(a), abs(b), 1.0)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k], rel) for k in a)
    return a == b


class Workload:
    name = ""
    rows = 0          # input rows of one pass, the base of rows_per_s

    def __init__(self):
        self.first = {}   # op name -> first pass's result
        self.subtimes = {}

    def record(self, ctx, op: str, result) -> None:
        """Count one operation; it passes when it equals the first
        pass's result (the oracle checks that one)."""
        if op not in self.first:
            self.first[op] = result
        ctx.checks.expect(f"{op} repeatable", same(result, self.first[op]),
                          f"{result!r} != {self.first[op]!r}")

    def timed(self, label: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.subtimes.setdefault(label, []).append(time.perf_counter() - t0)
        return out


class ValidateScan(Workload):
    """Typed web table, plan compiled once in set-up; each pass forces
    verdicts and violation arrays.  Zero Exchange: per-row predicate
    evaluation under whole-stage codegen does the data work."""

    name = "validate_scan"
    rows = 120_000
    files = 4

    def setup(self, ctx):
        self.path = os.path.join(ctx.data, "web")
        self.web = write_web(ctx, self.path, self.rows, self.files)
        self.plan = compile_web_plan(ctx, self.web)

    def run_pass(self, ctx):
        with ctx.tracer.span("columnar.apply"):
            row = self.timed("validate", lambda: ctx.tracer.collect(
                self.plan.apply(self.web).agg(
                    F.count(F.lit(1)), F.sum(F.col("verdict").cast("long")),
                    F.sum(F.size("violations"))))[0])
        self.record(ctx, "validate", tuple(row))
        return self.subtimes["validate"][-1]

    def check(self, ctx):
        rows, valid, violations = self.first["validate"]
        sample = web_rows(ctx, self.plan.apply(self.web))
        per_rule = dict(collections.Counter(
            rule for r in sample for rule in r["rules"]))
        want = oracle.web_rule_counts(ctx.duck, self.path)
        ctx.checks.expect("validate_scan: rows", rows == want["rows"],
                          f"{rows} != {want['rows']}")
        ctx.checks.expect("validate_scan: invalid rows",
                          rows - valid == want["invalid"],
                          f"{rows - valid} != {want['invalid']}")
        collected = sum(not r["verdict"] for r in sample)
        ctx.checks.expect("validate_scan: invalid rows collected",
                          collected == want["invalid"],
                          f"{collected} != {want['invalid']}")
        ctx.checks.expect("validate_scan: per-rule counts",
                          per_rule == want["rules"],
                          f"{per_rule} != {want['rules']}")
        ctx.checks.expect("validate_scan: violation total",
                          violations == sum(want["rules"].values()),
                          f"{violations} != {sum(want['rules'].values())}")
        rowcheck_web_rows(ctx, sample, self.name)


class AuditedResume(Workload):
    """``AuditedRun`` over a multi-file snapshot, from a fresh audit table
    each pass: first run over 3/4 of the files (with violation rows), then
    a resume after the last 1/4 arrives."""

    name = "audited_resume"
    rows = 32_000
    files = 4

    def setup(self, ctx):
        self.src = os.path.join(ctx.data, "all")
        write_web(ctx, self.src, self.rows, self.files)
        self.plan = compile_web_plan(
            ctx, ctx.spark.read.parquet(self.src))
        names = sorted(os.path.basename(p)
                       for p in glob.glob(os.path.join(self.src, "*.parquet")))
        random.Random(ctx.seed).shuffle(names)
        cut = len(names) * 3 // 4
        self.batches = (names[:cut], names[cut:])
        self.cycle = 0
        self.summaries = []

    def _arrive(self, snap, names):
        for name in names:
            os.link(os.path.join(self.src, name), os.path.join(snap, name))

    def run_pass(self, ctx):
        self.cycle += 1
        base = os.path.join(ctx.data, f"cycle{self.cycle}")
        snap = os.path.join(base, "snapshot")
        os.makedirs(snap)
        self._arrive(snap, self.batches[0])
        runs = [self.audited(ctx, base, "audit_first_s")]
        self._arrive(snap, self.batches[1])
        runs.append(self.audited(ctx, base, "resume_s"))
        elapsed = sum(self.subtimes[k][-1] for k in ("audit_first_s", "resume_s"))
        summary = [(r["units_validated"], r["rows"], r["valid_rows"])
                   for r in runs]
        self.record(ctx, "audit cycle", summary)
        if self.summaries:
            # keep only the newest cycle's outputs for the oracle
            shutil.rmtree(self.summaries[-1][0])
        self.summaries.append((base, summary))
        return elapsed

    def audited(self, ctx, base, label):
        run = AuditedRun(ctx.spark, self.plan, os.path.join(base, "snapshot"),
                         os.path.join(base, "audit"),
                         run_id=f"c{self.cycle}-{label}")
        with ctx.tracer.span("audit.run", label=label) as attrs:
            out = self.timed(label, lambda: run.run(
                violations_path=os.path.join(base, "violations")))
            attrs.update(units=out["units_validated"], rows=out["rows"])
        return out

    def check(self, ctx):
        base, summary = self.summaries[-1]
        per_file = oracle.web_file_counts(ctx.duck, self.src)
        for (units, rows, valid), names, label in zip(
                summary, self.batches, ("first", "resume")):
            want_rows = sum(per_file[n][0] for n in names)
            want_valid = want_rows - sum(per_file[n][1] for n in names)
            ctx.checks.expect(
                f"audited_resume: {label} units/rows/valid",
                (units, rows, valid) == (len(names), want_rows, want_valid),
                f"{(units, rows, valid)} != "
                f"{(len(names), want_rows, want_valid)}")
        got = oracle.audit_outputs(ctx.duck, os.path.join(base, "audit"),
                                   os.path.join(base, "violations"))
        total_rows = sum(r for r, _ in per_file.values())
        invalid = sum(i for _, i in per_file.values())
        ctx.checks.expect("audited_resume: every unit audited exactly once",
                          got["units"] == got["distinct_units"] == self.files,
                          f"{got['units']} rows, {got['distinct_units']} "
                          f"distinct, {self.files} files")
        ctx.checks.expect("audited_resume: audited rows = snapshot rows",
                          got["rows"] == total_rows,
                          f"{got['rows']} != {total_rows}")
        ctx.checks.expect("audited_resume: violation rows = invalid rows, "
                          "no duplicates",
                          got["violation_rows"] == got["violation_ids"]
                          == invalid,
                          f"{got['violation_rows']} rows, "
                          f"{got['violation_ids']} ids, {invalid} invalid")
        applied = self.plan.apply(ctx.spark.read.parquet(self.src))
        rowcheck_web_rows(ctx, web_rows(ctx, applied), self.name)


class TableConstraints(Workload):
    """Table operators on the web table: salted uniqueness over the 20%
    hot domain, referential check against the languages dimension,
    grid-KS drift, column profile.  Shuffle, aggregation and join; no
    validation plan."""

    name = "table_constraints"
    rows = 32_000
    files = 4
    grid = 64
    # rowcheck over a sample of the table's rows; off when another part
    # of the same workload already samples the same files
    sample_rows = True

    def setup(self, ctx, path=None):
        """Generate the web table, or reuse the one at ``path``."""
        self.path = path or os.path.join(ctx.data, "web")
        if path:
            self.web = ctx.spark.read.parquet(path)
        else:
            self.web = write_web(ctx, self.path, self.rows, self.files)
        self.langs = webgen.languages(ctx.spark)

    def ops(self):
        web = self.web
        return {
            "uniqueness": lambda: uniqueness_report(web, "url", salted=True),
            "referential": lambda: referential_report(
                web, self.langs, "lang", "lang_code"),
            "ks_grid": lambda: ks_drift(
                web.select(F.unix_timestamp("warc_ts").cast("double").alias("e"),
                           drifted().alias("g")),
                "e", "g", mode="grid", grid_size=self.grid),
            "profile": lambda: column_profile(web, ["url", "text", "lang"]),
        }

    def run_pass(self, ctx):
        elapsed = 0.0
        for op, build in self.ops().items():
            with ctx.tracer.span(op):
                rows = self.timed(op, lambda: ctx.tracer.collect(build()))
            elapsed += self.subtimes[op][-1]
            self.record(ctx, op, [r.asDict() for r in rows])
        return elapsed

    def check(self, ctx):
        want = oracle.table_constraints(ctx.duck, self.path)
        first = {op: rows[0] for op, rows in self.first.items()}
        ctx.checks.expect("table_constraints: uniqueness",
                          first["uniqueness"] == want["uniqueness"],
                          f"{first['uniqueness']} != {want['uniqueness']}")
        ctx.checks.expect("table_constraints: referential",
                          first["referential"] == want["referential"],
                          f"{first['referential']} != {want['referential']}")
        cells = {(r["bucket"], r["value"]): r["n"] for r in contingency(
            self.web, "lang", drifted()).collect()}
        ctx.checks.expect("table_constraints: contingency cells",
                          cells == want["contingency"],
                          f"{len(cells)} cells vs {len(want['contingency'])}")
        ks, exact = first["ks_grid"], want["ks"]
        # the grid statistic samples the exact CDF gap at <= grid points
        # placed by a rank sketch: it may miss at most about two grid cells
        ok = ((ks["n_left"], ks["n_right"]) == (exact["n_left"], exact["n_right"])
              and -1e-9 <= exact["statistic"] - ks["statistic"] <= 2.0 / self.grid)
        ctx.checks.expect("table_constraints: grid KS within the exact KS",
                          ok, f"{ks} vs exact {exact}")
        profile = {r["column"]: r for r in self.first["profile"]}
        for col, w in want["profile"].items():
            got = profile[col]
            ok = ((got["count"], got["nulls"], got["min"], got["max"])
                  == (w["count"], w["nulls"], w["min"], w["max"])
                  and abs(got["distinct"] - w["distinct"]) <= 0.15 * w["distinct"])
            ctx.checks.expect(f"table_constraints: profile of {col}", ok,
                              f"{got} vs {w}")
        if not self.sample_rows:
            return
        # the table's planted invalid rows: columnar plan and rowcheck agree
        plan = compile_web_plan(ctx, self.web)
        rowcheck_web_rows(ctx, web_rows(ctx, plan.apply(self.web)), self.name)


FLAT_SCHEMA = {
    "type": "object",
    "required": ["k", "kind"],
    "properties": {
        "k": {"type": "integer", "minimum": 0, "maximum": 80},
        "kind": {"enum": ["view", "click", "buy"]},
        "score": {"type": "number", "minimum": 0},
        "tags": {"type": "array", "items": {"type": "string", "minLength": 1},
                 "maxItems": 3},
    },
    "additionalProperties": False,
}

TREE_SCHEMA = {
    "definitions": {"node": {
        "type": "object",
        "required": ["v"],
        "properties": {
            "v": {"type": "integer", "minimum": 0},
            "tag": {"type": "string", "maxLength": 6},
            "next": {"$ref": "#/definitions/node"},
        },
    }},
    "$ref": "#/definitions/node",
}


# a row's share of a fingerprint: doc_id scrambled modulo a prime, in
# long arithmetic that cannot overflow (Spark's ANSI mode would raise)
PRIME, SCRAMBLE = (1 << 31) - 1, 1_103_515_245


def fingerprint(doc_id: int) -> int:
    return (doc_id % PRIME) * SCRAMBLE % PRIME


def json_table(spark, rows: int, seed: int, files: int):
    """``(doc_id, props, tree)``: a flat event payload and a linked node
    chain 1-3 deep, both as JSON text, with planted violations (out of
    range, wrong type, unknown enum, undeclared key, missing key)."""
    idx = F.col("id")

    def h(salt, mod):
        return F.pmod(F.xxhash64(idx, F.lit(seed), F.lit(salt)), F.lit(mod))

    k = h("k", 90).cast("string")
    k = F.when(h("ks", 37) == 0, F.concat(F.lit('"'), k, F.lit('"'))).otherwise(k)
    kind = F.element_at(F.array(*[F.lit(x) for x in
                                  ["view", "click", "buy", "view", "click", "oops"]]),
                        (h("kind", 6) + 1).cast("int"))
    tags = F.concat_ws(", ", *[F.when(h(f"t{i}", 4) > i, F.concat(
        F.lit('"'), F.when(h(f"te{i}", 29) == 0, F.lit("")).otherwise(
            F.lit(f"t{i}")), F.lit('"'))) for i in range(4)])
    extra = F.when(h("x", 31) == 0, F.lit(', "extra": 1')).otherwise(F.lit(""))
    kind_kv = F.when(h("nok", 23) == 0, F.lit("")).otherwise(
        F.concat(F.lit(', "kind": "'), kind, F.lit('"')))
    props = F.concat(F.lit('{"k": '), k, kind_kv,
                     F.lit(', "score": '), (h("s", 1000) / 10).cast("string"),
                     F.lit(', "tags": ['), tags, F.lit("]"), extra, F.lit("}"))

    def node(level, inner):
        v = (h(f"v{level}", 50) - F.lit(2)).cast("string")
        tag = F.element_at(F.array(F.lit("a"), F.lit("bb"), F.lit("toolongtag")),
                           (F.when(h(f"g{level}", 19) == 0, 3)
                            .otherwise(h(f"g2{level}", 2) + 1)).cast("int"))
        body = F.concat(F.lit('{"v": '), v, F.lit(', "tag": "'), tag, F.lit('"'))
        if inner is None:
            return F.concat(body, F.lit("}"))
        return F.when(h("depth", 3) >= level,
                      F.concat(body, F.lit(', "next": '), inner, F.lit("}"))) \
            .otherwise(F.concat(body, F.lit("}")))

    tree = node(1, node(2, node(3, None)))
    return spark.range(rows, numPartitions=files).select(
        (idx + F.lit(seed * 1_000_003)).alias("doc_id"),
        props.alias("props"), tree.alias("tree"))


class JsonDynamic(Workload):
    """A JSON string column validated by both engines: columnar (variant
    SQL, JVM) and python (Arrow pandas UDF over rowcheck), with a flat
    schema and a recursive ``$ref`` one.  The plan is compiled inside
    every pass, as ``validate_json_column`` does.  A pass times the
    recursive schema on the columnar engine (compile and Catalyst heavy)
    and the flat one on the python engine."""

    name = "json_dynamic"
    rows = 10_000
    files = 4
    schemas = {"flat": ("props", FLAT_SCHEMA), "tree": ("tree", TREE_SCHEMA)}
    timed_cases = (("tree", "columnar"), ("flat", "python"))

    def setup(self, ctx):
        self.path = os.path.join(ctx.data, "json")
        with ctx.tracer.span("webgen.generate"):
            json_table(ctx.spark, self.rows, ctx.seed, self.files) \
                .write.mode("overwrite").parquet(self.path)
        self.df = ctx.spark.read.parquet(self.path)

    @staticmethod
    def verdicts(verdict: str):
        """Valid rows and a fingerprint of the invalid ones: equal
        fingerprints mean the same rows failed (up to a hash collision)."""
        return [F.sum(F.col(verdict).cast("long")),
                F.sum(F.when(~F.col(verdict), F.pmod(
                    F.pmod("doc_id", F.lit(PRIME)) * SCRAMBLE, F.lit(PRIME)))
                      .otherwise(0))]

    def run_pass(self, ctx):
        elapsed = 0.0
        for label, engine in self.timed_cases:
            column, schema = self.schemas[label]
            op = f"{label}/{engine}"
            with ctx.tracer.span(f"jsoncol.{engine}", schema=label):
                row = self.timed(op, lambda: ctx.tracer.collect(
                    validate_json_column(self.df, column, schema,
                                         engine=engine).agg(
                        *self.verdicts("verdict"),
                        F.sum(F.size("violations"))))[0])
            elapsed += self.subtimes[op][-1]
            self.record(ctx, op, tuple(row))
        return elapsed

    def check(self, ctx):
        """Each timed query's verdicts against rowcheck run on the driver
        over every document, the validator the python engine runs in its
        UDF: equal (valid count, fingerprint) pairs mean the same rows
        failed.  On the tree schema that compares the two engines."""
        for label, engine in self.timed_cases:
            column, schema = self.schemas[label]
            valid, fp, _ = self.first[f"{label}/{engine}"]
            validator = ssg.compile(schema, fast_fail=False)
            got = [0, 0]
            for doc_id, text in ctx.duck.execute(
                    f"SELECT doc_id, {column} FROM {oracle.parquet(self.path)}"
            ).fetchall():
                if validator.collect(json.loads(text)):
                    got[1] += fingerprint(doc_id)
                else:
                    got[0] += 1
            ctx.checks.expect(
                f"json_dynamic: {label} verdicts of {engine} and rowcheck "
                "equal on every row",
                (valid, fp) == tuple(got) and valid < self.rows,
                f"{engine} (valid, fingerprint) {(valid, fp)}, rowcheck "
                f"{tuple(got)}, {self.rows} rows")


class Composite(Workload):
    """Member workloads run back to back: one set-up, one pass and one
    check each, on one session."""

    parts: tuple = ()

    def __init__(self):
        super().__init__()
        self.members = [cls() for cls in self.parts]
        for member in self.members:
            member.subtimes = self.subtimes

    def setup(self, ctx):
        for member in self.members:
            member.setup(ctx)

    def run_pass(self, ctx):
        return sum(member.run_pass(ctx) for member in self.members)

    def check(self, ctx):
        for member in self.members:
            member.check(ctx)


class RowValidation(Composite):
    """Row-level validation engines: the typed scan, then the JSON column
    under both engines.  Per-row evaluation, compile and Catalyst."""

    name = "row_validation"
    parts = (ValidateScan, JsonDynamic)
    rows = ValidateScan.rows + JsonDynamic.rows


class TablePipeline(Composite):
    """Table-level work on one multi-file snapshot: the audited resume
    cycle, then the table operators over the same files.  Writes, file
    listing, shuffles, joins and per-job overhead."""

    name = "table_pipeline"
    parts = (AuditedResume, TableConstraints)
    rows = AuditedResume.rows + AuditedResume.rows

    def setup(self, ctx):
        audited, table = self.members
        audited.setup(ctx)
        table.setup(ctx, path=audited.src)
        table.sample_rows = False


WORKLOADS = {w.name: w for w in
             (RowValidation, TablePipeline, ValidateScan, AuditedResume,
              TableConstraints, JsonDynamic)}
