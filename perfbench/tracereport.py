"""Offline reader for a traced benchmark run: turns the Spark event log
plus the benchmark's spans into the per-layer metrics.

    python3 perfbench/tracereport.py .perfbench-work/traces/<run>

A trace directory holds ``spans.json`` (written by ``spans.Tracer``),
``meta.json`` (workload, input rows, traced and untraced ``run_s``) and
``eventlog/`` (``spark.eventLog.dir`` of the traced session).  Jobs are
attributed to spans by their job description ``span:<id>``; stages,
tasks and SQL executions follow their job.  Metrics of timed passes are
computed per pass (a ``pass`` span and everything under it) and reported
as the median over passes; the warm-up pass is left out.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import re
import statistics
import sys

# (name, unit) of every per-layer metric, in report order
PER_LAYER = [
    ("session.start_s", "s"),
    ("webgen.generate_s", "s"),
    ("compile.plan_s", "s"),
    ("compile.rules", "count"),
    ("compile.plan_text_chars", "chars"),
    ("rowcheck.compile_s", "s"),
    ("rowcheck.rows_per_s", "1/s"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.executor_run_ms", "ms"),
    ("exec.executor_cpu_ms", "ms"),
    ("exec.cpu_ns_per_row", "ns"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.gc_ms", "ms"),
    ("exec.spill_bytes", "bytes"),
    ("exec.scan_rows_per_input_row", "ratio"),
    ("jsoncol.python_udf_ms", "ms"),
    ("jsoncol.arrow_bytes_to_python", "bytes"),
    ("jsoncol.arrow_bytes_from_python", "bytes"),
    ("audit.jobs_per_pass", "count"),
    ("audit.units_pending", "count"),
    ("audit.scan_rows_per_pending_row", "ratio"),
    ("io.bytes_written", "bytes"),
    ("io.records_written", "count"),
    ("io.files_written", "count"),
    ("uniqueness.shuffle_write_bytes", "bytes"),
    ("uniqueness.shuffle_records", "count"),
    ("uniqueness.task_skew", "ratio"),
    ("referential.broadcast_joins", "count"),
    ("referential.sort_merge_joins", "count"),
    ("drift.jobs", "count"),
    ("drift.scan_rows_per_input_row", "ratio"),
    ("stats.jobs", "count"),
    ("stats.shuffle_write_bytes", "bytes"),
    ("trace.overhead_s", "s"),
]

# printed, not in the JSON line: zero on every workload without a Python UDF
REPORT_ONLY = {"jsoncol.python_udf_ms"}

_WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, directory: str):
        self.job_span: dict[int, int | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.tasks: dict[int, list[dict]] = collections.defaultdict(list)
        self.exec_span: dict[int, int | None] = {}
        self.exec_nodes: dict[int, collections.Counter] = {}
        self.write_accums: dict[int, tuple[int, str]] = {}
        self.exec_writes = collections.defaultdict(collections.Counter)
        for event in self._events(directory):
            kind = event["Event"].rsplit(".", 1)[-1]
            handler = getattr(self, f"_on_{kind}", None)
            if handler:
                handler(event)

    @staticmethod
    def _events(directory):
        def order(path):
            m = re.search(r"events_(\d+)_", os.path.basename(path))
            return int(m.group(1)) if m else 0

        for path in sorted(glob.glob(os.path.join(directory, "**", "events_*"),
                                     recursive=True), key=order):
            with open(path) as fh:
                for line in fh:
                    yield json.loads(line)

    @staticmethod
    def _span_of(description):
        m = re.match(r"span:(\d+)", description or "")
        return int(m.group(1)) if m else None

    def _on_SparkListenerJobStart(self, e):
        props = e.get("Properties") or {}
        self.job_span[e["Job ID"]] = self._span_of(props.get("spark.job.description"))
        self.job_stages[e["Job ID"]] = e["Stage IDs"]

    def _on_SparkListenerTaskEnd(self, e):
        m = e.get("Task Metrics")
        if not m:
            return
        info = e["Task Info"]
        sql = collections.Counter()
        for acc in info.get("Accumulables", []):
            if not acc["Name"].startswith("internal.") and isinstance(
                    acc.get("Update"), (int, float, str)):
                try:
                    sql[acc["Name"]] += float(acc["Update"])
                except ValueError:
                    pass
        shuffle_read = m["Shuffle Read Metrics"]
        self.tasks[e["Stage ID"]].append({
            "run_ms": m["Executor Run Time"],
            "cpu_ns": m["Executor CPU Time"],
            "gc_ms": m["JVM GC Time"],
            "spill": m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
            "in_rows": m["Input Metrics"]["Records Read"],
            "sw_bytes": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
            "sw_rows": m["Shuffle Write Metrics"]["Shuffle Records Written"],
            "reduce": (shuffle_read["Local Blocks Fetched"]
                       + shuffle_read["Remote Blocks Fetched"]) > 0,
            "duration_ms": info["Finish Time"] - info["Launch Time"],
            "sql": sql,
        })

    def _plan(self, exec_id, info):
        nodes = collections.Counter()

        def walk(node):
            nodes[node["nodeName"]] += 1
            if node["nodeName"].startswith(_WRITE_NODE):
                for metric in node.get("metrics", []):
                    self.write_accums[metric["accumulatorId"]] = (
                        exec_id, metric["name"])
            for child in node.get("children", []):
                walk(child)

        walk(info)
        self.exec_nodes[exec_id] = nodes  # the last (final adaptive) plan wins

    def _on_SparkListenerSQLExecutionStart(self, e):
        self.exec_span[e["executionId"]] = self._span_of(e.get("description"))
        self._plan(e["executionId"], e["sparkPlanInfo"])

    def _on_SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        self._plan(e["executionId"], e["sparkPlanInfo"])

    def _on_SparkListenerDriverAccumUpdates(self, e):
        for acc_id, value in e["accumUpdates"]:
            if acc_id in self.write_accums:
                exec_id, name = self.write_accums[acc_id]
                self.exec_writes[exec_id][name] += value


class Trace:
    def __init__(self, directory: str):
        with open(os.path.join(directory, "spans.json")) as fh:
            self.spans = json.load(fh)
        with open(os.path.join(directory, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.log = EventLog(os.path.join(directory, "eventlog"))
        self.children = collections.defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])

    def dur(self, s) -> float:
        return s["end"] - s["start"]

    def subtree(self, sid) -> set:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(self.children[cur])
        return out

    def named(self, name, within=None):
        return [s for s in self.spans if s["name"] == name
                and (within is None or s["id"] in within)]

    def passes(self):
        return [s for s in self.named("pass") if not s["attrs"].get("warmup")]

    # -- event-log aggregation over a set of spans ---------------------------

    def jobs(self, ids):
        return [j for j, sid in self.log.job_span.items() if sid in ids]

    def stages(self, ids) -> set:
        return {st for j in self.jobs(ids) for st in self.log.job_stages[j]}

    def tasks(self, ids):
        return [t for st in self.stages(ids) for t in self.log.tasks.get(st, [])]

    def execs(self, ids):
        return [x for x, sid in self.log.exec_span.items() if sid in ids]

    def within(self, pass_ids, *names):
        ids = set()
        for name in names:
            for s in self.named(name, pass_ids):
                ids |= self.subtree(s["id"])
        return ids

    # -- metrics ---------------------------------------------------------------

    def per_pass(self, ids) -> dict:
        rows = self.meta["rows"]
        tasks = self.tasks(ids)
        total = lambda key, ts=tasks: sum(t[key] for t in ts)
        sql = lambda name, ts=tasks: sum(t["sql"][name] for t in ts)
        spans = [self.spans[i] for i in ids]
        catalyst = lambda phase: sum(s["attrs"].get(f"catalyst_{phase}_ms", 0)
                                     for s in spans)
        m = {
            "catalyst.analysis_ms": catalyst("analysis"),
            "catalyst.optimization_ms": catalyst("optimization"),
            "catalyst.planning_ms": catalyst("planning"),
            "exec.executor_run_ms": total("run_ms"),
            "exec.executor_cpu_ms": total("cpu_ns") / 1e6,
            "exec.cpu_ns_per_row": total("cpu_ns") / rows,
            "exec.jobs": len(self.jobs(ids)),
            "exec.stages": sum(1 for st in self.stages(ids) if self.log.tasks.get(st)),
            "exec.tasks": len(tasks),
            "exec.gc_ms": total("gc_ms"),
            "exec.spill_bytes": total("spill"),
            "exec.scan_rows_per_input_row": total("in_rows") / rows,
            "jsoncol.python_udf_ms": sql("time to run Python workers"),
            "jsoncol.arrow_bytes_to_python": sql("data sent to Python workers"),
            "jsoncol.arrow_bytes_from_python":
                sql("data returned from Python workers"),
        }

        audit = self.named("audit.run", ids)
        audit_ids = self.within(ids, "audit.run")
        pending_rows = sum(s["attrs"].get("rows", 0) for s in audit)
        writes = collections.Counter()
        for x in self.execs(audit_ids):
            writes.update(self.log.exec_writes.get(x, {}))
        m.update({
            "audit.jobs_per_pass": _median(
                len(self.jobs(self.subtree(s["id"]))) for s in audit),
            "audit.units_pending": sum(s["attrs"].get("units", 0) for s in audit),
            "audit.scan_rows_per_pending_row": (
                total("in_rows", self.tasks(audit_ids)) / pending_rows
                if pending_rows else 0.0),
            "io.bytes_written": writes["written output"],
            "io.records_written": writes["number of output rows"],
            "io.files_written": writes["number of written files"],
        })

        uniq_ids = self.within(ids, "uniqueness")
        uniq = self.tasks(uniq_ids)
        # max / median task time of each reduce stage, worst stage
        skews = []
        for ts in self._reduce_stages(uniq_ids):
            durations = [t["duration_ms"] for t in ts]
            if statistics.median(durations) > 0:
                skews.append(max(durations) / statistics.median(durations))
        ref_nodes = collections.Counter()
        for x in self.execs(self.within(ids, "referential")):
            ref_nodes.update(self.log.exec_nodes.get(x, {}))
        drift_ids = self.within(ids, "ks_grid")
        stats_ids = self.within(ids, "profile")
        m.update({
            "uniqueness.shuffle_write_bytes": total("sw_bytes", uniq),
            "uniqueness.shuffle_records": total("sw_rows", uniq),
            "uniqueness.task_skew": max(skews, default=0.0),
            "referential.broadcast_joins": ref_nodes["BroadcastHashJoin"],
            "referential.sort_merge_joins": ref_nodes["SortMergeJoin"],
            "drift.jobs": len(self.jobs(drift_ids)),
            "drift.scan_rows_per_input_row":
                total("in_rows", self.tasks(drift_ids)) / rows,
            "stats.jobs": len(self.jobs(stats_ids)),
            "stats.shuffle_write_bytes": total("sw_bytes", self.tasks(stats_ids)),
        })
        return m

    def _reduce_stages(self, ids) -> list[list[dict]]:
        found = ([t for t in self.log.tasks.get(st, []) if t["reduce"]]
                 for st in self.stages(ids))
        return [ts for ts in found if ts]

    def compile_sizes(self) -> tuple:
        """Rules and plan text of the plans one pass compiles, or of the
        set-up plan when passes compile nothing."""
        compiles = [s for s in self.named("compile.plan") if "rules" in s["attrs"]]
        in_pass = []
        for p in self.passes():
            sub = self.subtree(p["id"])
            found = [s for s in compiles if s["id"] in sub]
            if found:
                in_pass = found
        chosen = in_pass or compiles[-1:]
        return (sum(s["attrs"]["rules"] for s in chosen),
                sum(s["attrs"]["plan_text_chars"] for s in chosen))

    def metrics(self) -> dict:
        passes = [self.per_pass(self.subtree(p["id"])) for p in self.passes()]
        out = {name: _median(p[name] for p in passes) for name in passes[0]}
        rules, chars = self.compile_sizes()
        samples = self.named("rowcheck.sample")
        sample_s = sum(self.dur(s) for s in samples)
        out.update({
            "session.start_s": self.dur(self.named("session.start")[0]),
            "webgen.generate_s": _median(self.dur(s)
                                         for s in self.named("webgen.generate")),
            "compile.plan_s": _median(self.dur(s)
                                      for s in self.named("compile.plan")),
            "compile.rules": rules,
            "compile.plan_text_chars": chars,
            "rowcheck.compile_s": _median(self.dur(s)
                                          for s in self.named("rowcheck.compile")),
            "rowcheck.rows_per_s": (sum(s["attrs"]["rows"] for s in samples)
                                    / sample_s if sample_s else 0.0),
            "trace.overhead_s": (self.meta["traced_run_s"]
                                 - self.meta["untraced_run_s"]),
        })
        return {name: out[name] for name, _ in PER_LAYER}

    def span_table(self) -> list[tuple]:
        """name, calls, total s, self s (minus child spans), own jobs."""
        agg = collections.OrderedDict()
        for s in self.spans:
            child = sum(self.dur(self.spans[c]) for c in self.children[s["id"]])
            row = agg.setdefault(s["name"], [0, 0.0, 0.0, 0])
            row[0] += 1
            row[1] += self.dur(s)
            row[2] += self.dur(s) - child
            row[3] += len(self.jobs({s["id"]}))
        return [(name, *row) for name, row in agg.items()]


def format_report(trace: Trace, metrics: dict) -> str:
    lines = [f"per-layer metrics, {trace.meta['workload']} "
             f"(median over {len(trace.passes())} traced passes)"]
    units = dict(PER_LAYER)
    for name, value in metrics.items():
        lines.append(f"  {name:34s} {value:>16.4f} {units[name]}")
    lines.append("spans: name, calls, total s, self s, own jobs")
    for name, calls, total, self_s, jobs in trace.span_table():
        lines.append(f"  {name:34s} {calls:5d} {total:10.3f} {self_s:10.3f} {jobs:6d}")
    return "\n".join(lines)


def main(argv=None) -> int:
    args = argv if argv is not None else sys.argv[1:]
    if len(args) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    trace = Trace(args[0])
    metrics = trace.metrics()
    print(format_report(trace, metrics))
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
