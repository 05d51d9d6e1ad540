"""Benchmark-side tracing: spans around the benchmark's calls into the
library, kept in memory and written when the run ends.

A span records its name, start, end, parent span and run id.  While a
span is open, every Spark job it triggers carries the job description
``span:<id>`` (``SparkContext.setJobDescription``), so the offline reader
(``tracereport.py``) can attribute event-log jobs, stages, tasks and SQL
executions to the span that caused them.  ``Tracer.collect`` also records
the Catalyst phase times of the query it runs.

With tracing off, ``NullTracer`` keeps the same interface and records
nothing, so the untraced run pays no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class NullTracer:
    enabled = False

    def bind(self, spark) -> None:
        pass

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs

    def collect(self, df):
        return df.collect()

    def close(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._patched: list[tuple] = []

    def bind(self, spark) -> None:
        """Tag jobs of ``spark`` from now on (call after every session
        start)."""
        self._sc = spark.sparkContext
        self._tag()

    def _tag(self) -> None:
        if self._sc is not None and self._sc._jsc is not None:  # not stopped
            self._sc.setJobDescription(
                f"span:{self._stack[-1]}" if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag()
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag()

    def collect(self, df):
        rows = df.collect()
        if self._stack:
            attrs = self.spans[self._stack[-1]]["attrs"]
            for phase, ms in catalyst_phases(df).items():
                attrs[f"catalyst_{phase}_ms"] = (
                    attrs.get(f"catalyst_{phase}_ms", 0) + ms)
        return rows

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper until ``close``:
        times calls the library makes between its own modules."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name) as attrs:
                out = original(*args, **kwargs)
                attrs.update(plan_size(out))
                return out

        setattr(module, attr, spanned)
        self._patched.append((module, attr, original))

    def close(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def catalyst_phases(df) -> dict:
    """analysis / optimization / planning milliseconds of ``df``'s query
    (Catalyst's ``QueryPlanningTracker``)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        found = phases.get(phase)
        if found.isDefined():
            out[phase] = found.get().durationMs()
    return out


def plan_size(plan) -> dict:
    """Rule count and expression-text size of a compiled ValidationPlan
    (empty for any other object)."""
    rules = getattr(plan, "rules", None)
    if rules is None:
        return {}
    cols = [plan.violations_column()] + [c for _, c in plan.aux_cols]
    return {"rules": len(rules),
            "plan_text_chars": sum(len(c._jc.toString()) for c in cols)}
