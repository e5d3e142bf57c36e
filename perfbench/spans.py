"""Spans recorded around calls into the package's layers, and the work
Spark did inside each span, read from Spark's own status store.

A span is (id, name, parent, run, start, end). Spans are kept in memory
and written once when the run ends. Spark work is attributed to the
innermost span open when each stage or SQL execution was submitted, so
per-span counts are *self* counts: work in a child span is the child's.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# SQL metric name -> field of the per-span record
_SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_init_s",
    "written output": "bytes_written",
    "number of written files": "files_written",
    "job commit time": "commit_s",
    "task commit time": "commit_s",
}
_UNITS = {
    "": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40,
}
_VALUE = re.compile(r"\s*([\d.,]+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a rendered SQL metric, e.g. ``'total (min, med, max ...)
    \\n2.3 s (...)'``, ``'1856.8 KiB'`` or ``'2,000'``."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Nested spans on the driver thread, kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(), "end": None, "attrs": attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. reported by Spark)."""
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent, "start": start, "end": end, "attrs": attrs}
        self.spans.append(rec)
        return rec

    def self_times(self) -> None:
        """Annotate every span with its duration and self time (duration
        minus the part its children cover; children are sequential)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["dur_s"]
        for s in self.spans:
            s["self_s"] = max(0.0, s["dur_s"] - child_s.get(s["id"], 0.0))

    def _innermost(self, t_s: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t_s <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best

    def attach_spark_metrics(self, spark) -> None:
        """Read every stage and SQL execution from the status store and
        add its metrics to the innermost span open at its submission."""
        sc = spark.sparkContext
        jvm, gw = sc._jvm, sc._gateway
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        for s in self.spans:
            s["spark"] = {
                "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                "spill_bytes": 0, "input_bytes": 0,
                "task_max_s": 0.0, "task_median_s": 0.0,
                "python_run_s": 0.0, "python_init_s": 0.0,
                "bytes_written": 0.0, "files_written": 0.0, "commit_s": 0.0,
            }
        store = sc._jsc.sc().statusStore()
        quantiles = gw.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stages = as_java(
            store.stageList(None, False, False, gw.new_array(jvm.double, 0), None)
        )
        for st in stages:
            sub = st.submissionTime()
            if not sub.isDefined():
                continue
            span = self._innermost(sub.get().getTime() / 1000.0)
            if span is None:
                continue
            m = span["spark"]
            m["stages"] += 1
            m["tasks"] += st.numTasks()
            m["executor_run_s"] += st.executorRunTime() / 1000.0
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["input_bytes"] += st.inputBytes()
            if st.numTasks() > 1:
                summary = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    m["task_median_s"] += run.apply(0) / 1000.0
                    m["task_max_s"] += run.apply(1) / 1000.0
        sql = spark._jsparkSession.sharedState().statusStore()
        for ex in as_java(sql.executionsList()):
            span = self._innermost(ex.submissionTime() / 1000.0)
            if span is None:
                continue
            values = as_java(sql.executionMetrics(ex.executionId()))
            for pm in as_java(ex.metrics()):
                field = _SQL_METRICS.get(pm.name())
                text = values.get(pm.accumulatorId())
                if field and text:
                    span["spark"][field] += parse_sql_metric(text)

    def layer_table(self) -> list[dict]:
        """Self time and Spark work summed per span name, largest first,
        with each name's share of the traced total."""
        roots = sum(s["dur_s"] for s in self.spans if s["parent"] is None)
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(s["name"], {"layer": s["name"], "calls": 0, "self_s": 0.0,
                                            "shuffle_write_bytes": 0, "python_run_s": 0.0})
            r["calls"] += 1
            r["self_s"] += s["self_s"]
            r["shuffle_write_bytes"] += s["spark"]["shuffle_write_bytes"]
            r["python_run_s"] += s["spark"]["python_run_s"]
        out = sorted(rows.values(), key=lambda r: -r["self_s"])
        for r in out:
            r["self_share"] = r["self_s"] / roots if roots else 0.0
        return out

    def total(self, prefix: str, key: str | None = None) -> float:
        """Sum over spans whose name starts with ``prefix``: their
        duration, or with ``key`` a Spark field (self counts, so
        nested spans under the prefix are included once each)."""
        picked = [s for s in self.spans if s["name"].startswith(prefix)]
        if key is None:
            # outermost matching spans only, so nested matches don't double count
            ids = {s["id"] for s in picked}
            return sum(s["dur_s"] for s in picked if s["parent"] not in ids)
        return sum(s["spark"][key] for s in picked)

    def spark_total(self, key: str) -> float:
        return sum(s["spark"][key] for s in self.spans)
