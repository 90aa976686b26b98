"""Spans around the calls into each engine layer, plus the Spark work
each span caused.

A span records name, start, end, parent and operation id, and keeps them
in memory; :meth:`Tracer.finish` attaches Spark counters and the caller
writes everything out once at exit. When tracing is off, :meth:`span`
returns a shared no-op context, so an untraced run pays one attribute
lookup per call site.

Spark work is attributed through job groups: entering a span sets the
thread's job group to the span's id, leaving it restores the parent's.
At the end, ``statusTracker`` maps each group to its jobs and stages, the
UI REST ``/stages`` endpoint gives each stage's task counters, and
``/sql?details=true`` gives each SQL execution's file-scan bytes and the
Python-boundary metrics of its Python exec nodes. The UI is needed for those two endpoints;
the runner enables it through ``SPARK_GRAFT_UI`` in traced runs only.

Engine APIs are lazy, so every span the workloads open ends at a
materializing action (a write, ``collect``, ``count`` or an eager
checkpoint): a span's duration is then the time its layer kept the
operation waiting.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request
from collections import defaultdict

_NOOP = contextlib.nullcontext()

# SQL metric display names → counter names: the Python exec nodes'
# PythonSQLMetrics, and the file scans' bytes (the stages' own inputBytes
# stays near zero for local parquet reads, so it is not used)
_SQL_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_total_s",
    "data sent to Python workers": "python_bytes_sent",
    "size of files read": "input_bytes",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"([0-9.]+)\s*([A-Za-z]+)")


def sql_metric_value(text: str) -> float:
    """Total of one SQL metric as the UI renders it: either ``"9.7 s"`` or
    ``"total (min, med, max (stageId: taskId))\\n9.7 s (...)"``."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "counts", "spark")

    def __init__(self, sid, name, parent, op):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start = self.end = 0.0
        self.counts: dict[str, float] = {}
        self.spark: dict[str, float] = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "op": self.op, "start": self.start, "end": self.end,
            "counts": self.counts, "spark": self.spark,
        }


class Tracer:
    """Collects spans for one run. ``enabled`` may be toggled between
    operations (traced and untraced operations alternate in a traced run,
    which measures the tracing overhead)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def set_op(self, op: int | None) -> None:
        self._op = op

    def span(self, name: str):
        if not self.enabled:
            return _NOOP
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self._op)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def count(self, name: str, value: float) -> None:
        """Record a count on the innermost open span (no-op when off)."""
        if self.enabled and self._stack:
            self._stack[-1].counts[name] = value

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"span-{s.id}", s.name)

    # -- after the run -----------------------------------------------------

    def finish(self, spark) -> None:
        """Attach Spark counters to every span: jobs, tasks, shuffle-write
        bytes and executor CPU of its stages, and the file-scan bytes and
        Python-boundary metrics of the SQL executions whose jobs ran inside
        the span."""
        if not self.spans:
            return
        time.sleep(1.0)  # let the UI's listener catch up with the last jobs
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        job_span: dict[int, Span] = {}
        stage_span: dict[int, Span] = {}
        for s in self.spans:
            for jid in tracker.getJobIdsForGroup(f"span-{s.id}"):
                job_span[jid] = s
                info = tracker.getJobInfo(jid)
                if info is not None:
                    for sid in info.stageIds:
                        stage_span.setdefault(int(sid), s)
                s.spark["jobs"] = s.spark.get("jobs", 0) + 1
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        for st in _get_json(f"{base}/stages"):
            s = stage_span.get(st["stageId"])
            if s is None:
                continue
            for key, src, scale in (
                ("tasks", "numCompleteTasks", 1),
                ("shuffle_write_bytes", "shuffleWriteBytes", 1),
                ("executor_cpu_s", "executorCpuTime", 1e-9),
            ):
                s.spark[key] = s.spark.get(key, 0) + (st.get(src) or 0) * scale
        for ex in _get_json(f"{base}/sql?details=true&planDescription=false&length=100000"):
            jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            owner = next((job_span[j] for j in sorted(jobs) if j in job_span), None)
            if owner is None:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = _SQL_METRICS.get(m.get("name"))
                    if key:
                        owner.spark[key] = owner.spark.get(key, 0) + sql_metric_value(m["value"])

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.id: s.dur - child[s.id] for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [{**s.as_dict(), "self": selfs[s.id]} for s in self.spans]},
                f,
            )


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())
