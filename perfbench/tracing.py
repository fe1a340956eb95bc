"""Traced-run instruments: spans, attribute wrappers and Spark's own counters.

Spans are recorded around the benchmark's calls into each layer and, through
wrappers installed here, around the library functions other library code
calls (each wrapper sits on the attribute the caller looks up).  Spark
counters come from the job group set around each request.  Nothing here is
active in an untraced run: the runner only builds a Tracer for
``--trace 1``.
"""

from __future__ import annotations

import functools
import importlib
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from harness import PACKAGE

#: (module, owner attribute or None, function, span name) — library functions
#: that library code calls internally, so only a wrapper sees them
WRAPPED = [
    ("operators.clustering", None, "merge_clusters", "merge.merge_clusters"),
    ("plans.query", "InvertedIndex", "score_matches", "query.score_matches"),
    ("plans.query", "InvertedIndex", "df_of", "query.df_of"),
]

_PY_METRICS = {
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """'8.4 s', '1633.7 KiB' or 'total (min, med, max ...)\\n8.4 s (...)'."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.search(line)
    if m is None or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rid: int = 0


@dataclass
class RequestRecord:
    rid: int
    kind: str
    span: int
    counters: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.requests: list[RequestRecord] = []
        self.counts: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self._rid = 0
        self._installed: list[tuple[object, str, object]] = []
        self._sql_seen = 0
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.status_store = self.sc._jsc.sc().statusStore()

    # --- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, rid=self._rid)
        )
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def request(self, rid: int, kind: str):
        self._rid = rid
        self.sc.setJobGroup(f"perfbench-{rid}", kind, False)
        try:
            with self.span(f"request.{kind}") as idx:
                rec = RequestRecord(rid, kind, idx)
                yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.requests.append(rec)

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(float(value))

    # --- wrappers ------------------------------------------------------------

    def install(self) -> None:
        for module, owner_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(f"{PACKAGE}.{module}")
            owner = getattr(mod, owner_name) if owner_name else mod
            original = getattr(owner, attr)
            setattr(owner, attr, self._wrap(original, span_name))
            self._installed.append((owner, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._installed):
            setattr(owner, attr, original)
        self._installed.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "merge.merge_clusters":
                tracer.count("merge.candidates", len(args[0]))
                tracer.count("merge.clusters", len(out))
            return out

        return wrapper

    # --- Spark counters ------------------------------------------------------

    def _drain_listener_bus(self) -> None:
        bus = self.sc._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty()
        except Exception:
            bus.waitUntilEmpty(10_000)

    def read_counters(self, rec: RequestRecord, wall_s: float) -> None:
        """Jobs, tasks, executor run time, shuffle, spill, Python SQL metrics
        and driver time (wall minus the union of the request's job intervals)."""
        self._drain_listener_bus()
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(f"perfbench-{rec.rid}"))
        c = dict.fromkeys(
            ("jobs", "tasks", "task_ms", "shuffle_bytes", "spill_bytes",
             "run_ms", "bytes_sent", "bytes_received"),
            0.0,
        )
        c["jobs"] = float(len(job_ids))
        intervals = []
        for j in job_ids:
            info = tracker.getJobInfo(j)
            job = self.status_store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            for s in list(info.stageIds) if info else []:
                st = self.status_store.lastStageAttempt(s)
                if st.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["task_ms"] += st.executorRunTime()
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["driver_ms"] = max(0.0, wall_s * 1000.0 - _union_ms(intervals))
        self._python_metrics(set(job_ids), c)
        rec.counters = c

    def _python_metrics(self, job_ids: set[int], c: dict) -> None:
        store = self.sql_store
        total = store.executionsCount()
        if total <= self._sql_seen:
            return
        it = store.executionsList(self._sql_seen, total - self._sql_seen).iterator()
        self._sql_seen = total
        while it.hasNext():
            ex = it.next()
            jobs = {int(x) for x in ex.jobs().keys().mkString(",").split(",") if x}
            if not jobs & job_ids:
                continue
            names = {}
            mit = ex.metrics().iterator()
            while mit.hasNext():
                pm = mit.next()
                if pm.name() in _PY_METRICS:
                    names[pm.accumulatorId()] = _PY_METRICS[pm.name()]
            if not names:
                continue
            vit = store.executionMetrics(ex.executionId()).iterator()
            while vit.hasNext():
                kv = vit.next()
                key = names.get(kv._1())
                if key is not None:
                    c[key] += parse_sql_metric(kv._2())

    # --- reduction -----------------------------------------------------------

    def self_times(self, rids: set[int] | None = None) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's (ms),
        optionally only for the spans of the given requests."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            if rids is None or s.rid in rids:
                out.setdefault(s.name, []).append((s.end - s.start - child[i]) * 1000.0)
        return out

    def dump(self) -> dict:
        return {
            "spans": [
                {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "request": s.rid}
                for s in self.spans
            ],
            "requests": [{"request": r.rid, "kind": r.kind, "counters": r.counters} for r in self.requests],
        }


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)
