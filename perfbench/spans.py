"""Spans around the calls into each layer, read out from Spark's own stores.

A span tags every Spark job started inside it with ``setJobGroup(span_id)``.
Right after the span closes, its jobs are looked up by that group (never by
diffing global job lists) and summed from the app status store (stage run
CPU and shuffle written); SQL operator metrics come from the SQL status
store, for the executions whose description is the span id.

Spans nest. A span's self time is its duration minus the time its child
spans cover; its jobs are those started while it was the innermost span.
With tracing off, ``span`` does nothing and ``force`` returns its input.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: SQL metric readout: (metric key, text in the plan-node name, metric name)
SQL_METRICS = [
    ("python_rows", "ArrowEvalPython", "number of output rows"),
    ("python_ms", "Python", "time to run Python workers"),
    ("python_ms", "Pandas", "time to run Python workers"),
    ("scan_files", "Scan parquet", "number of files read"),
    ("scan_bytes", "Scan parquet", "size of files read"),
]

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1, "s": 1000, "min": 60_000, "h": 3_600_000}
_VALUE = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"5,000"``, ``"64.2 MiB"``,
    ``"784 ms (176 ms, ...)"`` give 5000, bytes, and milliseconds. A metric
    summed over several tasks carries a ``"total (min, med, max ...)"``
    header line before its values."""
    m = _VALUE.match(text.rsplit("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


@dataclass
class Span:
    layer: str
    op: int
    parent: "Span | None"
    t0: float
    t1: float = 0.0
    child_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    rows: int = 0       # rows of the output ``force`` materialized
    sql: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def dur_s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur_s - self.child_s


class Tracer:
    """Records spans for one run; ``enabled=False`` makes every call free."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, str]] = []
        self._persisted: list = []
        self._n = 0

    @contextmanager
    def span(self, layer: str, op: int):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1][0] if self._stack else None
        self._n += 1
        group = f"{layer}#{self._n}"
        sql_seen = self._sql_store().executionsCount()
        s = Span(layer, op, parent, time.perf_counter())
        self._stack.append((s, group))
        sc.setJobGroup(group, group)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                _, pgroup = self._stack[-1]
                sc.setJobGroup(pgroup, pgroup)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            if parent is not None:
                parent.child_s += s.dur_s
            self._read_stores(s, group, sql_seen)
            self.spans.append(s)

    def force(self, df):
        """Materialize ``df`` inside the current span and return a persisted
        copy, so the layer's work happens here and not in a later span."""
        if not self.enabled:
            return df
        df = df.persist()
        self._stack[-1][0].rows += df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        """Unpersist everything ``force`` kept (call once per operation)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _read_stores(self, s: Span, group: str, sql_seen: int) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                st = store.lastStageAttempt(int(sid))
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                s.stages += 1
                s.cpu_s += st.executorCpuTime() / 1e9
                s.shuffle_bytes += st.shuffleWriteBytes()
        # executions are listed in id order and none are evicted (the run
        # raises the retention limits), so the span's are past ``sql_seen``
        sql = self._sql_store()
        n_new = sql.executionsCount() - sql_seen
        if n_new <= 0:
            return
        new = sql.executionsList(sql_seen, n_new)
        for i in range(new.size()):
            e = new.apply(i)
            if e.description() == group:
                self._read_sql(sql, e.executionId(), s)

    @staticmethod
    def _read_sql(sql, execution_id: int, s: Span) -> None:
        values = sql.executionMetrics(execution_id)
        nodes = sql.planGraph(execution_id).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            name = node.name()
            ms = node.metrics()
            for m in range(ms.size()):
                metric = ms.apply(m)
                for key, part, mname in SQL_METRICS:
                    if part in name and metric.name() == mname:
                        text = values.get(metric.accumulatorId())
                        if text.isDefined():
                            s.sql[key] += parse_metric(text.get())

    def layers(self) -> dict[str, dict[str, float]]:
        """Per-layer sums over every span of that layer."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for s in self.spans:
            d = out[s.layer]
            d["spans"] += 1
            d["self_s"] += s.self_s
            d["jobs"] += s.jobs
            d["stages"] += s.stages
            d["cpu_s"] += s.cpu_s
            d["shuffle_mb"] += s.shuffle_bytes / 2**20
            for k, v in s.sql.items():
                d[k] += v
        return out

    def inclusive(self, layer: str) -> dict[str, float]:
        """Jobs and stages of every span under (and including) ``layer``'s
        spans, summed — e.g. all jobs of one window."""
        tops = {id(s) for s in self.spans if s.layer == layer}
        tot = defaultdict(float)
        for s in self.spans:
            p = s
            while p is not None and id(p) not in tops:
                p = p.parent
            if p is not None:
                tot["jobs"] += s.jobs
                tot["stages"] += s.stages
        return tot
