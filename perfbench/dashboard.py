"""``dashboard_curation``: the dashboard and the curation job on one client.

A fixed, seeded mix run in whole rounds by one client that sends the next
request when the previous one returns (closed loop). Each round runs, in a
seeded order, four NRQL reads over the log table (``run_nrql``: FACET
count, TIMESERIES, LIKE search with LIMIT, percentile FACET), two history
reads (``history_filter``, ``history_metrics``), two history writes
(``upsert_feedback_on_disk``, ``append_history_partitioned``) against a
day-partitioned history table, and one curation pass (``curation.py``).
The first round is set-up; the timed phase stops at the first operation
boundary after ``--seconds`` once every operation type has run.

Traced phase: spans around the ``run_nrql`` call (plan), the action on its
result (exec), each history read and write, and each curation layer.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import curation
import gen
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from harness import Result, p50, tail

LOG_ROWS = 250_000
LOG_DAYS = 7
LOG_FILES = 4            # one scan split per core
HISTORY = 1_000
HISTORY_DAYS = 60
READS = ("facet", "timeseries", "search", "percentile", "history_filter",
         "history_metrics")
WRITES = ("upsert_feedback", "append_history")
OPS = READS + WRITES + ("curation",)
LAYERS = ("nrql_plan", "nrql_exec", "history_read", "history_write")


def _files(path: str) -> dict[str, int]:
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs}


class Dashboard:
    """The tables, the pandas model of what they hold, and the operations."""

    def __init__(self, ctx):
        self.spark, self.t = ctx.spark, ctx.tracer
        self.rng = np.random.default_rng([ctx.seed, 6])
        self.logs_path, self.hist_path = ctx.path("logs"), ctx.path("history")
        self.logs = gen.dashboard_logs(ctx.seed, LOG_ROWS, LOG_DAYS)
        table = pa.table({
            **{c: self.logs[c] for c in self.logs.columns if c != "ts"},
            "ts": pa.array(self.logs.ts, pa.timestamp("us", tz="UTC"))})
        os.makedirs(self.logs_path)
        for i, part in enumerate(np.array_split(np.arange(LOG_ROWS),
                                                LOG_FILES)):
            pq.write_table(table.take(part),
                           os.path.join(self.logs_path, f"part-{i}.parquet"))
        self.log_df = self.spark.read.parquet(self.logs_path)
        rows = gen.history_rows(ctx.seed, HISTORY, HISTORY_DAYS)
        from ai_incident_analyst_spark.operators.rag import (
            append_history_partitioned,
        )
        append_history_partitioned(
            self.spark.createDataFrame(rows, gen.HISTORY_SCHEMA),
            self.hist_path)
        self.hist = pd.DataFrame(
            [r[:4] for r in rows],
            columns=["timestamp", "container_name", "namespace_name", "level"])
        self.feedback: dict[str, tuple[str, str]] = {}
        self.appended = 0
        self.bytes_written: list[int] = []
        self.scan_ops = 0
        self.cur = curation.Curation(ctx)

    # -- NRQL reads -------------------------------------------------------

    def _nrql(self, query: str, op: int):
        from ai_incident_analyst_spark.plans.nrql import run_nrql

        with self._timed():
            with self.t.span("nrql_plan", op):
                df = run_nrql(self.spark, query, {"Log": self.log_df},
                              ts_col="ts")
            with self.t.span("nrql_exec", op):
                rows = df.collect()
        self.scan_ops += 1
        return rows

    def facet(self, op: int) -> list[str]:
        level = str(self.rng.choice(["error", "warn", "info"]))
        col = str(self.rng.choice(["container_name", "namespace_name"]))
        rows = self._nrql(f"SELECT count(*) FROM Log WHERE `level` = "
                          f"'{level}' FACET `{col}`", op)
        want = self.logs[self.logs.level == level].groupby(col).size()
        got = {r[col]: r["count"] for r in rows}
        return [] if got == want.to_dict() else [f"facet {level}/{col}"]

    def timeseries(self, op: int) -> list[str]:
        svc = str(self.rng.choice(gen.SERVICES))
        rows = self._nrql("SELECT count(*) FROM Log WHERE `container_name` = "
                          f"'{svc}' TIMESERIES 1 hour", op)
        sel = self.logs[self.logs.container_name == svc]
        want = (sel.ts // 3_600_000_000).value_counts().to_dict()
        got = {int(r.bucket_start.timestamp()) // 3600: r["count"]
               for r in rows}
        return [] if got == want else [f"timeseries {svc}"]

    def search(self, op: int) -> list[str]:
        word = str(self.rng.choice(gen.SEARCH_WORDS))
        rows = self._nrql("SELECT * FROM Log WHERE `message` LIKE "
                          f"'%{word}%' LIMIT 100", op)
        n = int(self.logs.message.str.contains(word, regex=False).sum())
        ok = len(rows) == min(100, n) and all(word in r.message for r in rows)
        return [] if ok else [f"search {word}"]

    def percentile(self, op: int) -> list[str]:
        p = int(self.rng.choice([50, 90, 95, 99]))
        rows = self._nrql(f"SELECT percentile(duration_ms, {p}) FROM Log "
                          "FACET `container_name`", op)
        want = self.logs.groupby("container_name").duration_ms.quantile(
            p / 100).round(6)
        got = pd.Series({r.container_name: r[f"percentile_duration_ms_{p}"]
                         for r in rows})
        ok = (set(got.index) == set(want.index)
              and np.allclose(got[want.index], want, atol=2e-6))
        return [] if ok else [f"percentile {p}"]

    # -- history reads and writes -----------------------------------------

    def history_filter(self, op: int) -> list[str]:
        from ai_incident_analyst_spark.operators.rag import history_filter

        svc = str(self.rng.choice(gen.SERVICES)).removeprefix("svc-")
        level = str(self.rng.choice(["error", "warn", "info"]))
        with self._timed(), self.t.span("history_read", op):
            rows = history_filter(self.spark.read.parquet(self.hist_path),
                                  service=svc, level=level) \
                .select("timestamp").collect()
        h = self.hist
        want = h[h.container_name.str.contains(svc) & (h.level == level)]
        got = [r.timestamp for r in rows]
        ok = got == sorted(want.timestamp, reverse=True)
        return [] if ok else [f"history_filter {svc}/{level}"]

    def history_metrics(self, op: int) -> list[str]:
        from ai_incident_analyst_spark.operators.rag import history_metrics

        with self._timed(), self.t.span("history_read", op):
            df = self.spark.read.parquet(self.hist_path)
            out = {k: v.collect() for k, v in history_metrics(df).items()}
        df.unpersist()
        h = self.hist
        ok = (sum(r["count"] for r in out["by_day"]) == len(h)
              and {r.level: r["count"] for r in out["by_level"]}
              == h.groupby("level").size().to_dict()
              and {r.container_name: r["count"] for r in out["by_service"]}
              == h.groupby("container_name").size().to_dict())
        return [] if ok else ["history_metrics"]

    def _write(self, op: int, fn, *args) -> None:
        before = _files(self.hist_path)
        with self._timed(), self.t.span("history_write", op):
            fn(*args)
        after = _files(self.hist_path)
        self.bytes_written.append(
            sum(s for f, s in after.items() if f not in before))

    def upsert_feedback(self, op: int) -> list[str]:
        from ai_incident_analyst_spark.operators.rag import (
            upsert_feedback_on_disk,
        )

        ts = str(self.rng.choice(self.hist.timestamp))
        vote = str(self.rng.choice(["up", "down"]))
        self._write(op, upsert_feedback_on_disk, self.spark, self.hist_path,
                    ts, vote, f"op {op}")
        self.feedback[ts] = (vote, f"op {op}")
        return []

    def append_history(self, op: int) -> list[str]:
        from ai_incident_analyst_spark.operators.rag import (
            append_history_partitioned,
        )

        self.appended += 1
        # a second no seeded entry uses: one past the seeded days
        sec = HISTORY_DAYS * 86_400 + self.appended
        iso = pd.Timestamp((gen.T0_MS // 1000 + sec) * 10**9) \
            .strftime("%Y-%m-%dT%H:%M:%SZ")
        row = (iso, "svc-web", "prod", "error",
               [(iso, "error", "svc-web", "timeout after 1 ms", "log",
                 "prod")], [(0, [1.0, 0.0])], f"RCA new {op}", None)
        entry = self.spark.createDataFrame([row], gen.HISTORY_SCHEMA)
        self._write(op, append_history_partitioned, entry, self.hist_path)
        self.hist.loc[len(self.hist)] = [iso, "svc-web", "prod", "error"]
        return []

    def check_table(self) -> list[str]:
        """The stored history matches every write made."""
        rows = self.spark.read.parquet(self.hist_path) \
            .select("timestamp", "feedback").collect()
        fails = []
        if sorted(r.timestamp for r in rows) != sorted(self.hist.timestamp):
            fails.append("history table rows differ from the writes made")
        fb = {r.timestamp: (r.feedback.vote, r.feedback.comment)
              for r in rows if r.feedback is not None}
        if fb != self.feedback:
            fails.append("stored feedback differs from the upserts made")
        return fails

    def curation(self, op: int) -> list[str]:
        with self._timed():
            self.cur.run_pass(op)
        return self.cur.check_pass()

    @contextmanager
    def _timed(self):
        """Time the engine calls of an operation, not its output check."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._op_s += time.perf_counter() - t0

    def run(self, seconds: float, first_op: int,
            min_ops: int = len(OPS)) -> list[tuple[str, float, list[str]]]:
        """Operations in rounds, each round every operation once in a seeded
        order, until ``seconds`` have passed and ``min_ops`` are done."""
        out = []
        t_end = time.perf_counter() + seconds
        while len(out) < min_ops or time.perf_counter() < t_end:
            if len(out) % len(OPS) == 0:
                order = self.rng.permutation(OPS)
            name = str(order[len(out) % len(OPS)])
            self._op_s = 0.0
            fails = getattr(self, name)(first_op + len(out))
            out.append((name, self._op_s, fails))
        return out


def _type_p50(ops, names) -> list[float]:
    return [p50([d for name, d, _ in ops if name == n]) for n in names]


def run(ctx) -> Result:
    dash = Dashboard(ctx)
    warm = dash.run(0, 0)
    setup_s = time.perf_counter() - ctx.t_launch
    phase = ctx.seconds / 2 if ctx.trace else ctx.seconds
    ops = dash.run(phase, len(warm))
    reads = [d for name, d, _ in ops if name in READS]
    tail_s, tail_pct, n = tail(reads)
    pass_p50 = p50([d for name, d, _ in ops if name == "curation"])
    types = _type_p50(ops, OPS)
    # operation types differ tenfold in latency, so a plain median of the
    # mix jumps between types; the geometric mean of per-type medians
    # moves by the same share whichever type changes
    res = Result(setup_s, {
        "op_type_p50_s": float(np.exp(np.mean(np.log(types)))),
        "read_p50_s": p50(reads), "read_tail_s": tail_s,
        "read_type_p50_s": float(np.mean(_type_p50(ops, READS))),
        "write_p50_s": p50([d for name, d, _ in ops if name in WRITES]),
        "pass_p50_s": pass_p50, "docs_per_s": curation.DOCS / pass_p50,
        # the mix of one round at each type's median time: a run that ends
        # inside a round would otherwise weigh its types unevenly
        "ops_per_s": len(OPS) / sum(types)},
        attempted=len(warm) + len(ops),
        failures=[f for _, _, fs in warm + ops for f in fs])
    res.detail = {"log_rows": LOG_ROWS, "history_rows": HISTORY,
                  "docs": curation.DOCS, "ops_timed": len(ops),
                  "read_tail_pct": tail_pct, "read_tail_samples": n}
    if ctx.trace:
        dash.bytes_written.clear()
        dash.scan_ops = 0
        ctx.tracer.enabled = True
        traced = dash.run(ctx.seconds / 2, len(warm) + len(ops))
        ctx.tracer.enabled = False
        res.attempted += len(traced)
        res.failures += [f for _, _, fs in traced for f in fs]
        ratio = (sum(d for _, d, _ in traced) / len(traced)) \
            / (sum(d for _, d, _ in ops) / len(ops))
        res.layers = _layer_metrics(ctx.tracer, dash, ratio)
    res.failures += dash.check_table()
    res.attempted += 1
    return res


def _layer_metrics(tracer, dash: Dashboard, ratio: float) -> dict:
    layers = tracer.layers()
    out = dash.cur.layer_metrics(layers)
    for name in LAYERS:
        d = layers[name]
        for k in ("self_s", "jobs", "cpu_s", "shuffle_mb"):
            out[f"{name}.{k}"] = d[k] / d["spans"]
    ex = layers["nrql_exec"]
    out.update({
        "history_write.bytes_per_op": float(np.mean(dash.bytes_written)),
        "scan.bytes_read_per_op": ex.get("scan_bytes", 0.0) / dash.scan_ops,
        "scan.files_read_per_op": ex.get("scan_files", 0.0) / dash.scan_ops,
        "trace.overhead_frac": ratio - 1,
    })
    return out
