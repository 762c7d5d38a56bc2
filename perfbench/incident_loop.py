"""``incident_loop``: the paper's product, driven through ``incident_stream``.

One streaming query over the ``logapi`` connector with the benchmark's
seeded transport: one day of logs per micro-batch, fetched, deduplicated,
redacted, embedded, matched against a 1,000-entry prior-incident index,
turned into a prompt for a stub LLM and appended to the history table. A
closed loop with one client: the next window is fetched when the previous
one is done.

The first ``WARM`` windows are set-up. After them, windows are timed for
``--seconds``; then the transport serves only empty windows and the query
is stopped once it reaches one. Per-window latency is the stream's own
``triggerExecution`` time.

Traced phase: the layer functions the loop calls are wrapped, in the loop's
module, by spans that force each layer's output.
"""

from __future__ import annotations

import hashlib
import os
import time
from datetime import datetime

import gen
import numpy as np
import pandas as pd
from harness import Result, p50, tail

ROWS = 2_000          # distinct events per daily window
DUP_PCT = 10          # exact duplicates, as a share of ROWS
INDEX = 1_000         # prior-incident index entries
BATCH = 100           # rows the loop keeps per window (pick_batch)
DIM = 32              # embedding width the loop uses
WARM = 3              # warm-up windows, part of set-up
WINDOW_ROWS = ROWS + int(ROWS * DUP_PCT / 100)
WAIT_S = 60.0          # longest wait for the stream's next progress

LAYERS = ("fetch", "loop", "dedup", "redact", "embed", "pick", "knn", "rag",
          "history_write")


def llm_stub(prompt: str) -> str:
    """Deterministic stand-in for the LLM call."""
    digest = hashlib.md5(prompt.encode()).hexdigest()[:12]
    return f"RCA over {prompt.count(chr(10)) + 1} lines [{digest}]"


def _progress_end_s(p) -> float:
    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
    return start.timestamp() + p.durationMs["triggerExecution"] / 1e3


def _wait(q, cond, timeout_s: float):
    """Poll the query's progress until ``cond(progress)`` holds."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        prog = q.recentProgress
        if cond(prog):
            return prog
        time.sleep(0.02)
    raise TimeoutError("stream made no progress")


class _Spans:
    """Span wrappers installed over the names the loop module calls."""

    NAMES = ("process_incident_batch", "dedup_keep_first", "embed_text",
             "pick_batch", "knn_join", "run_rag_batch",
             "append_history_partitioned")

    def __init__(self, tracer):
        import ai_incident_analyst_spark.streaming.incident_loop as mod

        self.mod, self.tracer = mod, tracer
        self.orig = {n: getattr(mod, n) for n in self.NAMES}
        self.window = -1
        self.want = False    # trace windows that start from now on
        self.stats: dict[int, dict] = {}

    def install(self) -> None:
        for n in self.NAMES:
            setattr(self.mod, n, getattr(self, n))

    def uninstall(self) -> None:
        for n, fn in self.orig.items():
            setattr(self.mod, n, fn)

    def process_incident_batch(self, batch, *a, **kw):
        self.window += 1
        t = self.tracer
        t.enabled = self.want
        if not t.enabled:
            return self.orig["process_incident_batch"](batch, *a, **kw)
        st = self.stats[self.window] = {}
        try:
            with t.span("loop", self.window):
                with t.span("fetch", self.window) as s:
                    batch = t.force(batch)
                st["rows"] = s.rows
                return self.orig["process_incident_batch"](batch, *a, **kw)
        finally:
            t.release()

    def _layer(self, layer: str, name: str, *a, **kw):
        """Call ``name`` in a span of ``layer`` and force its output; the
        row count lands in this window's stats under ``layer``."""
        if not self.tracer.enabled:
            return self.orig[name](*a, **kw)
        with self.tracer.span(layer, self.window) as s:
            out = self.tracer.force(self.orig[name](*a, **kw))
        self.stats[self.window][layer] = s.rows
        return out

    def dedup_keep_first(self, *a, **kw):
        return self._layer("dedup", "dedup_keep_first", *a, **kw)

    def embed_text(self, df, *a, **kw):
        if self.tracer.enabled:
            # the input is the deduplicated rows with the redaction applied
            with self.tracer.span("redact", self.window):
                df = self.tracer.force(df)
        return self._layer("embed", "embed_text", df, *a, **kw)

    def pick_batch(self, *a, **kw):
        return self._layer("pick", "pick_batch", *a, **kw)

    def knn_join(self, *a, **kw):
        return self._layer("knn", "knn_join", *a, **kw)

    def run_rag_batch(self, *a, **kw):
        if not self.tracer.enabled:
            return self.orig["run_rag_batch"](*a, **kw)
        with self.tracer.span("rag", self.window):
            entry, out = self.orig["run_rag_batch"](*a, **kw)
            return self.tracer.force(entry), out

    def append_history_partitioned(self, entry, path, *a, **kw):
        if not self.tracer.enabled:
            return self.orig["append_history_partitioned"](
                entry, path, *a, **kw)
        before = _dir_bytes(path)
        with self.tracer.span("history_write", self.window):
            self.orig["append_history_partitioned"](entry, path, *a, **kw)
        self.stats[self.window]["written"] = _dir_bytes(path) - before


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _expected_window(seed: int, day: int) -> pd.DataFrame:
    """Ground truth for one window: the rows that survive keep-first dedup."""
    df = gen.day_logs(seed, day, ROWS, DUP_PCT)
    return df.drop_duplicates(["message", "timestamp"])


def _check(spark, seed: int, history: str, days: list[int],
           stats: dict) -> list[str]:
    """One history entry per non-empty window, no PII in any stored
    ``batch_logs`` message, the entry holds the ``BATCH`` earliest surviving
    rows, and (traced windows) the surviving row count after dedup."""
    fails = []
    entries: dict[int, list] = {}
    for r in spark.read.parquet(history).select("batch_logs").collect():
        first = datetime.fromisoformat(min(b.timestamp for b in r.batch_logs)
                                       .replace("Z", "+00:00"))
        day = int(first.timestamp() * 1000 - gen.T0_MS) // gen.DAY_MS
        entries.setdefault(day, []).append(r.batch_logs)
    for day in sorted(set(entries) - set(days)):
        fails.append(f"day {day}: history entry for a window never fetched")
    for day in days:
        got = entries.get(day, [])
        if len(got) != 1:
            fails.append(f"day {day}: {len(got)} history entries, want 1")
            continue
        want = _expected_window(seed, day)
        logs = got[0]
        pii = [b.message for b in logs
               if any(p.search(b.message) for p in gen.PII_PATTERNS)]
        # the loop stores ISO timestamps at second resolution
        ts = sorted(b.timestamp for b in logs)
        want_ts = sorted(pd.to_datetime(
            sorted(want.timestamp)[:BATCH], unit="ms")
            .strftime("%Y-%m-%dT%H:%M:%SZ"))
        if pii:
            fails.append(f"day {day}: PII stored: {pii[0]!r}")
        elif ts != want_ts:
            fails.append(f"day {day}: stored rows are not the {BATCH} "
                         "earliest surviving rows")
        elif day in stats and stats[day]["dedup"] != len(want):
            fails.append(f"day {day}: {stats[day]['dedup']} rows "
                         f"survive dedup, want {len(want)}")
    return fails


def run(ctx) -> Result:
    from ai_incident_analyst_spark.operators.embedding import embed_text
    from ai_incident_analyst_spark.streaming.incident_loop import (
        incident_stream,
    )

    spark, tracer = ctx.spark, ctx.tracer
    history, gate, calls = ctx.path("history"), ctx.path("gate"), \
        ctx.path("calls.log")
    corpus = embed_text(
        spark.createDataFrame(gen.prior_incidents(ctx.seed, INDEX)),
        ["message"], dim=DIM).select("hist_id", "embedding").cache()
    corpus.count()

    spans = _Spans(tracer)
    if ctx.trace:
        spans.install()
    opts = {"transport": "gen.log_transport",
            "url": gen.log_url(ctx.seed, ROWS, DUP_PCT, calls, gate),
            "since_ms": str(gen.T0_MS),
            "until_ms": str(gen.T0_MS + 100_000 * gen.DAY_MS),
            "batch_ms": str(gen.DAY_MS)}
    q = incident_stream(spark, opts, corpus, history, ctx.path("ckpt"),
                        llm_stub, dim=DIM).start()
    try:
        _wait(q, lambda p: len(p) >= WARM, WAIT_S)
        t_timed = time.perf_counter()
        setup_s = t_timed - ctx.t_launch
        phase = ctx.seconds / 2 if ctx.trace else ctx.seconds
        while time.perf_counter() < t_timed + phase:
            time.sleep(0.05)
        if ctx.trace:
            _wait(q, lambda p: len(p) > WARM, WAIT_S)  # one untraced window
            spans.want = True
            while time.perf_counter() < t_timed + ctx.seconds:
                time.sleep(0.05)
            _wait(q, lambda p: any("written" in s  # one traced window
                                   for s in spans.stats.values()), WAIT_S)
        # serve nothing from here on; stop once an empty window is done
        spans.want = False
        with open(gate, "w") as f:
            f.write(str(gen.T0_MS))
        prog = _wait(q, lambda p: any(x.numInputRows == 0 for x in p), WAIT_S)
    finally:
        q.stop()
        tracer.enabled = False
        spans.uninstall()

    full = [p for p in prog if p.numInputRows > 0]
    days = [int(p.batchId) for p in full]
    timed = [p for p in full if p.batchId >= WARM]
    traced_days = set(spans.stats)
    fails = _check(spark, ctx.seed, history, days, spans.stats)
    plain = [p for p in timed if p.batchId not in traced_days]
    lat = [p.durationMs["triggerExecution"] / 1e3 for p in plain]
    wall = _progress_end_s(plain[-1]) - _progress_end_s(plain[0]) \
        + lat[0]
    tail_s, tail_pct, n = tail(lat)
    with open(calls) as f:
        served = [line for line in f if int(line.split()[2]) > 0]
    detail = {"path": "incident_stream", "windows_timed": n,
              "batch_s": [round(x, 3) for x in lat],
              "windows_warm": WARM, "rows_per_window": WINDOW_ROWS,
              "batch_tail_pct": tail_pct, "batch_tail_samples": n,
              "calls_per_batch": len(served) / len(full)}
    res = Result(setup_s,
                 {"rows_per_s": WINDOW_ROWS * len(plain) / wall,
                  "batch_p50_s": p50(lat), "batch_tail_s": tail_s},
                 attempted=len(full), failures=fails, detail=detail)
    if ctx.trace:
        res.layers = _layer_metrics(tracer, spans, full, p50(lat),
                                    detail["calls_per_batch"])
    return res


def _layer_metrics(tracer, spans, full, plain_p50: float,
                   calls_per_batch: float) -> dict[str, float]:
    layers = tracer.layers()
    out: dict[str, float] = {}
    for name in LAYERS:
        d = layers.get(name)
        if d:
            n = d["spans"]
            for k in ("self_s", "jobs", "cpu_s", "shuffle_mb"):
                out[f"{name}.{k}"] = d[k] / n
    st = [s for s in spans.stats.values() if s["rows"]]
    n_win = len(st)
    inc = tracer.inclusive("loop")
    traced_lat = [p.durationMs["triggerExecution"] / 1e3 for p in full
                  if p.batchId in spans.stats]
    embed_rows = layers["embed"].get("python_rows", 0.0)
    out.update({
        "fetch.calls_per_batch": calls_per_batch,
        "loop.jobs_per_batch": inc["jobs"] / n_win,
        "loop.stages_per_batch": inc["stages"] / n_win,
        "dedup.dup_frac": 1 - sum(s["dedup"] for s in st)
        / sum(s["rows"] for s in st),
        "embed.rows": embed_rows / n_win,
        "embed.python_s": layers["embed"].get("python_ms", 0.0) / 1e3 / n_win,
        "embed.useful_frac": sum(s["pick"] for s in st) / embed_rows
        if embed_rows else 0.0,
        # the loop's knn_join scores every picked row against the index
        "knn.pairs_scored": INDEX * sum(s["pick"] for s in st) / n_win,
        "knn.python_s": layers["knn"].get("python_ms", 0.0) / 1e3 / n_win,
        "history_write.bytes_per_op": float(np.mean(
            [s["written"] for s in st])),
        "trace.overhead_frac": p50(traced_lat) / plain_p50 - 1,
    })
    return out
