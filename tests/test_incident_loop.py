"""Streaming incident loop (streaming/incident_loop.py): the reference's
repeated-run main loop as one foreachBatch job over the logapi stream
reader, with the checkpoint-restart incremental==batch identity."""

import json
import re
import time

import pytest
from pyspark.sql import functions as F

import ai_incident_analyst_spark.streaming.incident_loop as loop
from ai_incident_analyst_spark.operators.embedding import embed_text
from ai_incident_analyst_spark.streaming.incident_loop import (
    LoopInvariants,
    incident_stream,
    process_incident_batch,
)

T0 = 1753437600000  # 2025-07-25T10:00:00Z
HOUR = 3_600_000


def _rows():
    """Three 1-hour fetch windows; window 2 is empty (the loop must skip
    it); one exact duplicate row in window 0 (dedup keep-first)."""
    rows = [
        {"timestamp": T0 + 60_000, "level": "error",
         "container_name": "svc-db", "message": "db timeout for a@b.com",
         "event": "e", "namespace_name": "ns"},
        {"timestamp": T0 + 60_000, "level": "error",
         "container_name": "svc-db", "message": "db timeout for a@b.com",
         "event": "e", "namespace_name": "ns"},          # exact dup
        {"timestamp": T0 + 120_000, "level": "error",
         "container_name": "svc-oom", "message": "OOM killed worker 7",
         "event": "e", "namespace_name": "ns"},
        # window 1 (skipping window 2 entirely)
        {"timestamp": T0 + HOUR + 60_000, "level": "error",
         "container_name": "svc-disk", "message": "disk full on node 3",
         "event": "e", "namespace_name": "ns"},
        # window 3
        {"timestamp": T0 + 3 * HOUR + 60_000, "level": "error",
         "container_name": "svc-net", "message": "conn reset by peer",
         "event": "e", "namespace_name": "ns"},
    ]
    return rows


def _corpus(spark):
    return embed_text(
        spark.createDataFrame(
            [(100, "db timeout for [REDACTED_EMAIL]"),
             (101, "disk full on ingest node"),
             (102, "OOM killed worker 3")],
            "hist_id long, message string"),
        ["message"], dim=32).select("hist_id", "embedding")


def _offset_ms(text):
    """Epoch ms of a progress offset (``"{'ts': ...}"``; ``"None"`` before
    the first batch, i.e. the stream's ``since_ms``)."""
    m = re.search(r"\d+", text or "")
    return int(m.group()) if m else T0


def _entry_key(r):
    return (r.timestamp, r.container_name, r.llm_output,
            tuple(sorted((b.timestamp, b.message) for b in r.batch_logs)),
            tuple(sorted(s.hist_id for s in r.similar_logs)))


def test_incident_loop_restart_equals_batch_replay(spark, tmp_path):
    fixture = str(tmp_path / "fixture.json")
    with open(fixture, "w") as f:
        json.dump(_rows(), f)
    corpus = _corpus(spark)

    def llm(prompt):
        return f"RCA for {prompt.count(']')} lines"

    opts = {"fixture_path": fixture, "since_ms": str(T0),
            "until_ms": str(T0 + 4 * HOUR), "batch_ms": str(HOUR)}
    hist = str(tmp_path / "history")
    ckpt = str(tmp_path / "ckpt")

    def n_entry_markers():
        import os
        d = str(tmp_path / "ckpt" / "history_markers")
        if not os.path.isdir(d):
            return 0
        return sum(1 for m in os.listdir(d)
                   if open(os.path.join(d, m)).read() == "entry")

    def drain(min_entries, deadline_s=120):
        q = incident_stream(spark, opts, corpus, hist, ckpt, llm).start()
        try:
            deadline = time.time() + deadline_s
            while time.time() < deadline:
                # poll the sink-side batch markers, not the parquet: a
                # marker means our append finished, so stopping here
                # exercises the replay-idempotence path, not a data race
                if n_entry_markers() >= min_entries:
                    break
                time.sleep(1)
        finally:
            q.stop()

    # run 1: stop after the first non-empty window landed (mid-stream kill)
    drain(1)
    assert spark.read.parquet(hist).count() >= 1
    # run 2: same checkpoint resumes at the next unprocessed window and
    # drains the rest — 3 non-empty windows → 3 entries, no duplicates
    drain(3)
    got = spark.read.parquet(hist).collect()
    assert len(got) == 3

    # batch replay: per-window batch-mode fetch through the SAME function
    from ai_incident_analyst_spark.sources.logapi import LogApiDataSource
    spark.dataSource.register(LogApiDataSource)
    hist2 = str(tmp_path / "history_batch")
    prior = LoopInvariants(corpus)
    for w in range(4):
        batch = (spark.read.format("logapi")
                 .option("fixture_path", fixture)
                 .option("since_ms", T0 + w * HOUR)
                 .option("until_ms", T0 + (w + 1) * HOUR)
                 .load())
        process_incident_batch(batch, prior, llm, hist2)
    want = spark.read.parquet(hist2).collect()
    assert len(want) == 3
    assert sorted(map(_entry_key, got)) == sorted(map(_entry_key, want))

    # dedup reached the stream: window-0 entry holds 2 logs, not 3
    w0 = [r for r in got if r.container_name == "svc-db"]
    assert len(w0) == 1 and len(w0[0].batch_logs) == 2
    # redaction reached the stream: no raw email in any stored message
    assert all("a@b.com" not in b.message
               for r in got for b in r.batch_logs)
    # day partitioning on the ISO timestamp
    assert (spark.read.parquet(hist).select("__day").distinct().count()
            == 1)


def test_streamed_history_feeds_dashboard_and_feedback(spark, tmp_path):
    """The rest of the reference loop over the STREAMED history table:
    dashboard filters/metrics (app.py GET / and /metrics) and the
    partition-pruned feedback point-update run unmodified against what
    the streaming job wrote."""
    import os

    from ai_incident_analyst_spark.operators.rag import (
        history_filter,
        history_metrics,
        upsert_feedback_on_disk,
    )
    from ai_incident_analyst_spark.streaming.incident_loop import (
        incident_stream,
    )

    fixture = str(tmp_path / "fixture.json")
    with open(fixture, "w") as f:
        json.dump(_rows(), f)
    opts = {"fixture_path": fixture, "since_ms": str(T0),
            "until_ms": str(T0 + 4 * HOUR), "batch_ms": str(HOUR)}
    hist = str(tmp_path / "history")
    ckpt = str(tmp_path / "ckpt")
    marker_dir = os.path.join(ckpt, "history_markers")

    q = incident_stream(spark, opts, _corpus(spark), hist, ckpt,
                        lambda p: "RCA: x").start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            n = (sum(1 for m in os.listdir(marker_dir)
                     if open(os.path.join(marker_dir, m)).read())
                 if os.path.isdir(marker_dir) else 0)
            if n >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()

    # one scan per window: progress counts each window's rows once
    prog = q.recentProgress
    assert prog
    for p in prog:
        lo, hi = (_offset_ms(o) for o in (p.sources[0].startOffset,
                                          p.sources[0].endOffset))
        assert p.numInputRows == sum(
            1 for r in _rows() if lo <= r["timestamp"] < hi), p.json

    stored = spark.read.parquet(hist)
    assert stored.count() == 3

    # dashboard list view: case-insensitive service filter + sort desc
    svc = history_filter(stored, service="SVC-DB").collect()
    assert len(svc) == 1 and svc[0].container_name == "svc-db"
    # keyword search digs into the nested arrays via to_json
    kw = history_filter(stored, keyword="oom killed").collect()
    assert len(kw) == 1

    # dashboard metrics: all four group-counts run over the streamed table
    m = history_metrics(stored)
    assert {r.container_name for r in m["by_service"].collect()} == \
        {"svc-db", "svc-disk", "svc-net"}
    assert m["by_day"].collect()[0]["count"] == 3
    assert {r.level for r in m["by_level"].collect()} == {"error"}

    # feedback point-update on one streamed entry (partition-pruned path)
    ts = svc[0].timestamp
    upsert_feedback_on_disk(spark, hist, ts, "up", "good catch")
    again = spark.read.parquet(hist)
    assert again.count() == 3
    voted = again.filter(F.col("timestamp") == ts).first()
    assert voted.feedback.vote == "up"
    other = again.filter(F.col("timestamp") != ts).collect()
    assert all(r.feedback is None for r in other)


def _row(minute, level, svc, msg):
    return (T0 + minute * 60_000, level, svc, msg, "e", "ns")


def _window(spark):
    """Seven distinct rows at minutes 1-5 plus one exact duplicate, in
    an arrival order that is not time order; one row has a NULL
    ``level`` and one a NULL ``message``."""
    from ai_incident_analyst_spark.sources.logapi import DEFAULT_SCHEMA

    return spark.createDataFrame([
        _row(5, "error", "svc-disk", "disk full on node 3"),
        _row(1, "error", "svc-db", "db timeout for a@b.com"),
        _row(4, "info", "svc-q", "slow query on shard 2"),
        _row(1, "error", "svc-db", "db timeout for a@b.com"),  # exact dup
        _row(3, "warn", "svc-oom", "OOM killed worker 7"),
        _row(2, "error", "svc-net", "conn reset by peer"),
        _row(2, None, "svc-mq", "queue stalled on broker 1"),
        _row(3, "warn", "svc-null", None),
    ], DEFAULT_SCHEMA)


def _index(spark):
    """Prior incidents; 301 and 300 embed identically and match the
    conn-reset row (embedded as "message level") with cosine 1."""
    return embed_text(
        spark.createDataFrame(
            [(301, "conn reset by peer error"),
             (300, "conn reset by peer error"),
             (302, "OOM killed worker 3"),
             (303, "db timeout for [REDACTED_EMAIL]"),
             (304, "disk full on node 3 error")],
            "hist_id long, message string"),
        ["message"], dim=32).select("hist_id", "embedding")


def test_narrowing_plans_pick_as_take_ordered(spark):
    """The window's one action has no Python stage: the pick plans as
    ``TakeOrderedAndProject``, with no range-partitioned sort (and its
    sampling job) and no Arrow or batch Python evaluation. Redaction
    runs on the kept rows only: no ``regexp_replace`` below the take."""
    narrowed = loop._narrow(_window(spark), 5, LoopInvariants(_index(spark)))
    plan = narrowed._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    for op in ("ArrowEvalPython", "BatchEvalPython", "rangepartitioning"):
        assert op not in plan, plan
    take = narrowed._jdf.queryExecution().sparkPlan()
    while take.nodeName() != "TakeOrderedAndProject":
        take = take.children().apply(0)
    assert "regexp_replace" in take.projectList().toString()
    assert "regexp_replace" not in take.child().toString(), plan


def test_window_starts_at_most_four_jobs(spark, tmp_path, jobs_of):
    """One static window with a cached index: the narrowing action, the
    index collect and the history append, four jobs in all."""
    index = _index(spark).cache()
    index.count()
    hist = str(tmp_path / "history")
    out, jobs = jobs_of(spark, lambda: process_incident_batch(
        _window(spark), LoopInvariants(index), lambda p: "RCA", hist,
        batch_size=5))
    index.unpersist()
    assert out == "RCA"
    assert len(jobs) <= 4, jobs


def test_window_starts_at_most_three_jobs(spark, tmp_path, jobs_of):
    """One static window once the stream's invariants are built: the
    narrowing action (dedup exchange and take) and the history append,
    three jobs in all — the index is not collected again."""
    index = _index(spark).cache()
    index.count()
    prior = LoopInvariants(index)
    index.unpersist()
    hist = str(tmp_path / "history")
    out, jobs = jobs_of(spark, lambda: process_incident_batch(
        _window(spark), prior, lambda p: "RCA", hist, batch_size=5))
    assert out == "RCA"
    assert len(jobs) <= 3, jobs


@pytest.mark.parametrize("k", [1, 2])
def test_picked_rows_and_knn_match_reference(spark, tmp_path, monkeypatch,
                                             k):
    """A window larger than ``batch_size``: the entry holds the
    ``batch_size`` earliest rows left after dedup, the query vectors the
    driver encodes equal ``embed_text``'s for those rows bit for bit
    (NULL ``level`` and NULL ``message`` included), and its similar
    incidents are exactly what the reference ``knn_join`` returns for
    those rows — including an exact score tie between two identical
    index vectors, which goes to the lower ``hist_id``."""
    import numpy as np

    from ai_incident_analyst_spark.operators.knn import knn_join

    seen, similar = [], loop._similar_incidents

    def spy(query_vecs, prior, k):
        seen.append(query_vecs)
        return similar(query_vecs, prior, k)

    monkeypatch.setattr(loop, "_similar_incidents", spy)
    corpus = _index(spark)
    hist = str(tmp_path / "history")
    out = process_incident_batch(_window(spark), LoopInvariants(corpus),
                                 lambda p: "RCA", hist, batch_size=5, k=k)
    assert out == "RCA"
    (entry,) = spark.read.parquet(hist).collect()

    want_ts = [time.strftime("%Y-%m-%dT%H:%M:%SZ",
                             time.gmtime((T0 + m * 60_000) / 1000))
               for m in (1, 2, 2, 3, 3)]
    assert sorted(b.timestamp for b in entry.batch_logs) == want_ts
    assert entry.timestamp == want_ts[0]
    assert entry.container_name == "svc-db"
    assert {b.container_name for b in entry.batch_logs} == \
        {"svc-db", "svc-net", "svc-mq", "svc-oom", "svc-null"}

    picked = spark.createDataFrame(
        [(b.message, b.level) for b in entry.batch_logs],
        "message string, level string")
    emb = embed_text(picked, ["message", "level"], dim=32)
    (driver_vecs,) = seen
    # the encoder's own float32 arrays, not vectors collected from Spark
    assert all(isinstance(v, np.ndarray) and v.dtype == np.float32
               for v in driver_vecs)
    assert sorted(v.tobytes() for v in driver_vecs) == sorted(
        np.asarray(r.embedding, dtype=np.float32).tobytes()
        for r in emb.collect())

    q = emb.select(F.monotonically_increasing_id().alias("query_id"),
                   F.col("embedding").alias("query_vec"))
    ref = knn_join(q, corpus, k=k, metric="cosine",
                   corpus_id="hist_id", corpus_vec="embedding")
    want_ids = sorted({r.vec_id for r in ref.collect()})
    assert [s.hist_id for s in entry.similar_logs] == want_ids
    assert 300 in want_ids and (k == 2) == (301 in want_ids)


def test_empty_text_row_adds_no_similar_incident(spark, tmp_path):
    """A row with NULL ``message`` and ``level`` embeds as a zero vector,
    whose cosine scores are all NaN: like ``knn_join``, the loop keeps
    no index row for it, so only the disk row's match is stored."""
    from ai_incident_analyst_spark.sources.logapi import DEFAULT_SCHEMA

    batch = spark.createDataFrame(
        [_row(1, "error", "svc-disk", "disk full on node 3"),
         _row(2, None, "svc-blank", None)], DEFAULT_SCHEMA)
    hist = str(tmp_path / "history")
    process_incident_batch(batch, LoopInvariants(_index(spark)),
                           lambda p: "RCA", hist)
    (entry,) = spark.read.parquet(hist).collect()
    assert len(entry.batch_logs) == 2
    assert [s.hist_id for s in entry.similar_logs] == [304]


def test_dirty_index_rows_are_dropped(spark, tmp_path):
    """A NULL and a wrong-length ``embedding`` in the prior-incident
    index are dropped when the index loads, as ``knn_join`` drops them;
    the window still stores its entry, matched to the one good row."""
    from ai_incident_analyst_spark.operators.knn import knn_join
    from ai_incident_analyst_spark.sources.logapi import DEFAULT_SCHEMA

    (good,) = (_index(spark).filter("hist_id = 304")
               .select("embedding").first())
    corpus = spark.createDataFrame(
        [(1, good), (2, None), (3, [1.0, 0.0])],
        "hist_id long, embedding array<float>")
    batch = spark.createDataFrame(
        [_row(1, "error", "svc-disk", "disk full on node 3")],
        DEFAULT_SCHEMA)
    hist = str(tmp_path / "history")
    process_incident_batch(batch, LoopInvariants(corpus), lambda p: "RCA",
                           hist)
    (entry,) = spark.read.parquet(hist).collect()

    q = embed_text(batch, ["message", "level"], dim=32).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec"))
    ref = knn_join(q, corpus, k=1, metric="cosine",
                   corpus_id="hist_id", corpus_vec="embedding")
    assert [r.vec_id for r in ref.collect()] == [1]
    assert [s.hist_id for s in entry.similar_logs] == [1]


def test_stream_collects_corpus_once(spark, tmp_path):
    """The prior-incident index is collected when the stream is built,
    not once per window: over three non-empty windows, every corpus row
    is evaluated exactly once (an accumulator in a UDF on the corpus
    counts the evaluations)."""
    import os

    from pyspark.sql.types import LongType

    fixture = str(tmp_path / "fixture.json")
    with open(fixture, "w") as f:
        json.dump(_rows(), f)
    opts = {"fixture_path": fixture, "since_ms": str(T0),
            "until_ms": str(T0 + 4 * HOUR), "batch_ms": str(HOUR)}
    hist = str(tmp_path / "history")
    marker_dir = str(tmp_path / "ckpt" / "history_markers")
    evals = spark.sparkContext.accumulator(0)

    def counted(hist_id):
        evals.add(1)
        return hist_id

    corpus = _corpus(spark).withColumn(
        "hist_id", F.udf(counted, LongType())("hist_id"))
    q = incident_stream(spark, opts, corpus, hist, str(tmp_path / "ckpt"),
                        lambda p: "RCA").start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if os.path.isdir(marker_dir) and sum(
                    1 for m in os.listdir(marker_dir)
                    if open(os.path.join(marker_dir, m)).read()) >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert spark.read.parquet(hist).count() == 3
    assert evals.value == 3
