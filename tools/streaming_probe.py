"""Streaming-layer scale cell (round-12 judge ask #7): measure the
windowed-dedup + history-append micro-batch loop at a real SF.

The streaming operators are pytest-proven (checkpoint-restart identity,
tests/test_stateful_streaming.py) but had no measured scale row. This
probe drives the §2.9 flagship composition end to end with Structured
Streaming's file source:

  1. stage the sf events table as N parquet chunk files (the stream
     "arrival order" is event-time order, as a log tailer would see)
  2. readStream(maxFilesPerTrigger) -> streaming_dedup (watermarked
     dropDuplicates on event_id) -> streaming_history_sink (append
     parquet via foreachBatch), trigger availableNow
  3. a second query: streaming_count_by_window (1-day tumbling windows,
     1-day watermark, grouped by event_type) to a memory-less noop-style
     foreachBatch count

Reported per query: rows/sec end-to-end, micro-batch count, PEAK STATE
ROWS (stateOperators.numRowsTotal from query progress) — the number
that proves the watermark bounds state instead of accumulating the
corpus. Usage: python tools/streaming_probe.py [sf_dir] [n_files]

--disorder mode (r13 judge ask #4): the same corpus arriving in RANDOM
file order (mtimes shuffled — the FileStreamSource arrival-order trap
measured in r12, now deliberately triggered) through BOTH watermarked
operators at a LADDER of watermark delays. Two late-data mechanisms,
two metrics (a first cut of this probe read
``numRowsDroppedByWatermark`` for the windowed counts and measured
~0.0% dropped at a 1-hour watermark under full shuffle — wrong
instrument, not a robust engine: aggregation late rows are cut by a
pre-aggregation Filter on the window column that the state-store
metric never sees):

  * streaming_count_by_window — COMPLETENESS vs the batch ground
    truth: emitted (window,group) count-rows are compared against the
    same aggregation run in batch; report rows lost inside emitted
    groups (late filter), groups never emitted (watermark never
    passed them before the stream ended), and the state-store drop
    metric for reference.
  * streaming_dedup — state-store drops (``late_drop_rows``, the
    metric IS real for dropDuplicatesWithinWatermark) + emitted rows
    vs the corpus.

Usage: python tools/streaming_probe.py --disorder [sf_dir] [n_files]

--incident mode (r13 judge ask #5): the FULL streaming incident loop
(logapi stream source -> dedup -> redact -> embed -> kNN vs prior-
incident corpus -> prompt -> LLM -> day-partitioned history append)
at sf1 scale — 1M synthetic rows via logapi's synthetic_transport
(O(window) generation per fetch; fixture_transport would re-parse the
whole corpus per micro-batch), deterministic fake embedder + LLM.
Reports rows/s end-to-end, micro-batches, history entries.
Usage: python tools/streaming_probe.py --incident [n_rows] [batch_days]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from pyspark.sql import functions as F

from ai_incident_analyst_spark.session import get_spark
from ai_incident_analyst_spark.streaming.pipeline import (
    streaming_count_by_window, streaming_dedup, streaming_history_sink)


def peak_state_rows(query) -> int:
    peak = 0
    for p in query.recentProgress:
        for so in (p.get("stateOperators") or []):
            peak = max(peak, int(so.get("numRowsTotal") or 0))
    return peak


def disorder_main() -> None:
    """Shuffled-arrival disorder curves: completeness (windowed counts)
    and state-store drops (dedup) vs watermark delay."""
    import random

    from ai_incident_analyst_spark.streaming.pipeline import late_drop_rows

    args = [a for a in sys.argv[2:]]
    sf_dir = args[0] if args else os.path.join(ROOT, "testdata", "sf1")
    n_files = int(args[1]) if len(args) > 1 else 20
    spark = get_spark("streaming-disorder-probe")
    work = tempfile.mkdtemp(prefix="stream_disorder_")
    src = os.path.join(work, "src")
    delays = ["1 hour", "1 day", "4 days", "15 days", "30 days"]
    try:
        events = (spark.read.parquet(f"{sf_dir}/events.parquet")
                  .withColumn("ts", F.col("ts").cast("timestamp")))
        n_rows = events.count()
        (events.repartitionByRange(n_files, "ts")
         .write.mode("overwrite").parquet(src))
        # RANDOM arrival order: shuffle mtimes across the range files.
        # Each file spans ~30/n_files days of event time, so a file
        # arriving k positions early/late carries up to k*(30/n_files)
        # days of disorder — the worst case a parallel fleet of log
        # shippers with no ordering produces. Seeded: the curve is
        # reproducible.
        parts = sorted(f for f in os.listdir(src) if f.startswith("part-"))
        order = list(range(len(parts)))
        random.Random(42).shuffle(order)
        base = time.time() - len(parts) - 10
        for f, pos in zip(parts, order):
            os.utime(os.path.join(src, f), (base + pos, base + pos))
        schema = events.schema

        # batch ground truth for the windowed counts: {(win_start, grp):
        # count} — what a disorder-free engine must emit once every
        # window has finalized
        truth = {(r["window_start"].isoformat(), r["event_type"]):
                 r["row_count"]
                 for r in (events
                           .groupBy(F.window("ts", "1 day")["start"]
                                    .alias("window_start"),
                                    "event_type")
                           .agg(F.count("*").alias("row_count"))
                           .collect())}
        truth_rows = sum(truth.values())

        print("windowed counts (append mode) — completeness vs batch "
              "ground truth:")
        print("| watermark delay | truth (window,group) rows | emitted "
              "| rows lost in emitted groups | groups never emitted "
              "(rows) | state-store drop metric |")
        print("|---|---|---|---|---|---|")
        for delay in delays:
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 2).parquet(src))
            wc = streaming_count_by_window(
                stream, ts_col="ts", window="1 day", watermark=delay,
                group_col="event_type")
            got: dict = {}

            def sink(batch_df, batch_id, got=got):
                for r in batch_df.collect():
                    got[(r["window_start"].isoformat(),
                         r["event_type"])] = r["count"]

            ck = os.path.join(work, f"ckpt_{delay.replace(' ', '_')}")
            q = (wc.writeStream.outputMode("append")
                 .option("checkpointLocation", ck)
                 .foreachBatch(sink).trigger(availableNow=True).start())
            q.awaitTermination()
            lost_in_emitted = sum(truth[k] - v for k, v in got.items())
            never = {k: truth[k] for k in truth if k not in got}
            print(f"| {delay} | {truth_rows:,} ({len(truth)} groups) "
                  f"| {sum(got.values()):,} ({len(got)} groups) "
                  f"| {lost_in_emitted:,} "
                  f"| {len(never)} ({sum(never.values()):,}) "
                  f"| {late_drop_rows(q)} |", flush=True)

        print()
        print("streaming_dedup (dropDuplicatesWithinWatermark on "
              "event_id) — state-store drops ARE the late metric here:")
        print("| watermark delay | input rows | emitted | late-dropped "
              "(state store) | peak state rows |")
        print("|---|---|---|---|---|")
        for delay in delays:
            stream = (spark.readStream.schema(schema)
                      .option("maxFilesPerTrigger", 2).parquet(src))
            dd = streaming_dedup(stream, ["event_id"], ts_col="ts",
                                 watermark=delay)
            out = {"n": 0}

            def dsink(batch_df, batch_id, out=out):
                out["n"] += batch_df.count()

            ck = os.path.join(work, f"dck_{delay.replace(' ', '_')}")
            q = (dd.writeStream.outputMode("append")
                 .option("checkpointLocation", ck)
                 .foreachBatch(dsink).trigger(availableNow=True).start())
            q.awaitTermination()
            print(f"| {delay} | {n_rows:,} | {out['n']:,} "
                  f"| {late_drop_rows(q):,} | {peak_state_rows(q):,} |",
                  flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def incident_main() -> None:
    """End-to-end streaming incident loop at synthetic sf1 scale."""
    from ai_incident_analyst_spark.operators.embedding import embed_text
    from ai_incident_analyst_spark.streaming.incident_loop import (
        incident_stream,
    )

    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    batch_days = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    span_ms = 30 * 86_400_000  # 30 days, like the events twin
    period_ms = max(1, span_ms // n_rows)
    spark = get_spark("incident-loop-probe")
    work = tempfile.mkdtemp(prefix="incident_probe_")
    try:
        corpus = embed_text(
            spark.createDataFrame(
                [(i, f"prior incident {i}: svc-{i % 8} failure mode "
                     f"{i % 37}") for i in range(1000)],
                "hist_id long, message string"),
            ["message"], dim=32).select("hist_id", "embedding") \
            .localCheckpoint()
        llm_calls = {"n": 0}

        def llm(prompt: str) -> str:
            llm_calls["n"] += 1
            return f"RCA: {prompt.count(']')} lines considered"

        opts = {
            "transport": "ai_incident_analyst_spark.sources.logapi"
                         ".synthetic_transport",
            "url": f"synth:?period_ms={period_ms}&dup_pct=10",
            "since_ms": "0", "until_ms": str(span_ms),
            "batch_ms": str(int(batch_days * 86_400_000)),
        }
        t0 = time.time()
        # availableNow only covers the first prefetched batch for
        # simple stream readers (tests/test_logapi_source.py:168) — run
        # continuous micro-batches and poll the source offset until the
        # until_ms cap is drained, the same pattern the tests use
        q = incident_stream(
            spark, opts, corpus,
            history_path=os.path.join(work, "hist"),
            checkpoint=os.path.join(work, "ckpt"),
            llm_fn=llm, batch_size=100, k=3, dim=32,
        ).start()
        deadline = time.time() + 1800
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["sources"]:
                off = p["sources"][0]["endOffset"]
                if isinstance(off, str):
                    # python-datasource offsets serialize as a dict
                    # repr (single quotes) — not JSON
                    import ast
                    off = ast.literal_eval(off)
                if off and int(off["ts"]) >= span_ms:
                    break
            time.sleep(0.5)
        q.stop()
        q.awaitTermination()
        wall = time.time() - t0
        # corpus size from the transport's own count(*) arithmetic —
        # recentProgress numInputRows would count each foreachBatch
        # ACTION's re-scan of the batch source (measured 4x: dedup /
        # embed+knn / prompt / history append), not the corpus
        from ai_incident_analyst_spark.sources.logapi import (
            graphql_envelope, parse_results, synthetic_transport,
        )
        corpus_rows = parse_results(synthetic_transport(
            opts["url"], "", graphql_envelope(
                "0", f"SELECT count(*) FROM Log SINCE 0 UNTIL {span_ms}")
        ))[0]["count"]
        batches = sum(1 for p in q.recentProgress
                      if int(p["numInputRows"]) > 0)
        hist = spark.read.parquet(os.path.join(work, "hist"))
        print(f"| incident loop e2e | {corpus_rows:,} in | "
              f"{hist.count():,} history rows / {llm_calls['n']} entries "
              f"| {batches} batches | {wall:.1f}s "
              f"| {corpus_rows / wall:,.0f} rows/s |")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.join(ROOT, "testdata", "sf1")
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark("streaming-probe")
    work = tempfile.mkdtemp(prefix="stream_probe_")
    src = os.path.join(work, "src")
    try:
        # raw twin parquet reads ts as TIMESTAMP_NTZ under Spark 4 (the
        # sources/tables._normalize gotcha); watermarks need TIMESTAMP
        events = (spark.read.parquet(f"{sf_dir}/events.parquet")
                  .withColumn("ts", F.col("ts").cast("timestamp")))
        n_rows = events.count()
        # event-time order across files = the arrival order a log
        # follower sees; within-file order is irrelevant to watermarks
        (events.repartitionByRange(n_files, "ts")
         .write.mode("overwrite").parquet(src))
        # FileStreamSource batches by MODIFICATION TIME, and the 20
        # range files were written in parallel with interleaved mtimes —
        # the first run arrived effectively shuffled and the watermark
        # dropped 55% of rows as late. Force mtimes ascending in path
        # order (range partitioning writes part-00000 = earliest ts), so
        # arrival order == event-time order, as for a real log tailer.
        parts = sorted(f for f in os.listdir(src)
                       if f.startswith("part-"))
        base = time.time() - len(parts) - 10
        for i, f in enumerate(parts):
            os.utime(os.path.join(src, f), (base + i, base + i))
        schema = events.schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 2)
                  .parquet(src))

        # cell 1: watermarked dedup -> append-only history parquet
        dd = streaming_dedup(stream, ["event_id"], ts_col="ts",
                             watermark="1 hour")
        t0 = time.time()
        q = streaming_history_sink(
            dd, os.path.join(work, "hist"),
            os.path.join(work, "ckpt_hist"), trigger_once=True).start()
        q.awaitTermination()
        wall = time.time() - t0
        batches = len(q.recentProgress)
        state = peak_state_rows(q)
        out_rows = spark.read.parquet(os.path.join(work, "hist")).count()
        print(f"| dedup+history sink | {n_rows:,} | {out_rows:,} "
              f"| {batches} | {wall:.1f}s | {n_rows/wall:,.0f} rows/s "
              f"| {state:,} |")

        # cell 2: tumbling-window counts by event_type
        wc = streaming_count_by_window(stream, ts_col="ts",
                                       window="1 day", watermark="1 day",
                                       group_col="event_type")

        def sink(batch_df, batch_id):
            batch_df.write.format("noop").mode("overwrite").save()

        t0 = time.time()
        q2 = (wc.writeStream.outputMode("append")
              .option("checkpointLocation", os.path.join(work, "ckpt_win"))
              .foreachBatch(sink).trigger(availableNow=True).start())
        q2.awaitTermination()
        wall2 = time.time() - t0
        print(f"| windowed counts | {n_rows:,} | — "
              f"| {len(q2.recentProgress)} | {wall2:.1f}s "
              f"| {n_rows/wall2:,.0f} rows/s | {peak_state_rows(q2):,} |")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--disorder":
        disorder_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--incident":
        incident_main()
    else:
        main()
