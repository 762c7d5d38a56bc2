"""The reference's repeated-run incident loop as ONE streaming job.

Reference behavior: every scheduled run re-fetches the last window of
logs and replays the whole chain — preprocess → dedup → redact → embed →
search prior incidents → LLM RCA → notify → append to history
(``src/main.py:88-92``; the dashboard shows new entries on refresh).
Re-expressed Spark-first: the ``logapi`` SimpleDataSourceStreamReader
paces the fetch windows (offsets are epoch-ms watermarks, one
``batch_ms`` window per micro-batch — sources/logapi.py:270), and each
micro-batch runs ``process_incident_batch``, the same function a
per-window batch replay calls, appending one day-partitioned history
entry per non-empty window.

Why ``foreachBatch`` and not a pure streaming DAG: the loop body needs
batch-only operators (global sort for ``pick_batch``, one driver-side
LLM call per batch) — exactly the micro-batch-as-batch escape hatch
``foreachBatch`` exists for.

Per window, ONE Spark action narrows the batch to its ≤ ``batch_size``
picked rows and returns everything the rest of the loop needs (prompt,
``batch_logs``, first-row metadata, each picked row's embedding text,
row count): dedup → pick → redact → one aggregate. The driver then
embeds those ≤ ``batch_size`` texts with ``encode_texts``, the encode
step the ``embed_text`` UDF runs, so the query vectors equal the UDF's
bit for bit. The embedding is a row-wise function of ``message`` and
``level`` and pick orders by ``timestamp`` alone, so only kept rows are
embedded; redaction is row-wise too, so only kept rows are redacted.
Embedding after the action and not in the plan keeps the pick
a ``TakeOrderedAndProject``: a Python stage above ``orderBy().limit()``
turns it into a range-partitioned full sort with a local and a global
limit around the Python stage (6 jobs per window instead of 3). The
kNN, the LLM call and the entry row run on the driver too, and the
batch source is scanned once (stream progress reports the window's true
``numInputRows``).

What does not depend on a window's rows is built once per stream, in
``LoopInvariants``: the prior-incident index is collected once, before
the query starts, and kept on the driver as its rows and their float64
matrix; the narrowing's Columns (redaction, ISO timestamp, prompt,
``batch_logs``, first-row metadata, embedding text) and the history
entry's type are built once too. A window is then 3 Spark jobs — the
narrowing action's dedup exchange and take, and the history append.

Restart semantics: processed-window offsets live in the checkpoint, so
a killed and restarted job resumes at the first unprocessed window and
history gains exactly the missing entries — the incremental==batch
identity checked by ``test_incident_loop_restart_equals_batch_replay``
in ``tests/test_incident_loop.py`` (stream run with a mid-stream restart
vs per-window batch replay of ``process_incident_batch`` produce
identical history tables).

At scale: each micro-batch is one bounded remote fetch; the corpus side
of the k-NN is the (bounded) prior-incident index, static for the
stream's life and held on the driver as one matrix; the history append
is a day-partitioned parquet write — no unbounded state lives in the
stream itself, so the job's memory footprint is independent of how
long it has been running.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions.redaction import DEFAULT_PATTERNS, LLM_SIDE_PATTERNS, redact
from ..operators.dedup import dedup_keep_first
from ..operators.embedding import embed_input, encode_texts
from ..operators.knn import block_topk
from ..operators.rag import (
    FEEDBACK_TYPE,
    append_history_partitioned,
    pick_batch,
    prompt_col,
    sorted_struct_array,
)
from ..operators.util import local_frame

# embed_text, knn_join and run_rag_batch are no longer called here; they
# stay bound because perfbench/incident_loop.py wraps these names in its
# traced run
from ..operators.embedding import embed_text  # noqa: F401
from ..operators.knn import knn_join  # noqa: F401
from ..operators.rag import run_rag_batch  # noqa: F401

#: first-row metadata columns of a history entry, in stored order
_META = ("timestamp", "container_name", "namespace_name", "level")


class LoopInvariants:
    """Everything a window needs that does not depend on its rows, built
    once per stream (or per batch replay) on the driver.

    ``corpus`` is the prior-incident index ``(hist_id, embedding, …)``,
    keyed by ``hist_id``; it is collected here, once, and held as its
    rows sorted by ``hist_id`` and their float64 ``(n, dim)`` matrix.
    Rows whose ``embedding`` is NULL or not ``dim`` long are dropped, by
    ``knn._valid_rows``'s rule: the reference ``knn_join`` drops them
    too. ``dim`` is the width the loop encodes its query texts at.

    The narrowing's row-independent Columns (redaction, ISO timestamp,
    prompt, ``batch_logs``, first-row metadata, embedding text) and the
    history entry's type are built here too, for the batch schema they
    were last asked for — a stream's windows all share one.
    """

    def __init__(self, corpus: DataFrame, dim: int = 32):
        import numpy as np

        index = corpus.select(
            "hist_id", *[c for c in corpus.columns if c != "hist_id"])
        self.dim = dim
        self.index_type = index.schema
        self.rows = sorted(
            (r for r in index.collect()
             if r["embedding"] is not None and len(r["embedding"]) == dim),
            key=lambda r: r[0])
        self.matrix = np.array([r["embedding"] for r in self.rows],
                               dtype=np.float64).reshape(-1, dim)
        self._batch_schema = None
        self._project: list = []
        self._aggs: list = []
        self._entry_type: Optional[StructType] = None

    def narrowing(self, schema: StructType) -> tuple[list, list]:
        """The projection over the picked rows and the window's
        aggregate, for batches of ``schema``: ``message`` redacted,
        ``timestamp`` kept as the epoch-ms ``__ts_ms`` and re-emitted as
        an ISO string (it day-partitions the history sink and matches the
        reference's string timestamps, main.py:79-87)."""
        if schema != self._batch_schema:
            names = schema.names
            ts = F.col("timestamp")
            replaced = {
                "message": redact("message",
                                  DEFAULT_PATTERNS + LLM_SIDE_PATTERNS)
                .alias("message"),
                "timestamp": ts.alias("__ts_ms")}
            self._project = [replaced.get(c, F.col(c)) for c in names] + [
                F.date_format(F.timestamp_millis(ts),
                              "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp")]
            log_cols = [c for c in names if c != "timestamp"] + ["timestamp"]
            self._aggs = [
                F.count("*").alias("n"),
                prompt_col().alias("prompt"),
                sorted_struct_array(*log_cols).alias("batch_logs"),
                # the earliest row's metadata; the epoch-ms key orders it
                F.min(F.struct("__ts_ms", *_META)).alias("first"),
                F.collect_list(embed_input(["message", "level"]))
                .alias("texts")]
            self._entry_type = None
            self._batch_schema = schema
        return self._project, self._aggs

    def entry_type(self, narrowed: DataFrame) -> StructType:
        """The history entry's type, read off the first ``narrowed``
        frame of the current batch schema."""
        if self._entry_type is None:
            meta_type = narrowed.schema["first"].dataType
            self._entry_type = StructType(
                [meta_type[c] for c in _META]
                + [StructField("batch_logs",
                               narrowed.schema["batch_logs"].dataType),
                   StructField("similar_logs", ArrayType(self.index_type)),
                   StructField("llm_output", StringType()),
                   StructField("feedback",
                               StructType.fromDDL(FEEDBACK_TYPE))])
        return self._entry_type


def process_incident_batch(batch: DataFrame, prior: LoopInvariants,
                           llm_fn: Callable[[str], str],
                           history_path: str,
                           notify_fn: Optional[Callable[[str], bool]] = None,
                           batch_size: int = 100,
                           k: int = 1) -> Optional[str]:
    """One reference main-loop iteration over an already-fetched batch.

    ``batch`` carries the logapi schema (epoch-ms ``timestamp``,
    ``level``, ``container_name``, ``message``); ``prior`` holds the
    prior-incident index and the narrowing's Columns
    (``LoopInvariants``, built once before the first window).
    Returns the LLM output, or None for an empty batch (no history entry
    — the reference skips runs that fetch nothing). Shared verbatim by
    the streaming loop and the batch replay so incremental == batch is
    an identity by construction.
    """
    narrowed = _narrow(batch, batch_size, prior)
    # a global aggregate: always exactly one row
    (got,) = narrowed.collect()
    if got["n"] == 0:
        return None

    llm_out = llm_fn(got["prompt"])
    if notify_fn is not None:
        notify_fn(llm_out)

    similar = _similar_incidents(encode_texts(got["texts"], prior.dim),
                                 prior, k)
    entry = local_frame(
        batch.sparkSession,
        [(*(got["first"][c] for c in _META), got["batch_logs"], similar,
          llm_out, None)], prior.entry_type(narrowed))
    # namespace_name rides along so the stored table feeds the dashboard
    # surfaces (history_filter / history_metrics) unmodified
    append_history_partitioned(entry, history_path)
    return llm_out


def _narrow(batch: DataFrame, batch_size: int,
            prior: LoopInvariants) -> DataFrame:
    """The window's one Spark action, as a one-row frame: dedup → pick
    → redact → one aggregate holding the row count, the prompt, the
    sorted ``batch_logs``, the earliest row's metadata and each picked
    row's embedding text. No Python stage sits above the pick, so it
    plans as ``TakeOrderedAndProject``; the pick orders by ``timestamp``
    alone and redaction is row-wise, so redacting only the kept rows
    keeps the same rows. Only the arrival id, a nondeterministic
    expression, is built per window."""
    project, aggs = prior.narrowing(batch.schema)
    arr = batch.withColumn("__arrival", F.monotonically_increasing_id())
    deduped = dedup_keep_first(arr, ["message", "timestamp"], "__arrival")
    picked = pick_batch(deduped, batch_size, "timestamp")
    # the projection lists the batch's own columns: __arrival ends here
    return picked.select(*project).agg(*aggs)


def _similar_incidents(query_vecs: list, prior: LoopInvariants,
                       k: int) -> list:
    """Index rows (``hist_id`` first) in any query's exact cosine top-k,
    sorted by ``hist_id`` — ``knn_join``'s result, with its id
    tie-break and its drop of NaN scores (a zero vector, e.g. the empty
    text of a row with NULL ``message`` and ``level``), joined back to
    the index rows."""
    import numpy as np

    if not prior.rows:
        return []
    qmat = np.array(query_vecs, dtype=np.float64)
    idx, top = block_topk(qmat, prior.matrix, k, "cosine")
    return [prior.rows[i] for i in np.unique(idx[~np.isnan(top)])]


def incident_stream(spark, source_options: dict, corpus: DataFrame,
                    history_path: str, checkpoint: str,
                    llm_fn: Callable[[str], str],
                    notify_fn: Optional[Callable[[str], bool]] = None,
                    batch_size: int = 100, k: int = 1, dim: int = 32):
    """The full streaming incident loop; returns an un-started
    ``DataStreamWriter`` (callers ``.start()`` it, tests drive it with
    the poll-and-stop pattern of tests/test_logapi_source.py).

    ``source_options`` are the logapi reader options (fixture or real
    transport, since/until window, ``batch_ms`` pacing).
    """
    import os

    from ..sources.logapi import LogApiDataSource

    prior = LoopInvariants(corpus, dim)
    spark.dataSource.register(LogApiDataSource)
    stream = (spark.readStream.format("logapi")
              .options(**source_options).load())

    # foreachBatch is at-least-once: a batch whose history append landed
    # but whose offset commit didn't gets REPLAYED after a restart, so
    # the sink must be idempotent per batch_id. A marker file under the
    # checkpoint (same lifetime as the offsets) records "this batch's
    # entry is already in history"; production against an object store
    # would use a transactional table (Delta/Iceberg MERGE on batch_id)
    # for the same contract.
    marker_dir = os.path.join(checkpoint, "history_markers")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(marker_dir, exist_ok=True)
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return
        out = process_incident_batch(batch_df, prior, llm_fn,
                                     history_path, notify_fn=notify_fn,
                                     batch_size=batch_size, k=k)
        with open(marker, "w") as f:
            f.write("" if out is None else "entry")

    return (stream.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(process))
