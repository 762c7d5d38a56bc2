"""RAG assembly + history analytics (SURVEY.md §2.4 A9/A10, §2.5 W5,
§3.2-3.3, nested-record ops F22/F23).

Reference parity:
  - prompt aggregation: ``src/llm/llm_processor.py:30-42`` — per-batch
    concat of formatted log lines into one prompt text block.
  - batch slice: ``main.py:57,100`` (first batch_size rows).
  - history entry build/append: ``main.py:77-94``.
  - dashboard queries: filter/sort ``src/dashboard/app.py:62-87``,
    group-counts ``app.py:15-44``.
  - feedback upsert (F22): ``app.py:117-124``; strip-embedding nested
    projection (F23): ``app.py:105-113``.

External calls (Ollama LLM, Slack webhook) remain adapters outside the
engine per BASELINE.json; ``llm_fn``/``notify_fn`` are injected exactly
like the reference's dummy notifier (integration_tests/test_llm_to_slack.py:16-21).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.text import day_trunc_str, format_log_line
from .util import local_frame

#: the history entry's feedback column (app.py:117-124)
FEEDBACK_TYPE = "struct<vote:string,comment:string>"


def pick_batch(df: DataFrame, batch_size: int, order_col: str) -> DataFrame:
    """W5: deterministic head-slice — the reference's `logs[:batch_size]`
    relies on arrival order; distributed "first n" needs an explicit sort."""
    return df.orderBy(F.col(order_col).asc()).limit(batch_size)


def prompt_col(ts: str = "timestamp", service: str = "container_name",
               level: str = "level", message: str = "message") -> Column:
    """A9 as an aggregate column: the formatted lines (F17) of every row,
    newline-joined in deterministic (ts, message) order.

    `collect_list` alone has nondeterministic order, so the sort key rides
    inside the collected struct and is sorted post-collect (array_sort on
    struct sorts lexicographically by field order).
    """
    line = format_log_line(F.col(ts), F.col(service), F.col(level), F.col(message))
    s = F.struct(F.col(ts).alias("k1"), F.col(message).alias("k2"),
                 line.alias("line"))
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(s)), lambda e: e["line"]),
        "\n")


def sorted_struct_array(*cols: str) -> Column:
    """Aggregate column: ``cols`` of every row as one array<struct>,
    sorted lexicographically by field order — the layout of a history
    entry's ``batch_logs`` and ``similar_logs`` (main.py:79-87)."""
    return F.array_sort(F.collect_list(F.struct(*cols)))


def build_prompt_df(df: DataFrame,
                    ts: str = "timestamp", service: str = "container_name",
                    level: str = "level", message: str = "message") -> DataFrame:
    """A9: aggregate the batch into ONE prompt row (``prompt_col``)."""
    return df.agg(prompt_col(ts, service, level, message).alias("prompt"),
                  F.count("*").alias("n_logs"))


def build_history_entry(batch: DataFrame, similar: DataFrame,
                        llm_output: str) -> DataFrame:
    """main.py:79-87: one nested entry — first-row metadata (A10) + the
    full batch and similar-hit arrays as array<struct>."""
    meta = batch.orderBy(F.col("timestamp").asc()).limit(1)
    batch_arr = batch.agg(
        sorted_struct_array(*batch.columns).alias("batch_logs"))
    sim_arr = similar.agg(
        sorted_struct_array(*similar.columns).alias("similar_logs"))
    return (
        meta.crossJoin(batch_arr).crossJoin(sim_arr)
        .withColumn("llm_output", F.lit(llm_output))
        .withColumn("feedback", F.lit(None).cast(FEEDBACK_TYPE))
    )


def append_history(entry: DataFrame, path: str) -> None:
    """S6: append-only history sink. The reference rewrites a whole JSON
    file (main.py:88-92); parquet append is the scalable equivalent."""
    entry.write.mode("append").parquet(path)


def history_filter(df: DataFrame, service: str | None = None,
                   namespace: str | None = None, level: str | None = None,
                   keyword: str | None = None) -> DataFrame:
    """Dashboard GET / (app.py:62-87): case-insensitive filters + global
    sort desc. P7/P8/P9 + W2."""
    out = df
    if service:
        out = out.filter(F.lower(F.col("container_name")).contains(service.lower()))
    if namespace:
        out = out.filter(F.lower(F.col("namespace_name")).contains(namespace.lower()))
    if level:
        out = out.filter(F.lower(F.col("level")) == level.lower())
    if keyword:
        blob = F.lower(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
        out = out.filter(blob.contains(keyword.lower()))
    return out.orderBy(F.col("timestamp").desc())


def history_metrics(df: DataFrame, ts: str = "timestamp") -> dict[str, DataFrame]:
    """Dashboard GET /metrics (app.py:15-44): the four group-counts.

    One ``groupingSets`` aggregate computes all four in one pass over
    ``df`` and is collected once; its ``grouping_id`` column tells the
    four apart, and each view is then a driver-built ``local_frame``.
    The views are therefore a snapshot taken at call time: rows written
    to the table afterwards do not show in them, and reading a view
    starts no job. ``by_day`` is ascending with the NULL day first; the
    other views are in key order, NULL keys counted as ``"unknown"``.
    """
    views = ("by_day", "by_service", "by_namespace", "by_level")
    keyed = df.select(
        day_trunc_str(ts).alias("day"),
        *[F.coalesce(F.col(c), F.lit("unknown")).alias(c)
          for c in ("container_name", "namespace_name", "level")])
    names = keyed.columns
    rows = (keyed.groupingSets([[c] for c in names], *names)
            .agg(F.grouping_id().alias("gid"), F.count("*").alias("count"))
            .collect())
    out = {}
    for i, (view, name) in enumerate(zip(views, names)):
        # grouping_id sets the bit of every key NOT grouped, first key high
        gid = (1 << len(names)) - 1 - (1 << (len(names) - 1 - i))
        counts = sorted(((r[name], r["count"]) for r in rows
                         if r["gid"] == gid),
                        key=lambda kv: (kv[0] is not None, kv[0] or ""))
        schema = StructType([keyed.schema[name],
                             StructField("count", LongType(), False)])
        out[view] = local_frame(df.sparkSession, counts, schema)
    return out


def upsert_feedback(df: DataFrame, entry_ts: str, vote: str,
                    comment: str) -> DataFrame:
    """F22: point-update of the feedback struct for one entry (app.py:117-124)
    — expressed as a conditional struct rebuild (withField)."""
    hit = F.col("timestamp") == F.lit(entry_ts)
    fb = F.struct(F.lit(vote).alias("vote"), F.lit(comment).alias("comment"))
    return df.withColumn("feedback", F.when(hit, fb).otherwise(F.col("feedback")))


def append_history_partitioned(entry: DataFrame, path: str,
                               ts_col: str = "timestamp") -> None:
    """S6 at scale: the history sink day-partitioned on the entry
    timestamp, so point lookups and feedback updates prune to one
    directory instead of scanning the table."""
    (entry.withColumn("__day", F.to_date(F.col(ts_col)))
     .write.partitionBy("__day").mode("append").parquet(path))


def history_day(spark, path: str, entry_ts: str) -> DataFrame | None:
    """The one ``__day`` directory of the day-partitioned history table
    at ``path`` that holds ``entry_ts``, read alone
    (``sources.layout.read_partitions``); None when that day has no
    directory. The day is ``to_date(entry_ts)``, evaluated on a one-row
    local frame, which starts no job."""
    from ..sources.layout import read_partitions

    day = (local_frame(spark, [(entry_ts,)], "ts string")
           .select(F.to_date("ts").cast("string")).first()[0])
    return None if day is None else \
        read_partitions(spark, path, "__day", [day])


def upsert_feedback_on_disk(spark, path: str, entry_ts: str, vote: str,
                            comment: str,
                            ts_col: str = "timestamp") -> None:
    """F22 at 100 TB: merge-on-key point update of one history entry.

    The reference point-updates one JSON entry in place (app.py:117-124);
    ``upsert_feedback`` is the in-memory analog but — applied to a
    persisted table — would rewrite every row. This variant is the
    parquet equivalent of a Delta/Iceberg MERGE touching one file group:
    the read is the single ``__day`` directory holding ``entry_ts``
    (``history_day``), the conditional struct rebuild runs over just
    those rows, and dynamic partition overwrite replaces ONLY that
    directory — the other N days of history are never read or written,
    nor even listed. A day with no directory is a no-op.
    """
    from ..sources.layout import dynamic_partition_overwrite

    part = history_day(spark, path, entry_ts)
    if part is None:
        return
    # materialize before overwriting: breaks the plan's dependency on the
    # input files (Spark refuses to overwrite a path it is reading), and
    # the partition is point-update-sized by construction
    updated = upsert_feedback(part, entry_ts, vote, comment) \
        .localCheckpoint(eager=True)
    with dynamic_partition_overwrite(spark):
        updated.write.partitionBy("__day").mode("overwrite").parquet(path)


def strip_embedding_nested(df: DataFrame, arr_col: str = "batch_logs",
                           field: str = "embedding") -> DataFrame:
    """F23: drop one field from every struct in an array<struct> column
    (app.py:105-113) without explode/re-implode — a single `transform`."""
    inner = [f.name for f in df.schema[arr_col].dataType.elementType.fields
             if f.name != field]
    return df.withColumn(
        arr_col,
        F.transform(F.col(arr_col),
                    lambda s: F.struct(*[s[c].alias(c) for c in inner])),
    )


def run_rag_batch(batch: DataFrame, similar: DataFrame,
                  llm_fn: Callable[[str], str],
                  notify_fn: Callable[[str], bool] | None = None) -> tuple[DataFrame, str]:
    """U2/S8 adapter seam: prompt → external LLM → optional notification.
    Mirrors process_batch (llm_processor.py:80-95) with injected externals."""
    row = build_prompt_df(batch).first()
    llm_out = llm_fn(row["prompt"])
    if notify_fn is not None:
        notify_fn(llm_out)
    return build_history_entry(batch, similar, llm_out), llm_out


def chunk_documents(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", size: int = 200,
                    stride: int = 150) -> DataFrame:
    """Sliding-window character chunking — the standard RAG preprocessing
    step between ingest and embedding (the reference embeds whole log
    messages, src/embedding/embedder.py:23-30; real corpora need documents
    cut to the embedder's context size first). Emits
    ``(id, chunk_idx, chunk_text)`` with 0-based ``chunk_idx``; windows of
    ``size`` chars start every ``stride`` chars (overlap = size - stride),
    the final window may be shorter, empty/null docs yield no chunks. The
    last start is the smallest one whose window reaches the end of the
    doc — no trailing chunk that the previous window already fully
    covers (start bound: max(len - size + stride, 1)).

    Pure generator expression: ``posexplode(sequence(starts))`` then one
    ``substring`` per chunk — codegen'd, zero shuffle, and the explode
    multiplies rows AFTER the scan so parquet still reads one row per doc.
    The start sequence is gated with when(): sequence(1, 0) flips to a
    DESCENDING [1, 0] when a doc is empty (Spark defaults step to -1 when
    start > stop) and would emit two bogus chunks.
    """
    if stride < 1 or size < 1:
        raise ValueError("size and stride must be >= 1")
    t = F.col(text_col)
    last_start = F.greatest(F.length(t) - F.lit(size - stride), F.lit(1))
    starts = F.when(
        F.length(t) > 0,
        F.sequence(F.lit(1), last_start, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(F.col(id_col), t.alias("__t"),
                  F.posexplode(starts).alias("chunk_idx", "__start"))
        .select(id_col, "chunk_idx",
                F.expr(f"substring(__t, __start, {int(size)})")
                .alias("chunk_text"))
    )
