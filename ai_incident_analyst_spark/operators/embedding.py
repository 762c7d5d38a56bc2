"""Batched text-embedding operator (SURVEY.md §2.8 U1).

Reference parity: ``src/embedding/embedder.py:23-30`` — concat configured
fields (null-skipping, embedder.py:19-21), batch through
SentenceTransformer.encode(batch_size=32), attach ``embedding`` column.

Spark design: an **iterator pandas_udf** — the model is initialized once
per Python worker (the reference loads it once per LogEmbedder instance,
embedder.py:16; per-executor init is the distributed analog), batches
arrive via Arrow sized by spark.sql.execution.arrow.maxRecordsPerBatch
(the batch_size=32 knob's analog). Everything upstream/downstream of the
UDF stays JVM-side.

The UDF's encode step is one function, ``encode_texts``, that a driver
can call too. The incident loop does: it encodes its ≤ ``batch_size``
picked rows on the driver after its one Spark action instead of running
the UDF in the plan, because a Python stage above ``orderBy().limit()``
stops Catalyst from planning the pick as ``TakeOrderedAndProject`` (it
plans a range-partitioned full sort, a local and a global limit around
the Python stage instead: 5 jobs for the action rather than 2).

The real sentence-transformers model is not in this container, so the
default model is a deterministic hashing embedder (feature-hashing
bag-of-words, L2-normalized) — same shape/contract, reproducible across
partitionings, no torch dependency. Swap ``make_model`` for a real
encoder on a cluster with GPUs.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

DEFAULT_DIM = 64  # matches testdata embeddings.parquet; reference dim is 384


def hashing_encode(texts: list[str], dim: int = DEFAULT_DIM) -> np.ndarray:
    """Deterministic fake encoder: md5 feature-hashed bag of words,
    signed, L2-normalized. Stable across processes (no PYTHONHASHSEED)."""
    out = np.zeros((len(texts), dim), dtype=np.float32)
    for i, t in enumerate(texts):
        for tok in (t or "").lower().split():
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
            sign = 1.0 if (h >> 63) & 1 else -1.0
            out[i, h % dim] += sign
        n = float(np.linalg.norm(out[i]))
        if n > 0:
            out[i] /= n
    return out


def make_embed_udf(dim: int = DEFAULT_DIM,
                   make_model: Callable[[], Callable[[list[str]], np.ndarray]] | None = None):
    """Build the iterator pandas_udf. ``make_model`` runs once per worker
    (expensive init goes there — model load, GPU pin); default is the
    hashing encoder."""

    @pandas_udf("array<float>")
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = make_model() if make_model else None
        for s in batches:
            yield pd.Series(encode_texts(s.tolist(), dim, model))

    return embed


def encode_texts(texts: list, dim: int = DEFAULT_DIM,
                 model: Callable[[list[str]], np.ndarray] | None = None
                 ) -> list[np.ndarray]:
    """The encode step of ``make_embed_udf``: NULL texts become ``""``,
    ``model`` (default: the hashing encoder at ``dim``) encodes the
    batch, and each vector is cast to float32. The incident loop calls
    it on the driver, so its vectors equal ``embed_text``'s bit for bit."""
    model = model or (lambda ts: hashing_encode(ts, dim))
    vecs = model([t if isinstance(t, str) else "" for t in texts])
    return [np.asarray(v, dtype=np.float32) for v in vecs]


def embed_input(fields: list[str]) -> Column:
    """The text ``embed_text`` encodes: the null-skipping, space-joined
    concat of ``fields`` (embedder.py:19-21)."""
    return F.concat_ws(" ", *[F.col(f) for f in fields])


def embed_text(df: DataFrame, fields: list[str],
               out_col: str = "embedding", dim: int = DEFAULT_DIM,
               make_model=None) -> DataFrame:
    """U1 end-to-end: null-skip concat of ``fields`` (``embed_input``)
    → batched encode → attach ``embedding`` array<float> column."""
    return df.withColumn(out_col,
                         make_embed_udf(dim, make_model)(embed_input(fields)))


def embed_plan(snapshot: DataFrame, stored: DataFrame, id_col: str,
               text_col: str) -> DataFrame:
    """Incremental-embedding work plan: compare a corpus snapshot
    against the stored embedding table BY CONTENT HASH and classify
    every id — ``(id_col, action)`` with action ∈ ``keep`` (content
    unchanged, reuse the stored vector), ``embed`` (content changed,
    re-encode), ``new`` (no stored row), ``drop`` (stored row whose id
    left the snapshot).

    At 100 TB the encoder is the pipeline's dominant cost — GPU-hours
    per full pass — while this plan is ONE full-outer equi-join on the
    id (the only shuffle) with md5 content hashes computed in the scan
    projections. The reference re-embeds its whole corpus every run
    (``src/embeddings/embedder.py`` has no notion of a prior state);
    skipping the unchanged 99% is the difference between a nightly and
    a quarterly refresh.

    ``stored`` must carry ``(id_col, __content_md5)`` — the hash
    ``incremental_embed`` persists alongside each vector.
    """
    snap = snapshot.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("string")).alias("__snap_md5"))
    st = stored.select(F.col(id_col), F.col("__content_md5"))
    return (snap.join(st, id_col, "full_outer")
            .select(
                id_col,
                F.when(F.col("__snap_md5").isNull(), F.lit("drop"))
                .when(F.col("__content_md5").isNull(), F.lit("new"))
                .when(F.col("__snap_md5") == F.col("__content_md5"),
                      F.lit("keep"))
                .otherwise(F.lit("embed")).alias("action")))


def incremental_embed(snapshot: DataFrame, stored: DataFrame | None,
                      id_col: str, text_col: str,
                      dim: int = DEFAULT_DIM,
                      make_model=None) -> DataFrame:
    """Refresh the embedding table for ``snapshot``, re-encoding ONLY
    changed/new content: unchanged rows pass through from ``stored``
    byte-identically (the encoder never sees them), departed ids drop.
    Returns ``(id_col, __content_md5, embedding)`` — the same shape
    ``stored`` must have, so refreshes chain:
    ``t2 = incremental_embed(snap2, t1, ...)``.

    Plan: the ``embed_plan`` classification join, a broadcast-friendly
    semi-join splitting the snapshot into reuse/encode halves, the
    Arrow-batched encoder (``make_embed_udf``) over the encode half
    only, and a union. Determinism: the fake encoder is content-keyed,
    so reused and re-encoded vectors agree whenever content agrees —
    ``tests/test_embedding.py`` asserts refresh ≡ full re-embed.
    """
    snap_hashed = snapshot.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("string")).alias("__content_md5"),
        F.col(text_col))
    if stored is None:
        return (embed_text(snap_hashed, [text_col], dim=dim,
                           make_model=make_model)
                .select(id_col, "__content_md5", "embedding"))
    plan = embed_plan(snapshot, stored, id_col, text_col)
    keep_ids = plan.where(F.col("action") == "keep").select(id_col)
    reused = stored.join(keep_ids, id_col, "left_semi") \
        .select(id_col, "__content_md5", "embedding")
    todo = snap_hashed.join(keep_ids, id_col, "left_anti")
    encoded = embed_text(todo, [text_col], dim=dim,
                         make_model=make_model) \
        .select(id_col, "__content_md5", "embedding")
    return reused.unionByName(encoded)
