"""Vector column math (SURVEY.md §2.7 F20-F21) as higher-order functions.

Reference parity: squared-L2 distance implicit in FAISS ``IndexFlatL2``
(src/vector_db/faiss_db.py:43,54); float32 casts (faiss_db.py:40,53).

These are pure Catalyst expressions (zip_with/aggregate), so distance
evaluation happens JVM-side with no Python boundary. Exact top-k search
does not use them: ``operators/knn.py:knn_join`` scores with one
BLAS-backed numpy kernel (``block_topk``) — same math.

All math is done in double: float32 accumulation order differences
would make results nondeterministic across partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_double_array(col: Column | str) -> Column:
    """F20 analog: cast array<float> ↔ array<double> for stable math."""
    return _c(col).cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(to_double_array(a), to_double_array(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """F21: squared-L2 distance — the IndexFlatL2 metric (faiss_db.py:43)."""
    return F.aggregate(
        F.zip_with(to_double_array(a), to_double_array(b),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot_product(a, b) / (norm(a) * norm(b))


def quantize_int8(col: Column | str, clip: float = 1.0,
                  levels: int = 127) -> Column:
    """Scalar int8 quantization of a float vector: clip each component to
    [-clip, clip], scale to [-levels, levels], round half-away-from-zero.
    Returns array<int> codes (a production table would store them as
    array<tinyint> parquet — 4x less scan bandwidth than float32; int here
    keeps the arithmetic type identical across engines).

    Deterministic pure math — Spark ROUND and DuckDB round() both round
    halves away from zero, so codes (and any integer distance over them)
    are bit-identical cross-engine. Components are cast float→double
    (exact) BEFORE scaling so both engines do the same IEEE multiply.
    """
    c = _c(col).cast("array<double>")
    return F.transform(
        c,
        lambda v: F.round(
            F.greatest(F.lit(-clip), F.least(F.lit(clip), v)) * levels
        ).cast("int"),
    )


def int_l2_sq(a: Column | str, b: Column | str) -> Column:
    """Exact integer squared-L2 over two int-code vectors (asymmetric /
    symmetric quantized distance). Pure long arithmetic: no FP rounding,
    so top-k over it is totally ordered the same way on every engine and
    partitioning. Bound: d * (2*levels)^2 per pair — int64-safe for any
    realistic (d, levels)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b),
                   lambda x, y: (x - y).cast("long") * (x - y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def truncate_renorm(col: Column | str, dims: int) -> Column:
    """Matryoshka truncation: keep the first ``dims`` components and
    L2-renormalize — the MRL deployment trick (Kusupati et al. 2022):
    an embedding trained with nested objectives stays usable at a
    prefix of its dimensions, so the corpus can be scanned at (say)
    16/64 of the scan bandwidth and re-ranked at full precision only
    for the shortlist. Pure JVM array math (slice + aggregate), exact
    same IEEE ops in a SQL twin."""
    t = F.slice(to_double_array(col), 1, dims)
    n = F.sqrt(F.aggregate(
        F.zip_with(t, t, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x))
    return F.transform(t, lambda v: v / n)
