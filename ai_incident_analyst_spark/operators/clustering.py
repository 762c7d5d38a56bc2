"""Distributed Lloyd's k-means over an embedding column.

The reference has no clustering operator — its vector side is a flat
exact-L2 index (``src/vector_db/faiss_db.py:43``). k-means is the missing
training step for our IVF scale path (``operators/knn.py:ivf_knn_join``
probes centroid cells; something has to produce good centroids), and a
first-class corpus-curation operator in its own right (topic bucketing,
embedding-space stratified sampling, per-cluster quota sampling).

Physical design — the classic scalable formulation (what Spark MLlib's
KMeans does under the RDD API, restated on DataFrames):

- Centroids are TINY (k × d doubles — 8 clusters × 384 dims = 24 KB) and
  live on the driver between rounds; the corpus is never collected.
- Each round is ONE Arrow pass over the corpus (``mapInPandas``): each
  partition computes its points' nearest centroid with one BLAS matmul
  and emits k partial rows ``(cluster, count, vector-sum)`` — map-side
  combine, so the round's driver traffic is k × #partitions rows of
  d-vectors, independent of corpus size.
- The driver folds partials into new centroids and checks movement.
  Empty clusters keep their previous centroid (standard Lloyd's fallback;
  deterministic, no re-seeding randomness).
- Init is deterministic and engine-portable: the k rows with the smallest
  ``md5(id)`` — a hash-ordered sample, reproducible across runs, cluster
  layouts, and appends of later rows (same trick as ``operators/
  sampling.py``).

Cross-engine reproducibility (``round_dp``): discretizing each round's
centroids and assignment scores to ``round_dp`` decimals, half away from
zero as SQL's ``round()`` does (``knn.round_half_away``), absorbs
ulp-level FP-association differences between engines and partition
layouts. Assignment is ``knn.block_topk``'s ``l2_cell`` argmin, the
score and tie-break the SQL twins replay. A float mean can still land
within an ulp of a rounding boundary; ``kmeans_fit_int`` below has no
such boundary: exact integer arithmetic in every decision.

Per-round cost at 100 TB: one corpus scan + a k×P-row collect — no
shuffle at all. Rounds are the serial factor; cap with ``max_iter`` and
``tol`` exactly like MLlib.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import l2_sq
from .knn import (_hash_sample, _valid_rows, assign_cells, block_topk,
                  round_half_away)
from .util import local_frame, spread


def _init_centroids(df: DataFrame, id_col: str, vec_col: str,
                    k: int) -> np.ndarray:
    """Deterministic hash-ordered init: the k non-NULL vectors with the
    smallest md5(id)."""
    cents = _hash_sample(df, id_col, vec_col, k)
    if len(cents) < k:
        raise ValueError(f"k={k} exceeds number of rows ({len(cents)})")
    return cents


def _partials_pass(df: DataFrame, vec_col: str, centroids: np.ndarray,
                   round_dp: Optional[int] = None) -> np.ndarray:
    """One assignment pass: returns folded (k, d+1) [count | sum] matrix.

    With ``round_dp`` set, the assignment scores are rounded before the
    argmin (ties broken by lowest centroid id): two centroids
    near-equidistant from a point would otherwise resolve by
    BLAS-vs-sequential-fold ulps, which differ across engines and builds
    even when the centroids themselves are identical. A row whose vector
    is NULL or not d long is skipped.
    """
    k, d = centroids.shape
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(centroids)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d), dtype=np.float64)
        for pdf in batches:
            pdf, mat = _valid_rows(pdf, vec_col, d)
            if len(pdf) == 0:
                continue
            assign = block_topk(mat, cents, 1, "l2_cell", round_dp)[0][:, 0]
            counts += np.bincount(assign, minlength=k)
            np.add.at(sums, assign, mat)
        nz = np.nonzero(counts)[0]
        if len(nz) == 0:
            # empty partition: a 0-row frame would give the vsum column a
            # float64 dtype that Arrow can't cast to list<double>
            return
        yield pd.DataFrame({
            "cluster": nz.astype("int64"),
            "cnt": counts[nz],
            "vsum": [s.tolist() for s in sums[nz]],
        })

    partials = (
        df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
        .mapInPandas(part, schema="cluster long, cnt long, vsum array<double>")
        .collect()
    )
    folded = np.zeros((k, d + 1), dtype=np.float64)
    # fixed fold order → deterministic FP sums for a given partitioning
    for r in sorted(partials, key=lambda r: (r["cluster"], r["cnt"])):
        folded[r["cluster"], 0] += r["cnt"]
        folded[r["cluster"], 1:] += np.asarray(r["vsum"])
    return folded


def kmeans_fit(df: DataFrame, id_col: str, vec_col: str, k: int,
               max_iter: int = 10, tol: float = 1e-6,
               init: Optional[np.ndarray] = None,
               round_dp: Optional[int] = None) -> tuple[np.ndarray, int]:
    """Lloyd's k-means; returns ``(centroids (k,d) ndarray, n_iter)``.

    Deterministic for a fixed input partitioning (hash-ordered init, fixed
    partial fold order). With ``round_dp`` set, each round's centroids are
    additionally discretized to that many decimals, making the fit
    reproducible ACROSS partition layouts and BLAS builds: FP addition is
    non-associative, so unrounded per-partition partial folds differ by
    ulps between layouts, and after a round or two a corpus point near a
    cell boundary can flip its argmin. Rounding between rounds erases the
    ulps before they compound (the same ``round_dp`` knob as
    ``ivfpq_knn_join``). Use ``centroids_df`` to get the Spark-side frame
    that ``ivf_knn_join`` / ``ivf_write_index`` consume.
    """
    # cache the prepared corpus across rounds (MLlib does the same): every
    # Lloyd iteration is an action, and without this each round re-scans
    # the source and re-runs the spread shuffle. Negligible at local test
    # scale (tiny scan), decisive when the scan is the dominant cost.
    # Default storage degrades to disk spill, not OOM; unpersisted on exit.
    data = spread(df.select(id_col, vec_col), id_col).persist()
    try:
        cents = _init_centroids(data, id_col, vec_col, k) if init is None \
            else np.asarray(init, dtype=np.float64)
        if cents.shape[0] != k:
            raise ValueError(
                f"init has {cents.shape[0]} rows, expected k={k}")
        n_iter = 0
        for n_iter in range(1, max_iter + 1):
            folded = _partials_pass(data, vec_col, cents, round_dp=round_dp)
            counts, sums = folded[:, 0], folded[:, 1:]
            new = np.where(counts[:, None] > 0,
                           sums / np.maximum(counts[:, None], 1), cents)
            if round_dp is not None:
                new = round_half_away(new, round_dp)
            shift = float(np.max(np.linalg.norm(new - cents, axis=1)))
            cents = new
            if shift <= tol:
                break
        return cents, n_iter
    finally:
        data.unpersist()


def centroids_df(spark, centroids: np.ndarray,
                 centroid_id: str = "centroid_id",
                 centroid_vec: str = "centroid") -> DataFrame:
    """The (k,d) ndarray as the tiny DataFrame the IVF operators take."""
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    return local_frame(
        spark, rows, f"{centroid_id} long, {centroid_vec} array<double>")


def kmeans_assign(df: DataFrame, vec_col: str, centroids: np.ndarray,
                  out_col: str = "cluster",
                  dist_col: Optional[str] = None,
                  round_dp: Optional[int] = None) -> DataFrame:
    """Annotate each row with its nearest centroid's index (and
    optionally the squared-L2 distance ‖x−c‖² to it): ``assign_cells``
    under ids 0..k−1, so one Arrow pass, no shuffle, all original
    columns pass through, and a row whose vector is NULL or not d long
    is dropped. ``round_dp`` rounds the assignment scores before the
    argmin (lowest-centroid-id tie-break) — same engine-portability
    rationale as ``kmeans_fit``."""
    cents = np.asarray(centroids, dtype=np.float64)
    out = assign_cells(df, vec_col, np.arange(len(cents), dtype=np.int32),
                       cents, cell_col=out_col, cell_type="int",
                       round_dp=round_dp)
    if not dist_col:
        return out
    cdf = centroids_df(df.sparkSession, cents, "__cid", "__c")
    return (out.join(F.broadcast(cdf), F.col(out_col) == F.col("__cid"))
            .withColumn(dist_col, l2_sq(vec_col, "__c"))
            .drop("__cid", "__c"))


def kmeans_inertia(df: DataFrame, vec_col: str,
                   centroids: np.ndarray) -> float:
    """Sum of squared distances to assigned centroids (the Lloyd's
    objective) — one pass, driver gets a single float."""
    assigned = kmeans_assign(df.select(vec_col), vec_col, centroids,
                             dist_col="__d2")
    return float(assigned.agg(F.sum("__d2")).collect()[0][0] or 0.0)

def _quantize(mat: np.ndarray, scale: int) -> np.ndarray:
    """float matrix -> integer domain via floor(x*scale + 0.5): one
    multiply, one add, one floor — each a single IEEE-754 op, so the
    quantized values are bit-identical in ANY engine that evaluates the
    same formula (no rounding-rule ambiguity: floor is exact and the
    half-up rule is the formula itself, unlike np.round's half-to-even
    vs SQL round()'s half-away)."""
    return np.floor(mat * scale + 0.5).astype(np.int64)


def kmeans_fit_int(df: DataFrame, id_col: str, vec_col: str, k: int,
                   n_rounds: int = 2,
                   scale: int = 1_000_000) -> np.ndarray:
    """Lloyd's k-means in EXACT integer arithmetic — the
    environment-insensitive sibling of ``kmeans_fit``.

    Vectors quantize once to int64 (``floor(x*scale + 0.5)``); every
    assignment score is exact int64 (``‖c‖² − 2x·c``; with unit-norm
    embeddings and scale 1e6 the terms are ~1e11-1e12, eight orders
    below int64 overflow); centroid updates are half-up integer means
    (``floor(Σx/n + 0.5)`` — Σx is an exact int64 < 2^53, so the one
    double division is bit-deterministic too). Consequences, by
    construction rather than by discretization-absorbs-ulps argument:

    - ZERO float arithmetic in any decision → no FP-association,
      BLAS-build, or rounding-rule divergence class exists at all;
    - partial integer sums commute → the result is partition-layout
      invariant exactly, not just almost-always;
    - a DuckDB twin computing the same formulas matches bit-for-bit.

    Runs ``n_rounds`` fixed rounds (no tol — integer centroids either
    repeat exactly or keep moving). Returns int64 (k, d) centroids in
    the quantized domain; divide by ``scale`` for float consumers.
    Physical plan identical to ``kmeans_fit``: one Arrow pass per round
    emitting k partial (count, Σx) rows per partition, no shuffle.
    """
    data = spread(df.select(id_col, vec_col), id_col).persist()
    try:
        cents = _quantize(_init_centroids(data, id_col, vec_col, k), scale)
        for _ in range(n_rounds):
            folded = _int_partials_pass(data, vec_col, cents, scale)
            counts, sums = folded[:, 0], folded[:, 1:]
            upd = counts > 0
            cents = cents.copy()
            cents[upd] = np.floor(
                sums[upd].astype(np.float64) / counts[upd, None] + 0.5
            ).astype(np.int64)
        return cents
    finally:
        data.unpersist()


def _int_partials_pass(df: DataFrame, vec_col: str, cents_q: np.ndarray,
                       scale: int) -> np.ndarray:
    """One exact-integer assignment pass: folded (k, d+1) [count | Σx]
    int64 matrix. Fold order is irrelevant — integer addition commutes.
    A row whose vector is NULL or not d long is skipped."""
    k, d = cents_q.shape
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(cents_q)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, d), dtype=np.int64)
        for pdf in batches:
            pdf, mat = _valid_rows(pdf, vec_col, d)
            if len(pdf) == 0:
                continue
            xq = _quantize(mat, scale)
            assign = block_topk(xq, c, 1, "l2_cell")[0][:, 0]  # exact int64
            counts += np.bincount(assign, minlength=k)
            np.add.at(sums, assign, xq)
        nz = np.nonzero(counts)[0]
        if len(nz) == 0:
            return
        yield pd.DataFrame({
            "cluster": nz.astype("int64"),
            "cnt": counts[nz],
            "vsum": [s.tolist() for s in sums[nz]],
        })

    partials = (
        df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
        .mapInPandas(part, schema="cluster long, cnt long, vsum array<long>")
        .collect()
    )
    folded = np.zeros((k, d + 1), dtype=np.int64)
    for r in partials:
        folded[r["cluster"], 0] += r["cnt"]
        folded[r["cluster"], 1:] += np.asarray(r["vsum"], dtype=np.int64)
    return folded


def kmeans_assign_int(df: DataFrame, vec_col: str, cents_q: np.ndarray,
                      scale: int = 1_000_000,
                      out_col: str = "cluster") -> DataFrame:
    """Exact-integer nearest-centroid annotation (the ``kmeans_assign``
    sibling for quantized centroids): ties break by lowest centroid id
    via argmin's first-index rule — but with exact arithmetic a tie is
    a true tie, not an ulp accident. A row whose vector is NULL or not
    d long is dropped."""
    c_ = np.asarray(cents_q, dtype=np.int64)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(c_)
    cols = df.columns
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in df.schema.fields)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            pdf, mat = _valid_rows(pdf, vec_col, c.shape[1])
            if len(pdf) == 0:
                continue
            sel = block_topk(_quantize(mat, scale), c, 1, "l2_cell")[0]
            out = pdf[cols].copy()
            out[out_col] = sel[:, 0].astype("int32")
            yield out

    return df.mapInPandas(part, schema=f"{fields}, {out_col} int")


def dbscan_clusters(df: DataFrame, id_col: str, dim_cols: list[str],
                    eps: float, min_pts: int,
                    max_rows: int | None = None) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. KDD'96) over a
    LOW-DIMENSIONAL point set via deterministic ε-grid neighbor
    blocking — the density tool the clustering shelf was missing:
    k-means/k-center assume convex blobs; DBSCAN finds arbitrary-shape
    dense regions and, unlike both, has an explicit NOISE class (the
    outlier-document signal a curation pipeline wants surfaced, not
    force-assigned).

    Definitions (classic): a point is CORE when its ε-ball holds
    ≥ ``min_pts`` points (itself included); clusters are the connected
    components of the core-core ε-adjacency; a non-core point with a
    core neighbor is a BORDER point; everything else is NOISE. Classic
    DBSCAN leaves a border point shared by two clusters order-dependent
    — here it joins the core neighbor with the SMALLEST cluster id, so
    the labeling is a pure function of the point set (auditable,
    oracle-checkable). Returns ``(<id_col>, role, cluster_id)`` with
    role ∈ {'core','border','noise'}; cluster_id is the smallest core
    id in the cluster (``connected_components`` convention), NULL for
    noise.

    Physical shape — the MR-DBSCAN grid recipe: each point lands in the
    grid cell ``floor(x_j/ε)`` per dimension; any two points within
    L2 ε are within L∞ ε, i.e. in the SAME or ADJACENT cells, so
    candidate pairs come from ONE equi-join on cell key after each
    point fans out to its 3^d neighbor cells (a pair is generated
    exactly once — the right side keys by its own cell). Exact distance
    then filters candidates. Everything is keyed on cell ids: the join
    shuffles by cell, core counting is a groupBy, and the component
    step reuses ``operators/dedup.connected_components`` (hash-min
    label propagation; core-core edges only, which is also the
    at-scale state bound — edge count tracks dense-region size, not
    corpus²). Skew guard is the grid itself: a cell holds at most the
    points of one ε-box, so per-task candidate work is bounded by
    local density², and AQE splits the residual hot cells.

    DIMENSIONALITY BOUND (stated loudly): the fan-out is 3^d and grid
    blocking loses selectivity as d grows — this operator is for d ≤ 3
    coordinates (geo points, 2-D layout/drift views, a pair of score
    axes). For embeddings, project first (``operators/projection.py``
    random projection or ``pca_project``) — the standard practice —
    rather than grid-blocking 64 raw dims. Exactness: with d small the
    squared distance is ONE fixed-association expression, so both
    engines compare identical doubles against ε² with no rounding rule
    in the loop.
    """
    if not (1 <= len(dim_cols) <= 3):
        raise ValueError(
            f"dbscan_clusters is grid-blocked for 1-3 dims, got "
            f"{len(dim_cols)}; project embeddings down first "
            f"(rp_project / pca_project)")
    if eps <= 0 or min_pts < 1:
        raise ValueError("eps must be > 0 and min_pts >= 1")
    # the component step (connected_components) keys on integer ids;
    # a silent cast('long') would turn string ids into NULLs and
    # collapse every point into one garbage cluster — fail loudly
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"dbscan_clusters needs an integral id column, got "
            f"{id_col!r}: {id_type}; assign a surrogate long id "
            f"(e.g. monotonically_increasing_id or a dense rank) "
            f"before calling")
    from itertools import product

    from .dedup import connected_components
    from .util import guard_pairwise_input

    # r14 (r13 verdict ask #6): at FIXED ε and a fixed coordinate range,
    # 10x points = ~10x density = ~100x ε-pairs (SCALING.md contrast
    # table; the sf10 200k-point fixed-ε cell died in
    # SparkOutOfMemoryError) — callers whose ε does NOT shrink with n
    # pass ``max_rows`` so the burn becomes a refusal. Density-held
    # callers (dbscan_embeddings_2d_scaled's ε ∝ 1/√n) pass None: their
    # pair count stays ~linear by construction.
    guard_pairwise_input(df, max_rows, "dbscan_clusters (fixed eps)",
                         "a density-held eps (shrink eps by "
                         "(n_ref/n)^(1/d), the dbscan_embeddings_2d_"
                         "scaled recipe) or a uniform pre-thinning "
                         "sample")

    d = len(dim_cols)
    pts = df.select(
        F.col(id_col).cast("long").alias("id"),
        *[F.col(c).cast("double").alias(f"x{j}")
          for j, c in enumerate(dim_cols)])
    cells = [F.floor(F.col(f"x{j}") / F.lit(float(eps))).cast("long")
             for j in range(d)]
    right = pts.select(
        F.col("id").alias("id_b"),
        *[F.col(f"x{j}").alias(f"y{j}") for j in range(d)],
        *[cells[j].alias(f"c{j}") for j in range(d)])
    offsets = F.array(*[
        F.struct(*[F.lit(o[j]).alias(f"o{j}") for j in range(d)])
        for o in product((-1, 0, 1), repeat=d)])
    left = pts.select(
        F.col("id").alias("id_a"),
        *[F.col(f"x{j}") for j in range(d)],
        F.explode(offsets).alias("__o"),
        *[cells[j].alias(f"__c{j}") for j in range(d)],
    ).select(
        "id_a", *[f"x{j}" for j in range(d)],
        *[(F.col(f"__c{j}") + F.col("__o")[f"o{j}"]).alias(f"c{j}")
          for j in range(d)])
    dist2 = None
    for j in range(d):
        t = (F.col(f"x{j}") - F.col(f"y{j}")) \
            * (F.col(f"x{j}") - F.col(f"y{j}"))
        dist2 = t if dist2 is None else dist2 + t
    pairs = (left.join(right, [f"c{j}" for j in range(d)])
             .where(dist2 <= F.lit(float(eps) * float(eps)))
             .select("id_a", "id_b")
             .localCheckpoint(eager=False))  # referenced 3x below

    nb = pairs.groupBy("id_a").agg(F.count(F.lit(1)).alias("n_nb"))
    core = (nb.where(F.col("n_nb") >= min_pts)
            .select(F.col("id_a").alias("id"))
            .localCheckpoint(eager=False))

    cc_edges = (pairs.where(F.col("id_a") < F.col("id_b"))
                .join(core.select(F.col("id").alias("id_a")), "id_a")
                .join(core.select(F.col("id").alias("id_b")), "id_b"))
    comp = connected_components(cc_edges, "id_a", "id_b")
    # isolated core points (no core neighbor) are their own cluster
    core_lab = (core.join(comp, core["id"] == comp["node"], "left")
                .select("id", F.coalesce("cluster_id", F.col("id"))
                        .alias("cluster_id"))
                .localCheckpoint(eager=False))

    border = (pairs.where(F.col("id_a") != F.col("id_b"))
              .join(core_lab.select(F.col("id").alias("id_b"),
                                    "cluster_id"), "id_b")
              .join(core.select(F.col("id").alias("id_a")), "id_a",
                    "left_anti")
              .groupBy(F.col("id_a").alias("id"))
              .agg(F.min("cluster_id").alias("cluster_id")))

    out = (pts.select("id")
           .join(core_lab.select("id", F.lit("core").alias("role"),
                                 "cluster_id")
                 .unionByName(border.select(
                     "id", F.lit("border").alias("role"), "cluster_id")),
                 "id", "left"))
    return out.select(
        F.col("id").alias(id_col),
        F.coalesce("role", F.lit("noise")).alias("role"),
        "cluster_id")
