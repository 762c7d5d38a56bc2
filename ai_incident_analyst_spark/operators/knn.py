"""k-NN similarity join (SURVEY.md §2.3 J2 — the flagship operator).

Reference parity: exact brute-force squared-L2 top-k per query, k=5
(``src/vector_db/faiss_db.py:43,49-61``; per-query loop
``src/llm/llm_processor.py:48-52``); the positional id→metadata join J1
(``faiss_db.py:56-58``) becomes a plain equi-join on ``vec_id``.

One exact strategy, one kernel. ``knn_join`` collects the queries to a
numpy matrix on the driver (they must fit there — fine for ≤~1e5
queries × small dim; the reference uses ≤5 per batch, ``main.py:57``)
and broadcasts it; ``mapInPandas`` over corpus partitions scores each
Arrow batch with ``block_topk`` — one BLAS matmul
‖q−c‖² = ‖q‖²+‖c‖²−2q·cᵀ (or q·c over the norms) — and emits only that
partition's LOCAL top-k per query. The final window sees at most
#partitions·k candidates per query, not the whole corpus (the "partial
aggregation" trick): at 1000 executors × 100 TB corpus this is
embarrassingly parallel with a negligible final shuffle. Beyond that:
the IVF / PQ / LSH approximate joins below, or an external ANN [ext].
Every exact top-k in the package scores through ``block_topk``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, l2_sq
from .util import local_frame, spread

_METRICS = ("l2_sq", "cosine")


def round_half_away(x, dp: int):
    """Round to ``dp`` decimals, halves away from zero, ``-0.0`` → ``+0.0``
    — as Spark's ``F.round`` and DuckDB's ``round`` do, NOT ``np.round``'s
    half-to-even: a score exactly on a half at ``dp`` must rank the same
    engine-vs-twin. Every rounded score or coordinate in the package goes
    through here."""
    import numpy as np

    scale = 10.0 ** dp
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale + 0.0


def block_topk(qmat, cmat, k: int, metric: str = "l2_sq",
               round_dp: int | None = None):
    """Exact top-k of every query row against one block of corpus rows.

    ``qmat`` is (nq, d) and ``cmat`` (nc, d), both float64. Scores come
    from one BLAS matmul: ‖q−c‖² = ‖q‖²+‖c‖²−2q·cᵀ for ``l2_sq``
    (clamped at +0.0, so identical vectors never score negative), q·c
    over the norms for ``cosine``. The internal metric ``l2_cell`` is
    the nearest-centroid score ‖c‖²−2q·cᵀ: ‖q‖² is constant per row, so
    it ranks like ``l2_sq``, unclamped — the form every quantizer
    assigns by (IVF cells, k-means, PQ codes) and every SQL twin's cell
    ``ORDER BY`` replays; on int64 inputs it stays exact integer
    arithmetic. ``round_dp`` rounds the scores with
    ``round_half_away`` BEFORE the selection (the repo-wide
    round-then-rank contract). Returns ``(idx, score)``, both
    (nq, min(k, nc)): column indices into ``cmat``, best first, and
    their scores. Ties keep ``cmat``'s row order (stable argsort), so a
    block sorted by id breaks ties by id ascending; NaN ranks last (a
    zero-norm vector under cosine). For k = 1 the same rule selects by
    an argmin instead of a full argsort.
    """
    import numpy as np

    if metric not in _METRICS + ("l2_cell",):
        raise ValueError(f"metric must be one of {_METRICS}")
    cnorm2 = (cmat * cmat).sum(axis=1)
    dot = qmat @ cmat.T  # (nq, nc) — BLAS
    if metric == "l2_cell":
        score = cnorm2[None, :] - 2 * dot
    elif metric == "l2_sq":
        qnorm2 = (qmat * qmat).sum(axis=1)
        # + 0.0: np.maximum keeps a -0.0 score; NaN passes through
        score = np.maximum(qnorm2[:, None] + cnorm2[None, :] - 2.0 * dot,
                           0.0) + 0.0
    else:
        score = _cosine(dot, np.sqrt((qmat * qmat).sum(axis=1)),
                        np.sqrt(cnorm2))
    if round_dp is not None:
        score = round_half_away(score, round_dp)
    key = -score if metric == "cosine" else score
    if k == 1 and key.shape[1]:
        nan = np.isnan(key)
        if nan.any():
            idx = np.where(nan, np.inf, key).argmin(axis=1)
            # a row whose best real score is +inf keeps its first +inf,
            # not an earlier NaN (all-NaN rows keep 0, as argsort does)
            rows = nan[np.arange(len(idx)), idx] & ~nan.all(axis=1)
            idx[rows] = (key[rows] == np.inf).argmax(axis=1)
        else:
            idx = key.argmin(axis=1)
        idx = idx[:, None]
    else:
        idx = np.argsort(key, axis=1, kind="stable")[:, :k]
    return idx, np.take_along_axis(score, idx, axis=1)


def _cosine(dot, anorm, bnorm):
    """``dot / (‖a‖·‖b‖)``, the one cosine score form: a zero-norm row
    or a NaN component scores NaN."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / (anorm[:, None] * bnorm[None, :])


#: left rows per ``block_pairs`` tile: a group's peak score matrix is
#: ``_PAIR_TILE`` × n_b doubles, not n_a × n_b
_PAIR_TILE = 1024


def block_pairs(amat, bmat, threshold: float):
    """The ``(i, j, score)`` cells of two float64 row blocks whose
    cosine (``block_topk``'s form) is ≥ ``threshold``; ``bmat=None``
    pairs ``amat`` with itself, upper triangle ``i < j`` only. A NaN
    score (zero-norm vector, NaN component) is never a pair, as in
    ``knn_join``. Every cosine near-dup pair in the package is scored
    here, ``_PAIR_TILE`` left rows at a time."""
    import numpy as np

    upper = bmat is None
    bmat = amat if upper else bmat
    anorm = np.sqrt((amat * amat).sum(axis=1))
    bnorm = anorm if upper else np.sqrt((bmat * bmat).sum(axis=1))
    out = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
    for s in range(0, len(amat), _PAIR_TILE):
        e, c0 = min(s + _PAIR_TILE, len(amat)), s if upper else 0
        score = _cosine(amat[s:e] @ bmat[c0:].T, anorm[s:e], bnorm[c0:])
        hit = score >= threshold  # NaN compares False
        if upper:
            hit &= np.arange(c0, len(bmat)) > np.arange(s, e)[:, None]
        i, j = np.nonzero(hit)
        out.append((i + s, j + c0, score[i, j]))
    return tuple(np.concatenate(c) for c in zip(*out))


def _stack(rows, what: str):
    """The rows whose vector ``v`` is not NULL, and those vectors as one
    float64 (n, d) matrix — the driver side of every collected query
    set or training sample. Mixed lengths raise ``ValueError``."""
    import numpy as np

    rows = [r for r in rows if r["v"] is not None]
    dims = {len(r["v"]) for r in rows}
    if len(dims) > 1:
        raise ValueError(f"{what}: vectors have mixed lengths {sorted(dims)}")
    return rows, np.array([r["v"] for r in rows], dtype=np.float64)


def _collect_queries(queries: DataFrame, query_id: str, query_vec: str,
                     what: str):
    """The query side on the driver: ``(ids, (nq, d) matrix)``. A NULL
    query vector is dropped; ids keep their native type (long or
    string), so the output schema follows the input."""
    import numpy as np

    rows, qmat = _stack(queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).cast("array<double>").alias("v")).collect(), what)
    return np.array([r["qid"] for r in rows]), qmat


def _hash_sample(df: DataFrame, id_col: str, vec_col: str, n: int):
    """The ``n`` rows with the smallest ``md5(id)`` (ties by id) as a
    float64 matrix: the engine-portable sample behind k-means init and
    PQ training — reproducible across runs, cluster layouts and appends
    of later rows. NULL vectors sort after every other row and are
    skipped."""
    rows = (
        df.select(F.col(id_col).cast("string").alias("i"),
                  F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("__h", F.md5(F.col("i")))
        .orderBy(F.col("v").isNull(), "__h", "i")
        .limit(n)
        .select("v")
        .collect()
    )
    return _stack(rows, f"sample of {vec_col!r}")[1]


def _valid_rows(pdf: pd.DataFrame, vec_col: str, d: int):
    """An Arrow batch without its NULL or not-``d``-long vectors, and
    the kept vectors as a float64 (n, d) matrix. Dirty rows are dropped
    here, not by a Spark filter: a filter on a vector that a Python UDF
    computes makes Catalyst evaluate that UDF twice."""
    import numpy as np

    ok = np.fromiter((v is not None and len(v) == d for v in pdf[vec_col]),
                     bool, len(pdf))
    if not ok.all():
        pdf = pdf[ok].reset_index(drop=True)
    return pdf, np.array(list(pdf[vec_col]),
                         dtype=np.float64).reshape(len(pdf), d)


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 5,
             metric: str = "l2_sq",
             query_id: str = "query_id", query_vec: str = "query_vec",
             corpus_id: str = "vec_id", corpus_vec: str = "embedding",
             round_dp: int | None = None) -> DataFrame:
    """Exact top-k join: for each query row, the k best corpus rows.

    Returns (query_id, vec_id, distance) — ``distance`` is squared L2
    (ascending best) or cosine similarity (descending best). Ties broken
    by corpus id for determinism (FAISS breaks ties by insertion order,
    faiss_db.py:56; an explicit id is the distributed equivalent).
    ``round_dp`` rounds the score BEFORE the top-k per the repo-wide
    round-then-rank discretization contract, so exact-duplicate vectors
    (float-noise ties) rank identically across engines.

    The queries are collected when this is called (one job). Dirty rows
    never reach the output: a query with a NULL vector and a corpus row
    whose vector is NULL or not the queries' length are dropped, and
    under cosine so is a zero-norm vector on either side (its score is
    NaN). Queries of mixed lengths raise ``ValueError``.
    """
    import numpy as np

    if metric not in _METRICS:
        raise ValueError(f"metric must be one of {_METRICS}")

    qtype = queries.schema[query_id].dataType.simpleString()
    ctype_id = corpus.schema[corpus_id].dataType.simpleString()
    out_schema = f"query_id {qtype}, vec_id {ctype_id}, distance double"
    qids, qmat = _collect_queries(queries, query_id, query_vec, "knn_join")
    if not len(qids):
        return local_frame(corpus.sparkSession, [], out_schema)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qmat))

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qmat_ = bq.value
        for pdf in batches:
            pdf, cmat = _valid_rows(pdf, corpus_vec, qmat_.shape[1])
            if len(pdf) == 0:
                continue
            cid = pdf[corpus_id].to_numpy()
            idx, top = block_topk(qmat_, cmat, k, metric, round_dp)
            keep = ~np.isnan(top).ravel()  # NaN ranks last: lossless
            yield pd.DataFrame({
                "query_id": np.repeat(qids_, idx.shape[1])[keep],
                "vec_id": cid[idx].ravel()[keep],
                "distance": top.ravel()[keep],
            })

    # corpus rows sorted by id within partition → the stable argsort in
    # block_topk breaks ties by vec_id, like the final window
    cand = (
        spread(corpus.select(corpus_id, corpus_vec), corpus_id)
        .sortWithinPartitions(corpus_id)
        .mapInPandas(part, schema=out_schema)
    )
    order = (F.col("distance").desc() if metric == "cosine"
             else F.col("distance").asc())
    w = Window.partitionBy("query_id").orderBy(order, F.col("vec_id").asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "vec_id", "distance")
    )


#: the blocked kernel's former name, kept for importers
knn_join_blocked = knn_join


def _centroid_arrays(centroids: DataFrame, centroid_id: str,
                     centroid_vec: str):
    """Collect the centroid table to numpy ONCE (driver-side).

    Centroids are small by contract — k×d doubles, the same object FAISS
    holds in driver memory as the IVF coarse quantizer
    (``src/vector_db/faiss_db.py:19-22``). Collecting here means a
    centroid subtree that is itself a computed plan (a corpus aggregation,
    a k-means fit) runs exactly once, instead of once per consumer: Spark
    cannot reuse a subtree across two BroadcastExchanges, so the
    declarative formulation recomputed it (13-shuffle/6-scan plan,
    PLANS.md r2 audit).
    """
    import numpy as np

    rows = (
        centroids.select(F.col(centroid_id).alias("i"),
                         F.col(centroid_vec).cast("array<double>").alias("v"))
        .orderBy("i").collect()
    )
    if any(r["i"] is None or r["v"] is None for r in rows):
        raise ValueError("centroids must have non-null ids and vectors")
    # ids keep their native type (int ids → int64 array, string ids →
    # object array); the cell column type follows the centroid id type
    ids = np.asarray([r["i"] for r in rows])
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    cell_type = centroids.schema[centroid_id].dataType.simpleString()
    return ids, mat, cell_type


def assign_cells(df: DataFrame, vec_col: str, centroid_ids, centroid_mat,
                 n: int = 1, cell_col: str = "__cell",
                 cell_type: str = "long",
                 round_dp: int | None = None) -> DataFrame:
    """Annotate every row with its ``n`` nearest centroids' ids (n>1
    explodes to n rows per input row). One Arrow pass with the broadcast
    (k,d) centroid matrix: per-batch BLAS matmul + argmin — zero shuffle,
    all input columns pass through. This is the IVF assignment/probe
    primitive; embarrassingly parallel at any corpus size.

    Rows whose vector is null or has the wrong dimensionality are DROPPED
    (they have no meaningful cell; at 100 TB one malformed row must not
    kill the job).

    The cells are ``block_topk``'s ``l2_cell`` top-n: ``round_dp`` rounds
    the scores half away from zero before the selection, and ids sorted
    ascending break ties by centroid id — the (round(score), centroid_id)
    order every SQL twin's cell ``ORDER BY`` replays. The rounding keeps
    a vector near-equidistant from two centroids from picking its cell
    by BLAS-vs-sequential-fold ulps that differ across engines.
    """
    import numpy as np

    sc = df.sparkSession.sparkContext
    b = sc.broadcast((np.asarray(centroid_ids),
                      np.asarray(centroid_mat, dtype=np.float64)))
    cols = df.columns
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    schema = f"{fields}, {cell_col} {cell_type}"

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_, c = b.value
        for pdf in batches:
            pdf, x = _valid_rows(pdf, vec_col, c.shape[1])
            if len(pdf) == 0:
                continue
            sel, _ = block_topk(x, c, n, "l2_cell", round_dp)
            out = pdf[cols].iloc[np.repeat(np.arange(len(pdf)),
                                           sel.shape[1])]
            out = out.reset_index(drop=True)
            out[cell_col] = ids_[sel.ravel()]
            yield out

    return df.mapInPandas(part, schema=schema)


def ivf_knn_join(queries: DataFrame, corpus: DataFrame,
                 centroids: DataFrame, k: int = 5, nprobe: int = 2,
                 query_id: str = "query_id", query_vec: str = "query_vec",
                 corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                 centroid_id: str = "centroid_id",
                 centroid_vec: str = "centroid",
                 round_dp: int | None = None,
                 corpus_cells: DataFrame | None = None) -> DataFrame:
    """Approximate k-NN via inverted-file (IVF) partitioning.

    Corpus rows are assigned to their nearest centroid and each query
    probes only its ``nprobe`` nearest centroids' lists; exact L2 re-ranks
    the probed candidates. Recall is governed by nprobe exactly as in
    FAISS IVF indexes (``src/vector_db/faiss_db.py``); this is the
    in-engine analog of the external ANN hand-off (SURVEY.md §4).

    Physical plan: centroids collected once (k×d, driver — the FAISS
    coarse-quantizer contract), then ONE zero-shuffle Arrow pass per side
    (``assign_cells``), a broadcast join on the cell id, and the usual
    top-k window. The corpus is scanned exactly once and never shuffled
    before the (candidate-only) window — at 100 TB the whole cost is the
    one corpus pass plus a window over ≤ |Q|·nprobe·|cell| candidates.

    ``corpus_cells``: a pre-assigned ``(vec_id, __cv, __cell)`` frame
    from a previous ``assign_cells(..., n=1)`` pass under the SAME
    centroids — pass it when probing the same corpus repeatedly (an
    nprobe sweep, many query batches) so the corpus Arrow pass runs
    once, not once per call; ``ivf_probe_index`` is the persisted-store
    equivalent.
    """
    ids, mat, ctype = _centroid_arrays(centroids, centroid_id, centroid_vec)
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("__qv"))
    probed = assign_cells(q, "__qv", ids, mat, n=nprobe, cell_type=ctype,
                          round_dp=round_dp)
    if corpus_cells is None:
        corpus_cells = assign_cells(
            corpus.select(F.col(corpus_id).alias("vec_id"),
                          F.col(corpus_vec).alias("__cv")),
            "__cv", ids, mat, n=1, cell_type=ctype, round_dp=round_dp)
    scored = (
        F.broadcast(probed).join(corpus_cells, "__cell")
        .withColumn("distance", l2_sq("__qv", "__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(),
                                               F.col("vec_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "vec_id", "distance")
    )


def md5_planes(n_tables: int, n_planes: int, d: int):
    """Engine-portable hyperplane family: component ``(t, j, i)`` is
    ``(md5_int('plane:t:j:i') % 2001 − 1000) / 1000`` with ``md5_int`` the
    big-endian value of the digest's first 4 bytes — pure integer
    arithmetic plus one exact decimal division, so DuckDB regenerates
    every component bit-for-bit (the ``minhash_affine_params`` trick for
    cosine LSH). Components are uniform on [−1, 1] rather than Gaussian:
    a valid sign-hash family for candidate GENERATION (mild corner bias
    costs a little recall uniformity, which the exact re-rank absorbs),
    in exchange for an oracle-checkable registry entry. Production
    default stays the seeded Gaussian family.
    """
    import hashlib

    import numpy as np

    out = np.empty((n_tables, n_planes, d))
    for t in range(n_tables):
        for j in range(n_planes):
            for i in range(d):
                h = int.from_bytes(
                    hashlib.md5(f"plane:{t}:{j}:{i}".encode()).digest()[:4],
                    "big")
                out[t, j, i] = (h % 2001 - 1000) / 1000.0
    return out


def lsh_cosine_knn_join(queries: DataFrame, corpus: DataFrame, k: int = 5,
                        n_planes: int = 12, n_tables: int = 4, seed: int = 42,
                        query_id: str = "query_id", query_vec: str = "query_vec",
                        corpus_id: str = "vec_id",
                        corpus_vec: str = "embedding",
                        dim: int | None = None,
                        plane_fn: str = "gaussian",
                        n_probes: int = 0) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH bucketing.

    ``n_tables`` independent hash tables; in each, a vector's bucket is the
    ``n_planes`` sign bits of its dot products with seeded Gaussian
    hyperplanes (sign match probability = 1 − θ/π, the classic SimHash-for
    -cosine bound). Candidates = corpus rows sharing a (table, bucket) with
    the query in ANY table; exact cosine re-ranks the candidates.

    ``plane_fn='md5'`` swaps the Gaussian planes for the portable
    ``md5_planes`` family, putting buckets, candidates and the re-ranked
    top-k inside the DuckDB oracle gate (sign bits are FP-robust: a flip
    needs |dot| within FP-noise of 0, measure-zero on real vectors).

    Physical plan: one broadcast (the d×(tables·planes) plane matrix — a
    few KB), one Arrow pass per side to bucket, an equi-join on
    (table, bucket), then the usual window top-k. The corpus is never
    cross-joined; bucket sizes are ~n/2^planes per table, so the join is
    O(n·tables) candidate generation exactly like ``minhash_lsh_neardup``.
    Recall grows with n_tables, precision (candidate sparsity) with
    n_planes.

    ``n_probes`` enables MULTI-PROBE LSH (Lv et al. 2007): the QUERY
    side additionally probes the buckets reached by flipping each of
    its ``n_probes`` lowest-margin sign bits — the planes whose dot
    product sits closest to zero are exactly the ones a true neighbor
    most likely landed on the other side of, so each extra probe buys
    near-table-level recall at probe-row cost instead of re-hashing the
    CORPUS into another table (the memory-free recall knob). Margins
    are rounded to 6 dp before the flip ordering (stable argsort,
    plane-index tie-break) so the probe set is engine-portable; the
    corpus side is untouched — still one row per (vector, table).

    A query or corpus row whose vector is NULL, not ``d`` long or
    zero-norm is dropped in the bucketing pass.
    """
    import numpy as np

    # pass dim when known: the probe below is a Spark job per plan build
    # (and pays any upstream repartition before its limit-1 collect)
    d = dim if dim is not None else len(corpus.select(corpus_vec).first()[0])
    if plane_fn == "md5":
        planes = md5_planes(n_tables, n_planes, d)
    else:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_tables, n_planes, d))
    sc = corpus.sparkSession.sparkContext
    bp = sc.broadcast(planes)

    if not 0 <= n_probes < n_planes:
        raise ValueError(
            f"n_probes must be in [0, n_planes), got {n_probes}")

    def bucketize(id_name: str, vec_name: str, out_vec: str,
                  id_type: str, probes: int = 0):
        # id keeps its input type (long, string, …) — same contract as
        # knn_join_blocked / pq_encode after the r4 ADVICE fix
        out_schema = (f"{id_name} {id_type}, __table int, __bucket long, "
                      f"{out_vec} array<double>")

        def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import numpy as np  # noqa: F811 — worker-side
            pl = bp.value
            n_t, n_p, d_ = pl.shape
            weights = (1 << np.arange(n_p)).astype(np.int64)
            for pdf in batches:
                pdf, mat = _valid_rows(pdf, vec_name, d_)
                # zero-norm: no cosine (knn_join's rule), and the verify
                # would divide by zero
                nz = (mat * mat).sum(axis=1) > 0
                pdf, mat = pdf[nz].reset_index(drop=True), mat[nz]
                if len(pdf) == 0:
                    continue
                ids = pdf[id_name].to_numpy()
                frames = []
                for t in range(n_t):
                    dots = mat @ pl[t].T  # (n, planes)
                    bits = dots > 0
                    buckets = bits @ weights
                    frames.append(pd.DataFrame({
                        id_name: ids, "__table": t, "__bucket": buckets,
                        out_vec: list(mat),
                    }))
                    if probes:
                        # stable argsort over 6dp-rounded |margins|:
                        # ties resolve to the lower plane index in any
                        # engine — the multi-probe flip order contract
                        order = np.argsort(
                            round_half_away(np.abs(dots), 6),
                            axis=1, kind="stable")
                        for j in range(probes):
                            flipped = buckets ^ weights[order[:, j]]
                            frames.append(pd.DataFrame({
                                id_name: ids, "__table": t,
                                "__bucket": flipped, out_vec: list(mat),
                            }))
                yield pd.concat(frames, ignore_index=True)

        return part, out_schema

    qpart, qschema = bucketize(
        "query_id", "__qv", "__qvec",
        queries.schema[query_id].dataType.simpleString(),
        probes=n_probes)
    cpart, cschema = bucketize(
        "vec_id", "__cv", "__cvec",
        corpus.schema[corpus_id].dataType.simpleString())
    qb = (queries.select(F.col(query_id).alias("query_id"),
                         F.col(query_vec).cast("array<double>").alias("__qv"))
          .mapInPandas(qpart, schema=qschema))
    cb = (spread(corpus.select(F.col(corpus_id).alias("vec_id"),
                               F.col(corpus_vec).cast("array<double>").alias("__cv")),
                 corpus_id)
          .mapInPandas(cpart, schema=cschema))

    cand = (
        F.broadcast(qb).join(cb, ["__table", "__bucket"])
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("distance", cosine_similarity("__qvec", "__cvec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").desc(),
                                               F.col("vec_id").asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "vec_id", "distance")
    )


def ivf_write_index(corpus: DataFrame, centroids: DataFrame, path: str,
                    corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                    centroid_id: str = "centroid_id",
                    centroid_vec: str = "centroid",
                    round_dp: int | None = None) -> None:
    """Materialize the IVF index: corpus rows assigned to their nearest
    centroid and written ``partitionBy(__cell)`` — one directory per
    inverted list.

    This turns the per-query assignment pass of ``ivf_knn_join`` into a
    one-time build (the FAISS ``index.add`` analog), and — the part that
    matters at 100 TB — makes the probe side PARTITION-PRUNED: a query
    batch that probes cells {3, 17} reads two directories, not the
    corpus. The reference rebuilds its FAISS index in memory per run
    (src/vector_db/faiss_db.py:24-43); a parquet inverted file persists
    and co-locates each list's vectors.

    Plan: one zero-shuffle assignment pass over the corpus
    (``assign_cells``), then the single layout shuffle that
    ``partitionBy`` needs anyway.
    """
    ids, mat, ctype = _centroid_arrays(centroids, centroid_id, centroid_vec)
    (assign_cells(corpus, corpus_vec, ids, mat, n=1, cell_type=ctype,
                  round_dp=round_dp)
     .repartition(F.col("__cell"))
     .write.partitionBy("__cell").mode("overwrite").parquet(path))


def ivf_probe_index(spark, path: str, queries: DataFrame,
                    centroids: DataFrame, k: int = 5, nprobe: int = 2,
                    query_id: str = "query_id", query_vec: str = "query_vec",
                    corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                    centroid_id: str = "centroid_id",
                    centroid_vec: str = "centroid",
                    round_dp: int | None = None,
                    where=None) -> DataFrame:
    """Probe a persisted IVF index: identical results to ``ivf_knn_join``
    over the same centroids, but the corpus scan is restricted to the
    probed cells with a STATIC ``IN`` predicate so parquet partition
    pruning drops every other directory at planning time.

    The probed-cell set is ≤ |queries|·nprobe ints — collected to the
    driver (KB-scale) precisely because a static literal list is what the
    file-index pruner can consume; a join against a cells DataFrame would
    read all partitions. The probed-queries frame is localCheckpointed so
    its Arrow pass runs once, not once for the cell collect and again in
    the join.

    ``where`` (optional Column over the index's metadata columns) makes
    this FILTERED vector search: the predicate lands on the pruned
    parquet scan (PushedFilters — row groups skip before decode), and
    because cell assignment is row-local the result is identical to
    probing an index built from the pre-filtered corpus. Top-k is taken
    AFTER the filter, so every returned hit satisfies it (the
    metadata-filtered-ANN contract, not a lossy post-filter of an
    unfiltered top-k).
    """
    ids, mat, ctype = _centroid_arrays(centroids, centroid_id, centroid_vec)
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("__qv"))
    probed = assign_cells(q, "__qv", ids, mat, n=nprobe, cell_type=ctype,
                          round_dp=round_dp) \
        .localCheckpoint(eager=True)
    cells = [r["__cell"] for r in probed.select("__cell").distinct().collect()]
    index = spark.read.parquet(path).filter(F.col("__cell").isin(cells))
    if where is not None:
        index = index.filter(where)

    scored = (
        F.broadcast(probed)
        .join(index, "__cell")
        .withColumn("distance", l2_sq("__qv", corpus_vec))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(),
                                               F.col(corpus_id).asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", F.col(corpus_id).alias("vec_id"), "distance")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------

def pq_train_codebooks(corpus: DataFrame, id_col: str, vec_col: str,
                       m: int = 4, kc: int = 16, sample_n: int = 2048,
                       iters: int = 8):
    """Train PQ codebooks (Jégou et al. 2011) on a bounded deterministic
    sample: the ``sample_n`` rows with smallest ``md5(id)`` (the same
    hash-ordered rule as k-means init / Bernoulli sampling — reproducible
    across runs, cluster layouts, and appends) are collected to the
    driver, split into ``m`` contiguous subspaces, and each subspace gets
    its own numpy Lloyd's with hash-order-first-``kc`` init.

    Returns ``(m, kc, d/m)`` float64 codebooks. Training on a driver
    sample is the standard practice (FAISS trains PQ on ≤ a few 10^5
    vectors regardless of corpus size); the collect is capped at
    ``sample_n`` rows by construction.
    """
    return _pq_lloyd(_hash_sample(corpus, id_col, vec_col, sample_n),
                     m, kc, iters)


def pq_encode(df: DataFrame, id_col: str, vec_col: str, codebooks) -> DataFrame:
    """Encode each vector as ``m`` small code ints (nearest codeword per
    subspace, ties → lowest code): ``(id, code array<int>)``.

    One Arrow pass, no shuffle; at 100 TB this is the compression step
    that shrinks an 8-byte-per-dim corpus to ~1 byte per subspace, and it
    runs embarrassingly parallel as a ``mapInPandas`` over whatever
    partitioning the corpus already has.

    The id column keeps its input type (long, string, …) — derived from
    the schema, like ``_ivfpq_encode`` does for ``__cell``. A row whose
    vector is NULL or not ``m·dsub`` long is dropped.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    sc = df.sparkSession.sparkContext
    bb = sc.broadcast(codebooks)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bb.value
        for pdf in batches:
            pdf, mat = _valid_rows(pdf, vec_col,
                                   books.shape[0] * books.shape[2])
            if len(pdf) == 0:
                continue
            yield pd.DataFrame({"id": pdf[id_col],
                                "code": list(_pq_codes(mat, books))})

    return (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .mapInPandas(enc, schema=f"id {id_type}, code array<int>")
        .select(F.col("id").alias(id_col), "code")
    )


def pq_knn_join(queries: DataFrame, corpus: DataFrame, codebooks,
                k: int = 5,
                query_id: str = "query_id", query_vec: str = "query_vec",
                corpus_id: str = "vec_id", corpus_vec: str = "embedding") -> DataFrame:
    """Approximate k-NN in the compressed domain via asymmetric distance
    computation (ADC): the query stays exact, each corpus vector is its
    PQ code, and ‖q−c‖² ≈ Σ_j lut[q][j][code_j] where the per-query
    lookup table holds exact sub-distances to every codeword.

    Physical plan: queries (fixed cardinality by contract, same as
    ``knn_join_blocked``) collect to a LUT of shape (nq, m, kc) — a few
    KB — broadcast; one Arrow pass over the ENCODED corpus does pure
    integer gathers + sums and emits each partition's local top-k per
    query; a final window keeps the global top-k of #partitions·k rows.
    The corpus is never decoded, never shuffled; scan volume is the code
    bytes, ~d·8/m× smaller than raw vectors — the reason PQ is the
    standard RAM-resident billion-vector design.

    Ties: encode ties → lowest code; top-k ties → lowest ``vec_id``
    (the repo-wide kNN rule). Dirty rows follow ``knn_join``: NULL
    vectors are dropped, mixed query lengths raise ``ValueError`` and no
    queries give an empty frame.
    """
    import numpy as np

    m, kc, dsub = codebooks.shape
    qtype = queries.schema[query_id].dataType.simpleString()
    ctype_id = corpus.schema[corpus_id].dataType.simpleString()
    out_schema = f"query_id {qtype}, vec_id {ctype_id}, distance double"
    qids, qmat = _collect_queries(queries, query_id, query_vec,
                                  "pq_knn_join")
    if not len(qids):
        return local_frame(corpus.sparkSession, [], out_schema)
    # LUT[nq, m, kc]: exact squared-L2 between query subvector and codeword
    lut = np.empty((len(qids), m, kc))
    for j in range(m):
        qsub = qmat[:, j * dsub:(j + 1) * dsub]           # (nq, dsub)
        diff = qsub[:, None, :] - codebooks[j][None, :, :]  # (nq, kc, dsub)
        lut[:, j, :] = (diff * diff).sum(axis=2)
    sc = corpus.sparkSession.sparkContext
    blut = sc.broadcast((qids, lut))

    encoded = pq_encode(corpus, corpus_id, corpus_vec, codebooks)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, lut_ = blut.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cid = pdf[corpus_id].to_numpy()
            codes = np.array(list(pdf["code"]), dtype=np.int64)  # (nc, m)
            # gather: dist[q, c] = Σ_j lut[q, j, codes[c, j]]
            dist = np.zeros((nq, len(cid)))
            for j in range(m):
                dist += lut_[:, j, :][:, codes[:, j]]
            kk = min(k, dist.shape[1])
            idx = np.argsort(dist, axis=1, kind="stable")[:, :kk]
            yield pd.DataFrame({
                "query_id": np.repeat(qids_, kk),
                "vec_id": cid[idx].ravel(),
                "distance": np.take_along_axis(dist, idx, axis=1).ravel(),
            })

    cand = (
        spread(encoded, corpus_id)
        .sortWithinPartitions(corpus_id)
        .mapInPandas(scan, schema=out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("vec_id").asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "vec_id", "distance")
    )


def _pq_lloyd(x, m: int, kc: int, iters: int,
              round_dp: int | None = None):
    """Driver-side Lloyd per subspace over a sample matrix — the shared
    trainer behind ``pq_train_codebooks`` (raw corpus) and
    ``ivfpq_knn_join`` (cell residuals).

    ``round_dp`` discretizes each round's assignment distances (before
    the argmin) and updated codewords, half away from zero — the
    ``kmeans_fit`` knob: it makes the trained codebooks reproducible
    cross-engine so the WHOLE trained IVF-PQ composition can replay as a
    DuckDB twin (``_ivfpq_trained_sql``)."""
    import numpy as np

    if len(x) < kc:
        raise ValueError(f"kc={kc} exceeds sample size {len(x)}")
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.empty((m, kc, dsub))
    for j in range(m):
        sub = x[:, j * dsub:(j + 1) * dsub]
        c = sub[:kc].copy()
        for _ in range(iters):
            a = block_topk(sub, c, 1, "l2_sq", round_dp)[0][:, 0]
            for ci in range(kc):
                pts = sub[a == ci]
                if len(pts):
                    c[ci] = pts.mean(axis=0)
            if round_dp is not None:
                c = round_half_away(c, round_dp)
        books[j] = c
    return books


def _pq_codes(x, books, round_dp: int | None = None):
    """Nearest codeword per subspace, ties → lowest code: the (n, m)
    int32 PQ codes of ``x`` under ``(m, kc, dsub)`` codebooks — the one
    encoder behind ``pq_encode`` and ``_ivfpq_encode``."""
    import numpy as np

    m, _, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.int32)
    for j in range(m):
        codes[:, j] = block_topk(x[:, j * dsub:(j + 1) * dsub], books[j],
                                 1, "l2_cell", round_dp)[0][:, 0]
    return codes


def _py(v):
    """numpy scalar -> python scalar (dict keys / Row values must not
    depend on numpy types, and string centroid ids must not be forced
    through int())."""
    import numpy as np

    return v.item() if isinstance(v, np.generic) else v


def _ivfpq_train(corpus: DataFrame, cmat, m: int, kc: int,
                 sample_n: int, iters: int,
                 corpus_id: str, corpus_vec: str,
                 round_dp: int | None = None):
    """Codebooks over cell RESIDUALS of a bounded hash-ordered sample."""
    xs = _hash_sample(corpus, corpus_id, corpus_vec, sample_n)
    assign = block_topk(xs, cmat, 1, "l2_cell", round_dp)[0][:, 0]
    return _pq_lloyd(xs - cmat[assign], m, kc, iters, round_dp=round_dp)


def _ivfpq_encode(corpus: DataFrame, ids, cmat, books, ctype: str,
                  corpus_id: str, corpus_vec: str,
                  round_dp: int | None = None) -> DataFrame:
    """Assign + residual-PQ-encode in ONE Arrow pass:
    ``(vec_id, __cell, code)`` — vec_id keeps its input type, like
    ``__cell`` keeps the centroid-id type via ``ctype``. ``round_dp``
    rounds both assignments' scores (cell, code) for cross-engine
    replay. A row whose vector is NULL or not the centroids' length is
    dropped."""
    id_type = corpus.schema[corpus_id].dataType.simpleString()
    sc = corpus.sparkSession.sparkContext
    bb = sc.broadcast((ids, cmat, books))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_, c, bk = bb.value
        for pdf in batches:
            pdf, x = _valid_rows(pdf, "__cv", c.shape[1])
            if len(pdf) == 0:
                continue
            cell_rows = block_topk(x, c, 1, "l2_cell", round_dp)[0][:, 0]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"], "__cell": ids_[cell_rows],
                "code": list(_pq_codes(x - c[cell_rows], bk, round_dp))})

    return (
        spread(corpus.select(F.col(corpus_id).alias("vec_id"),
                             F.col(corpus_vec).cast("array<double>")
                             .alias("__cv")), "vec_id")
        .sortWithinPartitions("vec_id")
        .mapInPandas(enc, schema=f"vec_id {id_type}, __cell {ctype}, "
                                 "code array<int>")
    )


def _ivfpq_luts(queries: DataFrame, ids, cmat, books, nprobe: int,
                query_id: str, query_vec: str,
                round_dp: int | None = None):
    """Per-(query, probed cell) ADC lookup tables —
    |Q|·nprobe·m·kc doubles, driver-built from the collected queries.
    The probed cells are ``block_topk``'s ``l2_cell`` top-nprobe, scores
    rounded at ``round_dp``."""
    import numpy as np

    m, kc, dsub = books.shape
    qids, qmat = _collect_queries(queries, query_id, query_vec,
                                  "ivfpq_knn_join")
    if not len(qids):
        return {}
    probes, _ = block_topk(qmat, cmat, nprobe, "l2_cell", round_dp)
    luts = {}
    for qid, qv, prs in zip(qids, qmat, probes):
        for pr in prs:
            qres = qv - cmat[pr]
            lut = np.empty((m, kc))
            for j in range(m):
                diff = qres[j * dsub:(j + 1) * dsub][None, :] - books[j]
                lut[j] = (diff * diff).sum(axis=1)
            luts[(_py(qid), _py(ids[pr]))] = lut
    return luts


def _ivfpq_scan(encoded: DataFrame, luts, m: int, k: int,
                qtype: str = "bigint",
                round_dp: int | None = None) -> DataFrame:
    """Compressed-domain candidate generation + global top-k window.
    ``qtype`` is the query-id Spark type (the callers pass the queries
    frame's schema type); vec_id's type comes from ``encoded``.

    ``round_dp`` ranks on the ADC distance ROUNDED to that many
    decimals (both the per-cell cut and the global window): coarse
    codebooks give many candidates IDENTICAL codes and so identical
    distances up to FP association order — a 1-ulp cross-engine
    difference must not flip which tied candidate survives the top-k
    boundary. The oracle twin rounds the same way."""
    import numpy as np

    id_type = dict(encoded.dtypes)["vec_id"]
    sc = encoded.sparkSession.sparkContext
    bl = sc.broadcast(luts)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        by_cell = {}
        for (qid_, cell_), lut in bl.value.items():
            by_cell.setdefault(cell_, []).append((qid_, lut))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = pdf["__cell"].to_numpy()
            cid = pdf["vec_id"].to_numpy()
            codes = np.array(list(pdf["code"]), dtype=np.int64)
            out_q, out_v, out_d = [], [], []
            for cell_ in np.unique(cells):
                plist = by_cell.get(_py(cell_))
                if not plist:
                    continue
                mask = cells == cell_
                ccodes, cids = codes[mask], cid[mask]
                for qid_, lut in plist:
                    dist = np.zeros(len(cids))
                    for j in range(m):
                        dist += lut[j][ccodes[:, j]]
                    if round_dp is not None:
                        dist = round_half_away(dist, round_dp)
                    kk = min(k, len(cids))
                    idx = np.argsort(dist, kind="stable")[:kk]
                    out_q.append(np.full(kk, qid_))
                    out_v.append(cids[idx])
                    out_d.append(dist[idx])
            if out_q:
                yield pd.DataFrame({
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "distance": np.concatenate(out_d)})

    cand = encoded.mapInPandas(
        scan, schema=f"query_id {qtype}, vec_id {id_type}, distance double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("vec_id").asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "vec_id", "distance")
    )


def ivfpq_knn_join(queries: DataFrame, corpus: DataFrame,
                   centroids: DataFrame, k: int = 5, nprobe: int = 2,
                   m: int = 4, kc: int = 16, train_sample: int = 2048,
                   train_iters: int = 8,
                   query_id: str = "query_id", query_vec: str = "query_vec",
                   corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                   centroid_id: str = "centroid_id",
                   centroid_vec: str = "centroid",
                   books=None, round_dp: int | None = None) -> DataFrame:
    """IVF-PQ (the FAISS ``IVFADC`` composition): coarse cells prune the
    corpus, PQ codes of the RESIDUAL ``x − centroid(x)`` compress what
    remains, and queries score candidates in the compressed domain via
    per-(query, probed-cell) lookup tables — ‖q−x‖² ≈ ‖(q−c) − pq(x−c)‖².

    The billion-vector recipe end to end: scan volume is the code bytes,
    the corpus is assigned+encoded in ONE Arrow pass and never shuffled
    before the candidate-only top-k window; query LUTs are
    |Q|·nprobe·m·kc doubles, broadcast. Codebooks train on a bounded
    hash-ordered residual sample (the ``pq_train_codebooks`` contract).

    The two halves are independently SQL-oracle-checked in the registry
    (``knn_ivf``: assign/probe/re-rank; ``knn_pq``: encode/ADC); with
    ``books`` passed explicitly (fixed codebooks, no training) the WHOLE
    composition is deterministic math and the ``knn_ivfpq_fixed``
    registry entry hash-matches a DuckDB twin. ``books=None`` trains
    residual codebooks on a bounded sample (the production default);
    that variant carries recall/exactness pytest proofs instead.
    """
    import numpy as np

    ids, mat, ctype = _centroid_arrays(centroids, centroid_id, centroid_vec)
    cmat = np.asarray(mat, dtype=np.float64)
    if books is None:
        books = _ivfpq_train(corpus, cmat, m, kc, train_sample,
                             train_iters, corpus_id, corpus_vec,
                             round_dp=round_dp)
    else:
        books = np.asarray(books, dtype=np.float64)
    encoded = _ivfpq_encode(corpus, ids, cmat, books, ctype,
                            corpus_id, corpus_vec, round_dp=round_dp)
    luts = _ivfpq_luts(queries, ids, cmat, books, nprobe,
                       query_id, query_vec, round_dp=round_dp)
    return _ivfpq_scan(encoded, luts, m, k,
                       qtype=queries.schema[query_id].dataType.simpleString(),
                       round_dp=round_dp)


def ivfpq_write_index(corpus: DataFrame, centroids: DataFrame, path: str,
                      m: int = 4, kc: int = 16, train_sample: int = 2048,
                      train_iters: int = 8,
                      corpus_id: str = "vec_id",
                      corpus_vec: str = "embedding",
                      centroid_id: str = "centroid_id",
                      centroid_vec: str = "centroid",
                      round_dp: int | None = None) -> None:
    """Materialize the IVF-PQ index: residual codes written
    ``partitionBy(__cell)`` (one directory per inverted list — the
    ``ivf_write_index`` layout, but holding m small ints per vector
    instead of the raw floats: the ~d·8/m× shrink is the point), plus an
    ``_meta`` sidecar (underscore-prefixed → invisible to parquet
    discovery) carrying centroids and codebooks so a probe needs no
    retraining and no access to the build-time frames.
    """
    import numpy as np

    ids, mat, ctype = _centroid_arrays(centroids, centroid_id, centroid_vec)
    cmat = np.asarray(mat, dtype=np.float64)
    books = _ivfpq_train(corpus, cmat, m, kc, train_sample, train_iters,
                         corpus_id, corpus_vec, round_dp=round_dp)
    encoded = _ivfpq_encode(corpus, ids, cmat, books, ctype,
                            corpus_id, corpus_vec, round_dp=round_dp)
    (encoded.repartition(F.col("__cell"))
     .write.partitionBy("__cell").mode("overwrite").parquet(path))
    spark = corpus.sparkSession
    meta_rows = (
        [("cent", int(r), 0, [float(x) for x in cmat[r]],
          str(_py(ids[r]))) for r in range(len(ids))]
        + [("book", j, c, [float(x) for x in books[j, c]], "")
           for j in range(books.shape[0]) for c in range(books.shape[1])]
    )
    local_frame(
        spark, meta_rows,
        "kind string, i int, j int, vec array<double>, cell_id string")         .coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta")


def ivfpq_probe_index(spark, path: str, queries: DataFrame, k: int = 5,
                      nprobe: int = 2,
                      query_id: str = "query_id",
                      query_vec: str = "query_vec",
                      round_dp: int | None = None) -> DataFrame:
    """Probe a persisted IVF-PQ index: identical results to
    ``ivfpq_knn_join`` over the same centroids/codebooks, but the code
    scan is restricted to the probed cells with a STATIC ``IN`` so
    parquet partition pruning drops every other inverted list at
    planning time (the ``ivf_probe_index`` contract, compressed
    domain)."""
    import numpy as np

    meta = spark.read.parquet(f"{path}/_meta").collect()
    cents = sorted(((r["i"], r["cell_id"], r["vec"]) for r in meta
                    if r["kind"] == "cent"))
    # recover the cell ids' native type from the index itself (they are
    # stored as strings in _meta because centroid ids may be strings)
    cell_type = dict(spark.read.parquet(path).dtypes)["__cell"]
    if cell_type in ("bigint", "int"):
        ids = np.array([int(c[1]) for c in cents])
    else:
        ids = np.array([c[1] for c in cents], dtype=object)
    cmat = np.array([c[2] for c in cents], dtype=np.float64)
    brows = [(r["i"], r["j"], r["vec"]) for r in meta if r["kind"] == "book"]
    m = 1 + max(b[0] for b in brows)
    kc = 1 + max(b[1] for b in brows)
    dsub = len(brows[0][2])
    books = np.empty((m, kc, dsub))
    for j, c, vec in brows:
        books[j, c] = vec
    luts = _ivfpq_luts(queries, ids, cmat, books, nprobe,
                       query_id, query_vec, round_dp=round_dp)
    cells = sorted({cell for (_, cell) in luts})
    # sortWithinPartitions restores the vec_id order the stable-argsort
    # tie-break contract needs — the partitionBy shuffle at write time
    # left row order arbitrary (equal ADC distances would otherwise pick
    # a nondeterministic winner at the local top-k boundary)
    encoded = (spark.read.parquet(path)
               .filter(F.col("__cell").isin(cells))
               .sortWithinPartitions("vec_id"))
    return _ivfpq_scan(encoded, luts, m, k,
                       qtype=queries.schema[query_id].dataType.simpleString(),
                       round_dp=round_dp)


def mutual_knn_pairs(df: DataFrame, id_col: str, vec_col: str,
                     k: int = 4, metric: str = "cosine",
                     round_dp: int | None = 6) -> DataFrame:
    """Reciprocal nearest-neighbor pairs: ``(id_a, id_b, distance)``
    where each side is in the OTHER's top-k — the symmetric pruning
    that separates genuine semantic twins from hub-induced one-way
    matches (a generic hub document sits in thousands of top-k lists;
    almost none of them sit in ITS list, so the mutuality test drops
    hub edges at no model cost — the rNN trick from image-matching and
    SemDeDup-style curation).

    Built from the exact ``knn_join`` of the corpus against itself
    (self-matches excluded by taking k+1 and dropping the self edge):
    one blocked scoring pass, then the directed edge list joins ITSELF
    on the reversed pair — edge-list-sized work, no
    second scoring pass. ``round_dp`` rounds scores BEFORE the
    top-(k+1) ranking (passed through to ``knn_join``) per the repo
    round-then-rank discretization contract, matching
    ``build_knn_graph``/``nn_descent_graph`` — a float-noise tie
    (e.g. duplicate vectors) would otherwise pick different edges in
    Spark vs a SQL twin that also ranks rounded sims. For corpora past
    the exact-kNN envelope, feed the directed edges from
    ``ivf_knn_join`` instead; the mutuality join is identical.
    """
    q = df.select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("query_vec"))
    edges = (knn_join(q, df, k=k + 1, metric=metric,
                      corpus_id=id_col, corpus_vec=vec_col,
                      round_dp=round_dp)
             .where(F.col("query_id") != F.col("vec_id")))
    # the edge list feeds both sides of the mutuality semi-join; cut
    # lineage so the scoring pass runs once, not once per reference
    # (it is n·k rows — tiny next to the scoring pass)
    edges = edges.localCheckpoint(eager=False)
    back = edges.select(F.col("query_id").alias("vec_id"),
                        F.col("vec_id").alias("query_id"))
    return (edges.join(back, ["query_id", "vec_id"], "left_semi")
            .where(F.col("query_id") < F.col("vec_id"))
            .select(F.col("query_id").alias("id_a"),
                    F.col("vec_id").alias("id_b"),
                    "distance"))


def mutual_knn_pairs_ivf(df: DataFrame, id_col: str, vec_col: str,
                         centroids: DataFrame, k: int = 4, nprobe: int = 2,
                         centroid_id: str = "centroid_id",
                         centroid_vec: str = "centroid",
                         round_dp: int | None = 6) -> DataFrame:
    """Reciprocal nearest-neighbor pairs over the FULL corpus via IVF
    shortlisting — the scale path ``mutual_knn_pairs``' docstring
    promises ("for corpora past the exact-kNN envelope, feed the
    directed edges from ``ivf_knn_join``").

    Unlike ``ivf_knn_join`` (small query batch, broadcast probe side),
    here the query side IS the corpus, so nothing is broadcast: the
    corpus gets ONE zero-shuffle Arrow assignment pass per role (rank-1
    cell as list member via ``assign_cells(n=1)``, ``nprobe`` nearest
    cells as query), then the two sides COGROUP on the cell id and each
    cell scores with ONE numpy matmul, keeping only each prober's
    LOCAL top-(k+1) (r12 — the first cut equi-joined the sides and
    scored row-wise with an interpreted array expression: 78M candidate
    rows / >200 s at sf10 under a 1024-cell quantizer; the BLAS cogroup
    path is 4-5× faster and hands the global window ≤ nprobe·(k+1)
    rows per query instead of the full candidate set). The global
    round-then-rank top-(k+1) window finishes the exact semantics:
    local-then-global top-k is lossless under the same (distance,
    vec_id) order. Self edges are dropped after ranking (the
    ``mutual_knn_pairs`` k+1 contract), and the mutuality test is the
    same edge-list left-semi self-join on the reversed pair:
    edge-sized work, the corpus is scored only against probed cells.
    At 100 TB the plan is two linear Arrow passes + one cell-keyed
    cogroup shuffle whose skew follows cell sizes (balance visible via
    ``ivf_cell_stats``; re-train centroids when a cell runs hot).

    Recall inherits IVF semantics: an rNN pair is found iff each side
    probes the other's cell — pairs are "mutual within the probed
    shortlists", exactly reproducible (and reproduced, at ``round_dp``
    discretization) by a SQL twin that replays assignment and probing.
    """
    import numpy as np

    ids, mat, ctype = _centroid_arrays(centroids, centroid_id, centroid_vec)
    base = df.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("__cv"))
    members = assign_cells(base, "__cv", ids, mat, n=1,
                           cell_type=ctype, round_dp=round_dp)
    probers = assign_cells(
        base.select(F.col("vec_id").alias("query_id"),
                    F.col("__cv").alias("__qv")),
        "__qv", ids, mat, n=nprobe, cell_type=ctype, round_dp=round_dp)
    # Each cell is one ``block_topk`` call, scores rounded at round_dp
    # BEFORE selection (the discretization-absorbs-ulps contract of
    # assign_cells); members arrive sorted by vec_id so the stable
    # argsort tie-breaks by id exactly like the SQL twin's ORDER BY.
    qt = df.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qt}, vec_id {qt}, distance double"

    def score_cell(_key, probe_pdf, member_pdf):
        if len(probe_pdf) == 0 or len(member_pdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "vec_id": [], "distance": []})
        member_pdf = member_pdf.sort_values("vec_id")
        idx, top = block_topk(
            np.array(list(probe_pdf["__qv"]), dtype=np.float64),
            np.array(list(member_pdf["__cv"]), dtype=np.float64),
            k + 1, "l2_sq", round_dp)
        return pd.DataFrame({
            "query_id": np.repeat(probe_pdf["query_id"].to_numpy(),
                                  idx.shape[1]),
            "vec_id": member_pdf["vec_id"].to_numpy()[idx].ravel(),
            "distance": top.ravel(),
        })

    scored = (probers.groupBy("__cell")
              .cogroup(members.groupBy("__cell"))
              .applyInPandas(score_cell, schema=out_schema))
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(),
                                               F.col("vec_id").asc())
    edges = (scored.withColumn("__rn", F.row_number().over(w))
             .filter((F.col("__rn") <= k + 1)
                     & (F.col("query_id") != F.col("vec_id")))
             .select("query_id", "vec_id", "distance")
             .localCheckpoint(eager=False))
    back = edges.select(F.col("query_id").alias("vec_id"),
                        F.col("vec_id").alias("query_id"))
    return (edges.join(back, ["query_id", "vec_id"], "left_semi")
            .where(F.col("query_id") < F.col("vec_id"))
            .select(F.col("query_id").alias("id_a"),
                    F.col("vec_id").alias("id_b"),
                    "distance"))
