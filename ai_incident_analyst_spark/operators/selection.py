"""Diverse subset selection over an embedding column (MMR greedy).

The reference's vector side stops at exact flat search
(``src/vector_db/faiss_db.py:43``); diverse *selection* — pick k items
that are individually relevant but mutually dissimilar — is the
data-curation counterpart a training pipeline needs (instruction-data
selection, eval-set picking, dedup-aware sampling). This implements
Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedily pick

    argmax  lam * rel(x) - (1 - lam) * max_{s in S} sim(x, s)

Scale design (100 TB rule):

- Relevance is ONE corpus pass (cosine against a hash-anchored query
  vector), lazily checkpointed and reused by every round.
- Each greedy round is one scan of that frame: the selected set is k×d
  doubles of driver state (the ``operators/clustering.py`` centroid
  pattern), re-entering the plan as LITERAL arrays — so the per-round
  max-similarity is a pure column expression (``F.greatest`` over <=k-1
  rounded cosines), whole-stage codegen, no join, no shuffle; the only
  driver traffic is the 1-row argmax per round.
- Scores are discretized to ``round_dp`` decimals before every argmax
  (ties broken by id) so the fixed-k greedy unrolls into a DuckDB twin
  that reproduces the selection exactly cross-engine — the
  kmeans/pagerank determinism recipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity
from .util import local_frame


def _lit_vec(vals: list[float]) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in vals])


def mmr_select(df: DataFrame, id_col: str, vec_col: str, k: int,
               lam: float = 0.5, round_dp: int = 6,
               rel_col: str | None = None) -> DataFrame:
    """Greedy MMR selection of ``k`` rows; returns
    ``(rank, <id_col>, rel, mmr)`` in selection order (rank 1..k).

    Relevance: ``rel_col`` if given (the production shape — an external
    per-item score such as a quality heuristic or retrieval score);
    otherwise cosine to a hash-anchored query vector — the row with the
    smallest ``md5(id)`` (deterministic, engine-portable, append-stable
    — the ``operators/clustering.py:_init_centroids`` trick). Rank 1 is
    the pure-relevance argmax (its ``mmr`` equals its ``rel``); later
    ranks trade relevance against the max similarity to everything
    already selected. Note the anchor default is self-referential
    (rel(x) == sim(x, anchor)), so once the anchor is picked, round-2
    scores compress toward ``(lam - (1-lam)) * rel`` — pass an external
    ``rel_col`` when you want diversity to dominate the tail picks.

    PRACTICAL k BOUND: greedy selection is inherently k-SEQUENTIAL —
    each pick depends on all previous picks, so the operator runs ONE
    Spark job per pick (k jobs total; driver state is the k×d picked
    vectors re-entering the plan as literals). Sized for the
    intended k ≲ 100 coreset/diversity-probe use: per-job cost is one
    cached corpus scan with a ≤k-term codegen expression, but job-
    submission latency and expression width both grow with k. For
    thousands of representatives, switch to ``operators/clustering.py``
    k-means (one pick per centroid, fixed rounds) or cluster first and
    run MMR per cluster.
    """
    v = df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("x"),
                  *([F.col(rel_col).alias("__r")] if rel_col else []))
    if rel_col is None:
        anchor = (
            v.withColumn("__h", F.md5(F.col("id").cast("string")))
            .orderBy("__h", F.col("id").cast("string"))
            .limit(1).select("x").collect()
        )
        if not anchor:
            raise ValueError("mmr_select: empty input")
        ax = list(anchor[0]["x"])
        rel_expr = cosine_similarity(F.col("x"), _lit_vec(ax))
    else:
        rel_expr = F.col("__r").cast("double")

    rel = (
        v.withColumn("rel", F.round(rel_expr, round_dp))
        .select("id", "x", "rel")
        .localCheckpoint(eager=False)
    )

    picked: list[tuple] = []   # (rank, id, x, rel, mmr) — k rows, bounded
    for rank in range(1, k + 1):
        if not picked:
            cand = rel.withColumn("mmr", F.col("rel"))
        else:
            sims = [F.round(cosine_similarity(F.col("x"), _lit_vec(px)),
                            round_dp)
                    for _, _, px, _, _ in picked]
            maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            cand = (
                rel.filter(~F.col("id").isin([p[1] for p in picked]))
                .withColumn(
                    "mmr",
                    F.round(F.lit(lam) * F.col("rel")
                            - F.lit(1.0 - lam) * maxsim, round_dp))
            )
        row = cand.orderBy(F.desc("mmr"), "id").limit(1).collect()
        if not row:
            break   # k exceeds distinct rows
        r = row[0]
        picked.append((rank, r["id"], list(r["x"]), r["rel"], r["mmr"]))

    out = local_frame(
        df.sparkSession, [(rk, i, rl, mm) for rk, i, _, rl, mm in picked],
        "rank int, id long, rel double, mmr double")
    return out.withColumnRenamed("id", id_col)


def k_center_select(df: DataFrame, id_col: str, vec_col: str, k: int,
                    round_dp: int = 6) -> DataFrame:
    """Greedy k-center (farthest-point / Gonzalez 1985) coreset
    selection: pick ``k`` rows so every corpus point is close to some
    pick — the 2-approximation to the optimal covering radius, and the
    standard geometric coreset for embedding-space curation (eval-set
    seeding, diverse fine-tuning subsets, active-learning batch picks).
    Where ``mmr_select`` trades relevance against redundancy, k-center
    is pure coverage: each round picks the point FARTHEST from the
    current set (max-min squared L2).

    Returns ``(rank, <id_col>, dist)`` in selection order; ``dist`` is
    the squared-L2 distance to the nearest already-selected center at
    pick time (the covering radius shrinks monotonically with rank) —
    NULL for rank 1 (nothing selected yet; the seed is the
    hash-anchored row with the smallest ``md5(id)``, the
    ``clustering._init_centroids`` determinism trick).

    Scale shape: identical to ``mmr_select`` — selected centers are k×d
    doubles of driver state re-entering the plan as literal arrays, so
    each round's min-distance is a pure codegen column expression
    (``F.least`` over ≤k-1 rounded squared-L2 terms) over one cached
    corpus scan; no join, no shuffle, 1-row argmax per round. Scores
    discretize to ``round_dp`` before every argmax (ties by id) so the
    fixed-k greedy unrolls into a SQL twin exactly.

    PRACTICAL k BOUND: like ``mmr_select``, greedy max-min is
    k-SEQUENTIAL — one Spark job per pick, an expression ``F.least``
    over ≤k−1 distance terms, and k×d doubles of driver state. Sized
    for k ≲ 100 (coreset seeding, eval-set picks). For larger center
    counts use ``operators/clustering.py`` k-means (fixed rounds
    independent of k) or the standard scale recipe: k-means to √k·c
    clusters, then k-center WITHIN each cluster in parallel.
    """
    from ..functions.vectors import l2_sq

    v = (df.select(F.col(id_col).alias("id"),
                   F.col(vec_col).cast("array<double>").alias("x"))
         .localCheckpoint(eager=False))
    seed = (v.withColumn("__h", F.md5(F.col("id").cast("string")))
            .orderBy("__h", F.col("id").cast("string"))
            .limit(1).collect())
    if not seed:
        raise ValueError("k_center_select: empty input")
    picked: list[tuple] = [(1, seed[0]["id"], list(seed[0]["x"]), None)]
    for rank in range(2, k + 1):
        dists = [F.round(l2_sq(F.col("x"), _lit_vec(px)), round_dp)
                 for _, _, px, _ in picked]
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        row = (v.filter(~F.col("id").isin([p[1] for p in picked]))
               .withColumn("dist", mind)
               .orderBy(F.desc("dist"), "id")
               .limit(1).collect())
        if not row:
            break   # k exceeds distinct rows
        r = row[0]
        picked.append((rank, r["id"], list(r["x"]), r["dist"]))
    out = local_frame(
        df.sparkSession, [(rk, i, d) for rk, i, _, d in picked],
        "rank int, id long, dist double")
    return out.withColumnRenamed("id", id_col)
