"""Graph-based approximate nearest neighbor: k-NN graph build + greedy
beam search (the NSW/HNSW family's flat core, relationally).

Completes the ANN spectrum alongside ``operators/knn.py``'s IVF / PQ /
IVF-PQ / LSH paths: graph ANN answers queries by WALKING a precomputed
neighborhood graph instead of scanning cells — the highest-recall-per-
probe structure in the ANN literature (Malkov & Yashunin's NSW; HNSW
adds layers atop exactly this greedy search). The reference's vector
side is a flat exact index (``src/vector_db/faiss_db.py:43``); this is
part of the beyond-reference ANN surface.

Scale design:

- The GRAPH is the persistent artifact: ``(src, dst, sim)`` adjacency,
  k rows per node. ``build_knn_graph`` here is the exact n² reference
  build (round-then-rank so the edge set is engine-portable) — right
  for the ≤10⁵-node twin domain; at 100 TB you feed the same adjacency
  schema from LSH/IVF candidate pairs (``minhash_lsh_neardup``,
  ``ivf_knn_join``) or an NN-descent refinement, and persist it
  partitioned by ``src`` so a search hop is a partition-pruned lookup.
- SEARCH is inherently sequential per query (each hop depends on the
  last), but embarrassingly parallel across queries — the distributed
  shape is a batch of independent walks. The driver holds only the
  frontier/visited id sets (≤ 1 + hops·beam ids — the MMR/kmeans
  driver-state pattern); each hop is a narrow ``isin`` filter on the
  adjacency (partition-prunable), one scan of the checkpointed scored
  frame, and a beam-sized collect. No corpus-sized shuffle anywhere.
- Determinism: every score is rounded to ``round_dp`` BEFORE every
  argmax/rank (ties by id) — the established recipe that lets the
  fixed-hop greedy unroll into a DuckDB twin exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity


def build_knn_graph(df: DataFrame, id_col: str, vec_col: str,
                    k: int = 4, round_dp: int = 6) -> DataFrame:
    """Exact k-NN adjacency ``(src, dst, sim)``: each node's ``k`` most
    cosine-similar OTHER nodes, ``sim`` rounded to ``round_dp`` before
    the rank (ties by dst id) so the edge set reproduces cross-engine.

    n² reference build, blocked-matmul form (the ``knn_join_blocked``
    recipe): the node matrix is broadcast once, each partition computes
    its rows' cosines against it with ONE BLAS matmul and emits its own
    top-k — no crossJoin row explosion, no shuffle, no window (measured
    10.0 s → 0.6 s at 2000×64 vs the expression-based crossJoin+window
    form, whose higher-order-function cosine never enters codegen).
    Scores round to 6dp BEFORE the per-row selection (dst tie-breaks
    via lexsort), so the edge set still reproduces cross-engine. See
    the module docstring for the 100 TB candidate-generation
    alternatives that share this output schema.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    rows = (df.select(F.col(id_col).alias("i"),
                      F.col(vec_col).cast("array<double>").alias("v"))
            .collect())
    ids = np.array([r["i"] for r in rows])
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((ids, unit))
    id_type = df.select(id_col).schema.fields[0].dataType.simpleString()

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cids, cunit = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf["__v"]), dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = np.round(m @ cunit.T, round_dp)
            src_ids = pdf["__i"].to_numpy()
            out_s, out_d, out_v = [], [], []
            for r, sid in enumerate(src_ids):
                srow = sims[r].copy()
                srow[cids == sid] = -np.inf          # exclude self
                order = np.lexsort((cids, -srow))[:k]
                out_s.extend([sid] * len(order))
                out_d.extend(cids[order])
                out_v.extend(srow[order])
            yield pd.DataFrame({"src": out_s, "dst": out_d, "sim": out_v})

    from .util import spread
    prepped = spread(
        df.select(F.col(id_col).alias("__i"),
                  F.col(vec_col).cast("array<double>").alias("__v")),
        "__i")
    return prepped.mapInPandas(
        part, schema=f"src {id_type}, dst {id_type}, sim double")


def _lit_vec(vals: list[float]) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in vals])


def _anchor_vec(v: DataFrame, salt: str) -> tuple:
    """(id, vector) of the row with the smallest ``md5(salt || id)`` —
    the deterministic, engine-portable anchor pick."""
    row = (
        v.withColumn("__h", F.md5(F.concat(F.lit(salt),
                                           F.col("id").cast("string"))))
        .orderBy("__h", F.col("id").cast("string"))
        .limit(1).select("id", "x").collect()
    )
    if not row:
        raise ValueError("graph_ann: empty input")
    return row[0]["id"], list(row[0]["x"])


def graph_ann_search(graph, nodes: DataFrame, id_col: str,
                     vec_col: str, query_vec: list[float] | None = None,
                     entry_id=None, hops: int = 3, beam: int = 4,
                     k: int = 5, round_dp: int = 6) -> DataFrame:
    """Greedy beam search over a k-NN ``graph``: start at ``entry_id``,
    expand each frontier's UNVISITED neighbors, keep the ``beam`` best
    by (rounded) cosine to the query, repeat ``hops`` times; return the
    global top-``k`` of everything visited as ``(rank, <id_col>, sim)``.

    ``query_vec`` / ``entry_id`` default to hash-anchored picks
    (smallest ``md5('q:'||id)`` / ``md5('e:'||id)``) so the whole walk
    is reproducible with no external input. The frontier never
    re-expands visited nodes (each hop strictly grows coverage), and an
    exhausted frontier ends the walk early on both engines.

    ``graph`` may be a DataFrame (each hop filters it on the frontier
    ids) or a callable ``frontier_ids -> DataFrame`` returning the
    frontier rows' adjacency — the hook ``graph_probe_index`` uses to
    turn each hop into a partition-pruned read of the persisted index.
    """
    v = nodes.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("x"))
    if query_vec is None:
        _, query_vec = _anchor_vec(v, "q:")
    if entry_id is None:
        entry_id, _ = _anchor_vec(v, "e:")

    scored = (
        v.withColumn("s", F.round(
            cosine_similarity(F.col("x"), _lit_vec(query_vec)), round_dp))
        .select("id", "s")
        .localCheckpoint(eager=False)
    )

    fetch = graph if callable(graph) else (
        lambda ids: graph.where(F.col("src").isin(ids)))
    visited: list = [entry_id]
    frontier: list = [entry_id]
    for _ in range(hops):
        if not frontier:
            break
        cand = (
            fetch(frontier)
            .select(F.col("dst").alias("id")).distinct()
            .where(~F.col("id").isin(visited))
            .join(scored, "id")
            .orderBy(F.desc("s"), "id")
            .limit(beam)
            .collect()
        )
        frontier = [r["id"] for r in cand]
        visited.extend(frontier)

    out = (
        scored.where(F.col("id").isin(visited))
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("s"), "id")))
        .where(F.col("rank") <= k)
        .select("rank", F.col("id").alias(id_col), F.col("s").alias("sim"))
        .orderBy("rank")
    )
    return out


def _ring_init(v: DataFrame, k: int) -> DataFrame:
    """Deterministic O(n·k) initial graph: nodes sorted by
    ``(md5(id), id)`` form a ring; each node's first neighbors are the
    next ``k`` nodes around it. The md5 order is a portable random
    permutation (append-stable, engine-reproducible), so the ring is a
    random circulant graph — the cheap diverse seeding NN-descent needs,
    with no n² anywhere. The global rank comes from the two-phase
    distributed prefix sum (``operators/packing.py:global_cumsum``),
    never a single-task window."""
    from .packing import global_cumsum

    keyed = v.withColumn(
        "__o", F.concat(F.md5(F.col("id").cast("string")),
                        F.lit(":"),
                        F.lpad(F.col("id").cast("string"), 20, "0")))
    ranked = (global_cumsum(keyed.withColumn("__one", F.lit(1)),
                            "__o", "__one", out_col="r")
              .select("id", "r"))
    n = ranked.count()
    offs = F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)]))
    edges = (ranked.select(F.col("id").alias("src"),
                           F.col("r").alias("__r"),
                           offs.alias("__j"))
             .withColumn("__nr", (F.col("__r") - 1 + F.col("__j")) % n + 1))
    return (edges.join(ranked.select(F.col("id").alias("dst"),
                                     F.col("r").alias("__nr2")),
                       F.col("__nr") == F.col("__nr2"))
            .select("src", "dst"))


def nn_descent_graph(df: DataFrame, id_col: str, vec_col: str,
                     k: int = 4, rounds: int = 2,
                     round_dp: int = 6) -> DataFrame:
    """NN-descent k-NN graph build (Dong, Moses & Li 2011) — the scale
    path that replaces ``build_knn_graph``'s n² scan: start from the
    md5-ring seed graph and repeat "a neighbor of my neighbor is
    probably my neighbor": each round scores the current edges, their
    reverses, and all two-hop pairs, keeping the ``k`` best per node.

    Cost per round is O(n·(2k)²) candidate edges — corpus-linear for
    fixed k — versus O(n²) for the exact build; empirically a handful
    of rounds reaches ≥90% recall (test-asserted on clustered data).
    Determinism: rounded-then-ranked sims with dst tie-breaks and the
    fixed round count unroll into a DuckDB twin (the kmeans/MMR
    recipe). Returns ``(src, dst, sim)`` like ``build_knn_graph``.

    Candidate scoring is a cogroup-BLAS Arrow kernel (r14 — the r12
    ``mutual_knn_pairs_ivf`` recipe): the Catalyst ``cosine_similarity``
    higher-order expression never enters whole-stage codegen, so the
    ~O(n·(2k)²) candidate rows paid interpreted per-row evaluation plus
    a per-round rank window (exchange + sort). Instead, candidates key
    by a hash block of ``src`` (every candidate of a node lands in ONE
    block, so the kernel's local top-k per src is already the global
    top-k — no window needed), dst vectors ride the candidate row from
    one equi-join, src vectors arrive via the cogroup's other side
    (blocked by the same hash of ``id``), and each block scores in one
    vectorized numpy pass. Rounding is HALF-AWAY-FROM-ZERO
    (``sign(x)·floor(|x|·s + 0.5)/s`` — cosine may be negative),
    matching Spark ``F.round`` / the DuckDB twin exactly like the
    ``knn.py`` cogroup kernel; ties break by dst via a stable lexsort,
    identical to the window's ``ORDER BY sim DESC, dst``.
    """
    import numpy as np
    import pandas as pd

    v = df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("x"))
    g = _ring_init(v, k)
    vx_dst = v.select(F.col("id").alias("dst"), F.col("x").alias("__bx"))
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"src {id_type}, dst {id_type}, sim double"
    nblk = df.sparkSession.sparkContext.defaultParallelism
    vblk = v.withColumn("__blk", F.pmod(F.xxhash64(F.col("id")),
                                        F.lit(nblk)))
    scale = 10.0 ** round_dp

    def score_block(_key, vec_pdf, cand_pdf):
        if len(cand_pdf) == 0 or len(vec_pdf) == 0:
            return pd.DataFrame({"src": [], "dst": [], "sim": []})
        vid = vec_pdf["id"].to_numpy()
        vmat = np.array(list(vec_pdf["x"]), dtype=np.float64)
        vorder = np.argsort(vid, kind="stable")
        vid_s, vmat_s = vid[vorder], vmat[vorder]
        src = cand_pdf["src"].to_numpy()
        dst = cand_pdf["dst"].to_numpy()
        A = vmat_s[np.searchsorted(vid_s, src)]
        B = np.array(list(cand_pdf["__bx"]), dtype=np.float64)
        sim = (A * B).sum(axis=1) / (
            np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1)))
        # half-away-from-zero at round_dp (Spark F.round / DuckDB round;
        # NOT np.round's half-even) — cosine is signed, so the knn.py
        # non-negative floor(x·s+0.5) form gets a sign wrapper; + 0.0
        # turns the -0.0 it gives for sims in (-0.5e-6, 0) into +0.0,
        # as Spark's and DuckDB's round do
        sim = np.sign(sim) * np.floor(np.abs(sim) * scale + 0.5) / scale \
            + 0.0
        order = np.lexsort((dst, -sim, src))
        src_o, dst_o, sim_o = src[order], dst[order], sim[order]
        starts = np.flatnonzero(np.r_[True, src_o[1:] != src_o[:-1]])
        lens = np.diff(np.r_[starts, len(src_o)])
        rank = np.arange(len(src_o)) - np.repeat(starts, lens)
        keep = rank < k
        return pd.DataFrame({"src": src_o[keep], "dst": dst_o[keep],
                             "sim": sim_o[keep]})

    for _ in range(rounds):
        und = g.select("src", "dst").union(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        two_hop = (und.alias("g1")
                   .join(und.alias("g2"), F.col("g1.dst") == F.col("g2.src"))
                   .select(F.col("g1.src").alias("src"),
                           F.col("g2.dst").alias("dst")))
        cand = (und.union(two_hop)
                .where(F.col("src") != F.col("dst"))
                .distinct())
        candv = (cand.join(vx_dst, "dst")
                 .withColumn("__blk", F.pmod(F.xxhash64(F.col("src")),
                                             F.lit(nblk))))
        g = (vblk.groupBy("__blk")
             .cogroup(candv.groupBy("__blk"))
             .applyInPandas(score_block, schema=out_schema)
             .localCheckpoint(eager=False))
    return g


def graph_ann_search_batch(graph: DataFrame, nodes: DataFrame,
                           queries: DataFrame, id_col: str, vec_col: str,
                           query_id: str = "query_id",
                           query_vec: str = "query_vec",
                           entry: DataFrame | None = None,
                           hops: int = 3, beam: int = 4, k: int = 5,
                           round_dp: int = 6,
                           materialize: bool = False) -> DataFrame:
    """The distributed form of ``graph_ann_search``: ALL queries walk
    the graph together, each hop one relational stage — no driver state
    at all, the whole ``hops``-deep walk is a single declarative plan.

    Per hop: frontier ``(query_id, node)`` joins the adjacency (the
    corpus-sized side of a small×large equi-join — AQE broadcasts the
    frontier; with the adjacency persisted partitioned by ``src`` the
    probe is partition-pruned), unvisited candidates score by cosine to
    their OWN query vector (equi-joins to the node vectors and the
    broadcast query set), and a per-query window keeps the ``beam``
    best. The final top-``k`` per query reads the accumulated visited
    set. Scales linearly in |queries| — the batch shape ANN serving at
    100 TB actually runs — while the rounded-score/id-tie-break
    discretization keeps every walk reproducible cross-engine.

    ``entry``: optional 1+-row frame of entry node ids (column
    ``id_col``); defaults to the global hash-anchored entry
    (smallest ``md5('e:'||id)``) shared by all queries.
    Returns ``(query_id, rank, <id_col>, sim)``.

    CACHE OWNERSHIP: each hop ``persist()``s its frontier/visited frame
    (beam·|queries| rows — tiny; see the loop comment). With the
    default ``materialize=False`` the walk stays ONE lazy plan (zero
    jobs at build — the contract ``tests/test_graph_ann_batch.py``
    pins) and those CacheManager entries outlive the call: the CALLER
    must clear them (run inside a session that isolates cells, or call
    with ``materialize=True``). With ``materialize=True`` the
    |queries|·k result is localCheckpointed eagerly and every loop
    persist is released before returning — the cache-hygiene shape the
    registry query uses (``tests/test_cache_hygiene.py``).
    """
    v = nodes.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("x"))
    qs = queries.select(F.col(query_id).alias("qid"),
                        F.col(query_vec).cast("array<double>").alias("qx"))
    if entry is None:
        entry = (
            v.withColumn("__h", F.md5(F.concat(F.lit("e:"),
                                               F.col("id").cast("string"))))
            .orderBy("__h", F.col("id").cast("string"))
            .limit(1).select("id")
        )
    else:
        entry = entry.select(F.col(id_col).alias("id"))

    def score(cand: DataFrame) -> DataFrame:
        """(qid, id) -> + rounded cosine to the candidate's own query."""
        return (cand.join(v, "id")
                .join(F.broadcast(qs), "qid")
                .withColumn("s", F.round(
                    cosine_similarity(F.col("x"), F.col("qx")), round_dp))
                .select("qid", "id", "s"))

    frontier = qs.select("qid").crossJoin(F.broadcast(entry))
    visited = frontier
    bw = Window.partitionBy("qid").orderBy(F.desc("s"), F.col("id"))
    owned = []  # loop persists, released after the result materializes
    for _ in range(hops):
        cand = (frontier.join(graph, frontier["id"] == graph["src"])
                .select("qid", F.col("dst").alias("id")).distinct()
                .join(visited, ["qid", "id"], "left_anti"))
        # persist(), NOT localCheckpoint: hop t's frontier is referenced
        # by hop t+1's candidate join, anti-join, AND the visited union,
        # so an unmarked plan re-evaluates each hop's subtree ~2^hops
        # times (measured 2x wall). persist is lazy — no jobs at build
        # (localCheckpoint launches them even with eager=False on
        # 4.1.2) — and the first action populates the cache, deduping
        # every later reference. Frames are beam·|queries| rows — tiny.
        frontier = (score(cand)
                    .withColumn("__rn", F.row_number().over(bw))
                    .where(F.col("__rn") <= beam)
                    .select("qid", "id")
                    .persist())
        visited = visited.unionByName(frontier).persist()
        owned += [frontier, visited]
    out = (score(visited)
           .withColumn("rank", F.row_number().over(bw))
           .where(F.col("rank") <= k)
           .select(F.col("qid").alias(query_id), "rank",
                   F.col("id").alias(id_col), F.col("s").alias("sim"))
           .orderBy(query_id, "rank"))
    if materialize:
        # |queries|·k rows — checkpoint eagerly, then release every
        # loop persist so no CacheManager entry outlives the call (the
        # checkpointed result RDD is ContextCleaner-freed on GC)
        out = out.localCheckpoint(eager=True)
        for f in owned:
            f.unpersist()
    return out


def graph_write_index(graph: DataFrame, path: str,
                      n_buckets: int = 64) -> None:
    """Materialize the adjacency as a probe-able index: edges written
    ``partitionBy(__bucket)`` with ``__bucket = src % n_buckets`` — one
    directory per source-hash bucket, the graph analog of
    ``ivf_write_index``'s inverted lists. A beam-search hop that expands
    frontier ids {a, b} reads at most two directories, not the graph;
    the reference rebuilds its index in memory per run
    (``src/vector_db/faiss_db.py:24-43``), a persisted bucket layout
    survives and prunes."""
    (graph.withColumn("__bucket", F.pmod(F.col("src"), F.lit(n_buckets)))
     .repartition(F.col("__bucket"))
     .write.partitionBy("__bucket").mode("overwrite").parquet(path))


def graph_probe_index(spark, path: str, nodes: DataFrame, id_col: str,
                      vec_col: str, n_buckets: int = 64,
                      **search_kwargs) -> DataFrame:
    """Beam-search a PERSISTED graph index: identical results to
    ``graph_ann_search`` over the same adjacency, but each hop reads
    only the frontier's bucket directories — the frontier ids are
    driver literals (≤ beam of them), so both the ``__bucket IN (...)``
    partition filter and the ``src IN (...)`` row filter are static
    predicates the parquet pruner consumes at planning time."""
    index = spark.read.parquet(path)

    def fetch(ids):
        buckets = sorted({int(i) % n_buckets for i in ids})
        return index.where(F.col("__bucket").isin(buckets)
                           & F.col("src").isin(ids))

    return graph_ann_search(fetch, nodes, id_col, vec_col,
                            **search_kwargs)
