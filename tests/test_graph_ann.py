"""Graph ANN (operators/graph_ann.py): adjacency build + greedy beam
search against a straight-line Python replay on small fixtures."""

import hashlib
import math

import numpy as np
import pytest

from ai_incident_analyst_spark.operators.graph_ann import (
    build_knn_graph,
    graph_ann_search,
)


def _vecs_df(spark, vecs):
    return spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")


def _cos(a, b):
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


@pytest.fixture(scope="module")
def vecs():
    rng = np.random.default_rng(3)
    return rng.normal(size=(30, 8))


def test_build_knn_graph_matches_numpy(spark, vecs):
    df = _vecs_df(spark, vecs)
    got = {}
    for r in build_knn_graph(df, "vec_id", "embedding", k=3).collect():
        got.setdefault(r["src"], []).append(r["dst"])
    for i in range(len(vecs)):
        sims = sorted(
            ((round(_cos(vecs[i], vecs[j]), 6), j)
             for j in range(len(vecs)) if j != i),
            key=lambda t: (-t[0], t[1]))
        assert got[i] == [j for _, j in sims[:3]], i


def _py_walk(vecs, graph, qv, entry, hops, beam, k):
    scored = {i: round(_cos(v, qv), 6) for i, v in enumerate(vecs)}
    visited, frontier = [entry], [entry]
    for _ in range(hops):
        cand = sorted(
            {d for s in frontier for d in graph.get(s, [])} - set(visited),
            key=lambda i: (-scored[i], i))[:beam]
        frontier = cand
        visited.extend(cand)
    top = sorted(visited, key=lambda i: (-scored[i], i))[:k]
    return [(r + 1, i, scored[i]) for r, i in enumerate(top)]


def test_search_matches_python_replay(spark, vecs):
    df = _vecs_df(spark, vecs)
    gdf = build_knn_graph(df, "vec_id", "embedding", k=3)
    graph = {}
    for r in gdf.collect():
        graph.setdefault(r["src"], []).append(r["dst"])

    def anchor(salt):
        return min(range(len(vecs)),
                   key=lambda i: (hashlib.md5(
                       f"{salt}{i}".encode()).hexdigest(), str(i)))
    qv = vecs[anchor("q:")]
    entry = anchor("e:")
    exp = _py_walk(vecs, graph, qv, entry, hops=3, beam=3, k=5)
    got = [(r["rank"], r["vec_id"], r["sim"])
           for r in graph_ann_search(gdf, df, "vec_id", "embedding",
                                     hops=3, beam=3, k=5).collect()]
    assert got == exp


def test_search_finds_planted_neighbors(spark):
    # a cluster around the query direction must be reachable through the
    # graph: plant 5 near-duplicates of the query vector among noise
    rng = np.random.default_rng(9)
    base = rng.normal(size=8)
    vecs = np.vstack([base + rng.normal(scale=0.05, size=8)
                      for _ in range(5)]
                     + [rng.normal(size=8) for _ in range(25)])
    df = _vecs_df(spark, vecs)
    gdf = build_knn_graph(df, "vec_id", "embedding", k=4)
    out = graph_ann_search(gdf, df, "vec_id", "embedding",
                           query_vec=base.tolist(), entry_id=0,
                           hops=3, beam=4, k=5)
    ids = {r["vec_id"] for r in out.collect()}
    # entry 0 is itself in the cluster; the walk must surface most of it
    assert len(ids & {0, 1, 2, 3, 4}) >= 4


def test_exhausted_frontier_terminates(spark):
    # two disconnected islands: the walk stays on the entry island
    vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    gdf = build_knn_graph(df, "vec_id", "embedding", k=1)
    out = graph_ann_search(gdf, df, "vec_id", "embedding",
                           query_vec=[1.0, 0.0], entry_id=0,
                           hops=5, beam=2, k=5).collect()
    assert {r["vec_id"] for r in out} == {0, 1}


def test_ring_init_degree_and_determinism(spark, vecs):
    from ai_incident_analyst_spark.operators.graph_ann import _ring_init
    from pyspark.sql import functions as F
    df = _vecs_df(spark, vecs)
    v = df.select(F.col("vec_id").alias("id"),
                  F.col("embedding").alias("x"))
    g = _ring_init(v, 3)
    rows = [(r["src"], r["dst"]) for r in g.collect()]
    # every node has exactly k out-edges, none to itself
    from collections import Counter
    deg = Counter(s for s, _ in rows)
    assert set(deg.values()) == {3} and len(deg) == len(vecs)
    assert all(s != d for s, d in rows)
    # the ring follows the md5 permutation: neighbor 1 of the rank-r node
    # is the rank-(r+1) node
    order = sorted(range(len(vecs)),
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(),
                                  str(i).zfill(20)))
    succ = {order[i]: order[(i + 1) % len(order)]
            for i in range(len(order))}
    assert all((s, succ[s]) in set(rows) for s in succ)


def test_nn_descent_recall_vs_exact(spark, vecs):
    from ai_incident_analyst_spark.operators.graph_ann import (
        nn_descent_graph)
    df = _vecs_df(spark, vecs)
    exact = {(r["src"], r["dst"])
             for r in build_knn_graph(df, "vec_id", "embedding",
                                      k=4).collect()}
    approx = {(r["src"], r["dst"])
              for r in nn_descent_graph(df, "vec_id", "embedding",
                                        k=4, rounds=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall
    # determinism: a second run returns the identical edge set
    again = {(r["src"], r["dst"])
             for r in nn_descent_graph(df, "vec_id", "embedding",
                                       k=4, rounds=3).collect()}
    assert approx == again


def test_nn_descent_monotone_improvement(spark, vecs):
    from ai_incident_analyst_spark.operators.graph_ann import (
        nn_descent_graph)
    df = _vecs_df(spark, vecs)
    exact = {(r["src"], r["dst"])
             for r in build_knn_graph(df, "vec_id", "embedding",
                                      k=4).collect()}

    def recall(rounds):
        got = {(r["src"], r["dst"])
               for r in nn_descent_graph(df, "vec_id", "embedding",
                                         k=4, rounds=rounds).collect()}
        return len(exact & got) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1


def test_nn_descent_rounds_tiny_negative_sim_to_positive_zero(spark):
    """A cosine in (-0.5e-6, 0) rounds to +0.0 at round_dp=6, as Spark's
    and DuckDB's round give — not the -0.0 of the sign-wrapped floor."""
    from ai_incident_analyst_spark.operators.graph_ann import (
        nn_descent_graph)
    vecs = np.array([[1.0, 0.0], [-1e-7, 1.0]])
    assert -0.5e-6 < _cos(vecs[0], vecs[1]) < 0
    got = nn_descent_graph(_vecs_df(spark, vecs), "vec_id", "embedding",
                           k=1, rounds=1).collect()
    assert sorted((r["src"], r["dst"]) for r in got) == [(0, 1), (1, 0)]
    assert all(r["sim"] == 0.0 and math.copysign(1.0, r["sim"]) == 1.0
               for r in got)
