"""k-NN join tests: numpy exact reference (SURVEY.md §5 self-oracle),
dirty input, the block kernel's rounding and selection, IVF recall."""

import ast
import itertools
import math
import os
import pathlib
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ai_incident_analyst_spark.operators.clustering import kmeans_assign
from ai_incident_analyst_spark.operators.knn import (
    assign_cells,
    block_topk,
    ivf_knn_join,
    knn_join,
    round_half_away,
)
from ai_incident_analyst_spark.sources.tables import load_table

K = 5


def _numpy_knn(qids, qmat, cids, cmat, k, metric, round_dp=None):
    out = {}
    for qi, qv in zip(qids, qmat):
        if metric == "l2_sq":
            d = ((cmat - qv) ** 2).sum(axis=1)
        else:
            d = (cmat @ qv) / (np.linalg.norm(cmat, axis=1) * np.linalg.norm(qv))
        if round_dp is not None:
            d = np.array([round(x, round_dp) for x in d])
        order = np.lexsort((cids, d if metric == "l2_sq" else -d))
        out[qi] = [(int(cids[i]), float(d[i])) for i in order[:k]]
    return out


@pytest.fixture(scope="module")
def vec_data(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    qmask = ids < 5
    q = spark.createDataFrame(
        [Row(query_id=int(i), query_vec=[float(x) for x in v])
         for i, v in zip(ids[qmask], mat[qmask])])
    c = emb.filter("vec_id >= 5")
    return q, c, ids[qmask], mat[qmask], ids[~qmask], mat[~qmask]


@pytest.fixture(scope="module")
def dup_data(spark):
    """Every corpus vector four times under ids 12 apart, over three
    partitions: each query's four best hits tie, broken by id only."""
    rng = np.random.default_rng(7)
    base = np.round(rng.normal(size=(12, 6)), 2)
    cids = np.arange(48)
    cmat = base[cids % 12]
    qmat = base[:3] + 0.01
    q = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(qmat)],
        "query_id long, query_vec array<double>")
    c = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(cids, cmat)],
        "vec_id long, embedding array<double>").repartition(3)
    return q, c, np.arange(3), qmat, cids, cmat


@pytest.mark.parametrize("metric", ["l2_sq", "cosine"])
def test_knn_matches_numpy(request, metric):
    for data, round_dp in itertools.product(("vec_data", "dup_data"),
                                            (None, 6)):
        q, c, qids, qmat, cids, cmat = request.getfixturevalue(data)
        got = {}
        for r in knn_join(q, c, k=K, metric=metric,
                          round_dp=round_dp).collect():
            got.setdefault(r.query_id, []).append((r.vec_id, r.distance))
        expect = _numpy_knn(qids, qmat, cids, cmat, K, metric, round_dp)
        assert set(got) == set(expect), (data, round_dp)
        for qi in expect:
            got[qi].sort(key=lambda t: (
                t[1] if metric == "l2_sq" else -t[1], t[0]))
            assert [g[0] for g in got[qi]] == [e[0] for e in expect[qi]], \
                (data, round_dp, qi)
            for (gv, gd), (ev, ed) in zip(got[qi], expect[qi]):
                assert abs(gd - ed) < 1e-9


def test_round_half_away_and_block_topk_scores():
    assert list(round_half_away(np.array([0.5, -0.5, 2.5]), 0)) == \
        [1.0, -1.0, 3.0]
    assert np.round(2.5) == 2.0  # the half-to-even rule it replaces
    z = round_half_away(np.array([-1e-9]), 6)[0]
    assert z == 0.0 and not np.signbit(z)
    # the ‖q‖²+‖c‖²−2q·c identity puts some self scores below zero here
    rng = np.random.default_rng(0)
    m = rng.normal(size=(40, 9)) * 1e3
    n2 = (m * m).sum(axis=1)
    assert (np.diag(n2[:, None] + n2[None, :] - 2.0 * m @ m.T) < 0).any()
    _, full = block_topk(m, m, 40, "l2_sq")
    assert (full >= 0.0).all() and not np.signbit(full).any()
    idx, top = block_topk(m, m, 1, "l2_sq", round_dp=6)
    assert (idx[:, 0] == np.arange(40)).all()
    assert (top == 0.0).all() and not np.signbit(top).any()
    # k = 1 selects by argmin, and must pick what the stable argsort
    # (k = 2) ranks first: ties by column order, NaN last — here repeated
    # columns and a 1-dp rounding make ties, a NaN coordinate and zero
    # vectors (under cosine) make NaN scores, and a 1e200 coordinate
    # makes a +inf score standing behind an earlier NaN column
    q = np.round(rng.normal(size=(30, 3)), 1)
    q[3] = 0.0
    c = np.concatenate([q[:6], q[:6], rng.normal(size=(8, 3))])
    c[2] = [np.nan, 0.0, 0.0]
    c[7] = 0.0
    for metric, dp in itertools.product(("l2_sq", "cosine", "l2_cell"),
                                        (None, 1)):
        i1, s1 = block_topk(q, c, 1, metric, dp)
        i2, s2 = block_topk(q, c, 2, metric, dp)
        assert (i1 == i2[:, :1]).all(), (metric, dp)
        assert np.array_equal(s1, s2[:, :1], equal_nan=True)
    inf = np.array([[np.nan, 0.0], [1e200, 0.0], [1e200, 0.0]])
    with np.errstate(over="ignore"):
        for k in (1, 2):
            assert block_topk(np.array([[1.0, 0.0]]), inf, k,
                              "l2_cell")[0][0, 0] == 1


def test_cell_assignment_rounds_half_away_like_the_twin(spark):
    """A score exactly on a half at ``round_dp``: ‖c‖²−2x·c is 3.0 for c0
    and 2.5 for c1, so at ``round_dp=0`` half-away rounding ties them at
    3 and the lower centroid id wins (c0), where ``np.round``'s
    half-to-even would pick c1. The k-means twin's cell ``ORDER BY``,
    replayed in DuckDB, is the reference."""
    import duckdb

    from ai_incident_analyst_spark.queries import _KMEANS_ASSIGN_SQL

    x = np.array([[0.25, 0.0]])
    c = np.array([[-1.5, 0.0], [-1.0, -1.0]])
    assert np.round(2.5) == 2.0  # the rule the kernel does not use
    assign_sql = _KMEANS_ASSIGN_SQL.replace("]), 6)", "]), 0)")
    assert assign_sql != _KMEANS_ASSIGN_SQL
    want = duckdb.sql(f"""
        WITH v AS (SELECT 1 AS vec_id, [0.25, 0.0]::DOUBLE[] AS x),
        cents AS (SELECT * FROM (VALUES (0, [-1.5, 0.0]::DOUBLE[]),
                                        (1, [-1.0, -1.0]::DOUBLE[])) t(cl, c))
        SELECT cl FROM ({assign_sql.format(cents="cents")})""").fetchall()
    assert want == [(0,)]
    assert block_topk(x, c, 1, "l2_cell", 0)[0].tolist() == [[0]]
    df = spark.createDataFrame([(1, x[0].tolist())], "id long, v array<double>")
    assert [r.cell for r in assign_cells(df, "v", np.array([0, 1]), c,
                                         cell_col="cell",
                                         round_dp=0).collect()] == [0]
    assert [r.cluster for r in kmeans_assign(df, "v", c,
                                             round_dp=0).collect()] == [0]


def test_package_has_no_np_round():
    """Every rounded score or coordinate goes through
    ``knn.round_half_away``: ``np.round`` rounds halves to even, which
    no SQL twin replays."""
    package = pathlib.Path(__file__).resolve().parent.parent \
        / "ai_incident_analyst_spark"
    offenders = []
    for path in sorted(package.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("round", "around", "round_")
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id in ("np", "numpy")):
                offenders.append(f"{path.relative_to(package)}:{node.lineno}")
    assert offenders == [], (
        f"np.round in the package — use knn.round_half_away: {offenders}")


def _dirty_corpus(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, None), (3, [1.0, 0.0]),
         (4, [0.0, 0.0, 0.0]), (5, [0.5, 0.5, 0.0]), (6, [0.0, 1.0, 0.0]),
         (7, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>").repartition(2)


@pytest.mark.parametrize("metric", ["l2_sq", "cosine"])
def test_knn_drops_dirty_rows(spark, metric):
    """NULL query vectors and NULL / wrong-length corpus vectors are
    dropped under both metrics, and zero-norm vectors on either side
    under cosine: no NULL or NaN distance, no dropped row in the
    output."""
    q = spark.createDataFrame(
        [(10, [0.9, 0.1, 0.0]), (11, [0.0, 0.0, 0.0]), (12, None)],
        "query_id long, query_vec array<double>")
    rows = knn_join(q, _dirty_corpus(spark), k=10, metric=metric).collect()
    assert all(r.distance is not None and not math.isnan(r.distance)
               for r in rows)
    bad = {2, 3, 7} | ({4} if metric == "cosine" else set())
    assert not {r.vec_id for r in rows} & bad
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    if metric == "cosine":
        assert set(by_q) == {10} and sorted(by_q[10]) == [1, 5, 6]
    else:
        assert {k: sorted(v) for k, v in by_q.items()} == \
            {10: [1, 4, 5, 6], 11: [1, 4, 5, 6]}


def test_knn_empty_queries_and_mixed_lengths(spark):
    c = _dirty_corpus(spark)
    empty = spark.createDataFrame([], "query_id long, query_vec array<double>")
    out = knn_join(empty, c, k=3)
    assert out.collect() == []
    assert out.columns == ["query_id", "vec_id", "distance"]
    mixed = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0])],
        "query_id long, query_vec array<double>")
    with pytest.raises(ValueError, match="mixed lengths"):
        knn_join(mixed, c, k=3)


def test_knn_runs_from_foreign_cwd(tmp_path, sf_dir):
    """A vanilla session started outside the repo runs a query whose
    Python workers import the package (``apply_runtime_confs`` puts the
    package on the workers' path)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "from ai_incident_analyst_spark.queries import REGISTRY\n"
        "spark = SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "n = len(REGISTRY['knn_l2'].fn(spark, %r).collect())\n"
        "print('ROWS', n)\n"
        "spark.stop()\n" % (repo, sf_dir))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    assert "ROWS 25" in res.stdout


def test_ivf_recall(spark, sf_dir, vec_data):
    """IVF with nprobe=2 over 10 label-centroids: recall vs exact should be
    well above chance (exact recall depends on cluster structure)."""
    from pyspark.sql import functions as F

    q, c, *_ = vec_data
    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>"))
                   .alias("pos", "v"))
        .groupBy("label", "pos").agg(F.avg("v").alias("v"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(F.col("label").alias("centroid_id"),
                F.transform("pv", lambda s: s["v"]).alias("centroid"))
    )
    exact = {(r.query_id, r.vec_id) for r in knn_join(q, c, k=K).collect()}
    approx4 = {(r.query_id, r.vec_id)
               for r in ivf_knn_join(q, c, cents, k=K, nprobe=4).collect()}
    approx_all = {(r.query_id, r.vec_id)
                  for r in ivf_knn_join(q, c, cents, k=K, nprobe=100).collect()}
    assert len(exact & approx4) / len(exact) >= 0.4
    # probing every cell must degenerate to the exact result
    assert approx_all == exact


def test_lsh_cosine_recall_vs_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from ai_incident_analyst_spark.operators.knn import lsh_cosine_knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    c = emb.filter(F.col("vec_id") >= 10)

    exact = {(r.query_id, r.vec_id)
             for r in knn_join(q, c, k=5, metric="cosine").collect()}
    # this synthetic 64-d data has weak neighbors (cos ~0.3 => theta ~71deg):
    # few planes + many tables is the right operating point (recall 0.88
    # measured at these settings; 0.6 leaves margin for plane-seed variance)
    approx = {(r.query_id, r.vec_id)
              for r in lsh_cosine_knn_join(q, c, k=5, n_planes=4,
                                           n_tables=16).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall

    # determinism: same seed, same result
    again = {(r.query_id, r.vec_id)
             for r in lsh_cosine_knn_join(q, c, k=5, n_planes=4,
                                          n_tables=16).collect()}
    assert approx == again

    # md5 plane family (the oracle-checkable registry variant): same
    # recall bar, deterministic with no seed at all
    md5_approx = {(r.query_id, r.vec_id)
                  for r in lsh_cosine_knn_join(
                      q, c, k=5, n_planes=4, n_tables=16,
                      plane_fn="md5").collect()}
    md5_recall = len(exact & md5_approx) / len(exact)
    assert md5_recall >= 0.6, md5_recall


def test_lsh_cosine_drops_dirty_rows(spark):
    """A NULL or not-``dim``-long vector on either side drops its row
    instead of failing the bucketing worker: the join over the dirty
    corpus equals the join over its clean rows."""
    from ai_incident_analyst_spark.operators.knn import lsh_cosine_knn_join

    q = spark.createDataFrame(
        [(10, [0.9, 0.1, 0.0]), (11, [0.1, 0.8, 0.1]), (12, None)],
        "query_id long, query_vec array<double>")
    dirty = _dirty_corpus(spark).filter(F.col("vec_id") != 4)
    clean = dirty.filter(F.col("vec_id").isin(1, 5, 6))

    def run(c):
        return sorted((r.query_id, r.vec_id, round(r.distance, 9))
                      for r in lsh_cosine_knn_join(
                          q, c, k=10, n_planes=2, n_tables=1,
                          dim=3).collect())

    got = run(dirty)
    assert got == run(clean)
    assert {qid for qid, _, _ in got} == {10, 11}


def test_md5_planes_portable_derivation():
    """Every component reproduces the documented md5 integer formula
    (what the DuckDB twin regenerates)."""
    import hashlib

    from ai_incident_analyst_spark.operators.knn import md5_planes
    pl = md5_planes(2, 3, 4)
    assert pl.shape == (2, 3, 4)
    h = int.from_bytes(
        hashlib.md5(b"plane:1:2:3").digest()[:4], "big")
    assert pl[1, 2, 3] == (h % 2001 - 1000) / 1000.0
    assert abs(pl).max() <= 1.0


def test_ivf_persisted_index_prunes_and_matches(spark, sf_dir, vec_data,
                                                tmp_path):
    """ivf_write_index + ivf_probe_index must (a) return exactly what the
    in-memory ivf_knn_join returns for the same centroids/nprobe, and
    (b) scan ONLY the probed cells' directories (partition pruning)."""
    from pyspark.sql import functions as F

    from ai_incident_analyst_spark.operators.knn import (
        ivf_probe_index,
        ivf_write_index,
    )

    q, c, *_ = vec_data
    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>"))
                   .alias("pos", "v"))
        .groupBy("label", "pos").agg(F.avg("v").alias("v"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(F.col("label").alias("centroid_id"),
                F.transform("pv", lambda s: s["v"]).alias("centroid"))
    )
    path = str(tmp_path / "ivf_index")
    ivf_write_index(c, cents, path)

    probed = ivf_probe_index(spark, path, q, cents, k=K, nprobe=2)
    inmem = ivf_knn_join(q, c, cents, k=K, nprobe=2)
    a = sorted((r.query_id, r.vec_id, round(r.distance, 9))
               for r in probed.collect())
    b = sorted((r.query_id, r.vec_id, round(r.distance, 9))
               for r in inmem.collect())
    assert a == b

    # pruning: the static IN predicate must reach the file index as a
    # PartitionFilter (inputFiles() reports the unpruned relation, so
    # check the executed plan like tests/test_partitioning.py does)
    import re
    plan = probed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*__cell[^\]]*\]", plan)
    assert m and (" IN " in m.group(0).upper()
                  or "isnotnull" not in m.group(0)), plan[:2000]
    probe_cells = {r.vec_id for r in knn_join(
        q, cents, k=2, metric="l2_sq",
        corpus_id="centroid_id", corpus_vec="centroid").collect()}
    n_cells_total = spark.read.parquet(path) \
        .select("__cell").distinct().count()
    assert len(probe_cells) < n_cells_total  # pruning is non-trivial


def test_lsh_cosine_string_ids(spark, sf_dir):
    """String ids flow through the LSH bucketing Arrow stage (code-
    review r5: the id schema is derived from the input, not hardcoded
    long) — same neighbor SET as the long-id run."""
    from pyspark.sql import functions as F

    from ai_incident_analyst_spark.operators.knn import lsh_cosine_knn_join

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 100")
    s_emb = emb.selectExpr(
        "concat('v', lpad(cast(vec_id as string), 4, '0')) as vec_id",
        "embedding")
    q = (s_emb.filter("vec_id < 'v0005'")
         .selectExpr("vec_id as query_id", "embedding as query_vec"))
    c = s_emb.filter("vec_id >= 'v0005'")
    out = lsh_cosine_knn_join(q, c, k=5, n_planes=4, n_tables=16,
                              plane_fn="md5").collect()
    assert out and all(isinstance(r.query_id, str)
                       and isinstance(r.vec_id, str) for r in out)
    lq = (emb.filter("vec_id < 5")
          .selectExpr("vec_id as query_id", "embedding as query_vec"))
    lc = emb.filter("vec_id >= 5")
    long_out = lsh_cosine_knn_join(lq, lc, k=5, n_planes=4, n_tables=16,
                                   plane_fn="md5").collect()
    assert {(r.query_id, r.vec_id) for r in out} \
        == {(f"v{r.query_id:04d}", f"v{r.vec_id:04d}") for r in long_out}


def test_mutual_knn_pairs_symmetry_and_hub_drop(spark):
    """A tight pair is mutual; a hub that everyone points at but that
    points back at only its own top-k is not paired with the far
    nodes."""
    from ai_incident_analyst_spark.operators.knn import mutual_knn_pairs

    # 2-d: 0 and 1 nearly parallel (mutual twins); 2 is a distant
    # direction whose nearest are still 0/1, but with k=1 neither 0 nor
    # 1 points back at 2
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.05]), (2, [0.3, 1.0])],
        "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             mutual_knn_pairs(df, "vec_id", "embedding", k=1).collect()}
    assert pairs == {(0, 1)}
    # with k=2 everyone fits in everyone's list: all 3 pairs mutual
    pairs2 = {(r["id_a"], r["id_b"]) for r in
              mutual_knn_pairs(df, "vec_id", "embedding", k=2).collect()}
    assert pairs2 == {(0, 1), (0, 2), (1, 2)}


def test_mutual_knn_pairs_canonical_and_deterministic(spark):
    from ai_incident_analyst_spark.operators.knn import mutual_knn_pairs

    rows = [(i, [float((i * 7) % 13), float((i * 5) % 11), 1.0])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple,
                   mutual_knn_pairs(df, "vec_id", "embedding", k=3).collect()))
    b = sorted(map(tuple,
                   mutual_knn_pairs(df.repartition(7), "vec_id",
                                    "embedding", k=3).collect()))
    assert a == b and len(a) > 0
    assert all(ia < ib for ia, ib, _ in a)


def test_mutual_knn_pairs_ivf_full_probe_equals_exact(spark):
    """With nprobe == #centroids every query probes every cell, so the
    IVF shortlist is the whole corpus and the pairs must equal the
    exact mutual_knn_pairs under the same (squared-L2, round-then-rank)
    contract — the all-cells identity that pins the shuffle-join plan
    to the broadcast exact plan."""
    from ai_incident_analyst_spark.operators.knn import (
        mutual_knn_pairs,
        mutual_knn_pairs_ivf,
    )

    rows = [(i, [float((i * 7) % 13), float((i * 5) % 11), 1.0])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [2.0, 2.0, 1.0]), (1, [10.0, 2.0, 1.0]), (2, [5.0, 9.0, 1.0])],
        "centroid_id long, centroid array<double>")
    exact = sorted((r["id_a"], r["id_b"]) for r in
                   mutual_knn_pairs(df, "vec_id", "embedding", k=3,
                                    metric="l2_sq").collect())
    ivf = sorted((r["id_a"], r["id_b"]) for r in
                 mutual_knn_pairs_ivf(df, "vec_id", "embedding", cents,
                                      k=3, nprobe=3).collect())
    assert ivf == exact and len(ivf) > 0


def test_mutual_knn_pairs_ivf_deterministic_and_canonical(spark):
    """Partition-layout independent, canonical (id_a < id_b), and every
    pair's edge really is reciprocal within the probed shortlists.
    NOTE: pair sets are deliberately NOT asserted monotone in nprobe —
    extra candidates can evict a previously-mutual edge from a
    top-(k+1) list, which is genuine rNN semantics, not a defect."""
    from ai_incident_analyst_spark.operators.knn import mutual_knn_pairs_ivf

    rows = [(i, [float((i * 3) % 17), float((i * 11) % 7), 0.5])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [3.0, 1.0, 0.5]), (1, [13.0, 5.0, 0.5])],
        "centroid_id long, centroid array<double>")
    one = sorted(map(tuple, mutual_knn_pairs_ivf(
        df, "vec_id", "embedding", cents, k=3, nprobe=1).collect()))
    rep = sorted(map(tuple, mutual_knn_pairs_ivf(
        df.repartition(7), "vec_id", "embedding", cents,
        k=3, nprobe=1).collect()))
    assert one == rep and len(one) > 0
    assert all(ia < ib for ia, ib, _ in one)
    # self-pairs can never appear and distances are non-negative
    assert all(d >= 0.0 for _, _, d in one)


def test_ivf_probe_where_filtered_identity_and_pushdown(spark, sf_dir,
                                                        tmp_path):
    """Filtered probe of the FULL persisted index == inline IVF over the
    pre-filtered corpus (cell assignment is row-local), and a pushable
    predicate reaches the parquet scan's PushedFilters."""
    from ai_incident_analyst_spark.operators.knn import (
        ivf_knn_join,
        ivf_probe_index,
        ivf_write_index,
    )
    from ai_incident_analyst_spark.queries import _label_centroids
    from ai_incident_analyst_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _label_centroids(emb).localCheckpoint(eager=True)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    corpus = emb.where(F.col("vec_id") >= 3)
    path = str(tmp_path / "ivf_full")
    ivf_write_index(corpus, cents, path, round_dp=6)

    probed = ivf_probe_index(spark, path, queries, cents, k=5, nprobe=2,
                             round_dp=6, where=F.col("label") == 2)
    inline = ivf_knn_join(queries, corpus.where(F.col("label") == 2),
                          cents, k=5, nprobe=2, round_dp=6)
    a = sorted((r.query_id, r.vec_id, round(r.distance, 6))
               for r in probed.collect())
    b = sorted((r.query_id, r.vec_id, round(r.distance, 6))
               for r in inline.collect())
    assert a == b and len(a) > 0

    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(label,2)" in plan


def test_lsh_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe candidates are a superset of the zero-probe ones per
    table count, so recall vs exact kNN can only improve; with few
    tables the improvement must be visible on real data."""
    from ai_incident_analyst_spark.operators.knn import (
        knn_join,
        lsh_cosine_knn_join,
    )
    from ai_incident_analyst_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    corpus = emb.where(F.col("vec_id") >= 8)
    exact = {(r.query_id, r.vec_id) for r in
             knn_join(queries, corpus, k=5, metric="cosine").collect()}

    def recall(n_probes):
        got = {(r.query_id, r.vec_id) for r in lsh_cosine_knn_join(
            queries, corpus, k=5, n_planes=6, n_tables=2, dim=64,
            plane_fn="md5", n_probes=n_probes).collect()}
        return len(got & exact) / len(exact)

    # each extra probe only ADDS query buckets, so the candidate set —
    # and therefore recall — is monotone in n_probes
    r0, r2, r4 = recall(0), recall(2), recall(4)
    assert r0 <= r2 <= r4
    # on this data the probes must actually recover misses, not tie
    assert r4 > r0
    assert r4 >= 0.3


def test_lsh_multiprobe_guard_and_determinism(spark, sf_dir):
    from ai_incident_analyst_spark.operators.knn import lsh_cosine_knn_join
    from ai_incident_analyst_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(60)
    queries = (emb.limit(3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    with pytest.raises(ValueError):
        lsh_cosine_knn_join(queries, emb, n_planes=4, n_probes=4)
    a = sorted(map(tuple, lsh_cosine_knn_join(
        queries, emb, k=3, n_planes=4, n_tables=2, dim=64,
        plane_fn="md5", n_probes=2).collect()))
    b = sorted(map(tuple, lsh_cosine_knn_join(
        queries, emb.repartition(7), k=3, n_planes=4, n_tables=2,
        dim=64, plane_fn="md5", n_probes=2).collect()))
    assert a == b


def test_ivf_recall_improves_with_nprobe(spark, sf_dir):
    """The registry sweep's structural invariant: recall@10 is
    non-decreasing in nprobe and hits 1.0 when every cell is probed."""
    from ai_incident_analyst_spark.operators.knn import (
        ivf_knn_join,
        knn_join,
    )
    from ai_incident_analyst_spark.queries import (
        _label_centroids,
        _qc_split,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _label_centroids(emb)
    n_cells = cents.count()
    q_, c_ = _qc_split(spark, sf_dir)
    exact = knn_join(q_, c_, k=10).select("query_id", "vec_id")
    exact.localCheckpoint(eager=False)
    hits = []
    for p in (1, 2, int(n_cells)):
        ivf = ivf_knn_join(q_, c_, cents, k=10, nprobe=p, round_dp=6)
        hits.append(exact.join(ivf, ["query_id", "vec_id"]).count())
    assert hits[0] <= hits[1] <= hits[2]
    assert hits[2] == exact.count()   # full probe == exact scan
