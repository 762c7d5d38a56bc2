"""k-means: parity vs a pure-numpy reference, Lloyd's invariants, and the
IVF-training integration (kmeans centroids -> ivf_knn_join recall)."""

import numpy as np
import pytest

from ai_incident_analyst_spark.operators.clustering import (
    centroids_df,
    kmeans_assign,
    kmeans_fit,
    kmeans_inertia,
)

pytestmark = pytest.mark.usefixtures("spark")


def _toy(spark, n=60, d=4, parts=1, seed=3):
    rng = np.random.default_rng(seed)
    # three well-separated blobs
    blobs = np.concatenate([
        rng.normal(loc=c, scale=0.1, size=(n // 3, d))
        for c in (0.0, 5.0, 10.0)
    ])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(blobs)]
    return (spark.createDataFrame(rows, "id long, v array<double>")
            .repartition(parts), blobs)


def _numpy_lloyd(x, init, iters):
    c = init.copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(len(c)):
            if (a == j).any():
                c[j] = x[a == j].mean(axis=0)
    return c


def test_kmeans_matches_numpy_reference(spark):
    df, x = _toy(spark, parts=1)
    init = x[[0, 25, 50]]
    cents, _ = kmeans_fit(df, "id", "v", k=3, max_iter=4, tol=0.0, init=init)
    ref = _numpy_lloyd(x, init.astype(np.float64), 4)
    # single partition -> identical assignment and fold order
    assert np.allclose(np.sort(cents, axis=0), np.sort(ref, axis=0),
                       atol=1e-9)


def test_kmeans_deterministic_init_and_refit(spark):
    df, _ = _toy(spark, parts=4)
    c1, i1 = kmeans_fit(df, "id", "v", k=3, max_iter=5)
    c2, i2 = kmeans_fit(df, "id", "v", k=3, max_iter=5)
    assert i1 == i2 and np.array_equal(c1, c2)  # bitwise: same partitioning


def test_inertia_non_increasing_over_rounds(spark):
    df, x = _toy(spark, parts=2)
    init = x[[1, 2, 3]]  # bad init, forces real movement
    prev = np.inf
    for iters in (1, 2, 3, 5):
        c, _ = kmeans_fit(df, "id", "v", k=3, max_iter=iters, tol=0.0,
                          init=init)
        cur = kmeans_inertia(df, "v", c)
        assert cur <= prev + 1e-9
        prev = cur


def test_kmeans_separates_blobs(spark):
    df, x = _toy(spark, parts=4)
    cents, _ = kmeans_fit(df, "id", "v", k=3, max_iter=10)
    got = kmeans_assign(df, "v", cents, out_col="c", dist_col="d2")
    rows = got.orderBy("id").collect()
    # every blob lands in exactly one cluster
    lab = np.array([r["c"] for r in rows])
    for blk in (lab[:20], lab[20:40], lab[40:]):
        assert len(set(blk.tolist())) == 1
    assert len({lab[0], lab[20], lab[40]}) == 3
    # assignment is argmin and d2 is the true squared distance
    for r in rows[:10]:
        v = np.array(r["v"])
        d2 = ((cents - v) ** 2).sum(axis=1)
        assert r["c"] == int(d2.argmin())
        assert abs(r["d2"] - d2.min()) < 1e-9


def test_empty_cluster_keeps_previous_centroid(spark):
    rows = [(i, [float(i % 2), 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    # third centroid far away: never nearest, must survive unchanged
    init = np.array([[0.0, 0.0], [1.0, 0.0], [99.0, 99.0]])
    cents, _ = kmeans_fit(df, "id", "v", k=3, max_iter=3, tol=0.0, init=init)
    assert np.array_equal(cents[2], init[2])


def test_kmeans_centroids_drive_ivf(spark):
    from ai_incident_analyst_spark.operators.knn import (
        ivf_knn_join, knn_join_blocked)
    from ai_incident_analyst_spark.sources.tables import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings") \
        .select("vec_id", "embedding")
    cents, _ = kmeans_fit(emb, "vec_id", "embedding", k=4, max_iter=3)
    cdf = centroids_df(spark, cents)
    qs = emb.filter("vec_id < 5") \
        .select(F_alias(emb, "vec_id", "query_id"),
                F_alias(emb, "embedding", "query_vec"))
    approx = ivf_knn_join(qs, emb, cdf, k=5, nprobe=2)
    exact = knn_join_blocked(qs, emb, k=5)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.6  # nprobe=2/4 cells, recall floor


def F_alias(df, col, name):
    from pyspark.sql import functions as F
    return F.col(col).alias(name)


def _numpy_lloyd_int(xq, order, k, rounds):
    c = xq[order[:k]].copy()
    for _ in range(rounds):
        cn2 = (c * c).sum(axis=1)
        a = (cn2[None, :] - 2 * (xq @ c.T)).argmin(axis=1)
        for j in range(k):
            pts = xq[a == j]
            if len(pts):
                c[j] = np.floor(
                    pts.sum(axis=0).astype(np.float64) / len(pts) + 0.5
                ).astype(np.int64)
    return c


def test_kmeans_int_matches_numpy_and_is_layout_invariant(spark):
    """kmeans_fit_int: exact-integer arithmetic means the result is
    partition-layout invariant EXACTLY (integer partial sums commute),
    and a driver-side numpy replay with the same quantization matches
    bit-for-bit."""
    import hashlib

    from ai_incident_analyst_spark.operators.clustering import (
        _quantize,
        kmeans_assign_int,
        kmeans_fit_int,
    )

    df, x = _toy(spark, parts=1)
    got1 = kmeans_fit_int(df, "id", "v", k=3, n_rounds=3)
    got7 = kmeans_fit_int(df.repartition(7), "id", "v", k=3, n_rounds=3)
    assert (got1 == got7).all()          # exact layout invariance

    xq = _quantize(x.astype(np.float64), 1_000_000)
    order = sorted(range(len(x)),
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(),
                                  str(i)))
    ref = _numpy_lloyd_int(xq, order, 3, 3)
    assert (got1 == ref).all()           # bit-exact numpy parity

    # assignment: every blob lands in one cluster (separated data)
    a = {r.id: r.cluster
         for r in kmeans_assign_int(df, "v", got1).collect()}
    blobs = [set(a[i] for i in range(j * 20, (j + 1) * 20))
             for j in range(3)]
    assert all(len(b) == 1 for b in blobs)
    assert len(set().union(*blobs)) == 3


def test_kmeans_int_agrees_with_float_variant_on_separated_data(spark):
    """On well-separated blobs the integer and float fits must induce
    the same partition of the data (quantization error 5e-7 cannot move
    a point between blobs 5 units apart)."""
    from ai_incident_analyst_spark.operators.clustering import (
        kmeans_assign,
        kmeans_assign_int,
        kmeans_fit,
        kmeans_fit_int,
    )

    df, _ = _toy(spark, parts=4)
    cf, _ = kmeans_fit(df, "id", "v", k=3, max_iter=2, tol=0.0,
                       round_dp=6)
    cq = kmeans_fit_int(df, "id", "v", k=3, n_rounds=2)
    af = {r.id: r.cluster
          for r in kmeans_assign(df, "v", cf, round_dp=6).collect()}
    ai = {r.id: r.cluster
          for r in kmeans_assign_int(df, "v", cq).collect()}
    # same partition (cluster ids share the hash-ordered init, so they
    # even agree label-for-label)
    assert af == ai


def _with_dirty_rows(spark, df, first_vec=None):
    """``df`` plus a NULL vector under the id that sorts first by md5
    (the hash-ordered init meets it before any clean row) and a
    too-short vector under the id that sorts last. ``first_vec``
    replaces the NULL."""
    import hashlib

    def md5(i):
        return hashlib.md5(str(i).encode()).hexdigest()
    order = sorted(range(1000, 3000), key=md5)
    assert md5(order[0]) < min(md5(r.id) for r in df.select("id").collect())
    return df.unionByName(spark.createDataFrame(
        [(order[0], first_vec), (order[-1], [1.0, 2.0])],
        "id long, v array<double>"))


def test_kmeans_fit_skips_dirty_vectors(spark):
    """NULL vectors are skipped in the init sample and in every pass,
    wrong-length ones in every pass; a wrong length inside the init
    sample is a named error."""
    df, _ = _toy(spark, parts=2)
    want, _ = kmeans_fit(df, "id", "v", k=3, max_iter=3, tol=0.0,
                         round_dp=6)
    got, _ = kmeans_fit(_with_dirty_rows(spark, df), "id", "v", k=3,
                        max_iter=3, tol=0.0, round_dp=6)
    assert np.allclose(got, want, rtol=0, atol=1e-12)
    with pytest.raises(ValueError, match="mixed lengths"):
        kmeans_fit(_with_dirty_rows(spark, df, first_vec=[0.0]), "id", "v",
                   k=3, max_iter=1)


def test_kmeans_assign_drops_dirty_vectors(spark):
    df, _ = _toy(spark, parts=2)
    cents, _ = kmeans_fit(df, "id", "v", k=3, max_iter=2)
    want = {r.id: (r.c, r.d2) for r in kmeans_assign(
        df, "v", cents, out_col="c", dist_col="d2").collect()}
    got = {r.id: (r.c, r.d2) for r in kmeans_assign(
        _with_dirty_rows(spark, df), "v", cents, out_col="c",
        dist_col="d2").collect()}
    assert got == want and len(got) == 60


def test_kmeans_fit_int_skips_dirty_vectors(spark):
    from ai_incident_analyst_spark.operators.clustering import kmeans_fit_int

    df, _ = _toy(spark, parts=2)
    want = kmeans_fit_int(df, "id", "v", k=3, n_rounds=2)
    got = kmeans_fit_int(_with_dirty_rows(spark, df), "id", "v", k=3,
                         n_rounds=2)
    assert (got == want).all()


def test_kmeans_assign_int_drops_dirty_vectors(spark):
    from ai_incident_analyst_spark.operators.clustering import (
        kmeans_assign_int,
        kmeans_fit_int,
    )

    df, _ = _toy(spark, parts=2)
    cents = kmeans_fit_int(df, "id", "v", k=3, n_rounds=2)
    want = {r.id: r.cluster for r in
            kmeans_assign_int(df, "v", cents).collect()}
    got = {r.id: r.cluster for r in kmeans_assign_int(
        _with_dirty_rows(spark, df), "v", cents).collect()}
    assert got == want and len(got) == 60


# ---------------------------------------------------------------------------
# DBSCAN (round 9)
# ---------------------------------------------------------------------------

def _dbscan_ref(x, eps, min_pts):
    """Brute-force reference: classic definitions + the deterministic
    border rule (border joins the smallest cluster id among its core
    neighbors; cluster id = smallest core id in the component)."""
    import numpy as np
    n = len(x)
    d2 = ((x[:, None, :] - x[None, :, :]) ** 2).sum(-1)
    nb = d2 <= eps * eps
    core = nb.sum(1) >= min_pts
    # union-find over core-core edges
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in range(n):
        if not core[i]:
            continue
        for j in range(i + 1, n):
            if core[j] and nb[i, j]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    lab = {}
    for i in range(n):
        if core[i]:
            lab[i] = find(i)
    out = {}
    for i in range(n):
        if core[i]:
            out[i] = ("core", lab[i])
        else:
            cands = [lab[j] for j in range(n)
                     if core[j] and nb[i, j] and j != i]
            out[i] = (("border", min(cands)) if cands
                      else ("noise", None))
    return out


def test_dbscan_matches_bruteforce_reference(spark):
    import numpy as np

    from ai_incident_analyst_spark.operators.clustering import (
        dbscan_clusters,
    )

    rng = np.random.default_rng(21)
    # two dense blobs + a sparse background => core, border, AND noise
    blob1 = rng.normal((0.0, 0.0), 0.05, size=(40, 2))
    blob2 = rng.normal((1.0, 1.0), 0.05, size=(40, 2))
    bg = rng.uniform(-0.5, 1.5, size=(25, 2))
    x = np.vstack([blob1, blob2, bg])
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(x)],
        "pid long, px double, py double")
    got = {r["pid"]: (r["role"], r["cluster_id"])
           for r in dbscan_clusters(df, "pid", ["px", "py"],
                                    eps=0.08, min_pts=5).collect()}
    want = _dbscan_ref(x, 0.08, 5)
    assert len(got) == len(x)
    assert got == want
    roles = {v[0] for v in got.values()}
    assert roles == {"core", "border", "noise"}, roles


def test_dbscan_border_tie_is_deterministic(spark):
    """A border point equidistant from two clusters joins the SMALLEST
    cluster id — invariant under row order and partitioning."""
    from ai_incident_analyst_spark.operators.clustering import (
        dbscan_clusters,
    )

    # cluster A: ids 0-3 near x=0; cluster B: ids 10-13 near x=1;
    # id 5 exactly between, within eps of ONE core on each side but
    # with only 3 points (incl. itself) in its ball -> border, not a
    # bridge (min_pts=4 keeps it sub-core; eps=0.45 keeps id 2 / id 12
    # out of its ball)
    rows = [(0, 0.00), (1, 0.02), (2, 0.04), (3, 0.06),
            (10, 1.00), (11, 0.98), (12, 0.96), (13, 0.94),
            (5, 0.50)]
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "pid long, px double") \
            .repartition(parts)
        got = {r["pid"]: (r["role"], r["cluster_id"])
               for r in dbscan_clusters(df, "pid", ["px"],
                                        eps=0.45, min_pts=4).collect()}
        assert got[0] == ("core", 0)
        assert got[10] == ("core", 10)
        # 5 is within 0.45 of cores 3 (dist .44) and 13 (dist .44):
        # deterministic tie -> the smaller cluster id, 0
        assert got[5] == ("border", 0), got[5]


def test_dbscan_guards(spark):
    import pytest

    from ai_incident_analyst_spark.operators.clustering import (
        dbscan_clusters,
    )

    df = spark.createDataFrame([(1, 0.0)], "pid long, px double")
    with pytest.raises(ValueError, match="1-3 dims"):
        dbscan_clusters(df, "pid", ["a", "b", "c", "d"], 0.1, 2)
    with pytest.raises(ValueError):
        dbscan_clusters(df, "pid", ["px"], 0.0, 2)
    with pytest.raises(ValueError):
        dbscan_clusters(df, "pid", ["px"], 0.1, 0)


def test_dbscan_rejects_non_integral_id(spark):
    """String ids would silently cast to NULL and collapse every
    point into one garbage cluster — fail loudly instead (ADVICE r9)."""
    import pytest

    from ai_incident_analyst_spark.operators.clustering import (
        dbscan_clusters,
    )

    df = spark.createDataFrame([("a", 0.0), ("b", 1.0)],
                               "pid string, px double")
    with pytest.raises(ValueError, match="integral id"):
        dbscan_clusters(df, "pid", ["px"], 0.1, 2)
