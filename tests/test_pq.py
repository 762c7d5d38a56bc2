"""Product quantization: exactness when quantization error is zero,
recall of trained codebooks vs exact kNN, encode determinism."""

import numpy as np
import pytest

from ai_incident_analyst_spark.operators.knn import (
    knn_join_blocked,
    pq_encode,
    pq_knn_join,
    pq_train_codebooks,
)

pytestmark = pytest.mark.usefixtures("spark")

M, KC, DSUB = 4, 6, 4
D = M * DSUB


def _codewords(seed=11):
    rng = np.random.default_rng(seed)
    return rng.normal(size=(M, KC, DSUB)) * 3.0


def _grid_corpus(spark, books, n=80, seed=5):
    """Vectors whose every subvector IS a codeword -> zero PQ error."""
    rng = np.random.default_rng(seed)
    picks = rng.integers(0, KC, size=(n, M))
    vecs = np.concatenate(
        [books[j][picks[:, j]] for j in range(M)], axis=1)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_adc_exact_when_error_zero(spark):
    books = _codewords()
    corpus = _grid_corpus(spark, books)
    queries = (corpus.filter("vec_id < 4")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    corp = corpus.filter("vec_id >= 4")
    got = {(r["query_id"], r["vec_id"]): r["distance"]
           for r in pq_knn_join(queries, corp, books, k=5).collect()}
    want = {(r["query_id"], r["vec_id"]): r["distance"]
            for r in knn_join_blocked(queries, corp, k=5).collect()}
    assert got.keys() == want.keys()
    for key in want:
        assert got[key] == pytest.approx(want[key], abs=1e-9)


def test_trained_codebook_recall(spark):
    rng = np.random.default_rng(23)
    # clustered corpus: PQ on trained codebooks should retrieve most of
    # the exact top-5
    centers = rng.normal(size=(8, D)) * 5.0
    pts = centers[rng.integers(0, 8, 300)] + rng.normal(size=(300, D)) * 0.3
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(pts)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = (corpus.filter("vec_id < 10")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    corp = corpus.filter("vec_id >= 10")
    books = pq_train_codebooks(corp, "vec_id", "embedding",
                               m=M, kc=16, sample_n=290, iters=6)
    # standard PQ evaluation is Recall@R: the exact top-5 recovered within
    # the approximate top-50 (ADC ranks coarsely inside a tight cluster,
    # so @5 point-recall is not the right bar — re-ranking the top-R with
    # exact distances is the textbook final stage)
    approx = pq_knn_join(queries, corp, books, k=50).collect()
    exact = knn_join_blocked(queries, corp, k=5).collect()
    a = {(r["query_id"], r["vec_id"]) for r in approx}
    e = {(r["query_id"], r["vec_id"]) for r in exact}
    recall = len(a & e) / len(e)
    assert recall >= 0.8, f"recall@50 {recall}"


def test_encode_deterministic_across_partitionings(spark):
    books = _codewords(seed=3)
    corpus = _grid_corpus(spark, books, n=60, seed=9)
    a = {r["vec_id"]: list(r["code"])
         for r in pq_encode(corpus.repartition(1), "vec_id", "embedding",
                            books).collect()}
    b = {r["vec_id"]: list(r["code"])
         for r in pq_encode(corpus.repartition(7), "vec_id", "embedding",
                            books).collect()}
    assert a == b
    # zero-error corpus: every code must reproduce the picked codeword
    assert all(len(c) == M for c in a.values())


def test_pq_string_ids_end_to_end(spark):
    """String query/corpus ids flow natively through pq_encode and
    pq_knn_join (ADVICE r4: the id schema is derived from the input, not
    hardcoded long) — same neighbors as the long-id run, ids intact."""
    books = _codewords()
    corpus = _grid_corpus(spark, books)
    s_corpus = corpus.selectExpr(
        "concat('doc-', lpad(cast(vec_id as string), 3, '0')) as vec_id",
        "embedding")
    queries = (s_corpus.filter("vec_id < 'doc-004'")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    corp = s_corpus.filter("vec_id >= 'doc-004'")
    enc = pq_encode(corp, "vec_id", "embedding", books)
    assert dict(enc.dtypes)["vec_id"] == "string"
    got = {(r["query_id"], r["vec_id"]): r["distance"]
           for r in pq_knn_join(queries, corp, books, k=5).collect()}
    long_rows = pq_knn_join(
        corpus.filter("vec_id < 4").selectExpr(
            "vec_id as query_id", "embedding as query_vec"),
        corpus.filter("vec_id >= 4"), books, k=5).collect()
    base = {(f"doc-{r['query_id']:03d}", f"doc-{r['vec_id']:03d}"):
            r["distance"] for r in long_rows}
    assert got.keys() == base.keys()
    for key in base:
        assert got[key] == pytest.approx(base[key], abs=1e-9)


def test_ivfpq_string_corpus_and_query_ids(spark):
    """String ids through the full IVF-PQ join (encode keeps the input
    id type; LUT keys and the scan output follow suit)."""
    from ai_incident_analyst_spark.operators.knn import ivfpq_knn_join
    rng = np.random.default_rng(7)
    pts = rng.normal(size=(120, D)) * 2.0
    rows = [(f"v{i:03d}", [float(x) for x in v]) for i, v in enumerate(pts)]
    corpus = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>")
    queries = (corpus.filter("vec_id < 'v005'")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    corp = corpus.filter("vec_id >= 'v005'")
    cents = spark.createDataFrame(
        [(f"c{i}", [float(x) for x in c])
         for i, c in enumerate(rng.normal(size=(4, D)) * 2.0)],
        "centroid_id string, centroid array<double>")
    out = ivfpq_knn_join(queries, corp, cents, k=3, nprobe=2,
                         m=M, kc=8, train_sample=115).collect()
    assert len(out) == 5 * 3
    assert all(isinstance(r["query_id"], str)
               and isinstance(r["vec_id"], str) for r in out)


def test_retrieval_metrics_hand_computed(spark):
    from ai_incident_analyst_spark.operators.evaluation import (
        retrieval_metrics,
    )
    # exact top-3 for q1: items 1,2,3 (dist 1,2,3); approx returns 2,1,9
    exact = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 3.0),
         (2, 7, 1.0), (2, 8, 2.0), (2, 9, 3.0)],
        "query_id long, vec_id long, distance double")
    approx = spark.createDataFrame(
        [(1, 2, 1.5), (1, 1, 2.5), (1, 9, 3.5),
         (2, 4, 1.0), (2, 5, 2.0), (2, 6, 3.0)],
        "query_id long, vec_id long, distance double")
    got = {r["query_id"]: (r["recall_at_k"], r["mrr"])
           for r in retrieval_metrics(approx, exact, k=3).collect()}
    # q1: hits {1,2} -> recall 2/3; true top-1 (item 1) at approx rank 2
    assert got[1] == (round(2 / 3, 6), 0.5)
    # q2: no overlap -> recall 0, mrr 0
    assert got[2] == (0.0, 0.0)


def _label_centroids(spark, corpus):
    import pyspark.sql.functions as F
    return (
        corpus.select("label",
                      F.posexplode(F.col("embedding").cast("array<double>"))
                      .alias("pos", "v"))
        .groupBy("label", "pos").agg(F.avg("v").alias("v"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(F.col("label").alias("centroid_id"),
                F.transform("pv", lambda s: s["v"]).alias("centroid"))
    )


def test_ivfpq_recall_vs_exact(spark):
    from ai_incident_analyst_spark.operators.knn import (
        ivfpq_knn_join,
        knn_join_blocked,
    )
    rng = np.random.default_rng(31)
    centers = rng.normal(size=(6, D)) * 6.0
    lbl = rng.integers(0, 6, 240)
    pts = centers[lbl] + rng.normal(size=(240, D)) * 0.4
    rows = [(i, int(lbl[i]), [float(x) for x in pts[i]])
            for i in range(240)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    queries = (corpus.filter("vec_id < 8")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    corp = corpus.filter("vec_id >= 8")
    cents = _label_centroids(spark, corp)
    approx = ivfpq_knn_join(queries, corp, cents, k=30, nprobe=2,
                            m=M, kc=16, train_sample=232)
    exact = knn_join_blocked(queries, corp, k=5)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.7, f"recall@30 {recall}"


def test_ivfpq_deterministic_across_partitionings(spark):
    from ai_incident_analyst_spark.operators.knn import ivfpq_knn_join
    rng = np.random.default_rng(41)
    pts = rng.normal(size=(150, D)) * 2.0
    rows = [(i, i % 4, [float(x) for x in pts[i]]) for i in range(150)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    queries = (corpus.filter("vec_id < 5")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    corp = corpus.filter("vec_id >= 5")
    cents = _label_centroids(spark, corp)
    a = sorted((r["query_id"], r["vec_id"], round(r["distance"], 9))
               for r in ivfpq_knn_join(queries, corp.repartition(1), cents,
                                       k=5, m=M, kc=8,
                                       train_sample=145).collect())
    b = sorted((r["query_id"], r["vec_id"], round(r["distance"], 9))
               for r in ivfpq_knn_join(queries, corp.repartition(9), cents,
                                       k=5, m=M, kc=8,
                                       train_sample=145).collect())
    assert a == b


def test_ivfpq_persisted_index_matches_inline(spark, tmp_path):
    from ai_incident_analyst_spark.operators.knn import (
        ivfpq_knn_join,
        ivfpq_probe_index,
        ivfpq_write_index,
    )
    rng = np.random.default_rng(53)
    pts = rng.normal(size=(120, D)) * 2.0
    rows = [(i, i % 3, [float(x) for x in pts[i]]) for i in range(120)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    queries = (corpus.filter("vec_id < 4")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    corp = corpus.filter("vec_id >= 4")
    cents = _label_centroids(spark, corp)
    for round_dp in (None, 6):
        inline = sorted(
            (r["query_id"], r["vec_id"], round(r["distance"], 9))
            for r in ivfpq_knn_join(queries, corp, cents, k=5, m=M, kc=8,
                                    train_sample=116,
                                    round_dp=round_dp).collect())
        path = str(tmp_path / f"ivfpq{round_dp}")
        ivfpq_write_index(corp, cents, path, m=M, kc=8, train_sample=116,
                          round_dp=round_dp)
        probed = ivfpq_probe_index(spark, path, queries, k=5,
                                   round_dp=round_dp)
        stored = sorted(
            (r["query_id"], r["vec_id"], round(r["distance"], 9))
            for r in probed.collect())
        assert inline == stored, round_dp
    # pruning proof: partition filters restrict to the probed cells
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "__cell" in plan and "PartitionFilters" in plan


def test_ivfpq_string_centroid_ids(spark, tmp_path):
    """String cell ids must survive the whole train/encode/scan/persist
    cycle (review finding: int() coercion crashed on them)."""
    from pyspark.sql import functions as F
    from ai_incident_analyst_spark.operators.knn import (
        ivfpq_knn_join,
        ivfpq_probe_index,
        ivfpq_write_index,
    )
    rng = np.random.default_rng(61)
    pts = rng.normal(size=(90, D)) * 2.0
    rows = [(i, ["red", "green", "blue"][i % 3],
             [float(x) for x in pts[i]]) for i in range(90)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>")
    corp = corpus.filter("vec_id >= 3")
    queries = (corpus.filter("vec_id < 3")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    cents = _label_centroids(spark, corp) \
        .withColumn("centroid_id", F.col("centroid_id").cast("string"))
    inline = sorted((r["query_id"], r["vec_id"], round(r["distance"], 9))
                    for r in ivfpq_knn_join(queries, corp, cents, k=5,
                                            m=M, kc=6,
                                            train_sample=87).collect())
    assert len(inline) == 15
    path = str(tmp_path / "sidx")
    ivfpq_write_index(corp, cents, path, m=M, kc=6, train_sample=87)
    stored = sorted((r["query_id"], r["vec_id"], round(r["distance"], 9))
                    for r in ivfpq_probe_index(spark, path, queries,
                                               k=5).collect())
    assert inline == stored


def test_retrieval_ndcg_hand_computed(spark):
    """Perfect ranking -> 1.0; a known swap -> hand-computed value."""
    import math

    from ai_incident_analyst_spark.operators.evaluation import (
        retrieval_ndcg,
    )
    exact = spark.createDataFrame(
        [(1, 10, 0.1), (1, 11, 0.2), (1, 12, 0.3)],
        "query_id long, vec_id long, distance double")
    perfect = retrieval_ndcg(exact, exact, k=3).first()
    assert perfect["ndcg_at_k"] == pytest.approx(1.0, abs=1e-9)
    # approx swaps ranks 1 and 2, misses item 12 entirely, adds a stray
    approx = spark.createDataFrame(
        [(1, 11, 0.1), (1, 10, 0.2), (1, 99, 0.3)],
        "query_id long, vec_id long, distance double")
    got = retrieval_ndcg(approx, exact, k=3).first()["ndcg_at_k"]
    # rel: 10->3, 11->2, 12->1 (k - exact_rank + 1)
    dcg = 2 / math.log2(2) + 3 / math.log2(3)
    idcg = 3 / math.log2(2) + 2 / math.log2(3) + 1 / math.log2(4)
    assert got == pytest.approx(round(dcg / idcg, 6), abs=1e-6)
    # query with zero overlap scores 0
    miss = spark.createDataFrame(
        [(1, 98, 0.1)], "query_id long, vec_id long, distance double")
    assert retrieval_ndcg(miss, exact, k=3).first()["ndcg_at_k"] == 0.0


def test_retrieval_ndcg_truncates_deep_frames(spark):
    """Frames deeper than k must be cut at rank k (code-review r5):
    identical top-3 with different tails is a PERFECT @3 — tail
    positions must contribute neither negative relevances nor DCG."""
    from ai_incident_analyst_spark.operators.evaluation import (
        retrieval_ndcg,
    )
    exact = spark.createDataFrame(
        [(1, i, float(i)) for i in range(1, 11)],
        "query_id long, vec_id long, distance double")
    approx = spark.createDataFrame(
        [(1, i, float(i)) for i in range(1, 4)]
        + [(1, i, 20.0 - i) for i in range(4, 11)],  # tail reversed
        "query_id long, vec_id long, distance double")
    got = retrieval_ndcg(approx, exact, k=3).first()["ndcg_at_k"]
    assert got == pytest.approx(1.0, abs=1e-9)


def test_ivfpq_fixed_books_skips_training_and_is_deterministic(spark):
    """books= bypasses the trained codebooks: the same fixed books give
    identical results across partitionings (the oracle-checkable
    registry path), and a zero-residual corpus scores exactly."""
    from ai_incident_analyst_spark.operators.knn import (
        ivfpq_knn_join,
        md5_planes,
    )
    rng = np.random.default_rng(13)
    pts = rng.normal(size=(100, D)) * 2.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(pts)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    queries = (corpus.filter("vec_id < 5")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    corp = corpus.filter("vec_id >= 5")
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c])
         for i, c in enumerate(rng.normal(size=(4, D)) * 2.0)],
        "centroid_id long, centroid array<double>")
    books = md5_planes(M, 8, DSUB)
    a = sorted((r["query_id"], r["vec_id"], r["distance"]) for r in
               ivfpq_knn_join(queries.repartition(1), corp.repartition(1),
                              cents, k=3, nprobe=2, m=M, kc=8,
                              books=books, round_dp=6).collect())
    b = sorted((r["query_id"], r["vec_id"], r["distance"]) for r in
               ivfpq_knn_join(queries.repartition(3), corp.repartition(7),
                              cents, k=3, nprobe=2, m=M, kc=8,
                              books=books, round_dp=6).collect())
    assert a == b and len(a) == 5 * 3


def _dirty_grid_corpus(spark, books):
    """``_grid_corpus`` plus a NULL and a too-short vector."""
    return _grid_corpus(spark, books).unionByName(spark.createDataFrame(
        [(900, None), (901, [1.0, 2.0])],
        "vec_id long, embedding array<double>")).repartition(3)


def test_pq_encode_drops_dirty_vectors(spark):
    books = _codewords()
    want = {r["vec_id"]: list(r["code"]) for r in pq_encode(
        _grid_corpus(spark, books), "vec_id", "embedding", books).collect()}
    got = {r["vec_id"]: list(r["code"]) for r in pq_encode(
        _dirty_grid_corpus(spark, books), "vec_id", "embedding",
        books).collect()}
    assert got == want


def test_ivfpq_encode_drops_dirty_vectors(spark):
    """The IVF-PQ corpus pass (``_ivfpq_encode``) drops NULL and
    wrong-length vectors: same neighbours as the clean corpus."""
    from ai_incident_analyst_spark.operators.knn import (
        ivfpq_knn_join,
        md5_planes,
    )
    books = _codewords()
    clean = _grid_corpus(spark, books)
    queries = (clean.filter("vec_id < 4")
               .selectExpr("vec_id as query_id", "embedding as query_vec"))
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in
         enumerate(np.random.default_rng(2).normal(size=(3, D)) * 3.0)],
        "centroid_id long, centroid array<double>")

    def run(corpus):
        return sorted(map(tuple, ivfpq_knn_join(
            queries, corpus, cents, k=4, nprobe=2, m=M, kc=8,
            books=md5_planes(M, 8, DSUB), round_dp=6).collect()))
    assert run(_dirty_grid_corpus(spark, books)) == run(clean)


def test_pq_knn_join_dirty_queries(spark):
    """No queries give an empty frame, a NULL query vector is dropped,
    and mixed query lengths raise a named ValueError."""
    books = _codewords()
    corpus = _grid_corpus(spark, books)
    schema = "query_id long, query_vec array<double>"
    out = pq_knn_join(spark.createDataFrame([], schema), corpus, books)
    assert out.collect() == []
    assert out.columns == ["query_id", "vec_id", "distance"]
    qv = corpus.filter("vec_id = 0").first()["embedding"]
    rows = pq_knn_join(spark.createDataFrame([(1, qv), (2, None)], schema),
                       corpus, books, k=3).collect()
    assert {r["query_id"] for r in rows} == {1} and len(rows) == 3
    with pytest.raises(ValueError, match="mixed lengths"):
        pq_knn_join(spark.createDataFrame([(1, qv), (2, qv[:3])], schema),
                    corpus, books)
