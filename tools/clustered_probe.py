"""Vector family on the CLUSTERED embeddings twin: timed decade cells +
trained-quantizer cell-population skew.

Round-13 judge ask #1: every vector-family scale cell so far was
measured on the driver's isotropic N(0,1) unit-normalized embeddings —
the FRIENDLIEST regime for IVF cell balance (trained cells come out
near-uniform), the same measurement-flaw class the zipf text twin
proved can flip conclusions (Manku cut 2.7x -> 27-31x). This probe
re-measures on tools/gen_testdata.py --clustered corpora (64-center
Gaussian mixture, Zipf(1.07) cluster masses — head cluster ~21% of
clustered points — plus a 10% isotropic noise floor):

  - CELL-SKEW stats for the trained quantizer exactly as
    mutual_knn_pairs_ivf_trained builds it (k = min(1024, n/4),
    first-k-by-id init, ONE Lloyd round at 6dp): cell-population
    max / mean / p99 and the top-cell share — the number that decides
    whether the per-cell cogroup BLAS matmul (knn.py:1171) has a
    straggler cell.
  - wall time per query at clustered-sf1 (20k vectors) and
    clustered-sf10 (200k) for the five queries the ask names
    (registry fns, per-run isolation, big-cell shuffle confs — the
    same methodology as tools/zipf_probe.py / scaling_probe sf>=1
    cells), directly comparable to the isotropic sf1/sf10 cells
    already in SCALING.md.

Usage: python tools/clustered_probe.py [sf ...]   (default: 1 10)
Prints SCALING.md-ready markdown rows on stdout.
"""
from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

import numpy as np
from pyspark.sql import functions as F

from ai_incident_analyst_spark.queries import REGISTRY, clear_session_memos
from ai_incident_analyst_spark.session import get_spark

QUERIES = ["mutual_knn_pairs_ivf_trained", "knn_ivf", "ivf_nprobe_recall",
           "kmeans_clusters", "dbscan_embeddings_2d_scaled"]


def cell_skew(spark, emb):
    """(k, max, mean, p99, top_share) of trained-quantizer cell
    populations — replays mutual_knn_pairs_ivf_trained's build exactly
    (queries.py:q_mutual_knn_pairs_ivf_trained)."""
    from ai_incident_analyst_spark.operators.clustering import kmeans_fit
    from ai_incident_analyst_spark.operators.knn import assign_cells

    n = emb.count()
    k = max(1, min(1024, n // 4))
    init_rows = (emb.where(F.col("vec_id") < k)
                 .select("vec_id", F.col("embedding").cast("array<double>")
                         .alias("v")).collect())
    init = np.array([r["v"] for r in
                     sorted(init_rows, key=lambda r: r["vec_id"])])
    cents, _ = kmeans_fit(emb, "vec_id", "embedding", k=k, max_iter=1,
                          tol=0.0, init=init, round_dp=6)
    pops = (assign_cells(emb.select("vec_id", F.col("embedding")
                                    .cast("array<double>").alias("v")),
                         "v", np.arange(len(cents)), cents, n=1,
                         round_dp=6)
            .groupBy("__cell").count().select("count").collect())
    c = np.sort(np.array([r["count"] for r in pops]))
    return (k, int(c.max()), float(n) / k,
            int(np.quantile(c, 0.99)), c.max() / n)


def main() -> None:
    sfs = sys.argv[1:] or ["1", "10"]
    spark = get_spark("clustered-probe")
    # big-cell shuffle confs (measurement-hygiene rule: per-probe, the
    # bench session shape is untouched)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    rows = []
    for sf in sfs:
        d = os.path.join(ROOT, "testdata", f"clustered-sf{sf}")
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        n = emb.count()
        k, cmax, cmean, p99, share = cell_skew(spark, emb)
        print(f"# clustered-sf{sf}: n={n} k={k} cell max={cmax} "
              f"mean={cmean:.1f} p99={p99} top-share={share:.1%} "
              f"(max/mean {cmax / cmean:.1f}x)", file=sys.stderr)
        cells = {}
        for q in QUERIES:
            clear_session_memos()
            spark.catalog.clearCache()
            t0 = time.time()
            out = REGISTRY[q].fn(spark, d)
            out.write.format("noop").mode("overwrite").save()
            cells[q] = time.time() - t0
            print(f"# {q} @ clustered-sf{sf}: {cells[q]:.2f}s",
                  file=sys.stderr)
        rows.append((sf, n, k, cmax, cmean, share, cells))
    print("| corpus | vecs | k | cell max/mean | top-cell share | "
          + " | ".join(QUERIES) + " |")
    print("|---|---|---|---|---|" + "---|" * len(QUERIES))
    for sf, n, k, cmax, cmean, share, cells in rows:
        print(f"| clustered-sf{sf} | {n:,} | {k} "
              f"| {cmax / cmean:.1f}x | {share:.1%} | "
              + " | ".join(f"{cells[q]:.2f}s" for q in QUERIES) + " |")
    spark.stop()


if __name__ == "__main__":
    main()
