"""Near-dup family on the realistic-vocab (zipf) corpus: timed decade
cells + CANDIDATE-PAIR counts for the blocking-scheme contrast.

Round-12 judge ask #2: the driver's 31-word-vocab documents twin makes
every near-dup scale law OUTPUT-bound (true d<=5 pairs grow ~101x per
10x docs) and caps fingerprint entropy, so simhash_neardup_manku's
claimed ~36x candidate cut over single-chunk blocking measured only
2.7x there. This probe re-measures on tools/gen_testdata.py --zipf
corpora (Zipf-50k content-word vocab, linear planted near-dup set):

  - wall time per query at zipf-sf1 (50k docs) and zipf-sf10 (500k)
    for simhash_neardup / simhash_neardup_manku / minhash_lsh_neardup
    (registry fns, per-run isolation, big-cell shuffle confs — the
    same methodology as tools/scaling_probe.py sf>=1 cells)
  - BLOCKING-KEY candidate counts (sum over key groups of c*(c-1)/2,
    one aggregation, no join) for the single-chunk (d=5 -> 10-bit
    chunks x 6, operators/dedup.py:simhash_neardup) vs Manku (7,2)
    (~17-bit keys x 21 tables, operators/dedup.py:simhash_neardup_manku)
    constructions over the SAME md5 fingerprints — the number the
    candidate-cut claim is about.

Usage: python tools/zipf_probe.py [sf ...]   (default: 1 10)
Prints SCALING.md-ready markdown rows on stdout.
"""
from __future__ import annotations

import os
import sys
import time
from itertools import combinations

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from pyspark.sql import functions as F

from ai_incident_analyst_spark.operators.dedup import simhash
from ai_incident_analyst_spark.queries import REGISTRY, clear_session_memos
from ai_incident_analyst_spark.session import get_spark

QUERIES = ["simhash_neardup", "simhash_neardup_manku",
           "minhash_lsh_neardup"]


def pair_count(grouped) -> int:
    """Sum of c*(c-1)/2 over blocking-key group sizes."""
    row = (grouped.agg(F.count("*").alias("c"))
           .agg(F.sum(F.expr("c * (c - 1) / 2")).alias("p")).first())
    return int(row["p"] or 0)


def candidate_counts(spark, docs):
    """(single_chunk, manku) candidate-pair counts over md5 simhash.

    Key constructions replay operators/dedup.py exactly:
    simhash_neardup (d=5, band_bits=10 on 60 bits -> 6 chunks,
    dedup.py:566-571) and simhash_neardup_manku (chunks=7, combine=2 on
    60 bits -> near-equal block sizes, C(7,2)=21 concat keys,
    dedup.py:694-712)."""
    sh = simhash(docs, "doc_id", "text", hash_fn="md5") \
        .localCheckpoint(eager=True)
    # single-chunk: 6 chunks of 10 bits
    mask10 = (1 << 10) - 1
    single_keys = F.array(*[
        F.shiftright(F.col("simhash"), i * 10).bitwiseAND(F.lit(mask10))
        for i in range(6)])
    single = pair_count(
        sh.select(F.posexplode(single_keys).alias("i", "k"))
        .groupBy("i", "k"))
    # Manku (7,2): near-equal block sizes on 60 bits
    nbits, chunks = 60, 7
    sizes = [nbits // chunks + (1 if i < nbits % chunks else 0)
             for i in range(chunks)]
    offsets = [sum(sizes[:i]) for i in range(chunks)]

    def block(i):
        return (F.shiftright(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << sizes[i]) - 1)))

    manku_keys = F.array(*[
        F.concat_ws(":", *[block(i).cast("string") for i in combo])
        for combo in combinations(range(chunks), 2)])
    manku = pair_count(
        sh.select(F.posexplode(manku_keys).alias("i", "k"))
        .groupBy("i", "k"))
    sh.unpersist()
    return single, manku


def main() -> None:
    sfs = sys.argv[1:] or ["1", "10"]
    spark = get_spark("zipf-probe")
    # big-cell shuffle confs (measurement-hygiene rule: per-probe, the
    # bench session shape is untouched)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    rows = []
    for sf in sfs:
        d = os.path.join(ROOT, "testdata", f"zipf-sf{sf}")
        docs = spark.read.parquet(f"{d}/documents.parquet")
        n = docs.count()
        single, manku = candidate_counts(spark, docs)
        cut = single / max(manku, 1)
        print(f"# zipf-sf{sf}: n={n} candidates single={single:,} "
              f"manku={manku:,} cut={cut:.1f}x", file=sys.stderr)
        cells = {}
        for q in QUERIES:
            clear_session_memos()
            spark.catalog.clearCache()
            t0 = time.time()
            out = REGISTRY[q].fn(spark, d)
            out.write.format("noop").mode("overwrite").save()
            cells[q] = time.time() - t0
            print(f"# {q} @ zipf-sf{sf}: {cells[q]:.2f}s",
                  file=sys.stderr)
        rows.append((sf, n, single, manku, cut, cells))
    print("| corpus | docs | cand(single-chunk) | cand(Manku 7,2) "
          "| cut | simhash_neardup | simhash_neardup_manku "
          "| minhash_lsh_neardup |")
    print("|---|---|---|---|---|---|---|---|")
    for sf, n, single, manku, cut, cells in rows:
        print(f"| zipf-sf{sf} | {n:,} | {single:,} | {manku:,} "
              f"| {cut:.1f}x | {cells['simhash_neardup']:.2f}s "
              f"| {cells['simhash_neardup_manku']:.2f}s "
              f"| {cells['minhash_lsh_neardup']:.2f}s |")
    spark.stop()


if __name__ == "__main__":
    main()
