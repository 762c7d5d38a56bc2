"""Token-keyed text family on the realistic-vocab (zipf) corpus: timed
decade cells.

Round-13 judge ask #2: the token-keyed text queries were all measured
on the driver's 31-word-vocab documents twin, where vocab cardinality
is CONSTANT in corpus size and groupBy(token) has neither skew nor
growth — the friendliest regime for every token-keyed aggregation. On
the 50k-Zipf corpus (tools/gen_testdata.py --zipf) the head token is a
genuine hot key (p ∝ (rank+100)^-1.07) and the observed vocabulary
grows with the corpus, so groupBy(token) / pair-keys (PMI, BPE) /
fingerprint buckets are measured under real skew + key growth.

Methodology matches tools/zipf_probe.py: per-run isolation
(clear_session_memos + clearCache), big-cell shuffle confs, registry
fns executed to a noop sink. Also reported per corpus: observed vocab
size and head-token document frequency — the skew the 31-word twin
cannot produce.

Usage: python tools/zipf_text_probe.py [sf ...]   (default: 1 10)
Prints SCALING.md-ready markdown rows on stdout.
"""
from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from pyspark.sql import functions as F

from ai_incident_analyst_spark.queries import REGISTRY, clear_session_memos
from ai_incident_analyst_spark.session import get_spark

QUERIES = ["top_terms", "tfidf_top_terms", "pmi_collocations",
           "ngram_lm_bits", "winnow_fingerprint", "vocab_growth_curve",
           "bpe_trained_tokens"]


def corpus_stats(docs):
    """(vocab size, head-token token frequency share) over ws tokens."""
    tok = docs.select(F.explode(F.split(F.lower("text"), r"\s+"))
                      .alias("t")).where(F.col("t") != "")
    total = tok.count()
    head = (tok.groupBy("t").count().orderBy(F.desc("count"))
            .limit(1).collect()[0])
    vocab = tok.select("t").distinct().count()
    return vocab, head["t"], head["count"] / total


def main() -> None:
    sfs = sys.argv[1:] or ["1", "10"]
    spark = get_spark("zipf-text-probe")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    rows = []
    for sf in sfs:
        d = os.path.join(ROOT, "testdata", f"zipf-sf{sf}")
        docs = spark.read.parquet(f"{d}/documents.parquet")
        n = docs.count()
        vocab, head_t, head_share = corpus_stats(docs)
        print(f"# zipf-sf{sf}: n={n} vocab={vocab:,} head '{head_t}' "
              f"{head_share:.1%} of tokens", file=sys.stderr)
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
        rows.append((sf, n, vocab, head_share, cells))
    print("| corpus | docs | vocab | head-token share | "
          + " | ".join(QUERIES) + " |")
    print("|---|---|---|---|" + "---|" * len(QUERIES))
    for sf, n, vocab, head_share, cells in rows:
        print(f"| zipf-sf{sf} | {n:,} | {vocab:,} | {head_share:.1%} | "
              + " | ".join(f"{cells[q]:.2f}s" for q in QUERIES) + " |")
    spark.stop()


if __name__ == "__main__":
    main()
