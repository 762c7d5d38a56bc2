"""The curation job: the LLM-data-pipeline batch pass over a Zipf corpus.

One pass reads the documents table and runs ``quality_score`` as a filter,
``ngram_jaccard_pairs_lsh`` for near-duplicate pairs, ``connected_components``
over them and ``dedup_canonical`` to keep one document per cluster, writes
the curated corpus, then embeds it with ``embed_text`` and finds the top-k
neighbours of a seeded sample of queries with ``knn_join_blocked``. Cached
frames are cleared before each pass. The ``dashboard_curation`` workload
runs one pass per round.

Traced: one span per layer call, each forcing its output.
"""

from __future__ import annotations

import gen
import numpy as np

DOCS = 800
QUALITY_MIN = 0.5
JACCARD = 0.7       # near-dup threshold on word 3-gram Jaccard
NUM_PERM, BANDS = 64, 16
DIM = 64
QUERIES = 40
K = 5
LAYERS = ("quality", "lsh_pairs", "cc", "canonical", "embed", "knn")


def _check(survivors: set[int], hits, truth, vecs,
           query_ids: list[int]) -> list[str]:
    """Junk is filtered, every planted exact copy is collapsed with its
    source, and every query's kNN hits match a numpy brute force over the
    survivors."""
    fails = []
    junk = set(truth.doc_id[truth.kind == "junk"]) & survivors
    if junk:
        fails.append(f"{len(junk)} junk documents survived the filter")
    exact = truth[truth.kind == "exact"]
    both = sum(1 for i, j in zip(exact.doc_id, exact.src)
               if i in survivors and j in survivors)
    if both:
        fails.append(f"{both} planted exact copies not collapsed")
    ids = np.array(sorted(survivors))
    mat = vecs[ids]
    got: dict[int, list[float]] = {q: [] for q in query_ids}
    for h in hits:
        got.setdefault(h.query_id, []).append(h.distance)
    for qid, dists in got.items():
        sims = mat @ vecs[qid]
        want = np.sort(sims)[::-1][:K]
        if len(dists) != K or not np.allclose(sorted(dists, reverse=True),
                                              want, atol=1e-5):
            fails.append(f"query {qid}: kNN scores differ from brute force")
    return fails


class Curation:
    """The seeded corpus, its ground truth, and one checked pass."""

    def __init__(self, ctx):
        from ai_incident_analyst_spark.operators.embedding import (
            hashing_encode,
        )

        self.ctx, self.spark = ctx, ctx.spark
        docs, self.truth = gen.zipf_documents(ctx.seed, DOCS)
        self.docs_path, self.out_path = ctx.path("docs"), ctx.path("curated")
        self.spark.createDataFrame(docs).write.parquet(self.docs_path)
        # queries: background documents nobody copied, so they always survive
        rng = np.random.default_rng([ctx.seed, 3])
        t = self.truth
        safe = t[(t.kind == "background") & ~t.doc_id.isin(t.src)].doc_id
        self.query_ids = [int(i) for i in np.sort(
            rng.choice(safe.to_numpy(), QUERIES, replace=False))]
        vecs = hashing_encode(docs.text.tolist(), DIM).astype(np.float64)
        self.vecs = vecs / np.maximum(
            np.linalg.norm(vecs, axis=1, keepdims=True), 1e-300)
        self.stats: list[dict] = []
        self.hits: list = []

    def run_pass(self, op: int) -> None:
        """One pass from a cleared cache, with one span per layer call
        (free when untraced)."""
        from pyspark.sql import functions as F

        from ai_incident_analyst_spark.operators.dedup import (
            connected_components,
            dedup_canonical,
            ngram_jaccard_pairs_lsh,
        )
        from ai_incident_analyst_spark.operators.embedding import embed_text
        from ai_incident_analyst_spark.operators.knn import knn_join_blocked
        from ai_incident_analyst_spark.operators.text_analysis import (
            quality_score,
        )

        spark, t = self.spark, self.ctx.tracer
        spark.catalog.clearCache()
        docs = spark.read.parquet(self.docs_path)
        with t.span("quality", op):
            good = t.force(docs.withColumn("quality", quality_score("text"))
                           .filter(F.col("quality") >= QUALITY_MIN))
        with t.span("lsh_pairs", op) as pairs_span:
            pairs = t.force(ngram_jaccard_pairs_lsh(
                good, "doc_id", "text", n=3, threshold=JACCARD,
                num_perm=NUM_PERM, bands=BANDS))
        with t.span("cc", op):
            clusters = t.force(connected_components(pairs, "id_a", "id_b"))
        with t.span("canonical", op):
            keep = dedup_canonical(good, clusters, "doc_id", "quality")
            keep.select("doc_id", "text").write.mode("overwrite") \
                .parquet(self.out_path)
        curated = spark.read.parquet(self.out_path)
        with t.span("embed", op) as embed_span:
            emb = t.force(embed_text(curated, ["text"], dim=DIM)
                          .select("doc_id", "embedding"))
        queries = emb.filter(F.col("doc_id").isin(self.query_ids)).select(
            F.col("doc_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        with t.span("knn", op):
            self.hits = knn_join_blocked(queries, emb, k=K, metric="cosine",
                                         corpus_id="doc_id").collect()
        if t.enabled:
            self.stats.append({"verified": pairs_span.rows,
                               "embedded": embed_span.rows})
        t.release()

    def check_pass(self) -> list[str]:
        """The failed checks of the last pass."""
        survivors = {r.doc_id for r in self.spark.read.parquet(
            self.out_path).select("doc_id").collect()}
        return _check(survivors, self.hits, self.truth, self.vecs,
                      self.query_ids)

    def layer_metrics(self, layers) -> dict[str, float]:
        """The curation layers' metrics from the traced passes."""
        from ai_incident_analyst_spark.operators.dedup import (
            minhash_lsh_neardup,
        )
        from ai_incident_analyst_spark.operators.text_analysis import (
            quality_score,
        )

        out: dict[str, float] = {}
        for name in LAYERS:
            d = layers[name]
            for k in ("self_s", "jobs", "cpu_s", "shuffle_mb"):
                out[f"{name}.{k}"] = d[k] / d["spans"]
        # candidates are internal to ngram_jaccard_pairs_lsh: count them
        # with the LSH call it makes, outside the timed operations
        good = self.spark.read.parquet(self.docs_path).filter(
            quality_score("text") >= QUALITY_MIN)
        cand = minhash_lsh_neardup(good, "doc_id", "text", NUM_PERM, BANDS,
                                   3, verify=False).count()
        n = len(self.stats)
        verified = self.stats[-1]["verified"]
        out.update({
            "lsh_pairs.candidates": float(cand),
            "lsh_pairs.verified": float(verified),
            "lsh_pairs.useful_frac": verified / cand if cand else 0.0,
            "embed.rows": layers["embed"].get("python_rows", 0.0) / n,
            "embed.python_s": layers["embed"].get("python_ms", 0.0) / 1e3 / n,
            # every embedded document is a row of the kNN corpus
            "embed.useful_frac": 1.0,
            "knn.pairs_scored": float(QUERIES * self.stats[-1]["embedded"]),
            "knn.python_s": layers["knn"].get("python_ms", 0.0) / 1e3 / n,
        })
        return out
