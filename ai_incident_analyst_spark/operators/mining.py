"""Hard-negative mining for retrieval / embedding-model training.

Given (query, known-positive) pairs over an embedded corpus, mine each
query's top-k most-similar corpus items that are NOT positives — the
contrastive-training staple (sentence-transformers'
``mine_hard_negatives``, DPR's BM25-negative recipe): training on
near-miss negatives is what teaches a bi-encoder the decision boundary,
and random negatives are too easy to carry gradient signal.

The reference's vector side stops at exact top-k retrieval
(``src/vector_db/faiss_db.py:43``) — it consumes embeddings but has no
surface for producing training data FOR the embedding model; this
operator closes that loop, same family as the preference-pair builders
(``operators/preference.py``).

Semantics (the sentence-transformers contract, restated relationally):

- candidates are ranked by cosine similarity, ROUNDED to ``round_dp``
  decimals before ranking (corpus-id tie-break) so a libm ulp can't
  flip a boundary rank cross-engine — the repo-wide discretization
  contract (``operators/search.py`` BM25, ``operators/dsir.py``);
- every (query, positive) pair is excluded by anti-join — including
  self-matches if the caller lists the query itself as a positive;
- optional ``margin``: keep only negatives with
  ``sim ≤ best_positive_sim − margin`` (the "absolute margin" filter —
  a candidate nearly as similar as a true positive is more likely an
  UNLABELED positive than a hard negative; mining it would poison the
  training signal with false negatives).

Physical plan, and why it holds at 100 TB: the query set is
fixed-cardinality training input → broadcast; the corpus is scanned
once by a broadcast-nested-loop scoring pass and never shuffled before
the per-query top-k window (``operators/knn.py:knn_join`` instead scores
with a partial-top-k Arrow pass; it returns only the top-k, while the
semantics here need the scored frame for the exclusions and margin).
The positive exclusion is a broadcast anti-join (positives ≪
corpus); the margin anchor is a per-query 1-row aggregate joined back
broadcast. Only the final window shuffles, keyed by query id over
candidate rows, not the corpus.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity


def mine_hard_negatives(queries: DataFrame, corpus: DataFrame,
                        positives: DataFrame, k: int = 5,
                        query_id: str = "query_id",
                        query_vec: str = "query_vec",
                        corpus_id: str = "vec_id",
                        corpus_vec: str = "embedding",
                        margin: Optional[float] = None,
                        round_dp: int = 6) -> DataFrame:
    """Top-k hard negatives per query: ``(query_id, vec_id, sim, rank)``.

    ``positives`` must have columns ``(query_id, vec_id)`` naming the
    known-relevant corpus items per query (its extra columns are
    ignored). With ``margin`` set, candidates within ``margin`` of the
    query's best positive similarity are dropped BEFORE the top-k, so
    the returned rank is over the safe candidate set.
    """
    q = F.broadcast(
        queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).cast("array<double>").alias("__qv")))
    c = corpus.select(F.col(corpus_id).alias("vec_id"),
                      F.col(corpus_vec).cast("array<double>").alias("__cv"))
    pos = positives.select(F.col(query_id).alias("query_id"),
                           F.col(corpus_id).alias("vec_id"))
    sim = F.round(cosine_similarity("__qv", "__cv"), round_dp)
    scored = q.crossJoin(c).withColumn("sim", sim)
    cand = scored.join(F.broadcast(pos), ["query_id", "vec_id"],
                       "left_anti")
    if margin is not None:
        # score ONLY the positive pairs for the margin anchor — an
        # equi-join of the tiny positives list against corpus + queries,
        # |positives| rows of work — instead of referencing the full
        # |Q|x|C| scored frame a second time (which re-ran the corpus
        # cross-join scoring pass at any scale)
        best = (pos.join(c, "vec_id").join(q, "query_id")
                .withColumn("sim", sim)
                .groupBy("query_id")
                .agg(F.max("sim").alias("__best")))
        cand = (cand.join(F.broadcast(best), "query_id")
                .where(F.col("sim") <= F.col("__best") - F.lit(float(margin))))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "sim",
                    F.col("rank").cast("long").alias("rank")))


def sample_random_negatives(queries: DataFrame, corpus: DataFrame,
                            positives: DataFrame, k: int = 5,
                            query_id: str = "query_id",
                            corpus_id: str = "vec_id",
                            salt: str = "") -> DataFrame:
    """Uniform random negatives per query — the in-batch-negatives
    complement to ``mine_hard_negatives``: contrastive training wants a
    MIX (a few hard negatives for gradient signal, many random ones for
    calibration; all-hard collapses embeddings onto the decision
    boundary). ``(query_id, vec_id, rank)``, k per query.

    Randomness is the repo's deterministic-hash draw: candidates rank by
    ``md5(salt:query_id:vec_id)`` — uniform per (query, candidate),
    reproducible across engines/partitionings/reruns (a seeded shuffle
    is NOT reproducible under Spark re-execution), and a different
    ``salt`` re-draws the sample. Positives excluded by broadcast
    anti-join BEFORE ranking so every returned row is a true negative.

    Plan: query-ids × corpus-ids candidate join (ids only, never
    vectors — the frame is narrow even at 100 TB corpus width), one
    per-query top-k window. For corpora where |Q|·|C| ids overflow,
    pre-filter the corpus with ``sampling.hash_sample`` to an O(k)
    oversample per query first — same hash family, same determinism.
    """
    q = queries.select(F.col(query_id).alias("query_id")).distinct()
    c = corpus.select(F.col(corpus_id).alias("vec_id")).distinct()
    pos = positives.select(F.col(query_id).alias("query_id"),
                           F.col(corpus_id).alias("vec_id"))
    cand = (F.broadcast(q).crossJoin(c)
            .join(F.broadcast(pos), ["query_id", "vec_id"], "left_anti"))
    h = F.md5(F.concat_ws(":", F.lit(salt),
                          F.col("query_id").cast("string"),
                          F.col("vec_id").cast("string")))
    w = Window.partitionBy("query_id").orderBy(h.asc(),
                                               F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id",
                    F.col("rank").cast("long").alias("rank")))
