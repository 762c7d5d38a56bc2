"""Full-text retrieval: inverted index + boolean search + BM25 ranking.

The reference's whole-record keyword search (P9,
``src/llm/llm_processor.py:53-61``) is a LIKE scan — O(corpus) per
query. This module is the index-backed grown-up: build the posting-list
table once, answer keyword queries by joining the (tiny) query-term
postings, and rank with BM25 — the classic lexical scorer the tf-idf
salience query (``tfidf_top_terms``) stops short of. Hybrid retrieval
(BM25 ∪ kNN, already first-class via ``operators/knn.py``) is then just
a score-union of two registry operators.

Physical design:

- ``build_inverted_index``: one explode + one (doc, term) count — the
  same two shuffles as tf-idf; persisted via parquet
  ``partitionBy(bucket)`` on a term-hash bucket so a probe reads only
  its terms' buckets (planning-time partition pruning, the
  ``ivf_write_index`` pattern applied to text).
- Searches never scan the corpus: the query-term postings are filtered
  with an ``isin`` over a handful of literals (partition-pruned on the
  persisted form), joined, aggregated. Cost is O(Σ posting lists), not
  O(corpus) — the reason inverted indexes exist.
- BM25 ranks by the ROUNDED (6 dp) score with doc-id tie-break: libm
  ``ln`` may differ in the last ulp across engines, and an unrounded
  boundary rank would flip — same determinism rule as the tf/df scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import local_frame, spread


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Lowercased whitespace tokens as rows ``(doc_id, term)`` — the
    repo-wide text tokenization (shared with tf-idf/shingling)."""
    return spread(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .alias("term"))


def build_inverted_index(df: DataFrame, id_col: str,
                         text_col: str) -> DataFrame:
    """Posting lists with term frequencies: ``(term, doc_id, tf)``."""
    return (
        tokenize(df, id_col, text_col)
        .groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    )


def write_inverted_index(index: DataFrame, path: str,
                         n_buckets: int = 64) -> None:
    """Persist partitioned by a term-hash bucket: a probe for k terms
    reads ≤ k buckets (parquet partition pruning), never the full index."""
    (index.withColumn("bucket",
                      F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def read_index_for_terms(spark, path: str, terms: list[str],
                         n_buckets: int = 64) -> DataFrame:
    """Open the persisted index pruned to the probe terms' buckets.

    The terms' bucket ids are computed with one driver-side row-local
    job (k literals — same planning-time trick as
    ``ivf_probe_index``'s probed-cell list), then the scan filters on
    the PARTITION column with a static IN (→ parquet partition pruning:
    only ≤ k of the ``n_buckets`` directories are listed) plus the term
    predicate (row-group pushdown inside them).
    """
    t = [s.lower() for s in terms]
    brows = (
        local_frame(spark, [(x,) for x in t], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b"))
        .collect()
    )
    buckets = sorted({r["b"] for r in brows})
    return (
        spark.read.parquet(path)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(t))
        .drop("bucket")
    )


def search_all_terms(index: DataFrame, terms: list[str]) -> DataFrame:
    """Boolean AND: doc ids containing EVERY query term —
    ``(doc_id, n_matched)`` with n_matched == len(terms). Postings for
    the terms only (isin over literals), one count aggregation."""
    t = sorted({s.lower() for s in terms})  # dedupe: ['Data','data']
    # must mean ONE term, or count_distinct could never reach len(terms)
    return (
        index.filter(F.col("term").isin(t))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_matched"))
        .filter(F.col("n_matched") == len(t))
    )


def bm25_rank(index: DataFrame, doc_lens: DataFrame, terms: list[str],
              n_docs: int, avg_len: float, k1: float = 1.2,
              b: float = 0.75, topn: int = 10) -> DataFrame:
    """BM25 over the query terms: ``(doc_id, score)``, top ``topn`` by
    (rounded score desc, doc_id asc).

    ``doc_lens`` is ``(doc_id, dl)`` (token counts — one agg over the
    index, or the stored column); ``n_docs``/``avg_len`` are corpus
    scalars the caller computes once. idf uses the standard
    ``ln(1 + (N − df + 0.5)/(df + 0.5))`` positive-idf form.
    """
    t = sorted({s.lower() for s in terms})  # a repeated query term must
    # not double its contribution
    postings = index.filter(F.col("term").isin(t))
    df_ = postings.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    idf = F.log(F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tf = F.col("tf").cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.lit(float(avg_len)))
    contrib = idf * tf * F.lit(k1 + 1.0) / (tf + norm)
    scored = (
        postings.join(df_, "term")
        .join(doc_lens, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    # global top-n via sort-limit (TakeOrderedAndProject): per-partition
    # partial top-n merged on the driver — a global row_number window
    # would funnel every scored candidate through one task
    return (scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(topn).select("doc_id", "score"))


def rrf_fuse(ranked_lists: list[DataFrame], id_col: str = "doc_id",
             k: int = 60, topn: int = 10) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.): fuse any number of
    ranked result frames (each ``(id, score)``, already in its own score
    order) into ``(id, rrf_score)`` by ``Σ 1/(k + rank)`` — the standard
    hybrid-retrieval combiner (BM25 ∪ dense kNN) because it needs no
    score calibration between retrievers, only ranks.

    Ranks are assigned per input frame by (score desc, id asc) — with
    deterministic inputs the fused scores are exact rationals, so the
    fusion hash-matches a SQL twin. Cost: the inputs are top-N frames
    (tiny); everything here is driver-negligible windows + one union.
    """
    parts = []
    for df in ranked_lists:
        w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
        parts.append(df.select(
            id_col, F.row_number().over(w).alias("__rk")))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    w2 = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    return (
        allp.groupBy(id_col)
        .agg(F.round(F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("__rk"))),
                     6).alias("rrf_score"))
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= topn)
        .select(id_col, "rrf_score")
    )


def build_positional_index(df: DataFrame, id_col: str,
                           text_col: str) -> DataFrame:
    """Positional postings ``(term, doc_id, pos)`` — the phrase-query
    index (one posexplode, no aggregation; positions ARE the payload)."""
    c = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return spread(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(c).alias("pos", "term"))


def phrase_search(pindex: DataFrame, phrase: str) -> DataFrame:
    """Exact phrase match over the positional index: docs where the
    phrase's terms occur at CONSECUTIVE positions, with the occurrence
    count — ``(doc_id, n_occurrences)``.

    The classic adjacency join: postings for term_i shifted by −i all
    meet at the phrase's start position. Each join is on
    (doc_id, position) — uniform integer keys, postings-only cost; a
    k-word phrase is k−1 equi-joins of per-term posting lists, never a
    corpus scan or a regex.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("empty phrase")
    base = (
        pindex.filter(F.col("term") == terms[0])
        .select("doc_id", F.col("pos").alias("__start"))
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = (
            pindex.filter(F.col("term") == t)
            .select("doc_id", (F.col("pos") - i).alias("__start"))
        )
        base = base.join(nxt, ["doc_id", "__start"])
    return base.groupBy("doc_id").agg(F.count("*").alias("n_occurrences"))


def ql_rank(index: DataFrame, doc_lens: DataFrame, terms: list[str],
            collection_tokens: int, mu: float = 2000.0,
            topn: int = 10, round_dp: int = 6) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty 2001) — the language-modeling alternative to BM25, and the
    second ranking function a retrieval stack A/B-tests (they disagree
    most on long documents, where BM25's length normalization and
    Dirichlet's ``|d| + μ`` denominator pull differently).

    ``score(q, d) = Σ_t ln((tf_{t,d} + μ·P(t|C)) / (|d| + μ))`` with
    ``P(t|C) = cf_t / collection_tokens``. The zero-tf terms decompose
    out (``ln((tf+μP)/(|d|+μ)) = ln(μP) − ln(|d|+μ) + ln(1+tf/(μP))``),
    so the computation stays POSTINGS-ONLY: a document's score needs
    its matched postings plus its length — the corpus is never
    rescanned. Documents matching NO query term are not ranked (the
    standard candidate-set contract, same as ``bm25_rank``).

    Scores round to ``round_dp`` before the (score desc, doc_id asc)
    rank so a libm-ln ulp can't flip a boundary — the BM25 contract.
    Returns ``(doc_id, score)``, top ``topn``.
    """
    t = sorted({s.lower() for s in terms})
    postings = index.filter(F.col("term").isin(t))
    cf = postings.groupBy("term").agg(F.sum("tf").alias("cf"))
    # per-term smoothing mass μ·P(t|C); the Σ ln(μP_t) constant rides in
    # as a broadcast scalar so the returned score is the full QL value,
    # not a rank-equivalent surrogate
    mup = cf.select(
        "term",
        (F.lit(float(mu)) * F.col("cf")
         / F.lit(float(collection_tokens))).alias("mup"))
    # query terms absent from the collection have P(t|C) = 0 and would
    # contribute −inf to EVERY candidate equally; the convention is to
    # ignore them, so the term count in the length penalty comes from
    # the same anchor aggregate, not len(terms)
    const = mup.agg(F.sum(F.log("mup")).alias("__c"),
                    F.count("*").alias("__nq"))
    scored = (
        postings.join(F.broadcast(mup), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.log(F.lit(1.0) + F.col("tf") / F.col("mup")))
             .alias("__match"))
        .join(doc_lens, "doc_id")
        .crossJoin(F.broadcast(const))
        .select(
            "doc_id",
            F.round(F.col("__c") + F.col("__match")
                    - F.col("__nq")
                    * F.log(F.col("dl") + F.lit(float(mu))), round_dp)
            .alias("score")))
    # sort-limit top-n, same rationale as bm25_rank
    return (scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(topn).select("doc_id", "score"))


def best_snippet(df: DataFrame, id_col: str, text_col: str,
                 terms: list[str], window: int = 10) -> DataFrame:
    """Highlight extraction: for every document containing a query
    term, the ``window``-token span with the most query-term hits —
    the display final-mile after ``bm25_rank``/``ql_rank`` (a search
    result is unusable without the passage that matched).

    Deterministic contract: candidate spans START AT A HIT (an optimal
    window can always be shifted right onto its first hit without
    losing hits), densities tie-break to the EARLIEST start, and the
    snippet re-joins the original tokens with single spaces.

    Plan: positions come from one narrow ``posexplode``; the density
    of every candidate span is ONE range-frame window over the
    hit rows ordered by position (count of hits in [pos, pos+W−1]) —
    per-document work is O(hits), never O(tokens²); the winning span
    re-slices the token array in a scan-stage projection. One keyed
    sort is the only shuffle.
    """
    t = sorted({s.lower() for s in terms})
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    hits = (base.select(
        "doc_id",
        F.posexplode("__toks").alias("__pos", "__tok"))
        .where(F.col("__tok").isin(t)))
    w = (Window.partitionBy("doc_id").orderBy("__pos")
         .rangeBetween(0, window - 1))
    ranked = (hits.withColumn("n_hits", F.count("*").over(w))
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy("doc_id")
                  .orderBy(F.desc("n_hits"), F.col("__pos").asc())))
              .where(F.col("__rn") == 1)
              .select("doc_id", (F.col("__pos") + 1).alias("start_tok"),
                      "n_hits"))
    return (ranked.join(base, "doc_id")
            .select("doc_id", "start_tok",
                    F.col("n_hits").cast("long").alias("n_hits"),
                    F.array_join(
                        F.slice(F.col("__toks"), F.col("start_tok"),
                                window), " ").alias("snippet")))
