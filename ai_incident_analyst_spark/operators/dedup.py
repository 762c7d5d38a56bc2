"""Deduplication operators: exact, keep-first, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Reference parity: A2 keyed dedup keeping first-seen order
(``src/preprocessing/preprocessor.py:30-42``, key ``:37``) and A3 search-hit
dedup (``src/llm/llm_processor.py:53-61``). Everything beyond that is the
LLM-training-data-pipeline surface (north star in BASELINE.json).

Scale design notes
------------------
* ``dedup_exact``/``dedup_keep_first``: one hash shuffle on the key; with
  AQE the reduce side coalesces. Keep-first uses a window over an explicit
  arrival column — ``dropDuplicates`` alone keeps an *arbitrary* survivor,
  which is nondeterministic under retries at scale.
* ``minhash_lsh_neardup``: all stages are built-in exprs (xxhash64 min-agg
  per permutation, band-hash explode, self-join per bucket). The only
  shuffles are (a) groupBy doc for signatures, (b) groupBy band bucket,
  (c) candidate-pair verification join — each keyed and skew-tolerant via
  AQE. No Python boundary anywhere; at 100 TB the band join is the
  classic LSH candidate-generation trick that avoids the O(n²) cross join.
* ``simhash``: 64 bit-vote aggregations in one groupBy pass (map-side
  partial agg), recombined into a single long.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .knn import block_pairs
from .util import guard_pairwise_input, local_frame, spread


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, keys: list[str]) -> DataFrame:
    """A2/A11 relaxed form: one arbitrary survivor per key (dropDuplicates).

    Matches preprocessor.py:30-42 up to survivor choice; use
    ``dedup_keep_first`` when first-seen parity matters.
    """
    return df.dropDuplicates(keys)


def dedup_keep_first(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """A2/W7 strict parity: keep the first-seen row per key.

    The reference's hash-set loop preserves input order (preprocessor.py:34-39);
    Spark needs an explicit arrival column (ingest-time
    ``monotonically_increasing_id`` or an event id) to make "first" defined.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# shingling (shared by MinHash / n-gram Jaccard)
# ---------------------------------------------------------------------------

def shingle(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` as array<string>.

    Tokenization = lowercase + split on whitespace runs; shingles are the
    sliding word n-grams joined by a single space. Implemented with
    higher-order functions only (filter/transform/slice), JVM-side.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    # guard: sequence(1, 0) would produce a DESCENDING [1, 0] (Spark picks
    # step=-1 when start > stop) and slice(toks, 0, n) then throws; docs
    # shorter than n tokens must yield an empty array (shingle_rows parity)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            # sequence over start positions 1..len-n+1 (1-based for slice)
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingle_rows(df: DataFrame, id_col: str, text_col: str,
                 n: int = 3, distinct: bool = True,
                 hash_fn: str = "xxhash64") -> DataFrame:
    """Word n-gram shingles as rows ``(doc, s)`` with ``s`` the 64-bit
    shingle hash — the relational formulation of ``shingle`` + explode.

    ``shingle``'s higher-order ``transform`` re-evaluates the captured
    token array per element and never enters whole-stage codegen; this
    posexplode + ``lead``-window form is fully codegen'd and measured 8×
    faster at sf0.1 (3.9 s → 0.5 s for the shingle scan). The window's
    (doc, pos) shuffle is skinny rows and doubles as the partitioning the
    downstream per-doc aggregation needs. Docs with fewer than ``n``
    tokens yield no shingles.

    ``distinct=False`` skips the per-(doc, shingle) dedup shuffle — valid
    for consumers insensitive to duplicates (e.g. MinHash's min-agg).
    """
    from .text_analysis import _gram_hash

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tk = spread(df, id_col).select(F.col(id_col).alias("doc"),
                                   F.posexplode(toks).alias("pos", "tok"))
    w = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    # gram + guard computed in the SAME projection, before any filter —
    # re-deriving lead() after a filter would see the truncated partition
    out = (
        tk.select("doc", F.concat_ws(" ", *parts).alias("g"),
                  F.lead("tok", n - 1).over(w).alias("__last"))
        .filter(F.col("__last").isNotNull())
        .select("doc", _gram_hash(F.col("g"), hash_fn).alias("s"))
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_rows: int | None = 50_000,
                        force: bool = False) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard similarity.

    Plan shape: explode distinct shingles → self-equi-join on shingle
    (never a cross join) → count common shingles per pair → join per-doc
    shingle counts → |A∩B| / (|A|+|B|−|A∩B|). Returns
    (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    At scale: extremely common shingles generate hot buckets; callers
    should cap shingle document-frequency upstream (stop-shingle removal)
    — the LSH variant below is the preferred 100 TB path. Inputs above
    ``max_rows`` (default 50k = the largest in-envelope measured corpus;
    the measured sf2 cell blew past its fitted exponent into spill,
    SCALING.md) raise ``PairwiseInputCapExceeded`` unless ``force=True``.
    """
    guard_pairwise_input(df, max_rows, "ngram_jaccard_pairs",
                         "ngram_jaccard_pairs_lsh (banded-MinHash "
                         "candidates + exact verify)", force)
    # join on the 64-bit shingle hash, not the string: fixed-width keys
    # shuffle less and probe faster; a cross-doc collision would need
    # ~2^32 distinct shingles (birthday bound) to become likely
    #
    # localCheckpoint: this subtree feeds FOUR consumers (join probe side,
    # join build side, and both per-doc count joins) and the broadcast
    # exchanges defeat ReuseExchange — without it the shingle scan+window
    # runs 4x (measured: 4 parquet scans in the physical plan, ~2s of a
    # 3.1s query at sf0.1). Materialize once, read 4x.
    sh = shingle_rows(df, id_col, text_col, n, distinct=True) \
        .localCheckpoint(eager=False)
    counts = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(ca, "id_a").join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_lsh(df: DataFrame, id_col: str, text_col: str,
                            n: int = 3, threshold: float = 0.5,
                            num_perm: int = 64, bands: int = 64,
                            hash_fn: str = "xxhash64") -> DataFrame:
    """LSH-blocked EXACT n-gram Jaccard pairs — the 100 TB composition.

    ``ngram_jaccard_pairs`` self-joins on the raw shingle hash, which is
    quadratic in a hot shingle's document frequency (its own docstring
    flags this). This variant generates candidates with banded MinHash
    LSH first (O(n·bands) bucket join, never all-pairs), then verifies
    each candidate with the EXACT Jaccard computed from the two docs'
    distinct-shingle arrays — so the per-pair cost is bounded by document
    length and the corpus-level cost by the candidate count, not by any
    shingle's popularity.

    Same output contract as ``ngram_jaccard_pairs``: (id_a, id_b,
    jaccard ≥ threshold) with id_a < id_b — restricted to LSH candidates.
    Recall is controlled by the band shape: ``r = num_perm // bands``
    signature rows per band gives P(candidate | J) = 1 − (1 − J^r)^bands.

    CHOOSING r (the round-10 sf10 lesson): the candidate volume carries
    an n² · E[J^r] background term — every pair of UNRELATED docs
    collides per band with probability J^r. r = 1 is recall-lossless for
    low thresholds ((1 − J)^64 ≈ 2·10⁻⁴ at J = 0.12; testable, since
    the permutation family is deterministic — tests/test_dedup.py) but
    that background term is then linear in J: on a corpus whose random
    pairs already share shingles (the 31-word-vocab testdata measures
    E[J] ≈ 8·10⁻⁴), candidates are ~64 · 8e-4 · n²/2 — the sf10 probe
    measured the r=1 composition spilling 50+ GB before dying. Measured
    calibration at 500k docs: r=2/b=32 still verified ~4·10⁷ background
    candidates (311 s, 13.6× per 10× docs); r=4/b=16 drops background
    collision to J⁴ ≈ 4·10⁻¹³, candidates collapse to the true near-dup
    population (53 s, 3.6× per 10×). Use r = 1 only when E[J] across
    random pairs is negligible (large-vocab corpora) or n is bounded;
    at scale pick r ≥ 2 and treat the banded candidate set as part of
    the contract (the registry twins replicate the banding in SQL, so
    recall needs no assumption — see queries._banded_pairs_ctes).
    """
    cand = minhash_lsh_neardup(df, id_col, text_col, num_perm, bands, n,
                               verify=False, hash_fn=hash_fn)
    # per-doc distinct-shingle array: bounded by document length, so the
    # exact verify joins shuffle candidate rows + doc-sized arrays only
    sets = (shingle_rows(df, id_col, text_col, n, distinct=True)
            .groupBy("doc").agg(F.collect_set("s").alias("sh")))
    a = sets.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("n_common", inter)
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: Mersenne prime modulus for the portable affine permutation family
_MINHASH_P = (1 << 31) - 1


def minhash_affine_params(num_perm: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) for the portable permutation family
    ``h_i(s) = (a_i·(s mod P) + b_i) mod P`` — LCG-derived constants, no
    RNG state, so an oracle (or another engine) regenerates them exactly.
    """
    a = [max(1, (1103515245 * (i + 1) + 12345) % _MINHASH_P)
         for i in range(num_perm)]
    b = [(69069 * (i + 1) + 1) % _MINHASH_P for i in range(num_perm)]
    return a, b


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      num_perm: int = 64, n: int = 3,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """MinHash signatures as (id, array<long> of length num_perm).

    Two permutation families, same contract:

    ``xxhash64`` (default): permutation i is ``xxhash64(i, shingle)`` —
    fastest, JVM-native, engine-specific values.

    ``md5``: the classic affine family over the 60-bit md5 shingle hash,
    ``(a_i·(s mod P) + b_i) mod P`` with P = 2³¹−1 and LCG-derived
    constants — every value reproduces bit-for-bit in DuckDB, putting the
    SIGNATURES (and everything downstream: buckets, candidate pairs,
    est_jaccard) in the oracle gate. Integer muls are cheaper than 64
    xxhash64 calls, so the portable family costs one md5 per shingle extra.

    The signature element is the min over the doc's shingles. One explode
    + one groupBy: the min-aggregation is map-side combinable, so the
    shuffle carries only num_perm longs per doc regardless of document
    size.
    """
    # min over a multiset == min over the set: skip the distinct shuffle.
    # Expressions built as SQL strings: one py4j parse call each instead
    # of 3+ Column-API calls — fresh-plan construction cost for the 64
    # aggregates drops from ~1 s of py4j chatter to ~50 ms.
    exploded = shingle_rows(df, id_col, text_col, n, distinct=False,
                            hash_fn=hash_fn)
    if hash_fn == "xxhash64":
        aggs = [F.expr(f"min(xxhash64({i}, s))").alias(f"h{i}")
                for i in range(num_perm)]
    else:
        pa, pb = minhash_affine_params(num_perm)
        exploded = exploded.withColumn("__s1", F.expr(f"s % {_MINHASH_P}L"))
        aggs = [F.expr(f"min(({pa[i]}L * __s1 + {pb[i]}L) % {_MINHASH_P}L)")
                .alias(f"h{i}") for i in range(num_perm)]
    sig = exploded.groupBy("doc").agg(*aggs)
    return sig.select(
        "doc",
        F.expr("array(" + ", ".join(f"h{i}" for i in range(num_perm)) + ")")
        .alias("sig"))


def hashed_shingles(text_col: Column | str, n: int = 3) -> Column:
    """``array<long>`` of 64-bit shingle hashes of one row's text — the
    per-row twin of ``shingle_rows`` (same ``xxhash64(gram)`` values).
    Materialize this into a real column (one ``select``) before fanning
    expressions out over it: an expression referenced by many consumers
    is re-evaluated per consumer, a column attribute is computed once.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.transform(shingle(c, n), lambda g: F.xxhash64(g))


def minhash_signature_cols(hs_col: Column | str,
                           num_perm: int = 64) -> list[Column]:
    """The MinHash signature as PER-ROW column expressions ``h0..h{k-1}``
    over a (materialized) ``hashed_shingles`` column — value-identical to
    ``minhash_signature`` (min over ``xxhash64(i, xxhash64(gram))``) but
    with no aggregation, so it runs where a groupBy can't (append-mode
    streams, generated columns). Empty shingle arrays yield null
    signature elements; filter ``size(hs) > 0`` upstream.
    """
    hs = F.col(hs_col) if isinstance(hs_col, str) else hs_col

    # NB: the closure must keep the lambda SINGLE-argument — Spark treats
    # a two-arg lambda as (element, index) and would silently replace a
    # default-arg ``i=i`` capture with the array index
    def perm(i: int) -> Column:
        return F.array_min(
            F.transform(hs, lambda h: F.xxhash64(F.lit(i), h))).alias(f"h{i}")

    return [perm(i) for i in range(num_perm)]


def band_buckets(sig: DataFrame, num_perm: int, bands: int,
                 hash_fn: str = "xxhash64") -> DataFrame:
    """LSH band buckets of a (doc, sig) signature frame:
    ``(doc, sig, band_idx, bucket)`` — one row per band. The bucket key
    hashes the band's signature slice (xxhash64, or md5-of-concat for
    the portable family)."""
    r = num_perm // bands
    if hash_fn == "xxhash64":
        band_arr = F.expr("array(" + ", ".join(
            f"xxhash64({b}, " + ", ".join(f"sig[{b * r + j}]"
                                          for j in range(r)) + ")"
            for b in range(bands)) + ")")
    else:
        band_arr = F.expr("array(" + ", ".join(
            "md5(concat_ws('|', " + ", ".join(f"sig[{b * r + j}]"
                                              for j in range(r)) + "))"
            for b in range(bands)) + ")")
    return sig.select("doc", "sig",
                      F.posexplode(band_arr).alias("band_idx", "bucket"))


def _est_jaccard(num_perm: int) -> Column:
    """Fraction of agreeing signature elements between sig_a and sig_b."""
    return F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_perm)


def minhash_lsh_neardup(df: DataFrame, id_col: str, text_col: str,
                        num_perm: int = 64, bands: int = 16,
                        n: int = 3, threshold: float = 0.5,
                        verify: bool = True,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH.

    Signature → split into ``bands`` bands of ``num_perm/bands`` rows →
    band bucket key = hash(band_idx, band slice) → docs sharing any bucket
    are candidates. With ``verify=True`` candidates are scored by the
    estimated Jaccard (fraction of agreeing minhashes) and filtered by
    ``threshold``. Returns (id_a, id_b, est_jaccard).

    ``hash_fn="md5"`` selects the portable signature family
    (``minhash_signature``) and an md5 band-bucket key, making the entire
    output — pairs AND estimates — DuckDB-oracle-checkable.

    This replaces the O(n²) similarity join with O(n·bands) bucket
    grouping — the standard web-scale near-dup design (cf. public MinHash
    LSH literature, PAPERS.md).
    """
    assert num_perm % bands == 0
    # materialize once: both self-join sides consume the signature agg
    # (broadcast exchange defeats ReuseExchange — see ngram_jaccard_pairs)
    sig = minhash_signature(df, id_col, text_col, num_perm, n,
                            hash_fn=hash_fn) \
        .localCheckpoint(eager=False)
    # posexplode gives (band_idx, bucket_hash); pairs dedup'd across bands
    buckets = band_buckets(sig, num_perm, bands, hash_fn)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return cand.select("id_a", "id_b")
    return (
        cand.withColumn("est_jaccard", _est_jaccard(num_perm))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_write_index(df: DataFrame, id_col: str, text_col: str,
                        path: str, num_perm: int = 64, bands: int = 16,
                        n: int = 3, hash_fn: str = "xxhash64") -> None:
    """Persist the corpus's LSH index as TWO parquet tables —
    ``{path}/buckets`` (band_idx, bucket, doc — slim join keys,
    repartitioned by the join key so probe joins start co-located) and
    ``{path}/sigs`` (doc, sig — the num_perm-long signature ONCE per
    doc, not once per band: storing it on every bucket row would inflate
    the index by the band count). A daily ingest then dedups against the
    WHOLE corpus by probing (``minhash_probe_index``) instead of
    re-shingling 100 TB.
    """
    sig = minhash_signature(df, id_col, text_col, num_perm, n,
                            hash_fn=hash_fn).localCheckpoint(eager=False)
    (band_buckets(sig, num_perm, bands, hash_fn)
     .select("doc", "band_idx", "bucket")
     .repartition(F.col("band_idx"), F.col("bucket"))
     .write.mode("overwrite").parquet(f"{path}/buckets"))
    sig.write.mode("overwrite").parquet(f"{path}/sigs")


def minhash_probe_index(spark, path: str, new_docs: DataFrame,
                        id_col: str, text_col: str,
                        num_perm: int = 64, bands: int = 16,
                        n: int = 3, threshold: float = 0.5,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs between a NEW batch and a persisted corpus index:
    ``(new_id, corpus_id, est_jaccard)``.

    The new batch is shingled/signed fresh (it's the small side); its
    band buckets equi-join the stored bucket table, candidate pairs
    dedup, and ONLY candidates fetch their corpus signature from the
    sigs table for the agreeing-element Jaccard estimate filtered by
    ``threshold``. The corpus is never re-shingled, and signature bytes
    are read per candidate, not per bucket row. Same-id pairs are
    excluded so a batch overlapping the corpus doesn't report itself.
    """
    assert num_perm % bands == 0
    idx = spark.read.parquet(f"{path}/buckets")
    sigs = spark.read.parquet(f"{path}/sigs")
    nb = band_buckets(
        minhash_signature(new_docs, id_col, text_col, num_perm, n,
                          hash_fn=hash_fn).localCheckpoint(eager=False),
        num_perm, bands, hash_fn)
    a, b = nb.alias("a"), idx.alias("b")
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc") != F.col("b.doc")))
        .select(F.col("a.doc").alias("new_id"),
                F.col("b.doc").alias("corpus_id"),
                F.col("a.sig").alias("sig_a"))
        .dropDuplicates(["new_id", "corpus_id"])
        .join(sigs.select(F.col("doc").alias("corpus_id"),
                          F.col("sig").alias("sig_b")), "corpus_id")
    )
    return (
        cand.withColumn("est_jaccard", _est_jaccard(num_perm))
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "corpus_id", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str,
            hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash fingerprint per document as (id, simhash long).

    Per token hash; each bit votes ±1; the fingerprint bit is the vote
    sign. All votes are computed in ONE groupBy pass (map-side
    combinable) — no Python, no second shuffle.

    ``hash_fn="xxhash64"`` (default): 64-bit fingerprints, JVM-native.
    ``hash_fn="md5"``: 60-bit fingerprints over the positive md5 token
    hash — every bit reproduces in DuckDB, so the fingerprints (and any
    Hamming-join built on them) are oracle-checkable.

    The bit-vote counters are packed 4-per-long (16 bits each: pack p
    holds bits p, p+npacks·k), so the aggregation carries nbits/4 sum
    buffers instead of nbits and the generated code is ~4× smaller —
    cold codegen compile drops ~2 s. Safe while a document has < 65536
    tokens; callers chunk longer docs upstream.
    """
    from .text_analysis import _gram_hash

    nbits = 64 if hash_fn == "xxhash64" else 60
    npacks = nbits // 4
    toks = spread(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("t"),
    ).withColumn("h", _gram_hash(F.col("t"), hash_fn))
    # SQL-string expressions: one py4j parse per aggregate instead of ~12
    # Column-API round-trips — fresh-plan build drops ~1 s (see minhash)
    packs = [
        F.expr("sum(" + " + ".join(
            f"shiftleft(shiftright(h, {p + npacks * k}) & 1, {16 * k})"
            for k in range(4)) + ")").alias(f"p{p}")
        for p in range(npacks)
    ]
    agg = toks.groupBy("doc").agg(F.count("*").alias("n"), *packs)
    # bit is 1 iff 2*count(bit set) > n_tokens (votes sum positive);
    # disjoint bit positions: XOR == OR == +. Balanced tree, not a
    # 64-deep chain — Janino compile time explodes on deep left-nesting
    bits = [
        f"shiftleft(cast((shiftright(p{p}, {16 * k}) & 65535) * 2 > n"
        f" as long), {p + npacks * k})"
        for p in range(npacks) for k in range(4)
    ]
    while len(bits) > 1:
        bits = [f"({bits[i]} ^ {bits[i + 1]})" if i + 1 < len(bits) else bits[i]
                for i in range(0, len(bits), 2)]
    return agg.select("doc", F.expr(bits[0]).alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup(df: DataFrame, id_col: str, text_col: str,
                    max_hamming: int = 3, band_bits: int = 16,
                    hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ max_hamming on SimHash.

    Blocking: split the fingerprint into nbits/band_bits chunks; by
    pigeonhole, any pair within distance d < chunks shares at least one
    exact chunk → join on (chunk_idx, chunk) instead of cross join, then
    verify with bit_count. Same candidate-generation trick FAISS-less
    systems use for web-scale simhash dedup. ``hash_fn="md5"`` selects
    the 60-bit oracle-portable fingerprint (band_bits must divide 60).

    SCALE LAW (measured, r10 sf10 probe): the chunk key has FIXED
    cardinality 2^band_bits per chunk index, so background candidates
    grow as n² · chunks / 2^band_bits — the same
    fixed-key-cardinality class as the nation×segment linkage blocker.
    Raising max_hamming FORCES more/smaller chunks (pigeonhole needs
    chunks > d), so high-recall settings are the quadratic ones: the
    registry's d=5 on 60 bits caps chunks at 10 bits (1024 keys;
    500k docs measured 46.6 s warm, ~17× per 10× docs) while the
    64-bit default d=3 gets 16-bit chunks (65,536 keys, 64× fewer
    background candidates). At corpus scale prefer the Manku-style
    multi-table construction (combine 2+ chunks per key: C(chunks,2)
    keys of 2·band_bits, guaranteed for d ≤ chunks−2) or MinHash
    banding (``minhash_lsh_neardup``), whose per-band key space is
    unbounded; both trade the same recall contract for a key space
    that grows with the corpus instead of staying fixed.
    """
    nbits = 64 if hash_fn == "xxhash64" else 60
    assert nbits % band_bits == 0, "band_bits must divide fingerprint bits"
    chunks = nbits // band_bits
    assert max_hamming < chunks, "pigeonhole blocking needs d < #chunks"
    # materialize once: both self-join sides consume the simhash
    # aggregation, and the broadcast exchange defeats ReuseExchange —
    # without this the token scan + 64-bit-vote agg runs twice
    sh = simhash(df, id_col, text_col, hash_fn=hash_fn) \
        .localCheckpoint(eager=False)
    mask = (1 << band_bits) - 1
    chunk_arr = F.array(*[
        F.shiftright(F.col("simhash"), i * band_bits).bitwiseAND(F.lit(mask))
        for i in range(chunks)
    ])
    blocked = sh.select("doc", "simhash",
                        F.posexplode(chunk_arr).alias("chunk_idx", "chunk"))
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"),
                hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"))
        # verify BEFORE the pair-dedup shuffle: the hamming filter is a
        # per-row bit_count, so only true near-dups (tiny) pay the shuffle
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_neardup_manku(df: DataFrame, id_col: str, text_col: str,
                          max_hamming: int = 5, chunks: int = 7,
                          combine: int = 2,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash near-dup pairs via the Manku multi-chunk table
    construction (Manku-Jain-Das Sarma, WWW 2007) — the scale-safe
    sibling of ``simhash_neardup``'s single-chunk pigeonhole.

    Same recall contract (EVERY pair with Hamming ≤ ``max_hamming`` is
    found) but a bigger blocking key: the fingerprint splits into
    ``chunks`` near-equal blocks and each row is indexed under every
    ``combine``-subset of blocks, key = that subset's concatenated
    block values. If ≤ d bits differ then ≤ d blocks are dirty, so
    ≥ chunks−d clean blocks remain; with d ≤ chunks−combine some
    ``combine``-subset is entirely clean and the pair collides in that
    table — exact pigeonhole, no probabilistic recall term.

    WHY this improves the scale law: ``simhash_neardup``'s chunk key
    space is a FIXED 2^band_bits per chunk (d=5 on 60 bits caps chunks
    at 10-bit keys → 1024 values; r10 sf10 measured ~17× per 10× docs
    — the n²·chunks/2^band_bits background-candidate class). Here the
    key carries combine·(nbits/chunks) bits — (7,2) on 60 bits ≈ 17
    bits ≈ 131k values — for C(chunks,combine)=21× index rows (linear,
    shuffle-friendly). Raise ``combine`` (chunks=d+combine grows too)
    to keep widening the key as the corpus grows.

    TWO MEASURED BOUNDS the wider key cannot beat (r11 sf10 probe):
    (1) the EFFECTIVE key cardinality is capped by the fingerprint's
    entropy, not the key width — on the low-entropy twin corpus
    (31-word vocab; majority votes concentrate) the (7,2) keys cut
    candidates only 2.7× vs single-chunk (6.6B vs 17.6B at 500k docs),
    not the uniform-hash 36×; (2) exact d=5 recall means the OUTPUT is
    whatever the corpus contains — here the true pair set itself grows
    ~101× per 10× docs (291k → 29.4M pairs), so NO exact-recall
    blocking can be subquadratic on it. On real-vocab corpora where
    near-dup pairs are sparse and fingerprints spread, the background
    term dominates and the multi-chunk key wins in full; on
    concentrated corpora use MinHash banding
    (``minhash_lsh_neardup``, r=4), whose collision rate depends on
    the Jaccard curve rather than fingerprint entropy — measured
    7.7×/decade on this same corpus.

    Blocks need not divide the fingerprint evenly (sizes differ by at
    most 1 bit, generated as explicit shift/mask pairs), so the DuckDB
    twin replays the exact same keys. ``hash_fn="md5"`` selects the
    60-bit oracle-portable fingerprint.
    """
    from itertools import combinations

    nbits = 64 if hash_fn == "xxhash64" else 60
    if not (1 <= combine < chunks):
        raise ValueError("need 1 <= combine < chunks")
    if max_hamming > chunks - combine:
        raise ValueError("pigeonhole needs max_hamming <= chunks - combine")
    sizes = [nbits // chunks + (1 if i < nbits % chunks else 0)
             for i in range(chunks)]
    offsets = [sum(sizes[:i]) for i in range(chunks)]

    def block(i: int):
        return (F.shiftright(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << sizes[i]) - 1)))

    sh = simhash(df, id_col, text_col, hash_fn=hash_fn) \
        .localCheckpoint(eager=False)
    keys = F.array(*[
        F.concat_ws(":", *[block(i).cast("string") for i in combo])
        for combo in combinations(range(chunks), combine)
    ])
    blocked = sh.select("doc", "simhash",
                        F.posexplode(keys).alias("tbl", "key"))
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"),
                hamming64(F.col("a.simhash"),
                          F.col("b.simhash")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def _cosine_pairs(rows: DataFrame, keys: list[str],
                  threshold: float) -> DataFrame:
    """``(keys…, id_a, id_b, cosine)`` with ``id_a < id_b`` and cosine
    ≥ ``threshold`` from ``(id, v, keys…)`` rows (plus ``__pi, __pj,
    __b`` when triangle-blocked), in ONE grouped pass. A group is the
    rows sharing ``keys``, the block pair and the vector length (so no
    dimension probe), scored by one ``knn.block_pairs`` call: upper
    triangle on the diagonal, block ``__pi`` × block ``__pj`` off it.
    NULL ids and vectors are dropped before the shuffle; ids keep their
    input type."""
    import numpy as np
    import pandas as pd

    types = {f.name: f.dataType.simpleString() for f in rows.schema.fields}
    schema = ", ".join([f"`{c}` {types[c]}" for c in keys]
                       + [f"id_a {types['id']}", f"id_b {types['id']}",
                          "cosine double"])
    blocks = ["__pi", "__pj"] if "__b" in types else []

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        if blocks and pdf["__pi"].iloc[0] != pdf["__pj"].iloc[0]:
            left = (pdf["__b"] == pdf["__pi"].iloc[0]).to_numpy()
            i, j, cos = block_pairs(mat[left], mat[~left], threshold)
            a, b = ids[left][i], ids[~left][j]
        else:
            i, j, cos = block_pairs(mat, None, threshold)
            a, b = ids[i], ids[j]
        fwd, kept = a < b, a != b
        out = pd.DataFrame({"id_a": np.where(fwd, a, b)[kept],
                            "id_b": np.where(fwd, b, a)[kept],
                            "cosine": cos[kept]})
        for c in reversed(keys):
            out.insert(0, c, pdf[c].iloc[0])
        return out

    return (rows.filter(F.col("id").isNotNull() & F.col("v").isNotNull())
            .withColumn("__d", F.size("v"))
            .groupBy(*keys, *blocks, "__d")
            .applyInPandas(score, schema=schema))


def embedding_cosine_neardup(df: DataFrame, id_col: str, vec_col: str,
                             threshold: float = 0.9) -> DataFrame:
    """Pairs of rows whose embeddings have cosine ≥ threshold (exact):
    ``(id_a, id_b, cosine)``, ``id_a < id_b``, ids in their input type.

    Triangle block-join, nothing collected: rows hash into B blocks by
    id and each row joins the B ``_cosine_pairs`` groups (unordered
    block pairs) that hold its block — B× shuffle, the n²/2 scores over
    B(B+1)/2 BLAS groups. B is the smallest with B(B+1)/2 ≥ the default
    parallelism ``spread`` targets (3 on 4 cores). A NULL, zero-norm,
    NaN or other-length vector pairs with none of the rest. Also the
    exact verify stage after any LSH / banding blocking.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    nb = next(b for b in range(1, par + 1) if b * (b + 1) >= 2 * par)
    rows = (
        df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("__b", F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int"))
        .withColumn("__o", F.explode(F.sequence(F.lit(0), F.lit(nb - 1))))
        .select("id", "v", "__b",
                F.least("__b", "__o").alias("__pi"),
                F.greatest("__b", "__o").alias("__pj"))
    )
    return _cosine_pairs(rows, [], threshold)


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25,
                         small_graph_edges: int = 200_000) -> DataFrame:
    """Group near-dup *pairs* into clusters: hash-min label propagation
    over the undirected edge list, returning ``(node, cluster_id)`` where
    ``cluster_id`` is the smallest node id in the component (deterministic).
    Nodes are exactly those appearing in an edge.

    Each round is one equi-join (send every node's current label to its
    neighbors) plus one min-aggregation — two keyed shuffles, no driver
    data. ``localCheckpoint`` truncates lineage per round so the plan stays
    O(1) instead of growing into an un-analyzable tree. Near-dup graphs
    are bucket-clique-shaped (diameter ≲ 4), so 3-5 LP rounds in
    practice; if LP hasn't converged after ``lp_rounds`` (10) rounds (long-thin
    topologies — density-held DBSCAN cores measured diameter ≈ 358 at
    sf10, r12), the graph is contracted by the current labels and the
    small quotient finishes with ALTERNATING STAR CONTRACTION (Kiveris
    et al., SoCC'14 — O(log n) alternations on any topology); the two
    label maps compose. See the inline phase comments for why the
    hybrid beats either algorithm alone on the respective graph class.

    The reference dedups only on exact keys (src/preprocessing/
    preprocessor.py:30-42); transitive near-dup clustering is the
    training-pipeline extension.
    """
    # no distinct: min-aggregation is duplicate-insensitive, so repeated
    # edges cost only message volume, not correctness — cheaper than a
    # dedup shuffle of the edge list. EAGER checkpoint: both paths below
    # need the materialized edge list (the distributed rounds re-read it
    # every iteration; the probe counts it for free from cached blocks),
    # and eager-vs-lazy is the same one materialization either way.
    sym = (
        edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
        .union(edges.select(F.col(dst).cast("long").alias("u"),
                            F.col(src).cast("long").alias("v")))
        .localCheckpoint(eager=True)
    )

    # Small-graph fast path (the broadcast-join idea applied to CC): a
    # near-dup edge set is usually FAR smaller than the corpus; when the
    # (already-materialized) count proves it fits, one driver union-find
    # replaces O(diameter) distributed rounds whose cost at test scale
    # is pure job-scheduling latency (measured: ~4 s of Spark rounds ->
    # ~0.1 s for a 258-edge graph). Labels are identical by construction
    # (cluster_id = min node id in the component); the distributed path
    # below is untouched and takes over past the threshold.
    if sym.count() <= 2 * small_graph_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in sym.collect():
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        rows = [(n, find(n)) for n in parent]
        return local_frame(
            edges.sparkSession, rows, "node long, cluster_id long")
    from pyspark.sql import Observation

    # Distributed path (r12): HYBRID hash-min LP + alternating star
    # contraction. Phase 1 is the original label-propagation loop —
    # per-round state is NODE-sized (one label table), so it is the
    # cheap path for the dense bucket-clique graphs dedup produces
    # (diameter ≲ 4, converges in 3-5 rounds; a pure star-contraction
    # rewrite was measured 6-10× slower there because star state is
    # EDGE-sized and checkpointing a 29M-edge clique multiset per round
    # dwarfs the label table). Phase 2 handles what LP cannot: a
    # long-thin topology (the density-held DBSCAN core graph at sf10 —
    # 110k-node giant component, measured diameter ≈ 358 — needs
    # O(diameter) LP rounds; a pointer-jumping variant measured only
    # ~1.5 hops/round of real progress, because a hash-min label is the
    # smallest id SEEN, not a node nearer the minimum, so composing
    # labels descends ids, not the graph). If LP hasn't converged after
    # ``lp_rounds`` (10 — the sf10 minhash dedup graph measured exactly
    # 9), the graph is CONTRACTED by the current labels
    # (edges (L(u), L(v)), L(u)≠L(v), distinct — each supernode already
    # absorbs a radius-``lp_rounds`` ball, so the quotient graph is a
    # small fraction of the input) and the quotient runs ALTERNATING
    # STAR CONTRACTION (Kiveris et al., "Connected Components in
    # MapReduce and Beyond", SoCC'14), which converges in O(log n)
    # alternations on ANY topology; the final label composes the two
    # maps. Convergence probes ride on the per-round checkpoints via
    # observe() (decimal accumulators so huge ids can't wrap): labels
    # only decrease, so "sum unchanged" == converged in phase 1; in
    # phase 2 both star ops map every edge instance to one instance
    # with non-increasing (a+b), so "(count, sum) unchanged" ==
    # fix point (every component a star centered at its min id).
    def _checkpoint_with_sum(d: DataFrame) -> tuple[DataFrame, object]:
        obs = Observation()
        cp = d.observe(
            obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("ls")
        ).localCheckpoint()
        return cp, obs.get["ls"]

    labels, prev_sum = _checkpoint_with_sum(
        sym.groupBy("u")
        .agg(F.min(F.least(F.col("u"), F.col("v"))).alias("label"))
    )
    # 10 covers the dedup family with margin (the sf10 minhash pair
    # graph measured EXACTLY 9 LP rounds to converge; cliques take 3-5)
    lp_rounds = min(10, max_iter)
    lp_converged = False
    for _round in range(lp_rounds):
        msgs = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .select("u", "label")
        )
        new, cur_sum = _checkpoint_with_sum(
            msgs.union(labels)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )
        lp_converged = cur_sum == prev_sum
        prev_sum = cur_sum
        labels = new
        if lp_converged:
            break
    if lp_converged:
        return labels.select(F.col("u").alias("node"),
                             F.col("label").alias("cluster_id"))

    # ---- phase 2: star contraction on the label-quotient graph ----
    def _checkpoint_with_stats(d: DataFrame) -> tuple[DataFrame, tuple]:
        obs = Observation()
        cp = d.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a").cast("decimal(38,0)")
                  + F.col("b").cast("decimal(38,0)")).alias("s"),
        ).localCheckpoint()
        return cp, (obs.get["n"], obs.get["s"])

    def _large_star(e: DataFrame) -> DataFrame:
        # per node u over its FULL neighborhood: m = min(Γ(u) ∪ {u});
        # emit (v, m) for v ∈ Γ(u), v > u — one edge per instance
        nbrs = e.select("a", "b").union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (nbrs.groupBy("a")
                .agg(F.least(F.min("b"), F.col("a")).alias("m")))
        return (nbrs.join(mins, "a")
                .where(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b")))

    def _small_star(e: DataFrame) -> DataFrame:
        # e is oriented a > b: per node a over its smaller neighbors N,
        # m = min(N); emit (b, m) for b ∈ N \ {m} plus the center (a, m)
        mins = e.groupBy("a").agg(F.min("b").alias("m"))
        linked = (e.join(mins, "a")
                  .where(F.col("b") != F.col("m"))
                  .select(F.col("b").alias("a"), F.col("m").alias("b")))
        centers = mins.select(F.col("a"), F.col("m").alias("b"))
        return linked.union(centers)

    lu = labels.select(F.col("u").alias("__u"), F.col("label").alias("la"))
    lv = labels.select(F.col("u").alias("__v"), F.col("label").alias("lb"))
    quotient, prev = _checkpoint_with_stats(
        sym.join(lu, sym["u"] == lu["__u"])
        .join(lv, sym["v"] == lv["__v"])
        .where(F.col("la") != F.col("lb"))
        .select(F.greatest("la", "lb").alias("a"),
                F.least("la", "lb").alias("b"))
        .distinct())
    converged = False
    for _round in range(max_iter):
        quotient, _ = _checkpoint_with_stats(_large_star(quotient))
        quotient, cur = _checkpoint_with_stats(_small_star(quotient))
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # still contracting after max_iter alternations (covers ~2^25
        # supernodes): labels would be PARTIAL (one true component
        # surfacing as several cluster_ids; dedup_canonical would keep
        # extra survivors) — fail loudly rather than silently under-dedup
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "star-contraction rounds; raise max_iter — component size "
            "exceeds the round budget")
    # fix point: every quotient component is a star (supernode → root);
    # compose the maps: final(u) = root(L(u)), defaulting to L(u) for
    # supernodes untouched by the quotient (their component converged
    # within the LP phase)
    roots = (quotient.select(F.col("a").alias("la"),
                             F.col("b").alias("root"))
             .union(quotient.select(F.col("b").alias("la"),
                                    F.col("b").alias("root")))
             .distinct())
    return (labels.join(roots, F.col("label") == F.col("la"), "left")
            .select(F.col("u").alias("node"),
                    F.coalesce(F.col("root"), F.col("label"))
                    .alias("cluster_id")))


def dedup_canonical(docs: DataFrame, clusters: DataFrame, id_col: str,
                    order_col: str) -> DataFrame:
    """Pick one survivor per near-dup cluster: the row with the largest
    ``order_col`` (ties → smallest id, deterministic). Docs absent from
    ``clusters`` are singletons and survive as their own cluster.

    Plan: broadcast-or-shuffle left join docs→clusters (clusters is tiny
    relative to the corpus — only docs that had a near-dup pair), then one
    window top-1 per cluster. This is the standard "quality-max survivor"
    rule of LLM-corpus dedup pipelines.
    """
    with_cluster = (
        docs.join(clusters.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("cluster_id",
                    F.coalesce(F.col("cluster_id"), F.col(id_col)))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(order_col).desc(), F.col(id_col).asc())
    return (
        with_cluster.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# global line-level exact dedup (C4-style corpus hygiene)
# ---------------------------------------------------------------------------

def dedup_lines_global(df: DataFrame, id_col: str, text_col: str,
                       delim: str = "\n") -> DataFrame:
    """Remove every repeated line across the WHOLE corpus, keeping only
    its first occurrence (smallest ``(id, position)``), and reassemble the
    surviving lines per document — the C4/RefinedWeb "dedup repeated
    lines globally" rule, which kills cross-site boilerplate that
    document-level dedup never sees.

    Returns ``(id_col, text_dedup, n_lines_kept)`` for every input doc —
    a doc whose every line was seen earlier elsewhere survives with
    ``text_dedup=''`` and ``n_lines_kept=0`` (downstream quality filters
    drop empties; this operator does not decide that).

    Physical design for the 100 TB case — the naive formulation is a
    ``row_number() OVER (PARTITION BY line)`` window, which SORTS each
    line's occurrences and serializes exactly the worst key (a boilerplate
    line occurring 10^8 times becomes one giant sorted partition).
    Instead:

    1. ``groupBy(line).agg(min(struct(id, pos)))`` — map-side combinable,
       so a hot line collapses to one row per input partition before the
       shuffle; skew never materializes.
    2. The winners project to bare ``(id, pos)`` pairs, and the keep-join
       runs on ``(id, pos)`` — a UNIFORM key, not the skewed line text.
    3. Reassembly is one ``groupBy(id)`` with an order-restoring
       ``array_sort(collect_list(struct(pos, line)))``.

    Three keyed shuffles total, none skew-prone, nothing collected.
    """
    lines = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(F.split(F.col(text_col), delim)).alias("__ln", "__line"),
    )
    winners = (
        lines.groupBy("__line")
        .agg(F.min(F.struct("__doc", "__ln")).alias("w"))
        .select(F.col("w.__doc").alias("__doc"), F.col("w.__ln").alias("__ln"))
    )
    kept = lines.join(winners, ["__doc", "__ln"], "left_semi")
    rebuilt = (
        kept.groupBy("__doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__ln", "__line"))),
                    lambda s: s["__line"]),
                delim).alias("text_dedup"),
            F.count("*").alias("n_lines_kept"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, F.col(id_col) == F.col("__doc"), "left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        )
    )


def cdc_chunks(df: DataFrame, id_col: str, text_col: str,
               avg_chunk_tokens: int = 16) -> DataFrame:
    """Content-defined chunking at token granularity: split each
    document into variable-length chunks whose boundaries depend only on
    local CONTENT, so an insertion or deletion reshapes at most the
    chunk it lands in — unlike fixed-size chunking, where one shifted
    token re-hashes every downstream chunk. This is the FastCDC/rsync
    boundary idea restated on word tokens (window size 1: the boundary
    test hashes the single boundary token, the degenerate rolling
    window), the standard primitive behind chunk-level dedup stores and
    incremental corpus diffing.

    A token OPENS a new chunk when ``md5_int(token) % avg_chunk_tokens
    == 0`` — expected chunk length = ``avg_chunk_tokens``, boundaries
    reproducible in any engine (portable md5 family). Returns one row
    per chunk: ``(id, chunk_idx, n_tokens, chunk_hash)`` with
    ``chunk_hash = md5(chunk text)`` — the key a chunk store dedups on.

    Physical shape: explode → one ``(id)``-keyed window for the running
    boundary count (each doc's tokens sort within their key — never a
    global sort) → ``groupBy(id, chunk)`` with order-restoring
    ``array_sort(collect_list(struct(pos, tok)))`` reassembly. Two keyed
    shuffles on the uniform doc id, skew-free.
    """
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(
            F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                     lambda t: F.length(t) > 0)).alias("__pos", "__tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 8), 16, 10) \
        .cast("long")
    flagged = toks.withColumn(
        "__b", (h % F.lit(avg_chunk_tokens) == 0).cast("int"))
    w = Window.partitionBy("__doc").orderBy("__pos") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunked = flagged.withColumn("__chunk", F.sum("__b").over(w))
    return (
        chunked.groupBy("__doc", "__chunk")
        .agg(
            F.count("*").alias("n_tokens"),
            F.md5(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("__pos", "__tok"))),
                    lambda s: s["__tok"]),
                " ")).alias("chunk_hash"),
        )
        .select(F.col("__doc").alias(id_col),
                F.col("__chunk").cast("int").alias("chunk_idx"),
                "n_tokens", "chunk_hash")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------

def semantic_neardup(df: DataFrame, id_col: str, vec_col: str,
                     threshold: float = 0.9,
                     cluster_col: str | None = None,
                     k: int = 8, max_iter: int = 5,
                     max_rows: int | None = 25_000,
                     force: bool = False) -> DataFrame:
    """Semantic near-dup pairs within embedding-space clusters — the
    SemDeDup recipe (cf. public SemDeDup, Abbas et al. 2023): cluster
    first, then compare ONLY within each cluster, dropping candidate
    pairs from O(n²) to Σ|cluster|² — the property that makes embedding
    dedup feasible at corpus scale (k grows with n so cluster sizes stay
    bounded; a hot cluster is capped by quota-sampling upstream).

    ``cluster_col`` uses an existing bucketing column (topic, label,
    source shard) — fully relational and oracle-checkable. ``None`` fits
    distributed k-means (operators/clustering.py) and assigns via the
    zero-shuffle Arrow pass. Each cluster is one ``_cosine_pairs`` group
    (never a cross join), scored by ``knn.block_pairs``. Returns
    (cluster, id_a, id_b, cosine) with cosine ≥ threshold; rows with a
    NULL cluster, or a NULL, zero-norm, NaN or other-length vector,
    pair with none of the rest.

    The ``cluster_col`` (fixed-bucketing) path is Σ|cluster|² with
    cluster sizes PROPORTIONAL to n (a 10-label column means n²/10
    pairs) — the measured sf2 cell hit the spill regime at 406 s
    (SCALING.md); inputs above ``max_rows`` (default 25k = the largest
    in-envelope measured corpus) raise ``PairwiseInputCapExceeded``
    unless ``force=True``. The k-means path (``cluster_col=None``) is
    the shipped recommendation — k grows with n so cluster sizes stay
    bounded — and is not capped.
    """
    if cluster_col is not None:
        guard_pairwise_input(df, max_rows, "semantic_neardup(cluster_col=…)",
                             "semantic_neardup(cluster_col=None) — the "
                             "k-means path with n-proportional k", force)
    src, cl = df, cluster_col
    if cluster_col is None:
        from .clustering import kmeans_assign, kmeans_fit
        cents, _ = kmeans_fit(df.select(id_col, vec_col), id_col, vec_col,
                              k, max_iter)
        src, cl = kmeans_assign(df.select(id_col, vec_col), vec_col, cents,
                                out_col="__cl"), "__cl"
    rows = src.select(F.col(cl).alias("cluster"), F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v")) \
        .filter(F.col("cluster").isNotNull())
    return _cosine_pairs(rows, ["cluster"], threshold)


# ---------------------------------------------------------------------------
# exact duplicate-span removal (ExactSubstr-style corpus surgery)
# ---------------------------------------------------------------------------

def duplicate_span_removal(df: DataFrame, id_col: str, text_col: str,
                           n: int = 10, min_count: int = 2,
                           delim: str = " ") -> DataFrame:
    """Remove every token span that is part of a word ``n``-gram occurring
    at least ``min_count`` times corpus-wide, and reassemble the surviving
    tokens per document — the word-granularity relational restatement of
    ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better"): their suffix-array finds byte spans repeated
    verbatim anywhere in the corpus; here a token is dropped iff it is
    covered by any repeated n-token window, which flags exactly the
    maximal repeated spans of ≥ n tokens.

    Returns ``(id_col, text_clean, n_tokens_kept, n_tokens_removed)`` for
    every input doc (fully-duplicated docs survive with empty
    ``text_clean``; docs shorter than ``n`` tokens pass through intact).

    Physical design — no suffix array, no Python, four keyed shuffles:

    1. posexplode tokens, ``lead``-window n-grams per (doc, pos) — the
       same codegen'd formulation as ``shingle_rows``; the gram key is a
       portable md5 (an engine-neutral oracle can reproduce it).
    2. ``groupBy(gram)`` count — map-side combinable, so the classic hot
       gram (boilerplate sentence repeated 10^7×) collapses to one row
       per input partition before the shuffle; skew never materializes.
    3. The repeated-gram key set (tiny relative to the corpus — only
       grams with count ≥ min_count survive) joins back to the token
       stream as a start-flag; AQE broadcasts it when it fits.
    4. Coverage is a ``max(flag)`` window over the preceding ``n-1``
       positions — one pass over the already (doc, pos)-partitioned
       stream, never an n-way explode of covered positions.
    5. Reassembly: order-restoring ``array_sort(collect_list(...))`` per
       doc, same as ``dedup_lines_global``.
    """
    toks = (
        spread(df, id_col).select(
            F.col(id_col).alias("__doc"),
            F.posexplode(F.split(F.col(text_col), delim))
             .alias("__pos", "__tok"))
    )
    w = Window.partitionBy("__doc").orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", j).over(w)
                                for j in range(1, n)]
    # gram + validity guard in the SAME projection (shingle_rows pattern):
    # positions within n-1 of the doc tail have no full window and must
    # carry a NULL key so they can never match a repeated gram
    grams = toks.select(
        "__doc", "__pos", "__tok",
        F.when(F.lead("__tok", n - 1).over(w).isNotNull(),
               F.md5(F.concat_ws(delim, *parts))).alias("__gk"),
    )
    dup = (
        grams.groupBy("__gk").agg(F.count("*").alias("__c"))
        .filter(F.col("__gk").isNotNull() & (F.col("__c") >= min_count))
        .select("__gk", F.lit(1).alias("__dupflag"))
    )
    flagged = (
        grams.join(dup, "__gk", "left")
        .select("__doc", "__pos", "__tok",
                F.coalesce("__dupflag", F.lit(0)).alias("__start"))
    )
    cover_w = (Window.partitionBy("__doc").orderBy("__pos")
               .rowsBetween(-(n - 1), 0))
    kept = (
        flagged.withColumn("__covered", F.max("__start").over(cover_w))
        .filter(F.col("__covered") == 0)
    )
    rebuilt = (
        kept.groupBy("__doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                    lambda s: s["__tok"]),
                delim).alias("text_clean"),
            F.count("*").alias("n_tokens_kept"),
        )
    )
    totals = toks.groupBy("__doc").agg(F.count("*").alias("__n_toks"))
    return (
        df.select(F.col(id_col))
        .join(totals, F.col(id_col) == totals["__doc"], "left")
        .drop("__doc")
        .join(rebuilt, F.col(id_col) == rebuilt["__doc"], "left")
        .drop("__doc")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
            (F.coalesce("__n_toks", F.lit(0))
             - F.coalesce("n_tokens_kept", F.lit(0)))
            .alias("n_tokens_removed"),
        )
    )


def group_overlap_minhash(df: DataFrame, group_col: str, id_col: str,
                          text_col: str,
                          num_perm: int = 64, n: int = 3,
                          hash_fn: str = "md5",
                          round_dp: int = 6) -> DataFrame:
    """Pairwise content-overlap matrix between corpus SLICES: one MinHash
    signature per ``group_col`` value (the min over ALL the group's
    shingles — a group's signature is exactly the signature of the union
    of its documents' shingle sets), then the agree-count Jaccard
    estimate for every group pair.

    The inter-source contamination report: "how much does crawl source A
    share with source B" without an all-pairs document join. Shingling
    stays per-DOCUMENT (``shingle_rows`` keyed on a (group, id) composite
    — n-grams must never span document boundaries, and keying the window
    on the group alone would make them, nondeterministically); only the
    min-aggregation re-keys to the group. Scale shape: the signature agg
    is the same map-side-combined groupBy as ``minhash_signature``
    (shuffle = num_perm longs per GROUP, not per doc); the pair stage is
    a broadcast self-join of a #groups-row frame with a JVM ``zip_with``
    agree count — no explode, no shuffle.

    ``hash_fn='md5'`` uses the portable affine family, so a DuckDB twin
    reproduces every estimate bit-for-bit (``est_jaccard`` is an exact
    integer ratio; ``round_dp`` only normalizes its textual width).

    Returns ``(group_a, group_b, est_jaccard)``, ``group_a < group_b``.
    """
    keyed = df.select(
        F.struct(F.col(group_col).alias("g"),
                 F.col(id_col).alias("i")).alias("__gid"),
        text_col)
    exploded = shingle_rows(keyed, "__gid", text_col, n, distinct=False,
                            hash_fn=hash_fn)
    exploded = exploded.select(F.col("doc.g").alias("grp"), "s")
    if hash_fn == "xxhash64":
        aggs = [F.expr(f"min(xxhash64({i}, s))").alias(f"h{i}")
                for i in range(num_perm)]
    else:
        pa, pb = minhash_affine_params(num_perm)
        exploded = exploded.withColumn("__s1", F.expr(f"s % {_MINHASH_P}L"))
        aggs = [F.expr(f"min(({pa[i]}L * __s1 + {pb[i]}L) % {_MINHASH_P}L)")
                .alias(f"h{i}") for i in range(num_perm)]
    sig = (exploded.groupBy("grp").agg(*aggs)
           .select("grp", F.expr(
               "array(" + ", ".join(f"h{i}" for i in range(num_perm)) + ")")
               .alias("sig")))
    a = sig.select(F.col("grp").alias("group_a"), F.col("sig").alias("sa"))
    b = sig.select(F.col("grp").alias("group_b"), F.col("sig").alias("sb"))
    agree = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    return (a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
            .select("group_a", "group_b",
                    F.round(agree / F.lit(float(num_perm)), round_dp)
                    .alias("est_jaccard")))
