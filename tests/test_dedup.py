"""Dedup operator tests: reference-parity fixtures + fuzzy-dedup
self-oracles (exact Jaccard / hamming computed in Python)."""

import ast
import itertools
import math
import pathlib

import pytest
from pyspark.sql import Row

from ai_incident_analyst_spark.operators.dedup import (
    dedup_exact,
    dedup_keep_first,
    minhash_lsh_neardup,
    minhash_signature,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_lsh,
    simhash,
    simhash_neardup,
)

LOGS = [
    # preprocessor.py:46-50 fixture shape: duplicate (message, timestamp)
    Row(i=0, message="User john.doe@email.com logged in", timestamp="123456"),
    Row(i=1, message="User john.doe@email.com logged in", timestamp="123456"),
    Row(i=2, message="Payment with card 4111 1111 1111 1111", timestamp="123457"),
    Row(i=3, message=None, timestamp="123458"),
]


def test_dedup_exact(spark):
    df = spark.createDataFrame(LOGS)
    out = dedup_exact(df, ["message", "timestamp"])
    assert out.count() == 3  # dup collapsed, None-message row kept


def test_dedup_keep_first(spark):
    df = spark.createDataFrame(LOGS)
    out = dedup_keep_first(df, ["message", "timestamp"], "i")
    rows = {r.i for r in out.collect()}
    assert rows == {0, 2, 3}  # first occurrence survives


DOCS = [
    Row(doc_id=0, text="the quick brown fox jumps over the lazy dog today"),
    Row(doc_id=1, text="the quick brown fox jumps over the lazy cat today"),
    Row(doc_id=2, text="completely different words about spark query engines"),
    Row(doc_id=3, text="the quick brown fox jumps over the lazy dog today"),
]


def _shingles(text, n=3):
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_matches_python(spark):
    df = spark.createDataFrame(DOCS)
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0).collect()}
    for a, b in itertools.combinations(range(4), 2):
        expect = _jaccard(DOCS[a].text, DOCS[b].text)
        if expect > 0:
            assert abs(got[(a, b)] - expect) < 1e-9, (a, b)
        else:
            assert (a, b) not in got


def test_ngram_jaccard_lsh_equals_exact_on_testdata(spark, sf_dir):
    """r=1 banding (bands == num_perm) is recall-LOSSLESS: a qualifying
    pair evades all 64 single-hash buckets with probability (1-J)^64.
    Operator-level fact only — the registry compositions moved OFF r=1
    in round 10 because its candidate volume is ~bands * E[J] * n^2/2
    (the sf10 probe measured it filling the disk on the 31-word-vocab
    corpus where random-pair J ~ 8e-4); they use 16x4 banding with the
    banding replicated inside the DuckDB twin instead."""
    from ai_incident_analyst_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
             ngram_jaccard_pairs(docs, "doc_id", "text",
                                 n=3, threshold=0.12).collect()}
    lsh = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
           ngram_jaccard_pairs_lsh(docs, "doc_id", "text", n=3,
                                   threshold=0.12, num_perm=64,
                                   bands=64).collect()}
    assert exact and lsh == exact


def test_ngram_jaccard_lsh_banded_registry_shape(spark, sf_dir):
    """The registry composition (16 bands x 4 rows, portable md5 family):
    banded output is a SUBSET of the exact qualifying pairs, every
    verified jaccard matches the exact value, and every true near-dup
    (J >= 0.8, catch probability 1-(1-J^4)^16 ~ 1-1e-7) is present."""
    from ai_incident_analyst_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
             ngram_jaccard_pairs(docs, "doc_id", "text",
                                 n=3, threshold=0.12).collect()}
    banded = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
              ngram_jaccard_pairs_lsh(docs, "doc_id", "text", n=3,
                                      threshold=0.12, num_perm=64,
                                      bands=16, hash_fn="md5").collect()}
    assert banded and set(banded) <= set(exact)
    for k, j in banded.items():
        assert j == exact[k], k
    high = {k for k, j in exact.items() if j >= 0.8}
    assert high <= set(banded)


def test_minhash_identical_docs_equal_signatures(spark):
    df = spark.createDataFrame(DOCS)
    sigs = {r.doc: r.sig for r in minhash_signature(df, "doc_id", "text", 32).collect()}
    assert sigs[0] == sigs[3]
    assert sigs[0] != sigs[2]


def test_minhash_lsh_finds_neardups(spark):
    df = spark.createDataFrame(DOCS)
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in minhash_lsh_neardup(df, "doc_id", "text",
                                          num_perm=64, bands=16,
                                          threshold=0.25).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # exact dups
    assert (0, 1) in pairs  # one-word-changed near-dup (true jaccard ~0.6)
    assert all(p != (0, 2) and p != (2, 3) for p in pairs)  # unrelated
    # estimate within minhash error bounds of the true jaccard
    true_j = _jaccard(DOCS[0].text, DOCS[1].text)
    assert abs(pairs[(0, 1)] - true_j) < 0.25


def test_simhash_properties(spark):
    df = spark.createDataFrame(DOCS)
    fps = {r.doc: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    assert fps[0] == fps[3]  # identical docs → identical fingerprints
    ham01 = bin((fps[0] ^ fps[1]) & (2**64 - 1)).count("1")
    ham02 = bin((fps[0] ^ fps[2]) & (2**64 - 1)).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated


def test_simhash_neardup_blocking_complete(spark):
    """Pigeonhole blocking must not lose any pair within max_hamming."""
    df = spark.createDataFrame(DOCS)
    fps = {r.doc: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    for max_h, bits in [(3, 16), (7, 8)]:
        got = {(r.id_a, r.id_b)
               for r in simhash_neardup(df, "doc_id", "text",
                                        max_hamming=max_h, band_bits=bits).collect()}
        expect = set()
        for a, b in itertools.combinations(sorted(fps), 2):
            if bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1") <= max_h:
                expect.add((a, b))
        assert got == expect


def test_simhash_manku_blocking_complete_and_equals_single_chunk(spark):
    """The Manku multi-chunk tables have the SAME guaranteed recall as
    exhaustive pair enumeration at d <= chunks - combine: pair sets must
    equal the brute-force hamming filter AND the single-chunk pigeonhole
    at the same d (both are exact-recall constructions)."""
    from ai_incident_analyst_spark.operators.dedup import (
        simhash_neardup_manku,
    )
    df = spark.createDataFrame(DOCS)
    fps = {r.doc: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    for d, chunks, combine in [(3, 5, 2), (5, 7, 2), (2, 5, 3)]:
        got = {(r.id_a, r.id_b)
               for r in simhash_neardup_manku(
                   df, "doc_id", "text", max_hamming=d,
                   chunks=chunks, combine=combine).collect()}
        expect = set()
        for a, b in itertools.combinations(sorted(fps), 2):
            if bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1") <= d:
                expect.add((a, b))
        assert got == expect, (d, chunks, combine)


def test_simhash_manku_parameter_validation(spark):
    from ai_incident_analyst_spark.operators.dedup import (
        simhash_neardup_manku,
    )
    df = spark.createDataFrame(DOCS)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_manku(df, "doc_id", "text", max_hamming=6,
                              chunks=7, combine=2)
    with pytest.raises(ValueError, match="combine"):
        simhash_neardup_manku(df, "doc_id", "text", max_hamming=1,
                              chunks=4, combine=4)


def test_cosine_neardup_equals_numpy_bruteforce(spark, sf_dir):
    """The triangle block-join returns exactly the i < j pairs a numpy
    all-pairs cosine finds at the same threshold."""
    import numpy as np

    from ai_incident_analyst_spark.operators.dedup import (
        embedding_cosine_neardup,
    )
    from ai_incident_analyst_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1)[:, None]
    sims = unit @ unit.T
    ai, bi = np.nonzero((sims >= 0.25) & (ids[:, None] < ids[None, :]))
    want = {(int(ids[a]), int(ids[b])): sims[a, b] for a, b in zip(ai, bi)}
    got = {(r.id_a, r.id_b): r.cosine
           for r in embedding_cosine_neardup(emb, "vec_id", "embedding",
                                             threshold=0.25).collect()}
    assert got.keys() == want.keys() and len(got) > 0
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


_GOOD = [(i, [math.sin(i * 7 + j) for j in range(8)], f"l{i % 3}")
         for i in range(29)]


@pytest.mark.parametrize("dirty", [None, [1.0, 2.0], [0.0] * 8],
                         ids=["null", "short", "zero"])
@pytest.mark.parametrize("op", ["embedding_cosine_neardup",
                                "semantic_neardup_label"])
def test_cosine_neardup_ignores_dirty_row(spark, op, dirty):
    """A NULL, wrong-length or all-zero vector pairs with nothing and
    leaves the clean rows' pairs as they are."""
    from ai_incident_analyst_spark.operators.dedup import (
        embedding_cosine_neardup,
        semantic_neardup,
    )

    def run(rows):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string")
        if op == "embedding_cosine_neardup":
            out = embedding_cosine_neardup(df, "vec_id", "embedding", 0.3)
        else:
            out = semantic_neardup(df, "vec_id", "embedding", 0.3,
                                   cluster_col="label")
        return {tuple(r[:-1]): round(r[-1], 12) for r in out.collect()}

    clean = run(_GOOD)
    assert len(clean) > 0
    assert run(_GOOD + [(99, dirty, "l0")]) == clean


def test_dedup_scores_cosine_only_through_block_pairs():
    """Every cosine pair in ``operators/dedup.py`` is scored by
    ``knn.block_pairs``: no Catalyst ``cosine_similarity`` and no numpy
    normalise-and-mask kernel of its own."""
    path = pathlib.Path(__file__).resolve().parent.parent \
        / "ai_incident_analyst_spark" / "operators" / "dedup.py"
    offenders = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if (isinstance(f, ast.Name) and f.id == "cosine_similarity") or (
                isinstance(f, ast.Attribute)
                and (f.attr == "cosine_similarity"
                     or (f.attr == "norm"
                         and isinstance(f.value, ast.Attribute)
                         and f.value.attr == "linalg"))):
            offenders.append(node.lineno)
    assert offenders == [], f"cosine scored outside block_pairs: {offenders}"


def test_connected_components_chain_and_clique(spark):
    """Hash-min CC must traverse a long chain (worst-case diameter) and a
    clique, labeling each component by its minimum node id."""
    from ai_incident_analyst_spark.operators.dedup import connected_components
    chain = [(i, i + 1) for i in range(10, 20)]          # component min=10
    clique = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
    iso = [(100, 101)]
    edges = spark.createDataFrame(chain + clique + iso, "id_a long, id_b long")
    got = {r.node: r.cluster_id
           for r in connected_components(edges).collect()}
    assert all(got[i] == 10 for i in range(10, 21))
    assert all(got[i] == 1 for i in (1, 2, 3))
    assert got[100] == got[101] == 100
    assert 50 not in got  # nodes not in any edge aren't emitted


def test_dedup_canonical_survivor_rule(spark):
    """Longest doc per cluster survives; ties break to smallest id;
    unclustered docs survive as their own singleton cluster."""
    from ai_incident_analyst_spark.operators.dedup import (
        connected_components,
        dedup_canonical,
    )
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (9, 50)],
        "doc_id long, n_chars long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    clusters = connected_components(edges)
    out = {r.doc_id: r.cluster_id
           for r in dedup_canonical(docs, clusters, "doc_id", "n_chars").collect()}
    assert out == {2: 1, 9: 9}  # 2 wins 300-tie over 3; 9 is a singleton


def test_shingle_short_doc_yields_empty_array(spark):
    """ADVICE r1: shingle() must not crash on docs with fewer than n
    tokens — sequence(1, 0) is descending in Spark and the ensuing
    slice(toks, 0, n) used to abort the job. Short docs yield []."""
    from ai_incident_analyst_spark.operators.dedup import shingle
    df = spark.createDataFrame(
        [(0, "one two"), (1, ""), (2, "a b c d")], "i long, text string")
    rows = {r.i: r.s for r in
            df.select("i", shingle("text", n=3).alias("s")).collect()}
    assert rows[0] == []
    assert rows[1] == []
    assert rows[2] == ["a b c", "b c d"]


def test_connected_components_raises_on_nonconvergence(spark):
    """ADVICE r1: a component whose diameter exceeds max_iter must fail
    loudly, not silently return split cluster labels."""
    import pytest
    from ai_incident_analyst_spark.operators.dedup import connected_components
    chain = [(i, i + 1) for i in range(0, 12)]  # diameter 12 > max_iter 2
    edges = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        # small_graph_edges=0 forces the distributed path — the driver
        # union-find fast path has no iteration budget to exhaust
        connected_components(edges, max_iter=2,
                             small_graph_edges=0).collect()


def test_rowwise_minhash_matches_agg_signature(spark):
    """minhash_signature_cols (per-row, stream-safe) must produce the
    exact signature the batch explode+groupBy-min operator produces."""
    from pyspark.sql import functions as F

    from ai_incident_analyst_spark.operators.dedup import (
        hashed_shingles,
        minhash_signature,
        minhash_signature_cols,
    )
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs today ok"),
         (3, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    batch = {r.doc: list(r.sig)
             for r in minhash_signature(df, "doc_id", "text",
                                        num_perm=16, n=3).collect()}
    roww = df.select(F.col("doc_id").alias("doc"),
                     hashed_shingles("text", 3).alias("hs")) \
        .select("doc", *minhash_signature_cols("hs", 16))
    rw = {r.doc: [r[f"h{i}"] for i in range(16)] for r in roww.collect()}
    assert batch == rw


# --- global line-level dedup ------------------------------------------------

from ai_incident_analyst_spark.operators.dedup import dedup_lines_global


def _lines_df(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


def test_lines_global_first_occurrence_wins(spark):
    df = _lines_df(spark, [
        (1, "alpha\nboiler\nbeta"),
        (2, "boiler\ngamma"),
        (3, "delta\nboiler"),
    ])
    got = {r["id"]: r for r in
           dedup_lines_global(df, "id", "text").collect()}
    assert got[1]["text_dedup"] == "alpha\nboiler\nbeta"
    assert got[2]["text_dedup"] == "gamma"
    assert got[3]["text_dedup"] == "delta"
    assert [got[i]["n_lines_kept"] for i in (1, 2, 3)] == [3, 1, 1]


def test_lines_global_in_doc_duplicates(spark):
    df = _lines_df(spark, [(1, "x\ny\nx\nz\nx")])
    r = dedup_lines_global(df, "id", "text").first()
    assert r["text_dedup"] == "x\ny\nz"  # first kept, order preserved


def test_lines_global_fully_deduped_doc_survives_empty(spark):
    df = _lines_df(spark, [(1, "a\nb"), (2, "a\nb")])
    got = {r["id"]: r for r in
           dedup_lines_global(df, "id", "text").collect()}
    assert got[2]["text_dedup"] == "" and got[2]["n_lines_kept"] == 0
    assert got[1]["n_lines_kept"] == 2


def test_lines_global_no_window_in_plan(spark):
    """The skew-proof claim: no sort-window over the line key."""
    df = _lines_df(spark, [(1, "a\nb"), (2, "b\nc")])
    plan = dedup_lines_global(df, "id", "text") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_semantic_neardup_kmeans_k1_equals_bruteforce(spark, sf_dir):
    """With one cluster the SemDeDup composition degenerates to the exact
    brute-force pair set; with label clusters it's a subset."""
    from pyspark.sql import functions as F

    from ai_incident_analyst_spark.operators.dedup import (
        embedding_cosine_neardup,
        semantic_neardup,
    )
    from ai_incident_analyst_spark.sources.tables import load_table

    # deterministic subset (limit() over a repartitioned table picks an
    # arbitrary 120 rows per action)
    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 120")
    exact = {(r.id_a, r.id_b): round(r.cosine, 6)
             for r in embedding_cosine_neardup(
                 emb, "vec_id", "embedding", threshold=0.4).collect()}
    one = {(r.id_a, r.id_b): round(r.cosine, 6)
           for r in semantic_neardup(emb, "vec_id", "embedding",
                                     threshold=0.4, k=1).collect()}
    assert one == exact
    lab = {(r.id_a, r.id_b)
           for r in semantic_neardup(emb, "vec_id", "embedding",
                                     threshold=0.4,
                                     cluster_col="label").collect()}
    assert lab <= set(exact)


def test_minhash_index_probe_matches_batch(spark, sf_dir, tmp_path):
    """Incremental dedup: probing a persisted index with a new batch must
    return exactly the batch-mode pairs restricted to new x corpus, and
    an overlapping doc must not report itself."""
    from ai_incident_analyst_spark.operators.dedup import (
        minhash_lsh_neardup,
        minhash_probe_index,
        minhash_write_index,
    )
    from ai_incident_analyst_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter("doc_id < 400")
    new = docs.filter("doc_id >= 380")          # 20-doc overlap with corpus

    path = str(tmp_path / "mh_index")
    minhash_write_index(corpus, "doc_id", "text", path, num_perm=64,
                        bands=16, hash_fn="md5")
    probed = {(r.new_id, r.corpus_id): r.est_jaccard
              for r in minhash_probe_index(
                  spark, path, new, "doc_id", "text", num_perm=64,
                  bands=16, threshold=0.2, hash_fn="md5").collect()}

    batch = {}
    for r in minhash_lsh_neardup(docs, "doc_id", "text", num_perm=64,
                                 bands=16, threshold=0.2,
                                 hash_fn="md5").collect():
        # batch emits id_a < id_b; expand to both directions, keep only
        # (new, corpus) pairs with distinct ids
        for x, y in [(r.id_a, r.id_b), (r.id_b, r.id_a)]:
            if x >= 380 and y < 400 and x != y:
                batch[(x, y)] = r.est_jaccard
    assert probed == batch
    assert all(a != b for a, b in probed)


def test_cc_driver_fastpath_equals_distributed(spark):
    """The small-graph union-find must produce byte-identical labels to
    the distributed label-propagation path."""
    from ai_incident_analyst_spark.operators.dedup import (
        connected_components,
    )
    import numpy as np
    rng = np.random.default_rng(13)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 200, (400, 2))
             if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r["node"], r["cluster_id"])
            for r in connected_components(df).collect()}
    dist = {(r["node"], r["cluster_id"])
            for r in connected_components(
                df, small_graph_edges=0).collect()}
    assert fast == dist


def test_cdc_chunks_insertion_locality(spark):
    """The CDC property: inserting a token changes the chunk it lands in
    but leaves every other chunk's HASH intact (fixed-size chunking
    would re-hash everything downstream of the edit)."""
    from ai_incident_analyst_spark.operators.dedup import cdc_chunks
    base = " ".join(f"tok{i}" for i in range(200))
    edited = base.replace("tok100", "tok100 INSERTED")
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string")
    out = cdc_chunks(df, "doc_id", "text", avg_chunk_tokens=16).collect()
    h1 = {r["chunk_hash"] for r in out if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in out if r["doc_id"] == 2}
    # all but the edited chunk shared; at most one chunk differs per side
    assert len(h1 - h2) <= 1 and len(h2 - h1) <= 1
    assert len(h1 & h2) >= len(h1) - 1


def test_cdc_chunks_cover_and_deterministic(spark):
    from ai_incident_analyst_spark.operators.dedup import cdc_chunks
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 37 + j) % 50}" for j in range(60)))
         for i in range(20)],
        "doc_id long, text string")
    a = cdc_chunks(docs.repartition(1), "doc_id", "text").collect()
    b = cdc_chunks(docs.repartition(5), "doc_id", "text").collect()
    ka = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_hash"])
          for r in a}
    kb = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_hash"])
          for r in b}
    assert ka == kb
    # chunks cover every token exactly once
    per_doc = {}
    for r in a:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_tokens"]
    assert all(v == 60 for v in per_doc.values())


def test_cdc_chunks_shared_chunks_dedup_across_docs(spark):
    from ai_incident_analyst_spark.operators.dedup import cdc_chunks
    shared = " ".join(f"s{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, shared + " unique1 end"), (2, shared + " unique2 end")],
        "doc_id long, text string")
    out = cdc_chunks(df, "doc_id", "text").collect()
    h1 = [r["chunk_hash"] for r in out if r["doc_id"] == 1]
    h2 = [r["chunk_hash"] for r in out if r["doc_id"] == 2]
    # long shared prefix -> most chunk hashes coincide (chunk-store hit)
    assert len(set(h1) & set(h2)) >= len(h1) - 2
