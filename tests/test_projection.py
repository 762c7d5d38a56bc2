"""JL random projection (operators/projection.py) and inter-source
MinHash overlap (operators/dedup.py:group_overlap_minhash)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ai_incident_analyst_spark.operators.dedup import group_overlap_minhash
from ai_incident_analyst_spark.operators.projection import (
    jl_signs,
    rp_project,
    rp_project_long,
)


def test_jl_signs_deterministic_and_balanced():
    s = jl_signs(64, 16)
    assert s.shape == (64, 16)
    assert set(np.unique(s)) == {-1.0, 1.0}
    # md5 parity is ~uniform: the matrix must not be degenerate
    assert 0.3 < (s > 0).mean() < 0.7
    assert np.array_equal(s, jl_signs(64, 16))


def test_rp_project_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(10, 8))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "id long, x array<double>")
    got = {r["id"]: np.array(r["proj"])
           for r in rp_project(df, "x", 8, 4).collect()}
    exp = np.round((vecs @ jl_signs(8, 4)) / 2.0, 6)
    for i in range(10):
        assert np.array_equal(got[i], exp[i])


def test_rp_project_drops_dirty_rows(spark):
    """A NULL or not-``d_in``-long vector drops its row instead of
    failing the Python worker; the clean row projects as usual."""
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, None), (3, [1.0, 0.0])],
        "id long, x array<double>")
    rows = rp_project(df, "x", 3, 2).collect()
    assert [r["id"] for r in rows] == [1]
    exp = np.round((np.array([1.0, -2.0, 0.5]) @ jl_signs(3, 2))
                   / np.sqrt(2), 6)
    assert np.array_equal(np.array(rows[0]["proj"]), exp)


def test_rp_preserves_distances_approximately(spark):
    # JL guarantee sanity: relative pairwise-distance distortion stays
    # bounded for a generous d_out
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(20, 64))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "id long, x array<double>")
    proj = {r["id"]: np.array(r["proj"])
            for r in rp_project(df, "x", 64, 32).collect()}
    dists_in, dists_out = [], []
    for i in range(20):
        for j in range(i + 1, 20):
            dists_in.append(np.linalg.norm(vecs[i] - vecs[j]))
            dists_out.append(np.linalg.norm(proj[i] - proj[j]))
    ratio = np.array(dists_out) / np.array(dists_in)
    assert 0.5 < ratio.min() and ratio.max() < 1.5


def test_rp_long_form(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, x array<double>")
    rows = rp_project_long(df, "id", "x", 2, 2).collect()
    assert [(r["id"], r["dim"]) for r in rows] == [(1, 0), (1, 1)]
    s = jl_signs(2, 2)
    expect = np.round(s[0] / np.sqrt(2), 6)
    assert [r["value"] for r in rows] == list(expect)


def test_group_overlap_bounds_and_symmetric_inputs(spark):
    docs = spark.createDataFrame(
        [("a", 1, "the quick brown fox jumps over the lazy dog"),
         ("b", 2, "the quick brown fox jumps over the lazy dog"),
         ("c", 3, "completely different words entirely unrelated text")],
        "src string, doc_id long, text string")
    got = {(r["group_a"], r["group_b"]): r["est_jaccard"]
           for r in group_overlap_minhash(docs, "src", "doc_id", "text",
                                          num_perm=32).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert got[("a", "b")] == 1.0          # identical content
    assert got[("a", "c")] < 0.5           # disjoint shingle sets
    assert got[("a", "c")] == got[("b", "c")]


def test_group_signature_is_union_signature(spark):
    # a group's signature == signature of the union of its docs: overlap
    # of {d1} vs {d1, d2} where d2 duplicates d1 must be 1.0
    docs = spark.createDataFrame(
        [("a", 1, "alpha beta gamma delta epsilon"),
         ("b", 2, "alpha beta gamma delta epsilon"),
         ("b", 3, "alpha beta gamma delta epsilon")],
        "src string, doc_id long, text string")
    got = group_overlap_minhash(docs, "src", "doc_id", "text",
                                num_perm=16).collect()
    assert len(got) == 1 and got[0]["est_jaccard"] == 1.0
