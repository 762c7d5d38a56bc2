"""Physical-plan regression tests: the 100 TB properties, not just values.

These assert the plan *shape* Catalyst picks for our declarative
formulations — filter/projection pushdown into the parquet scan, broadcast
(not shuffle) joins for dimension tables, map-side partial aggregation,
whole-stage codegen in the hot path. If a refactor silently degrades one
of these, correctness tests stay green while the 100 TB plan rots; this
file is the tripwire.
"""

import pytest

from ai_incident_analyst_spark.queries import REGISTRY


def _plan(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filters_and_projection_reach_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scan_project_filter")
    assert "PushedFilters: [IsNotNull(event_type)" in plan
    assert "EqualTo(event_type,error)" in plan
    # projection pruning: the scan must not read props/ts/user_id
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "props" not in read_schema and "user_id" not in read_schema


def test_star_join_broadcasts_all_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_region")
    # customer, nation, region are all broadcast — zero shuffle joins
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_aggregation_is_partial_then_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2
    # only the six needed columns are read from lineitem (of 16)
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_hot_path_stays_in_wholestage_codegen(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scan_project_filter")
    assert "*(1)" in plan  # WholeStageCodegen span covers filter+scan


def test_topk_per_group_is_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_per_group")
    # rank-within-partition needs exactly one hash exchange on the group key
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_dedup_keep_first_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_keep_first")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_knn_is_one_arrow_pass_not_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_l2")
    # queries ride a broadcast variable; the corpus is scored in ONE
    # Arrow pass with per-partition top-k, never joined row-by-row
    assert plan.count("MapInPandas") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan  # shuffled cartesian = corpus shuffle
    # the final top-k window shuffles candidates by query id only
    assert [ln.split("(")[1].split("#")[0] for ln in plan.splitlines()
            if "ENSURE_REQUIREMENTS" in ln] == ["query_id"]


def test_fuzzy_dedup_plans_never_cartesian(spark, sf_dir):
    """LSH/banding exists precisely to avoid the all-pairs join; if a
    refactor reintroduces a cartesian product these become O(n^2)."""
    for name in ("minhash_lsh_neardup", "simhash_neardup",
                 "ngram_jaccard_pairs"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_conversation_assembly_single_keyed_shuffle(spark, sf_dir):
    # the sessionize windows and the collect_list groupBy must share the
    # user partitioning: exactly ONE hashpartitioning exchange (plus the
    # spread round-robin and the final sort range exchange)
    plan = _plan(spark, sf_dir, "conversation_stats")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan


def test_divergence_shuffles_are_vocab_sized(spark, sf_dir):
    # both slice aggregations are map-side combined before their shuffle
    plan = _plan(spark, sf_dir, "corpus_divergence_lang")
    assert "partial_count" in plan
    assert "EvalPython" not in plan and "CartesianProduct" not in plan


def test_rp_projection_single_arrow_pass(spark, sf_dir):
    # one Arrow pass, no keyed shuffle anywhere (the only exchange is
    # the final ORDER BY's range partitioning)
    plan = _plan(spark, sf_dir, "rp_project_embeddings")
    assert plan.count("MapInPandas") == 1
    assert "Exchange hashpartitioning" not in plan


def test_temperature_sample_is_narrow_filter(spark, sf_dir):
    # the corpus side must never shuffle: rates broadcast back, filter
    # is a narrow predicate on md5 of the key
    plan = _plan(spark, sf_dir, "temperature_sample_lang")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_graph_build_is_single_arrow_pass_no_shuffle(spark, sf_dir):
    from ai_incident_analyst_spark.operators.graph_ann import (
        build_knn_graph)
    from ai_incident_analyst_spark.sources.tables import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    g = build_knn_graph(emb, "vec_id", "embedding", k=4)
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    # no window, no crossJoin: the blocked form emits per-partition top-k
    assert "Window" not in plan and "CartesianProduct" not in plan
