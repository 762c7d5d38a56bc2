"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation, no
driver collect overhead). Run `python bench.py --explain q` to dump a
query's physical plan instead of timing it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ai_incident_analyst_spark.queries import REGISTRY
from ai_incident_analyst_spark.session import get_spark

HEADLINE = [
    "flagship_error_summary",
    "dedup_keep_first",
    "count_by_day",
    "topk_per_group",
    "keyword_search_json",
    "pricing_summary",
    "revenue_by_region",
    "brand_volume",
    "redact_pii",
    "quality_score",
    "fingerprint",
    "ngram_jaccard_pairs",
    "minhash_lsh_neardup",
    "simhash_neardup",
    "knn_l2_blocked",
    "embedding_neardup",
    "embed_text",
    "rag_prompt",
    "asof_join",
    "sessionize",
    "window_functions",
    "skew_salted_agg",
    "bpe_token_count",
    "winnow_fingerprint",
    "funnel_conversion",
    "cohort_retention",
    "rolling_range_window",
    "late_shipment_priority",
    "small_quantity_revenue",
    "knn_lsh_cosine",
    "nrql_frontend",
    "customer_order_distribution",
    "large_orders",
    "interval_join_events",
    "neardup_clusters",
    "dedup_survivors",
    "tfidf_top_terms",
    "nrql_facet",
    "nrql_timeseries",
    "sample_by_hash",
    "repetition_stats",
    "ngram_contamination",
    "pack_sequences",
    "quota_sample",
    "promo_revenue",
    "late_lines_by_priority",
    "supplier_cnt_by_brand_size",
    "disjunctive_part_revenue",
    "nrql_percentile_latest",
    "rollup_daily_metrics",
    "rollup_monthly_from_daily",
    "zorder_bucket_counts",
    "shipping_priority_top10",
    "forecast_revenue_change",
    "returned_item_losses",
    "profit_by_nation_year",
    "cms_user_counts",
    "hll_daily_users",
    "bloom_prune_orders",
    "dedup_lines_global",
    "kmeans_clusters",
    "kmeans_clusters_int",
    "log_templates",
    "anomaly_hourly",
    "chunk_docs",
    "knn_int8",
    "nrql_compare_with",
    "hll_overlap_users",
    "nrql_boolean_where",
    "ngram_lm_bits",
    "shard_by_budget",
    "knn_ivf",
    "semantic_neardup",
    "bpe_top_pairs",
    "bpe_trained_tokens",
    "bpe_doc_tokens",
    "bpe_vocab",
    "bpe_doc_token_ids",
    "leakage_safe_split",
    "profile_documents",
    "tag_keywords",
    "shard_manifest",
    "histogram_rollup_quantiles",
    "nrql_extended_where",
    "score_weighted_sample",
    "pagerank_items",
    "dup_span_removal",
    "knn_pq",
    "quality_lr_train",
    "quality_lr_score",
    "fuzzy_part_pairs",
    "triangle_items",
    "pca_covariance",
    "weighted_sample_docs",
    "dq_report_orders",
    "snapshot_diff_orders",
    "ann_recall_pq",
    "scd2_user_state",
    "decayed_user_value",
    "knn_ivfpq",
    "winsorized_order_totals",
    "mad_outlier_events",
    "keyword_and_search",
    "bm25_search",
    "hybrid_search_rrf",
    "phrase_search",
    "graph_stats_items",
    "k_anonymity_customers",
    "frequent_item_pairs",
    "markov_transitions",
    "cusum_drift_events",
    "theil_sen_daily_trend",
    "seasonal_profile",
    "touch_attribution",
    "ols_price_vs_qty",
    "chi2_type_vs_kparity",
    "snb_part_pairs",
    "ewma_daily_counts",
    "fill_gaps_daily",
    # round 5: connector, chunking, mixture, graded eval, fixed IVF-PQ,
    # power PCA, the end-to-end shards build, multimodal plumbing
    "logapi_scan",
    "cdc_chunk_dedup",
    "domain_mixture_sample",
    "ann_ndcg_pq",
    "knn_ivfpq_fixed",
    "pca_power_project",
    "training_shards_pipeline",
    "corpus_pipeline",
    "audio_features_meta",
    "frame_sample_fanout",
    "bt_brand_scores",
    "preference_pairs_quality",
    "mmr_select_diverse",
    "conversation_stats",
    "chat_render",
    "token_divergence_halves",
    "rp_project_embeddings",
    "source_overlap_minhash",
    "graph_ann_query",
    "graph_ann_index_query",
    "graph_nn_descent",
    "temperature_sample_lang",
    "graph_ann_batch",
    "pmi_collocations",
    "jw_part_pairs",
    # round 8
    "hits_items",
    "lpa_communities",
    "matryoshka_recall",
    "welch_click_vs_view",
    "benford_order_totals",
    "t_closeness_customers",
    "quantile_normalize_doclen",
    "spell_suggest_docs",
    "k_center_coreset",
    "fd_orders",
    "ivf_nprobe_recall",
    "cuped_adjusted_values",
    "ratio_metric_ci_purchase",
    "random_negatives",
    "srm_event_types",
    "join_size_forecast_orders",
    "wordpiece_segment_stats",
    "did_click_vs_view",
    "km_user_churn",
    "two_proportion_purchase",
    "log_rank_purchase_halves",
    "shapley_channel_attribution",
    "conformal_price_intervals",
    "dp_customer_counts",
    # round 9
    "dbscan_embeddings_2d",
    "bootstrap_ci_order_total",
    "k_core_neardup",
    "sprt_urgent_orders",
    "changepoints_daily_events",
    "fs_customer_linkage",
    "rake_keyphrases_docs",
    "k_truss_neardup",
    "loo_lang_influence",
    "segment_trends_daily_events",
    "msprt_order_totals",
    "weighted_median_price",
    "mann_whitney_click_vs_view",
    "kruskal_wallis_event_values",
    "brown_forsythe_event_values",
    "spearman_qty_price",
    "cmh_large_order_rate",
    # round 10
    "jw_part_pairs_sn",
    # round 11
    "mutual_knn_pairs_ivf",
    "simhash_neardup_manku",
    "mutual_knn_pairs_ivf_trained",
    "dbscan_embeddings_2d_scaled",
]


def read_cpu_stat() -> tuple[int, int] | tuple[None, None]:
    """(total_jiffies, steal jiffies) from the aggregate cpu line
    of /proc/stat — the host-contention counter loadavg can't see (r13
    verdict: two rounds of adjudication hinged on prose about steal
    time; now every bench cell records its own steal delta)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts[0] != "cpu":
            return None, None
        vals = [int(x) for x in parts[1:]]
        # fields: user nice system idle iowait irq softirq steal guest
        # guest_nice — steal (7) is time this VM's vCPUs wanted to run
        # but the hypervisor ran someone else. guest (8) and guest_nice
        # (9) are already counted inside user and nice, so the total
        # sums the first eight fields only
        vals = vals[:8]
        steal = vals[7] if len(vals) > 7 else 0
        return sum(vals), steal
    except Exception:
        return None, None


def wait_for_quiet_machine() -> dict:
    """Load guard (r7-r9 postmortems: three rounds of benches started at
    loadavg 6-10 — decaying load from earlier JVMs — manufacturing
    noise 'regressions' that each cost a quiet-rerun adjudication).
    Poll until the 1-min loadavg drops below $SPARK_GRAFT_BENCH_LOAD_OK
    (default 2.0) or the $SPARK_GRAFT_BENCH_MAX_WAIT budget (default
    180 s) runs out; never refuse — the driver must always get its JSON
    line — but record how hot the machine still was so a slow-looking
    bench is adjudicable WITHOUT a rerun."""
    ok = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_OK", "2.0"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "180"))
    t0 = time.time()
    load = os.getloadavg()[0]
    while load > ok and time.time() - t0 < budget:
        print(f"# load guard: loadavg {load:.2f} > {ok:.1f}, waiting "
              f"({time.time() - t0:.0f}/{budget:.0f}s)", file=sys.stderr)
        time.sleep(10.0)
        load = os.getloadavg()[0]
    return {
        "load_guard_waited_sec": round(time.time() - t0, 1),
        "load_guard_threshold": ok,
        # loadavg when the guard released — loadavg_start is read later,
        # AFTER our own JVM spins up, so it includes self-inflicted load
        "load_at_guard": round(load, 2),
        # True = timings below were taken on a machine the guard could
        # NOT quiet down — treat cross-round regressions as suspect
        "load_hot": load > ok,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    guard = wait_for_quiet_machine()
    spark = get_spark(app_name="bench")

    if len(sys.argv) > 2 and sys.argv[1] == "--explain":
        REGISTRY[sys.argv[2]].fn(spark, sf_dir).explain("formatted")
        return

    names = sys.argv[1:] or HEADLINE
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}; available: {sorted(REGISTRY)}")
    # warm the JVM/session so q1 doesn't pay startup, and spin up the
    # reusable Python UDF workers + Arrow path so the first pandas_udf
    # query isn't charged the worker-pool cold start
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, schema="id long").write.format("noop").mode("overwrite").save()
    # ...and the Python data-source plan/exec machinery (driver-side plan
    # workers + executor datasource workers), so the first DSv2 query
    # (logapi_scan) measures the query, not one-time infra spin-up —
    # same rationale as the pandas_udf warmup above
    try:
        from pyspark.sql.datasource import DataSource, DataSourceReader

        class _WarmReader(DataSourceReader):
            def read(self, partition):
                return iter([(1,)])

        class _WarmSource(DataSource):
            @classmethod
            def name(cls):
                return "benchwarm"

            def schema(self):
                return "id long"

            def reader(self, schema):
                return _WarmReader()

        spark.dataSource.register(_WarmSource)
        spark.read.format("benchwarm").load() \
            .write.format("noop").mode("overwrite").save()
    except Exception:
        pass  # warmup must never fail the bench

    # best-of-2 per query: the second run reuses compiled codegen, so run 1
    # bounds cold latency and run 2 steady-state; min() filters the
    # machine-level load spikes that otherwise dominate sub-second queries
    # ($SPARK_GRAFT_BENCH_RUNS=1 for a faster smoke pass, e.g. tools/gate.sh).
    # Contention guard (r3 postmortem: a loaded machine inflated two
    # queries 2.2x): when the 1-min loadavg at start is already high,
    # take best-of-3 so at least one run likely lands in a quiet window,
    # and always record the loadavg in the JSON so a slow-looking bench
    # can be adjudicated without a rerun.
    load1 = os.getloadavg()[0]
    default_runs = "3" if load1 > 0.5 * (os.cpu_count() or 32) else "2"
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", default_runs)))
    # Per-cell isolation (default ON, SPARK_GRAFT_BENCH_ISOLATE=0 to
    # disable): clear cross-query memos and every cached/persisted frame
    # BETWEEN cells so each query's number measures that query's full
    # plan regardless of suite order. Without this, whichever CC-trio
    # query ran first paid the LSH pairing and later consumers measured
    # a localCheckpoint read, and leaked .persist() frames from earlier
    # cells warmed later ones — the r10 jw_part_pairs 1.30 s (quiet
    # full suite) vs 7.56 s (driver bench) 6x per-cell swing. Isolation
    # is PER-RUN (see the inner comment below): best-of-N times N cold
    # runs — only OS page cache / JIT / codegen warmth carries between
    # them, never memos or cached frames.
    isolate = os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0"
    # Per-cell noise telemetry (r14, the r13 verdict's top ask): each
    # cell records the loadavg when it started and the CPU steal
    # fraction ACROSS the cell from /proc/stat, so a PERF comparison can
    # separate plan deltas from host-contention epochs without a rerun
    # (r13: identical-code benches spread 219→507 s, an 8-core total
    # equalled the 32-core total — pure steal, invisible in the JSON).
    # A cell whose best-of-N run spread exceeds NOISE_SPREAD also gets a
    # noise_suspect flag — a >2x swing between back-to-back runs of the
    # SAME plan in the SAME JVM is a machine artifact, not a plan.
    # Optional per-cell settle gate (DEFAULT OFF — the driver's runtime
    # budget comes first): SPARK_GRAFT_BENCH_CELL_SETTLE_SEC > 0 waits
    # up to that many seconds before each cell for the 1-min loadavg to
    # drop below SPARK_GRAFT_BENCH_LOAD_OK. Note the suite's own decay
    # makes loadavg a poor mid-suite signal; the gate is for standalone
    # adjudication runs, not the driver's bench.
    noise_spread = float(os.environ.get("SPARK_GRAFT_BENCH_NOISE_SPREAD",
                                        "2.0"))
    cell_settle = float(os.environ.get(
        "SPARK_GRAFT_BENCH_CELL_SETTLE_SEC", "0"))
    settle_ok = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_OK", "2.0"))
    from ai_incident_analyst_spark.queries import clear_session_memos
    times: dict[str, float] = {}
    cells: dict[str, dict] = {}
    for name in names:
        fn = REGISTRY[name].fn
        if cell_settle > 0:
            t0 = time.time()
            while (os.getloadavg()[0] > settle_ok
                   and time.time() - t0 < cell_settle):
                time.sleep(2.0)
        load_cell = os.getloadavg()[0]
        tot0, steal0 = read_cpu_stat()
        run_times: list[float] = []
        for _ in range(runs):
            # clear before EVERY run, not just every cell: a memoized
            # query would otherwise repopulate the memo on run 1 and
            # best-of-N would time a localCheckpoint READ on run 2
            # (neardup_clusters measured 0.02 s that way — not the query)
            if isolate:
                clear_session_memos()
                spark.catalog.clearCache()
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            run_times.append(time.time() - t0)
        tot1, steal1 = read_cpu_stat()
        best = min(run_times)
        times[name] = round(best, 3)
        cell = {
            "runs": [round(t, 3) for t in run_times],
            "loadavg_cell_start": round(load_cell, 2),
        }
        if tot0 is not None and tot1 is not None and tot1 > tot0:
            cell["steal_pct"] = round(
                100.0 * (steal1 - steal0) / (tot1 - tot0), 2)
        if len(run_times) >= 2 and best > 0:
            spread = max(run_times) / best
            cell["spread"] = round(spread, 2)
            if spread > noise_spread:
                cell["noise_suspect"] = True
        cells[name] = cell
        print(f"# {name}: {times[name]:.2f}s", file=sys.stderr)

    # The driver's stdout capture truncates long lines (BENCH_r07/r08
    # both recorded parsed:null against a 165-entry per-query map), so
    # stdout carries a COMPACT summary — totals plus the 10 slowest
    # queries — and the full per-query map goes to BENCH_DETAIL.json
    # next to this script.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        # per-cell noise context (r14): run list, loadavg at cell start,
        # steal CPU % across the cell, best-of-N spread and the
        # noise_suspect flag — "queries" stays a flat name→seconds map
        # so older tooling keeps parsing
        "cells": cells,
        "n_noise_suspect": sum(
            1 for c in cells.values() if c.get("noise_suspect")),
        "runs_per_query": runs,
        "isolated_cells": isolate,
        "loadavg_start": round(load1, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        "sf": sf,
        **guard,
    }
    # Per-SF detail files (r13): the gate's sf0.01 bench smoke used to
    # OVERWRITE the committed sf0.1 BENCH_DETAIL.json, so round audits
    # depended on `git checkout --` working-tree hygiene. Each SF now
    # writes its own file; BENCH_DETAIL.json stays the sf0.1 (driver-SF)
    # record only.
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(here, f"BENCH_DETAIL_sf{sf}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    if sf == 0.1:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    worst = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": detail["value"],
        "unit": "sec",
        "n_queries": len(times),
        "queries": worst,          # 10 slowest; full map in detail file
        "runs_per_query": runs,
        "isolated_cells": isolate,
        "loadavg_start": detail["loadavg_start"],
        "loadavg_end": round(os.getloadavg()[0], 2),
        "load_guard_waited_sec": guard["load_guard_waited_sec"],
        "load_hot": guard["load_hot"],
        "sf": sf,
        "detail": "BENCH_DETAIL_sf{}.json".format(sf),
    }))


if __name__ == "__main__":
    main()
