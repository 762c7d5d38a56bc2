"""RAG assembly + history analytics tests (SURVEY.md §2.4 A9/A10, §3.2-3.3,
F22/F23) with injected external fakes, mirroring the reference's dummy
notifier pattern (integration_tests/test_llm_to_slack.py:16-21)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from ai_incident_analyst_spark.operators.rag import (
    build_history_entry,
    build_prompt_df,
    history_filter,
    history_metrics,
    pick_batch,
    run_rag_batch,
    strip_embedding_nested,
    upsert_feedback,
)

LOGS = [
    Row(timestamp="2025-07-25T10:00:00Z", container_name="svc-db",
        namespace_name="prod", level="error",
        message="Database connection timeout on service X"),
    Row(timestamp="2025-07-25T12:00:00Z", container_name="svc-oom",
        namespace_name="prod", level="error",
        message="Service Y crashed due to OOM"),
]


def test_build_prompt(spark):
    df = spark.createDataFrame(LOGS)
    row = build_prompt_df(df).first()
    assert row.n_logs == 2
    lines = row.prompt.split("\n")
    assert lines[0] == ("- 2025-07-25T10:00:00Z | svc-db | error | "
                        "Database connection timeout on service X")
    assert lines[1].endswith("OOM")


def test_run_rag_batch_with_fakes(spark):
    batch = spark.createDataFrame(LOGS)
    similar = spark.createDataFrame(
        [Row(timestamp="2025-07-24T10:00:00Z", container_name="svc-db",
             namespace_name="prod", level="error",
             message="previous timeout", distance=0.12)])
    sent = []
    entry, llm_out = run_rag_batch(
        batch, similar,
        llm_fn=lambda prompt: f"RCA({len(prompt)} chars)",
        notify_fn=lambda msg: sent.append(msg) or True)
    assert llm_out.startswith("RCA(")
    assert sent == [llm_out]
    row = entry.first()
    assert row.container_name == "svc-db"  # first-row metadata (A10)
    assert len(row.batch_logs) == 2 and len(row.similar_logs) == 1
    assert row.feedback is None


def _history(spark):
    batch = spark.createDataFrame(LOGS)
    sim = spark.createDataFrame(
        [Row(timestamp="2025-07-24T10:00:00Z", container_name="svc-db",
             namespace_name="prod", level="error", message="m",
             distance=0.5)])
    e1, _ = run_rag_batch(batch, sim, llm_fn=lambda p: "out-1")
    return e1


def test_history_filter_and_keyword(spark):
    h = _history(spark)
    assert history_filter(h, service="SVC-DB").count() == 1
    assert history_filter(h, service="nomatch").count() == 0
    assert history_filter(h, level="ERROR").count() == 1
    # keyword search digs into the nested arrays via to_json (P9)
    assert history_filter(h, keyword="oom").count() == 1
    assert history_filter(h, keyword="zzz-absent").count() == 0


def test_history_metrics(spark):
    h = _history(spark)
    m = history_metrics(h)
    assert m["by_day"].first()["day"] == "2025-07-25"
    assert m["by_service"].first()["count"] == 1
    assert m["by_level"].first()["level"] == "error"


def test_upsert_feedback(spark):
    h = _history(spark)
    h2 = upsert_feedback(h, "2025-07-25T10:00:00Z", "up", "helpful")
    row = h2.first()
    assert row.feedback.vote == "up" and row.feedback.comment == "helpful"


def test_strip_embedding_nested(spark):
    df = spark.createDataFrame([Row(
        id=1,
        batch_logs=[Row(message="m1", embedding=[0.1, 0.2]),
                    Row(message="m2", embedding=[0.3, 0.4])])])
    out = strip_embedding_nested(df, "batch_logs")
    fields = [f.name for f in
              out.schema["batch_logs"].dataType.elementType.fields]
    assert fields == ["message"]
    assert [s.message for s in out.first().batch_logs] == ["m1", "m2"]


def test_pick_batch_deterministic(spark):
    df = spark.createDataFrame([Row(i=i, v=f"x{i}") for i in range(20)])
    out = pick_batch(df, 5, "i")
    assert [r.i for r in out.collect()] == [0, 1, 2, 3, 4]


def test_upsert_feedback_on_disk_prunes_to_one_partition(spark, tmp_path):
    """F22 scale path: the point update must read ONLY the target day's
    partition and leave every other partition's files untouched on disk."""
    import os

    from ai_incident_analyst_spark.operators.rag import (
        append_history_partitioned,
        upsert_feedback_on_disk,
    )

    path = str(tmp_path / "history")
    rows = [Row(timestamp=f"2025-07-{d:02d}T10:00:00Z", llm_output=f"rca{d}",
                feedback=None) for d in (23, 24, 25)]
    entry = spark.createDataFrame(
        rows, "timestamp string, llm_output string, "
              "feedback struct<vote:string,comment:string>")
    append_history_partitioned(entry, path)

    # snapshot untouched-partition files before the update
    def part_files(day):
        d = os.path.join(path, f"__day=2025-07-{day}")
        return {f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet")}
    before_23, before_24 = part_files("23"), part_files("24")

    upsert_feedback_on_disk(spark, path, "2025-07-25T10:00:00Z",
                            "up", "helpful")

    after = {r.timestamp: r.feedback for r in
             spark.read.parquet(path).collect()}
    assert after["2025-07-25T10:00:00Z"].vote == "up"
    assert after["2025-07-25T10:00:00Z"].comment == "helpful"
    assert after["2025-07-23T10:00:00Z"] is None
    assert after["2025-07-24T10:00:00Z"] is None
    # other day partitions: same files, same mtimes — never rewritten
    assert part_files("23") == before_23
    assert part_files("24") == before_24

    # and the update's read side partition-prunes to one directory
    # (inputFiles() reports the unpruned relation, so check the executed
    # plan's PartitionFilters like tests/test_partitioning.py does)
    pruned = spark.read.parquet(path).filter(
        F.col("__day") == F.to_date(F.lit("2025-07-25T10:00:00Z")))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters:" in plan and \
        "__day" in plan.split("PartitionFilters:")[1][:160], plan


def _metrics_fixture(spark):
    """Multi-day entries with NULL service/namespace/level (counted as
    "unknown") and one NULL timestamp (its day group sorts first)."""
    import pandas as pd

    rows = [
        ("2025-07-23T10:00:00Z", "svc-db", "prod", "error"),
        ("2025-07-23T11:00:00Z", "svc-db", None, "warn"),
        ("2025-07-24T09:00:00Z", None, "prod", None),
        ("2025-07-25T08:00:00Z", "svc-oom", "stage", "error"),
        ("2025-07-25T09:30:00Z", "svc-oom", "prod", "error"),
        ("2025-07-25T23:59:59Z", None, None, None),
        (None, "svc-net", "prod", "info"),
    ]
    cols = ["timestamp", "container_name", "namespace_name", "level"]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    return df, pd.DataFrame(rows, columns=cols)


def _group_count(series):
    return sorted(series.value_counts(dropna=False).items(),
                  key=lambda kv: (kv[0] is not None, kv[0] or ""))


def test_history_metrics_matches_pandas_group_counts(spark, jobs_of):
    df, pdf = _metrics_fixture(spark)
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()

    out, jobs = jobs_of(spark, lambda: {
        k: v.collect() for k, v in history_metrics(df).items()})
    assert len(jobs) <= 3, jobs

    day = pdf.timestamp.str[:10].where(pdf.timestamp.notna(), None)
    assert [(r.day, r["count"]) for r in out["by_day"]] == \
        _group_count(day)
    assert out["by_day"][0].day is None          # NULL day first
    for view, col in (("by_service", "container_name"),
                      ("by_namespace", "namespace_name"),
                      ("by_level", "level")):
        assert [(r[col], r["count"]) for r in out[view]] == \
            _group_count(pdf[col].fillna("unknown")), view
    # no cached frame left behind (ids, not a count: the context cleaner
    # may unpersist an earlier test's frame while this one runs)
    assert not persisted() - before


def test_history_metrics_views_keep_schema_and_are_local(spark, jobs_of):
    df, _ = _metrics_fixture(spark)
    m = history_metrics(df)
    assert m["by_day"].schema.simpleString() == \
        "struct<day:string,count:bigint>"
    assert [f.nullable for f in m["by_day"].schema] == [True, False]
    assert [f.nullable for f in m["by_level"].schema] == [False, False]
    _, jobs = jobs_of(spark, lambda: [v.collect() for v in m.values()])
    assert jobs == []                # a snapshot: reading a view is free


def _day_table(spark, path, days):
    from ai_incident_analyst_spark.operators.rag import (
        append_history_partitioned,
    )

    rows = [Row(timestamp=f"2025-{d}T10:00:00Z", llm_output=f"rca{d}",
                feedback=None) for d in days]
    append_history_partitioned(spark.createDataFrame(
        rows, "timestamp string, llm_output string, "
              "feedback struct<vote:string,comment:string>"), path)


def _tree(path):
    import os

    return {os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs}


def test_upsert_feedback_on_disk_missing_day_is_noop(spark, tmp_path):
    from ai_incident_analyst_spark.operators.rag import (
        upsert_feedback_on_disk,
    )

    path = str(tmp_path / "history")
    _day_table(spark, path, ["07-23", "07-24"])
    before_files = _tree(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    upsert_feedback_on_disk(spark, path, "2025-07-30T10:00:00Z", "up", "x")

    assert _tree(path) == before_files
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before


def test_history_day_reads_one_directory(spark, tmp_path, jobs_of):
    """The feedback update's read is the one ``__day`` directory: every
    input file lies under it, and with more day directories than Spark's
    parallel-listing threshold no listing job (one task per directory)
    runs."""
    import datetime

    from ai_incident_analyst_spark.operators.rag import history_day

    path = str(tmp_path / "history")
    days = [f"{m:02d}-{d:02d}" for m in (7, 8) for d in range(1, 21)]
    _day_table(spark, path, days)
    part = history_day(spark, path, "2025-07-05T10:00:00Z")
    files = part.inputFiles()
    assert files and all(f"{path}/__day=2025-07-05/" in f
                         for f in files), files
    assert [tuple(r) for r in part.select("timestamp", "__day").collect()] \
        == [("2025-07-05T10:00:00Z", datetime.date(2025, 7, 5))]
    assert history_day(spark, path, "2025-09-01T00:00:00Z") is None

    # a whole-table read lists its 40 directories on the driver
    tracker = spark.sparkContext.statusTracker()
    _, jobs = jobs_of(spark, lambda: spark.read.parquet(path).count())
    tasks = [tracker.getStageInfo(s).numTasks for j in jobs
             for s in tracker.getJobInfo(j).stageIds]
    assert len(days) not in tasks, tasks
