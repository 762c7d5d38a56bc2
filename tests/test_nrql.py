"""NRQL string frontend: the reference's own query strings must parse and
execute with the right semantics."""

import pytest
from pyspark.sql import functions as F

from ai_incident_analyst_spark.plans.nrql import parse_nrql, run_nrql

# the exact default query the reference composes
# (src/ingestion/new_relic_fetcher.py:72-80, config defaults :61-68)
REFERENCE_DEFAULT = (
    "SELECT `level`,`container_name`,`message`,`event`,`namespace_name` "
    "FROM Log, Log_dev1 "
    "WHERE `namespace_name` = 'betterworks-rainforest' "
    "AND `message` NOT LIKE '%/health%' "
    "AND `message` NOT LIKE '%HTTP/1.1%' "
    "AND `container_name` LIKE '%conversations%' "
    "AND `message` LIKE '%error%' "
    "SINCE 24 hours ago LIMIT 1000"
)

# the probe query (new_relic_fetcher.py:11)
REFERENCE_PROBE = "SELECT count(*) FROM Log SINCE 1 day ago LIMIT 1"

# the main.py:25 rewritten window form
REFERENCE_WINDOWED = (
    "SELECT `level`,`message` FROM Log "
    "WHERE `level` = 'error' "
    "SINCE '2024-01-01 00:00:00' UNTIL '2024-01-02 00:00:00' LIMIT 1000"
)


def test_parse_reference_default_query():
    p = parse_nrql(REFERENCE_DEFAULT)
    assert p.select == ["level", "container_name", "message", "event",
                        "namespace_name"]
    assert p.tables == ["Log", "Log_dev1"]
    assert p.where[0] == "and" and len(p.where[1]) == 5
    assert ("cond", "namespace_name", "=", "betterworks-rainforest") \
        in p.where[1]
    assert ("cond", "message", "NOT LIKE", "%/health%") in p.where[1]
    assert ("cond", "container_name", "LIKE", "%conversations%") \
        in p.where[1]
    assert p.since == "24 hours ago" and p.until is None and p.limit == 1000


def test_parse_probe_and_windowed():
    p = parse_nrql(REFERENCE_PROBE)
    assert p.aggs == [("count", "*", None)]
    assert p.tables == ["Log"] and p.limit == 1
    w = parse_nrql(REFERENCE_WINDOWED)
    assert w.since == "2024-01-01 00:00:00"
    assert w.until == "2024-01-02 00:00:00"


def _log_fixture(spark):
    rows = [
        ("error", "conversations-api", "db error: conn refused",
         "evt", "betterworks-rainforest", "2024-01-01 10:00:00"),
        ("info", "conversations-api", "GET /health ok",
         "evt", "betterworks-rainforest", "2024-01-01 10:01:00"),
        ("error", "billing", "timeout error", "evt",
         "betterworks-rainforest", "2024-01-01 10:02:00"),   # container miss
        ("error", "conversations-api", "error again", "evt",
         "other-ns", "2024-01-01 10:03:00"),                  # namespace miss
    ]
    df = spark.createDataFrame(
        rows, "level string, container_name string, message string, "
              "event string, namespace_name string, ts string")
    return df.withColumn("ts", F.to_timestamp("ts"))


def test_run_reference_default_semantics(spark):
    logs = _log_fixture(spark)
    now = F.to_timestamp(F.lit("2024-01-01 12:00:00"))
    out = run_nrql(spark, REFERENCE_DEFAULT,
                   {"Log": logs, "Log_dev1": logs.limit(0)}, now=now)
    got = out.collect()
    assert len(got) == 1
    assert got[0].message == "db error: conn refused"
    assert out.columns == ["level", "container_name", "message", "event",
                           "namespace_name"]


def test_run_count_probe(spark):
    logs = _log_fixture(spark)
    now = F.to_timestamp(F.lit("2024-01-01 12:00:00"))
    out = run_nrql(spark, REFERENCE_PROBE, {"Log": logs}, now=now)
    # NRQL LIMIT caps RESULT rows (facet groups), not scanned rows: a
    # global count(*) reports the full windowed count in one row. (The
    # reference's probe only checks the query succeeds,
    # new_relic_fetcher.py:9-39, so either semantic validates the table.)
    assert out.count() == 1
    assert out.first()["count"] == 4


def test_run_absolute_window(spark):
    logs = _log_fixture(spark)
    out = run_nrql(spark, REFERENCE_WINDOWED, {"Log": logs})
    assert {r.message for r in out.collect()} == {
        "db error: conn refused", "timeout error", "error again"}


def test_unknown_table_and_bad_syntax_raise(spark):
    logs = _log_fixture(spark)
    with pytest.raises(KeyError):
        run_nrql(spark, "SELECT * FROM Nope", {"Log": logs})
    with pytest.raises(ValueError):
        parse_nrql("TOTALLY NOT NRQL")
    with pytest.raises(ValueError):
        parse_nrql("SELECT * FROM Log WHERE `a` ~ '3'")  # unsupported op


def test_parse_facet_timeseries():
    p = parse_nrql("SELECT count(*), sum(value), uniqueCount(user_id) "
                   "FROM events WHERE `event_type` = 'error' "
                   "FACET `event_type` SINCE '2024-01-01 00:00:00' "
                   "TIMESERIES 1 day")
    assert p.aggs == [("count", "*", None), ("sum", "value", None),
                      ("uniquecount", "user_id", None)]
    assert p.facet == ["event_type"]
    assert p.timeseries == "1 day"
    assert p.where == ("cond", "event_type", "=", "error")


def test_facet_requires_aggregate():
    with pytest.raises(ValueError):
        parse_nrql("SELECT `a` FROM t FACET `b`")


def test_run_facet_counts(spark):
    logs = _log_fixture(spark)
    out = run_nrql(spark, "SELECT count(*) FROM Log FACET `level`",
                   {"Log": logs})
    got = {r.level: r["count"] for r in out.collect()}
    byhand = {r["level"]: r["cnt"] for r in
              logs.groupBy("level").agg(F.count("*").alias("cnt")).collect()}
    assert got == byhand


def test_run_timeseries_buckets(spark):
    logs = _log_fixture(spark)
    out = run_nrql(spark, "SELECT count(*) FROM Log TIMESERIES 1 day",
                   {"Log": logs})
    rows = {str(r.bucket_start)[:10]: r["count"] for r in out.collect()}
    byhand = {str(r.d)[:10]: r.cnt for r in
              logs.groupBy(F.date_trunc("day", "ts").alias("d"))
              .agg(F.count("*").alias("cnt")).collect()}
    assert rows == byhand


def test_parse_percentile_latest():
    p = parse_nrql("SELECT percentile(value, 99.9), latest(value) "
                   "FROM events FACET `event_type`")
    assert p.aggs == [("percentile", "value", "99.9"),
                      ("latest", "value", None)]


def test_percentile_arity_enforced():
    with pytest.raises(ValueError):
        parse_nrql("SELECT percentile(value) FROM events")
    with pytest.raises(ValueError):
        parse_nrql("SELECT sum(value, 95) FROM events")


def test_percentile_latest_values(spark):
    from ai_incident_analyst_spark.plans.nrql import run_nrql
    import datetime as dt
    rows = [(dt.datetime(2024, 1, 1, 0, 0, i), "a", float(v))
            for i, v in enumerate([10, 20, 30, 40])]
    # tie on max ts for type b: two rows at the same timestamp -> the
    # LARGER value must win deterministically
    t = dt.datetime(2024, 1, 2)
    rows += [(t, "b", 5.0), (t, "b", 7.0), (dt.datetime(2024, 1, 1), "b", 9.0)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = {r.event_type: r for r in run_nrql(
        spark,
        "SELECT percentile(value, 50), latest(value) FROM t FACET `event_type`",
        {"t": df}).collect()}
    assert abs(out["a"].percentile_value_50 - 25.0) < 1e-9  # interpolated
    assert out["a"].latest_value == 40.0
    assert out["b"].latest_value == 7.0  # tie broken by larger value


def test_parse_compare_with():
    p = parse_nrql("SELECT count(*) FROM Log FACET level "
                   "SINCE 1 day ago COMPARE WITH 1 week ago LIMIT 50")
    assert p.compare_with == "1 week ago"
    assert p.since == "1 day ago" and p.limit == 50


def test_compare_with_requires_agg_and_since():
    from ai_incident_analyst_spark.plans.nrql import run_nrql
    with pytest.raises(ValueError):
        run_nrql(None, "SELECT `a` FROM t SINCE 1 day ago "
                 "COMPARE WITH 1 week ago", {"t": None})
    with pytest.raises(ValueError):
        run_nrql(None, "SELECT count(*) FROM t COMPARE WITH 1 week ago",
                 {"t": None})


def test_compare_with_periods_and_overlap(spark):
    import datetime as dt
    from ai_incident_analyst_spark.plans.nrql import run_nrql
    base = dt.datetime(2024, 1, 10)
    # one event per day, Jan 1..10
    df = spark.createDataFrame(
        [(base - dt.timedelta(days=i), "e") for i in range(10)],
        "ts timestamp, event_type string")
    now = F.lit(base)
    # window = last 4 days [Jan 6..10] (5 events); previous = shifted 2
    # days [Jan 4..8] (5 events) — windows OVERLAP on Jan 6-8: rows must
    # appear in BOTH periods
    out = {r.period: r["count"] for r in run_nrql(
        spark, "SELECT count(*) FROM t SINCE 4 days ago "
        "COMPARE WITH 2 days ago", {"t": df}, now=now).collect()}
    assert out == {"current": 5, "previous": 5}


# ---------------------------------------------------------------------------
# filter() / histogram() / rate()
# ---------------------------------------------------------------------------

def test_parse_filter_histogram_rate():
    p = parse_nrql(
        "SELECT filter(count(*), WHERE `level` = 'error' AND "
        "`message` NOT LIKE '%x,y%'), histogram(value, 10, 5), "
        "rate(sum(value), 2 minutes) FROM t SINCE 1 day ago")
    assert p.aggs[0] == ("filter", ("count", "*", None),
                         ("and", (("cond", "level", "=", "error"),
                                  ("cond", "message", "NOT LIKE", "%x,y%"))))
    assert p.aggs[1] == ("histogram", "value", (10.0, 5))
    assert p.aggs[2] == ("rate", ("sum", "value", None), (2, "minute"))


def test_filter_needs_agg_rate_needs_window():
    with pytest.raises(ValueError):
        parse_nrql("SELECT filter(`a`, WHERE `b` = 'c') FROM t")
    with pytest.raises(ValueError):
        parse_nrql("SELECT rate(latest(v), 1 minute) FROM t")
    with pytest.raises(ValueError):  # no SINCE and no TIMESERIES
        run_nrql(None, "SELECT rate(count(*), 1 minute) FROM t",
                 {"t": None})


def test_filter_agg_values(spark):
    import datetime as dt
    rows = [
        (dt.datetime(2024, 1, 1, 0, 0, i), ty, float(v))
        for i, (ty, v) in enumerate(
            [("error", 10.0), ("error", 20.0), ("click", 4.0),
             ("view", 100.0), ("click", 6.0)])
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    r = run_nrql(
        spark,
        "SELECT filter(count(*), WHERE `event_type` = 'error'), "
        "filter(sum(value), WHERE `event_type` = 'error'), "
        "filter(average(value), WHERE `event_type` = 'click'), "
        "filter(max(value), WHERE `event_type` != 'view'), "
        "filter(uniqueCount(event_type), WHERE `event_type` != 'view') "
        "FROM t", {"t": df}).first()
    assert r.filter_count == 2
    assert r.filter_sum_value == 30.0
    assert r.filter_average_value == 5.0
    assert r.filter_max_value == 20.0
    assert r.filter_uniquecount_event_type == 2
    # empty match: count -> 0, sum -> null (SQL CASE semantics)
    r2 = run_nrql(spark,
                  "SELECT filter(count(*), WHERE `event_type` = 'nope'), "
                  "filter(sum(value), WHERE `event_type` = 'nope') "
                  "FROM t", {"t": df}).first()
    assert r2.filter_count == 0 and r2.filter_sum_value is None


def test_histogram_clamps_edges(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (10.0,), (25.0,), (49.9,), (50.0,), (999.0,)],
        "value double")
    r = run_nrql(spark, "SELECT histogram(value, 50, 5) FROM t",
                 {"t": df}).first()
    # buckets of width 10 over [0,50): [-5,0,9.9] -> b0, 10 -> b1, 25 -> b2,
    # 49.9 -> b4, [50, 999] clamp into b4
    assert r.histogram_value == [3, 1, 1, 0, 3]


def test_rate_window_and_timeseries(spark):
    import datetime as dt
    rows = [(dt.datetime(2024, 1, 1, h, 0, 0), 1.0) for h in range(12)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    # whole-window: 12 events over a 6-hour window = 2/hour
    r = run_nrql(spark,
                 "SELECT rate(count(*), 1 hour) FROM t "
                 "SINCE '2024-01-01 00:00:00' UNTIL '2024-01-01 06:00:00'",
                 {"t": df}).first()
    assert r.rate_count == 7 * 3600.0 / 21600.0  # 7 events in [00:00,06:00]
    # timeseries: per-day bucket, 12 events -> 12/24 per hour
    r2 = run_nrql(spark, "SELECT rate(count(*), 1 hour) FROM t "
                  "TIMESERIES 1 day", {"t": df}).first()
    assert r2.rate_count == 0.5


# --- boolean WHERE: OR + parens (parse_where) ------------------------------

def test_parse_where_precedence():
    from ai_incident_analyst_spark.plans.nrql import parse_where
    # AND binds tighter: a OR b AND c == a OR (b AND c)
    t = parse_where("`a` = '1' OR `b` = '2' AND `c` = '3'")
    assert t == ("or", (("cond", "a", "=", "1"),
                        ("and", (("cond", "b", "=", "2"),
                                 ("cond", "c", "=", "3")))))
    # parens override: (a OR b) AND c
    t2 = parse_where("(`a` = '1' OR `b` = '2') AND `c` = '3'")
    assert t2 == ("and", (("or", (("cond", "a", "=", "1"),
                                  ("cond", "b", "=", "2"))),
                          ("cond", "c", "=", "3")))
    # nesting + NOT LIKE leaf; quoted values may contain parens/keywords
    t3 = parse_where("((`m` NOT LIKE '%x (AND y) OR z%'))")
    assert t3 == ("cond", "m", "NOT LIKE", "%x (AND y) OR z%")


def test_parse_where_errors():
    from ai_incident_analyst_spark.plans.nrql import parse_where
    for bad in ["(`a` = '1'", "`a` = '1')", "`a` = '1' OR", "AND `a` = '1'",
                "`a` = '1' `b` = '2'", "`a` ~ '1'", "`a` IN ()",
                "`a` IN (1, 2)"]:
        with pytest.raises(ValueError):
            parse_where(bad)


def test_parse_nrql_or_sets_tree_not_conds():
    p = parse_nrql("SELECT * FROM Log WHERE `a` = '1' OR `b` = '2'")
    assert p.where == ("or", (("cond", "a", "=", "1"),
                              ("cond", "b", "=", "2")))
    # a pure AND chain is one flat "and" node over its leaves
    q = parse_nrql("SELECT * FROM Log WHERE `a` = '1' AND `b` = '2'")
    assert q.where == ("and", (("cond", "a", "=", "1"),
                               ("cond", "b", "=", "2")))


def test_run_boolean_where_semantics(spark):
    logs = _log_fixture(spark)
    out = run_nrql(
        spark,
        "SELECT `message` FROM Log "
        "WHERE (`level` = 'info' OR `container_name` = 'billing') "
        "AND `namespace_name` = 'betterworks-rainforest'",
        {"Log": logs})
    assert {r.message for r in out.collect()} == {
        "GET /health ok", "timeout error"}
    # precedence without parens: error-level OR (billing AND info) — the
    # second branch matches nothing, so all error rows survive
    out2 = run_nrql(
        spark,
        "SELECT `message` FROM Log WHERE `level` = 'error' "
        "OR `container_name` = 'billing' AND `level` = 'info'",
        {"Log": logs})
    assert {r.message for r in out2.collect()} == {
        "db error: conn refused", "timeout error", "error again"}


def test_filter_agg_with_or_condition(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 4.0)], "k string, value double")
    r = run_nrql(spark,
                 "SELECT filter(sum(value), WHERE `k` = 'a' OR `k` = 'c') "
                 "FROM t", {"t": df}).first()
    assert r.filter_sum_value == 5.0


# --- extended condition leaves: comparisons, IN, IS NULL -------------------

def test_parse_where_extended_leaves():
    from ai_incident_analyst_spark.plans.nrql import parse_where
    assert parse_where("`v` > 90") == ("cond", "v", ">", 90)
    assert parse_where("`v` <= -1.5") == ("cond", "v", "<=", -1.5)
    assert parse_where("`v` = 3") == ("cond", "v", "=", 3)
    assert parse_where("`t` IN ('a', 'b,c')") == \
        ("cond", "t", "IN", ("a", "b,c"))
    assert parse_where("`t` IS NULL") == ("cond", "t", "IS NULL", None)
    assert parse_where("`t` is not null") == \
        ("cond", "t", "IS NOT NULL", None)
    # a numeric leaf sits in the same tree as the string leaves
    p = parse_nrql("SELECT * FROM Log WHERE `a` = 'x' AND `v` > 9")
    assert p.where[0] == "and"


def test_run_extended_where_semantics(spark):
    df = spark.createDataFrame(
        [(1, "err", 95.0), (2, "err", 10.0), (3, "click", 99.0),
         (4, None, 97.0)],
        "id long, kind string, v double")
    out = run_nrql(
        spark,
        "SELECT `id` FROM t WHERE `v` > 90 AND `kind` IN ('err', 'click')",
        {"t": df})
    assert {r.id for r in out.collect()} == {1, 3}
    out2 = run_nrql(spark, "SELECT `id` FROM t WHERE `kind` IS NULL",
                    {"t": df})
    assert {r.id for r in out2.collect()} == {4}
    out3 = run_nrql(
        spark,
        "SELECT `id` FROM t WHERE `kind` IS NOT NULL AND (`v` <= 10 "
        "OR `v` >= 99)", {"t": df})
    assert {r.id for r in out3.collect()} == {2, 3}


# --- epoch-ms time points and scan pushdown ---------------------------------

def test_epoch_ms_window_from_logapi_spec(spark):
    """The window form the logapi reader writes itself (``SINCE <ms>
    UNTIL <ms>``) runs as inclusive epoch-ms bounds."""
    from ai_incident_analyst_spark.sources.logapi import _QuerySpec

    t0 = 1_700_000_000_000
    df = spark.createDataFrame(
        [(i, t0 + ms) for i, ms in enumerate(
            [-1, 0, 1, 59_999, 60_000, 60_001])],
        "id long, ms long").select(
            "id", F.timestamp_millis("ms").alias("timestamp"))
    spec = _QuerySpec(df.schema, {"since_ms": t0, "until_ms": t0 + 60_000})
    query = spec.nrql(t0, t0 + 60_000)
    assert query.endswith(f"SINCE {t0} UNTIL {t0 + 60_000}")
    out = run_nrql(spark, query, {"Log": df}, ts_col="timestamp")
    assert sorted(r.id for r in out.collect()) == [1, 2, 3, 4]


def _pushed_filters(df) -> str:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[(.*?)\], ", plan)
    assert m, plan
    return m.group(1)


def test_where_reaches_parquet_scan(spark, tmp_path):
    """An AND chain reaches the parquet scan as one pushed filter per
    condition; an OR pushes down as one disjunction."""
    path = str(tmp_path / "logs")
    _log_fixture(spark).write.parquet(path)
    logs = spark.read.parquet(path)
    pushed = _pushed_filters(run_nrql(
        spark, "SELECT `message` FROM Log WHERE `level` = 'error' "
        "AND `container_name` = 'billing'", {"Log": logs}))
    assert "EqualTo(level,error)" in pushed, pushed
    assert "EqualTo(container_name,billing)" in pushed, pushed
    assert "And(" not in pushed, pushed
    pushed = _pushed_filters(run_nrql(
        spark, "SELECT `message` FROM Log WHERE `level` = 'info' "
        "OR `container_name` = 'billing'", {"Log": logs}))
    assert "Or(EqualTo(level,info),EqualTo(container_name,billing))" \
        in pushed, pushed
