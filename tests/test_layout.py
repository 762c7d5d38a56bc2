"""Physical layout management: clustered writes make row-group stats
selective, compaction right-sizes files, Z-order keys preserve 2-D
locality. Verified against real parquet footers via pyarrow."""

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ai_incident_analyst_spark.sources.layout import (
    compact_small_files,
    parquet_files,
    write_clustered,
    zorder_key,
)
from ai_incident_analyst_spark.sources.tables import load_table


def test_write_clustered_tightens_rowgroup_stats(spark, sf_dir, tmp_path):
    """After clustering by user_id, each file's (min,max) user_id range
    must be narrow/disjoint-ish — the property data skipping relies on.
    Compare against an unclustered write of the same data."""
    # one synthetic partition so the whole table lands in one sorted file;
    # a tiny row-group size forces many groups per file, which is where
    # min/max skipping lives on production-sized (128 MB) groups
    ev = load_table(spark, sf_dir, "events").withColumn("ds", F.lit("all"))
    clustered = str(tmp_path / "clustered")
    write_clustered(ev, clustered, "ds", ["user_id"],
                    parquet_block_bytes=16 << 10)

    spans = []
    n_users = ev.select("user_id").distinct().count()
    for f in parquet_files(clustered):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            col = next(md.row_group(rg).column(i)
                       for i in range(md.row_group(rg).num_columns)
                       if md.row_group(rg).column(i).path_in_schema == "user_id")
            st = col.statistics
            spans.append((st.min, st.max))
    assert len(spans) >= 3, f"expected several row groups, got {spans}"
    # the file is sorted by user_id, so row-group spans are narrow and
    # non-overlapping except at boundaries: a point predicate on user_id
    # must be able to skip most groups
    narrow = sum(1 for lo, hi in spans if hi - lo <= max(1, n_users // 3))
    assert narrow >= len(spans) - 2, (spans, n_users)


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    shattered = str(tmp_path / "shattered")
    ev.repartition(40).write.mode("overwrite").parquet(shattered)
    assert len(parquet_files(shattered)) == 40
    total = sum(__import__("os").path.getsize(f)
                for f in parquet_files(shattered))
    n_new = compact_small_files(spark, shattered, target_bytes=total)
    assert n_new == 1
    # contents survive the rewrite
    a = spark.read.parquet(shattered).count()
    b = spark.read.parquet(shattered + ".compact").count()
    assert a == b


def test_zorder_key_locality_and_range(spark):
    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long")
    rows = df.select("x", "y", zorder_key("x", "y", bits=3).alias("z")) \
        .collect()
    z = {(r.x, r.y): r.z for r in rows}
    assert len(set(z.values())) == 64          # bijective on the grid
    assert z[(0, 0)] == 0 and z[(7, 7)] == 63  # fills [0, 4^bits)
    # interleaving: x occupies even bits, y odd bits
    assert z[(1, 0)] == 1 and z[(0, 1)] == 2 and z[(2, 0)] == 4
    # locality: sorting by z, neighbors in z-order are close in (x, y)
    order = sorted(rows, key=lambda r: r.z)
    jumps = [abs(a.x - b.x) + abs(a.y - b.y)
             for a, b in zip(order, order[1:])]
    assert sum(jumps) / len(jumps) < 3.0       # mostly unit steps


def test_merge_upsert_partition_pruned(spark, tmp_path):
    """MERGE semantics: matched keys replaced, new keys inserted (incl. a
    brand-new partition); untouched partitions keep identical files."""
    import os

    from pyspark.sql import functions as F

    from ai_incident_analyst_spark.sources.layout import merge_upsert

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"), (4, "d", "d3")],
        "k long, v string, ds string")
    base.write.partitionBy("ds").parquet(path)

    def files(ds):
        d = os.path.join(path, f"ds={ds}")
        return {f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet")}
    before_d3 = files("d3")

    updates = spark.createDataFrame(
        [(2, "B2", "d1"),      # replace existing key in d1
         (5, "e", "d2"),       # insert new key into existing d2
         (6, "f", "d9")],      # insert into brand-new partition
        "k long, v string, ds string")
    merge_upsert(spark, path, updates, ["k"], "ds")

    got = {(r.k): (r.v, r.ds) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", "d1"), 2: ("B2", "d1"), 3: ("c", "d2"),
                   4: ("d", "d3"), 5: ("e", "d2"), 6: ("f", "d9")}
    assert files("d3") == before_d3  # untouched partition: same bytes

    # idempotence: replaying the same batch changes nothing
    merge_upsert(spark, path, updates, ["k"], "ds")
    again = {(r.k): (r.v, r.ds) for r in spark.read.parquet(path).collect()}
    assert again == got


def test_vacuum_partitions_retention(spark, tmp_path):
    from ai_incident_analyst_spark.sources.layout import vacuum_partitions

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(d, i) for i, d in enumerate(["d1", "d2", "d3"]) for _ in range(3)],
        "day string, v long")
    df.write.partitionBy("day").parquet(p)

    # dry run reports but deletes nothing
    would = vacuum_partitions(p, "day", keep=["d2", "d3"], dry_run=True)
    assert would == ["d1"]
    assert spark.read.parquet(p).select("day").distinct().count() == 3

    gone = vacuum_partitions(p, "day", keep=["d2", "d3"])
    assert gone == ["d1"]
    left = {r["day"] for r in
            spark.read.parquet(p).select("day").distinct().collect()}
    assert left == {"d2", "d3"}
    # idempotent
    assert vacuum_partitions(p, "day", keep=["d2", "d3"]) == []


def test_vacuum_partitions_hive_escaped_values(spark, tmp_path):
    """Partition values with Hive-escaped characters must be comparable
    by their RAW value (review finding: ':' -> '%3A' dirs were deleted
    even when the caller asked to keep them)."""
    from ai_incident_analyst_spark.sources.layout import vacuum_partitions

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1), ("2024-01-02 00:00:00", 2)],
        "ts string, v long")
    df.write.partitionBy("ts").parquet(p)
    gone = vacuum_partitions(p, "ts", keep=["2024-01-01 00:00:00"])
    assert gone == ["2024-01-02 00:00:00"]
    # partition inference types the value as timestamp on re-read
    left = {str(r["ts"]) for r in
            spark.read.parquet(p).select("ts").distinct().collect()}
    assert left == {"2024-01-01 00:00:00"}


def test_merge_upsert_reads_escaped_partition_directories(spark, tmp_path):
    """Partition values the writer escapes into their directory names
    (a space, ':' and '/'): the merge reads exactly the touched
    directories, replaces the matched key, and a value with no directory
    is an insert."""
    import os

    from ai_incident_analyst_spark.sources.layout import (
        merge_upsert,
        read_partitions,
    )

    path = str(tmp_path / "dim")
    schema = "k long, v string, ds string"
    spark.createDataFrame(
        [(1, "a", "day 1"), (2, "b", "day 1"), (3, "c", "d:2/x"),
         (4, "d", "plain")], schema).write.partitionBy("ds").parquet(path)
    assert {"ds=d%3A2%2Fx", "ds=day 1"} <= set(os.listdir(path))
    before_plain = {f: os.path.getmtime(os.path.join(path, "ds=plain", f))
                    for f in os.listdir(os.path.join(path, "ds=plain"))}

    touched = read_partitions(spark, path, "ds", ["day 1", "d:2/x", "new"])
    assert sorted((r.k, r.ds) for r in touched.collect()) == \
        [(1, "day 1"), (2, "day 1"), (3, "d:2/x")]
    assert all("ds=plain" not in f for f in touched.inputFiles())
    assert read_partitions(spark, path, "ds", ["none here"]) is None
    assert read_partitions(spark, str(tmp_path / "absent"), "ds",
                           ["day 1"]) is None

    updates = spark.createDataFrame(
        [(2, "B2", "day 1"), (3, "C2", "d:2/x"), (7, "g", "new day")],
        schema)
    merge_upsert(spark, path, updates, ["k"], "ds")
    got = {r.k: (r.v, r.ds) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", "day 1"), 2: ("B2", "day 1"),
                   3: ("C2", "d:2/x"), 4: ("d", "plain"),
                   7: ("g", "new day")}
    assert {f: os.path.getmtime(os.path.join(path, "ds=plain", f))
            for f in os.listdir(os.path.join(path, "ds=plain"))} \
        == before_plain

    # a value that partition inference alone would type as int keeps the
    # table's string type: the read takes ``updates``' schema
    merge_upsert(spark, path, spark.createDataFrame(
        [(8, "h", "01")], schema), ["k"], "ds")
    merge_upsert(spark, path, spark.createDataFrame(
        [(8, "h2", "01")], schema), ["k"], "ds")
    rows = spark.read.parquet(path).filter("k = 8").collect()
    assert [(r.v, r.ds) for r in rows] == [("h2", "01")]
