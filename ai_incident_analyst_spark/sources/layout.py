"""Physical data layout management: clustered writes, small-file
compaction, and Z-order keys — the file-level half of 100 TB performance
(partition pruning and row-group skipping only work if the writer laid the
data out for them).

The reference appends one JSON file per run (``src/llm/llm_processor.py``
history sink) and re-reads it whole; at scale the sink must be a
partitioned, clustered, right-sized parquet layout. These operators keep
that layout healthy:

* ``write_clustered`` — partition directories by a low-cardinality column
  (date), sort WITHIN files by the query key, so parquet row-group
  min/max stats become selective (data skipping).
* ``compact_small_files`` — rewrite a partition's many small files into
  few right-sized ones (the streaming-sink hygiene job). Uses
  per-partition coalesce sized from the actual bytes on disk.
* ``zorder_key`` — interleave the bits of two int columns so ONE sort
  key preserves locality in both dimensions (multi-column skipping).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_clustered(df: DataFrame, path: str, partition_col: str,
                    cluster_cols: list[str],
                    parquet_block_bytes: int | None = None) -> None:
    """Write ``df`` partitioned by ``partition_col`` directories with rows
    sorted by ``cluster_cols`` inside each file.

    ``repartition(partition_col)`` gives one task per directory (no
    cross-writing of tiny files from every task into every partition —
    the classic small-file explosion), then ``sortWithinPartitions``
    orders rows so each row group's min/max on the cluster key is a tight
    range: a point/range predicate on the key then skips most row groups
    at scan time without any index structure.
    """
    out = (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(partition_col, *cluster_cols)
    )
    w = out.write.partitionBy(partition_col).mode("overwrite")
    if parquet_block_bytes is not None:
        # row-group size; production default (128 MB) is right for HDFS-
        # sized files — tests shrink it to force several groups per file
        w = w.option("parquet.block.size", parquet_block_bytes)
    w.parquet(path)


def parquet_files(path: str) -> list[str]:
    files = []
    for root, _dirs, names in os.walk(path):
        files += [os.path.join(root, n) for n in names
                  if n.endswith(".parquet")]
    return files


def compact_small_files(spark, path: str, target_bytes: int = 128 << 20,
                        partition_col: str | None = None) -> int:
    """Rewrite ``path`` so each file is ~``target_bytes``. Returns the new
    file count.

    Sizing comes from the ACTUAL bytes on disk (sum of data-file sizes /
    target), not a row-count guess — compressed width varies 10x across
    schemas. The rewrite preserves directory partitioning when
    ``partition_col`` is given (repartition by it first, so one task owns
    one directory). In-place overwrite via a staging subdir + atomic-ish
    rename is the production pattern; here the rewrite goes to
    ``path + '.compact'`` and the caller swaps — we never delete inputs.
    """
    total = sum(os.path.getsize(f) for f in parquet_files(path))
    n_files = max(1, round(total / target_bytes))
    df = spark.read.parquet(path)
    staged = path.rstrip("/") + ".compact"
    if partition_col is not None:
        (df.repartition(F.col(partition_col))
           .write.partitionBy(partition_col).mode("overwrite").parquet(staged))
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(staged)
    return len(parquet_files(staged))


def zorder_key(a: Column | str, b: Column | str, bits: int = 21) -> Column:
    """Interleave the low ``bits`` bits of two non-negative int columns
    into one long (Morton code). Sorting by this single key clusters rows
    that are close in BOTH dimensions, so row-group min/max stats skip on
    either predicate — the poor man's Z-ORDER BY, as a pure column
    expression (codegen'd; 2*bits <= 63).

    Built by a shift-or reduction over bit positions — a balanced tree of
    ORs, not a 2*bits-deep chain (Janino compile cost, see simhash).
    """
    ca = (F.col(a) if isinstance(a, str) else a).cast("long")
    cb = (F.col(b) if isinstance(b, str) else b).cast("long")
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(ca, i).bitwiseAND(F.lit(1)),
                                 2 * i))
        terms.append(F.shiftleft(F.shiftright(cb, i).bitwiseAND(F.lit(1)),
                                 2 * i + 1))
    while len(terms) > 1:
        terms = [terms[i].bitwiseOR(terms[i + 1])
                 if i + 1 < len(terms) else terms[i]
                 for i in range(0, len(terms), 2)]
    return terms[0]


@contextmanager
def dynamic_partition_overwrite(spark):
    """Scoped ``partitionOverwriteMode=dynamic``: only partitions present
    in the written DataFrame are replaced; previous mode restored on exit.
    Shared by ``merge_upsert`` and ``rag.upsert_feedback_on_disk``."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_partitions(spark, path: str, partition_col: str, values: list,
                    schema: StructType | None = None) -> DataFrame | None:
    """Read only the ``partition_col=value`` directories of the
    ``partitionBy(partition_col)`` parquet table at ``path``, with
    ``basePath`` so the partition column stays in the schema — instead of
    listing the whole table and pruning it. ``values`` are in the string
    form the partition writer casts them to (None is the null
    partition); each is escaped into its directory name by the writer's
    own rule (``ExternalCatalogUtils``). Values with no directory are
    skipped; None when no directory exists, a missing table included.
    Existence is probed through Spark's FS layer (os.path only sees the
    local filesystem — the table may live on HDFS/S3).

    ``schema`` (the full table schema, partition column included) skips
    the schema-inference job and pins the partition column's type, which
    inference over a subset of directories could change (``01`` alone
    infers int)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    dirs = []
    for v in values:
        d = jvm.org.apache.hadoop.fs.Path(
            path, escape.getPartitionPathString(partition_col, v))
        if d.getFileSystem(conf).exists(d):
            dirs.append(d.toString())
    if not dirs:
        return None
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*dirs)


def merge_upsert(spark, path: str, updates: DataFrame,
                 key_cols: list[str], partition_col: str) -> None:
    """Delta-style MERGE (whole-row upsert by key) over a
    ``partitionBy(partition_col)`` parquet table — the lakehouse
    primitive plain parquet lacks, built from partition pruning +
    dynamic partition overwrite (same recipe as
    ``operators/rag.py:upsert_feedback_on_disk``, generalized).

    Only the partitions PRESENT IN ``updates`` are read and rewritten:
    matched keys are replaced, unmatched keys inserted, every other
    partition's files are untouched bytes on disk. The touched-partition
    list is collected to the driver (bounded by the batch's distinct
    partition values — KB-scale) and ``read_partitions`` reads just those
    directories, so the rest of the table is never even listed. Updates
    whose partition has no directory are inserts: they simply create it.

    CONTRACT: ``partition_col`` must be a stable function of the key
    (the usual date-partitioned-fact invariant). An update that MOVES a
    key to a different partition value is not a merge — the old
    partition is never read here, so the stale row would survive; do an
    explicit delete+insert for key moves. ``updates`` must carry the
    full table schema including ``partition_col``. At 100 TB a daily
    upsert batch touches days, not the table — cost scales with the
    batch's partition footprint.
    """
    # the string form the partition writer casts each value to
    parts = [r[0] for r in updates.select(
        F.col(partition_col).cast("string")).distinct().collect()]
    merged = updates
    existing = read_partitions(spark, path, partition_col, parts,
                               updates.schema)
    if existing is not None:
        merged = existing.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        ).unionByName(updates)
    # materialize before overwriting: Spark refuses to overwrite a path
    # its plan is still reading; the merged set is partition-footprint-
    # sized by construction
    merged = merged.localCheckpoint(eager=True)
    with dynamic_partition_overwrite(spark):
        merged.write.partitionBy(partition_col).mode("overwrite") \
            .parquet(path)


def vacuum_partitions(path: str, partition_col: str, keep: list[str],
                      dry_run: bool = False) -> list[str]:
    """Retention vacuum: delete partition directories of ``path`` whose
    ``<partition_col>=<value>`` is NOT in ``keep`` — the TTL/compliance
    half of layout lifecycle (the GDPR-delete and log-retention job).

    Deliberately takes an explicit allow-list instead of "older than N
    days": the caller derives ``keep`` from data or policy (and can log
    it), the operator never consults wall-clock — same determinism rule
    as the rest of the repo. Non-partition entries (``_SUCCESS``,
    loose files) are untouched. Returns the deleted (or, with
    ``dry_run``, would-be-deleted) partition values, sorted.

    Directory-level deletes only — O(#partitions) metadata ops, no data
    rewrite, readers of surviving partitions unaffected (each partition
    directory is removed atomically as one rename-to-trash/rm)."""
    import shutil
    from urllib.parse import unquote

    keep_set = {str(k) for k in keep}
    prefix = f"{partition_col}="
    victims = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if not (os.path.isdir(full) and name.startswith(prefix)):
            continue
        # directory names are Hive-escaped (':' -> '%3A' etc.); compare
        # against the caller's RAW values or a kept partition whose
        # value contains any escaped character would be deleted. The
        # null partition's sentinel is never unescaped — keep it by
        # passing the literal '__HIVE_DEFAULT_PARTITION__'.
        raw = name[len(prefix):]
        value = raw if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
        if value not in keep_set:
            victims.append(value)
            if not dry_run:
                shutil.rmtree(full)
    return victims
