"""SparkSession construction tuned for the engine.

The reference has no engine of its own (single-threaded Python loops,
``src/preprocessing/preprocessor.py:34``); everything here is Spark-native.
Defaults are chosen for local[N] testing but the same knobs are what you
would set on a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting), Arrow for the pandas_udf boundary, explicit shuffle
parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-level confs that are safe (and required) to apply to an
# externally provided session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    # older testdata generations carried TIMESTAMP(NANOS), which Spark's
    # parquet reader rejects by default; with this conf it scans as long and
    # sources.tables._normalize coerces it (current testdata is timestamp[us]
    # → TIMESTAMP_NTZ, also normalized there; the conf is then a no-op).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # mirror the reference's embedding batch-size knob (embedder.py:13) at the
    # Arrow boundary; 10k is the right order for 64-384d vector batches.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # Python DSv2 filter pushdown (sources/logapi.py) ships disabled by
    # default in Spark 4.1; runtime-settable, also set at use sites so a
    # vanilla driver session works
    "spark.sql.python.filterPushdown.enabled": "true",
}


_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required confs to an existing session (driver-owned),
    and put the package on its Python workers' path once, so UDFs run
    from any working directory (a cluster master must also ship it)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # a conf may be non-modifiable on some builds; reads that need it
            # will fail loudly later, which is the correct signal.
            pass
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT] + paths)
    return spark


def get_spark(app_name: str = "ai-incident-analyst-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a local session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores; shuffle partitions
    default to the same so small-SF local runs don't pay 200-partition
    scheduling overhead. On a real cluster you would size
    ``spark.sql.shuffle.partitions`` to ~2-3x total cores and let AQE
    coalesce.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # local-mode-ONLY scan parallelism override: the testdata twins are
    # single parquet FILES, so the 128m default gives a 1.2 GB sf10
    # table only ~10 input splits on 32 cores (and a 115 MB sf1 table
    # ONE — the fs_customer_linkage single-task lesson). 32m targets
    # ~4x more scan tasks. A cluster master (SPARK_GRAFT_MASTER=yarn/
    # k8s/…) keeps Spark's 128m default — multi-file tables parallelize
    # on their own and smaller splits only inflate task counts there.
    # Partition discovery is listed on the driver for the same masters:
    # above the threshold (default 32 paths) Spark lists leaf directories
    # in a distributed job, and a day-partitioned history table of 60+
    # `__day=` directories paid a ~0.3 s, one-task-per-directory job on
    # every read. On local[N] that job runs on the same cores the driver
    # has, so it only adds scheduling; a cluster master keeps the
    # default, where executors do list in parallel.
    if master.startswith("local"):
        b = b.config("spark.sql.files.maxPartitionBytes",
                     os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"))
        b = b.config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                     "1000000")
    # Big-input shuffle fan-out, ENV-GATED, off by default
    # (tools/scaling_probe.py sets the same confs per-cell at runtime
    # for its sf>=1 cells; these envs serve other big-input entry
    # points, e.g. bench.py pointed at an sf1+ dir): shuffle width
    # must scale with
    # input bytes, not sit at the core count — at a fixed 32 partitions
    # a 27.5M-row window-sort puts ~860k heavy rows in every sort task
    # and run time becomes GC variance (the r10 cdc_chunk_dedup
    # 13.5-20.3x flag band). The AQE-canonical rule — initial partition
    # count 8x cores + a 16m coalesce target — measured on cdc sf10:
    # mean 9.5 s (band 6.0-12.5) -> mean 5.0 s (band 4.6-5.8). It is
    # NOT the session default because the same fan-out taxes every
    # exchange of the 186-query sf0.1 bench (graph_ann_batch's 122
    # tiny shuffles measured 4.0 -> 13.5 s) — scale the knob with the
    # data, not globally.
    if os.environ.get("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS"):
        b = b.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ["SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS"])
    # two INDEPENDENT knobs (r11 ADVICE): advisoryPartitionSizeInBytes
    # controls AQE shuffle coalescing, maxPartitionBytes controls input
    # splits — setting one must not drop the other. (On local masters
    # maxPartitionBytes was already set above; this re-set with the
    # same env value is a harmless overwrite, and on cluster masters
    # it is the only place the env is honored.)
    if os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES"):
        b = b.config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                     os.environ["SPARK_GRAFT_ADVISORY_PARTITION_BYTES"])
    if os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES"):
        b = b.config("spark.sql.files.maxPartitionBytes",
                     os.environ["SPARK_GRAFT_MAX_PARTITION_BYTES"])
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_confs(spark)
