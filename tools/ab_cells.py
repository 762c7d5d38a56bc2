"""Timed registry cells against one or more sf dirs in ONE Spark
session, interleaved per query (A,B,A,B…) — the only cross-corpus
comparison the measurement-hygiene rules allow on a shared host
(loadavg swings 8-22 with idle CPU across JVMs; within-session
adjacent cells share the epoch). With one dir it is a plain timed cell:
the second-decade points of the contrast-excluded quadratics and any
ad-hoc cell the SCALING.md narrative needs.

Each cell is a ``noop`` write of ``REGISTRY[name].fn`` under the
big-cell shuffle confs of the scaling probe, after clearing the session
memos and the cache; the best of ``$SPARK_GRAFT_CELL_RUNS`` runs
(default 1) is reported.

Usage: python tools/ab_cells.py <dir> [dir ...] <query> [query ...]
(the leading arguments that are directories are the sf dirs).
One JSON line per (query, dir) cell on stdout.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from ai_incident_analyst_spark.queries import REGISTRY, clear_session_memos
from ai_incident_analyst_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    n_dirs = 0
    while n_dirs < len(args) and os.path.isdir(args[n_dirs]):
        n_dirs += 1
    dirs, names = args[:n_dirs], args[n_dirs:]
    if not dirs or not names:
        sys.exit(__doc__)
    runs = int(os.environ.get("SPARK_GRAFT_CELL_RUNS", "1"))
    spark = get_spark("ab-cells")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    for name in names:
        for d in dirs:
            best = float("inf")
            for _ in range(runs):
                clear_session_memos()
                spark.catalog.clearCache()
                t0 = time.time()
                REGISTRY[name].fn(spark, d).write.format("noop") \
                    .mode("overwrite").save()
                best = min(best, time.time() - t0)
            print(json.dumps({"query": name, "sf_dir": d,
                              "sec": round(best, 3),
                              "loadavg": round(os.getloadavg()[0], 2)}),
                  flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
