"""Local stand-in for the driver's t2 correctness gate.

Runs every queries() entry at a given SF dir, runs its oracle_sql() twin in
DuckDB over the same parquet, and compares row count + column names +
order-insensitive values. Floats compared after round-trip through repr of
float64 (the queries themselves round where FP association order differs).

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from ai_incident_analyst_spark.queries import REGISTRY
from ai_incident_analyst_spark.session import get_spark
from ai_incident_analyst_spark.sources.tables import TABLES


def norm_cell(v):
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        # partial dirs are legitimate (the zipf near-dup corpus ships
        # documents only); queries touching an absent table fail loudly
        # on their own row instead of blocking the whole run
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        else:
            print(f"# note: {t}.parquet absent in {sf_dir} — view skipped",
                  file=sys.stderr)

    n_pass = n_fail = n_rowsonly = 0
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if q.sql is None:
            print(f"rows  {name}: {len(srows)} rows (rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(q.sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            otypes = [str(t) for t in con.sql(q.sql).types]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        # fetchall() yields exact Python ints for HUGEINT, but the driver's
        # comparer goes through pandas where HUGEINT becomes float64 and
        # hashes as '123.0' vs Spark's int64 '123' (the r5/r6
        # kmeans_clusters red). Flag dtype-unportable oracle columns hard.
        bad_t = [(c, t) for c, t in zip(ocols, otypes)
                 if t in ("HUGEINT", "UHUGEINT", "UBIGINT")
                 or t.startswith("DECIMAL")]
        if bad_t:
            problems.append(
                f"pandas-unportable oracle dtypes {bad_t}: wrap in "
                f"CAST(.. AS BIGINT/DOUBLE) — the driver gate hashes "
                f"these as floats")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            a, b = norm_rows(scols, srows), norm_rows(ocols, orows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"ok    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} FAIL")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
