"""Table snapshot diff: what changed between two versions of a table.

The regression-testing primitive for pipeline development at scale: run
the candidate pipeline, diff its output against the blessed snapshot,
gate the deploy on "zero unexplained changes" — the same role the
driver's oracle gate plays for this repo, packaged as an operator.
Also the audit tool for MERGE/compaction correctness
(``sources/layout.py``): a rewrite that claims byte-identity can prove
it with an empty diff.

Physical design: ONE full-outer join on the key (single keyed shuffle
per side, AQE-broadcast when one snapshot is small) with row content
compared via null-safe struct equality — JVM-side, no serialization to
strings, no Python. Output is row-level (``added`` / ``removed`` /
``changed``); the summary form aggregates it in the same pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import local_frame


def table_diff(old: DataFrame, new: DataFrame,
               keys: list[str]) -> DataFrame:
    """Row-level diff ``(key..., change)`` with ``change`` ∈
    {added, removed, changed}; unchanged rows are omitted. Non-key
    columns must match by name (schema drift is a diff you resolve
    first, not silently ignore — mismatched columns raise).
    """
    val_cols = [c for c in old.columns if c not in keys]
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"schemas differ: only-old={set(old.columns) - set(new.columns)} "
            f"only-new={set(new.columns) - set(old.columns)}")
    o = old.select(*keys, F.struct(*val_cols).alias("__old"))
    n = new.select(*keys, F.struct(*val_cols).alias("__new"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")),
              F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*keys, "change")
    )


def diff_summary(old: DataFrame, new: DataFrame,
                 keys: list[str]) -> DataFrame:
    """Aggregate form: ``(change, n)`` — the deploy-gate number."""
    return (
        table_diff(old, new, keys)
        .groupBy("change").agg(F.count("*").alias("n"))
    )


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Column-level drift report between two snapshots:
    ``(column, change, old_type, new_type)`` with ``change`` ∈
    {added, removed, type_changed}; empty when schemas agree. The
    pre-flight companion to ``table_diff`` (which refuses to run across
    drifted schemas) — a pipeline gates on THIS first, then row-diffs.
    Driver-side only (schemas are metadata); no jobs run.
    """
    spark = old.sparkSession
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in sorted(o.keys() - n.keys()):
        rows.append((c, "removed", o[c], None))
    for c in sorted(n.keys() - o.keys()):
        rows.append((c, "added", None, n[c]))
    for c in sorted(o.keys() & n.keys()):
        if o[c] != n[c]:
            rows.append((c, "type_changed", o[c], n[c]))
    return local_frame(
        spark, rows, "column string, change string, old_type string, "
              "new_type string")
