"""Shapley-value channel attribution — the game-theoretic member of the
attribution family (``queries.py:touch_attribution`` is positional,
``markov_transitions`` is path-based): each channel's credit is its
average marginal contribution to the conversion rate over every
coalition of the other channels (Shapley 1953; the Zhao et al. 2018
channel-attribution recipe). Unlike last-touch it cannot be gamed by
position, and unlike Markov removal effects it satisfies efficiency and
symmetry axioms.

Exactness contract: with ``n`` channels the Shapley weights
``|S|!·(n−1−|S|)!/n!`` are rationals with denominator ``n!`` — carried
as INTEGER numerators scaled by ``n!``. Coalition values (conversion
rates) are quantized ONCE at source to integer micro-units
(``round(1e6·k/m)``), so the whole attribution is an exact int64 sum
``Σ w·(v_q(S∪i) − v_q(S))`` — no FP accumulation, association-free,
which is what lets a SQL twin over the same VALUES lattice hash-match.
Unobserved coalitions take v=0 (stated convention: attribution is over
the empirically observed exposure distribution; a fitted-v variant
plugs in here).

Scale shape: the subject table collapses to one row per user (one
keyed groupBy with conditional max — the only subject-cardinality
work), then to ≤2^n coalition rows; the weight lattice is n·2^(n−1)
literal rows broadcast from the driver. Exponential ONLY in the channel
count, which is small by construction (4–10 in practice); the corpus
never fans out.
"""

from __future__ import annotations

from itertools import combinations
from math import factorial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import local_frame


def _weight_lattice(channels: list[str]):
    """Rows (channel, bit, mask_without, weight_scaled) for every
    channel × coalition-of-others; weight_scaled = |S|!(n−1−|S|)!
    (denominator n! carried implicitly in the output scaling)."""
    n = len(channels)
    rows = []
    for i, ch in enumerate(channels):
        others = [b for b in range(n) if b != i]
        for r in range(n):
            for sub in combinations(others, r):
                mask = sum(1 << b for b in sub)
                w = factorial(r) * factorial(n - 1 - r)
                rows.append((ch, 1 << i, mask, w))
    return rows


def shapley_attribution(df: DataFrame, unit_col: str, channel_col: str,
                        conversion_col: str,
                        channels: list[str]) -> DataFrame:
    """Per-channel Shapley credit over per-unit exposure sets:
    ``(channel, shapley_scaled, shapley)`` — ``shapley_scaled`` the
    exact int64 ``Σ w·Δv_q`` (micro-units × n!), ``shapley`` the one
    derived double ``scaled / (n!·1e6)`` rounded 6 dp.

    ``df`` has one row per (unit, touch): ``channel_col`` the touched
    channel (rows with channels outside ``channels`` are ignored),
    ``conversion_col`` a 0/1/boolean unit outcome (any row may carry
    it; the unit converts if ANY of its rows does).
    """
    n = len(channels)
    if not 1 <= n <= 16:
        raise ValueError("channels must have 1..16 entries")
    ch = F.col(channel_col).cast("string")
    conv = F.col(conversion_col).cast("int")
    mask = sum((F.max(F.when(ch == c, 1).otherwise(0)) * (1 << i)
                for i, c in enumerate(channels)),
               start=F.lit(0))
    units = (df.groupBy(F.col(unit_col).alias("u"))
             .agg(mask.alias("mask"), F.max(conv).alias("cv")))
    # rates is <=2^n rows but its subtree is the subject-cardinality
    # groupBy; checkpoint so the two lattice joins (v0/v1) don't each
    # re-run it
    rates = (units.groupBy("mask")
             .agg(F.count(F.lit(1)).alias("m"), F.sum("cv").alias("k"))
             .select("mask",
                     F.round(F.lit(1e6) * F.col("k") / F.col("m"))
                     .cast("long").alias("vq"))
             .localCheckpoint(eager=False))
    spark = df.sparkSession
    lat = F.broadcast(local_frame(
        spark, _weight_lattice(channels),
        "channel string, bit long, mask_wo long, w long"))
    v0 = rates.withColumnRenamed("mask", "mask_wo") \
        .withColumnRenamed("vq", "vq0")
    v1 = rates.withColumnRenamed("mask", "mask_w") \
        .withColumnRenamed("vq", "vq1")
    scaled = (lat
              .join(v0, "mask_wo", "left")
              .withColumn("mask_w", F.col("mask_wo") + F.col("bit"))
              .join(v1, "mask_w", "left")
              .groupBy("channel")
              .agg(F.sum(F.col("w") * (F.coalesce("vq1", F.lit(0))
                                       - F.coalesce("vq0", F.lit(0))))
                   .alias("shapley_scaled")))
    denom = float(factorial(n)) * 1e6
    return scaled.select(
        "channel",
        F.col("shapley_scaled").cast("long").alias("shapley_scaled"),
        F.round(F.col("shapley_scaled") / F.lit(denom), 6)
        .alias("shapley"))
