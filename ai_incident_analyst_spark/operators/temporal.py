"""Temporal operators Spark lacks as built-ins: as-of join, sessionization.

Neither exists in the reference (its only temporal logic is the SINCE
window, new_relic_fetcher.py:79), but both are table-stakes for a log/
training-data engine at scale (SURVEY.md custom-operator mandate).

``asof_join`` uses the scalable union + carry-forward formulation: tag both
sides, union, ONE window over (key, ts) with ``last(..., ignorenulls)`` —
a single shuffle on the key, no per-row subquery, no range cross-join.
This is how you as-of join two 100 TB tables: both sides shuffle once on
the join key and the window is a linear merge within each partition.

``sessionize`` is the standard gap-based session assignment: lag + cumsum
of session-start flags — two stacked windows over the same (key, ts)
partitioning, so Catalyst plans ONE shuffle and sorts once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import local_frame


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str = "ts", right_ts: str = "ts",
              right_cols: list[str] | None = None,
              tiebreak: str | None = None,
              suffix: str = "_matched") -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` on the same key (backward as-of, inclusive —
    DuckDB/pandas ``merge_asof`` semantics). Left rows with no match keep
    nulls.

    ``tiebreak``: right-side column ordering the winner among equal
    timestamps (largest wins); required for determinism when right has
    duplicate (key, ts).
    """
    right_cols = right_cols or [c for c in right.columns
                                if c not in (key, right_ts)]
    l_tagged = left.withColumn("__ts", F.col(left_ts)).withColumn("__is_left", F.lit(1))
    r_tagged = (
        right.select(
            F.col(key),
            F.col(right_ts).alias("__ts"),
            *[F.col(c).alias(f"__r_{c}") for c in right_cols],
            *([F.col(tiebreak).alias("__tb")] if tiebreak else []),
        )
        .withColumn("__is_left", F.lit(0))
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    order = [F.col("__ts").asc(), F.col("__is_left").asc()]
    if tiebreak:
        order.append(F.col("__tb").asc_nulls_first())
    w = (Window.partitionBy(key).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    carried = unioned
    for c in right_cols:
        carried = carried.withColumn(
            f"{c}{suffix}", F.last(f"__r_{c}", ignorenulls=True).over(w))
    return (
        carried.filter(F.col("__is_left") == 1)
        .drop("__ts", "__is_left", "__tb",
              *[f"__r_{c}" for c in right_cols])
    )


def range_join(left: DataFrame, right: DataFrame,
               left_ts: str, right_start: str, right_end: str,
               key: str | None = None,
               bucket_seconds: int = 600) -> DataFrame:
    """Interval join: each left row (point ``left_ts``) matched to every
    right row whose ``[right_start, right_end]`` interval contains it
    (inclusive bounds), optionally also equi-keyed on ``key``.

    A naive formulation is a non-equi (cross or key-only) join that
    Spark plans as BroadcastNestedLoop/Cartesian — O(|L|·|R|) compares.
    Here both sides are blocked onto a time grid: the point side lands in
    one bucket, the interval side explodes into the buckets it overlaps,
    and the join becomes a plain equi-join on (key, bucket) refined by the
    exact containment predicate — shuffle-partitionable, AQE-skew-
    splittable, no NL join. Each (left, interval) pair meets in exactly
    one bucket (the point's), so no post-join dedup is needed.

    Pick ``bucket_seconds`` near the median interval length: the explode
    factor is ~(interval_len / bucket_seconds) + 1 per right row, while
    larger buckets raise false-candidate compares. Both columns of the
    trade-off are linear, so the choice is robust within ~10×.
    """
    bs = F.lit(bucket_seconds)
    l = left.withColumn("__bkt",
                        F.floor(F.col(left_ts).cast("long") / bs))
    r = (
        right.filter(F.col(right_end) >= F.col(right_start))
        .withColumn("__bkt", F.explode(F.sequence(
            F.floor(F.col(right_start).cast("long") / bs),
            F.floor(F.col(right_end).cast("long") / bs))))
    )
    on = ["__bkt"] + ([key] if key else [])
    return (
        l.join(r, on)
        .filter((F.col(left_ts) >= F.col(right_start))
                & (F.col(left_ts) <= F.col(right_end)))
        .drop("__bkt")
    )


def sessionize(df: DataFrame, key: str, ts_col: str = "ts",
               gap_seconds: int = 1800,
               order_tiebreak: str | None = None) -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when the
    time since the previous event exceeds ``gap_seconds`` (compared at
    epoch-second resolution). Adds ``session_id`` (1-based per key, in
    time order)."""
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(F.col(ts_col).cast("long")).over(w)
    is_new = (
        prev.isNull()
        | ((F.col(ts_col).cast("long") - prev) > gap_seconds)
    ).cast("long")
    return df.withColumn("session_id",
                         F.sum(is_new).over(
                             w.rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)))


def anomalous_buckets(df: DataFrame, key: str, ts_col: str = "ts",
                      bucket: str = "hour", trailing: int = 24,
                      z: int = 3, min_baseline: int = 8) -> DataFrame:
    """Event-rate anomaly detection: bucket events per (key, time bucket)
    and flag buckets whose count exceeds the trailing-window mean by more
    than ``z`` population standard deviations — the batch analog of the
    incident monitor the reference polls New Relic for (its 24h window,
    src/ingestion/new_relic_fetcher.py:67,79) and of
    ``streaming.stateful.streaming_burst_monitor``'s threshold flag.

    The z-test is evaluated in INTEGER arithmetic only — no mean, no
    stddev, no division:

        cnt > mean + z*sigma
        <=>  cnt*n - S > 0  AND  (cnt*n - S)^2 > z^2 * (n*SS - S^2)

    with S = trailing sum, SS = trailing sum of squares, n = trailing
    bucket count (population variance, multiplied through by n^2). Counts
    are exact longs, so the flag is bit-reproducible across engines and
    partitionings — it hash-matches a DuckDB oracle, which a float
    z-score never reliably would. Overflow bound: |cnt*n - S| <= n*max_cnt
    and n*SS <= n^2*max_cnt^2, so int64 is safe while max bucket count
    stays under ~3e8 at trailing=24 — far beyond any per-key-per-hour
    event rate; past that, cast the three window sums to decimal(38,0).

    One aggregation shuffle (key, bucket) + one window over the SAME key
    partitioning — AQE coalesces; the window input is pre-shrunk to
    distinct-bucket cardinality, not raw events. Trailing window is ROWS
    over observed buckets: silent gaps don't dilute the baseline (a
    quiet-hours gap would otherwise pull the mean toward zero and
    over-flag the morning ramp).
    """
    b = (
        df.groupBy(F.col(key), F.date_trunc(bucket, F.col(ts_col)).alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy(key).orderBy("bucket")
        .rowsBetween(-trailing, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.coalesce(F.sum("cnt").over(w), F.lit(0))
    ss = F.coalesce(F.sum(F.col("cnt") * F.col("cnt")).over(w), F.lit(0))
    dev = F.col("cnt") * n - s          # n * (cnt - mean)
    var_n2 = n * ss - s * s             # n^2 * population variance
    return b.select(
        key, "bucket", "cnt",
        n.alias("baseline_n"),
        ((n >= min_baseline) & (dev > 0) & (dev * dev > z * z * var_n2))
        .alias("is_anomaly"),
    )


def decayed_agg(df: DataFrame, key: str, ts_col: str, value_col: str,
                half_life_seconds: float, ref_ts) -> DataFrame:
    """Recency-weighted sum per key: ``Σ value · 0.5^(Δt / half_life)``
    with Δt measured back from ``ref_ts`` (a literal timestamp or
    column) — the standard exponential-decay score behind "recent
    activity" rankings and decayed feature aggregations (the streaming-
    friendly alternative to a sliding window: one scan, no window state,
    and two stores decay-merge by aligning their reference times).

    A pure aggregation: one keyed shuffle with map-side partial sums;
    deterministic given a fixed ``ref_ts`` (pass the corpus max or a
    checkpoint time, never wall-clock now()).
    """
    ref = F.lit(ref_ts).cast("timestamp") if not isinstance(ref_ts, Column) \
        else ref_ts
    # cast-to-double epoch keeps sub-second precision (unix_timestamp
    # truncates to whole seconds and drifts the decay weight)
    dt = ref.cast("double") - F.col(ts_col).cast("double")
    w = F.pow(F.lit(0.5), dt / F.lit(float(half_life_seconds)))
    return (
        df.groupBy(key)
        .agg(F.sum(F.col(value_col).cast("double") * w)
             .alias("decayed_sum"))
    )


def cusum_drift(df: DataFrame, key: str, ts_col: str, value_col: str,
                target: Column | float, slack: float, threshold: float,
                order_cols: list[str] | None = None) -> DataFrame:
    """One-sided CUSUM drift detection per key: the classic control
    chart ``S_t = max(0, S_{t−1} + (x_t − target − slack))`` with an
    alarm when ``S_t > threshold`` — the standard "has this metric
    drifted upward" monitor (complementing the per-bucket z-test in
    ``anomalous_buckets``, which sees spikes but not slow drifts).

    The recursion LOOKS inherently sequential, but the textbook identity
    ``S_t = P_t − min_{i≤t} P_i`` over the prefix sums
    ``P_t = Σ (x_i − target − slack)`` turns it into two stacked window
    functions sharing one (key, ts) sort — fully relational, one keyed
    shuffle, no UDF, and therefore exactly reproducible by a SQL twin.

    Appends ``cusum`` (rounded 6 dp) and ``drift_alarm`` per row.
    """
    tgt = F.lit(float(target)) if not isinstance(target, Column) else target
    order = [F.col(ts_col).asc()] + \
        [F.col(c).asc() for c in (order_cols or [])]
    w = Window.partitionBy(key).orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    step = F.col(value_col).cast("double") - tgt - F.lit(float(slack))
    p = F.sum(step).over(w)
    # min over P including a virtual 0 before the first row (S starts
    # at 0): least(running-min(P), 0)
    s = p - F.least(F.min(p).over(w), F.lit(0.0))
    return (
        df.withColumn("cusum", F.round(s, 6))
        .withColumn("drift_alarm", F.col("cusum") > F.lit(float(threshold)))
    )


def ewma_smooth(df: DataFrame, key: str, ts_col: str, value_col: str,
                alpha: float = 0.3, lookback: int = 32,
                order_cols: list[str] | None = None) -> DataFrame:
    """Truncated exponentially-weighted moving average per key:
    ``ewma_t = Σ_{j=0..L−1} α·(1−α)^j · x_{t−j}`` over the trailing
    ``lookback`` rows — the smoothing half of the monitoring family
    (CUSUM detects drifts, Theil–Sen rates them, EWMA renders the
    denoised series dashboards actually plot).

    The untruncated EWMA recursion is not window-expressible without
    numerically explosive rescaling ((1−α)^(−t) overflows); truncation
    at ``lookback`` bounds both the error (the dropped tail weighs
    (1−α)^L — under 1e-4 at α=0.3, L=32) and the cost. Implemented as
    ``collect_list`` over the ordered frame + a JVM higher-order
    ``zip_with``/``aggregate`` — one (key, ts) sort, no UDF, and the
    same array arithmetic is expressible in SQL, so it hash-matches a
    twin. Appends ``ewma`` (rounded 6 dp).
    """
    order = [F.col(ts_col).asc()] + \
        [F.col(c).asc() for c in (order_cols or [])]
    w = (Window.partitionBy(key).orderBy(*order)
         .rowsBetween(-(lookback - 1), 0))
    # frame order = window order => arr is oldest..newest; newest gets
    # weight α, each step back another ×(1−α)
    arr = F.collect_list(F.col(value_col).cast("double")).over(w)
    weighted = F.expr(
        f"aggregate(zip_with({{0}}, sequence(size({{0}}) - 1, 0, -1), "
        f"(x, j) -> x * {alpha} * pow({1 - alpha}, j)), "
        f"0.0D, (acc, v) -> acc + v)".replace("{0}", "__ewma_arr"))
    return (
        df.withColumn("__ewma_arr", arr)
        .withColumn("ewma", F.round(weighted, 6))
        .drop("__ewma_arr")
    )


def fill_gaps(df: DataFrame, key: str, ts_col: str, value_col: str,
              step_seconds: int) -> DataFrame:
    """Regularize a sparse per-key time series: emit one row per key per
    ``step_seconds`` tick between the key's first and last observation,
    carrying the last observed value forward into the gaps — the
    date-spine + LOCF idiom every dashboard/feature pipeline needs
    before resampling (a missing bucket must read as "still at the last
    value", not silently vanish).

    Adds ``is_observed`` so downstream code can distinguish carried
    rows. Plan: per-key min/max (one agg) → ``sequence`` explode builds
    the spine (no driver loop, no cross join against a calendar table)
    → left join observations → one ``last(ignorenulls)`` window on the
    same (key, ts) sort. The spine explode is bounded by
    (span/step) rows per key — choose ``step_seconds`` accordingly.
    """
    t = F.col(ts_col).cast("long")
    bounds = df.groupBy(key).agg(F.min(t).alias("__lo"),
                                 F.max(t).alias("__hi"))
    step = F.lit(int(step_seconds))
    # ticks anchored at each key's first observation
    spine = bounds.select(
        key,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), step))
        .alias("__tick"))
    obs = df.select(F.col(key), t.alias("__t"),
                    F.col(value_col).cast("double").alias("__v"))
    # snap each observation to its tick (relative to the key's anchor)
    obs = (
        obs.join(bounds, key)
        .withColumn("__tick",
                    (F.col("__lo")
                     + F.floor((F.col("__t") - F.col("__lo")) / step) * step))
        # last observation within a tick wins (latest ts)
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy(key, "__tick")
            .orderBy(F.col("__t").desc())))
        .filter(F.col("__rn") == 1)
        .select(key, "__tick", "__v")
    )
    w = (Window.partitionBy(key).orderBy("__tick")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        spine.join(obs, [key, "__tick"], "left")
        .withColumn("is_observed", F.col("__v").isNotNull())
        .withColumn(value_col, F.last("__v", ignorenulls=True).over(w))
        .select(key,
                F.col("__tick").cast("timestamp").alias(ts_col),
                value_col, "is_observed")
    )


def funnel_steps(df: DataFrame, user_col: str, ts_col: str,
                 type_col: str, steps: list[str],
                 within: str | None = None) -> DataFrame:
    """Ordered conversion funnel: per user, the earliest strictly-
    increasing timestamp chain through ``steps`` (first step-1 event,
    then the first step-2 event AFTER it, ...), optionally requiring
    the whole chain to complete ``within`` an interval of step 1
    (e.g. ``"7 days"``). The classic product-analytics primitive the
    reference's flat event counts (A4–A8) cannot express, because each
    stage is conditioned on the PREVIOUS stage's per-user timestamp.

    Returns ``(user_col, t_1..t_k)`` — one row per user who completed
    step 1, later stage timestamps null where the chain broke. Earliest-
    chain semantics ("first qualifying event after the previous stage")
    is the standard greedy funnel; it completes whenever any chain does
    for ≥2-step suffixes anchored at the first step-1 event.

    Plan: stage i is one join of the (user, t_{i-1}) frame onto the
    step-i events plus a min-aggregate — every stage keys on the user
    id, so all shuffles share one partitioning (co-partitioned joins,
    AQE broadcasts the shrinking funnel frame when it fits). Left joins
    keep drop-offs so conversion RATES fall out of one count aggregate
    (see the ``funnel_conversion`` registry query).
    """
    if len(steps) < 2:
        raise ValueError(f"a funnel needs >= 2 steps, got {len(steps)}")
    u, t = F.col(user_col), F.col(ts_col)
    ev = df.select(u.alias("__u"), t.alias("__t"),
                   F.col(type_col).alias("__e"))
    cur = (ev.where(F.col("__e") == steps[0])
           .groupBy("__u").agg(F.min("__t").alias("t_1")))
    for i, step in enumerate(steps[1:], start=2):
        # cut lineage per stage: ``cur`` feeds both the next stage's
        # semi-structure and the left join below, and stage i's plan
        # otherwise embeds stage i-1's twice — event scans grew
        # quadratically in the step count (static plan: 7 scans for a
        # 3-step funnel). The checkpointed frame is per-user, already
        # far smaller than the event stream.
        cur = cur.localCheckpoint(eager=False)
        nxt = (ev.where(F.col("__e") == step)
               .join(cur.select("__u", F.col(f"t_{i-1}").alias("__prev"))
                     .where(F.col("__prev").isNotNull()), "__u")
               .where(F.col("__t") > F.col("__prev"))
               .groupBy("__u").agg(F.min("__t").alias(f"t_{i}")))
        cur = cur.join(nxt, "__u", "left")
    if within is not None:
        k = len(steps)
        deadline = F.col("t_1") + F.expr(f"INTERVAL {within}")
        cur = cur.withColumn(
            f"t_{k}",
            F.when(F.col(f"t_{k}") <= deadline, F.col(f"t_{k}")))
    return cur.withColumnRenamed("__u", user_col)


def binary_segmentation(df: DataFrame, pos_col: str, value_col: str,
                        n_splits: int = 2, min_seg: int = 3,
                        round_dp: int = 6) -> DataFrame:
    """Changepoint detection by BINARY SEGMENTATION (Scott & Knott
    1974; the greedy classic behind ruptures' BinSeg): repeatedly split
    the series at the position that most reduces within-segment sum of
    squares. Complements ``cusum_drift`` (online, single drift) with
    the OFFLINE multi-changepoint view — "where did the level of this
    metric actually shift?" over a rollup series. Returns one row per
    accepted split: ``(split_round, pos, gain)``, best-first; empty
    when no split clears ``min_seg``/positive-gain.

    The variance identity collapses the score to FIRST moments only:
    ``gain(i) = S_l²/n_l + S_r²/n_r − S²/n`` (the Σx² terms cancel), so
    with integer inputs (counts — the intended series) every gain is a
    rational function of exact int64 prefix sums: both engines compute
    IDENTICAL doubles and the argmax cannot flap (the ``log_rank`` /
    ``sprt`` sufficient-statistics contract). Argmax ties break by
    smallest pos.

    Scale shape: the series is an AGGREGATED rollup (days, hours —
    bounded cardinality; the corpus-scale work is upstream), so
    per-segment windows are bounded; the dense index comes from the
    two-phase distributed prefix sum, and driver state is just the
    ≤ ``n_splits`` chosen boundaries re-entering the plan as literals
    (the kmeans/k-center pattern). Each round is one window pass + a
    1-row argmax collect.
    """
    if n_splits < 1 or min_seg < 1:
        raise ValueError("n_splits and min_seg must be >= 1")
    from .packing import global_cumsum

    base = (df.select(F.col(pos_col).alias("p"),
                      F.col(value_col).cast("long").alias("x"))
            .withColumn("__one", F.lit(1)))
    base = global_cumsum(base, "p", "__one", "idx")
    base = base.select("p", "x", "idx").localCheckpoint(eager=False)

    boundaries: list[int] = []   # split AFTER these idx values
    found: list[tuple] = []
    for rnd in range(1, n_splits + 1):
        seg = F.lit(0)
        for b in sorted(boundaries):
            seg = seg + (F.col("idx") > F.lit(b)).cast("int")
        w = Window.partitionBy("__seg").orderBy("idx")
        wall = Window.partitionBy("__seg")
        d = (base.withColumn("__seg", seg)
             .withColumn("s1", F.sum("x").over(
                 w.rowsBetween(Window.unboundedPreceding,
                               Window.currentRow)))
             .withColumn("cnt", F.count(F.lit(1)).over(
                 w.rowsBetween(Window.unboundedPreceding,
                               Window.currentRow)))
             .withColumn("S", F.sum("x").over(wall))
             .withColumn("N", F.count(F.lit(1)).over(wall)))
        nl = F.col("cnt").cast("double")
        nr = (F.col("N") - F.col("cnt")).cast("double")
        sl = F.col("s1").cast("double")
        sr = (F.col("S") - F.col("s1")).cast("double")
        gain = (sl * sl / nl + sr * sr / nr
                - F.col("S").cast("double") * F.col("S").cast("double")
                / F.col("N").cast("double"))
        cand = (d.where((F.col("cnt") >= min_seg)
                        & (F.col("N") - F.col("cnt") >= min_seg))
                .select("p", "idx", gain.alias("g"),
                        # round ENGINE-side (half away from zero, like
                        # the twin's round(g, 6)) — Python round() is
                        # banker's and can differ on a half-ulp gain
                        F.round(gain, round_dp).alias("g_r"))
                .where(F.col("g") > 0)
                .orderBy(F.desc("g"), F.col("idx").asc())
                .limit(1).collect())
        if not cand:
            break
        r = cand[0]
        boundaries.append(int(r["idx"]))
        found.append((rnd, r["p"], float(r["g_r"])))

    pos_type = df.select(pos_col).schema.fields[0].dataType.simpleString()
    return local_frame(
        df.sparkSession, found,
        f"split_round int, pos {pos_type}, gain double")
