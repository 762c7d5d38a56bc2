"""Closed-form statistics as single aggregation passes: per-group OLS
and the chi-squared independence test.

Both are textbook sufficient-statistics computations — everything
reduces to sums the engine combines map-side, so each fits in ONE
groupBy over the data (plus a tiny contingency-table reshape for
chi-squared). Deterministic arithmetic over exact counts/sums → both
hash-match SQL twins (the Theil–Sen/percentile family's contract,
without even the interpolation subtlety).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import local_frame


def ols_by_group(df: DataFrame, key: str, x_col: str,
                 y_col: str) -> DataFrame:
    """Per-group simple linear regression from sufficient statistics:
    ``(key, n, slope, intercept, r2)``.

    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²); r² from the same sums.
    Groups with zero x-variance return NULL slope/intercept/r2 (a
    vertical fit is undefined — surfacing NULL beats silently emitting
    0). One aggregation pass; outputs rounded 6 dp.
    """
    from .util import complete_case

    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    # complete-case analysis: a row missing either coordinate must not
    # inflate n while being skipped by the sums (silently wrong fits)
    df = complete_case(df, [x, y])
    agg = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.when(varx_n > 0, cov_n / varx_n)
    intercept = F.when(varx_n > 0,
                       (F.col("sy") - slope * F.col("sx")) / n)
    r2 = F.when((varx_n > 0) & (vary_n > 0),
                (cov_n * cov_n) / (varx_n * vary_n))
    return agg.select(
        key, "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def chi_squared(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns: one row ``(chi2, dof, n)``.

    Observed counts come from one groupBy over (a, b); expected counts
    from the two marginal tables joined back (both category-cardinality,
    broadcast). ``chi2 = Σ (O − E)² / E`` over observed cells PLUS the
    ``E`` mass of structurally-zero cells — handled in closed form as
    ``n − Σ_observed E`` so absent combinations need no dense
    cross-join materialization. dof = (|A|−1)(|B|−1).
    """
    # complete-case analysis, like ols_by_group: without this, rows with
    # a NULL category would stay in n (inflating the zero-cell mass
    # term) while the inner joins on a/b never match NULL keys, so their
    # (O−E)²/E contribution silently dropped and dof excluded the NULL
    # class — statistically wrong on dirty input. Treating NULL as "no
    # observation of this variable" and dropping the row is the standard
    # contingency-table convention; callers who mean "missing" as a real
    # class should fillna a sentinel category first.
    df = df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    obs = (
        df.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count("*").alias("o"))
        .localCheckpoint(eager=False)
    )
    ma = obs.groupBy("a").agg(F.sum("o").alias("na"))
    mb = obs.groupBy("b").agg(F.sum("o").alias("nb"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(ma, "a").join(mb, "b").join(n)
        .withColumn("e", F.col("na") * F.col("nb")
                    / F.col("n").cast("double"))
    )
    stat = cells.agg(
        # Σ over observed cells of (O−E)²/E, plus the zero-cell mass:
        # Σ_all E = n, so Σ_zero (0−E)²/E = Σ_zero E = n − Σ_obs E
        (F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e"))
         + F.max("n") - F.sum("e")).alias("chi2"),
        F.count_distinct("a").alias("ka"),
        F.count_distinct("b").alias("kb"),
        F.max("n").alias("n"),
    )
    return stat.select(
        F.round("chi2", 6).alias("chi2"),
        ((F.col("ka") - 1) * (F.col("kb") - 1)).cast("long").alias("dof"),
        "n",
    )


def welch_t_test(df: DataFrame, group_col: str, value_col: str,
                 group_a, group_b) -> DataFrame:
    """Two-sample Welch t-test (unequal variances) between two named
    groups: one row ``(group_a, group_b, n_a, n_b, mean_a, mean_b, t,
    df)``. The A/B-testing primitive a curation pipeline runs on every
    intervention ("did the new filter change mean doc quality?") —
    Welch's form because corpus segments almost never share variance.

    Sufficient statistics only (n, Σx, Σx² per group → sample means and
    Bessel-corrected variances) via ONE conditional global aggregation
    pass with map-side combine; df is Welch–Satterthwaite. Outputs
    rounded 6 dp; t is NULL when either group has n < 2 (variance
    undefined) — surfacing NULL beats a fake statistic. ALWAYS exactly
    one row out: a group absent after filtering yields n=0 and NULL
    stats rather than an empty frame (the conditional-aggregate form —
    a per-group groupBy followed by a crossJoin of the two sides would
    silently emit ZERO rows when a side is empty, which one-row-out
    consumers never detect).
    """
    from .util import complete_case

    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")
    v = F.col(value_col).cast("double")
    df = complete_case(df.filter(F.col(group_col).isin(group_a, group_b)),
                       [v])
    isa = F.col(group_col) == F.lit(group_a)
    agg = df.agg(
        F.coalesce(F.sum(F.when(isa, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("na"),
        F.sum(F.when(isa, v)).alias("sa"),
        F.sum(F.when(isa, v * v)).alias("ssa"),
        F.coalesce(F.sum(F.when(~isa, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("nb"),
        F.sum(F.when(~isa, v)).alias("sb"),
        F.sum(F.when(~isa, v * v)).alias("ssb"))

    def m(p):
        return F.col(f"s{p}") / F.col(f"n{p}")

    def var(p):  # Bessel-corrected sample variance
        n = F.col(f"n{p}")
        return F.when(n >= 2,
                      (F.col(f"ss{p}") - n * m(p) * m(p)) / (n - 1))

    va_n = var("a") / F.col("na")
    vb_n = var("b") / F.col("nb")
    se2 = va_n + vb_n
    t = (m("a") - m("b")) / F.sqrt(se2)
    dof = (se2 * se2) / (va_n * va_n / (F.col("na") - 1)
                         + vb_n * vb_n / (F.col("nb") - 1))
    return agg.select(
        F.lit(group_a).alias("group_a"), F.lit(group_b).alias("group_b"),
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"),
        F.round(m("a"), 6).alias("mean_a"),
        F.round(m("b"), 6).alias("mean_b"),
        F.round(t, 6).alias("t"),
        F.round(dof, 6).alias("df"))


def benford_report(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law: 9 rows
    ``(digit, n_obs, p_obs, p_benford, chi2_term)`` over the strictly
    positive values of ``value_col``. The standard forensic screen for
    fabricated or machine-generated numeric columns (synthetic data
    injected into a scraped corpus rarely Benford-distributes) — a data
    quality gate, not a proof.

    First digit extracted ARITHMETICALLY (``x / 10^floor(log10 x)``),
    never via string formatting (locale/scientific-notation traps);
    expected mass is ``log10(1 + 1/d)``. Observed counts are
    LEFT-JOINED onto the literal 1..9 digit domain (n_obs coalesced to
    0) so a digit with zero observations still contributes its full
    ``n·p_benford`` chi² mass — skipping absent digits would understate
    the statistic exactly when fabrication is most blatant (same
    zero-count-arm handling as ``srm_check``), and guarantees the
    documented 9-row shape on skewed inputs. One groupBy(digit) over a
    projection — scan-bound at any scale. 6 dp rounding.
    """
    x = F.col(value_col).cast("double")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x))))
    observed = (df.filter(x > 0)
                .select(digit.cast("int").alias("digit"))
                .groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs")))
    domain = (df.sparkSession.range(1, 10)
              .select(F.col("id").cast("int").alias("digit")))
    per = (domain.join(F.broadcast(observed), "digit", "left")
           .select("digit",
                   F.coalesce("n_obs", F.lit(0)).cast("long")
                   .alias("n_obs")))
    tot = per.agg(F.sum("n_obs").alias("n"))
    p_obs = F.col("n_obs") / F.col("n")
    p_ben = F.log10(F.lit(1.0) + 1.0 / F.col("digit"))
    return (per.crossJoin(F.broadcast(tot))
            .select("digit", "n_obs",
                    F.round(p_obs, 6).alias("p_obs"),
                    F.round(p_ben, 6).alias("p_benford"),
                    F.round(F.col("n") * (p_obs - p_ben) * (p_obs - p_ben)
                            / p_ben, 6).alias("chi2_term")))


def quantile_normalize(df: DataFrame, group_col: str, value_col: str,
                       id_col: str, round_dp: int = 6) -> DataFrame:
    """Map every group's value distribution onto the GLOBAL distribution
    — rank-based quantile normalization (the microarray-normalization
    classic, reused in corpus curation to make per-source quality scores
    comparable: source A's "0.8" and source B's "0.8" rarely mean the
    same thing, but their 90th percentiles do).

    Each row's within-group percent-rank ``pr = (rank−1)/(n_g−1)``
    (singleton groups pin to 0.5) is mapped to the fractional global
    position ``1 + pr·(N−1)`` and linearly interpolated between the
    global order statistics at ``floor``/``ceil`` — exactly the
    'linear' quantile convention, evaluated against the full global
    sort. Returns the input keys plus ``normalized``.

    Scale shape: the global order statistics come from
    ``packing.global_cumsum`` (two-phase distributed prefix sum — never
    a single-task global window); the two order-statistic lookups are
    EQUALITY joins on integer positions, not range joins. Within-group
    ranks are ordinary per-group windows. Ties order by ``id_col`` so
    every rank is deterministic cross-engine. NULL/NaN values are
    dropped (complete-case) BEFORE ranking — engines disagree on NULL
    sort position (Spark NULLS FIRST, most SQL NULLS LAST), so letting
    them through would silently shift every rank.
    """
    from .packing import global_cumsum
    from .util import complete_case

    v = F.col(value_col).cast("double")
    base = (complete_case(df, [v])
            .select(F.col(id_col).alias("id"),
                    F.col(group_col).alias("grp"), v.alias("val"))
            .withColumn("__one", F.lit(1))
            .withColumn("__ord", F.struct(F.col("val"), F.col("id"))))
    pos = (global_cumsum(base, "__ord", "__one", "__pos")
           .localCheckpoint(eager=False))
    n_total = pos.count()
    gw = Window.partitionBy("grp").orderBy("val", "id")
    ranked = (pos
              .withColumn("__rk", F.row_number().over(gw))
              .withColumn("__ng", F.count(F.lit(1)).over(
                  Window.partitionBy("grp"))))
    pr = F.when(F.col("__ng") > 1,
                (F.col("__rk") - 1) / (F.col("__ng") - 1)).otherwise(0.5)
    p = pr * F.lit(float(n_total - 1)) + 1.0
    ranked = (ranked.withColumn("__lo", F.floor(p).cast("long"))
              .withColumn("__hi", F.ceil(p).cast("long"))
              .withColumn("__frac", p - F.floor(p)))
    stats = pos.select(F.col("__pos").alias("__k"),
                       F.col("val").alias("__sv"))
    lo = stats.withColumnRenamed("__sv", "__vlo")
    hi = (stats.withColumnRenamed("__sv", "__vhi")
          .withColumnRenamed("__k", "__k2"))
    return (ranked
            .join(lo, ranked["__lo"] == lo["__k"])
            .join(hi, ranked["__hi"] == hi["__k2"])
            .select(F.col("id").alias(id_col), F.col("grp").alias(group_col),
                    F.col("val").alias(value_col),
                    F.round(F.col("__vlo") + F.col("__frac")
                            * (F.col("__vhi") - F.col("__vlo")),
                            round_dp).alias("normalized")))


def cuped_adjust(df: DataFrame, unit_col: str, metric_col: str,
                 covariate_col: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): regress the
    experiment metric on a pre-experiment covariate and analyze the
    residualized metric ``y' = y − θ(x − x̄)`` — the standard trick that
    cuts A/B variance by the covariate's R², i.e. weeks off experiment
    runtime, with zero bias when the covariate predates assignment.

    Returns the input keys plus ``theta`` (broadcast constant) and
    ``metric_adj``. θ = cov(x,y)/var(x) from ONE sufficient-statistics
    aggregation pass (the ``ols_by_group`` slope over the whole frame);
    the adjustment itself is a scan-stage projection. Rows with NULL/NaN
    metric or covariate are dropped (complete-case, shared contract).
    """
    from .util import complete_case

    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    base = complete_case(df, [y, x]).select(
        F.col(unit_col).alias("unit"), y.alias("y"), x.alias("x"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    theta = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    consts = stats.select(theta.alias("__theta"),
                          (F.col("sx") / F.col("n")).alias("__xbar"))
    return (base.crossJoin(F.broadcast(consts))
            .select(F.col("unit").alias(unit_col),
                    F.col("y").alias(metric_col),
                    F.col("x").alias(covariate_col),
                    F.round("__theta", 6).alias("theta"),
                    F.round(F.col("y") - F.col("__theta")
                            * (F.col("x") - F.col("__xbar")), 6)
                    .alias("metric_adj")))


def ratio_metric_ci(df: DataFrame, unit_col: str, num_col: str,
                    den_col: str, z: float = 1.96) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric (revenue per
    session, CTR per user): the unit of analysis is the randomization
    unit, so ``R = Σnum/Σden`` is a ratio of unit means and its variance
    needs the delta method — naively treating row-level ratios as iid
    understates variance whenever units contribute unequal denominators
    (the classic A/B mistake).

    One row out: ``(n_units, ratio, se, ci_lo, ci_hi)`` with
    ``Var(R̂) ≈ (s_y² − 2R·s_yd + R²·s_d²) / (n·d̄²)`` from one
    sufficient-statistics pass over per-unit sums (Bessel-corrected
    sample moments). NULL se when n < 2. 6 dp rounding.
    """
    per_unit = (df.groupBy(F.col(unit_col).alias("unit"))
                .agg(F.sum(F.col(num_col).cast("double")).alias("y"),
                     F.sum(F.col(den_col).cast("double")).alias("d")))
    s = per_unit.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"), F.sum("d").alias("sd"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("y") * F.col("d")).alias("syd"))
    n = F.col("n")
    ybar, dbar = F.col("sy") / n, F.col("sd") / n
    r = ybar / dbar
    s_yy = (F.col("syy") - n * ybar * ybar) / (n - 1)
    s_dd = (F.col("sdd") - n * dbar * dbar) / (n - 1)
    s_yd = (F.col("syd") - n * ybar * dbar) / (n - 1)
    var = (s_yy - 2.0 * r * s_yd + r * r * s_dd) / (n * dbar * dbar)
    se = F.when(n >= 2, F.sqrt(var))
    return s.select(
        n.alias("n_units"),
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(r - z * se, 6).alias("ci_lo"),
        F.round(r + z * se, 6).alias("ci_hi"))


def srm_check(df: DataFrame, group_col: str,
              expected: dict[str, float]) -> DataFrame:
    """Sample-ratio-mismatch check: chi-squared goodness-of-fit of the
    observed per-group unit counts against the DESIGNED assignment
    ratios — the first gate every experiment readout must pass (a
    traffic split that isn't the designed split invalidates the whole
    analysis long before any metric is read; SRM is the most common
    silent A/B corruption). One row per group ``(group, n_obs,
    expected_frac, n_expected, chi2_term)`` — groups outside
    ``expected`` raise (an unknown arm IS a mismatch), designed arms
    with zero observed rows still contribute their full expected mass.

    One groupBy(group) count + a broadcast of the (tiny) design table;
    exact integer counts, 6 dp on the derived columns.
    """
    tot = sum(expected.values())
    design = [(k, float(v) / tot) for k, v in sorted(expected.items())]
    spark = df.sparkSession
    d = F.broadcast(local_frame(
        spark, design, "grp string, expected_frac double"))
    obs = (df.select(F.col(group_col).cast("string").alias("grp"))
           .groupBy("grp").agg(F.count(F.lit(1)).alias("n_obs")))
    unknown = obs.join(d, "grp", "left_anti").collect()
    if unknown:
        raise ValueError(
            "srm_check: observed group(s) not in the design: "
            + ", ".join(sorted(r["grp"] for r in unknown)))
    n = obs.agg(F.sum("n_obs")).first()[0] or 0
    full = (d.join(obs, "grp", "left")
            .withColumn("n_obs", F.coalesce("n_obs", F.lit(0))))
    exp = F.col("expected_frac") * F.lit(float(n))
    return full.select(
        F.col("grp").alias("grp"), "n_obs",
        F.round("expected_frac", 6).alias("expected_frac"),
        F.round(exp, 6).alias("n_expected"),
        F.round((F.col("n_obs") - exp) * (F.col("n_obs") - exp) / exp,
                6).alias("chi2_term"))


def did_estimate(df: DataFrame, group_col: str, period_col: str,
                 value_col: str, treat, control, pre, post,
                 z: float = 1.96) -> DataFrame:
    """Difference-in-differences: ``(ȳ_treat,post − ȳ_treat,pre) −
    (ȳ_control,post − ȳ_control,pre)`` with a large-sample SE from the
    four cell variances — the quasi-experimental workhorse when
    randomization wasn't available (a filter rolled out to one corpus
    segment, a policy applied to one source): the control trend
    differences out shared shocks, leaving the treatment effect under
    the parallel-trends assumption (stated, not tested here).

    One row: ``(n_tpre, n_tpost, n_cpre, n_cpost, did, se, ci_lo,
    ci_hi)``. ONE aggregation pass building all four cells' sufficient
    statistics (conditional sums — no second scan, no join); SE =
    sqrt(Σ s²_cell/n_cell) by independence of the four cells. NULL se
    when any cell has n < 2. 6 dp rounding.
    """
    from .util import complete_case

    v = F.col(value_col).cast("double")
    df = complete_case(
        df.filter(F.col(group_col).isin(treat, control)
                  & F.col(period_col).isin(pre, post)), [v])
    cells = {"tpre": (treat, pre), "tpost": (treat, post),
             "cpre": (control, pre), "cpost": (control, post)}
    aggs = []
    for tag, (g, p) in cells.items():
        cond = (F.col(group_col) == g) & (F.col(period_col) == p)
        aggs += [F.count(F.when(cond, 1)).alias(f"n_{tag}"),
                 F.sum(F.when(cond, v)).alias(f"s_{tag}"),
                 F.sum(F.when(cond, v * v)).alias(f"ss_{tag}")]
    s = df.agg(*aggs)

    def m(tag):
        return F.col(f"s_{tag}") / F.col(f"n_{tag}")

    def var_n(tag):  # Bessel-corrected cell variance over cell n
        n = F.col(f"n_{tag}")
        return F.when(n >= 2, (F.col(f"ss_{tag}") - n * m(tag) * m(tag))
                      / (n - 1) / n)

    did = (m("tpost") - m("tpre")) - (m("cpost") - m("cpre"))
    se = F.sqrt(var_n("tpost") + var_n("tpre")
                + var_n("cpost") + var_n("cpre"))
    return s.select(
        "n_tpre", "n_tpost", "n_cpre", "n_cpost",
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(did - z * se, 6).alias("ci_lo"),
        F.round(did + z * se, 6).alias("ci_hi"))


def km_survival(df: DataFrame, duration_col: str,
                event_col: str) -> DataFrame:
    """Kaplan–Meier survival estimator over right-censored durations:
    one row per EVENT time ``(t, n_risk, n_events, n_censored,
    log_surv_micronats)`` — retention/churn analysis done correctly
    (dropping censored subjects, the naive mistake, biases survival
    down; KM keeps them at risk until their censoring time).

    ``event_col``: 1 = event observed at ``duration_col``, 0 = censored
    there. The survival curve is carried as an EXACT INTEGER:
    ``log_surv_micronats = Σ_{u≤t} round(ln(1 − d_u/n_u)·1e6)`` — each
    factor quantized at source (the ``unigram_vocab`` micro-nat recipe),
    so the running product accumulates as an int64 sum with no FP
    drift; ``S(t) = exp(micronats/1e6)`` is the caller's one derived
    float. A time where every subject at risk dies (d = n) emits NULL
    log-survival (S hits exactly 0; ln is undefined).

    Plan: one groupBy(duration) for (d, c) counts, a suffix-cumsum
    window over the DISTINCT duration table for n_risk (time-domain
    cardinality, not subject cardinality — tiny by construction), one
    running-sum window. Subject-cardinality work is the single groupBy.
    """
    d = F.col(duration_col).cast("long")
    e = F.col(event_col).cast("int")
    per_t = (df.select(d.alias("t"), e.alias("e"))
             .groupBy("t")
             .agg(F.sum("e").alias("d"),
                  F.sum(F.lit(1) - F.col("e")).alias("c"),
                  F.count(F.lit(1)).alias("n_at")))
    w_risk = (Window.orderBy(F.col("t").desc())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = per_t.withColumn("n_risk", F.sum("n_at").over(w_risk))
    factor = F.when(
        F.col("d") < F.col("n_risk"),
        F.round(F.log(F.lit(1.0) - F.col("d") / F.col("n_risk"))
                * F.lit(1e6)).cast("long"))
    w_cum = (Window.orderBy(F.col("t").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    curve = (risk.withColumn("__f", factor)
             .withColumn(
                 "log_surv_micronats",
                 F.when(F.min(F.col("__f").isNotNull().cast("int"))
                        .over(w_cum) == 1,
                        F.sum("__f").over(w_cum))))
    return (curve.where(F.col("d") > 0)
            .select("t",
                    F.col("n_risk").cast("long").alias("n_risk"),
                    F.col("d").cast("long").alias("n_events"),
                    F.col("c").cast("long").alias("n_censored"),
                    "log_surv_micronats"))


def two_proportion_test(df: DataFrame, group_col: str, success_col,
                        group_a, group_b, z: float = 1.96) -> DataFrame:
    """Two-proportion z-test for conversion-style metrics: one row
    ``(group_a, group_b, n_a, n_b, p_a, p_b, diff, se_pooled, z_stat,
    ci_lo, ci_hi)``. ``success_col`` is a 0/1 column (or boolean —
    cast). The z statistic uses the POOLED standard error (the null-
    hypothesis convention); the CI around the difference uses the
    UNPOOLED one (the estimation convention) — mixing them up is the
    classic spreadsheet bug. One conditional global aggregation pass;
    exact integer counts; 6 dp rounding. ALWAYS exactly one row out:
    an absent group yields n=0 and NULL z/CI instead of the empty
    frame a groupBy-then-crossJoin would produce (same contract as
    ``welch_t_test``).
    """
    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")
    s = F.col(success_col).cast("int")
    base = df.filter(F.col(group_col).isin(group_a, group_b))
    isa = F.col(group_col) == F.lit(group_a)
    agg = base.agg(
        F.coalesce(F.sum(F.when(isa, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("na"),
        F.sum(F.when(isa, s)).alias("ka"),
        F.coalesce(F.sum(F.when(~isa, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("nb"),
        F.sum(F.when(~isa, s)).alias("kb"))
    na, nb = F.col("na"), F.col("nb")
    pa, pb = F.col("ka") / na, F.col("kb") / nb
    pp = (F.col("ka") + F.col("kb")) / (na + nb)
    se_pool = F.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    se_unpool = F.sqrt(pa * (1.0 - pa) / na + pb * (1.0 - pb) / nb)
    diff = pa - pb
    return agg.select(
        F.lit(group_a).alias("group_a"), F.lit(group_b).alias("group_b"),
        na.alias("n_a"), nb.alias("n_b"),
        F.round(pa, 6).alias("p_a"), F.round(pb, 6).alias("p_b"),
        F.round(diff, 6).alias("diff"),
        F.round(se_pool, 6).alias("se_pooled"),
        F.round(diff / se_pool, 6).alias("z_stat"),
        F.round(diff - z * se_unpool, 6).alias("ci_lo"),
        F.round(diff + z * se_unpool, 6).alias("ci_hi"))


def log_rank_test(df: DataFrame, duration_col: str, event_col: str,
                  group_col: str, group_a, group_b) -> DataFrame:
    """Log-rank test: do two right-censored survival curves differ?
    The hypothesis-test companion to ``km_survival`` (eyeballing two KM
    curves is not a test). At each event time ``t``: observed group-A
    events ``d_A,t`` vs expected ``E_A,t = d_t·n_A,t/n_t`` under the
    null, with hypergeometric variance ``V_t = d_t·(n_A/n)·(1−n_A/n)·
    (n−d)/(n−1)``; the statistic ``(Σ(O−E))²/ΣV`` is χ²(1). One row:
    ``(n_a, n_b, events_a, events_b, o_minus_e, var_sum, chi2)``.

    All terms are rational functions of exact integer counts — both
    engines compute the same doubles from the same int64s, the
    sufficient-statistics contract. Plan: one groupBy(duration) with
    conditional counts, suffix-cumsum windows over the DISTINCT
    duration table (time-domain cardinality), one final aggregate.
    Times where ``n_t = 1`` contribute zero variance by convention
    (the (n−d)/(n−1) guard).
    """
    base = df.filter(F.col(group_col).isin(group_a, group_b))
    d = F.col(duration_col).cast("long")
    e = F.col(event_col).cast("int")
    isa = (F.col(group_col) == group_a).cast("int")
    per = (base.select(d.alias("t"), e.alias("e"), isa.alias("a"))
           .groupBy("t")
           .agg(F.count(F.lit(1)).alias("n_at"),
                F.sum("a").alias("na_at"),
                F.sum("e").alias("d_t"),
                F.sum(F.col("e") * F.col("a")).alias("da_t")))
    w = (Window.orderBy(F.col("t").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = (per.withColumn("n", F.sum("n_at").over(w))
            .withColumn("n1", F.sum("na_at").over(w)))
    ev = risk.where(F.col("d_t") > 0)
    frac = F.col("n1") / F.col("n")
    e1 = F.col("d_t") * frac
    v = F.when(F.col("n") > 1,
               F.col("d_t") * frac * (1.0 - frac)
               * (F.col("n") - F.col("d_t")) / (F.col("n") - 1)) \
        .otherwise(F.lit(0.0))
    stats = ev.agg(F.sum(F.col("da_t") - e1).alias("__ome"),
                   F.sum(v).alias("__v"),
                   F.sum("da_t").alias("events_a"),
                   F.sum(F.col("d_t") - F.col("da_t")).alias("events_b"))
    counts = base.agg(
        F.sum(isa).alias("n_a"),
        F.sum(F.lit(1) - isa).alias("n_b"))
    return (counts.crossJoin(stats)
            .select(F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.col("events_a").cast("long").alias("events_a"),
                    F.col("events_b").cast("long").alias("events_b"),
                    F.round("__ome", 6).alias("o_minus_e"),
                    F.round("__v", 6).alias("var_sum"),
                    F.round(F.col("__ome") * F.col("__ome")
                            / F.col("__v"), 6).alias("chi2")))


def conformal_ols_intervals(df: DataFrame, id_col: str, x_col: str,
                            y_col: str, alpha: float = 0.1,
                            salt: str = "cp") -> DataFrame:
    """Split-conformal prediction intervals around a simple OLS fit:
    distribution-free, finite-sample-valid uncertainty — the guarantee
    is ``P(y ∈ ŷ ± q̂) ≥ 1−α`` for ANY data distribution, needing only
    exchangeability (Vovk; Lei et al. 2018). The modern answer to "how
    wide should the error bars on this learned scorer be".

    Three deterministic md5-hash splits (first hex digit: 0–7 train,
    8–b calibrate, c–f test). Fit on train (sufficient-statistics
    closed form), ``q̂`` = the ⌈(n_cal+1)(1−α)⌉-th smallest calibration
    absolute residual (the exact order statistic, computed by
    ``quantiles.exact_kth_smallest`` bounded-memory selection — never a
    global sort or single-task window; the k-th smallest VALUE is
    tie-break independent), coverage measured on the held-out test
    split. One
    row: ``(n_train, n_cal, n_test, slope, intercept, q_hat,
    n_covered, coverage)`` — coverage ≥ 1−α up to finite-sample noise
    is the structural check.
    """
    import math

    from .util import complete_case

    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = complete_case(df, [x, y]).select(
        F.col(id_col).cast("string").alias("id"),
        x.alias("x"), y.alias("y"))
    h = F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col("id"))), 1, 1)
    # NOTHING corpus-sized is cached (r11 rework, measured at sf10's
    # 45M rows): the old plan localCheckpointed the full (id, x, y,
    # split) frame (~5 GB of deserialized rows — 43-150 s GC-variance
    # band) and re-derived the fit per consumer through a broadcast
    # cross-join. Now the fit is ONE aggregation collected to the
    # driver, residuals are literal expressions, and the only cached
    # frame is the single-double-column calibration residual (columnar
    # persist — ~90 MB at 11M rows). Three parquet passes total
    # (fit, cal, test) plus the selection's passes over the 90 MB.
    base = base.withColumn(
        "__split",
        F.when(h < "8", "train").when(h < "c", "cal").otherwise("test"))

    frow = base.filter(F.col("__split") == "train").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy")).first()
    n_train = frow["n"]
    if not n_train:
        raise ValueError("conformal_ols_intervals: train split is empty")
    # driver floats re-injected as literals: bit-identical to the old
    # broadcast-consts column arithmetic (same float64 ops, same order)
    b_hat = ((n_train * frow["sxy"] - frow["sx"] * frow["sy"])
             / (n_train * frow["sxx"] - frow["sx"] * frow["sx"]))
    a_hat = frow["sy"] / n_train - b_hat * frow["sx"] / n_train
    resid = F.abs(F.col("y") - (F.lit(a_hat) + F.lit(b_hat) * F.col("x")))

    cal_r = (base.filter(F.col("__split") == "cal")
             .select(resid.alias("__r")).persist())
    n_cal = cal_r.count()
    k = math.ceil((n_cal + 1) * (1.0 - alpha))
    if k > n_cal:
        raise ValueError(
            f"alpha={alpha} needs more calibration rows ({n_cal}) — "
            "the conformal quantile is off the end of the sample")
    # q̂ is the k-th smallest calibration residual — a SELECTION, not a
    # ranking: the k-th order-statistic VALUE is tie-break-independent,
    # so bounded-memory bucket-refinement selection replaces the old
    # global_cumsum rank (range-repartition + window + another
    # corpus-sized localCheckpoint). The SQL twin's ORDER BY (r, id)
    # OFFSET k-1 yields the same value.
    from .quantiles import exact_kth_smallest
    qhat = exact_kth_smallest(cal_r, "__r", k)
    # qhat is a collected driver float — cal_r is fully consumed, so
    # releasing the cache here is free and keeps long-lived sessions
    # from accumulating ~90 MB per call (r11 ADVICE)
    cal_r.unpersist()

    test = base.filter(F.col("__split") == "test").withColumn("__r", resid)
    return (test
            .agg(F.lit(n_train).cast("long").alias("n_train"),
                 F.lit(n_cal).alias("n_cal"),
                 F.count(F.lit(1)).alias("n_test"),
                 F.round(F.lit(b_hat), 6).alias("slope"),
                 F.round(F.lit(a_hat), 6).alias("intercept"),
                 F.round(F.lit(qhat), 6).alias("q_hat"),
                 F.sum(F.when(F.col("__r") <= F.lit(qhat), 1)
                       .otherwise(0)).alias("n_covered"))
            .withColumn("coverage",
                        F.round(F.col("n_covered") / F.col("n_test"), 6)))


#: Poisson(1) CDF at k = 0..5, exact float64 literals shared with the
#: SQL twin (e^-1 · Σ 1/i!). k = 6 is the pinned-1.0 clamp endpoint —
#: a tail draw clamps the weight, never drops the row (the
#: dp_noisy_counts lattice lesson); P(K > 6) < 1e-4 so the clamp is
#: statistically invisible at any practical B.
_POIS1_CDF = (0.36787944117144233, 0.7357588823428847,
              0.9196986029286058, 0.9810118431238462,
              0.9963401531726562, 0.9994058151824182)


def bootstrap_mean_ci(df: DataFrame, id_col: str, value_col: str,
                      n_resamples: int = 200, alpha: float = 0.05,
                      salt: str = "boot",
                      round_dp: int = 6) -> DataFrame:
    """Percentile-bootstrap confidence interval for the mean — the
    NONPARAMETRIC interval the experimentation layer's closed-form
    tests (welch/ratio-CI) can't give for skewed metrics (revenue,
    latency, tokens/doc). One row out:
    ``(n, mean, ci_lo, ci_hi, n_resamples)``.

    Complete-case like every sibling estimator: NULL/NaN values leave
    the frame BEFORE the fan-out and BEFORE ``n``/``mean`` are taken,
    so resample denominators (Σw), ``n`` and ``mean`` all describe the
    same row set — a NULL row must not carry Poisson weight into Σw
    while contributing nothing to Σw·x.

    POISSON BOOTSTRAP (the distributed classic — resampling n-out-of-n
    WITH replacement needs a global multinomial, but each row's count
    in a resample is asymptotically Poisson(1) and independent across
    rows): row i's weight in resample b is an inverse-CDF Poisson(1)
    draw from ``u = md5(salt:b:id)`` — deterministic, engine-portable,
    append-stable (the ``dp_noisy_counts`` / ``sample_by_hash``
    recipe). The weight ladder compares identical doubles against
    shared float64 CDF literals, so both engines produce IDENTICAL
    integer weights; ``u`` beyond CDF(5) clamps to weight 6 (never
    drops). Resample means round to ``round_dp`` before ranking so
    Σ-association noise can't flip an order statistic.

    CI: the ``ceil(B·α/2)``-th / ``ceil(B·(1−α/2))``-th smallest of
    the B rounded resample means (order statistics — no interpolation
    convention to disagree on).

    Scale shape: ONE pass — each row fans out to B ``(b, w·x, w)``
    partials that combine map-side, so the shuffle is B × #partitions
    rows regardless of data size; the rank step is a window over B
    rows (B ≲ 10³ — driver-trivial). Cost is B× the scan's map work:
    pick B by budget (200 gives ±~5% CI-endpoint Monte-Carlo noise).
    DETERMINISM CAVEAT (same class as dp_noisy_counts, stated loudly):
    hash-seeded draws make the interval reproducible and testable; an
    inferential release should still prefer a fresh salt per analysis
    so repeated looks don't reuse one fixed resampling.
    """
    if n_resamples < 2:
        raise ValueError("n_resamples must be >= 2")
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    import math

    from .util import complete_case

    v = F.col("x")
    base = complete_case(
        df.select(F.col(id_col).cast("string").alias("id"),
                  F.col(value_col).cast("double").alias("x")), ["x"])
    fan = base.select(
        "id", "x",
        F.explode(F.sequence(F.lit(0),
                             F.lit(n_resamples - 1))).alias("b"))
    key = F.md5(F.concat_ws(":", F.lit(salt),
                            F.col("b").cast("string"), F.col("id")))
    u = ((F.conv(F.substring(key, 1, 13), 16, 10).cast("double") + 0.5)
         / F.lit(float(16 ** 13)))
    w = F.lit(6)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    per_b = (fan.withColumn("w", w.cast("double"))
             .groupBy("b")
             .agg(F.sum(F.col("w") * v).alias("s"),
                  F.sum("w").alias("n_w"))
             .where(F.col("n_w") > 0)
             .select("b", F.round(F.col("s") / F.col("n_w"),
                                  round_dp).alias("m")))
    ranked = per_b.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("m").asc(),
                                                F.col("b").asc())))
    r_lo = int(math.ceil(n_resamples * alpha / 2.0))
    r_hi = int(math.ceil(n_resamples * (1.0 - alpha / 2.0)))
    picks = (ranked.where(F.col("r").isin(r_lo, r_hi))
             .groupBy()
             .agg(F.min(F.when(F.col("r") == r_lo, F.col("m")))
                  .alias("ci_lo"),
                  F.min(F.when(F.col("r") == r_hi, F.col("m")))
                  .alias("ci_hi")))
    stats = base.agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.avg("x"), round_dp).alias("mean"))
    return (stats.crossJoin(F.broadcast(picks))
            .select("n", "mean", "ci_lo", "ci_hi",
                    F.lit(n_resamples).alias("n_resamples")))


def sprt_bernoulli(df: DataFrame, order_col, success_col,
                   p0: float, p1: float,
                   alpha: float = 0.05, beta: float = 0.2,
                   round_dp: int = 6) -> DataFrame:
    """Wald's Sequential Probability Ratio Test for a Bernoulli rate —
    the SEQUENTIAL decision the fixed-n tests (welch / two-proportion)
    can't give: observations arrive in ``order_col`` order and the test
    stops at the FIRST crossing of the log-likelihood-ratio boundaries,
    with guaranteed error rates (α, β) at any stopping time. One row:
    ``(decision, n_decision, k_decision, llr_decision, n_total,
    k_total, llr_final)`` — decision ∈ {'accept_h1', 'accept_h0',
    'continue'}; the *_decision fields are NULL when no boundary was
    crossed.

    EXACT cross-engine arithmetic by construction: after the prefix
    counts ``(n, k)`` (integers, via the two-phase distributed prefix
    sum — never a single-task window), the LLR is
    ``k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0))`` — two multiplications
    and one addition on shared float64 constants, NOT a running float
    sum, so both engines compute bit-identical LLRs at every n and the
    first-crossing index cannot flap. Boundaries are Wald's
    ``A = ln((1−β)/α)``, ``B = ln(β/(1−α))``.

    Ties in ``order_col`` must be broken by a unique column (pass an
    expression/struct) — same contract as ``global_cumsum``.
    """
    import math

    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0 and p0 != p1):
        raise ValueError("need 0 < p0, p1 < 1 and p0 != p1")
    if not (0.0 < alpha < 1.0 and 0.0 < beta < 1.0):
        raise ValueError("alpha/beta must be in (0, 1)")
    from .packing import global_cumsum

    c1 = math.log(p1 / p0)
    c0 = math.log((1.0 - p1) / (1.0 - p0))
    up = math.log((1.0 - beta) / alpha)
    lo = math.log(beta / (1.0 - alpha))

    base = df.select(F.col(order_col).alias("__o") if isinstance(
        order_col, str) else order_col.alias("__o"),
        F.col(success_col).cast("int").alias("__s"))
    base = base.withColumn("__one", F.lit(1))
    d = global_cumsum(base, "__o", "__s", "k")
    d = global_cumsum(d, "__o", "__one", "n")
    llr = (F.col("k").cast("double") * F.lit(c1)
           + (F.col("n") - F.col("k")).cast("double") * F.lit(c0))
    d = d.select("n", "k", llr.alias("llr"))
    crossings = d.where((F.col("llr") >= F.lit(up))
                        | (F.col("llr") <= F.lit(lo)))
    # global aggs, NOT orderBy/limit: an agg without groupBy always
    # yields one row (NULLs when its input is empty), so the one-row
    # contract holds even on EMPTY input (the welch_t_test /
    # two_proportion_test lesson — empty frames are invisible to
    # one-row consumers). n is unique, so min_by/max_by on n are
    # deterministic and equal the old first/last-row picks.
    first = crossings.agg(
        F.min("n").alias("n_decision"),
        F.min_by("k", "n").alias("k_decision"),
        F.min_by("llr", "n").alias("__llr_d"))
    total = d.agg(
        F.max("n").alias("n_total"),
        F.max_by("k", "n").alias("k_total"),
        F.max_by("llr", "n").alias("__llr_f"))
    return (total.join(F.broadcast(first), F.lit(True), "left")
            .select(F.when(F.col("__llr_d") >= F.lit(up),
                           F.lit("accept_h1"))
                    .when(F.col("__llr_d").isNotNull(),
                          F.lit("accept_h0"))
                    .otherwise(F.lit("continue")).alias("decision"),
                    "n_decision", "k_decision",
                    F.round("__llr_d", round_dp).alias("llr_decision"),
                    F.coalesce(F.col("n_total"),
                               F.lit(0).cast("long")).alias("n_total"),
                    F.coalesce(F.col("k_total"),
                               F.lit(0).cast("long")).alias("k_total"),
                    F.round("__llr_f", round_dp).alias("llr_final")))


def loo_group_influence(df: DataFrame, group_col: str, value_col: str,
                        round_dp: int = 6) -> DataFrame:
    """Leave-one-group-out influence — data-valuation lite: for each
    group (source, shard, annotator), how much does REMOVING it move
    the corpus mean? ``influence = mean(without g) − mean(all)``: a
    positive value says the group is dragging the metric DOWN (the
    corpus improves without it) — the first-pass answer to "which
    source should curation look at?" before anything as heavy as
    Shapley over sources (``shapley_attribution`` is the exact
    coalition version for ≤ ~15 players; this is the O(groups)
    screen).

    Pure sufficient statistics: one groupBy pass collects per-group
    ``(n_g, S_g)``; the global totals are the SUMS of that
    group-cardinality table (tiny — re-aggregated exactly, no second
    corpus scan), and each group's row is
    ``(S − S_g)/(N − n_g) − S/N`` — rational in the per-group sums.
    Returns ``(<group_col>, n, group_mean, influence)``; a group that
    IS the whole corpus yields NULL influence (nothing left without
    it). NULL values are dropped (complete-case), NULL group keys form
    their own group (they are real rows a curation decision covers).
    """
    v = F.col(value_col).cast("double")
    per = (df.where(v.isNotNull() & ~F.isnan(v))
           .groupBy(F.col(group_col).alias("g"))
           .agg(F.count(F.lit(1)).alias("n"), F.sum(v).alias("s"))
           .localCheckpoint(eager=False))   # feeds totals + output
    # totals get distinct names: Spark resolves identifiers
    # case-insensitively by default, so "N" would collide with "n"
    tot = per.agg(F.sum("n").alias("tot_n"), F.sum("s").alias("tot_s"))
    rest_n = F.col("tot_n") - F.col("n")
    influence = F.when(
        rest_n > 0,
        (F.col("tot_s") - F.col("s")) / rest_n
        - F.col("tot_s") / F.col("tot_n"))
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col("g").alias(group_col),
                    F.col("n").cast("long").alias("n"),
                    F.round(F.col("s") / F.col("n"), round_dp)
                    .alias("group_mean"),
                    F.round(influence, round_dp).alias("influence")))


def msprt_mean(df: DataFrame, order_col, value_col,
               theta0: float, sigma: float, tau: float,
               alpha: float = 0.05, quantize_scale: int = 100,
               round_dp: int = 6) -> DataFrame:
    """Mixture SPRT (mSPRT) for a mean — the ALWAYS-VALID companion to
    ``sprt_bernoulli``: the mixture likelihood ratio of H0: μ = θ0
    against a N(θ0, τ²) prior over alternatives gives a p-value that is
    valid at EVERY look (Robbins; the 'anytime-valid' machinery modern
    experimentation platforms run), so peeking never inflates error.
    One row out: ``(n_total, log_lambda_max, p_always_valid,
    n_first_reject, decision)`` — ``p = min(1, exp(−max_n log Λ_n))``,
    ``n_first_reject`` the first n with ``Λ_n ≥ 1/α`` (NULL + decision
    'continue' if never).

    ``log Λ_n = ½·ln(σ²/(σ²+nτ²)) + (x̄_n−θ0)²·n²τ² /
    (2σ²(σ²+nτ²))`` — evaluated from the exact INTEGER prefix sum of
    values quantized at ``quantize_scale`` (``D_n = S_n − n·θ0_q``,
    int64, via the two-phase distributed prefix sum), so every per-n
    log Λ is the same few float ops on the same exact integers in both
    engines and the argmax/crossing indexes cannot flap (the
    ``sprt_bernoulli`` exactness contract, extended to a continuous
    metric by quantization — ``kmeans_fit_int``'s recipe). σ is a
    caller-supplied population scale (the mSPRT convention; estimate
    it on pre-experiment data).

    Monetary default ``quantize_scale=100`` (cents-exact). Int64
    bound: |S_n| < 2^63 holds to ~10^11 rows of 10^7-cent values.
    """
    import math

    if sigma <= 0 or tau <= 0:
        raise ValueError("sigma and tau must be positive")
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    from .packing import global_cumsum

    s2 = float(sigma) * float(sigma)
    t2 = float(tau) * float(tau)
    theta_q = float(theta0) * quantize_scale
    base = df.select(
        (F.col(order_col) if isinstance(order_col, str)
         else order_col).alias("__o"),
        F.round(F.col(value_col).cast("double") * quantize_scale)
        .cast("long").alias("__v"))
    base = base.withColumn("__one", F.lit(1))
    d = global_cumsum(base, "__o", "__v", "s")
    d = global_cumsum(d, "__o", "__one", "n")
    nd = F.col("n").cast("double")
    diff = (F.col("s").cast("double") - nd * F.lit(theta_q)) \
        / F.lit(float(quantize_scale))
    denom = F.lit(s2) + nd * F.lit(t2)
    log_l = (F.lit(0.5) * F.log(F.lit(s2) / denom)
             + diff * diff * F.lit(t2) / (F.lit(2.0 * s2) * denom))
    d = d.select("n", log_l.alias("ll")).localCheckpoint(eager=False)
    thresh = math.log(1.0 / alpha)
    first = (d.where(F.col("ll") >= F.lit(thresh))
             .agg(F.min("n").alias("n_first_reject")))
    summary = d.agg(F.max("n").alias("n_total"),
                    F.max("ll").alias("__llmax"))
    return (summary.join(F.broadcast(first))
            .select(F.coalesce(F.col("n_total"),
                               F.lit(0).cast("long")).alias("n_total"),
                    F.round("__llmax", round_dp).alias("log_lambda_max"),
                    F.round(F.least(F.lit(1.0),
                                    F.exp(-F.col("__llmax"))),
                            round_dp).alias("p_always_valid"),
                    "n_first_reject",
                    F.when(F.col("n_first_reject").isNotNull(),
                           F.lit("reject_h0"))
                    .otherwise(F.lit("continue")).alias("decision")))


def mann_whitney_u(df: DataFrame, group_col: str, value_col: str,
                   group_a, group_b, round_dp: int = 6) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test — the standard
    NONPARAMETRIC two-sample test beside ``welch_t_test``: does one
    group stochastically dominate the other, with no normality
    assumption (the right tool for skewed corpus metrics where the
    t-test's mean is the wrong summary and the bootstrap is the
    heavier hammer). One row: ``(group_a, group_b, n_a, n_b, u_a, z)``
    with the normal approximation's tie-corrected z (NULL when either
    group is empty or every value ties).

    EXACT integer arithmetic end to end: per distinct value, the
    group counts and the exclusive prefix count give DOUBLED average
    ranks ``2·rank = 2·cum_before + cnt + 1`` (always integer — no
    half-rank floats), and the doubled rank sum / tie terms accumulate
    in DECIMAL(38,0) (Σ na·rank2 ≤ 2N² and Σ t³ ≤ N³ overflow int64
    around 10⁹ rows — the spearman r10 sf1 lesson applied ahead of the
    crash; DuckDB's HUGEINT sums on the twin side are the same 128-bit
    exactness); z is then a few float ops on exact integers (identical
    cross-engine — the ``sprt_bernoulli`` contract). Tie correction:
    ``σ² = n_a·n_b/12·[(N+1) − Σ(t³−t)/(N(N−1))]``. Plan: one
    (value)-grouped conditional count, one distributed prefix sum over
    the DISTINCT-value table, one final aggregate. One row out always
    (the ``welch_t_test`` one-row contract).
    """
    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")
    from .packing import global_cumsum
    from .util import complete_case

    v = F.col(value_col).cast("double")
    base = complete_case(
        df.filter(F.col(group_col).isin(group_a, group_b)), [v])
    isa = F.col(group_col) == F.lit(group_a)
    per_v = (base.groupBy(v.alias("v"))
             .agg(F.sum(F.when(isa, 1).otherwise(0)).cast("long")
                  .alias("na"),
                  F.sum(F.when(~isa, 1).otherwise(0)).cast("long")
                  .alias("nb")))
    per_v = per_v.withColumn("cnt", F.col("na") + F.col("nb"))
    per_v = global_cumsum(per_v, "v", "cnt", "cum")
    dec = "decimal(38,0)"
    rank2 = (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1) \
        .cast(dec)
    cntd = F.col("cnt").cast(dec)
    t3t = cntd * cntd * cntd - cntd
    agg = per_v.agg(
        F.coalesce(F.sum("na"), F.lit(0)).alias("n_a"),
        F.coalesce(F.sum("nb"), F.lit(0)).alias("n_b"),
        F.coalesce(F.sum(F.col("na").cast(dec) * rank2),
                   F.lit(0).cast(dec)).alias("r2a"),
        F.coalesce(F.sum(t3t), F.lit(0).cast(dec)).alias("ties"))
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    # doubled U: U2 = 2·U_a = R2_a − ... (R2 already doubled ranks);
    # products of counts via double/decimal operands — an int64
    # PRODUCT like na·(na+1) overflows before any cast at ~3e9 rows
    u2 = F.col("r2a") - na.cast(dec) * (na + 1).cast(dec)
    mu2 = na.cast(dec) * nb.cast(dec)  # doubled mean = 2·(na·nb/2)
    var = na.cast("double") * nb.cast("double") / 12.0 \
        * ((n + 1).cast("double")
           - F.col("ties").cast("double")
           / (n.cast("double") * (n - 1).cast("double")))
    z = F.when((na > 0) & (nb > 0) & (var > 0),
               (u2 - mu2).cast("double") / (2.0 * F.sqrt(var)))
    return agg.select(
        F.lit(group_a).alias("group_a"), F.lit(group_b).alias("group_b"),
        na.alias("n_a"), nb.alias("n_b"),
        F.when((na > 0) & (nb > 0), u2.cast("double") / 2.0)
        .alias("u_a"),
        F.round(z, round_dp).alias("z"))


def kruskal_wallis(df: DataFrame, group_col: str,
                   value_col: str, round_dp: int = 6) -> DataFrame:
    """Kruskal–Wallis H test — the k-group extension of
    ``mann_whitney_u`` (one-way ANOVA on ranks): do ANY of the groups'
    value distributions differ, with no normality assumption? One row:
    ``(n_groups, n, h, dof)`` — ``h`` is tie-corrected and ~χ²(k−1)
    under the null; NULL when fewer than 2 groups or every value ties.

    Same exact-rank machinery as ``mann_whitney_u``: doubled average
    ranks are integers, per-group doubled rank sums and tie terms
    accumulate in DECIMAL(38,0) (int64 headroom ends near 10⁹ rows —
    the spearman r10 sf1 lesson; DuckDB HUGEINT matches), and
    ``H = [12/(N(N+1))·Σ R_g²/n_g − 3(N+1)] / (1 − Σ(t³−t)/(N³−N))``
    is a few float ops on exact integers (deterministic cross-engine;
    the Σ over ≤|groups| rows carries only ulp-level association noise
    against H's 6dp rounding). Plan: one (group, value) count, one
    value-level rollup + distributed prefix sum for ranks, one join
    back, two tiny aggregates. NULL groups/values are dropped
    (complete-case).
    """
    from .packing import global_cumsum
    from .util import complete_case

    v = F.col(value_col).cast("double")
    base = complete_case(
        df.filter(F.col(group_col).isNotNull()), [v])
    per_gv = (base.groupBy(F.col(group_col).alias("g"), v.alias("v"))
              .agg(F.count(F.lit(1)).alias("ng"))
              .localCheckpoint(eager=False))  # feeds ranks + join back
    per_v = per_gv.groupBy("v").agg(F.sum("ng").alias("cnt"))
    per_v = global_cumsum(per_v, "v", "cnt", "cum")
    dec = "decimal(38,0)"
    rank2 = ((2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1)
             .cast(dec).alias("rank2"))
    cntd = F.col("cnt").cast(dec)
    t3t = cntd * cntd * cntd - cntd
    ranks = per_v.select("v", rank2,
                         t3t.alias("t3t")).localCheckpoint(eager=False)
    per_g = (per_gv.join(ranks, "v")
             .groupBy("g")
             .agg(F.sum("ng").alias("n_g"),
                  F.sum(F.col("ng").cast(dec) * F.col("rank2"))
                  .alias("r2")))
    ties = ranks.agg(F.sum("t3t").alias("ties"))
    agg = (per_g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_g").alias("n"),
        # R_g = r2/2 -> Σ R_g²/n_g = Σ r2²/(4·n_g); exact ints in, the
        # same doubles out on both engines
        F.sum(F.col("r2").cast("double") * F.col("r2").cast("double")
              / (4.0 * F.col("n_g").cast("double"))).alias("srr"))
        .crossJoin(F.broadcast(ties)))
    nd = F.col("n").cast("double")
    corr = (F.lit(1.0) - F.col("ties").cast("double")
            / (nd * nd * nd - nd))
    h = ((F.lit(12.0) / (nd * (nd + 1.0)) * F.col("srr")
          - 3.0 * (nd + 1.0)) / corr)
    return agg.select(
        F.col("n_groups").cast("int").alias("n_groups"),
        F.col("n").cast("long").alias("n"),
        F.round(F.when((F.col("n_groups") >= 2) & (corr > 0), h),
                round_dp).alias("h"),
        F.when(F.col("n_groups") >= 2, F.col("n_groups") - 1)
        .cast("long").alias("dof"))


def brown_forsythe(df: DataFrame, group_col: str, value_col: str,
                   round_dp: int = 6) -> DataFrame:
    """Brown–Forsythe test of variance homogeneity (Levene's test with
    MEDIAN centers — the robust form): one-way ANOVA on the absolute
    deviations ``z = |x − median_g|``. The "did the SPREAD change?"
    companion to the location tests (welch/mann-whitney compare
    centers; a corpus intervention often moves dispersion first). One
    row: ``(n_groups, n, f, dof1, dof2)`` — F ~ F(k−1, N−k) under
    equal variances; NULL F when k < 2 or the deviations are all zero.

    Group centers are EXACT lower medians (``operators/robust.py:
    weighted_median`` at unit weights — a data value, cross-engine
    exact), so the z column is identical on both engines; the F
    statistic is then sufficient statistics of z (per-group n, Σz,
    Σz²) in one aggregation pass — the ``welch_t_test`` contract, with
    6dp rounding absorbing Σ-association ulps. Plan: the median's
    (group, value) rollup + prefix machinery, one broadcast join of
    k medians back, one groupBy pass, one tiny final aggregate.
    """
    from .robust import weighted_median

    v = F.col(value_col).cast("double")
    base = (df.filter(F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("g"), v.alias("v"))
            .where(F.col("v").isNotNull() & ~F.isnan(F.col("v"))))
    med = (weighted_median(base.withColumn("__w", F.lit(1)),
                           "g", "v", "__w")
           .select("g", F.col("weighted_median").alias("med")))
    z = (base.join(F.broadcast(med), "g")
         .select("g", F.abs(F.col("v") - F.col("med")).alias("z")))
    per_g = z.groupBy("g").agg(F.count(F.lit(1)).alias("n_g"),
                               F.sum("z").alias("sz"),
                               F.sum(F.col("z") * F.col("z"))
                               .alias("szz"))
    agg = per_g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_g").alias("n"),
        F.sum("sz").alias("tz"),
        # between-group numerator pieces and within-group SS, all from
        # the same sufficient statistics
        F.sum(F.col("sz") * F.col("sz") / F.col("n_g")).alias("sb"),
        F.sum(F.col("szz")).alias("tzz"))
    nd = F.col("n").cast("double")
    k = F.col("n_groups").cast("double")
    ss_between = F.col("sb") - F.col("tz") * F.col("tz") / nd
    ss_within = F.col("tzz") - F.col("sb")
    f = F.when((F.col("n_groups") >= 2) & (ss_within > 0),
               (ss_between / (k - 1.0))
               / (ss_within / (nd - k)))
    return agg.select(
        F.col("n_groups").cast("int").alias("n_groups"),
        F.col("n").cast("long").alias("n"),
        F.round(f, round_dp).alias("f"),
        F.when(F.col("n_groups") >= 2, F.col("n_groups") - 1)
        .cast("long").alias("dof1"),
        F.when(F.col("n_groups") >= 2,
               F.col("n") - F.col("n_groups")).cast("long")
        .alias("dof2"))


def spearman_corr(df: DataFrame, x_col: str, y_col: str,
                  round_dp: int = 6) -> DataFrame:
    """Spearman rank correlation — the MONOTONE-association companion
    to ``ols_by_group``'s Pearson r²: robust to outliers and any
    monotone transform, the right screen for "does quality rise with
    length?"-style corpus questions where linearity is an assumption
    too far. One row: ``(n, rho)`` — Pearson correlation of the
    average ranks, tie-handled; NULL when n < 2 or either column is
    constant.

    EXACT integer arithmetic: per column, DOUBLED average ranks
    (``2·cum_before + cnt + 1`` over the distinct-value table —
    always integers) join back to rows, and every Pearson sufficient
    statistic of the doubled ranks accumulates in DECIMAL(38,0)
    (Σ r², Σ rx·ry ≤ 4N³ — int64 overflows past ~1.3M rows, which the
    r10 sf1 probe hit as a hard ANSI ARITHMETIC_OVERFLOW; decimal128
    is exact to N ≈ 3·10¹², i.e. any realistic corpus, and DuckDB's
    HUGEINT sum on the twin side is the same 128-bit exactness). ρ is
    then a few float ops on exact integers — identical cross-engine
    (the ``mann_whitney_u`` machinery applied to association). Plan:
    two distinct-value rollups + prefix sums, two joins back, ONE
    aggregation pass. Complete-case on (x, y).
    """
    from .packing import global_cumsum
    from .util import complete_case

    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = complete_case(df, [x, y]).select(x.alias("x"), y.alias("y"))

    def ranked(col: str) -> DataFrame:
        per = base.groupBy(F.col(col).alias("v")) \
            .agg(F.count(F.lit(1)).alias("cnt"))
        per = global_cumsum(per, "v", "cnt", "cum")
        return per.select(
            F.col("v").alias(col),
            (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1)
            .alias(f"r_{col}"))

    r = (base.join(ranked("x"), "x").join(ranked("y"), "y")
         .select(F.col("r_x").alias("rx"), F.col("r_y").alias("ry")))
    rxd = F.col("rx").cast("decimal(38,0)")
    ryd = F.col("ry").cast("decimal(38,0)")
    agg = r.agg(F.count(F.lit(1)).alias("n"),
                F.sum(rxd).alias("sx"), F.sum(ryd).alias("sy"),
                F.sum(rxd * rxd).alias("sxx"),
                F.sum(ryd * ryd).alias("syy"),
                F.sum(rxd * ryd).alias("sxy"))
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy").cast("double") \
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    vx = n * F.col("sxx").cast("double") \
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = n * F.col("syy").cast("double") \
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    rho = F.when((F.col("n") >= 2) & (vx > 0) & (vy > 0),
                 cov_n / F.sqrt(vx * vy))
    return agg.select(F.col("n").cast("long").alias("n"),
                      F.round(rho, round_dp).alias("rho"))


def mantel_haenszel(df: DataFrame, stratum_col: str, group_col: str,
                    success_col, group_a, group_b,
                    round_dp: int = 6) -> DataFrame:
    """Cochran–Mantel–Haenszel stratified 2×2 analysis — the
    Simpson's-paradox-aware pooling the experimentation layer needs:
    ``two_proportion_test`` on the MARGINAL table can reverse sign
    when a confounder (region, device, cohort) is unevenly split;
    CMH pools the per-stratum association instead. One row:
    ``(n_strata, n, or_mh, chi2_cmh, dof)`` — the Mantel–Haenszel
    common odds ratio ``Σ(a·d/n_s) / Σ(b·c/n_s)`` and the CMH χ²(1)
    ``(|Σ(a − E[a])|)² / Σ Var(a)`` with the exact hypergeometric
    variance ``r1·r2·c1·c2 / (n²(n−1))`` per stratum. NULL or_mh when
    a denominator vanishes; NULL chi2 when ΣVar = 0.

    Per stratum the 2×2 cells (a, b, c, d) are EXACT integers from ONE
    conditional aggregation pass (the ``welch_t_test`` shape, keyed by
    stratum); every pooled term is a rational function of those ints,
    and the Σ over strata carries only ulp-level association noise
    against 6dp rounding. Strata with a zero margin contribute zero to
    every sum (standard CMH behavior — they carry no information about
    association). Plan: one groupBy(stratum) pass + one tiny final
    aggregate; stratum count is the only cardinality that matters.
    """
    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")
    s = F.col(success_col).cast("int")
    isa = F.col(group_col) == F.lit(group_a)
    base = df.filter(F.col(group_col).isin(group_a, group_b)
                     & F.col(stratum_col).isNotNull()
                     & s.isNotNull())
    per = (base.groupBy(F.col(stratum_col).alias("st"))
           .agg(F.sum(F.when(isa & (s == 1), 1).otherwise(0))
                .cast("long").alias("a"),
                F.sum(F.when(isa & (s == 0), 1).otherwise(0))
                .cast("long").alias("b"),
                F.sum(F.when(~isa & (s == 1), 1).otherwise(0))
                .cast("long").alias("c"),
                F.sum(F.when(~isa & (s == 0), 1).otherwise(0))
                .cast("long").alias("d")))
    n_s = (F.col("a") + F.col("b") + F.col("c") + F.col("d")) \
        .cast("double")
    r1 = (F.col("a") + F.col("b")).cast("double")   # group_a row
    r2 = (F.col("c") + F.col("d")).cast("double")
    c1 = (F.col("a") + F.col("c")).cast("double")   # success column
    c2 = (F.col("b") + F.col("d")).cast("double")
    valid = n_s > 1
    agg = per.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(n_s).cast("long").alias("n"),
        F.sum(F.when(valid, F.col("a") * F.col("d") / n_s)
              .otherwise(0.0)).alias("sum_ad"),
        F.sum(F.when(valid, F.col("b") * F.col("c") / n_s)
              .otherwise(0.0)).alias("sum_bc"),
        F.sum(F.when(valid, F.col("a").cast("double") - r1 * c1 / n_s)
              .otherwise(0.0)).alias("sum_dev"),
        F.sum(F.when(valid,
                     r1 * r2 * c1 * c2 / (n_s * n_s * (n_s - 1.0)))
              .otherwise(0.0)).alias("sum_var"))
    or_mh = F.when(F.col("sum_bc") > 0,
                   F.col("sum_ad") / F.col("sum_bc"))
    chi2 = F.when(F.col("sum_var") > 0,
                  F.col("sum_dev") * F.col("sum_dev")
                  / F.col("sum_var"))
    return agg.select(
        F.col("n_strata").cast("int").alias("n_strata"),
        "n",
        F.round(or_mh, round_dp).alias("or_mh"),
        F.round(chi2, round_dp).alias("chi2_cmh"),
        F.when(F.col("sum_var") > 0, F.lit(1)).cast("long")
        .alias("dof"))
