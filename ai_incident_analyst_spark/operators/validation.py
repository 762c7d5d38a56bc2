"""Declarative data-quality validation (deequ/great-expectations style).

A 100 TB ingest without automated expectation checks ships silent
garbage; the reference validates its source exactly once by probing
``SELECT count(*)`` (``src/ingestion/new_relic_fetcher.py:62-79``, the
S2 probe) — this module is the grown-up version: a suite of typed
expectations evaluated against a table, producing a machine-readable
report frame a pipeline can gate on.

Physical design: every row-local expectation (null-rate, range,
accepted-values, uniqueness) compiles into ONE aggregation pass over the
table — metrics are ``sum(when(...))``/``count``/``count_distinct``
columns of a single ``agg()``, so the table is scanned once no matter
how many checks run (the deequ "analyzer batching" idea restated in
Catalyst). Referential-integrity checks need the other table and run as
a LEFT ANTI join each — keyed shuffle, AQE-broadcast when the dimension
fits. All metrics are exact counts/fractions of counts, so the report
is engine-portable (an independent SQL twin hash-matches it).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import local_frame


@dataclass(frozen=True)
class Check:
    """One expectation. ``kind`` ∈ {not_null, in_range, accepted_values,
    unique, referential}; ``threshold`` is the max allowed violation
    fraction (0.0 = hard expectation)."""
    kind: str
    column: str
    threshold: float = 0.0
    lo: Optional[float] = None
    hi: Optional[float] = None
    values: tuple = field(default_factory=tuple)
    ref: Optional[DataFrame] = None
    ref_column: Optional[str] = None


def not_null(column: str, threshold: float = 0.0) -> Check:
    return Check("not_null", column, threshold)


def in_range(column: str, lo: float, hi: float,
             threshold: float = 0.0) -> Check:
    return Check("in_range", column, threshold, lo=lo, hi=hi)


def accepted_values(column: str, values, threshold: float = 0.0) -> Check:
    return Check("accepted_values", column, threshold,
                 values=tuple(values))


def unique(column: str) -> Check:
    return Check("unique", column, 0.0)


def referential(column: str, ref: DataFrame, ref_column: str,
                threshold: float = 0.0) -> Check:
    return Check("referential", column, threshold,
                 ref=ref, ref_column=ref_column)


def _frac(cond) -> F.Column:
    # violation fraction among all rows; empty table -> 0.0 (vacuously ok)
    n = F.count(F.lit(1))
    return F.when(n == 0, F.lit(0.0)) \
        .otherwise(F.sum(F.when(cond, 1).otherwise(0)) / n)


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate ``checks`` and return the report frame
    ``(check, column, violation_frac, threshold, passed)``.

    Row-local checks share one aggregation pass; each referential check
    adds one anti-join job. ``violation_frac`` is rounded to 9 dp so the
    report value is a stable function of exact integer counts.
    """
    spark = df.sparkSession
    aggs = []
    meta = []  # (kind, column, threshold) aligned with aggs
    ref_checks = []
    for c in checks:
        col = F.col(c.column)
        if c.kind == "not_null":
            aggs.append(_frac(col.isNull()))
        elif c.kind == "in_range":
            aggs.append(_frac(col.isNull()
                              | (col < F.lit(c.lo)) | (col > F.lit(c.hi))))
        elif c.kind == "accepted_values":
            vals = F.array(*[F.lit(v) for v in c.values])
            aggs.append(_frac(col.isNull() | ~F.array_contains(vals, col)))
        elif c.kind == "unique":
            # violation fraction = (n − count_distinct)/n: every NULL row
            # violates (a unique key must be present) and every row
            # beyond the first per value violates — and count_distinct
            # already ignores NULLs, so n − distinct counts BOTH classes
            # exactly once (adding the NULL count again double-counted)
            n = F.count(F.lit(1))
            dups = n - F.count_distinct(col)
            aggs.append(F.when(n == 0, F.lit(0.0)).otherwise(dups / n))
        elif c.kind == "referential":
            ref_checks.append(c)
            continue
        else:
            raise ValueError(f"unknown check kind: {c.kind}")
        meta.append((c.kind, c.column, c.threshold))
    aggs = [a.alias(f"m{i}") for i, a in enumerate(aggs)]
    # the row count rides in the same single pass — referential checks
    # need it and must not pay a second scan for it
    aggs.append(F.count(F.lit(1)).alias("__n"))

    rows = []
    r = df.agg(*aggs).first()
    n = r["__n"]
    for i, (kind, column, thr) in enumerate(meta):
        v = float(r[f"m{i}"] or 0.0)
        rows.append((kind, column, round(v, 9), thr, v <= thr))
    for c in ref_checks:
        orphans = (
            df.select(F.col(c.column).alias("__k"))
            .filter(F.col("__k").isNotNull())
            .join(c.ref.select(F.col(c.ref_column).alias("__k")),
                  "__k", "left_anti")
            .count()
        )
        v = (orphans / n) if n else 0.0
        rows.append(("referential", c.column, round(v, 9), c.threshold,
                     v <= c.threshold))
    return local_frame(
        spark, rows, "check string, column string, violation_frac double, "
              "threshold double, passed boolean")


def assert_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Gate form: raise with the failing report rows if any check fails;
    return the report otherwise — the pattern for a pipeline stage
    boundary (validate-then-proceed)."""
    report = run_checks(df, checks)
    failed = [r.asDict() for r in report.filter(~F.col("passed")).collect()]
    if failed:
        raise ValueError(f"data-quality checks failed: {failed}")
    return report


def k_anonymity_report(df: DataFrame, quasi_identifiers: list[str],
                       k: int = 5) -> DataFrame:
    """Privacy gate: k-anonymity of a release candidate with respect to
    its quasi-identifier columns — every row must be indistinguishable
    from ≥ k−1 others on those columns (Sweeney's rule; the structural
    check the regex redaction pass in ``functions/redaction.py`` cannot
    give, because rare VALUE COMBINATIONS re-identify even with PII
    masked).

    Returns one row: ``(k, min_group_size, n_rows, n_violating_rows,
    violating_frac, anonymous)`` — ``n_violating_rows`` counts rows in
    equivalence classes smaller than k. One groupBy over the
    quasi-identifier tuple (map-side combinable) + a tiny aggregate of
    the class-size table; exact integers, SQL-twin checkable.
    """
    if not quasi_identifiers:
        raise ValueError("need at least one quasi-identifier column")
    classes = (
        df.groupBy(*quasi_identifiers).agg(F.count("*").alias("__sz"))
    )
    return (
        classes.agg(
            F.lit(k).alias("k"),
            F.min("__sz").alias("min_group_size"),
            F.sum("__sz").alias("n_rows"),
            F.sum(F.when(F.col("__sz") < k, F.col("__sz"))
                  .otherwise(F.lit(0))).alias("n_violating_rows"),
        )
        .withColumn("violating_frac",
                    F.round(F.col("n_violating_rows")
                            / F.col("n_rows"), 9))
        .withColumn("anonymous", F.col("n_violating_rows") == 0)
    )


def l_diversity_report(df: DataFrame, quasi_identifiers: list[str],
                       sensitive_col: str, l: int = 2) -> DataFrame:
    """Privacy gate, step two: distinct l-diversity (Machanavajjhala et
    al. 2007) of a release candidate — every quasi-identifier
    equivalence class must contain ≥ ``l`` DISTINCT values of the
    sensitive attribute. k-anonymity alone is defeated by the
    homogeneity attack: a class of 50 indistinguishable rows that all
    share one sensitive value still discloses it; ``k_anonymity_report``
    cannot see that failure mode because it never looks at the
    sensitive column.

    Returns one row: ``(l, min_diversity, n_classes,
    n_violating_classes, n_violating_rows, diverse)`` — violating rows
    sit in classes with fewer than ``l`` distinct sensitive values.

    Plan: ONE groupBy over the quasi-identifier tuple with
    ``count(*)`` + ``count(distinct sensitive)`` (Spark expands the
    distinct agg to a two-phase partial — still a single keyed
    shuffle), then a tiny aggregate of the class table; exact integers,
    SQL-twin checkable. Same shape and scale behavior as
    ``k_anonymity_report``.
    """
    if not quasi_identifiers:
        raise ValueError("need at least one quasi-identifier column")
    if sensitive_col in quasi_identifiers:
        raise ValueError(
            f"sensitive column {sensitive_col!r} cannot also be a "
            f"quasi-identifier (diversity would be degenerate)")
    classes = (
        df.groupBy(*quasi_identifiers)
        .agg(F.count("*").alias("__sz"),
             F.countDistinct(sensitive_col).alias("__div"))
    )
    return (
        classes.agg(
            F.lit(l).alias("l"),
            F.min("__div").alias("min_diversity"),
            F.count("*").alias("n_classes"),
            F.sum(F.when(F.col("__div") < l, 1).otherwise(0))
            .alias("n_violating_classes"),
            F.sum(F.when(F.col("__div") < l, F.col("__sz"))
                  .otherwise(F.lit(0))).alias("n_violating_rows"),
        )
        .withColumn("diverse", F.col("n_violating_rows") == 0)
    )


def t_closeness_report(df: DataFrame, quasi_identifiers: list[str],
                       sensitive_col: str, t: float = 0.2) -> DataFrame:
    """Privacy gate, step three: t-closeness (Li, Li & Venkatasubramanian
    2007) with the ordered-distance EMD — every quasi-identifier
    equivalence class's distribution over the sensitive attribute must
    sit within earth-mover's distance ``t`` of the GLOBAL distribution.
    l-diversity is defeated by skewness/similarity attacks: a class can
    hold l distinct sensitive values that are all rare-globally (or all
    semantically adjacent) and still disclose; closeness compares whole
    distributions, not value counts.

    EMD over the ordered value domain (the paper's numeric-attribute
    form): values ranked globally, ``EMD(P, Q) = Σ_j |Σ_{i≤j}(P_i −
    Q_i)| / (m − 1)`` — the L1 of cumulative differences, normalized by
    the m−1 unit ground distance. One row out: ``(t_1e6, m_values,
    n_classes, max_emd, n_violating_classes, n_violating_rows, close)``.

    Plan: one groupBy for per-class sizes, one for per-(class, value)
    counts, a class × value-domain fill (broadcast — the sensitive
    DOMAIN is small even when the table is not), a per-class cumulative
    window, and a tiny report aggregate. The only per-row shuffles key
    on the class tuple; the window partitions by class — no global
    single-task stage anywhere. 6 dp rounding on EMD.
    """
    if not quasi_identifiers:
        raise ValueError("need at least one quasi-identifier column")
    if sensitive_col in quasi_identifiers:
        raise ValueError(
            f"sensitive column {sensitive_col!r} cannot also be a "
            f"quasi-identifier (closeness would be degenerate)")
    qi = [F.col(c) for c in quasi_identifiers]
    n_total = df.count()
    dom = (df.groupBy(F.col(sensitive_col).alias("__v"))
           .agg((F.count(F.lit(1)) / F.lit(n_total)).alias("__q"))
           .localCheckpoint(eager=False))
    m = dom.count()
    if m < 2:
        raise ValueError("sensitive attribute needs >= 2 distinct values")
    cls = (df.groupBy(*qi).agg(F.count(F.lit(1)).alias("__sz"))
           .localCheckpoint(eager=False))
    cv = (df.groupBy(*qi, F.col(sensitive_col).alias("__v"))
          .agg(F.count(F.lit(1)).alias("__c")))
    full = (cls.join(F.broadcast(dom))
            .join(cv, quasi_identifiers + ["__v"], "left")
            .withColumn("__p", F.coalesce(F.col("__c"), F.lit(0))
                        / F.col("__sz")))
    w = (Window.partitionBy(*quasi_identifiers)
         .orderBy("__v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    emd = (full
           .withColumn("__cum", F.sum(F.col("__p") - F.col("__q")).over(w))
           .groupBy(*qi, "__sz")
           .agg(F.round(F.sum(F.abs("__cum")) / F.lit(m - 1), 6)
                .alias("__emd")))
    return emd.agg(
        F.lit(int(round(t * 1e6))).alias("t_1e6"),
        F.lit(m).alias("m_values"),
        F.count(F.lit(1)).alias("n_classes"),
        F.max("__emd").alias("max_emd"),
        F.sum(F.when(F.col("__emd") > t, 1).otherwise(0))
        .alias("n_violating_classes"),
        F.sum(F.when(F.col("__emd") > t, F.col("__sz")).otherwise(0))
        .alias("n_violating_rows"),
        (F.sum(F.when(F.col("__emd") > t, 1).otherwise(0)) == 0)
        .alias("close"))


def fd_report(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs: for
    each ``(lhs, rhs)``, does ``lhs -> rhs`` hold (every lhs value maps
    to exactly one rhs value)? The data-profiling primitive behind key
    detection, denormalization checks, and "is this column derivable"
    questions a curation pipeline asks before dropping or joining
    columns. Returns one row per pair: ``(lhs, rhs, n_lhs, n_pairs,
    n_violating_lhs, holds)`` — ``n_violating_lhs`` counts lhs values
    mapping to >1 distinct rhs (``holds`` iff 0). NULL rhs values are
    ignored by the distinct count (standard SQL semantics in both
    engines); NULL lhs groups like any other value.

    Per pair: ONE groupBy(lhs) with count_distinct(rhs) — a keyed
    shuffle the optimizer partial-aggregates map-side; pairs are
    independent aggregates unioned at the end, so the scan is shared by
    Catalyst only when caching is on — at 100 TB run pairs in one pass
    with a multi-agg rewrite if the table is scan-bound.
    """
    if not pairs:
        raise ValueError("need at least one (lhs, rhs) candidate pair")
    outs = []
    for lhs, rhs in pairs:
        g = (df.groupBy(lhs)
             .agg(F.countDistinct(rhs).alias("__k"),
                  F.count(F.lit(1)).alias("__n")))
        outs.append(g.agg(
            F.lit(lhs).alias("lhs"), F.lit(rhs).alias("rhs"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.sum("__k").alias("n_pairs"),
            F.sum(F.when(F.col("__k") > 1, 1).otherwise(0))
            .alias("n_violating_lhs"),
            (F.sum(F.when(F.col("__k") > 1, 1).otherwise(0)) == 0)
            .alias("holds")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def dp_noisy_counts(df: DataFrame, group_cols: list[str],
                    epsilon: float = 1.0, salt: str = "dp",
                    max_k: int = 60) -> DataFrame:
    """ε-differentially-private group counts via the discrete Laplace
    (two-sided geometric) mechanism — the RELEASE step the privacy
    ladder (k-anonymity → l-diversity → t-closeness) ends at: those
    gates judge a table, DP actually perturbs what leaves. Counting
    queries have sensitivity 1, so noise ~ DLap(e^{−ε}) gives ε-DP.

    DETERMINISM CAVEAT (by design, stated loudly): the noise draw is
    pseudo-random from ``md5(salt:group)`` — reproducible across
    engines/partitionings/reruns, which is what makes the mechanism
    TESTABLE and oracle-checkable, but a REAL release must swap the
    hash for a CSPRNG draw per release (a fixed seed leaks: repeated
    queries average the noise away; same caveat class as
    ``sample_random_negatives``). The mechanism shape — inverse-CDF
    over an integer support lattice, never a float rejection loop — is
    the production one.

    Inverse CDF by lattice argmin: u ∈ (0,1) from the hash's first 13
    hex digits; the noise is the smallest k ∈ [−max_k, max_k] with
    CDF(k) ≥ u, where CDF is the closed-form discrete-Laplace CDF with
    p = e^{−ε}. Both engines evaluate the identical expression tree on
    identical doubles, so the argmin matches; ``max_k`` bounds the
    lattice (P(|k| > 60) < 1e-26 at ε = 1). The lattice endpoint
    k = max_k is pinned to CDF = 1.0, so a draw in the truncated tail
    CLAMPS the noise at +max_k instead of silently dropping the group
    (a u > CDF(max_k) draw would otherwise leave no surviving lattice
    row — negligible at ε = 1 but a real 2-5 % group loss at ε ≈ 0.05;
    clamping is standard truncated-DLap post-processing and keeps the
    release a total function of the input groups). Noisy counts are
    clamped at 0 (post-processing preserves DP). One groupBy + a
    2·max_k+1 lattice explode per GROUP (group-cardinality, not
    row-cardinality).
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    p = float(__import__("math").exp(-epsilon))
    counts = (df.groupBy(*group_cols)
              .agg(F.count(F.lit(1)).alias("__n")))
    key = F.md5(F.concat_ws(
        ":", F.lit(salt), *[F.col(c).cast("string") for c in group_cols]))
    # u in (0,1): 13 hex digits = 52 bits, exact in a double
    u = ((F.conv(F.substring(key, 1, 13), 16, 10).cast("double") + 0.5)
         / F.lit(float(16 ** 13)))
    lat = counts.withColumn("__u", u).withColumn(
        "__k", F.explode(F.sequence(F.lit(-max_k), F.lit(max_k))))
    kd = F.col("__k").cast("double")
    # discrete-Laplace CDF: k<0 -> p^{-k}/(1+p); k>=0 -> 1 - p^{k+1}/(1+p).
    # The k == max_k endpoint is pinned to exactly 1.0 so every group
    # keeps >= 1 surviving lattice row (tail draws clamp, never drop).
    cdf = F.when(F.col("__k") == max_k, F.lit(1.0)) \
        .when(F.col("__k") < 0,
              F.pow(F.lit(p), -kd) / F.lit(1.0 + p)) \
        .otherwise(F.lit(1.0) - F.pow(F.lit(p), kd + 1.0)
                   / F.lit(1.0 + p))
    w = Window.partitionBy(*group_cols).orderBy("__k")
    noise = (lat.where(cdf >= F.col("__u"))
             .withColumn("__rn", F.row_number().over(w))
             .where(F.col("__rn") == 1))
    return noise.select(
        *group_cols,
        F.greatest(F.col("__n") + F.col("__k"), F.lit(0))
        .cast("long").alias("noisy_count"),
        F.lit(int(round(epsilon * 1e6))).alias("epsilon_1e6"))
