"""Data-quality constraint checks — the Deequ-style gate a pipeline
runs before publishing a table (cf. Schelter et al., VLDB 2018,
"Automating Large-Scale Data Quality Verification").

Declarative constraints compile to ONE conditional aggregate per table
scan — not one job per check: uniqueness, null counts, range and
accepted-value violations all fold into a single `agg(...)` whose
partial aggregation is map-side. Referential integrity is the only
multi-table check and runs as a left-anti count (broadcast when the
parent's key set is small, hash join otherwise — Catalyst's choice).

Output is one row per constraint: (table, constraint, violations,
passed) — the shape a scheduler alerts on. Everything is exact
integer counting, so the report carries a full value oracle.

The reference has no equivalent (mydatastack/google-analytics-to-s3
trusts its collector payloads end-to-end; the closest thing is the
required-field normalizer, main.py's `clean_hits` loop) — this is the
missing publish gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def not_null(col: str) -> tuple[str, Column]:
    """Violations: rows where ``col`` IS NULL."""
    return (
        f"not_null({col})",
        F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).cast("long"),
    )


def unique(col: str) -> tuple[str, Column]:
    """Violations: rows beyond the first per duplicated value
    (count(col) - count(distinct col); NULLs are ignored by both, so a
    NULL never counts as a duplicate — pair with not_null)."""
    return (
        f"unique({col})",
        (F.count(col) - F.countDistinct(col)).cast("long"),
    )


def in_range(col: str, lo: float, hi: float) -> tuple[str, Column]:
    """Violations: non-NULL values outside [lo, hi]."""
    c = F.col(col)
    return (
        f"in_range({col},{lo},{hi})",
        F.sum(
            F.when(c.isNotNull() & ((c < lo) | (c > hi)), 1).otherwise(0)
        ).cast("long"),
    )


def accepted_values(col: str, values: list[str]) -> tuple[str, Column]:
    """Violations: non-NULL values outside the accepted set."""
    c = F.col(col)
    return (
        f"accepted_values({col})",
        F.sum(
            F.when(c.isNotNull() & ~c.isin(values), 1).otherwise(0)
        ).cast("long"),
    )


def check_table(
    df: DataFrame, table: str, checks: list[tuple[str, Column]]
) -> DataFrame:
    """Run single-table constraints in ONE scan: every check is an
    aggregate expression in the same `agg`, then the 1-row wide result
    unpivots to (table, constraint, violations, passed) rows."""
    if not checks:
        raise ValueError("checks must not be empty")
    aggs = [expr.alias(f"_c{i}") for i, (_, expr) in enumerate(checks)]
    wide = df.agg(*aggs)
    pairs = []
    for i, (name, _) in enumerate(checks):
        pairs.append(F.lit(name))
        pairs.append(F.col(f"_c{i}").cast("string"))
    long = wide.select(
        F.explode(
            F.create_map(*pairs)
        ).alias("constraint", "_v")
    )
    return long.select(
        F.lit(table).alias("table"),
        "constraint",
        F.col("_v").cast("long").alias("violations"),
        (F.col("_v").cast("long") == 0).alias("passed"),
    )


def ref_integrity(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str,
    child_table: str,
) -> DataFrame:
    """Violations: non-NULL child foreign keys with no parent row
    (left-anti count). One report row, same schema as check_table."""
    orphans = (
        child.select(F.col(fk))
        .filter(F.col(fk).isNotNull())
        .join(
            parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
        )
    )
    return orphans.agg(F.count("*").cast("long").alias("violations")).select(
        F.lit(child_table).alias("table"),
        F.lit(f"ref_integrity({fk}->{pk})").alias("constraint"),
        "violations",
        (F.col("violations") == 0).alias("passed"),
    )


def psi_report(
    df: DataFrame,
    group_col: str,
    bucket_col: str,
    period_col: str,
    alarm_threshold: float = 0.1,
) -> DataFrame:
    """Population-stability-index drift report — the distribution-shift
    companion to the row-count constraints above: per group, PSI
    between period 0 (reference) and period 1 (current) over a bucketed
    value distribution, PSI = Σ_b (p1_b - p0_b) · ln(p1_b / p0_b).

    ``period_col`` must be 0/1 (reference/current); buckets are the
    caller's discretization (an integer expression — deciles, integer
    div, histogram bins). Laplace-smoothed proportions
    ``(n_b + 1) / (N + B)`` keep empty buckets finite and make every
    proportion an exact rational of BIGINTs — one double division and
    one ln per bucket, the repo's proven ln-round(6) parity pairing.

    Shape: one data-sized hash aggregation to (group, bucket, period)
    grain; the PSI sum and bucket-count window run over the
    groups × buckets table. The alarm compares the UNROUNDED psi so
    both engines branch on the same double.
    """
    counts = df.groupBy(
        F.col(group_col).alias("grp"),
        F.col(bucket_col).alias("bucket"),
    ).agg(
        F.sum(F.when(F.col(period_col) == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col(period_col) == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    wg = Window.partitionBy("grp")
    prop = counts.select(
        "grp", "bucket", "n0", "n1",
        F.sum("n0").over(wg).alias("t0"),
        F.sum("n1").over(wg).alias("t1"),
        F.count(F.lit(1)).over(wg).alias("nb"),
    ).select(
        "grp", "n0", "n1",
        (
            (F.col("n0") + 1).cast("double")
            / (F.col("t0") + F.col("nb")).cast("double")
        ).alias("p0"),
        (
            (F.col("n1") + 1).cast("double")
            / (F.col("t1") + F.col("nb")).cast("double")
        ).alias("p1"),
    )
    psi = prop.groupBy("grp").agg(
        F.sum("n0").cast("long").alias("n_ref"),
        F.sum("n1").cast("long").alias("n_cur"),
        F.sum(
            (F.col("p1") - F.col("p0")) * F.log(F.col("p1") / F.col("p0"))
        ).alias("_psi"),
    )
    return psi.select(
        F.col("grp").alias(group_col), "n_ref", "n_cur",
        F.round("_psi", 6).alias("psi"),
        (F.col("_psi") > F.lit(alarm_threshold)).alias("drift_alarm"),
    )


# first-significant-digit probabilities log10(1 + 1/d), materialized as
# double literals so Spark and any SQL oracle consume the SAME 9
# constants instead of racing libm log implementations
BENFORD_P = {
    1: 0.3010299956639812, 2: 0.17609125905568124,
    3: 0.12493873660829993, 4: 0.09691001300805642,
    5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129,
    9: 0.04575749056067514,
}

# chi-square 95% critical value at 8 dof (9 digits - 1)
BENFORD_CRIT_95 = 15.507313

MAX_BENFORD_DIGITS = 19  # BIGINT width; first digit via power-of-10 floor


def benford_report(df: DataFrame, amount_col: str) -> DataFrame:
    """First-significant-digit distribution of a positive integer
    amount column vs Benford's law — the fraud/DQ screen for
    financial facts (synthetic or truncated amount feeds flunk it
    loudly).

    One conditional aggregation over the scan (zero joins, zero extra
    passes): the first digit comes from a when-chain over the 19
    possible BIGINT widths (pure integer compares — no float log10,
    whose x == 10^k edge rounding differs across engines), the nine
    observed counts pivot map-side, and chi2 against the tabulated
    ``BENFORD_P`` literals is driver-free arithmetic on the 9-row
    result. Rows with non-positive amounts are counted out loudly in
    ``n_skipped`` rather than silently dropped.

    Output: one row per digit 1..9 (absent digits appear with
    observed = 0): ``(digit, observed, n, expected_p, chi2,
    benford_alarm, n_skipped)`` — chi2/alarm constant across the nine
    rows of the report.
    """
    work = df.select(F.col(amount_col).cast("bigint").alias("_amt"))
    amt = F.col("_amt")
    cases = " ".join(
        f"WHEN _amt >= {10 ** k} THEN _amt div {10 ** k}"
        for k in range(MAX_BENFORD_DIGITS - 1, -1, -1)
    )
    first = F.expr(f"CASE {cases} END")
    agg = work.agg(
        *[
            F.sum(F.when(first == d, 1).otherwise(0)).alias(f"o_{d}")
            for d in range(1, 10)
        ],
        F.sum(F.when((amt <= 0) | amt.isNull(), 1).otherwise(0)).alias(
            "n_skipped"
        ),
    )
    n = sum(F.col(f"o_{d}") for d in range(1, 10)).alias("_n")
    agg = agg.withColumn("_n", n)
    chi2 = sum(
        (F.col(f"o_{d}").cast("double") - F.col("_n") * BENFORD_P[d])
        * (F.col(f"o_{d}").cast("double") - F.col("_n") * BENFORD_P[d])
        / (F.col("_n") * BENFORD_P[d])
        for d in range(1, 10)
    )
    agg = agg.withColumn("_chi2", F.round(chi2, 6))
    rows = F.array(*[
        F.struct(
            F.lit(d).alias("digit"),
            F.col(f"o_{d}").cast("long").alias("observed"),
            F.col("_n").cast("long").alias("n"),
            F.lit(BENFORD_P[d]).alias("expected_p"),
            F.col("_chi2").alias("chi2"),
            (F.col("_chi2") > BENFORD_CRIT_95).alias("benford_alarm"),
            F.col("n_skipped").cast("long").alias("n_skipped"),
        )
        for d in range(1, 10)
    ])
    return agg.select(F.explode(rows).alias("_r")).select("_r.*")


KS_C95 = 1.358  # Kolmogorov critical coefficient at alpha = 0.05



def _two_sample_stats(
    per_value: DataFrame,
    ca: str,
    cb: str,
    buckets: int,
    no_rows_msg: str,
    empty_msg_fmt: str,
) -> DataFrame:
    """ONE-row lazy stats block shared by the two-sample operators:
    min/max/value-range bucketing width plus both group totals, with
    the empty-input guards folded into the projection (``raise_error``
    fires at execution — the declared queries never hit it, and the
    operator keeps its error contract without an eager gating job).
    ``empty_msg_fmt`` is a ``format_string`` pattern taking the two
    group totals."""
    def guarded(col: str) -> Column:
        return F.when(
            F.col("_lo_raw").isNull(),
            F.raise_error(F.lit(no_rows_msg)).cast("long"),
        ).when(
            (F.col("_na_raw") == 0) | (F.col("_nb_raw") == 0),
            F.raise_error(F.format_string(
                empty_msg_fmt, "_na_raw", "_nb_raw"
            )).cast("long"),
        ).otherwise(F.col(col))

    return per_value.agg(
        F.min("_v").alias("_lo_raw"),
        F.max("_v").alias("_hi"),
        F.sum(ca).alias("_na_raw"),
        F.sum(cb).alias("_nb_raw"),
    ).select(
        guarded("_lo_raw").alias("_lo"),
        F.col("_hi"),
        guarded("_na_raw").alias("_na"),
        guarded("_nb_raw").alias("_nb"),
        F.expr(
            f"greatest(CAST(1 AS BIGINT),"
            f" ((_hi - _lo_raw) div {buckets}) + CAST(1 AS BIGINT))"
        ).alias("_width"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    buckets: int = 64,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test on an INTEGER
    value column — the distribution-shape companion to the binned PSI
    report (``psi_report`` sees only bucket masses; KS sees the whole
    CDF).

    D = max over observed values of |F_a(v) - F_b(v)| is computed as
    the exact integer |n_b * cum_a(v) - n_a * cum_b(v)| maximized over
    the DISTINCT-value table, with the single division at the end.

    ONE fully-lazy plan, ZERO driver jobs at build (r13 opt — the old
    shape ran three eager jobs per call: a bounds pull, a subtotal
    collect with a persisted histogram, and the final row
    materialization). The bounds row and the per-bucket prefix-offset
    table are broadcast-join stages of the same query; the cumulative
    window stays partitioned BY BUCKET — never a single global sort
    partition over the per-value histogram. The only globally-ordered
    window is the offset prefix over the subtotal table, which is
    bounded by ``buckets`` rows at ANY data scale. The shared
    per-value aggregation subtree is deduplicated at runtime by
    exchange reuse, so the input is scanned once per execution.

    Output: ONE row — ``(n_a, n_b, d_stat, d_at_value, ks_alarm)``
    with ``d_at_value`` the smallest value attaining D and the alarm
    at the classic 95% threshold ``1.358 * sqrt((n_a+n_b)/(n_a*n_b))``.
    Empty input / an empty group raises from inside the plan at
    execution time (same messages as before, now via ``raise_error``).
    """
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    per_value = (
        df.filter(g.isin(group_a, group_b) & v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("_cb"),
        )
    )
    stats = _two_sample_stats(
        per_value, "_ca", "_cb", buckets,
        f"ks_two_sample: no rows in groups {group_a!r}/{group_b!r}",
        "ks_two_sample: empty sample (n_a=%d, n_b=%d)",
    )
    pv = per_value.crossJoin(F.broadcast(stats)).withColumn(
        "_bucket",
        ((F.col("_v") - F.col("_lo")) / F.col("_width")).cast("long"),
    )
    sub = pv.groupBy("_bucket").agg(
        F.sum("_ca").alias("sa"), F.sum("_cb").alias("sb")
    )
    # prefix offsets over the (<= buckets)-row subtotal table: the one
    # globally-ordered window in the plan, bounded by the buckets
    # parameter, not by the data
    woff = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = sub.select(
        "_bucket",
        F.coalesce(F.sum("sa").over(woff), F.lit(0)).alias("_oa"),
        F.coalesce(F.sum("sb").over(woff), F.lit(0)).alias("_ob"),
    )
    w = (
        Window.partitionBy("_bucket")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        pv.join(F.broadcast(offs), "_bucket")
        .select(
            "_v", "_na", "_nb",
            (F.col("_oa") + F.sum("_ca").over(w)).alias("_cuma"),
            (F.col("_ob") + F.sum("_cb").over(w)).alias("_cumb"),
        )
        .select(
            "_v",
            F.abs(
                F.col("_nb") * F.col("_cuma")
                - F.col("_na") * F.col("_cumb")
            ).alias("_dnum"),
        )
    )
    best = cum.agg(
        F.max("_dnum").alias("dnum"),
        F.min_by("_v", F.struct(-F.col("_dnum"), F.col("_v")))
        .alias("d_at_value"),
    )
    den = F.col("_na").cast("double") * F.col("_nb").cast("double")
    # 1.358 * sqrt((n_a+n_b)/(n_a*n_b)) with the same IEEE evaluation
    # order as the oracle's SQL (sum and product exact in double at
    # any n below 2^26 per group; the oracle computes the identical
    # cast-then-divide expression)
    thresh = F.lit(KS_C95) * F.sqrt(
        (F.col("_na") + F.col("_nb")).cast("double") / den
    )
    return best.crossJoin(F.broadcast(stats)).select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(F.col("dnum").cast("double") / den, 6).alias("d_stat"),
        F.col("d_at_value").cast("long").alias("d_at_value"),
        (F.col("dnum").cast("double") / den > thresh).alias("ks_alarm"),
    )


def wasserstein_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    buckets: int = 64,
) -> DataFrame:
    """Exact two-sample Wasserstein-1 (earth-mover) distance on an
    INTEGER value column — the magnitude companion to ``ks_two_sample``
    (KS reports the worst CDF gap; W1 integrates ALL of it, so a
    small-but-everywhere drift that KS under-ranks shows up here).

    W1 = sum over distinct values v of |F_a(v) - F_b(v)| * gap(v),
    gap(v) = next distinct value - v (the CDFs are step functions on
    the integer grid, so this is exact, not quadrature). Computed as
    the integer |n_b*cum_a - n_a*cum_b| * gap with one division at
    the end.

    Same fully-lazy single-plan shape as :func:`ks_two_sample`
    (r13 opt): bounds + per-bucket offsets ride broadcast joins, the
    cumulative window is partitioned BY BUCKET, and the cross-bucket
    gap (last value of bucket k to first value of bucket k+1) comes
    from a ``lead`` over the bounded subtotal table — no global lead
    over the histogram; the global maximum's gap is irrelevant because
    its CDF difference is identically zero.

    Output: ONE row ``(n_a, n_b, w1, w1_normalized)`` with
    ``w1_normalized = w1 / (max_v - min_v)`` (scale-free, in [0,1])."""
    v = F.col(value_col).cast("long")
    g = F.col(group_col)
    per_value = (
        df.filter(g.isin(group_a, group_b) & v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("_cb"),
        )
    )
    stats = _two_sample_stats(
        per_value, "_ca", "_cb", buckets,
        f"wasserstein_two_sample: no rows in groups "
        f"{group_a!r}/{group_b!r}",
        "wasserstein_two_sample: empty sample (n_a=%d, n_b=%d)",
    )
    pv = per_value.crossJoin(F.broadcast(stats)).withColumn(
        "_bucket",
        ((F.col("_v") - F.col("_lo")) / F.col("_width")).cast("long"),
    )
    sub = pv.groupBy("_bucket").agg(
        F.sum("_ca").alias("sa"), F.sum("_cb").alias("sb"),
        F.min("_v").alias("mn"),
    )
    woff = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    lead_bucket = Window.orderBy("_bucket")
    offs = sub.select(
        "_bucket",
        F.coalesce(F.sum("sa").over(woff), F.lit(0)).alias("_oa"),
        F.coalesce(F.sum("sb").over(woff), F.lit(0)).alias("_ob"),
        F.lead("mn").over(lead_bucket).alias("_nxt"),
    )
    w = (
        Window.partitionBy("_bucket")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lead_w = Window.partitionBy("_bucket").orderBy("_v")
    contrib = (
        pv.join(F.broadcast(offs), "_bucket")
        .select(
            "_v",
            (F.col("_oa") + F.sum("_ca").over(w)).alias("_cuma"),
            (F.col("_ob") + F.sum("_cb").over(w)).alias("_cumb"),
            # gap to the next distinct value: in-bucket lead, else the
            # next bucket's first value; the global max gets 0 (its
            # CDF difference is 0 so the term vanishes either way)
            (
                F.coalesce(
                    F.lead("_v").over(lead_w), F.col("_nxt"), F.col("_v")
                ) - F.col("_v")
            ).alias("_gap"),
            F.col("_na"),
            F.col("_nb"),
        )
        .select(
            (
                F.abs(
                    F.col("_nb") * F.col("_cuma")
                    - F.col("_na") * F.col("_cumb")
                ) * F.col("_gap")
            ).alias("_term")
        )
    )
    total = contrib.agg(F.sum("_term").alias("num"))
    denom = F.col("_na").cast("double") * F.col("_nb").cast("double")
    span = F.when(
        F.col("_hi") > F.col("_lo"),
        (F.col("_hi") - F.col("_lo")).cast("double"),
    ).otherwise(F.lit(1.0))
    return total.crossJoin(F.broadcast(stats)).select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(F.col("num").cast("double") / denom, 6).alias("w1"),
        F.round(
            F.col("num").cast("double") / denom / span, 6
        ).alias("w1_normalized"),
    )
