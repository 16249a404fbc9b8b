"""Property-based tests (hypothesis) for the round-7 operators:
exact ranking (both execution paths), Kaplan-Meier invariants, and
ROC-AUC algebraic identities."""

from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

rank_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),   # metric (heavy ties)
        st.integers(min_value=0, max_value=10**6),  # tie key seed
    ),
    min_size=1,
    max_size=50,
    unique_by=lambda t: t[1],
)


@settings(max_examples=10, deadline=None)
@given(rank_rows)
def test_exact_ntiles_both_paths_match_sql_window(spark_prop, rows):
    from google_analytics_to_s3_spark.operators.indexing import (
        exact_ntiles,
    )

    df = spark_prop.createDataFrame(
        [(k, m) for m, k in rows], "k long, m long"
    )
    w = Window.orderBy(F.col("m").asc(), F.col("k").asc())
    want = sorted(
        map(tuple, df.select(
            "k", "m", F.ntile(4).over(w).cast("int").alias("s")
        ).collect())
    )
    for thr in (0, 10**9):  # sketch path, fast path
        got = sorted(map(tuple, exact_ntiles(
            df, [("m", "k", "s")], tiles=4, buckets=4,
            small_n_threshold=thr,
        ).collect()))
        assert got == want, thr


km_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),   # group
        st.integers(min_value=1, max_value=8),   # duration
        st.integers(min_value=0, max_value=1),   # event flag
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(km_rows)
def test_kaplan_meier_invariants(spark_prop, rows):
    from google_analytics_to_s3_spark.operators.stats import (
        kaplan_meier,
    )

    df = spark_prop.createDataFrame(
        [(f"g{g}", d, e) for g, d, e in rows],
        "g string, dur long, ev int",
    )
    out = kaplan_meier(df, "dur", "ev", ["g"]).collect()
    by_g: dict = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r)
    raw: dict = {}
    for g, d, e in rows:
        raw.setdefault(f"g{g}", []).append((d, e))
    for g, rs in by_g.items():
        rs.sort(key=lambda r: r["t"])
        # survival is in [0,1] and non-increasing over event times
        surv = [r["survival"] for r in rs]
        assert all(0.0 <= s <= 1.0 for s in surv)
        assert all(a >= b for a, b in zip(surv, surv[1:]))
        # n_at_risk matches the subjects with duration >= t, and rows
        # exist exactly for event timepoints
        subj = raw[g]
        for r in rs:
            assert r["n_at_risk"] == sum(1 for d, _ in subj if d >= r["t"])
            assert r["d_events"] == sum(
                1 for d, e in subj if d == r["t"] and e == 1
            )
            assert r["d_events"] >= 1
        event_ts = {d for d, e in subj if e == 1}
        assert {r["t"] for r in rs} == event_ts


def _round6(x: Fraction) -> float:
    """SQL ``round(x, 6)``: half away from zero, as Spark and DuckDB
    round. Python's ``round`` goes half to even, so on an exact tie
    (54.5 / 64 = 0.8515625) it is one millionth below."""
    return float((Decimal(x.numerator) / Decimal(x.denominator))
                 .quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


auc_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),   # score (ties likely)
        st.integers(min_value=0, max_value=1),   # label
    ),
    min_size=2,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(auc_rows)
def test_binary_auc_identities(spark_prop, rows):
    from google_analytics_to_s3_spark.operators.stats import binary_auc

    df = spark_prop.createDataFrame(
        [("g", float(s), y) for s, y in rows], "g string, s double, y int"
    )
    r = binary_auc(df, "s", "y", ["g"]).collect()[0]
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    if not pos or not neg:
        assert r["auc"] is None
        return
    assert 0.0 <= r["auc"] <= 1.0
    # brute-force pairwise definition (ties count half), exact
    wins = sum(
        (Fraction(1) if p > n else Fraction(1, 2) if p == n else 0
         for p in pos for n in neg),
        Fraction(0),
    )
    auc = wins / (len(pos) * len(neg))
    assert r["auc"] == _round6(auc)
    # label flip symmetry: AUC' == 1 - AUC
    df2 = spark_prop.createDataFrame(
        [("g", float(s), 1 - y) for s, y in rows],
        "g string, s double, y int",
    )
    r2 = binary_auc(df2, "s", "y", ["g"]).collect()[0]
    assert r2["auc"] == _round6(1 - auc)
