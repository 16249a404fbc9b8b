"""Physical-plan rules for the round-7 queries — the properties that
survive a 100x scale-up: broadcasts where a side is literal-sized, no
join where a pivot or a window does the work, no gather into a single
partition, and the documented grain-compaction before any
unpartitioned window.

The node rules are rows of ``plan_signature.INVARIANTS``, checked here
on each query's golden signature (``test_driver_queries.py`` ties that
signature to the plan it oracle-checks, and applies the package-wide
no-CartesianProduct, no-row-level-Python rows). Only the node ORDER
rule of survival_curve needs the plan text."""

from .plan_signature import assert_golden_keeps_invariants, plan_text


def test_survival_curve_windows_on_duration_grain(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_analytics import (
        q_survival_curve,
    )

    plan = plan_text(q_survival_curve(spark, sf_smoke))
    # the KM windows must consume the (cohort, duration) aggregate,
    # not subject rows: Window sits above HashAggregate in the tree
    assert plan.index("Window") < plan.index("HashAggregate"), plan


def test_shapley_lattice_joins_are_broadcast():
    # every lattice-side join is a broadcast of a literal-sized frame
    assert_golden_keeps_invariants("shapley_attribution")


def test_msprt_single_pass_to_period_grain():
    # pivot by conditional agg, no join
    assert_golden_keeps_invariants("msprt_monitor")


def test_binary_auc_score_grain_window():
    # no join, and never a global SinglePartition sort: window
    # partitioned by group
    assert_golden_keeps_invariants("binary_auc")


def test_calibration_single_aggregation():
    assert_golden_keeps_invariants("calibration_report")


def test_robust_outliers_broadcast_reentry():
    # med/mad re-enter via broadcast hash joins on the raw group cols
    assert_golden_keeps_invariants("robust_outliers")
