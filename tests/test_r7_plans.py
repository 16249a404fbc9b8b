"""Physical-plan assertions for the round-7 queries — the properties
that survive a 100x scale-up: no cartesian products, no row-level
Python, broadcasts where a side is literal-sized, and the documented
grain-compaction before any unpartitioned window."""

from .plan_signature import plan_text


def _assert_hygiene(plan: str):
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan  # no row-level Python


def test_survival_curve_windows_on_duration_grain(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_analytics import (
        q_survival_curve,
    )

    plan = plan_text(q_survival_curve(spark, sf_smoke))
    _assert_hygiene(plan)
    # the KM windows must consume the (cohort, duration) aggregate,
    # not subject rows: Window sits above HashAggregate in the tree
    assert plan.index("Window") < plan.index("HashAggregate"), plan


def test_shapley_lattice_joins_are_broadcast(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_enrich import (
        q_shapley_attribution,
    )

    plan = plan_text(q_shapley_attribution(spark, sf_smoke))
    _assert_hygiene(plan)
    # every lattice-side join is a broadcast of a literal-sized frame
    assert "SortMergeJoin" not in plan, plan


def test_msprt_single_pass_to_period_grain(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_analytics import (
        q_msprt_monitor,
    )

    plan = plan_text(q_msprt_monitor(spark, sf_smoke))
    _assert_hygiene(plan)
    assert "Join" not in plan, plan  # pivot by conditional agg, no join


def test_binary_auc_score_grain_window(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_analytics import (
        q_binary_auc,
    )

    plan = plan_text(q_binary_auc(spark, sf_smoke))
    _assert_hygiene(plan)
    assert "Join" not in plan, plan
    # never a global SinglePartition sort: window partitioned by group
    assert "SinglePartition" not in plan, plan


def test_calibration_single_aggregation(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_analytics import (
        q_calibration_report,
    )

    plan = plan_text(q_calibration_report(spark, sf_smoke))
    _assert_hygiene(plan)
    assert "SortMergeJoin" not in plan, plan


def test_robust_outliers_broadcast_reentry(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_analytics import (
        q_robust_outliers,
    )

    plan = plan_text(q_robust_outliers(spark, sf_smoke))
    _assert_hygiene(plan)
    # med/mad re-enter via broadcast hash joins on the raw group cols
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
