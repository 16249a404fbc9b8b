"""Physical-plan assertions for the TPC-H-shaped queries: dims must
broadcast, filters must reach the scans, and nothing may plan a
cartesian product. These are the properties that survive a 100× data
scale-up — the row counts alone would not catch a regression to a
shuffle-everything plan."""

import re

import pytest

from google_analytics_to_s3_spark.plans.driver_queries import (
    q_forecast_revenue,
    q_local_supplier_volume,
    q_market_share,
    q_returned_items,
    q_shipping_priority,
    q_volume_shipping,
)


@pytest.mark.parametrize(
    "fn",
    [
        q_shipping_priority,
        q_local_supplier_volume,
        q_volume_shipping,
        q_market_share,
        q_returned_items,
    ],
)
def test_no_cartesian_or_nested_loop(spark, sf_smoke, fn):
    plan = plan_text(fn(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize(
    "fn,n_broadcast",
    [(q_volume_shipping, 3), (q_market_share, 4), (q_returned_items, 1)],
)
def test_dims_broadcast(spark, sf_smoke, fn, n_broadcast):
    plan = plan_text(fn(spark, sf_smoke))
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= n_broadcast, plan


def test_q6_pushdown_and_pruning(spark, sf_smoke):
    plan = plan_text(q_forecast_revenue(spark, sf_smoke), "formatted")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    # only the 4 referenced columns are read from a 16-column table
    assert len(m.group(1).split(",")) == 4, m.group(1)


def test_volume_shipping_nation_prefilter_reaches_scan(spark, sf_smoke):
    """The isin() pre-filter must hit the nation scans so the broadcast
    sides shrink to the pair before the fact join."""
    plan = plan_text(q_volume_shipping(spark, sf_smoke), "formatted")
    assert re.search(r"PushedFilters: \[.*In\(n_name", plan), plan

# ---- Q13/Q15/Q17/Q19/Q22 variants (driver_queries_tpch) ----

from google_analytics_to_s3_spark.plans.driver_queries_tpch import (  # noqa: E402
    q_brand_disjunction_revenue,
    q_customer_distribution,
    q_small_qty_revenue,
    q_top_supplier,
)

from .plan_signature import plan_text


@pytest.mark.parametrize(
    "fn",
    [
        q_customer_distribution,
        q_top_supplier,
        q_small_qty_revenue,
        q_brand_disjunction_revenue,
    ],
)
def test_tpch2_no_cartesian_or_nested_loop(spark, sf_smoke, fn):
    plan = plan_text(fn(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_customer_distribution_reuses_join_exchange(spark, sf_smoke):
    """groupBy(c_custkey) right after the custkey join must NOT add a
    second shuffle of the joined rows — same key, exchange reused."""
    plan = plan_text(q_customer_distribution(spark, sf_smoke))
    # exactly: one exchange per input side + one for the tiny final
    # re-agg on c_count; a 4th would mean the join output was reshuffled
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3, plan


def test_top_supplier_broadcasts_winner_not_supplier(spark, sf_smoke):
    plan = plan_text(q_top_supplier(spark, sf_smoke))
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2, plan


def test_q19_prefilters_reach_scans(spark, sf_smoke):
    plan = plan_text(q_brand_disjunction_revenue(spark, sf_smoke), "formatted")
    assert re.search(r"PushedFilters: \[.*In\(p_brand", plan), plan
    assert re.search(
        r"PushedFilters: \[.*GreaterThanOrEqual\(l_quantity,1", plan
    ), plan
    assert "BroadcastHashJoin" in plan, plan


def test_blocking_supplier_single_fact_scan(spark, sf_smoke):
    """The Q21-shaped decorrelation must scan lineitem ONCE (windows,
    not agg-rejoin) and move it through a single order-key exchange."""
    from google_analytics_to_s3_spark.plans.driver_queries_tpch import (
        q_blocking_supplier,
    )

    plan = plan_text(q_blocking_supplier(spark, sf_smoke))
    assert plan.count("FileScan") == 3, plan  # lineitem + 2 dims
    assert plan.count("hashpartitioning(l_orderkey") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_min_cost_supplier_no_self_join(spark, sf_smoke):
    """The Q2-shaped per-part argmin runs as a window over the
    aggregated (part, supplier) table: one fact scan, no fact-fact
    join, dims broadcast."""
    from google_analytics_to_s3_spark.plans.driver_queries_tpch import (
        q_min_cost_supplier,
    )

    plan = plan_text(q_min_cost_supplier(spark, sf_smoke))
    assert plan.count("FileScan") == 3, plan  # lineitem + 2 dims
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
