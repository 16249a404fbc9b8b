"""Physical-plan assertions for the corpus-curation queries: the
shuffle/broadcast properties that survive a 100x scale-up."""

import re

from google_analytics_to_s3_spark.plans.driver_queries_curation import (
    q_contamination_screen,
    q_lm_typicality,
    q_mixture_sample,
    q_pack_sequences,
    q_pii_scan,
    q_vocab_oov,
)

from .plan_signature import plan_text


def test_pii_scan_is_map_side_only(spark, sf_smoke):
    plan = plan_text(q_pii_scan(spark, sf_smoke))
    assert "Join" not in plan, plan
    # the only exchange is load_parallel's round-robin spread
    assert "Exchange hashpartitioning" not in plan, plan


def test_mixture_sample_is_map_side_only(spark, sf_smoke):
    plan = plan_text(q_mixture_sample(spark, sf_smoke))
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_pack_sequences_partitions_by_shard(spark, sf_smoke):
    plan = plan_text(q_pack_sequences(spark, sf_smoke))
    assert "Join" not in plan, plan
    # the cumsum window partitions by source shard — never a global sort
    assert re.search(r"hashpartitioning\(source", plan), plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_contamination_eval_side_broadcast(spark, sf_smoke):
    plan = plan_text(q_contamination_screen(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # no exchange carries the document text — only digests shuffle
    for frag in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in frag, plan


def test_lm_typicality_model_broadcast(spark, sf_smoke):
    plan = plan_text(q_lm_typicality(spark, sf_smoke))
    # both the O(alphabet^2) model join and the first-char totals join
    # must broadcast; (doc, bigram) rows shuffle for aggregation only
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_vocab_oov_vocab_broadcast(spark, sf_smoke):
    plan = plan_text(q_vocab_oov(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tfidf_df_table_broadcast(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_curation import (
        q_tfidf_top_terms,
    )

    plan = plan_text(q_tfidf_top_terms(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bm25_single_agg_plus_broadcast_stats(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_curation import (
        q_bm25_search,
    )

    plan = plan_text(q_bm25_search(spark, sf_smoke))
    # corpus stats reach the per-doc rows via a broadcast nested-loop of
    # a SINGLE row (that is the one legitimate BNLJ shape) — never a
    # shuffle join; top-k must be TakeOrdered, not a global window sort
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_linear_count_distinct_buckets_only(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_curation import (
        q_linear_count_users,
    )

    plan = plan_text(q_linear_count_users(spark, sf_smoke))
    # the sketch shuffle carries (event_type, bucket) — never user_id
    # past the partial aggregate
    assert "CartesianProduct" not in plan, plan
    import re

    for frag in re.findall(
        r"Exchange hashpartitioning\(([^)]*)\)", plan
    ):
        assert "b#" in frag or "event_type" in frag, plan


def test_event_anomalies_stats_broadcast(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_curation import (
        q_event_anomalies,
    )

    plan = plan_text(q_event_anomalies(spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_repetition_signals_shuffles_grams_not_text(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_curation import (
        q_repetition_signals,
    )

    plan = plan_text(q_repetition_signals(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    # per leg: (doc, gram) partial-agg exchange then doc exchange; the
    # 2-gram/3-gram join reuses the doc_id partitioning — document text
    # itself must never be a shuffle key
    for frag in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in frag, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 4, plan


def test_hll_users_register_exchange_only(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_curation import (
        q_hll_users,
    )

    plan = plan_text(q_hll_users(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    # the sketch leg's shuffle carries (event_type, bucket) register
    # rows; the raw 56-bit hash must be folded before any exchange
    # (the exact-count calibration leg legitimately shuffles user_id)
    for frag in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "h#" not in frag, plan
