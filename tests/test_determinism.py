"""Partitioning-invariance: results must be bit-identical regardless of
shuffle parallelism — the property that makes the integer-grid /
decimal-accumulator design real. A query whose result depends on
partition count would pass its oracle at one setting and fail under
AQE re-planning at scale; these are the value-sensitive shapes
(floating aggregation, iterative grids, sketch buckets, argmax ties,
top-k)."""

import pytest

from google_analytics_to_s3_spark.plans import driver_queries as dq

SENSITIVE = [
    "bpe_merges",         # per-round argmax over weighted counts
    "quantile_sketch",    # double binning + cumulative ranks
    "hll_users",          # register-max buckets
    "lm_typicality",      # integer-grid probability accumulation
    "pq_adc_topk",        # integer-grid distances + top-k ties
    "part_pagerank",      # unrolled integer-grid iterations
    "merge_upsert",       # decimal sums after anti-join/union
    "fuzzy_match",        # block purging thresholds
    "cms_counts",         # sketch counters + min-over-rows
    "graph_triangles",    # kNN tie-breaks + wedge counting
    "dup_spans",          # island merge over flagged positions
    "fuzzy_dedup",        # star-contraction fixpoint + min ids
    "dedup_incremental",  # cross-side min(ref_id) after LSH join
    "embedding_project",  # BIGINT folds inside one projection
    "logreg_quality",     # per-round gradient sums + trunc-div updates
    "global_index",       # bucket-count collect + offset join
    "shuffle_shards",     # hash-ordered window ranks
    "kmv_overlap",        # k-min ranks + IEEE-double estimators
    "rolling_features",   # RANGE-frame sums on the cents grid
    "markov_attribution",  # collected matrix + integer-grid squarings
    "identity_stitching",  # star-contraction fixpoint + min ids
    "bootstrap_ci",       # replicate means + order statistics
    "item_similarity",    # double cosine + top-k ties
    "word_pmi",           # ln over integer count ratios
    # round-5 additions
    "rfm_segments",       # global ntile windows (tie-broken by user)
    "lsh_recall",         # two pair pipelines + ratio of counts
    "psi_drift",          # double PSI sum over bucket proportions
    "ab_cuped",           # pooled moments from windowed BIGINT sums
    "skew_report",        # TakeOrdered top-k under count ties
    "sequence_mining",    # lead chain over (ts, event_id) total order
    "bounce_exit",        # session-window row_numbers + rate doubles
    "incremental_rollup",  # split-derived partial states re-merged
    "session_timelines",  # array_sort-pinned JSON element order
    "label_centroids",    # integer-grid sums + one division per cell
    "min_cost_supplier",  # per-part argmin under unit-price ties
    "blocking_supplier",  # unique-last-shipper under shipdate ties
    "dau_wau_mau",        # windowed distinct counts + bound filter
    "ppm_decode",         # Arrow-batch decode over any partitioning
    "target_encoding",    # broadcast category stats + row division
    "quantile_normalize",  # percent_rank under price ties
    "hashed_features",    # md5 feature indexing + count sums
    # plan-local partition sizing (operators/partitioning.py)
    "knn_components",     # round tables sized from node counts
    "knn_components_star",  # round tables sized from edge counts
    "linkage_clusters",   # spread scan + star-contraction rounds
    "fs_linkage",         # spread scan before the block pair expansion
    "image_dedup_clusters",  # star-contraction fixpoint + min ids
    "label_propagation",  # per-round mode votes under ties
    "community_modularity",  # fused per-community sums + exact-integer Q
    "touchpoints",        # spread events + session windows
    "attribution_models",  # spread events + per-path credit doubles
    "semdedup",           # spread embeddings + cluster-local cosine
    "char_entropy",       # Arrow-batch double folds over sorted chars
]


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.collect()
    )


@pytest.mark.parametrize("name", SENSITIVE)
def test_result_invariant_under_parallelism(spark, sf_smoke, name):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _rows(dq.QUERIES[name](spark, sf_smoke))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = _rows(dq.QUERIES[name](spark, sf_smoke))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b, f"{name}: result depends on shuffle partitioning"
