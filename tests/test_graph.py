"""connected_components: known component structures, chain propagation,
convergence guard."""

import pytest

from google_analytics_to_s3_spark.operators.graph import connected_components


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, **kw)
    return {r.id: r.component for r in out.collect()}


def test_two_triangles_and_isolated_edge(spark):
    got = _components(
        spark,
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21)],
    )
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_chain_needs_diameter_rounds(spark):
    # 0-1-2-...-9: min label must walk the whole chain
    got = _components(spark, [(i, i + 1) for i in range(9)])
    assert set(got.values()) == {0}
    assert len(got) == 10


def test_bridge_merges_components(spark):
    got = _components(spark, [(1, 2), (3, 4), (2, 3)])
    assert set(got.values()) == {1}


def test_convergence_guard_raises(spark):
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _components(spark, [(i, i + 1) for i in range(30)], max_iters=3)


def test_star_matches_propagation(spark):
    """Star contraction and min-label propagation must agree on the
    real 1-NN graph."""
    from pyspark.sql import functions as F

    from google_analytics_to_s3_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )
    from google_analytics_to_s3_spark.operators.similarity import (
        knn_brute_force,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 300)
    edges = knn_brute_force(emb, emb, k=1).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    ).localCheckpoint()
    a = {
        (r["id"], r["component"])
        for r in connected_components(edges).collect()
    }
    b = {
        (r["id"], r["component"])
        for r in connected_components_star(edges).collect()
    }
    assert a == b and len(a) > 0


def test_star_handles_long_chain_where_propagation_stalls(spark):
    """A 60-hop chain needs 60 propagation rounds (the raise-path) but
    only O(log n) star rounds — the documented reason the variant
    exists."""
    import pytest

    from google_analytics_to_s3_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components_star(chain).collect()
    }
    assert got == {(i, 0) for i in range(61)}
    before = _cached_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, max_iters=10)
    # the persisted edge tables are released on the raise path too
    assert _cached_rdd_ids(spark) == before


def _cached_rdd_ids(spark):
    """Ids of persisted RDDs other than local checkpoints (the round
    tables' lineage cuts, which the returned frames read)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {k for k, r in rdds.items() if not r.rdd().isLocallyCheckpointed()}


def test_pagerank_hub_ranks_highest(spark):
    import pyspark.sql.functions as F

    from google_analytics_to_s3_spark.operators.graph import (
        PR_SCALE,
        pagerank,
    )

    # star: node 0 linked to 1..5, symmetric -> hub gets max rank
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    r = {row["node"]: row["rank_q"] for row in pagerank(df, 3).collect()}
    assert max(r, key=r.get) == 0
    leaves = [r[i] for i in range(1, 6)]
    assert len(set(leaves)) == 1  # symmetric leaves tie exactly
    # total mass stays ~1.0 (integer-floor losses only shrink it)
    total = sum(r.values()) / PR_SCALE
    assert 0.97 < total <= 1.0


def test_pagerank_dangling_sink_mass_redistributed(spark):
    from google_analytics_to_s3_spark.operators.graph import (
        PR_DAMP,
        PR_SCALE,
        pagerank,
    )

    # 0 -> 1 -> 2, node 2 is a sink (out-degree 0): its mass must be
    # redistributed, not silently dropped
    df = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    got = {r["node"]: r["rank_q"] for r in pagerank(df, 3).collect()}

    # replay the documented integer-grid recurrence in pure Python
    n = 3
    base = int(0.15 * PR_SCALE / n)
    rank = {v: PR_SCALE // n for v in range(3)}
    out = {0: [1], 1: [2], 2: []}
    for _ in range(3):
        share = rank[2] // n
        inc = {v: 0 for v in range(3)}
        for u, vs in out.items():
            for v in vs:
                inc[v] += rank[u] // len(vs)
        rank = {
            v: base + int(PR_DAMP * float(inc[v] + share))
            for v in range(3)
        }
    assert got == rank
    # mass conserved up to integer-floor loss
    assert 0.97 < sum(got.values()) / PR_SCALE <= 1.0


def test_triangle_counts_k4_plus_chain(spark):
    from google_analytics_to_s3_spark.operators.graph import triangle_counts

    # K4 on {0,1,2,3}: C(4,3)=4 triangles, every node in exactly 3.
    # Chain 10-11-12: triangle-free, all zeros. Edge 3-10 bridges the
    # two (creates no triangle). Duplicate + reversed edges must not
    # double-count.
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(10, 11), (11, 12), (3, 10)] + [(1, 0), (2, 1), (0, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 10: 0, 11: 0, 12: 0}


def test_triangle_counts_star_hub_no_blowup(spark):
    from google_analytics_to_s3_spark.operators.graph import triangle_counts

    # star hub of degree 50 with one rim edge: exactly 1 triangle; the
    # degree orientation points every spoke INTO the hub so the hub
    # generates no wedges itself
    edges = [(0, i) for i in range(1, 51)] + [(1, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got[0] == 1 and got[1] == 1 and got[2] == 1
    assert sum(got.values()) == 3


def test_k_core_peels_chain_keeps_cliques(spark):
    from google_analytics_to_s3_spark.operators.graph import k_core

    # chain 0-1-...-20 + K4 on {30,31,32,33} + spoke 33-34
    edges = [(i, i + 1) for i in range(20)]
    edges += [(a, b) for a in range(30, 34) for b in range(30, 34) if a < b]
    edges += [(33, 34)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r["id"], r["core_degree"])
        for r in k_core(df, k=3, n_rounds=4).collect()
    }
    assert got == {(30, 3), (31, 3), (32, 3), (33, 3)}
    # convergence margin: one more round changes nothing
    got5 = {
        (r["id"], r["core_degree"])
        for r in k_core(df, k=3, n_rounds=5).collect()
    }
    assert got5 == got
    # an open chain has NO 2-core — it peels from both ends, two nodes
    # per round, so given enough rounds only the clique remains (the
    # bounded-round contract: n_rounds must cover the peel depth)
    got2 = {r["id"] for r in k_core(df, k=2, n_rounds=12).collect()}
    assert got2 == {30, 31, 32, 33}


def test_weighted_pagerank_mass_follows_weights(spark):
    """Edge weights split a node's rank proportionally: hub h points
    at a with weight 9 and b with weight 1 -> a outranks b; the
    weight-1 path stays identical to the historical unweighted
    behavior (pinned by part_pagerank's unchanged oracle)."""
    from pyspark.sql import functions as F

    from google_analytics_to_s3_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("h", "a", 9), ("h", "b", 1), ("a", "h", 1), ("b", "h", 1)],
        "src string, dst string, w long",
    )
    r = {x.node: x.rank_q for x in
         pagerank(edges, n_iters=3, weight="w").collect()}
    assert r["a"] > r["b"]
    # unweighted: a and b tie exactly
    ru = {x.node: x.rank_q for x in
          pagerank(edges.drop("w"), n_iters=3).collect()}
    assert ru["a"] == ru["b"]


def test_modularity_exact_on_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge, true partition:
    m = 13; per clique e_in = 6, deg = 13 -> Q = 2*(4*13*6 - 169)/676."""
    from google_analytics_to_s3_spark.operators.graph import (
        community_modularity,
    )

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        c1 + c2 + [(0, 10)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(i, "A") for i in range(4)] + [(i + 10, "B") for i in range(4)],
        "node long, label string",
    )
    rows = {r.label: r for r in
            community_modularity(edges, labels).collect()}
    q = 2 * (4 * 13 * 6 - 13 * 13) / (4 * 13 * 13)
    assert rows["A"].e_in == 6 and rows["A"].deg_sum == 13
    assert rows["A"].modularity == round(q, 6)
    assert rows["A"].contribution == round((4 * 13 * 6 - 169) / 676, 6)


def test_modularity_random_split_near_zero(spark):
    from pyspark.sql import functions as F

    from google_analytics_to_s3_spark.operators.graph import (
        community_modularity,
    )

    edges = spark.range(400).select(
        (F.xxhash64("id") % 50).alias("src"),
        (F.xxhash64("id", F.lit(1)) % 50).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    labels = spark.range(50).select(
        F.col("id").alias("node"),
        (F.col("id") % 2).cast("string").alias("label"),
    )
    q = community_modularity(edges, labels).collect()[0].modularity
    assert abs(q) < 0.15  # random bisection has no structure
