"""Graph operators: known structures (components, chains, cliques,
stars), convergence guards, and differential checks against small
plain-Python replays on a seeded random multigraph."""

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


def test_triangle_counts_releases_pins_when_checkpoint_fails(
        spark, monkeypatch):
    from google_analytics_to_s3_spark.operators import graph

    def _fail(df, eager=False):
        df.count()  # the job runs, filling both edge pins, then fails
        raise RuntimeError("checkpoint failed")

    spark.catalog.clearCache()
    before = _cached_rdd_ids(spark)
    monkeypatch.setattr(graph, "serialized_checkpoint", _fail)
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        graph.triangle_counts(df)
    # the undirected and oriented edge pins are both released
    assert _cached_rdd_ids(spark) == before


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


# ---------------------------------------------------------------------------
# Differential checks on a seeded random multigraph: duplicate edges, both
# orientations of some edges, self-loops, sink-only and isolated nodes.
# Each operator is compared with a small plain-Python replay of its
# documented semantics.

def _multigraph(seed=11, n=24, m=80):
    import random

    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges += edges[:12]                            # duplicates
    edges += [(b, a) for a, b in edges[12:24]]     # reversed copies
    edges += [(v, v) for v in range(0, n, 5)]      # self-loops
    edges += [(3, 100), (5, 101), (100, 101)]      # 101 is a sink
    edges += [(200, 200), (300, 301)]              # loop-only node, pair
    return edges


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def _union_find_ref(edges):
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _pagerank_ref(edges, n_iters):
    import math
    from collections import Counter

    from google_analytics_to_s3_spark.operators.graph import (
        PR_DAMP,
        PR_SCALE,
    )

    nodes = {v for e in edges for v in e}
    n = len(nodes)
    outdeg = Counter(a for a, _ in edges)
    base = int(0.15 * PR_SCALE / n)
    rank = dict.fromkeys(nodes, PR_SCALE // n)
    for _ in range(n_iters):
        share = sum(rank[v] for v in nodes if v not in outdeg) // n
        inc = Counter()
        for a, b in edges:
            inc[b] += rank[a] // outdeg[a]
        rank = {
            v: base + math.floor(PR_DAMP * float(inc[v] + share))
            for v in nodes
        }
    return rank


def _lpa_ref(seeds, edges, rounds):
    from collections import Counter

    und = {(a, b) for a, b in edges if a != b}
    mirrored = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    lbl = dict(seeds)
    for _ in range(rounds):
        votes = Counter(
            (b, lbl[a]) for a, b in mirrored if lbl.get(a) is not None
        )
        best = {}
        for (v, label), k in votes.items():
            if v not in best or (-k, label) < best[v]:
                best[v] = (-k, label)
        lbl = {
            v: seeds[v] if seeds[v] is not None
            else (best[v][1] if v in best else lbl[v])
            for v in seeds
        }
    return lbl


def _modularity_ref(edges, assignment):
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    m = len(und)
    lab = {v: c for v, c in assignment.items() if c is not None}
    both = [(lab[a], lab[b]) for a, b in und if a in lab and b in lab]
    rows = {}
    for c in set(lab.values()):
        e_in = sum(1 for la, lb in both if la == c == lb)
        deg = sum((la == c) + (lb == c) for la, lb in both)
        n_nodes = sum(1 for v in lab.values() if v == c)
        rows[c] = (n_nodes, e_in, deg, 4 * m * e_in - deg * deg)
    q = sum(r[3] for r in rows.values()) / (4 * m * m)
    return rows, 4 * m * m, q


def test_connected_components_matches_union_find(spark):
    edges = _multigraph()
    got = _components(spark, edges)
    assert got == _union_find_ref(edges)


def test_pagerank_matches_integer_grid_replay(spark):
    from google_analytics_to_s3_spark.operators.graph import pagerank

    edges = _multigraph()
    got = {
        r.node: r.rank_q
        for r in pagerank(_edges_df(spark, edges), n_iters=3).collect()
    }
    assert got == _pagerank_ref(edges, 3)


def test_label_propagation_matches_replay(spark):
    from google_analytics_to_s3_spark.operators.graph import (
        label_propagation,
    )

    edges = _multigraph()
    domain = sorted({v for e in edges for v in e} | {400, 401})
    seeds = {v: (f"L{v % 3}" if v % 4 == 0 else None) for v in domain}
    nodes = spark.createDataFrame(
        list(seeds.items()), "node long, label string"
    )
    got = {
        r.node: r.label
        for r in label_propagation(
            nodes, _edges_df(spark, edges), rounds=3, assume_distinct=False
        ).collect()
    }
    assert got == _lpa_ref(seeds, edges, 3)


@pytest.mark.parametrize("canonical", [False, True])
def test_modularity_matches_exact_replay(spark, canonical):
    from google_analytics_to_s3_spark.operators.graph import (
        community_modularity,
    )

    edges = _multigraph()
    if canonical:
        # the shape assume_canonical promises: distinct (low, high)
        edges = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    domain = sorted({v for e in edges for v in e})
    assignment = {
        v: (None if v % 7 == 0 else f"C{v % 3}") for v in domain
    }
    labels = spark.createDataFrame(
        list(assignment.items()), "node long, label string"
    )
    out = community_modularity(
        _edges_df(spark, edges), labels, assume_canonical=canonical
    ).collect()
    rows, denom, q = _modularity_ref(edges, assignment)
    assert {r.label for r in out} == set(rows)
    for r in out:
        n_nodes, e_in, deg, term = rows[r.label]
        assert (r.n_nodes, r.e_in, r.deg_sum) == (n_nodes, e_in, deg)
        assert abs(r.contribution - term / denom) <= 1e-6
        assert abs(r.modularity - q) <= 1e-6


def test_mirrored_tables_scan_their_input_once(spark, monkeypatch):
    """label_propagation's mirrored edge table and pagerank's node
    table each read their input in ONE scan: no Union in either
    persisted plan (a union of the two orientations scans it twice).
    The two edge-grain caches are sorted within partitions by their
    join key before they are pinned: a local Sort tops each plan."""
    import re

    from google_analytics_to_s3_spark.operators.graph import (
        label_propagation,
        pagerank,
    )

    edges = _edges_df(spark, _multigraph())
    nodes = spark.createDataFrame(
        [(v, "x" if v == 0 else None) for v in range(24)],
        "node long, label string",
    )
    cls = type(edges)
    persist = cls.persist
    plans = {}

    def spy(self, *args, **kwargs):
        plans[tuple(self.columns)] = (
            self._jdf.queryExecution().optimizedPlan().toString()
        )
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", spy)
    label_propagation(nodes, edges, rounds=1).collect()
    pagerank(edges, n_iters=1).collect()
    for key in [("_a", "_b"), ("node", "is_dang")]:
        assert key in plans, sorted(plans)
        assert not re.search(r"\bUnion\b", plans[key]), plans[key]
    for key in [("_a", "_b"), ("c_src", "c_dst", "_w", "deg")]:
        assert key in plans, sorted(plans)
        # ``Sort [key ASC NULLS FIRST], false``: false = not global
        top = plans[key].splitlines()[0]
        assert re.fullmatch(
            rf"Sort \[{key[0]}#\d+L? ASC NULLS FIRST\], false", top
        ), plans[key]


def test_label_propagation_releases_its_edge_cache(spark):
    """The mirrored edge table is cached for the rounds and released
    before the call returns: repeated calls on different edge lists
    accumulate no cached RDD, and the returned labels are still
    readable (the last round is materialized first)."""
    from google_analytics_to_s3_spark.operators.graph import (
        label_propagation,
    )

    before = _cached_rdd_ids(spark)
    for seed in (3, 5, 7):
        edges = _multigraph(seed=seed)
        domain = sorted({v for e in edges for v in e})
        seeds = {v: ("x" if v % 5 == 0 else None) for v in domain}
        nodes = spark.createDataFrame(
            list(seeds.items()), "node long, label string"
        )
        out = label_propagation(nodes, _edges_df(spark, edges), rounds=2)
        assert _cached_rdd_ids(spark) == before
        got = {r.node: r.label for r in out.collect()}
        assert got == _lpa_ref(seeds, edges, 2)


def _job_descriptions(spark):
    """Descriptions of the jobs the status store still holds."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    out = set()
    for i in range(jobs.size()):
        d = jobs.apply(i).description()
        if d.isDefined():
            out.add(d.get())
    return out


def test_graph_rounds_name_their_jobs(spark):
    """The jobs pagerank and label_propagation run while they are built
    carry the operator's phase as their description (event log, UI),
    and the caller's description is back afterwards."""
    from google_analytics_to_s3_spark.operators.graph import (
        label_propagation,
        pagerank,
    )

    edges = _edges_df(spark, _multigraph(seed=13))
    nodes = spark.createDataFrame(
        [(v, "x" if v == 0 else None) for v in range(24)],
        "node long, label string",
    )
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("caller's label")
    try:
        pagerank(edges, n_iters=2)
        label_propagation(nodes, edges, rounds=2)
        assert sc.getLocalProperty("spark.job.description") == (
            "caller's label"
        )
    finally:
        sc.setJobDescription(previous)
    assert {
        "pagerank: edge cache",
        "pagerank: round 1",
        "pagerank: round 2",
        "label propagation: round 1",
        "label propagation: round 2",
    } <= _job_descriptions(spark)
