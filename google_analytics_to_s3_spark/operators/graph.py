"""Connected components over a pair graph — the clustering step that
turns near-duplicate PAIRS (minhash/simhash/cosine joins) into dedup
GROUPS, so a curation pipeline can keep one canonical document per
cluster. Beyond-reference capability (the reference has no graph ops).

Algorithm: iterative min-label propagation as pure DataFrame ops —
every node starts as its own component id and repeatedly takes the min
id over itself and its neighbors; fixpoint = component = min node id
reachable. Rounds needed = max distance from each component's min node
(≈ graph diameter), which for near-dup graphs is small (dup clusters
are near-cliques). For adversarial long-path graphs switch to the
large-star/small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond") — same join/agg primitives, O(log n) rounds.

Scale notes:
- The bidirectional edge list is partitioned ONCE on the join key and
  cached; every iteration's join reuses that layout, so per-round
  cost is one shuffle of the (much smaller) label table + one
  partial-aggregated groupBy min.
- Labels only ever decrease, so sum(labels) is a monotone convergence
  metric: one cheap scalar per round instead of a change-count join.
- ``localCheckpoint`` truncates the lineage each round — iterative
  joins otherwise compound the plan exponentially (analyzer time, not
  data volume, becomes the bottleneck).
- Every cache and lineage cut goes through ``operators/pins.py``
  (serialized, one storage level); every cache is released before the
  operator returns. An edge-grain pin that later rounds re-read is
  sorted within partitions by its join key first (the layout rule in
  ``pins.py``).
- In :func:`pagerank` and :func:`label_propagation` the jobs of each
  phase carry it as their description (``session.job_phase``:
  ``pagerank: round 2``) in the UI and the event log.
- Both orientations of an edge come from :func:`mirror_edges`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import job_phase
from .partitioning import _adaptive_parts
from .pins import serialized_cache, serialized_checkpoint


def mirror_edges(
    df: DataFrame, a: str = "src", b: str = "dst", side: str | None = None
) -> DataFrame:
    """Every row of ``df`` in both orientations, ``(a, b)`` and
    ``(b, a)``, from ONE scan: an in-row explode of a two-element
    struct array. ``x.union(x.select(b, a))`` plans two scans of ``x``
    — two reads of a pinned or cached edge table.

    ``side`` names an optional int column: 1 on the row as given, 0 on
    its swap (which endpoint was the source).
    """

    def row(x: str, y: str, flag: int) -> Column:
        cols = [F.col(x).alias(a), F.col(y).alias(b)]
        if side is not None:
            cols.append(F.lit(flag).alias(side))
        return F.struct(*cols)

    return df.select(
        F.explode(F.array(row(a, b, 1), row(b, a, 0))).alias("_m")
    ).select("_m.*")


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Distinct ordered item pairs (src < dst) co-occurring within a
    group — the co-purchase / co-click edge builder.

    ONE exchange (hash-aggregate the group's item set) + an in-row
    array pair expansion, instead of the equivalent self-join on the
    group key (two exchanges of the full table + a join) — the
    share-one-exchange move of guide §2.4. The set of emitted pairs is
    identical to ``a JOIN b ON a.g = b.g AND a.item < b.item`` followed
    by DISTINCT: collect_set dedups within the group (order-insensitive
    — the pair set is symmetric-free by the < predicate), and the final
    distinct dedups across groups. Pair count per group is k*(k-1)/2
    either way, so the skew profile matches the self-join's.
    """
    pair_expr = (
        f"flatten(transform(_items, x -> "
        f"transform(filter(_items, y -> y > x), "
        f"y -> struct(x AS {src}, y AS {dst}))))"
    )
    return (
        df.groupBy(group_col)
        .agg(F.collect_set(item_col).alias("_items"))
        .select(F.explode(F.expr(pair_expr)).alias("_e"))
        .select(f"_e.{src}", f"_e.{dst}")
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_out: str = "id",
    comp_out: str = "component",
    max_iters: int = 25,
) -> DataFrame:
    """(id, component) for every node appearing in ``edges``; component
    = smallest node id in the connected component (deterministic).

    Raises if the propagation hasn't converged after ``max_iters``
    rounds — for graphs that legitimately need more, raise the cap or
    use a star-contraction variant (see module docstring).
    """
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    bidir = serialized_cache(
        mirror_edges(und, "a", "b").distinct().repartition("a")
    )
    # lazy checkpoints: the per-round convergence aggregate is the
    # action that materializes the round's label table, so each round
    # costs ONE job instead of checkpoint-job + aggregate-job (r13 opt)
    labels = (
        bidir.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    labels = serialized_checkpoint(labels)
    sc = edges.sparkSession.sparkContext
    # node count folded into the first convergence aggregate (no extra
    # job) sizes the round tables (see operators/partitioning.py)
    row0 = labels.agg(
        F.sum("comp").alias("_s"), F.count(F.lit(1)).alias("_n")
    ).first()
    prev_sum, n_nodes = row0["_s"], int(row0["_n"])
    parts = _adaptive_parts(sc, n_nodes)
    bidir0 = bidir
    if parts < sc.defaultParallelism:
        # small graph: re-layout the cached edge table to match, so
        # each round scans `parts` cached partitions instead of many
        bidir = serialized_cache(bidir.repartition(parts, "a"))
    try:
        for _ in range(max_iters):
            # the node-grain label table is the join's build side:
            # broadcast while it fits one task, else SHUFFLE_HASH — it
            # is an RDD checkpoint whose hidden stats made the planner
            # re-SORT the persisted edge table every round under
            # SortMergeJoin
            msgs = bidir.join(
                labels.hint("broadcast" if parts == 1 else "shuffle_hash"),
                bidir.a == labels.id,
            ).select(
                F.col("b").alias("id"), "comp"
            )
            labels = serialized_checkpoint(
                labels.unionByName(msgs)
                .repartition(parts, "id")
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
            )
            cur_sum = labels.agg(F.sum("comp")).first()[0]
            if cur_sum == prev_sum:
                return labels.select(
                    F.col("id").alias(id_out), F.col("comp").alias(comp_out)
                )
            prev_sum = cur_sum
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iters} rounds "
            "(graph diameter too large — raise max_iters or use "
            "star-contraction)"
        )
    finally:
        bidir.unpersist()
        if bidir is not bidir0:
            bidir0.unpersist()


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_out: str = "id",
    comp_out: str = "component",
    max_iters: int = 20,
) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    adversarial-diameter upgrade to :func:`connected_components`:
    converges in O(log n) rounds on ANY graph shape, where min-label
    propagation needs diameter rounds (a 1 000-hop chain — a crawl
    frontier, a linked-list-shaped join graph — stalls propagation but
    costs star contraction ~10 rounds).

    Per round: large-star hangs every neighbor v > u onto
    m = min(Γ(u) ∪ {u}); small-star re-hangs the smaller neighbors of
    each local maximum. Each is one exchange on the node id plus a
    window min over that layout — no join. Fixpoint detection is an exact
    ``exceptAll`` emptiness check per round pair (at extreme scale swap
    for a (count, sum) checksum pre-filter); ``localCheckpoint``
    truncates lineage each round as usual.

    Output contract matches :func:`connected_components`: (id,
    component = min reachable node id) for every node in ``edges``.
    """
    # lazy checkpoint + one materializing agg per round (r13 opt): the
    # count AND an order-independent set checksum (bit_xor of the row
    # hash) come from the SAME job, so the exact exceptAll equality
    # check only runs on rounds where count and checksum both match —
    # the checksum is a negative filter (different checksum ⟹ sets
    # differ), never a positive proof, so convergence stays exact.
    def _cnt_sig(df: DataFrame) -> "tuple[int, int]":
        row = df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("_sig"),
        ).first()
        return int(row["_n"]), (0 if row["_sig"] is None else int(row["_sig"]))

    e = serialized_checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e_cnt, e_sig = _cnt_sig(e)
    sc = edges.sparkSession.sparkContext
    by_node = Window.partitionBy("a")
    for _ in range(max_iters):
        # size the round from the CURRENT edge count — the convergence
        # aggregate already pays for it — with one explicit repartition
        # on the node key per round table; the neighborhood mins are
        # windows over that layout, so no join or further exchange
        # follows (see operators/partitioning.py)
        parts = _adaptive_parts(sc, max(1, 2 * e_cnt))
        # large-star: hang every larger neighbor of u onto the min of
        # u's full neighborhood
        bidir = mirror_edges(e, "a", "b").repartition(parts, "a")
        # Every large-star edge points large→small (b > a >=
        # least(a, mn)), so it is the small-star input as it stands:
        # no greatest/least re-orientation
        lg = (
            bidir.withColumn("mn", F.min("b").over(by_node))
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.least("a", "mn").alias("b"))
            .repartition(parts, "a")
            .distinct()
        )
        # small-star: re-hang each node's smaller neighbors (and
        # itself) onto their min
        joined = lg.withColumn("mn", F.min("b").over(by_node))
        sm = serialized_checkpoint(
            joined.filter(F.col("b") != F.col("mn"))
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
            # no inner distinct on the (a, mn) branch: the outer
            # distinct subsumes it (identical result set)
            .unionByName(joined.select(F.col("a"), F.col("mn").alias("b")))
            .repartition(parts, "a")
            .distinct()
        )
        # both sides are DISTINCT sets: equal counts + empty one-sided
        # except ⟺ set equality. The (count, checksum) pair from the
        # materializing agg skips the joining except on every round
        # where either differs; the except still CONFIRMS equality on
        # the final round (checksum equality alone proves nothing).
        sm_cnt, sm_sig = _cnt_sig(sm)
        changed = (
            1
            if sm_cnt != e_cnt or sm_sig != e_sig
            else sm.exceptAll(e).limit(1).count()
        )
        e, e_cnt, e_sig = sm, sm_cnt, sm_sig
        if changed == 0:
            labels = (
                e.select(F.col("a").alias("id"), F.col("b").alias("comp"))
                .unionByName(
                    e.select(
                        F.col("b").alias("id"), F.col("b").alias("comp")
                    )
                )
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
            )
            return labels.select(
                F.col("id").alias(id_out), F.col("comp").alias(comp_out)
            )
    raise RuntimeError(
        f"connected_components_star: no fixpoint after {max_iters} "
        "round pairs"
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_out: str = "id",
    count_out: str = "n_triangles",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph —
    the local clustering signal a dedup/community pipeline uses to tell
    tight near-clique duplicate clusters from incidental chains (a
    triangle-free component is a path/star, not a dup cluster).

    Algorithm: degree-ordered wedge counting (the standard
    compact-forward / MapReduce scheme, cf. Suri & Vassilvitskii, WWW'11
    "Counting Triangles and the Curse of the Last Reducer"). Each
    undirected edge is oriented from its lower-(degree, id) endpoint to
    the higher one, so every triangle is generated exactly once as a
    wedge at its smallest vertex and wedge fan-out is bounded by
    O(m^{3/2}) TOTAL regardless of degree skew — a star hub of degree d
    produces 0 wedges instead of d² because all its edges point INTO it.

    Plan shape: one degree aggregation, one self-join of the oriented
    edge list on the wedge pivot, one semi-join of candidate wedges
    against the oriented edge set, one explode + hash agg for the
    per-node rollup. Only (src, dst) id pairs ever shuffle.

    Returns (id, n_triangles) for every node incident to at least one
    non-self-loop edge (0 for nodes in no triangle; self-loops are
    discarded first, so a node appearing ONLY in self-loops has no
    output row). Output rows = node count; order-insensitive.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    und = serialized_cache(und)
    oriented = None
    # both pins are released however the eager checkpoint ends
    try:
        deg = (
            mirror_edges(und, "a", "b")
            .groupBy(F.col("a").alias("n"))
            .agg(F.count("*").alias("deg"))
        )
        # orient each edge low→high in (deg, id) order; the rank is
        # encoded into one comparable struct so ties (equal degree)
        # break on id and the orientation is a strict total order
        da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
        db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
        ranked = und.join(da, "a").join(db, "b")
        fwd_ab = (F.col("deg_a") < F.col("deg_b")) | (
            (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
        )
        oriented = ranked.select(
            F.when(fwd_ab, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(fwd_ab, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
        oriented = serialized_cache(oriented)
        # wedges at the pivot: lo→u, lo→v (u ≠ v, canonical u < v);
        # closing edge u–v may be oriented either way, so probe the
        # undirected set
        l = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("u"))
        r = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("v"))
        wedges = l.join(r, "p").filter(F.col("u") < F.col("v"))
        tri = wedges.join(
            und.select(F.col("a").alias("u"), F.col("b").alias("v")),
            ["u", "v"],
            "inner",
        ).select("p", "u", "v")
        per_node = (
            tri.select(
                F.explode(F.array("p", "u", "v")).alias(id_out)
            )
            .groupBy(id_out)
            .agg(F.count("*").alias(count_out))
        )
        nodes = deg.select(F.col("n").alias(id_out))
        out = nodes.join(per_node, id_out, "left").select(
            id_out,
            F.coalesce(F.col(count_out), F.lit(0))
            .cast("long").alias(count_out),
        )
        return serialized_checkpoint(out, eager=True)
    finally:
        if oriented is not None:
            oriented.unpersist()
        und.unpersist()


# PageRank integer grid: ranks live as floor(r * 2^40) int64 "micro
# ranks". Per-node contributions use integer division by out-degree and
# integer sums (order-independent under partial aggregation); the one
# float op per iteration — damping×sum — is an exact-rounded double
# product of values < 2^41 (far inside the 2^53 exact-integer range),
# floored back onto the grid. Any SQL engine reproduces every iteration
# bit-for-bit.
PR_SCALE = 1 << 40
PR_DAMP = 0.85


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Deterministic damped PageRank over a directed edge list.

    The plan unrolls ``n_iters`` rounds of: per-node contribution
    (rank div out-degree, map-side after one degree join), incoming-sum
    (one hash aggregation on dst), dangling-mass redistribution (one
    1-row aggregate over the rank rows flagged dangling at build time —
    a filter, not a join, so it adds no per-round exchange, broadcast
    onto the update), damp + teleport (map-side). The edge list with degree
    attached is persisted and every round's join reuses its
    partitioning — per-round cost is one shuffle of the (nodes-sized)
    rank table plus the scalar dangling aggregate; the graph itself
    never re-shuffles. The dangling share stays on the integer grid
    (``dmass div n``), so any SQL engine replays it bit-for-bit.

    The final ranks are materialized (eager local checkpoint) before
    returning, and all persisted intermediates are unpersisted — the
    returned DataFrame owns no cached blocks.

    Returns (node, rank_q) with rank_q on the PR_SCALE integer grid.
    """
    # optional edge weights (weighted PageRank, the TextRank form):
    # a node's rank splits proportionally to outgoing weight —
    # ``rank_q * w div strength`` stays on the integer grid (the
    # unweighted path is the weight-1 special case of the same
    # expression, so one code path serves both)
    wcol = (
        F.col(weight).cast("long") if weight is not None
        else F.lit(1).cast("long")
    )
    # ONE persisted edge-grain table: the edge list with its source's
    # out-strength attached. Partitioned by source up front, so the
    # degree aggregate, its join and every round's contribution join
    # reuse that layout — the degree side reads the same (reused)
    # exchange, so the input, often an expression-defined self-join,
    # is evaluated once. Nodes are derived from this cache, not from a
    # second copy of the edge list.
    spark = edges.sparkSession
    e = edges.select(
        F.col(src).alias("c_src"), F.col(dst).alias("c_dst"),
        wcol.alias("_w"),
    ).repartition("c_src")
    deg = e.groupBy("c_src").agg(F.sum("_w").alias("deg"))
    # in c_src order within partitions, so runs of equal keys compress
    # (the layout rule in ``pins.py``)
    ed = serialized_cache(e.join(deg, "c_src").sortWithinPartitions("c_src"))
    # fused node table: node list AND the dangling flag (out-degree 0 —
    # appears as dst but never as src) from ONE aggregation over ONE
    # scan of the edge table. The flag rides the rank table, so the
    # per-round dangling-mass aggregate is a filter + 1-row reduce — no
    # join, no extra exchange.
    nodes = serialized_cache(
        mirror_edges(ed, "c_src", "c_dst", side="_s")
        .groupBy(F.col("c_src").alias("node"))
        .agg((F.max("_s") == 0).alias("is_dang"))
    )
    # node count as a broadcast 1-row stats table instead of a driver
    # count job (r13): init_q = PR_SCALE div n (integer div, both
    # positive — identical to Python's //), base_q = the same
    # double-multiply/divide/truncate as int(0.15 * PR_SCALE / n), so
    # every grid value is bit-for-bit what the literal path baked in,
    # with one less materializing action before the iterations. Under
    # AQE this lazy checkpoint runs the jobs that fill both caches
    with job_phase(spark, "pagerank: edge cache"):
        nstats = serialized_checkpoint(
            nodes.agg(F.count(F.lit(1)).alias("_n")).select(
                "_n",
                F.expr(f"{PR_SCALE} div _n").cast("long").alias("_init_q"),
                (
                    F.lit(0.15 * PR_SCALE) / F.col("_n").cast("double")
                ).cast("long").alias("_base_q"),
            )
        )
    r = nodes.crossJoin(F.broadcast(nstats)).select(
        "node", "is_dang", F.col("_init_q").alias("rank_q")
    )
    for i in range(n_iters):
        # SHUFFLE_HASH: r is an RDD checkpoint (hidden stats), so the
        # planner re-sorted the persisted degree-joined edge table
        # every round under SortMergeJoin; hash-building the
        # node-grain rank table is bounded per partition at any scale
        # (r14, same fix as label_propagation)
        contrib = ed.join(
            r.hint("shuffle_hash"), ed.c_src == F.col("node")
        ).select(
            F.col("c_dst").alias("node_out"),
            F.expr("(rank_q * _w) div deg").alias("c"),
        )
        summed = contrib.groupBy("node_out").agg(F.sum("c").alias("s"))
        # scalar dangling-mass aggregate: 1 row, broadcast onto the
        # update (the repo's standard broadcast-crossJoin stats shape);
        # integer div keeps the share on the grid
        share = (
            r.filter("is_dang")
            .agg(F.coalesce(F.sum("rank_q"), F.lit(0)).alias("dmass"))
            .crossJoin(F.broadcast(nstats))
            .select(
                F.expr("dmass div _n").cast("long").alias("d_share"),
                "_base_q",
            )
        )
        r = (
            nodes.join(
                summed.hint("shuffle_hash"),
                nodes.node == summed.node_out, "left",
            )
            .crossJoin(F.broadcast(share))
            .select(
                "node",
                "is_dang",
                (
                    F.col("_base_q")
                    + F.floor(
                        F.lit(PR_DAMP)
                        * (
                            F.coalesce(F.col("s"), F.lit(0))
                            + F.col("d_share")
                        ).cast("double")
                    )
                ).cast("long").alias("rank_q"),
            )
        )
        # under AQE the round's jobs run at its checkpoint, so the phase
        # label covers them
        with job_phase(spark, f"pagerank: round {i + 1}"):
            r = serialized_checkpoint(r, eager=(i == n_iters - 1))
    for cached in (ed, nodes):
        cached.unpersist()
    return r.select("node", "rank_q")


def k_core(
    edges: DataFrame,
    k: int = 2,
    n_rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    id_out: str = "id",
    deg_out: str = "core_degree",
) -> DataFrame:
    """Bounded-round k-core peeling: repeatedly delete nodes of degree
    < k (and their edges). The k-core is the density filter a dedup
    pipeline runs AFTER clustering — connected components find groups,
    the core separates tight near-clique duplicate communities from
    incidental chains/trees that connect through a single bridge doc
    (a tree has NO 2-core; a dup clique survives whole).

    Contract: exactly ``n_rounds`` peeling rounds, which equals the
    true k-core whenever peeling has converged by then (each round
    strictly shrinks the node set until fixpoint; convergence on a
    given graph is pinned by comparing n_rounds and n_rounds+1 — see
    tests). Bounded rounds keep the plan — and the chained-CTE oracle —
    deterministic in shape, the same trade PageRank makes with its
    unrolled iterations.

    Per round: one degree aggregation + two semi-joins of the edge
    list against the surviving-node set; only (a, b) id pairs ever
    shuffle, and ``localCheckpoint`` truncates the growing lineage.
    Returns (id, core_degree) for nodes of the surviving subgraph.
    """
    e = serialized_checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct(),
        eager=True,
    )
    for _ in range(n_rounds):
        deg = (
            mirror_edges(e, "a", "b")
            .groupBy(F.col("a").alias("n"))
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        # SHUFFLE_HASH on the surviving-node set: e is an RDD
        # checkpoint (hidden stats → SortMergeJoin re-sorted it twice
        # per round); the build side is node-grain (r14)
        e = serialized_checkpoint(
            e.join(
                keep.select(F.col("n").alias("a")).hint("shuffle_hash"),
                "a", "left_semi",
            ).join(
                keep.select(F.col("n").alias("b")).hint("shuffle_hash"),
                "b", "left_semi",
            ),
            eager=True,
        )
    return (
        mirror_edges(e, "a", "b")
        .groupBy(F.col("a").alias(id_out))
        .agg(F.count("*").cast("long").alias(deg_out))
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    label_col: str = "label",
    src: str = "src",
    dst: str = "dst",
    rounds: int = 2,
    assume_distinct: bool = False,
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002 in its
    discrete majority-vote form): seed labels spread over the graph
    for a FIXED number of synchronous rounds; each round every
    non-seed node takes the majority label among its labeled
    neighbors (ties broken by smallest label — fully deterministic),
    keeps its previous label when no neighbor is labeled, and seed
    nodes never change. The classifier-free way to extend a partial
    labelling (known brands, known languages, resolved identities)
    across a relation graph.

    ``nodes`` is the full node domain ``(node, label)`` with NULL for
    unseeded rows; ``edges`` one direction of an undirected relation
    (mirrored internally, self-loops dropped).

    Scale shape: each round is one edge-sized join + one hash
    aggregation to (node, label) grain + one argmax window over that
    aggregated table — the bounded-round contract of
    :func:`pagerank`/:func:`k_core` (rounds is a small constant, never
    data-dependent). No collect anywhere; label tables are node-sized.
    Synchronous updates make the result independent of partitioning —
    what lets a SQL oracle replay every round verbatim.

    The last round's labels are materialized (eager local checkpoint)
    and the cached edge table is released before returning — the
    returned DataFrame owns no cached blocks.
    """
    und = edges.select(
        F.col(src).alias("_a"), F.col(dst).alias("_b")
    ).filter(F.col("_a") != F.col("_b"))
    # vote counts assume one row per undirected edge; skip the
    # (full-exchange) dedup only when the caller guarantees it — e.g.
    # cooccurrence_pairs output is distinct by construction (r13 opt)
    if not assume_distinct:
        und = und.distinct()
    # r14: partition the mirrored edge table ON THE VOTE-JOIN KEY and
    # cache it (instead of an RDD checkpoint) — every round's vote join
    # then reuses the cached layout and the planner keeps real
    # statistics. The per-round label tables are lineage-truncated
    # RDD checkpoints, which hide their stats, so the vote and pick
    # joins carry SHUFFLE_HASH hints: without them the planner fell
    # back to SortMergeJoin and re-sorted the edge table EVERY round
    # (interleaved A/B: 7.0 → 4.4 s at sf0.1, byte-identical labels).
    # Build sides are node-grain slices — per-partition hash tables
    # stay bounded at any scale. In _a order within partitions, so runs
    # of equal keys compress (the layout rule in ``pins.py``).
    und = serialized_cache(
        mirror_edges(und, "_a", "_b")
        .repartition("_a")
        .sortWithinPartitions("_a")
    )

    # the seed rides INSIDE the label table (one less node-grain join
    # per round than re-joining the seed table each time; r14)
    labels = nodes.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_seed")
    ).withColumn("_lbl", F.col("_seed"))
    try:
        for i in range(rounds):
            votes = (
                und.join(
                    labels.filter(F.col("_lbl").isNotNull()).select(
                        F.col("_n").alias("_a"), "_lbl"
                    ).hint("shuffle_hash"),
                    "_a",
                )
                .groupBy(F.col("_b").alias("_n"), "_lbl")
                .agg(F.count(F.lit(1)).alias("_votes"))
            )
            # argmax as a hash aggregation instead of a row_number window:
            # min(struct(-votes, lbl)) picks (max votes, then smallest
            # label) — the identical deterministic tie-break — with
            # map-side partial aggregation and NO sort (r13 opt: the
            # window needed an extra exchange + per-partition sort)
            picks = (
                votes.groupBy("_n")
                .agg(F.min(F.struct(
                    (-F.col("_votes")).alias("_nv"),
                    F.col("_lbl"),
                )).alias("_m"))
                .select("_n", F.col("_m._lbl").alias("_pick"))
            )
            labels = (
                labels.join(picks.hint("shuffle_hash"), "_n", "left")
                .select(
                    "_n",
                    "_seed",
                    F.when(F.col("_seed").isNotNull(), F.col("_seed"))
                    .otherwise(F.coalesce("_pick", "_lbl"))
                    .alias("_lbl"),
                )
                # each round's labels feed BOTH the next round's vote join
                # and its previous-label reference — without a checkpoint
                # the round subtree (edge-sized vote aggregation included)
                # is evaluated once per consumer, doubling work per
                # unrolled round (r13 opt; same as connected_components)
            )
            # the last round's labels are materialized before the
            # edge cache is released below (as pagerank's ranks are);
            # under AQE the round's jobs run at this checkpoint
            with job_phase(
                edges.sparkSession, f"label propagation: round {i + 1}"
            ):
                labels = serialized_checkpoint(
                    labels, eager=(i == rounds - 1)
                )
    finally:
        und.unpersist()
    return labels.select(
        F.col("_n").alias(node_col), F.col("_lbl").alias(label_col)
    )


def community_modularity(
    edges: DataFrame,
    assignment: DataFrame,
    node_col: str = "node",
    label_col: str = "label",
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    graph — the quality score that says whether a partition (label
    propagation, connected components, identity stitching) actually
    captures structure: Q = sum_c (e_in_c/m - (deg_c/2m)^2),
    Q > ~0.3 is real community structure, Q ~ 0 is a random split.

    EXACT arithmetic: multiply through by 4m^2 —
    ``Q * 4m^2 = sum_c (4*m*e_in_c - deg_c^2)`` — and every term is an
    integer (DECIMAL(38) products), so the score replays bit-for-bit
    with ONE double division at the end. Unassigned nodes (NULL label)
    form their own singleton communities implicitly by being dropped:
    their edges still count in m and their degrees in nothing — the
    caller labels every node it wants scored.

    Plan: one left join per edge endpoint (labels broadcast if small,
    else shuffled equi-join), one hash agg to community grain that
    also counts m, one 1-row total. Output: per-community rows
    ``(label, n_nodes, e_in, deg_sum, contribution)`` plus the
    partition-wide ``modularity`` on every row (an exact integer
    window total divided once).
    """
    und = edges.select(
        F.col(src).alias("_a"), F.col(dst).alias("_b")
    ).filter(F.col("_a") != F.col("_b"))
    # m / e_in / deg_sum count one row per undirected edge; the
    # canonicalize + dedup exchange is skipped only when the caller
    # guarantees distinct (low, high) pairs — cooccurrence_pairs
    # emits exactly that shape (r13 opt)
    if not assume_canonical:
        und = und.select(
            F.least("_a", "_b").alias("_a"),
            F.greatest("_a", "_b").alias("_b"),
        ).distinct()
    lab = assignment.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_l")
    ).filter(F.col("_l").isNotNull())
    la = lab.select(F.col("_n").alias("_a"), F.col("_l").alias("_la"))
    lb = lab.select(F.col("_n").alias("_b"), F.col("_l").alias("_lb"))
    # SHUFFLE_HASH on the node-grain label sides: edge list and
    # assignment typically arrive as RDD checkpoints (hidden stats →
    # SortMergeJoin sorted the edge table twice); hash-building the
    # label slice is bounded per partition at any scale (r14). LEFT
    # joins keep every edge, so m comes from the same scan: an edge
    # with an unlabelled endpoint counts in m and in no deg_sum
    e = und.join(la.hint("shuffle_hash"), "_a", "left").join(
        lb.hint("shuffle_hash"), "_b", "left"
    )
    # m, degree mass and internal edges from ONE aggregate over ONE
    # scan of the edges: each edge emits (la, lb, side 1) and
    # (lb, la, side 0). Side-1 rows count every edge once toward m
    # (the NULL-label group's included), rows whose other endpoint is
    # labelled count toward deg_sum, and internal side-1 rows toward
    # e_in
    comm = (
        mirror_edges(e, "_la", "_lb", side="_s")
        .groupBy(F.col("_la").alias("_l"))
        .agg(
            F.sum("_s").cast("long").alias("_me"),
            F.count("_lb").cast("long").alias("deg_sum"),
            F.sum(
                ((F.col("_s") == 1) & (F.col("_la") == F.col("_lb")))
                .cast("long")
            ).alias("e_in"),
        )
    )
    nodes = lab.groupBy(F.col("_l")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    # the community table is pinned, and m is a 1-row total over it
    # (full join: the NULL-label group carries the edges with an
    # unlabelled source), so the edges are never scanned for m alone
    comm = serialized_checkpoint(nodes.join(comm, "_l", "full"))
    m_row = comm.agg(
        F.coalesce(F.sum("_me"), F.lit(0)).cast("long").alias("_m")
    )
    per = (
        comm.filter(F.col("_l").isNotNull())
        .crossJoin(F.broadcast(m_row))
        .select(
            F.col("_l").alias(label_col),
            "n_nodes",
            F.coalesce("e_in", F.lit(0).cast("long")).alias("e_in"),
            F.coalesce("deg_sum", F.lit(0).cast("long")).alias("deg_sum"),
            F.col("_m"),
        )
    )
    term = (
        F.lit(4).cast("decimal(38,0)")
        * F.col("_m").cast("decimal(38,0)")
        * F.col("e_in").cast("decimal(38,0)")
        - F.col("deg_sum").cast("decimal(38,0)")
        * F.col("deg_sum").cast("decimal(38,0)")
    )
    denom = (
        F.lit(4).cast("decimal(38,0)")
        * F.col("_m").cast("decimal(38,0)")
        * F.col("_m").cast("decimal(38,0)")
    )
    # the partition-wide total is a 1-row exact-integer aggregate
    # broadcast back (never a single-partition window over the
    # community table)
    tot = per.agg(F.sum(term).alias("_tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        label_col, "n_nodes", "e_in", "deg_sum",
        F.round(
            F.when(
                F.col("_m") > 0, term.cast("double") / denom.cast("double")
            ),
            6,
        ).alias("contribution"),
        F.round(
            F.when(
                F.col("_m") > 0,
                F.col("_tot").cast("double") / denom.cast("double"),
            ),
            6,
        ).alias("modularity"),
    )
