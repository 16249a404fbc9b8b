"""Item-item collaborative filtering: cosine similarity over binary
user-item interaction vectors, top-k neighbors per item.

The recommender companion to the order-grain association rules
(q_basket_rules): there the grain is one order and the score is
confidence/lift; here the grain is the whole customer history and the
score is set-cosine |U_a ∩ U_b| / sqrt(|U_a|·|U_b|) — the classic
item-based CF of Sarwar et al. (WWW'01), expressed as joins/aggs.

Scale shape: candidate pairs come from the per-user self-join, so pair
work is Σ_u |items(u)|² — bounded by capping hyperactive users
(``max_items_per_user``), the standard CF pruning: a user interacting
with everything contributes no discriminative signal but quadratic
work. Item-count lookups join on the item key (same exchange the
pair aggregation already needs); the final top-k is one window over
the item partitioning, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import spread_if_narrow


def item_cosine_topk(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 5,
    min_co: int = 2,
    max_items_per_user: int = 200,
    recency_col: str | None = None,
    keep_per_user: int | None = None,
) -> DataFrame:
    """(item, rec_item, co_users, cos, rank): the ``k`` highest-cosine
    neighbors per item (ties broken by neighbor id), from distinct
    user-item interactions.

    Pair-work bounding, in order of strength: with ``recency_col`` +
    ``keep_per_user`` every user keeps only their ``keep_per_user``
    most-recent items (ties by item id) — pair work becomes
    ``users × keep²`` EXACTLY, the standard recent-history truncation
    of production CF. Otherwise users above ``max_items_per_user``
    distinct items are dropped whole (whale pruning).
    """
    if recency_col is not None:
        if keep_per_user is None:
            raise ValueError("keep_per_user required with recency_col")
        base = interactions.select(
            F.col(user_col).alias("u"),
            F.col(item_col).alias("i"),
            F.col(recency_col).alias("_ts"),
        )
        # When the interactions subtree bottoms out in a narrow scan
        # (one unsplittable row group) the (u, i) partial aggregation
        # runs on ONE core; pre-exchanging on the SAME grouping key
        # keeps the exchange count identical (the groupBy reuses the
        # partitioning) while the aggregation runs parallel.
        base = spread_if_narrow(base, F.col("u"), F.col("i"))
        ui0 = base.groupBy("u", "i").agg(F.max("_ts").alias("_ts"))
        w = Window.partitionBy("u").orderBy(
            F.col("_ts").desc(), F.col("i").asc()
        )
        ui = (
            ui0.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= keep_per_user)
            .select("u", "i")
        )
    else:
        ui = interactions.select(
            F.col(user_col).alias("u"), F.col(item_col).alias("i")
        ).distinct()
        sizes = ui.groupBy("u").agg(F.count(F.lit(1)).alias("_nu"))
        ui = (
            ui.join(sizes, "u")
            .filter(F.col("_nu") <= max_items_per_user)
            .select("u", "i")
        )
    # the pruned interaction set feeds BOTH the pair expansion and the
    # item-count aggregate — persist so the prune lineage runs once
    # (caller-owned cache, released by spark.catalog.clearCache() as
    # with rhp_dup_pairs)
    ui = ui.persist()
    # r13 opt: per-user in-row pair expansion (one groupBy on u, which
    # reuses the truncation window's partitioning) replaces the u-key
    # self-join — the emitted (ia < ib) pair multiset is identical
    # (items are distinct per user, filter y > x mirrors a.i < b.i),
    # so the co_users counts match row-for-row (guide §2.4)
    pair_expr = (
        "flatten(transform(_items, x -> "
        "transform(filter(_items, y -> y > x), "
        "y -> struct(x AS ia, y AS ib))))"
    )
    co = (
        ui.groupBy("u")
        .agg(F.collect_set("i").alias("_items"))
        .select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select("_p.ia", "_p.ib")
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("co_users"))
        .filter(F.col("co_users") >= min_co)
    )
    cnt = ui.groupBy("i").agg(F.count(F.lit(1)).alias("n_users"))
    ca = cnt.select(F.col("i").alias("ia"), F.col("n_users").alias("_na"))
    cb = cnt.select(F.col("i").alias("ib"), F.col("n_users").alias("_nb"))
    scored = co.join(ca, "ia").join(cb, "ib").select(
        "ia", "ib", "co_users",
        # one fixed-order double expression: co / sqrt(na*nb)
        (
            F.col("co_users").cast("double")
            / F.sqrt((F.col("_na") * F.col("_nb")).cast("double"))
        ).alias("_cos"),
    )
    # scored feeds BOTH branches of the symmetric union below; without
    # a pin the whole pair expansion + count joins are evaluated once
    # per branch (r14: plan showed the subtree duplicated under Union).
    # The table is item-pair grain (bounded by min_co), tiny at any
    # scale next to the interaction table.
    scored = scored.localCheckpoint(eager=False)
    sym = scored.select(
        F.col("ia").alias("item"), F.col("ib").alias("rec_item"),
        "co_users", "_cos",
    ).unionByName(
        scored.select(
            F.col("ib").alias("item"), F.col("ia").alias("rec_item"),
            "co_users", "_cos",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("_cos").desc(), F.col("rec_item").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "item", "rec_item", "co_users",
            F.round("_cos", 6).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


ALS_GRID = 10**6


def als_rank1(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    rounds: int = 2,
) -> DataFrame:
    """Rank-1 alternating least squares (the Koren/Hu-style implicit
    factor model at k=1 — the popularity-times-affinity baseline every
    recommender eval needs): item factors start at 1, then each
    alternation solves the EXACT scalar least-squares update in closed
    form::

        u_i = sum_j r_ij v_j / sum_j v_j^2     (users given items)
        v_j = sum_i r_ij u_i / sum_i u_i^2     (items given users)

    Exactness at scale: factors live on a 10^6 integer grid — every
    numerator/denominator is an exact DECIMAL(38) sum of
    integer-rating x integer-factor products, and each update is ONE
    double division quantized back to the grid (round-half-up), so a
    SQL oracle replays all rounds bit-for-bit and distributed
    addition order cannot perturb anything (the repo's grid
    convention; a float-factor ALS would be order-nondeterministic).

    Plan: each half-round is one broadcast-or-shuffle equi-join of the
    ratings table with the (tiny, entity-grain) factor table + one
    hash aggregation — 2*rounds data-sized shuffles total, factor
    tables checkpointed per round. Returns the item-factor table
    ``(item, v_q, v_factor)`` with the training RMSE of the final
    model on every row (exact grid arithmetic).
    """
    r = ratings.select(
        F.col(user_col).alias("_u"),
        F.col(item_col).alias("_i"),
        F.col(rating_col).cast("long").alias("_r"),
    ).localCheckpoint(eager=False)
    v = r.select("_i").distinct().withColumn(
        "_vq", F.lit(ALS_GRID).cast("long")
    )
    u = None
    for _ in range(rounds):
        # r13 opt (guide §3): factor tables are entity-grain and
        # per-partition tiny at any scale, but their lazy-checkpoint
        # lineage hides stats from the planner, which falls back to
        # SortMergeJoin — the SHUFFLE_HASH hint keeps the exchange and
        # drops BOTH sides' sorts (ratings re-sort every half-round was
        # the dominant cost). Same rows, exact decimal aggregation.
        num_den_u = (
            r.join(v.hint("SHUFFLE_HASH"), "_i")
            .groupBy("_u")
            .agg(
                F.sum(
                    F.col("_r").cast("decimal(38,0)")
                    * F.col("_vq").cast("decimal(38,0)")
                ).alias("_num"),
                F.sum(
                    F.col("_vq").cast("decimal(38,0)")
                    * F.col("_vq").cast("decimal(38,0)")
                ).alias("_den"),
            )
        )
        # dimensional check: num = sum r*f_q = G * sum r*f,
        # den = sum f_q^2 = G^2 * sum f^2 -> f_new = num*G/den and the
        # grid value f_new_q = f_new * G = num * G^2 / den
        u = num_den_u.select(
            "_u",
            F.round(
                F.col("_num").cast("double")
                * F.lit(float(ALS_GRID) * float(ALS_GRID))
                / F.col("_den").cast("double")
            ).cast("long").alias("_uq"),
        ).localCheckpoint(eager=False)
        num_den_v = (
            r.join(u.hint("SHUFFLE_HASH"), "_u")
            .groupBy("_i")
            .agg(
                F.sum(
                    F.col("_r").cast("decimal(38,0)")
                    * F.col("_uq").cast("decimal(38,0)")
                ).alias("_num"),
                F.sum(
                    F.col("_uq").cast("decimal(38,0)")
                    * F.col("_uq").cast("decimal(38,0)")
                ).alias("_den"),
            )
        )
        v = num_den_v.select(
            "_i",
            F.round(
                F.col("_num").cast("double")
                * F.lit(float(ALS_GRID) * float(ALS_GRID))
                / F.col("_den").cast("double")
            ).cast("long").alias("_vq"),
        ).localCheckpoint(eager=False)
    # training RMSE of the final (u, v): residuals on the 10^12 grid
    pred = (
        r.join(u.hint("SHUFFLE_HASH"), "_u")
        .join(v.hint("SHUFFLE_HASH"), "_i")
        .select(
            (
                F.col("_r").cast("decimal(38,0)")
                * F.lit(ALS_GRID).cast("decimal(38,0)")
                * F.lit(ALS_GRID).cast("decimal(38,0)")
                - F.col("_uq").cast("decimal(38,0)")
                * F.col("_vq").cast("decimal(38,0)")
            ).alias("_e12"),
        )
    )
    sse = pred.agg(
        F.sum(F.col("_e12") * F.col("_e12")).alias("_sse"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    ).select(
        F.round(
            F.sqrt(
                F.col("_sse").cast("double")
                / F.col("_n").cast("double")
            ) / F.lit(float(ALS_GRID) * float(ALS_GRID)),
            6,
        ).alias("train_rmse")
    )
    return v.crossJoin(F.broadcast(sse)).select(
        F.col("_i").alias(item_col),
        F.col("_vq").alias("v_q"),
        F.round(
            F.col("_vq").cast("double") / F.lit(float(ALS_GRID)), 6
        ).alias("v_factor"),
        "train_rmse",
    )


RRF_GRID = 1 << 40


def reciprocal_rank_fusion(
    rankings: "list[DataFrame]",
    query_cols: "list[str] | tuple[str, ...]",
    item_col: str,
    score_col: str = "score",
    k: int = 60,
    top_n: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) of N rankers:
    each ranker contributes ``1 / (k + rank)`` per item and the fused
    list orders by the sum — the robust zero-tuning way to ensemble a
    BM25 list with an embedding list (scores never need to be
    commensurable, only the RANKS matter).

    The contribution weights are ``round(2^40 / (k + rank))`` integer
    literals-by-construction (the NDCG grid convention), so fused
    scores are exact BIGINT sums — deterministic under any addition
    order. Per ranker: one row_number window over (query, score desc,
    item asc); fusion is one union + hash aggregation; the final
    top-n is a per-query window over the fused table. Output:
    ``(query..., item, n_rankers, fused_q, rrf_score, fused_rank)``.
    """
    gcols = list(query_cols)
    legs = []
    for df in rankings:
        w = Window.partitionBy(*gcols).orderBy(
            F.col(score_col).desc(), F.col(item_col).asc()
        )
        legs.append(
            df.select(
                *gcols, item_col,
                F.row_number().over(w).alias("_rk"),
            ).select(
                *gcols, item_col,
                F.round(
                    F.lit(float(RRF_GRID))
                    / (F.lit(k).cast("double") + F.col("_rk"))
                ).cast("long").alias("_w"),
            )
        )
    un = legs[0]
    for leg in legs[1:]:
        un = un.unionByName(leg)
    fused = un.groupBy(*gcols, item_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rankers"),
        F.sum("_w").alias("fused_q"),
    )
    w2 = Window.partitionBy(*gcols).orderBy(
        F.col("fused_q").desc(), F.col(item_col).asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w2))
        .filter(F.col("fused_rank") <= top_n)
        .select(
            *gcols, item_col, "n_rankers", "fused_q",
            F.round(
                F.col("fused_q").cast("double") / F.lit(float(RRF_GRID)),
                6,
            ).alias("rrf_score"),
            "fused_rank",
        )
    )
