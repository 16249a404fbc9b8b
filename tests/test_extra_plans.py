"""Physical-plan assertions for the round-continuation queries: the
properties that survive a 100× scale-up (shuffle counts, join-freedom,
two-phase structure), not just row equality."""

import re

from google_analytics_to_s3_spark.plans.driver_queries_extra import (
    q_dedup_keep_best,
    q_gap_fill_ffill,
    q_hopping_window,
    q_salted_event_totals,
)

from .plan_signature import plan_text


def test_gap_fill_is_join_free(spark, sf_smoke):
    plan = plan_text(q_gap_fill_ffill(spark, sf_smoke))
    assert "Join" not in plan, plan
    # daily agg on (user, day) + window on user — nothing else
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan


def test_hopping_window_is_join_free_single_exchange(spark, sf_smoke):
    plan = plan_text(q_hopping_window(spark, sf_smoke))
    assert "Join" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_salted_totals_is_two_phase(spark, sf_smoke):
    plan = plan_text(q_salted_event_totals(spark, sf_smoke))
    # phase 1 shuffles (key, salt), phase 2 shuffles key only
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert re.search(r"hashpartitioning\(event_type[^)]*_salt", plan), plan


def test_dedup_keep_best_single_exchange(spark, sf_smoke):
    # both windows share the md5 partition key: one exchange total
    plan = plan_text(q_dedup_keep_best(spark, sf_smoke))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_export_mart_plan_single_visitor_exchange(spark, sf_oracle):
    """The full-pipeline export marts must keep the W1-W7 property: ONE
    hash exchange on the visitor feeds every window; the null-backfilled
    266-col synthesis must not defeat column pruning at the scan."""
    from google_analytics_to_s3_spark.plans.driver_queries_exports import (
        q_export_pageviews,
    )

    df = q_export_pageviews(spark, sf_oracle)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    visitor_exchanges = re.findall(r"hashpartitioning\(body_cid", plan)
    assert len(visitor_exchanges) == 1, plan
    assert "CartesianProduct" not in plan
    # scan reads only the columns the synthesis actually consumes
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols <= {"event_id", "user_id", "event_type", "ts"}, read_cols


def test_winnow_pair_join_is_slim_and_equi(spark, sf_smoke):
    """The winnow inverted-index self-join must stay an equi-join on the
    8-byte fingerprint (no cartesian/BNLJ), and no exchange may carry
    the document text — only (id, n_fp, fp) plus window bookkeeping."""
    from google_analytics_to_s3_spark.plans.driver_queries import (
        q_winnow_dup_pairs,
    )

    plan = plan_text(q_winnow_dup_pairs(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    # the fp equi-join is present
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
                     plan), plan


def test_funnel_single_user_exchange(spark, sf_smoke):
    """Cascading funnel windows share one user-hash exchange (same
    partition + order spec); the flag rollup reuses it, so the whole
    funnel is exchange-once plus the final singleton aggregate."""
    from google_analytics_to_s3_spark.plans.driver_queries import (
        q_funnel_conversion,
    )

    plan = plan_text(q_funnel_conversion(spark, sf_smoke))
    assert "Join" not in plan, plan
    assert (
        len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1
    ), plan


def test_retention_single_user_exchange(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries import (
        q_retention_cohorts,
    )

    plan = plan_text(q_retention_cohorts(spark, sf_smoke))
    assert "Join" not in plan, plan
    assert (
        len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1
    ), plan


def test_runtime_bloom_filter_join_pruning(spark, sf_oracle):
    """Runtime bloom-filter semi-join pruning: with a selective build
    side, Catalyst injects bloom_filter_agg on the dim side and
    might_contain on the fact scan — rows that cannot join are dropped
    BEFORE the shuffle. The application-side threshold defaults to
    10 GB (a fact-scan size local testdata never reaches — at the
    target scale it triggers untouched); it is lowered here only to
    make the injection observable."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        o = spark.read.parquet(f"{sf_oracle}/orders.parquet").filter(
            "o_totalprice > 400000"
        )
        fact = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
        j = (
            fact.join(o, fact.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_text(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_probe_bit_table_broadcast(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries_extra import (
        q_bloom_probe,
    )

    plan = plan_text(q_bloom_probe(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the bit-position table (<= m rows at ANY scale) must broadcast
    assert "BroadcastHashJoin" in plan, plan


def test_knn_ivfpq_broadcast_and_no_cartesian(spark, sf_smoke):
    from google_analytics_to_s3_spark.plans.driver_queries import (
        q_knn_ivfpq,
    )

    plan = plan_text(q_knn_ivfpq(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the probed-query side broadcasts onto the encoded corpus cells
    assert "BroadcastHashJoin" in plan, plan


def test_merge_upsert_semantics_and_plan(spark, sf_smoke):
    """MERGE semantics on a hand-built frame (latest version wins,
    tombstones drop, absent-key tombstone is a no-op, inserts land) and
    the scale contract: the base side meets the change keys in a
    BROADCAST left-anti join — the base never shuffles."""
    from google_analytics_to_s3_spark.operators.merge import merge_upsert
    from google_analytics_to_s3_spark.plans.driver_queries_extra import (
        q_merge_upsert,
    )

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "val"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b1", 1, False),
            (2, "b2", 2, False),   # latest wins
            (3, "c", 1, True),     # tombstone
            (9, "x", 1, True),     # tombstone for absent key: no-op
            (4, "d", 1, False),    # insert
            (5, "e", 1, None),     # NULL tombstone flag = upsert, not
                                   # a silent delete
        ],
        "k INT, val STRING, version INT, is_deleted BOOLEAN",
    )
    got = {
        r["k"]: r["val"]
        for r in merge_upsert(base, changes, ["k"]).collect()
    }
    assert got == {1: "a", 2: "b2", 4: "d", 5: "e"}

    plan = plan_text(q_merge_upsert(spark, sf_smoke))
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    assert "SortMergeJoin" not in plan, plan


def test_quantile_sketch_accuracy_and_plan(spark, sf_smoke):
    """The sketch estimate must land within one bin width of the exact
    percentile (its documented error bound), and the plan must stay
    sort-free over the fact table: stats meet the scan as a broadcast,
    no SortMergeJoin anywhere."""
    import pyspark.sql.functions as F

    from google_analytics_to_s3_spark.plans.driver_queries_extra import (
        _HQ_BINS,
        q_quantile_sketch,
    )
    from google_analytics_to_s3_spark.sources.testdata import load_table

    got = {
        (r["l_returnflag"], r["p"]): r["est_lo"]
        for r in q_quantile_sketch(spark, sf_smoke).collect()
    }
    li = load_table(spark, sf_smoke, "lineitem")
    mn, mx = li.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice")
    ).first()
    width = (mx - mn) / _HQ_BINS
    exact = {
        (r["l_returnflag"], p): r[f"p{p}"]
        for r in li.groupBy("l_returnflag")
        .agg(
            *[
                F.percentile(F.col("l_extendedprice"), F.lit(p / 100.0))
                .alias(f"p{p}")
                for p in (50, 90, 99)
            ]
        )
        .collect()
        for p in (50, 90, 99)
    }
    assert set(got) == set(exact)
    for key, est in got.items():
        assert abs(est - exact[key]) <= width, (key, est, exact[key], width)

    plan = plan_text(q_quantile_sketch(spark, sf_smoke))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_fuzzy_match_block_purging_keeps_recall(spark):
    """A pair sharing one purged (oversized) block must still match via
    its other pass; a pair whose only shared block is purged drops —
    pair work stays bounded by max_block_size²."""
    from google_analytics_to_s3_spark.operators.linkage import (
        fuzzy_match_pairs,
    )

    # 20 filler rows share the prefix block 'p:aaaa' (size 22 > cap ->
    # purged) and have unique suffixes; the planted pair differs at a
    # MID-string position, so it shares both prefix (purged) and
    # suffix 'zz99' (size 2, survives) blocks
    # the doubled digit block keeps fillers pairwise >= distance 2
    rows = [(i, f"aaaa-{i:04d}{i:04d}-x") for i in range(20)]
    rows += [(100, "aaaa-b-zz99"), (101, "aaaa-c-zz99")]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = fuzzy_match_pairs(
        df, max_dist=1, block_chars=4, max_block_size=10
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert pairs == {(100, 101)}
    # with no purging the same pair arrives via the prefix block too —
    # and the quadratic filler candidates appear only as pair WORK,
    # never as matches (unique suffixes keep them > distance 1)
    got_all = fuzzy_match_pairs(
        df, max_dist=1, block_chars=4, max_block_size=10_000
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in got_all} == {(100, 101)}


def test_bpe_merges_match_reference_algorithm(spark):
    """The distributed BPE must reproduce the classic sequential
    algorithm (Sennrich ACL'16) exactly — including round 4, which
    merges a token produced by an earlier round, exercising the
    greedy left-to-right replace semantics."""
    from collections import Counter

    from google_analytics_to_s3_spark.operators.bpe import bpe_train_merges

    def py_bpe(wordfreq, n):
        seqs = {tuple(w): f for w, f in wordfreq.items()}
        merges = []
        for r in range(1, n + 1):
            cnt = Counter()
            for syms, f in seqs.items():
                for i in range(len(syms) - 1):
                    cnt[(syms[i], syms[i + 1])] += f
            (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((r, a, b, c))
            new = {}
            for syms, f in seqs.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new[tuple(out)] = new.get(tuple(out), 0) + f
            seqs = new
        return merges

    wf = {"lower": 5, "low": 7, "newest": 6, "widest": 3, "newer": 4,
          "lowest": 2}
    df = spark.createDataFrame(list(wf.items()), ["word", "freq"])
    got = [
        (r["merge_round"], r["a"], r["b"], r["cnt"])
        for r in bpe_train_merges(df, 4).orderBy("merge_round").collect()
    ]
    assert got == py_bpe(wf, 4)

    # immediately adjacent occurrences of the merged pair: [h,a,h,a]
    # must become [ha,ha] in one round (a single-space-delimited
    # replace would skip the second occurrence), and runs of a
    # self-pair ([a,a,a] -> [aa,a]) must merge leftmost-greedy
    wf2 = {"haha": 9, "hahaha": 4, "aaa": 5, "aaaa": 2, "ha": 1}
    df2 = spark.createDataFrame(list(wf2.items()), ["word", "freq"])
    got2 = [
        (r["merge_round"], r["a"], r["b"], r["cnt"])
        for r in bpe_train_merges(df2, 3).orderBy("merge_round").collect()
    ]
    assert got2 == py_bpe(wf2, 3)


def test_r4_prefix_newcomer_plan_shapes(spark, sf_smoke):
    """The round-4 prefix newcomers keep the repo's plan invariants: no
    cartesian/BNLJ anywhere; the map-side decodes stay exchange-free;
    the enum/cap rollups stay single-exchange."""
    from google_analytics_to_s3_spark.plans import driver_queries as dq

    bounds = {
        "envelope_decode": 1,   # L1-L4 decode: pure projection after
                                # the r13 input spread (unsplittable
                                # single-row-group scan)
        "action_revenue": 1,    # enum + revenue rollup
        "source_caps": 1,       # per-source keep-rank + cap
        "page_path_levels": 2,  # URL rollup w/ count_distinct expand
        "hll_users": 4,
        "repetition_signals": 4,
    }
    for name, max_ex in bounds.items():
        plan = plan_text(dq.QUERIES[name](spark, sf_smoke))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        n = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n <= max_ex, f"{name}: {n} exchanges > {max_ex}\n{plan}"


def test_merge_upsert_matches_python_model_property(spark):
    """Property: for any base table and CDC batch (unique version per
    key inside the batch), merge_upsert equals the dict-replay model."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from google_analytics_to_s3_spark.operators.merge import merge_upsert

    keys = st.integers(min_value=0, max_value=12)

    @settings(max_examples=10, deadline=None)
    @given(
        base=st.dictionaries(keys, st.text("ab", max_size=2), max_size=8),
        changes=st.dictionaries(
            keys,
            st.tuples(st.text("cd", max_size=2), st.booleans()),
            max_size=8,
        ),
    )
    def check(base, changes):
        model = dict(base)
        for k, (val, dele) in changes.items():
            if dele:
                model.pop(k, None)
            else:
                model[k] = val
        bdf = spark.createDataFrame(
            list(base.items()), "k INT, val STRING"
        )
        cdf = spark.createDataFrame(
            [(k, v, 1, d) for k, (v, d) in changes.items()],
            "k INT, val STRING, version INT, is_deleted BOOLEAN",
        )
        got = {
            r["k"]: r["val"]
            for r in merge_upsert(bdf, cdf, ["k"]).collect()
        }
        assert got == model, (base, changes, got, model)

    check()


def test_count_min_sketch_merges_across_shards(spark):
    """The CMS mergeability claim: building per shard and summing
    matching counters equals building over the union — the property
    that makes the sketch a partial-aggregation / streaming citizen."""
    import pyspark.sql.functions as F

    from google_analytics_to_s3_spark.operators.stats import (
        count_min_build,
    )

    rows = [(i, f"w{i % 7}", 1) for i in range(50)]
    df = spark.createDataFrame(rows, ["i", "k", "w"])
    whole = count_min_build(df, "k", weight_col="w")
    h1 = count_min_build(df.filter("i < 20"), "k", weight_col="w")
    h2 = count_min_build(df.filter("i >= 20"), "k", weight_col="w")
    merged = (
        h1.unionByName(h2)
        .groupBy("row", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = {(r["row"], r["pos"]): r["cnt"] for r in whole.collect()}
    b = {(r["row"], r["pos"]): r["cnt"] for r in merged.collect()}
    assert a == b


def test_bpe_apply_known_merges(spark):
    """Encode with trained merges reproduces classic greedy BPE, and a
    round with no learned merge passes rows through (no crossJoin
    wipe-out)."""
    from google_analytics_to_s3_spark.operators.bpe import (
        bpe_apply,
        bpe_train_merges,
    )

    words = spark.createDataFrame(
        [("haha", 2), ("hahah", 1)], ["word", "freq"]
    )
    merges = bpe_train_merges(words, n_merges=2)
    got = {
        (r["merge_round"], r["a"], r["b"]): r["cnt"]
        for r in merges.collect()
    }
    assert got == {(1, "h", "a"): 6, (2, "ha", "ha"): 3}

    enc = {
        r["word"]: (r["tokens"], r["n_tokens"])
        for r in bpe_apply(words, merges, 2).collect()
    }
    assert enc["haha"] == (["haha"], 1)
    assert enc["hahah"] == (["haha", "h"], 2)

    # ask for 3 rounds with only 2 learned: round 3 is a no-op
    enc3 = {
        r["word"]: r["tokens"]
        for r in bpe_apply(words, merges, 3).collect()
    }
    assert enc3 == {"haha": ["haha"], "hahah": ["haha", "h"]}


def test_interval_join_semantics_and_plan(spark, sf_smoke):
    """interval_join: containment semantics (half-open, overlap
    fan-out, boundary exactness) and a hash-join plan — the grid
    bucketing must keep Catalyst off the nested-loop path."""
    from google_analytics_to_s3_spark.operators.asof import interval_join
    from google_analytics_to_s3_spark.plans.driver_queries_extra import (
        q_interval_join,
    )

    ev = spark.createDataFrame(
        [(0, 50), (1, 100), (2, 150), (3, 199), (4, 200), (5, 250)],
        ["eid", "ts"],
    )
    iv = spark.createDataFrame(
        [(0, 100, 200), (1, 150, 300)], ["ivid", "lo", "hi"]
    )
    out = interval_join(ev, iv, "ts", "lo", "hi", granularity=40)
    got = sorted((r["eid"], r["ivid"]) for r in out.collect())
    # 50 matches nothing; 100 only iv0 (start inclusive); 150 both
    # (overlap fan-out); 199 both; 200 only iv1 (end exclusive)
    assert got == [
        (1, 0), (2, 0), (2, 1), (3, 0), (3, 1), (4, 1), (5, 1),
    ]

    plan = plan_text(q_interval_join(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_attribution_models_single_visitor_exchange(spark, sf_smoke):
    """attribution_models: the touch side pays ONE visitor-hash
    exchange feeding join + all windows; credit math is pure
    projection. No global sort, no nested-loop join."""
    from google_analytics_to_s3_spark.plans.driver_queries_enrich import (
        q_attribution_models,
    )

    plan = plan_text(q_attribution_models(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # windows must not induce a global range partitioning
    assert "rangepartitioning" not in plan.lower(), plan


def test_semdedup_no_nested_loop(spark, sf_smoke):
    """semdedup: centroid assignment is map-side literals (no join);
    the only join is the cluster-key equi self-join + the left anti
    flag join — never a cartesian/BNLJ pairwise scan."""
    from google_analytics_to_s3_spark.plans.driver_queries import (
        q_semdedup,
    )

    plan = plan_text(q_semdedup(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dup_spans_plan_and_full_doc_span(spark, sf_smoke):
    """dup_spans: no cartesian/BNLJ; the digest-frequency agg and the
    flag join-back are equi-shapes; and a doc fully duplicated in
    another doc reports dup_frac 1.0 (the span merge reaches both
    ends)."""
    from google_analytics_to_s3_spark.operators.dedup import (
        duplicate_spans,
    )
    from google_analytics_to_s3_spark.plans.driver_queries import (
        q_dup_spans,
    )

    plan = plan_text(q_dup_spans(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    words = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(0, words), (1, words + " tail only here"), (2, "a b c")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in duplicate_spans(df, k=15).collect()
    }
    assert out[0]["dup_frac"] == 1.0
    assert out[0]["n_dup_spans"] == 1
    assert out[1]["dup_tokens"] == 20  # shared prefix, maximal merge
    assert out[2]["n_dup_spans"] == 0 and out[2]["dup_frac"] == 0.0


def test_fuzzy_dedup_transitive_closure(spark, sf_smoke):
    """fuzzy_dedup: A~B and B~C (but A!~C directly) must land in ONE
    component via the closure, canonical = lowest id; plan stays free
    of cartesian/BNLJ."""
    from google_analytics_to_s3_spark.operators.dedup import fuzzy_dedup
    from google_analytics_to_s3_spark.plans.driver_queries import (
        q_fuzzy_dedup,
    )

    plan = plan_text(q_fuzzy_dedup(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    chain = [
        (10, base + " one two"),
        (20, base + " one three"),   # near 10
        (30, base + " four three"),  # near 20, farther from 10
        (40, "totally different words nothing shared at all here now"),
    ]
    df = spark.createDataFrame(chain, "doc_id long, text string")
    out = {r["doc_id"]: r for r in fuzzy_dedup(df, threshold=0.5).collect()}
    assert out[10]["component"] == 10 and out[10]["is_canonical"]
    assert out[20]["component"] == 10 and not out[20]["is_canonical"]
    assert out[30]["component"] == 10 and not out[30]["is_canonical"]
    assert out[40]["component"] == 40 and out[40]["is_canonical"]


def test_random_projection_map_side_and_distance_preserving(spark, sf_smoke):
    """embedding_project: the projection is pure map-side (zero
    exchanges in the whole query plan), and the JL guarantee holds on
    real data — pairwise squared distances before/after projecting
    64→16 correlate strongly."""
    import numpy as np

    from google_analytics_to_s3_spark.operators.similarity import (
        random_projection,
    )
    from google_analytics_to_s3_spark.plans.driver_queries import QUERIES
    from google_analytics_to_s3_spark.sources.testdata import load_parallel

    # the loader's round-robin spread is allowed; the projection itself
    # must not induce any hash exchange (no join, no agg)
    plan = plan_text(QUERIES["embedding_project"](spark, sf_smoke))
    assert "Exchange hashpartitioning" not in plan, plan

    # filter, not limit: limit over round-robin partitions picks a
    # different row set per job, and emb is collected twice below
    emb = load_parallel(spark, sf_smoke, "embeddings").filter(
        "vec_id < 60"
    )
    orig = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in emb.collect()
    }
    proj = {
        r["vec_id"]: np.array(r["projected"], dtype=float)
        for r in random_projection(emb, d_out=16).collect()
    }
    # random embeddings concentrate pairwise distances, so correlation
    # is uninformative — pin the actual JL guarantee instead: squared
    # distances are preserved UNBIASEDLY (mean ratio ≈ 1) with bounded
    # per-pair distortion at d_out=16
    ids = sorted(orig)
    ratios = []
    for a in range(len(ids)):
        for b in range(a + 1, min(a + 4, len(ids))):
            u, v = ids[a], ids[b]
            d_o = float(np.sum((orig[u] - orig[v]) ** 2))
            d_p = float(np.sum((proj[u] - proj[v]) ** 2))
            ratios.append(d_p / d_o)
    ratios = np.array(ratios)
    assert 0.8 < ratios.mean() < 1.2, f"JL biased: mean {ratios.mean()}"
    assert ratios.min() > 0.1 and ratios.max() < 4.0, (
        f"JL distortion out of range: [{ratios.min()}, {ratios.max()}]"
    )


def test_remove_duplicate_spans_consistent_with_detection(spark, sf_smoke):
    """The removal half drops EXACTLY the token mass the detection half
    reports: n_tokens - n_kept == dup_tokens doc-by-doc on real data;
    planted full-dup doc comes back empty, clean doc untouched."""
    from google_analytics_to_s3_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )
    from google_analytics_to_s3_spark.sources.testdata import load_parallel

    d = load_parallel(spark, sf_smoke, "documents").select("doc_id", "text")
    det = {r["doc_id"]: r for r in duplicate_spans(d, k=15).collect()}
    spark.catalog.clearCache()
    rem = {r["doc_id"]: r for r in remove_duplicate_spans(d, k=15).collect()}
    spark.catalog.clearCache()
    assert det.keys() == rem.keys()
    for i in det:
        assert (
            rem[i]["n_tokens"] - rem[i]["n_kept"] == det[i]["dup_tokens"]
        ), i

    words = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(0, words), (1, words.upper()), (2, "Unique Short Text")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in remove_duplicate_spans(df, k=15).collect()
    }
    # matching is case-folded (0 and 1 dup each other despite casing)…
    assert out[0]["cleaned"] == "" and out[0]["n_kept"] == 0
    assert out[1]["cleaned"] == ""
    # …but kept text preserves the ORIGINAL casing
    assert out[2]["cleaned"] == "Unique Short Text"


def test_dedup_incremental_cross_side_only(spark, sf_smoke):
    """dedup_against_reference flags ONLY new-vs-reference matches:
    two near-identical docs inside the batch do not flag each other,
    a batch doc matching the corpus flags with the lowest ref id; plan
    stays equi-join only."""
    from google_analytics_to_s3_spark.operators.dedup import (
        dedup_against_reference,
    )
    from google_analytics_to_s3_spark.plans.driver_queries import (
        q_dedup_incremental,
    )

    plan = plan_text(q_dedup_incremental(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    new = spark.createDataFrame(
        [
            (100, base + " one"),        # matches ref 1 and ref 2
            (101, "x y z q r s t u v w totally fresh content here"),
            (102, "x y z q r s t u v w totally fresh content here"),
            # 101/102 dup EACH OTHER but nothing in the reference
        ],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(1, base + " two"), (2, base + " three"), (3, "unrelated words")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_against_reference(new, ref, threshold=0.5).collect()
    }
    assert out[100]["is_dup"] and out[100]["matched_ref"] == 1
    assert not out[101]["is_dup"] and out[101]["matched_ref"] is None
    assert not out[102]["is_dup"]


def test_salted_join_splits_hot_keys_and_matches_plain_join(spark, sf_smoke):
    """salted_join: with broadcast off, the shuffle key is
    (key, _salt) — a hot key fans across `salt` reducers instead of
    one; and the result multiset equals the plain equi-join exactly."""
    from google_analytics_to_s3_spark.operators.asof import salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 != 9 else f"cold{i % 3}", float(i))
         for i in range(200)],
        "row_id long, k string, v double",
    )
    small = spark.createDataFrame(
        [("hot", 1), ("cold0", 2), ("cold2", 3)], "k string, w int"
    )
    j = salted_join(big, small, key="k", salt=4, big_salt_col="row_id")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_text(salted_join(big, small, key="k", salt=4,
                                 big_salt_col="row_id"))
        assert re.search(r"hashpartitioning\(k[^)]*_salt", plan), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    got = sorted((r["row_id"], r["k"], r["w"]) for r in j.collect())
    want = sorted(
        (r["row_id"], r["k"], r["w"])
        for r in big.join(small, "k").collect()
    )
    assert got == want
    # hot key really splits: 4 distinct salts on the big side
    from pyspark.sql import functions as F
    salted = big.withColumn(
        "_salt",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("row_id").cast("string")), 1, 14),
                   16, 10).cast("long"),
            F.lit(4),
        ),
    )
    n_salts = salted.filter("k = 'hot'").select("_salt").distinct().count()
    assert n_salts == 4


def test_global_index_plan_broadcast_offsets(spark, sf_smoke):
    """global_index: offsets arrive via broadcast (the data never
    shuffles for the tiny offset table) and the window's bucket
    partitioning is a hash exchange — no global range sort."""
    from google_analytics_to_s3_spark.plans.driver_queries_extra import (
        q_global_index,
    )

    plan = plan_text(q_global_index(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan


def test_shuffle_shards_single_exchange(spark, sf_smoke):
    """shuffle_shards: one hash exchange on the shard key feeds the
    window; no join, no global sort."""
    from google_analytics_to_s3_spark.plans.driver_queries_extra import (
        q_shuffle_shards,
    )

    plan = plan_text(q_shuffle_shards(spark, sf_smoke))
    assert "Join" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_kmv_overlap_data_sized_work_is_one_distinct(spark, sf_smoke):
    """kmv_overlap: the only data-sized shuffle is the (group, hash)
    distinct + the per-group rank; every pairwise stage is
    sketch-sized and broadcast. No cartesian scan (the group-domain
    crossJoin is a broadcast of a groups-row aggregate)."""
    from google_analytics_to_s3_spark.plans.driver_queries_extra import (
        q_kmv_overlap,
    )

    plan = plan_text(q_kmv_overlap(spark, sf_smoke))
    assert "CartesianProduct" not in plan, plan
    # all pairwise joins ride broadcasts
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_weighted_sample_takeordered_and_weight_bias(spark, sf_smoke):
    """weighted_sample: top-k compiles to TakeOrderedAndProject (heap,
    not a global sort exchange), and the E-S keys actually bias the
    sample toward heavy rows (sample mean weight > corpus mean)."""
    from google_analytics_to_s3_spark.plans.driver_queries_extra import (
        q_weighted_sample,
    )
    from google_analytics_to_s3_spark.sources.testdata import load_parallel

    df = q_weighted_sample(spark, sf_smoke)
    plan = plan_text(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan

    rows = df.collect()
    corpus = load_parallel(spark, sf_smoke, "documents").filter(
        "n_chars > 0"
    )
    corpus_mean = corpus.agg({"n_chars": "avg"}).first()[0]
    sample_mean = sum(r["weight"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_snapshot_diff_roundtrips_through_merge_upsert(spark, sf_smoke):
    """diff then apply == new: the changeset snapshot_diff recovers,
    fed through merge_upsert as a CDC batch, must reproduce the new
    snapshot exactly — the two operators are true inverses."""
    from google_analytics_to_s3_spark.operators.merge import (
        merge_upsert,
        snapshot_diff,
    )
    from google_analytics_to_s3_spark.sources.testdata import load_table
    import pyspark.sql.functions as F

    old = load_table(spark, sf_smoke, "customer")
    hv = F.pmod(F.col("c_custkey") * 7 + 3, F.lit(10))
    new = (
        old.filter(hv != 0)
        .withColumn(
            "c_mktsegment",
            F.when(hv == 1, F.lit("CHURNED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
    )
    diff = snapshot_diff(
        old, new, ["c_custkey"],
        ["c_name", "c_nationkey", "c_mktsegment"],
    )
    upserts = diff.filter("change_type != 'delete'").join(
        new, "c_custkey"
    ).select(
        *new.columns,
        F.lit(1).alias("v"),
        F.lit(False).alias("is_deleted"),
    )
    deletes = diff.filter("change_type = 'delete'").select(
        "c_custkey",
        *[F.lit(None).cast(old.schema[c].dataType).alias(c)
          for c in old.columns if c != "c_custkey"],
        F.lit(1).alias("v"),
        F.lit(True).alias("is_deleted"),
    )
    applied = merge_upsert(
        old, upserts.unionByName(deletes), ["c_custkey"], "v",
        "is_deleted",
    )
    assert applied.exceptAll(new).count() == 0
    assert new.exceptAll(applied).count() == 0


def test_rolling_features_single_exchange_all_horizons(spark, sf_smoke):
    """rolling_features: every horizon shares the user partitioning +
    ts ordering, so the whole feature set costs ONE hash exchange and
    one in-partition sort — no per-horizon re-shuffle, no join."""
    from google_analytics_to_s3_spark.plans.driver_queries_extra import (
        q_rolling_features,
    )

    plan = plan_text(q_rolling_features(spark, sf_smoke))
    assert "Join" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_rolling_features_point_in_time_semantics(spark):
    """A hand-built history pins the leakage-free window edges: the
    horizon includes the event itself and exactly h ms of history —
    an event h ms older falls out; equal timestamps co-count."""
    from google_analytics_to_s3_spark.operators.features import (
        rolling_features,
    )

    rows = [
        # (event_id, user_id, ts_ms, value)
        (1, 1, 0, 1.0),
        (2, 1, 999, 1.0),       # inside the 1000ms horizon of t=999
        (3, 1, 1000, 1.0),      # t=1000: window is [1, 1000], excludes t=0
        (4, 1, 1000, 1.0),      # tie with event 3: co-counted via RANGE
        (5, 2, 1000, 2.5),      # other user: isolated
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, ts_ms LONG, value DOUBLE"
    )
    got = {
        r["event_id"]: (r["n_w"], r["cents_w"])
        for r in rolling_features(df, {"w": 1000}).collect()
    }
    assert got[1] == (1, 100)
    assert got[2] == (2, 200)          # [0, 999] includes both
    # [1, 1000]: event 1 at t=0 excluded; ties 3+4 both included
    assert got[3] == (3, 300)
    assert got[4] == (3, 300)
    assert got[5] == (1, 250)


def test_dq_checks_single_scan_and_planted_violations(spark, sf_smoke):
    """check_table folds all of a table's constraints into ONE
    aggregate (a single scan — no per-check job), and the checker
    counts planted violations exactly."""
    import pyspark.sql.functions as F

    from google_analytics_to_s3_spark.operators.dq import (
        check_table,
        in_range,
        not_null,
        ref_integrity,
        unique,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (2, 99.0), (None, -1.0)],
        "k LONG, v DOUBLE",
    )
    rep = check_table(df, "t", [
        unique("k"), not_null("k"), not_null("v"), in_range("v", 0, 10),
    ])
    plan = plan_text(rep)
    # one scan, one aggregate chain — no join/union of per-check jobs
    assert plan.count("Scan ") == 1, plan
    got = {r["constraint"]: r["violations"] for r in rep.collect()}
    assert got == {
        "unique(k)": 1,          # k=2 twice -> one extra row
        "not_null(k)": 1,
        "not_null(v)": 1,
        "in_range(v,0,10)": 2,   # -1 and 99
    }
    assert all(
        (r["violations"] == 0) == r["passed"] for r in rep.collect()
    )

    parent = spark.createDataFrame([(1,), (2,)], "pk LONG")
    child = spark.createDataFrame([(1,), (3,), (None,)], "fk LONG")
    ri = ref_integrity(child, parent, "fk", "pk", "c").collect()[0]
    assert ri["violations"] == 1 and not ri["passed"]


class TestHilbertKeys:
    def test_reference_is_a_bijection_with_unit_steps(self):
        """xy2d over the full 16x16 grid hits every d exactly once AND
        consecutive d values are Manhattan-adjacent cells — the
        locality property that makes Hilbert beat Morton for file
        clustering (Morton jumps at quadrant seams)."""
        from google_analytics_to_s3_spark.sources.maintenance import (
            hilbert_xy2d,
        )

        bits = 4
        n = 1 << bits
        inv = {}
        for x in range(n):
            for y in range(n):
                inv[hilbert_xy2d(bits, x, y)] = (x, y)
        assert sorted(inv) == list(range(n * n))
        for d in range(n * n - 1):
            (x1, y1), (x2, y2) = inv[d], inv[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1

    def test_dataframe_matches_reference(self, spark):
        from google_analytics_to_s3_spark.sources.maintenance import (
            hilbert_xy2d, with_hilbert_key,
        )

        bits = 5
        n = 1 << bits
        rows = [(x * n + y, x, y) for x in range(n) for y in range(n)]
        df = spark.createDataFrame(rows, "rid long, x long, y long")
        # mins/maxs spanning exactly the grid -> normalization is
        # identity
        out = {
            r.rid: r.hkey
            for r in with_hilbert_key(
                df, "x", "y", [0, 0], [n - 1, n - 1], bits=bits
            ).collect()
        }
        for x in range(n):
            for y in range(n):
                assert out[x * n + y] == hilbert_xy2d(bits, x, y)

    def test_single_codegen_stage(self, spark):
        """All 8 unrolled rounds collapse into one projection — no
        exchange, no extra stages."""
        from google_analytics_to_s3_spark.sources.maintenance import (
            with_hilbert_key,
        )

        from pyspark.sql import functions as F

        df = spark.range(100).select(
            F.col("id").alias("x"), (F.col("id") * 3 % 97).alias("y")
        )
        q = with_hilbert_key(df, "x", "y", [0, 0], [99, 96], bits=8)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
