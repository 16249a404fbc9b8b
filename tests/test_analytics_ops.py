"""Unit coverage for the round-5 analytics operators: sequential
patterns, RFM segmentation, hash splits, zone-map pruning stats, and
the SRM guardrail."""

import pytest
from pyspark.sql import functions as F

from google_analytics_to_s3_spark.operators.curation import hash_split
from google_analytics_to_s3_spark.operators.features import rfm_segments
from google_analytics_to_s3_spark.operators.sequence import (
    sequential_patterns,
)
from google_analytics_to_s3_spark.operators.stats import srm_check
from google_analytics_to_s3_spark.sources.maintenance import (
    partition_stats,
)

from .plan_signature import plan_text


class TestSequentialPatterns:
    def _events(self, spark):
        # user 1 walks a->b->c twice (2 occurrences, 1 user);
        # user 2 walks a->b->c once; user 3 walks b->c->a
        rows = [
            (1, 1, "a"), (1, 2, "b"), (1, 3, "c"),
            (1, 4, "a"), (1, 5, "b"), (1, 6, "c"),
            (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),
            (3, 1, "b"), (3, 2, "c"), (3, 3, "a"),
        ]
        return spark.createDataFrame(rows, "u long, t long, ev string")

    def test_support_is_distinct_users(self, spark):
        out = {
            (r["p1"], r["p2"], r["p3"]): (r["n_occurrences"], r["n_users"])
            for r in sequential_patterns(
                self._events(spark), "u", "ev", ["t"], n=3
            ).collect()
        }
        assert out[("a", "b", "c")] == (3, 2)  # 3 occurrences, 2 users
        assert out[("b", "c", "a")] == (2, 2)  # u1 crosses, u3 direct

    def test_min_support_filters(self, spark):
        out = sequential_patterns(
            self._events(spark), "u", "ev", ["t"], n=3, min_support=2
        )
        pats = {(r["p1"], r["p2"], r["p3"]) for r in out.collect()}
        assert pats == {("a", "b", "c"), ("b", "c", "a")}

    def test_bigrams(self, spark):
        out = {
            (r["p1"], r["p2"]): r["n_users"]
            for r in sequential_patterns(
                self._events(spark), "u", "ev", ["t"], n=2
            ).collect()
        }
        assert out[("a", "b")] == 2 and out[("c", "a")] == 2

    def test_n_validation(self, spark):
        with pytest.raises(ValueError, match="n must be"):
            sequential_patterns(self._events(spark), "u", "ev", ["t"], n=1)


class TestRfmSegments:
    def test_quintiles_and_segment(self, spark):
        # 10 users with strictly increasing metrics: tiles are exact
        rows = [(u, u, u * 2, u * 100) for u in range(1, 11)]
        pu = spark.createDataFrame(
            rows, "user_id long, r_day long, frequency long, "
            "monetary_cents long"
        )
        out = {r["user_id"]: r for r in rfm_segments(
            pu, "user_id", "r_day", "frequency", "monetary_cents"
        ).collect()}
        # user 1 is worst on every axis, user 10 best
        assert out[1]["segment"] == "1-1-1"
        assert out[10]["segment"] == "5-5-5"
        # 10 rows / 5 tiles = 2 per tile on each axis
        assert out[2]["r_score"] == 1 and out[3]["r_score"] == 2

    def test_tie_break_deterministic(self, spark):
        # all metrics equal: tiles assigned purely by user id order
        pu = spark.createDataFrame(
            [(u, 7, 7, 7) for u in range(1, 6)],
            "user_id long, r_day long, frequency long, monetary_cents long",
        )
        for nparts in (1, 4):
            out = {r["user_id"]: r["r_score"] for r in rfm_segments(
                pu.repartition(nparts), "user_id", "r_day", "frequency",
                "monetary_cents",
            ).collect()}
            assert out == {1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


class TestHashSplit:
    def test_deterministic_and_complete(self, spark):
        df = spark.range(1000).withColumnRenamed("id", "k")
        a = hash_split(df, "k").groupBy("split").count().collect()
        b = hash_split(df, "k").groupBy("split").count().collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        counts = {r["split"]: r["count"] for r in a}
        assert sum(counts.values()) == 1000
        # 80/10/10 within loose tolerance
        assert 700 < counts["train"] < 900
        assert 50 < counts["val"] < 160
        assert 50 < counts["test"] < 160

    def test_membership_stable_under_append(self, spark):
        # the split of the first 100 keys is unchanged by adding more
        base = hash_split(spark.range(100).withColumnRenamed("id", "k"),
                          "k")
        grown = hash_split(spark.range(500).withColumnRenamed("id", "k"),
                           "k").filter(F.col("k") < 100)
        assert sorted(map(tuple, base.collect())) == sorted(
            map(tuple, grown.collect())
        )

    def test_bounds_validation(self, spark):
        with pytest.raises(ValueError, match="last bound"):
            hash_split(spark.range(1), "id", bounds={"a": 50, "b": 99})
        # duplicate bound would silently empty split 'b'
        with pytest.raises(ValueError, match="strictly increasing"):
            hash_split(spark.range(1), "id",
                       bounds={"a": 50, "b": 50, "c": 100})
        with pytest.raises(ValueError, match="strictly increasing"):
            hash_split(spark.range(1), "id",
                       bounds={"a": 0, "b": 100})
        with pytest.raises(ValueError, match="strictly increasing"):
            hash_split(spark.range(1), "id",
                       bounds={"a": -5, "b": 100})


class TestPartitionStats:
    def test_stats_and_skip_flag(self, spark):
        rows = [(0, 1.0), (0, 5.0), (1, 50.0), (1, None), (2, None)]
        df = spark.createDataFrame(rows, "d long, v double")
        out = {r["part"]: r for r in partition_stats(
            df, "d", "v", predicate_min=10.0
        ).collect()}
        assert out[0]["skippable"] is True      # max 5 < 10
        assert out[1]["skippable"] is False     # max 50 >= 10
        assert out[2]["skippable"] is True      # all-null partition
        assert out[0]["n_rows"] == 2 and out[1]["n_nulls"] == 1

    def test_no_predicate_no_flag(self, spark):
        df = spark.createDataFrame([(0, 1.0)], "d long, v double")
        assert "skippable" not in partition_stats(df, "d", "v").columns


class TestSrmCheck:
    def test_balanced_no_alarm(self, spark):
        rows = [("a",)] * 500 + [("b",)] * 510
        df = spark.createDataFrame(rows, "arm string")
        out = {r["arm"]: r for r in srm_check(
            df, "arm", {"a": 1.0, "b": 1.0}
        ).collect()}
        assert out["a"]["srm_alarm"] is False
        assert out["a"]["n_exp"] == 505.0
        assert out["a"]["chi2"] == out["b"]["chi2"]

    def test_skewed_alarms(self, spark):
        rows = [("a",)] * 600 + [("b",)] * 400
        df = spark.createDataFrame(rows, "arm string")
        out = srm_check(df, "arm", {"a": 1.0, "b": 1.0}).first()
        # chi2 = (100)^2/500 * 2 = 40 >> 3.84
        assert out["chi2"] == 40.0 and out["srm_alarm"] is True

    def test_zero_count_arm_kept(self, spark):
        df = spark.createDataFrame([("a",)] * 10, "arm string")
        out = {r["arm"]: r["n_obs"] for r in srm_check(
            df, "arm", {"a": 1.0, "b": 1.0}
        ).collect()}
        assert out == {"a": 10, "b": 0}

    def test_validation(self, spark):
        df = spark.createDataFrame([("a",)], "arm string")
        with pytest.raises(ValueError, match=">= 2 arms"):
            srm_check(df, "arm", {"a": 1.0})
        with pytest.raises(ValueError, match="critical value"):
            srm_check(df, "arm", {str(i): 1.0 for i in range(9)})

    def test_unexpected_arm_fires_alarm(self, spark):
        # An observed arm ABSENT from the design (a config bug) must
        # surface in the report with n_exp=0 and force the alarm —
        # its chi-square contribution is mathematically infinite —
        # never be silently dropped from the totals.
        rows = [("a",)] * 500 + [("b",)] * 500 + [("rogue",)] * 7
        df = spark.createDataFrame(rows, "arm string")
        out = {r["arm"]: r for r in srm_check(
            df, "arm", {"a": 1.0, "b": 1.0}
        ).collect()}
        assert set(out) == {"a", "b", "rogue"}
        assert out["rogue"]["n_exp"] == 0.0
        assert out["rogue"]["chi2_term"] == float("inf")
        assert all(r["srm_alarm"] for r in out.values())
        # the rogue units still count toward the per-arm expectations
        assert out["a"]["n_exp"] == 503.5


class TestAnalyticsPlans:
    """Plan-shape guards for the round-5 analytics batch."""

    def test_sequence_mining_single_user_exchange(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["sequence_mining"](spark, sf_smoke))
        # one user-hash exchange feeds the lead window; the support agg
        # adds its partial/final pair (+1 for the distinct-user expand)
        assert "Join" not in plan, plan
        assert plan.count("Exchange") <= 3, plan

    def test_dataset_split_map_side_assignment(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["dataset_split"](spark, sf_smoke))
        # split assignment is a projection; only the 2-key agg shuffles
        # (+1 round-robin from the load_parallel scan repartition)
        assert "Join" not in plan, plan
        assert plan.count("hashpartitioning") <= 1, plan

    def test_pruning_stats_one_aggregation(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["pruning_stats"](spark, sf_smoke))
        assert "Join" not in plan, plan
        assert plan.count("Exchange") <= 1, plan

    def test_bounce_exit_shares_session_exchange(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["bounce_exit"](spark, sf_smoke))
        # all four metrics fold into ONE page-grain conditional
        # aggregation over one scan: no joins at all, one user exchange
        # (sessionize + both in-session windows share it) + the final
        # page aggregation
        assert "Join" not in plan, plan
        assert plan.count("FileScan") == 1, plan
        assert plan.count("hashpartitioning(user_id") == 1, plan

    def test_ab_srm_single_data_pass(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["ab_srm"](spark, sf_smoke))
        # one distinct-users aggregation is the only data-sized work;
        # the weight table joins broadcast on the 2-row side
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_rfm_no_global_sort(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.operators.features import (
            rfm_segments,
        )
        from google_analytics_to_s3_spark.sources.testdata import (
            load_table,
        )

        per_user = (
            load_table(spark, sf_smoke, "orders")
            .groupBy(F.col("o_custkey").alias("user"))
            .agg(
                F.max("o_orderdate").cast("string").alias("rec"),
                F.count("*").alias("freq"),
                F.sum(F.floor(F.col("o_totalprice") * 100))
                .cast("long")
                .alias("mon"),
            )
            .withColumn(
                "rec",
                F.datediff(F.to_date(F.col("rec")), F.lit("1992-01-01")),
            )
        )
        # the r5 verdict's flagged scale-killer: three ntile windows
        # with no partition key = three single-reducer sorts. Above the
        # small-n threshold (forced here with threshold=0) the
        # exact_ntiles rewrite must keep every Exchange distributed.
        plan = plan_text(rfm_segments(
            per_user, "user", "rec", "freq", "mon",
            small_n_threshold=0,
        ))
        assert "Join" not in plan, plan
        assert "SinglePartition" not in plan, plan


class TestPsiReport:
    def test_identical_periods_zero_psi(self, spark):
        from google_analytics_to_s3_spark.operators.dq import psi_report

        rows = [("g", b, p) for b in range(5) for p in (0, 1)
                for _ in range(10)]
        df = spark.createDataFrame(rows, "g string, bucket long, p int")
        r = psi_report(df, "g", "bucket", "p").first()
        assert r["psi"] == 0.0 and r["drift_alarm"] is False
        assert r["n_ref"] == r["n_cur"] == 50

    def test_shifted_distribution_alarms(self, spark):
        from google_analytics_to_s3_spark.operators.dq import psi_report

        # reference mass on bucket 0, current mass on bucket 4
        rows = ([("g", 0, 0)] * 50 + [("g", 4, 1)] * 50)
        df = spark.createDataFrame(rows, "g string, bucket long, p int")
        r = psi_report(df, "g", "bucket", "p").first()
        assert r["psi"] > 1.0 and r["drift_alarm"] is True

    def test_groups_scored_independently(self, spark):
        from google_analytics_to_s3_spark.operators.dq import psi_report

        rows = ([("stable", b % 3, p) for b in range(30) for p in (0, 1)]
                + [("shifted", 0, 0)] * 30 + [("shifted", 1, 1)] * 30)
        df = spark.createDataFrame(rows, "g string, bucket long, p int")
        out = {r["g"]: r for r in psi_report(df, "g", "bucket", "p")
               .collect()}
        assert out["stable"]["drift_alarm"] is False
        assert out["shifted"]["drift_alarm"] is True


class TestCupedLift:
    def test_perfect_covariate_kills_variance(self, spark):
        from google_analytics_to_s3_spark.operators.stats import cuped_lift

        # post = 2*pre exactly: rho^2 = 1, adjusted means both collapse
        # to theta-corrected values with zero residual noise
        rows = [("a" if u % 2 == 0 else "b", u * 10, u * 20)
                for u in range(1, 41)]
        df = spark.createDataFrame(rows, "arm string, pre long, post long")
        out = {r["arm"]: r for r in cuped_lift(
            df, "arm", "pre", "post"
        ).collect()}
        assert out["a"]["theta"] == 2.0
        assert out["a"]["var_reduction"] == 1.0
        # adjusted means equalize: both equal the grand mean of post
        assert out["a"]["mean_post_adj"] == out["b"]["mean_post_adj"]

    def test_useless_covariate_changes_nothing(self, spark):
        from google_analytics_to_s3_spark.operators.stats import cuped_lift

        # constant pre: var(X)=0 -> theta=0, adjusted == raw
        rows = [("a", 5, 10 + u) for u in range(10)] + [
            ("b", 5, 30 + u) for u in range(10)]
        df = spark.createDataFrame(rows, "arm string, pre long, post long")
        out = {r["arm"]: r for r in cuped_lift(
            df, "arm", "pre", "post"
        ).collect()}
        for a in ("a", "b"):
            assert out[a]["theta"] == 0.0
            assert out[a]["mean_post_adj"] == out[a]["mean_post"]
            assert out[a]["var_reduction"] == 0.0

    def test_lift_direction_preserved(self, spark):
        from google_analytics_to_s3_spark.operators.stats import cuped_lift

        # balanced covariate, true +10 treatment effect: the adjusted
        # lift must stay positive
        rows = [("a", u % 7, 20 + (u % 7)) for u in range(50)] + [
            ("b", u % 7, 30 + (u % 7)) for u in range(50)]
        df = spark.createDataFrame(rows, "arm string, pre long, post long")
        out = {r["arm"]: r for r in cuped_lift(
            df, "arm", "pre", "post"
        ).collect()}
        assert out["b"]["mean_post_adj"] - out["a"]["mean_post_adj"] > 9.0


class TestMergeRollup:
    def test_three_way_fold_equals_full(self, spark):
        from google_analytics_to_s3_spark.operators.merge import (
            merge_rollup,
        )

        rows = [(f"t{i % 3}", i, i * 10) for i in range(60)]
        df = spark.createDataFrame(rows, "k string, a long, b long")

        def part(lo, hi):
            return df.filter(
                (F.col("a") >= lo) & (F.col("a") < hi)
            ).groupBy("k").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("b").cast("long").alias("sb"),
                F.min("b").cast("long").alias("mn"),
                F.max("b").cast("long").alias("mx"),
            )

        merged = merge_rollup(
            [part(0, 20), part(20, 45), part(45, 60)],
            key_cols=["k"], sum_cols=["n", "sb"],
            min_cols=["mn"], max_cols=["mx"],
        )
        full = part(0, 60)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_validation(self, spark):
        from google_analytics_to_s3_spark.operators.merge import (
            merge_rollup,
        )

        with pytest.raises(ValueError, match=">= 1 state"):
            merge_rollup([], key_cols=["k"], sum_cols=["n"])
        df = spark.createDataFrame([("a", 1)], "k string, n long")
        with pytest.raises(ValueError, match="no aggregate"):
            merge_rollup([df], key_cols=["k"])


class TestEngagementPlans:
    """Single-fact-scan guards for the engagement marts (the
    agg-and-rejoin formulations read the fact twice)."""

    def test_new_vs_returning_one_scan(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["new_vs_returning"](spark, sf_smoke))
        assert plan.count("FileScan") == 1, plan
        assert "Join" not in plan, plan

    def test_ltv_curve_one_scan(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["ltv_curve"](spark, sf_smoke))
        assert plan.count("FileScan") == 1, plan
        assert "Join" not in plan, plan

    def test_dau_wau_mau_one_scan(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["dau_wau_mau"](spark, sf_smoke))
        assert plan.count("FileScan") == 1, plan
        assert "Join" not in plan, plan


class TestTargetEncodeLoo:
    def test_leave_one_out_excludes_own_label(self, spark):
        from google_analytics_to_s3_spark.operators.features import (
            target_encode_loo,
        )

        # category "a": targets 10, 20; global mean = (10+20+90)/3 = 40
        rows = [(1, "a", 10), (2, "a", 20), (3, "b", 90)]
        df = spark.createDataFrame(rows, "id long, cat string, y long")
        out = {r["id"]: r["cat_enc"] for r in target_encode_loo(
            df, "cat", "y", prior_weight=2
        ).collect()}
        # row 1: ((30-10)*3 + 2*120) / ((2-1+2)*3) = 300/9
        assert out[1] == round(300 / 9, 6)
        # row 2: ((30-20)*3 + 2*120) / 9 = 270/9 = 30.0
        assert out[2] == 30.0
        # row 3 (singleton category): falls back to the smoothed prior
        # ((90-90)*3 + 2*120)/((1-1+2)*3) = 240/6 = 40 = global mean
        assert out[3] == 40.0

    def test_no_leakage_direction(self, spark):
        from google_analytics_to_s3_spark.operators.features import (
            target_encode_loo,
        )

        # within one category, the row with the LARGER label must get
        # the SMALLER encoding (its own high label is excluded)
        rows = [(i, "a", 10) for i in range(9)] + [(9, "a", 100)]
        df = spark.createDataFrame(rows, "id long, cat string, y long")
        out = {r["id"]: r["cat_enc"] for r in target_encode_loo(
            df, "cat", "y"
        ).collect()}
        assert out[9] < out[0]


class TestHashedFeatures:
    def test_counts_and_width(self, spark):
        from google_analytics_to_s3_spark.operators.text import (
            hashed_features,
        )

        df = spark.createDataFrame(
            [(1, "a b a"), (2, "a c")], "doc_id long, text string"
        )
        out = hashed_features(df, dim=64).collect()
        assert all(0 <= r["feature_idx"] < 64 for r in out)
        # token "a" hashes identically in both docs; doc 1 counts it 2x
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], {})[r["feature_idx"]] = (
                r["count"]
            )
        shared = set(by_doc[1]) & set(by_doc[2])
        assert any(by_doc[1][i] == 2 and by_doc[2][i] == 1
                   for i in shared)


def test_target_encode_rejects_zero_prior(spark):
    from google_analytics_to_s3_spark.operators.features import (
        target_encode_loo,
    )

    df = spark.createDataFrame([(1, "a", 5)], "id long, cat string, y long")
    with pytest.raises(ValueError, match="prior_weight"):
        target_encode_loo(df, "cat", "y", prior_weight=0)


class TestKaplanMeier:
    def _km(self, spark, rows, groups=("g",)):
        from google_analytics_to_s3_spark.operators.stats import (
            kaplan_meier,
        )

        df = spark.createDataFrame(rows, "g string, dur long, ev int")
        return {
            (r["g"], r["t"]): r
            for r in kaplan_meier(df, "dur", "ev", list(groups)).collect()
        }

    def test_textbook_curve(self, spark):
        # classic toy set: events at t=1 (2 of 5), t=3 (1 of 2),
        # censored at t=2 and t=3
        rows = [
            ("g", 1, 1), ("g", 1, 1), ("g", 2, 0), ("g", 3, 1),
            ("g", 3, 0),
        ]
        out = self._km(spark, rows)
        # t=1: n=5, d=2 -> S = 3/5 = 0.6
        assert out[("g", 1)]["n_at_risk"] == 5
        assert out[("g", 1)]["d_events"] == 2
        assert out[("g", 1)]["survival"] == 0.6
        assert out[("g", 1)]["hazard"] == 0.4
        # t=3: n=2, d=1 -> S = 0.6 * 1/2 = 0.3
        assert out[("g", 3)]["n_at_risk"] == 2
        assert out[("g", 3)]["survival"] == 0.3
        # censoring-only timepoints emit no row
        assert ("g", 2) not in out

    def test_censoring_keeps_risk_set(self, spark):
        # without censoring handling, the t=2 subject would vanish
        # from n_at_risk at t=2
        rows = [("g", 1, 1), ("g", 2, 0), ("g", 2, 0), ("g", 3, 1)]
        out = self._km(spark, rows)
        assert out[("g", 1)]["n_at_risk"] == 4
        assert out[("g", 3)]["n_at_risk"] == 1
        # S(3) = (3/4) * (0/1) = 0 — full wipeout at the last point
        assert out[("g", 3)]["survival"] == 0.0

    def test_total_wipeout_is_exact_zero_not_null(self, spark):
        rows = [("g", 1, 1), ("g", 1, 1)]
        out = self._km(spark, rows)
        assert out[("g", 1)]["survival"] == 0.0

    def test_groups_independent(self, spark):
        rows = [("a", 1, 1), ("a", 2, 1), ("b", 1, 1), ("b", 5, 0)]
        out = self._km(spark, rows)
        assert out[("a", 1)]["n_at_risk"] == 2
        assert out[("b", 1)]["n_at_risk"] == 2
        assert out[("b", 1)]["survival"] == 0.5
        assert ("b", 5) not in out  # censored only

    def test_window_runs_on_compacted_grain(self, spark):
        """The windows must run AFTER the (group, duration) groupBy:
        the plan's Window sees |durations| rows, not subjects. Guard:
        exactly one Aggregate below the first Window in the plan."""
        from google_analytics_to_s3_spark.operators.stats import (
            kaplan_meier,
        )

        df = spark.createDataFrame(
            [("g", (i % 7) + 1, i % 2) for i in range(500)],
            "g string, dur long, ev int",
        )
        out = kaplan_meier(df, "dur", "ev", ["g"])
        assert out.count() <= 7
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.index("Aggregate") > plan.index("Window")


class TestShapleyAttribution:
    def _run(self, spark, rows, channels):
        from google_analytics_to_s3_spark.operators.attribution import (
            shapley_attribution,
        )

        df = spark.createDataFrame(rows, "u long, ch string, conv int")
        return {
            r["channel"]: r
            for r in shapley_attribution(
                df, "ch", "u", "conv", channels
            ).collect()
        }

    def test_two_channel_textbook_game(self, spark):
        # v(A)=2/4, v(B)=1/4, v(AB)=2/2=1.0
        # phi_A = 1/2*(0.5-0) + 1/2*(1.0-0.25) = 0.625
        # phi_B = 1/2*(0.25-0) + 1/2*(1.0-0.5)  = 0.375
        rows = []
        for u in range(4):  # {A} journeys, 2 convert
            rows.append((u, "A", 1 if u < 2 else 0))
        for u in range(10, 14):  # {B} journeys, 1 converts
            rows.append((u, "B", 1 if u == 10 else 0))
        for u in (20, 21):  # {A,B} journeys, both convert
            rows += [(u, "A", 0), (u, "B", 1)]
        out = self._run(spark, rows, ["A", "B"])
        assert out["A"]["shap"] == 0.625
        assert out["B"]["shap"] == 0.375
        assert out["A"]["n_journeys"] == 6
        assert out["B"]["n_journeys"] == 6

    def test_efficiency_with_full_coverage(self, spark):
        # when every coalition is observed, sum(phi) == v(grand)
        rows = []
        u = 0
        specs = {("A",): (3, 1), ("B",): (3, 2), ("A", "B"): (4, 3)}
        for chans, (n, c) in specs.items():
            for i in range(n):
                for ch in chans:
                    rows.append((u, ch, 1 if i < c else 0))
                u += 1
        out = self._run(spark, rows, ["A", "B"])
        total = out["A"]["shap"] + out["B"]["shap"]
        assert abs(total - 0.75) < 1e-9  # v(AB) = 3/4

    def test_untouched_channel_gets_zero_marginal_base(self, spark):
        # channel C never appears: its phi uses only v-diffs of 0
        rows = [(1, "A", 1), (2, "A", 0)]
        out = self._run(spark, rows, ["A", "B", "C"])
        assert out["A"]["n_journeys"] == 2
        assert out["B"]["n_journeys"] == 0 and out["C"]["n_journeys"] == 0
        # with unobserved coalitions plugged 0, only S=empty gives A a
        # diff: phi_A = w(0)*(v(A)-0) = 2!/3! * 0.5
        assert out["A"]["shap"] == round(2 / 6 * 0.5, 6)
        # the plug-in's documented artifact: an untouched channel gets
        # a NEGATIVE marginal against each observed coalition —
        # phi_B = w(1)*(v(AB)=0 - v(A)=0.5) = -1/12 — rather than 0.
        # Pinning it keeps the plug-in semantics explicit.
        assert out["B"]["shap"] == round(-1 / 12, 6)
        assert out["C"]["shap"] == round(-1 / 12, 6)

    def test_unknown_channel_raises_at_execution(self, spark):
        from google_analytics_to_s3_spark.operators.attribution import (
            shapley_attribution,
        )
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import SparkRuntimeException

        df = spark.createDataFrame(
            [(1, "mystery", 0)], "u long, ch string, conv int"
        )
        out = shapley_attribution(df, "ch", "u", "conv", ["A"])
        with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception),
                           match="outside the channels list"):
            out.collect()

    def test_channel_list_validation(self, spark):
        from google_analytics_to_s3_spark.operators.attribution import (
            shapley_attribution,
        )

        df = spark.createDataFrame([(1, "A", 0)], "u long, ch string, conv int")
        with pytest.raises(ValueError, match="1..16"):
            shapley_attribution(df, "ch", "u", "conv", [])
        with pytest.raises(ValueError, match="distinct"):
            shapley_attribution(df, "ch", "u", "conv", ["A", "A"])
