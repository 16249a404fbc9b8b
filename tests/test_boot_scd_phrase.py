"""Unit + plan coverage for the Poisson bootstrap, SCD2 as-of join and
phrase search added in the round-4 continuation."""

from pyspark.sql import functions as F

from google_analytics_to_s3_spark.operators.scd import (
    scd2_asof_join,
    scd2_versions,
)
from google_analytics_to_s3_spark.operators.stats import (
    bootstrap_mean_ci,
    bootstrap_multiplicity,
)

from .plan_signature import plan_text


class TestBootstrap:
    def test_ci_brackets_point_estimate(self, spark):
        df = spark.range(2000).select(
            F.col("id").alias("k"),
            (F.col("id") % 100).cast("double").alias("v"),
        )
        r = bootstrap_mean_ci(df, "k", "v").first()
        assert r["n"] == 2000
        assert abs(r["point_est"] - 49.5) < 0.01
        assert r["boot_lo"] <= r["point_est"] <= r["boot_hi"]
        # Poisson(1) resampling of 2000 iid rows: CI half-width should
        # be a few standard errors (se ≈ 0.65), not degenerate or huge
        assert 0.3 < r["boot_hi"] - r["boot_lo"] < 5.0

    def test_multiplicity_distribution(self, spark):
        # mean(w) ≈ 1 and P(w=0) ≈ 1/e over many draws
        df = spark.range(20000).select(
            bootstrap_multiplicity(F.col("id"), F.lit(0)).alias("w")
        )
        row = df.agg(
            F.avg("w").alias("m"),
            F.avg((F.col("w") == 0).cast("double")).alias("p0"),
        ).first()
        assert abs(row["m"] - 1.0) < 0.03
        assert abs(row["p0"] - 0.3679) < 0.02

    def test_deterministic(self, spark):
        df = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
        )
        a = bootstrap_mean_ci(df, "k", "v").first()
        b = bootstrap_mean_ci(df, "k", "v").first()
        assert a == b

    def test_tiny_input_no_nulls(self, spark):
        # with n=1, ~1/e of the 64 replicates draw weight 0 and are
        # dropped pre-division; the clamped ranks must still yield
        # defined (non-null) bounds equal to the only value present
        df = spark.createDataFrame([(1, 5.0)], "k long, v double")
        r = bootstrap_mean_ci(df, "k", "v").first()
        assert r["n"] == 1
        assert r["boot_lo"] is not None and r["boot_hi"] is not None
        assert r["boot_lo"] == r["boot_hi"] == r["point_est"] == 5.0


class TestScd2AsofJoin:
    def _versions(self, spark):
        obs = spark.createDataFrame(
            [
                (1, "LOW", 10, 100),
                (1, "HIGH", 20, 101),
                (1, "LOW", 30, 102),
                (2, "MED", 15, 103),
            ],
            "k long, attr string, eff long, tb long",
        )
        return scd2_versions(obs, "k", "attr", "eff", "tb").select(
            "k", "attr", "valid_from", "valid_to"
        )

    def test_picks_version_valid_at_fact_time(self, spark):
        facts = spark.createDataFrame(
            [(1, 10), (1, 19), (1, 25), (1, 30), (2, 99)],
            "k long, ts long",
        )
        out = scd2_asof_join(facts, self._versions(spark), "k", "ts")
        got = {(r["k"], r["ts"]): r["attr"] for r in out.collect()}
        assert got == {
            (1, 10): "LOW",   # inclusive at valid_from
            (1, 19): "LOW",   # exclusive at valid_to
            (1, 25): "HIGH",
            (1, 30): "LOW",   # third version reopens LOW
            (2, 99): "MED",   # open-ended current row
        }

    def test_fact_before_first_version_left_join(self, spark):
        facts = spark.createDataFrame([(1, 5)], "k long, ts long")
        out = scd2_asof_join(
            facts, self._versions(spark), "k", "ts", how="left"
        )
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["attr"] is None

    def test_plan_is_equi_join(self, spark):
        facts = spark.createDataFrame([(1, 10)], "k long, ts long")
        plan = plan_text(scd2_asof_join(facts, self._versions(spark), "k", "ts"))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


class TestPhraseSearchPlan:
    def test_no_shuffle_per_branch(self, spark):
        from google_analytics_to_s3_spark.operators.text import phrase_search

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "b c a")], "doc_id long, text string"
        )
        plan = plan_text(phrase_search(df, ["a b"]))
        # scan-local: no Exchange anywhere in the single-phrase plan
        assert "Exchange" not in plan, plan


class TestIdentityPlans:
    """Plan-shape guards for the identity/analytics batch."""

    def test_url_dedup_single_aggregation(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["url_dedup"](spark, sf_smoke))
        # map-side canonicalization + ONE hash aggregation: the only
        # exchanges are the r13 input spread (the testdata scan is one
        # unsplittable row group, so the parse_url canonicalization is
        # repartitioned onto every core first) plus the partial→final
        # agg pair (2 with distinct expansion), never a join
        assert "Join" not in plan, plan
        assert plan.count("Exchange") <= 3, plan

    def test_user_erasure_broadcasts_requests(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["user_erasure"](spark, sf_smoke))
        # every purge check is a broadcast join; the fact side must
        # never sort-merge against the request list
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_word_pmi_unigram_joins_broadcast(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["word_pmi"](spark, sf_smoke))
        # pair table joins the vocab-sized unigram table twice — both
        # must broadcast; the only BNLJ is the 1-row totals crossJoin
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_item_similarity_no_cartesian(self, spark, sf_smoke):
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        plan = plan_text(dq.QUERIES["item_similarity"](spark, sf_smoke))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # the scored pair table is pinned once (a local checkpoint) and
        # both branches of the symmetric union scan the pin: two
        # ExistingRDD scans, and the pair expansion is not re-planned
        # under either branch
        assert plan.count("Scan ExistingRDD") == 2, plan
        assert "Generate" not in plan, plan
        spark.catalog.clearCache()
