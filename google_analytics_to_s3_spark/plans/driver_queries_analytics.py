"""Driver queries: the round-5 analytics batch.

Families (each thin wiring over an operator module, each with a full
DuckDB value oracle):

- behavior/sequence: sequence_mining, bounce_exit, session_timelines
- customer analytics: rfm_segments, new_vs_returning, ltv_curve,
  dau_wau_mau
- experimentation: ab_srm (guardrail), ab_cuped (variance reduction)
- monitoring/DQ: psi_drift, skew_report, pruning_stats,
  incremental_rollup
- training-data pipeline: dataset_split, lsh_recall, label_centroids
- semi-structured / multimodal: variant_extract (Spark-4 VARIANT),
  ppm_decode / wav_decode / y4m_shots (REAL uncompressed-container
  decoders value-oracled end-to-end)

The GA-reporting members extend the reference's session marts
(reference functions/sessionization/main.py:1009-1080 computes session
rows but stops short of the page-grain bounce/exit report or the
engagement marts every GA property ships with); the rest are the
training-data-pipeline analytics the assignment's "beyond the
reference" list calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sessionize import sessionize
from ..sources.testdata import (
    load_events,
    load_parallel,
    load_table,
    spread_if_narrow,
)

__all__ = ["QUERIES_ANALYTICS", "ORACLES_ANALYTICS"]

GAP_MS = 30 * 60 * 1000  # same session gap as the W1-W7 queries


# --------------------------------------------------------------------------
# Sequential pattern mining (contiguous 3-grams, distinct-user support)
# --------------------------------------------------------------------------

_SEQ_MIN_SUPPORT = 5


def q_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent consecutive event-type 3-grams with distinct-user
    support (operators/sequence.py) — the behavior-flow refinement of
    event_transitions: bigram transition COUNTS say which hop is
    common; pattern SUPPORT says how many users walk a whole path."""
    from ..operators.sequence import sequential_patterns

    e = load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts_ms"
    )
    return sequential_patterns(
        e, "user_id", "event_type", ["ts_ms", "event_id"],
        n=3, min_support=_SEQ_MIN_SUPPORT,
    )


SQL_SEQUENCE_MINING = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
  FROM events
),
led AS (
  SELECT user_id AS u, event_type AS p1,
         lead(event_type, 1) OVER w AS p2,
         lead(event_type, 2) OVER w AS p3
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
)
SELECT p1, p2, p3,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT u) AS BIGINT) AS n_users
FROM led WHERE p3 IS NOT NULL
GROUP BY 1, 2, 3
HAVING count(DISTINCT u) >= {_SEQ_MIN_SUPPORT}
"""


# --------------------------------------------------------------------------
# RFM quintile segmentation
# --------------------------------------------------------------------------

def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM customer segmentation over purchase events
    (operators/features.py:rfm_segments): per-user last-purchase day /
    purchase count / BIGINT-cents spend, each scored into quintiles
    with a deterministic (metric, user) order."""
    from ..operators.features import rfm_segments

    p = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.expr("ts_ms div 86400000").alias("day"),
        F.floor(F.col("value").cast("double") * 100)
        .cast("long")
        .alias("cents"),
    )
    per_user = p.groupBy("user_id").agg(
        F.max("day").cast("long").alias("r_day"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum("cents").cast("long").alias("monetary_cents"),
    )
    return rfm_segments(
        per_user, "user_id", "r_day", "frequency", "monetary_cents"
    )


SQL_RFM_SEGMENTS = """
WITH p AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
         CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
pu AS (
  SELECT user_id, CAST(max(day) AS BIGINT) AS r_day,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(cents) AS BIGINT) AS monetary_cents
  FROM p GROUP BY 1
),
sc AS (
  SELECT user_id, r_day, frequency, monetary_cents,
         CAST(ntile(5) OVER (ORDER BY r_day ASC, user_id ASC)
              AS INTEGER) AS r_score,
         CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id ASC)
              AS INTEGER) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary_cents ASC, user_id ASC)
              AS INTEGER) AS m_score
  FROM pu
)
SELECT user_id, r_day, frequency, monetary_cents,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
         || '-' || CAST(m_score AS VARCHAR) AS segment
FROM sc
"""


# --------------------------------------------------------------------------
# Deterministic hash-based dataset split
# --------------------------------------------------------------------------

def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split summary over the documents corpus
    (operators/curation.py:hash_split): per (source, split) document
    and character counts under the 80/10/10 md5 split — the
    leakage-safe assignment whose membership survives re-runs and
    incremental appends."""
    from ..operators.curation import hash_split

    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return (
        hash_split(d, "doc_id")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


SQL_DATASET_SPLIT = """
WITH b AS (
  SELECT source, n_chars,
         ('0x' || substr(md5('split-' || CAST(doc_id AS VARCHAR)), 1, 10)
         )::BIGINT % 100 AS bucket
  FROM documents
),
s AS (
  SELECT source, n_chars,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Zone-map pruning stats
# --------------------------------------------------------------------------

_PRUNE_MIN = 350.0


def q_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day zone-map statistics for the events ``value`` column plus
    the skip flag for a ``value >= 350`` scan
    (sources/maintenance.py:partition_stats) — the measured answer to
    "would clustering this table let the hot predicate skip I/O?"."""
    from ..sources.maintenance import partition_stats

    e = load_events(spark, sf_dir).select(
        F.expr("ts_ms div 86400000").alias("day"), "value"
    )
    return partition_stats(e, "day", "value", predicate_min=_PRUNE_MIN)


SQL_PRUNING_STATS = f"""
SELECT epoch_ms(ts) // 86400000 AS part,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       min(CAST(value AS DOUBLE)) AS min_val,
       max(CAST(value AS DOUBLE)) AS max_val,
       coalesce(max(CAST(value AS DOUBLE)) < {_PRUNE_MIN}, TRUE)
         AS skippable
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# GA bounce / exit rates per page
# --------------------------------------------------------------------------

def q_bounce_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The page-grain GA report the reference's session marts feed:
    per page, view/exit counts with exit rate (share of this page's
    views that ended a session) and landing/bounce counts with bounce
    rate (share of sessions landing here that had exactly one event).

    Pages come from the props JSON (k % 10 — ten stable page ids);
    sessions are the same 30-min-gap sessionization as W1-W7
    (operators/sessionize.py). One user exchange feeds sessionize and
    both in-session windows, and ALL four metrics come from ONE
    page-grain conditional aggregation — no join, no second pass
    (plan-asserted)."""
    e = load_events(spark, sf_dir).select(
        "event_id", "user_id", "ts_ms", "props"
    )
    # r14: spread on the window key BEFORE the JSON parse — the scan
    # is one row group, so both the get_json_object projection and the
    # session windows otherwise run on the single partition AQE
    # coalesces the tiny exchange to (same fix as touchpoints; the
    # explicit repartition still satisfies the window clustering, so
    # the one-user-exchange plan assertion is unchanged).
    e = spread_if_narrow(e, F.col("user_id")).select(
        "event_id", "user_id", "ts_ms",
        (F.get_json_object("props", "$.k").cast("int") % 10)
        .alias("page"),
    )
    s = sessionize(
        e, visitor_col="user_id", ts_col="ts_ms",
        tiebreak_cols=("event_id",),
    )
    ws = Window.partitionBy("user_id", "user_session_id").orderBy(
        "ts_ms", "event_id"
    )
    wsd = Window.partitionBy("user_id", "user_session_id").orderBy(
        F.col("ts_ms").desc(), F.col("event_id").desc()
    )
    wn = Window.partitionBy("user_id", "user_session_id")
    s2 = s.select(
        "page",
        F.row_number().over(ws).alias("rn"),
        F.row_number().over(wsd).alias("rnd"),
        F.count(F.lit(1)).over(wn).alias("n_ev"),
    )
    out = s2.groupBy("page").agg(
        F.count(F.lit(1)).cast("long").alias("n_views"),
        F.sum((F.col("rnd") == 1).cast("long"))
        .cast("long")
        .alias("n_exits"),
        F.sum((F.col("rn") == 1).cast("long"))
        .cast("long")
        .alias("n_landings"),
        F.sum(((F.col("rn") == 1) & (F.col("n_ev") == 1)).cast("long"))
        .cast("long")
        .alias("n_bounces"),
    )
    return out.select(
        "page", "n_views", "n_exits",
        F.round(
            F.col("n_exits").cast("double")
            / F.col("n_views").cast("double"),
            6,
        ).alias("exit_rate"),
        "n_landings", "n_bounces",
        F.when(
            F.col("n_landings") > 0,
            F.round(
                F.col("n_bounces").cast("double")
                / F.col("n_landings").cast("double"),
                6,
            ),
        ).alias("bounce_rate"),
    )


SQL_BOUNCE_EXIT = f"""
WITH e AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS page
  FROM events
),
lagged AS (
  SELECT e.*,
         lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
           AS last_event
  FROM e
),
numbered AS (
  SELECT *,
         CAST(sum(CASE WHEN last_event IS NULL
                        OR ts_ms - last_event >= {GAP_MS}
                   THEN 1 ELSE 0 END) OVER (
             PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS user_session_id
  FROM lagged
),
sess AS (
  SELECT page,
         row_number() OVER ws AS rn,
         row_number() OVER wsd AS rnd,
         count(*) OVER (PARTITION BY user_id, user_session_id) AS n_ev
  FROM numbered
  WINDOW ws AS (PARTITION BY user_id, user_session_id
                ORDER BY ts_ms, event_id),
         wsd AS (PARTITION BY user_id, user_session_id
                 ORDER BY ts_ms DESC, event_id DESC)
),
pages AS (
  SELECT page, CAST(count(*) AS BIGINT) AS n_views,
         CAST(sum(CASE WHEN rnd = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exits,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_landings,
         CAST(sum(CASE WHEN rn = 1 AND n_ev = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_bounces
  FROM sess GROUP BY 1
)
SELECT page, n_views, n_exits,
       round(CAST(n_exits AS DOUBLE) / CAST(n_views AS DOUBLE), 6)
         AS exit_rate,
       n_landings, n_bounces,
       CASE WHEN n_landings > 0
            THEN round(CAST(n_bounces AS DOUBLE)
                       / CAST(n_landings AS DOUBLE), 6)
       END AS bounce_rate
FROM pages
"""


# --------------------------------------------------------------------------
# A/B sample-ratio-mismatch guardrail
# --------------------------------------------------------------------------

def q_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square sample-ratio-mismatch check for a 50/50 md5-hash
    assignment of distinct users (operators/stats.py:srm_check) — the
    guardrail that must pass before q_ab_lift's readout means
    anything."""
    from ..operators.stats import srm_check

    u = load_events(spark, sf_dir).select("user_id").distinct()
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm-"),
                               F.col("user_id").cast("string"))),
                1, 10,
            ),
            16, 10,
        ).cast("long") % 2 == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    return srm_check(
        u.select(arm.alias("arm")), "arm",
        {"control": 1.0, "treatment": 1.0},
    )


SQL_AB_SRM = """
WITH u AS (SELECT DISTINCT user_id FROM events),
a AS (
  SELECT CASE WHEN ('0x' || substr(md5('arm-' || CAST(user_id AS VARCHAR)),
                                   1, 10))::BIGINT % 2 = 0
              THEN 'control' ELSE 'treatment' END AS arm
  FROM u
),
c AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_obs FROM a GROUP BY 1),
wt AS (SELECT unnest(['control', 'treatment']) AS arm, 0.5 AS w),
j AS (
  SELECT wt.arm, CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs, wt.w
  FROM wt LEFT JOIN c USING (arm)
),
x AS (
  SELECT arm, n_obs,
         CAST(sum(n_obs) OVER () AS DOUBLE) * w AS n_exp_raw
  FROM j
),
t AS (
  SELECT arm, n_obs, round(n_exp_raw, 6) AS n_exp,
         (CAST(n_obs AS DOUBLE) - n_exp_raw)
           * (CAST(n_obs AS DOUBLE) - n_exp_raw) / n_exp_raw AS term
  FROM x
)
SELECT arm, n_obs, n_exp, round(term, 6) AS chi2_term,
       round(sum(term) OVER (), 6) AS chi2,
       (sum(term) OVER () > 3.841459) AS srm_alarm
FROM t
"""


# --------------------------------------------------------------------------
# LSH index-quality evaluation (recall/precision vs exact Jaccard)
# --------------------------------------------------------------------------

def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-index evaluation, the knn_recall twin for MinHash LSH:
    candidate pairs from the banded index vs the EXACT corpus-wide
    Jaccard >= 0.5 ground truth (the prefix-filtered thresholded join,
    which is lossless), summarized as recall and precision. This is
    the measurement that justifies (bands, rows-per-band) before
    trusting the index on a 100 TB corpus.

    Shape: both inputs are the already-bounded pair pipelines; the
    summary is two 1-row aggregates and a broadcast cross join. This
    deliberately pays for BOTH pipelines — at 100 TB the eval runs on
    a fixed sample of the corpus (hash_split a few hundred thousand
    docs), not the full table; the exact join is the ground truth and
    exists only here."""
    from ..operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_thresholded,
    )
    from .driver_queries import MINHASH_BANDS, MINHASH_K

    d = load_parallel(spark, sf_dir, "documents")
    truth = ngram_jaccard_thresholded(
        d, 0.5, block_col=None, n=3
    ).select("id_a", "id_b")
    cand = minhash_lsh_pairs(
        d, k=MINHASH_K, bands=MINHASH_BANDS
    ).select("id_a", "id_b")
    # r13 opt: ONE full-outer join + one aggregate replaces the
    # left-join + separate n_cand aggregate — the old shape evaluated
    # the entire LSH candidate pipeline twice (53-Exchange plan, zero
    # ReusedExchange); n_true/n_cand/n_hits are the same exact counts
    # (truth and cand are distinct pair sets, so sums of the 0/1 flags
    # equal the old count/count/hit-sum)
    hits = (
        truth.withColumn("_t", F.lit(1))
        .join(
            cand.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "full"
        )
        .agg(
            F.sum(F.coalesce("_t", F.lit(0))).cast("long").alias("n_true"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long")
            .alias("n_cand"),
            F.sum(
                F.coalesce("_t", F.lit(0)) * F.coalesce("_hit", F.lit(0))
            ).cast("long").alias("n_hits"),
        )
    )
    return hits.select(
        "n_true", "n_cand", "n_hits",
        F.when(
            F.col("n_true") > 0,
            F.round(
                F.col("n_hits").cast("double")
                / F.col("n_true").cast("double"), 6,
            ),
        ).alias("recall"),
        F.when(
            F.col("n_cand") > 0,
            F.round(
                F.col("n_hits").cast("double")
                / F.col("n_cand").cast("double"), 6,
            ),
        ).alias("prec"),
    )


# Oracle TEMPLATE: the MinHash candidate CTE chain lives in
# driver_queries.py (single copy shared by every MinHash oracle);
# importing it here at module scope would be circular (driver_queries
# imports this module), so driver_queries fills the placeholder right
# after merging the registries.
LSH_RECALL_ORACLE_TEMPLATE = """
WITH {minhash_cand_ctes},
dsh AS (SELECT doc_id, list_distinct(s) AS ds FROM sh),
tru AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b
  FROM dsh l JOIN dsh r ON l.doc_id < r.doc_id
  WHERE CAST(len(list_intersect(l.ds, r.ds)) AS DOUBLE)
        / CAST(len(l.ds) + len(r.ds)
               - len(list_intersect(l.ds, r.ds)) AS DOUBLE) >= 0.5
),
h AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits
  FROM tru t LEFT JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand)
SELECT n_true, n_cand, n_hits,
       CASE WHEN n_true > 0
            THEN round(CAST(n_hits AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
       END AS recall,
       CASE WHEN n_cand > 0
            THEN round(CAST(n_hits AS DOUBLE) / CAST(n_cand AS DOUBLE), 6)
       END AS prec
FROM h CROSS JOIN nc
"""


# --------------------------------------------------------------------------
# PSI distribution-drift report
# --------------------------------------------------------------------------

def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between the first and second
    half of the observed day range, per event type, over the decile
    buckets of the props ``k`` value (operators/dq.py:psi_report) —
    the standing distribution-shift monitor behind every model-input
    table. The split day comes from one 1-row broadcast aggregate."""
    from ..operators.dq import psi_report

    e = load_events(spark, sf_dir).select(
        "event_type",
        F.expr("ts_ms div 86400000").alias("day"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    bounds = e.agg(
        F.min("day").cast("long").alias("_mn"),
        F.max("day").cast("long").alias("_mx"),
    )
    e2 = e.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.expr("k div 10").cast("long").alias("bucket"),
        (F.col("day") >= F.expr("(_mn + _mx + 1) div 2"))
        .cast("int")
        .alias("period"),
    )
    return psi_report(e2, "event_type", "bucket", "period")


SQL_PSI_DRIFT = """
WITH e AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
),
b AS (
  SELECT CAST(min(day) AS BIGINT) AS mn, CAST(max(day) AS BIGINT) AS mx
  FROM e
),
p AS (
  SELECT event_type, CAST(k // 10 AS BIGINT) AS bucket,
         CASE WHEN day >= (mn + mx + 1) // 2 THEN 1 ELSE 0 END AS period
  FROM e CROSS JOIN b
),
counts AS (
  SELECT event_type AS grp, bucket,
         CAST(sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0,
         CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1
  FROM p GROUP BY 1, 2
),
pr AS (
  SELECT grp, n0, n1,
         CAST(n0 + 1 AS DOUBLE)
           / CAST(sum(n0) OVER (PARTITION BY grp)
                  + count(*) OVER (PARTITION BY grp) AS DOUBLE) AS p0,
         CAST(n1 + 1 AS DOUBLE)
           / CAST(sum(n1) OVER (PARTITION BY grp)
                  + count(*) OVER (PARTITION BY grp) AS DOUBLE) AS p1
  FROM counts
),
s AS (
  SELECT grp, CAST(sum(n0) AS BIGINT) AS n_ref,
         CAST(sum(n1) AS BIGINT) AS n_cur,
         sum((p1 - p0) * ln(p1 / p0)) AS psi_raw
  FROM pr GROUP BY 1
)
SELECT grp AS event_type, n_ref, n_cur, round(psi_raw, 6) AS psi,
       (psi_raw > 0.1) AS drift_alarm
FROM s
"""


# --------------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# --------------------------------------------------------------------------

def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout (operators/stats.py:cuped_lift):
    each user's pre-period purchase cents (first half of the day
    range) serve as the covariate for their post-period spend; the
    same md5 arm assignment as ab_srm. Sufficient statistics are
    exact BIGINTs at the arm grain, so the whole readout is one hash
    aggregation plus 2-row algebra."""
    from ..operators.stats import cuped_lift

    e = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.expr("ts_ms div 86400000").alias("day"),
        F.floor(F.col("value").cast("double") * 100)
        .cast("long")
        .alias("cents"),
    )
    bounds = e.agg(
        F.min("day").cast("long").alias("_mn"),
        F.max("day").cast("long").alias("_mx"),
    )
    mid = F.expr("(_mn + _mx + 1) div 2")
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") < mid, F.col("cents"))
                  .otherwise(F.lit(0)))
            .cast("long")
            .alias("pre"),
            F.sum(F.when(F.col("day") >= mid, F.col("cents"))
                  .otherwise(F.lit(0)))
            .cast("long")
            .alias("post"),
        )
    )
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm-"),
                               F.col("user_id").cast("string"))),
                1, 10,
            ),
            16, 10,
        ).cast("long") % 2 == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    return cuped_lift(
        per_user.withColumn("arm", arm), "arm", "pre", "post"
    )


SQL_AB_CUPED = """
WITH e AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
         CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT (CAST(min(day) AS BIGINT) + CAST(max(day) AS BIGINT) + 1) // 2
           AS mid
  FROM e
),
pu AS (
  SELECT user_id,
         CAST(sum(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT)
           AS pre,
         CAST(sum(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT)
           AS post
  FROM e CROSS JOIN b GROUP BY user_id
),
a AS (
  SELECT CASE WHEN ('0x' || substr(md5('arm-' || CAST(user_id AS VARCHAR)),
                                   1, 10))::BIGINT % 2 = 0
              THEN 'control' ELSE 'treatment' END AS arm,
         pre, post
  FROM pu
),
pa AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pre) AS BIGINT) AS sx,
         CAST(sum(post) AS BIGINT) AS sy,
         CAST(sum(pre * post) AS BIGINT) AS sxy,
         CAST(sum(pre * pre) AS BIGINT) AS sxx,
         CAST(sum(post * post) AS BIGINT) AS syy
  FROM a GROUP BY 1
),
pl AS (
  SELECT arm, n, sx, sy,
         CAST(sum(n) OVER () AS DOUBLE) AS nn,
         CAST(sum(sx) OVER () AS DOUBLE) AS gsx,
         CAST(sum(sy) OVER () AS DOUBLE) AS gsy,
         CAST(sum(sxy) OVER () AS DOUBLE) AS gsxy,
         CAST(sum(sxx) OVER () AS DOUBLE) AS gsxx,
         CAST(sum(syy) OVER () AS DOUBLE) AS gsyy
  FROM pa
),
fin AS (
  SELECT arm, n,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS amx,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS amy,
         gsx / nn AS mx,
         gsxy / nn - (gsx / nn) * (gsy / nn) AS cov,
         gsxx / nn - (gsx / nn) * (gsx / nn) AS varx,
         gsyy / nn - (gsy / nn) * (gsy / nn) AS vary
  FROM pl
)
SELECT arm, n,
       round(amx, 6) AS mean_pre,
       round(amy, 6) AS mean_post,
       round(amy - (CASE WHEN varx > 0 THEN cov / varx ELSE 0 END)
                   * (amx - mx), 6) AS mean_post_adj,
       round(CASE WHEN varx > 0 THEN cov / varx ELSE 0 END, 6) AS theta,
       round(CASE WHEN varx > 0 AND vary > 0
                  THEN cov * cov / (varx * vary) ELSE 0 END, 6)
         AS var_reduction
FROM fin
"""


# --------------------------------------------------------------------------
# Incremental rollup maintenance (partial-aggregate merge == recompute)
# --------------------------------------------------------------------------

def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (operators/merge.py:merge_rollup): the per-event-type revenue mart
    built as TWO partial states (first / second half of the day range,
    standing for yesterday's mart + today's delta) merged
    algebraically — the oracle recomputes from scratch, so the green
    row IS the merge == recompute proof. avg is derived from the
    merged (sum, count), never stored."""
    from ..operators.merge import merge_rollup

    e = load_events(spark, sf_dir).select(
        "event_type",
        F.expr("ts_ms div 86400000").alias("day"),
        F.floor(F.col("value").cast("double") * 100)
        .cast("long")
        .alias("cents"),
    )
    bounds = e.agg(
        F.min("day").cast("long").alias("_mn"),
        F.max("day").cast("long").alias("_mx"),
    )
    mid = F.expr("(_mn + _mx + 1) div 2")
    eb = e.crossJoin(F.broadcast(bounds))

    def _partial(part: DataFrame) -> DataFrame:
        return part.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("rev_cents"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )

    state = _partial(eb.filter(F.col("day") < mid))
    delta = _partial(eb.filter(F.col("day") >= mid))
    merged = merge_rollup(
        [state, delta],
        key_cols=["event_type"],
        sum_cols=["n_events", "rev_cents"],
        min_cols=["min_cents"],
        max_cols=["max_cents"],
    )
    return merged.select(
        "event_type", "n_events", "rev_cents", "min_cents", "max_cents",
        F.round(
            F.col("rev_cents").cast("double")
            / (F.col("n_events") * 100).cast("double"), 6,
        ).alias("avg_value"),
    )


SQL_INCREMENTAL_ROLLUP = """
WITH e AS (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS rev_cents,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents,
       round(CAST(sum(cents) AS DOUBLE)
             / CAST(count(*) * 100 AS DOUBLE), 6) AS avg_value
FROM e GROUP BY 1
"""


# --------------------------------------------------------------------------
# VARIANT semi-structured extraction (Spark 4 binary JSON path)
# --------------------------------------------------------------------------

def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-4 VARIANT upgrade of json_props (L1-L4 family):
    ``parse_json`` decodes each props payload ONCE into the binary
    variant encoding, then every ``variant_get`` path probe reads the
    pre-parsed tree — at 100 TB the difference between N string
    re-parses per row (get_json_object) and one. Same typed results,
    so the DuckDB JSON oracle carries full values."""
    e = load_events(spark, sf_dir)
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.count_distinct("k").cast("long").alias("n_distinct_k"),
            F.min("k").cast("int").alias("min_k"),
        )
    )


SQL_VARIANT_EXTRACT = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS BIGINT) AS sum_k,
       CAST(count(DISTINCT CAST(json_extract_string(props, '$.k')
                                AS INTEGER)) AS BIGINT) AS n_distinct_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS INTEGER) AS min_k
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# Key-skew diagnostics
# --------------------------------------------------------------------------

def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnostics for the event stream's user key
    (operators/skew.py:skew_report): the 10 heaviest users with row
    share vs the uniform share — the measurement that decides whether
    the sessionization/window partitioning needs salting or hot-key
    routing (salted_join / salted_event_totals are the remedies; this
    is the detector)."""
    from ..operators.skew import skew_report

    e = load_events(spark, sf_dir).select("user_id")
    return skew_report(e, "user_id", top_k=10)


SQL_SKEW_REPORT = """
WITH counts AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM counts
),
top AS (
  SELECT key, n, CAST(row_number() OVER (ORDER BY n DESC, key ASC)
                      AS INTEGER) AS rank
  FROM counts
  QUALIFY rank <= 10
)
SELECT t.rank, t.key, t.n,
       round(CAST(t.n AS DOUBLE) / CAST(tt.total_rows AS DOUBLE), 6)
         AS share,
       round(1.0 / CAST(tt.n_keys AS DOUBLE), 6) AS uniform_share,
       tt.total_rows, tt.n_keys
FROM top t CROSS JOIN tot tt
"""


# --------------------------------------------------------------------------
# DAU / WAU / MAU engagement + stickiness
# --------------------------------------------------------------------------

def q_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical engagement mart: per day, distinct users active
    that day (DAU), in the trailing 7 days (WAU), in the trailing 28
    days (MAU), and the DAU/MAU stickiness ratio.

    Scale shape: events first reduce to distinct (user, day) — the
    only event-sized exchange; each active-day row then fans out to
    the ≤ 1+7+28 trailing windows it contributes to (map-side explode
    of a literal range) and one (window_end, horizon) distinct-count
    aggregation finishes it. Windowed COUNT DISTINCT without ever
    holding a 28-day user set per partition. Emitted days are those
    with MAU coverage ≥ the horizon (no partial leading windows)."""
    e = load_events(spark, sf_dir).select(
        "user_id", F.expr("ts_ms div 86400000").alias("day")
    )
    ud = e.distinct()
    offs = F.explode(
        F.array(*[F.lit(i) for i in range(28)])
    ).alias("off")
    fan = ud.select("user_id", "day", offs).select(
        "user_id",
        (F.col("day") + F.col("off")).alias("wend"),
        "off",
    )
    per = fan.groupBy("wend").agg(
        F.count_distinct(F.when(F.col("off") == 0, F.col("user_id")))
        .cast("long")
        .alias("dau"),
        F.count_distinct(F.when(F.col("off") < 7, F.col("user_id")))
        .cast("long")
        .alias("wau"),
        F.count_distinct("user_id").cast("long").alias("mau"),
    )
    # day bounds derived from the (days+27)-row window table itself
    # (min(wend) = first day, max(wend) = last day + 27) via a global
    # window over that TINY table — keeps the plan a single branch
    # with ONE fact scan (an agg-and-crossjoin would recompute the
    # whole fan-out on a second scan; plan-asserted)
    wall = Window.partitionBy()
    per2 = per.select(
        "wend", "dau", "wau", "mau",
        F.min("wend").over(wall).cast("long").alias("_mn"),
        (F.max("wend").over(wall) - 27).cast("long").alias("_mx"),
    )
    return (
        per2.filter(
            (F.col("wend") >= F.col("_mn") + 27)
            & (F.col("wend") <= F.col("_mx"))
        )
        .select(
            F.col("wend").alias("day"), "dau", "wau", "mau",
            F.round(
                F.col("dau").cast("double") / F.col("mau").cast("double"),
                6,
            ).alias("stickiness"),
        )
    )


SQL_DAU_WAU_MAU = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
),
b AS (
  SELECT CAST(min(day) AS BIGINT) AS mn, CAST(max(day) AS BIGINT) AS mx
  FROM ud
),
fan AS (
  SELECT user_id, day + o.off AS wend, o.off
  FROM ud CROSS JOIN (SELECT unnest(range(0, 28)) AS off) o
),
per AS (
  SELECT wend,
         CAST(count(DISTINCT CASE WHEN off = 0 THEN user_id END)
              AS BIGINT) AS dau,
         CAST(count(DISTINCT CASE WHEN off < 7 THEN user_id END)
              AS BIGINT) AS wau,
         CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM fan GROUP BY 1
)
SELECT p.wend AS day, p.dau, p.wau, p.mau,
       round(CAST(p.dau AS DOUBLE) / CAST(p.mau AS DOUBLE), 6)
         AS stickiness
FROM per p CROSS JOIN b
WHERE p.wend >= b.mn + 27 AND p.wend <= b.mx
"""


# --------------------------------------------------------------------------
# New vs returning users per day
# --------------------------------------------------------------------------

def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GA "New vs Returning" daily report: per day, active users
    split by whether this is their first-ever active day. First-seen
    days come from a min() WINDOW over the user partitioning of the
    already-distinct (user, day) table — one fact scan total (the
    agg-and-rejoin formulation reads the fact twice; plan-asserted),
    then one day-grain aggregation."""
    e = load_events(spark, sf_dir).select(
        "user_id", F.expr("ts_ms div 86400000").alias("day")
    )
    ud = e.distinct()
    first_day = F.min("day").over(
        Window.partitionBy("user_id")
    ).cast("long")
    return (
        ud.withColumn("first_day", first_day)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("active_users"),
            F.sum((F.col("day") == F.col("first_day")).cast("long"))
            .cast("long")
            .alias("new_users"),
            F.sum((F.col("day") > F.col("first_day")).cast("long"))
            .cast("long")
            .alias("returning_users"),
        )
        .select(
            "day", "active_users", "new_users", "returning_users",
            F.round(
                F.col("new_users").cast("double")
                / F.col("active_users").cast("double"), 6,
            ).alias("new_share"),
        )
    )


SQL_NEW_VS_RETURNING = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
),
f AS (
  SELECT user_id, CAST(min(day) AS BIGINT) AS first_day
  FROM ud GROUP BY 1
)
SELECT ud.day,
       CAST(count(*) AS BIGINT) AS active_users,
       CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN ud.day > f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users,
       round(CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS new_share
FROM ud JOIN f USING (user_id)
GROUP BY ud.day
"""


# --------------------------------------------------------------------------
# LTV accumulation curve by acquisition cohort
# --------------------------------------------------------------------------

def q_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per acquisition cohort: users cohorted by
    first-purchase week, revenue accumulated by weeks-since-
    acquisition — the LTV payback curve every growth team reads.
    BIGINT-cents sums; the cumulative window runs over the tiny
    (cohort × week-index) grid, and the acquisition week comes from a
    min() WINDOW over the purchase rows' user partitioning — one fact
    scan total (plan-asserted), not an aggregate re-joined to a second
    read of the fact."""
    p = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.expr("ts_ms div 86400000 div 7").alias("week"),
        F.floor(F.col("value").cast("double") * 100)
        .cast("long")
        .alias("cents"),
    )
    cohort = F.min("week").over(
        Window.partitionBy("user_id")
    ).cast("long")
    wk = (
        p.withColumn("cohort_week", cohort)
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_index"),
        )
        .agg(
            F.sum("cents").cast("long").alias("rev_cents"),
            F.count_distinct("user_id").cast("long").alias("n_buyers"),
        )
    )
    w = Window.partitionBy("cohort_week").orderBy("week_index")
    return wk.select(
        "cohort_week",
        F.col("week_index").cast("long").alias("week_index"),
        "rev_cents", "n_buyers",
        F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
    )


SQL_LTV_CURVE = """
WITH p AS (
  SELECT user_id, epoch_ms(ts) // 86400000 // 7 AS week,
         CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
f AS (
  SELECT user_id, CAST(min(week) AS BIGINT) AS cohort_week
  FROM p GROUP BY 1
),
wk AS (
  SELECT f.cohort_week,
         CAST(p.week - f.cohort_week AS BIGINT) AS week_index,
         CAST(sum(p.cents) AS BIGINT) AS rev_cents,
         CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_buyers
  FROM p JOIN f USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, week_index, rev_cents, n_buyers,
       CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
                                 ORDER BY week_index
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_rev_cents
FROM wk
"""


# --------------------------------------------------------------------------
# Per-label embedding centroids (class prototypes)
# --------------------------------------------------------------------------

_CENT_GRID = 1 << 20  # power-of-two scale: float*2^20 and floor are exact


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class prototypes over the embedding corpus: the per-label
    element-wise centroid in long (label, dim) form — the summary a
    semantic-dedup / classifier-eval pipeline derives before comparing
    classes or seeding clusters.

    Exactness: each float component scales by the power-of-two grid
    (exact product) and floors to BIGINT; sums are order-independent
    integers and the mean is ONE double division — the repo's proven
    integer-grid recipe. Shape: posexplode is a map-side fan-out ×dim;
    the single shuffle groups on (label, dim) — labels × 64 cells."""
    emb = load_parallel(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    g = F.floor(F.col("val").cast("double") * _CENT_GRID).cast("long")
    return (
        ex.select("label", "dim", g.alias("gv"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("gv").cast("long").alias("_s"),
        )
        .select(
            "label", F.col("dim").cast("int").alias("dim"), "n_vecs",
            F.round(
                F.col("_s").cast("double")
                / (F.col("n_vecs") * F.lit(_CENT_GRID)).cast("double"),
                6,
            ).alias("centroid"),
        )
    )


SQL_LABEL_CENTROIDS = f"""
SELECT label,
       CAST(s.i - 1 AS INTEGER) AS dim,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(floor(CAST(embedding[s.i] AS DOUBLE)
                                 * {_CENT_GRID}) AS BIGINT)) AS DOUBLE)
             / CAST(count(*) * {_CENT_GRID} AS DOUBLE), 6) AS centroid
FROM embeddings,
     LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) s
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# REAL image decode with a full value oracle
# --------------------------------------------------------------------------


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread the synth-input ids across the session's cores, keyed so
    repeated synthesis seeds can co-locate.

    The decode queries synthesize one container per event id; the ids
    come from ONE parquet split at test SFs (file << maxPartitionBytes),
    so without this every Arrow decode batch lands on a single core —
    a 14.8 s single-threaded png_decode at sf0.1 vs ~1 s spread. The
    shuffle moves only the BIGINT id column (still exactly one
    Exchange, now hashpartitioning instead of round-robin — and hash
    partitioning skips round-robin's sort-before-repartition pass).

    r13 optimization (guide §8: decide/dedup on the cheap proxy before
    paying for the heavy work): the shuffle key is ``id % K``, so
    ids whose synthesized payloads repeat can share a partition, where
    the per-seed ``lru_cache`` fixture producers and the per-batch
    payload dedup of ``operators/payload_memo.py`` collapse duplicate
    synth+decode work (:func:`synth_docs` states which payloads do).
    K is scale-adaptive: at least 20 key groups per partition (guide
    §2.5's hash-spread rule), rounded up to a multiple of 1000.
    Locally (<=50 cores) K=1000; on a 1000-core cluster K=20000 —
    same results either way, only the dedup ratio changes. On a real
    corpus the payload scan arrives multi-split and this stays a
    near-no-op id shuffle.

    r13 opt wave 4: the returned DataFrame is ``fusable`` — chained
    ``mapInPandas`` stages built on it (synth → unwrap → decode, plus
    name-only projections) collapse into ONE Arrow map, so
    intermediate payload bytes never round-trip Python→JVM→Python
    (operators/fuse.py; guide §4.1). Identical results and pinned plan
    shape, one Python-worker hop per chain instead of per stage."""
    from ..operators.fuse import fusable

    p = spark.sparkContext.defaultParallelism
    groups = ((20 * p + 999) // 1000) * 1000
    return fusable(df.repartition(p, F.col(df.columns[0]) % groups))


_FLAC_MOD = 10


def synth_docs(spark: SparkSession, sf_dir: str, make,
               residue: int | None = None, modulus: int = _FLAC_MOD,
               dtype: str = "binary") -> DataFrame:
    """The synthetic corpus of a byte-path driver query: one
    ``make(event_id)`` document per sampled event, as ``doc_id long,
    payload {dtype}``.

    Events with ``event_id % modulus == residue`` are sampled (every
    event when ``residue`` is None), their ids are spread with
    :func:`_spread`, and the documents are synthesized in one Arrow
    map on that ``fusable`` source, so a decode ``mapInPandas``
    chained on the result runs in the same Python-worker pass.

    Seed rule: ``make`` is a pure function of the id, so results never
    depend on where an id lands (the fixture ``lru_cache``s key on the
    maker's arguments, the decoders' dedup on payload bytes); placement
    only sets the dedup ratio. ``_spread`` keys ids on ``id % K``
    (K=1000 locally), so every copy of a payload shares a key exactly
    when K divides the payload's period in the id. Most makers read
    ``id % 1000`` plus ``% 3``, ``% 5`` or ``// 10 % 3`` terms, a
    period of 1000 or 3000, so their copies co-locate locally; the
    ``% 256`` image seeds of ppm_decode, png_decode and gif_frames,
    the ``% 40`` seeds of the phash queries and the ``% 64`` seeds of
    y4m_shots spread each payload's copies over several keys."""
    from collections.abc import Iterator

    import pandas as pd

    ids = load_events(spark, sf_dir).select("event_id")
    if residue is not None:
        ids = ids.filter(F.col("event_id") % modulus == residue)

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["event_id"].astype("int64"),
                "payload": [make(int(i)) for i in pdf["event_id"]],
            })

    return _spread(ids, spark).mapInPandas(
        _synth, schema=f"doc_id long, payload {dtype}"
    )


def q_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL multimodal decode path, driver-checked end-to-end: a
    deterministic NetPBM image is synthesized per event (pixel (y,x,c)
    = (seed + y*31 + x*7 + c*13) % 256 — testing/fixtures.make_ppm),
    the binary payload round-trips through the Arrow mapInPandas
    decoder (operators/multimodal.decode_ppm_meta: header parse +
    pixel math, no digest stubbing), and the oracle recomputes
    width/height/mean from the same arithmetic — so a green row proves
    the decoder actually reads the bytes."""
    from ..operators.multimodal import PPM_META_SCHEMA, decode_ppm_meta
    from ..testing.fixtures import make_ppm

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_ppm(2 + i % 5, 2 + i % 4, i % 256)
    )
    meta = decode_ppm_meta(payloads)
    assert meta.schema == PPM_META_SCHEMA
    return meta.select("doc_id", "width", "height", "channels",
                       "mean_px")


SQL_PPM_DECODE = """
WITH e AS (
  SELECT event_id, 2 + event_id % 5 AS w, 2 + event_id % 4 AS h,
         event_id % 256 AS seed
  FROM events
),
px AS (
  SELECT event_id, w, h,
         (seed + y.y * 31 + x.x * 7 + c.c * 13) % 256 AS v
  FROM e,
  LATERAL (SELECT unnest(range(0, h)) AS y) y,
  LATERAL (SELECT unnest(range(0, w)) AS x) x,
  LATERAL (SELECT unnest(range(0, 3)) AS c) c
)
SELECT event_id AS doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS mean_px
FROM px GROUP BY 1, 2, 3
"""


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode, driver-checked end-to-end: a true
    PNG (stdlib-zlib deflate, correct CRCs, per-row filters cycling
    through all five spec filter types — testing/fixtures.make_png) is
    synthesized per event with the same deterministic pixel rule as
    ppm_decode, inflated and filter-reconstructed by
    operators/multimodal.decode_png_meta, and the oracle recomputes
    the raster arithmetic — a green row proves the inflate + Sub/Up/
    Average/Paeth reconstruction reads the actual pixels."""
    from ..operators.multimodal import PNG_META_SCHEMA, decode_png_meta
    from ..testing.fixtures import make_png

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_png(2 + i % 5, 2 + i % 4, i % 256)
    )
    meta = decode_png_meta(payloads)
    assert meta.schema == PNG_META_SCHEMA
    return meta.select("doc_id", "width", "height", "channels",
                       "mean_px")


SQL_PNG_DECODE = """
WITH e AS (
  SELECT event_id, 2 + event_id % 5 AS w, 2 + event_id % 4 AS h,
         event_id % 256 AS seed
  FROM events
),
px AS (
  SELECT event_id, w, h,
         (seed + y.y * 31 + x.x * 7 + c.c * 13) % 256 AS v
  FROM e,
  LATERAL (SELECT unnest(range(0, h)) AS y) y,
  LATERAL (SELECT unnest(range(0, w)) AS x) x,
  LATERAL (SELECT unnest(range(0, 3)) AS c) c
)
SELECT event_id AS doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS mean_px
FROM px GROUP BY 1, 2, 3
"""


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-animation decode driver-checked end-to-end: a
    valid GIF89a (LZW streams, global palette, per-frame delays —
    testing/fixtures.make_gif) is synthesized per sampled event,
    LZW-decoded and palette-expanded by
    operators/multimodal.sample_gif_frames (every 2nd frame), and the
    oracle replays the palette arithmetic — a green row proves the
    LZW bit unpacking and palette lookup read the actual pixels."""
    from ..operators.multimodal import sample_gif_frames
    from ..testing.fixtures import make_gif

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_gif(2 + i % 4, 2 + i % 3, i % 256, 1 + i % 3),
        residue=0,
    )
    return sample_gif_frames(payloads, every_k=2).select(
        "doc_id", "frame_idx", "width", "height", "n_frames",
        "delay_cs", "rgb_mean",
    )


SQL_GIF_FRAMES = f"""
WITH e AS (
  SELECT event_id, 2 + event_id % 4 AS w, 2 + event_id % 3 AS h,
         1 + event_id % 3 AS nf, event_id % 256 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
fr AS (
  SELECT e.*, CAST(ff.f AS INTEGER) AS f
  FROM e, LATERAL (SELECT unnest(range(0, nf)) AS f) ff
  WHERE ff.f % 2 = 0
),
px AS (
  SELECT event_id, w, h, nf, f,
         (seed + f * 17 + y.y * 31 + x.x * 7) % 256 AS i
  FROM fr,
  LATERAL (SELECT unnest(range(0, h)) AS y) y,
  LATERAL (SELECT unnest(range(0, w)) AS x) x
)
SELECT event_id AS doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(4 + f AS INTEGER) AS delay_cs,
       round(CAST(sum(i + (3 * i) % 256 + (7 * i) % 256) AS DOUBLE)
             / CAST(3 * w * h AS DOUBLE), 6) AS rgb_mean
FROM px GROUP BY event_id, f, w, h, nf
"""


# --------------------------------------------------------------------------
# REAL audio + video decode with full value oracles
# --------------------------------------------------------------------------

_WAV_MOD = 20  # 1-in-20 events get a synthetic WAV (bounds oracle size)


def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL audio path driver-checked: a PCM16 WAV container is
    synthesized per sampled event (sample i = ((seed + i*257) % 2001)
    - 1000 — testing/fixtures.make_wav_pcm16), parsed by the RIFF
    chunk walker, and the per-window RMS energies are recomputed
    arithmetically by the oracle — a green row proves the decoder
    reads the actual sample bytes."""
    from ..operators.multimodal import decode_wav_features
    from ..testing.fixtures import make_wav_pcm16

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_wav_pcm16(800 + (i % 5) * 400, i % 1000),
        residue=0, modulus=_WAV_MOD,
    )
    # array_join to a scalar so the driver's oracle canonicalizer can
    # hash the cell (CORRECTNESS_r06: raw ARRAY<DOUBLE> dies in the
    # driver's pandas sort_values; same contract as q_user_event_arrays).
    # %.6f on the already-round(6) values renders identically in both
    # engines.
    return decode_wav_features(payloads, window_samples=400).select(
        "doc_id", "sample_rate_hz", "n_samples", "duration_ms",
        "n_windows",
        F.array_join(
            F.transform("rms_windows",
                        lambda x: F.format_string("%.6f", x)),
            ",",
        ).alias("rms_windows"),
    )


SQL_WAV_DECODE = f"""
WITH e AS (
  SELECT event_id, 800 + (event_id % 5) * 400 AS n,
         event_id % 1000 AS seed
  FROM events WHERE event_id % {_WAV_MOD} = 0
),
w AS (
  SELECT event_id, n, seed, CAST(wi.w AS BIGINT) AS w
  FROM e, LATERAL (SELECT unnest(range(0, (n + 399) // 400)) AS w) wi
),
s AS (
  SELECT event_id, n, w.w,
         ((seed + i.i * 257) % 2001) - 1000 AS v
  FROM w, LATERAL (SELECT unnest(range(w.w * 400,
                                       least(n, (w.w + 1) * 400))) AS i) i
),
r AS (
  SELECT event_id, n, w,
         round(sqrt(CAST(sum(v * v) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)), 6) AS rms
  FROM s GROUP BY 1, 2, 3
)
SELECT event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
       CAST(count(*) AS INTEGER) AS n_windows,
       string_agg(printf('%.6f', rms), ',' ORDER BY w) AS rms_windows
FROM r GROUP BY event_id, n
"""


_Y4M_MOD = 20
_SHOT_JUMP = 97  # planted scene-change luma jump at frame 3
_SHOT_THRESH = 20.0


def q_y4m_shots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL video path driver-checked, with an actual shot
    detector: per sampled event a 6-frame YUV4MPEG2 clip is
    synthesized whose luma jumps by a planted offset at frame 3
    (scene change); frames round-trip through the y4m parser
    (operators/multimodal.sample_y4m_frames), and shot boundaries are
    flagged where |Δ y_mean| between consecutive sampled frames
    exceeds the threshold — the standard luma-delta detector, running
    on REAL decoded pixel statistics. The oracle replays the per-frame
    pixel arithmetic. The synthesis keeps luma strictly below 256 (no
    byte wraparound), so consecutive frames drift by exactly +1 and
    ONLY the planted jump crosses the threshold; frame geometry (w*h)
    divides 10^6 so the rounded means can never straddle an engine
    rounding tie."""
    import numpy as _np

    from ..operators.multimodal import sample_y4m_frames

    def make(eid: int) -> bytes:
        w, h = 4 + (eid % 3) * 2, 2 + (eid % 2) * 2  # wh | 10^6
        seed = eid % 64
        parts = [f"YUV4MPEG2 W{w} H{h} F25:1 C444\n".encode("ascii")]
        n = w * h
        for f in range(6):
            jump = _SHOT_JUMP if f >= 3 else 0
            # max luma 63+97+5+31 = 196 < 256: no wraparound
            body = _np.concatenate([
                seed + jump + f + p * 20 + (_np.arange(n) % 32)
                for p in range(3)
            ]).astype(_np.uint8)
            parts.append(b"FRAME\n" + body.tobytes())
        return b"".join(parts)

    payloads = synth_docs(spark, sf_dir, make, residue=0, modulus=_Y4M_MOD)
    frames = sample_y4m_frames(payloads, every_k=1)
    wd = Window.partitionBy("doc_id").orderBy("frame_idx")
    return frames.select(
        "doc_id", "frame_idx", "width", "height", "y_mean",
        F.lag("y_mean").over(wd).alias("_prev"),
    ).select(
        "doc_id", "frame_idx", "width", "height", "y_mean",
        F.coalesce(
            F.abs(F.col("y_mean") - F.col("_prev"))
            > F.lit(_SHOT_THRESH),
            F.lit(False),
        ).alias("is_shot_boundary"),
    )


SQL_Y4M_SHOTS = f"""
WITH e AS (
  SELECT event_id,
         4 + (event_id % 3) * 2 AS w,
         2 + (event_id % 2) * 2 AS h,
         event_id % 64 AS seed
  FROM events WHERE event_id % {_Y4M_MOD} = 0
),
fr AS (
  SELECT event_id, w, h, seed, CAST(f.f AS BIGINT) AS f
  FROM e, LATERAL (SELECT unnest(range(0, 6)) AS f) f
),
px AS (
  SELECT event_id, w, h, f,
         seed + CASE WHEN f >= 3 THEN {_SHOT_JUMP} ELSE 0 END
          + f + (i.i % 32) AS v
  FROM fr, LATERAL (SELECT unnest(range(0, w * h)) AS i) i
),
ym AS (
  SELECT event_id, w, h, f,
         round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           AS y_mean
  FROM px GROUP BY 1, 2, 3, 4
)
SELECT event_id AS doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       y_mean,
       coalesce(abs(y_mean - lag(y_mean) OVER (
           PARTITION BY event_id ORDER BY f)) > {_SHOT_THRESH}, FALSE)
         AS is_shot_boundary
FROM ym
"""


# --------------------------------------------------------------------------
# Serialized session timelines (session-replay export payloads)
# --------------------------------------------------------------------------

def q_session_timelines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-replay export: one row per session with the ordered
    event timeline serialized as a compact JSON array — the payload a
    debugging/replay UI fetches per visit (the reference's session
    marts keep only aggregates; this is the raw-sequence export).

    The JSON is BUILT with string functions (identical concat
    arithmetic in both engines) rather than to_json, whose whitespace
    conventions are engine-local. Ordering inside the array is pinned
    by array_sort over (ts, event_id)-prefixed structs; the array
    aggregation itself needs no in-partition order. One user exchange
    (sessionize) + one session-grain aggregation."""
    e = load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts_ms"
    )
    s = sessionize(
        e, visitor_col="user_id", ts_col="ts_ms",
        tiebreak_cols=("event_id",),
    )
    item = F.struct(
        F.col("ts_ms").alias("t"), F.col("event_id").alias("i"),
        F.col("event_type").alias("e"),
    )
    per = s.groupBy("user_id", "user_session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts_ms").alias("visit_start"),
        F.array_sort(F.collect_list(item)).alias("_items"),
    )
    # JSON string escaping (backslash first, then quote) so an
    # event_type containing '"' or '\' still yields valid JSON; the
    # oracle applies the identical two literal replaces.
    esc = lambda c: F.replace(  # noqa: E731
        F.replace(c, F.lit("\\"), F.lit("\\\\")),
        F.lit('"'), F.lit('\\"'),
    )
    ev_json = F.transform(
        F.col("_items"),
        lambda x: F.concat(
            F.lit('{"t":'), x["t"].cast("string"),
            F.lit(',"e":"'), esc(x["e"]), F.lit('"}'),
        ),
    )
    return per.select(
        "user_id", "user_session_id", "n_events", "visit_start",
        F.concat(
            F.lit("["), F.array_join(ev_json, ","), F.lit("]")
        ).alias("timeline_json"),
    )


SQL_SESSION_TIMELINES = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
  FROM events
),
lagged AS (
  SELECT e.*,
         lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
           AS last_event
  FROM e
),
numbered AS (
  SELECT *,
         CAST(sum(CASE WHEN last_event IS NULL
                        OR ts_ms - last_event >= {GAP_MS}
                   THEN 1 ELSE 0 END) OVER (
             PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS user_session_id
  FROM lagged
)
SELECT user_id, user_session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts_ms) AS visit_start,
       '[' || string_agg(
           '{{"t":' || CAST(ts_ms AS VARCHAR) || ',"e":"'
             || replace(replace(event_type, '\', '\\'), '"', '\"')
             || '"}}', ','
           ORDER BY ts_ms, event_id) || ']' AS timeline_json
FROM numbered
GROUP BY user_id, user_session_id
"""


# --------------------------------------------------------------------------
# ML feature preparation: LOO target encoding, rank normalization,
# hashing-trick features
# --------------------------------------------------------------------------

def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer market segment
    against account-balance cents
    (operators/features.py:target_encode_loo) — the leakage-correct
    category featurization (each row's own label excluded, smoothed
    toward the global mean). Output keeps the key + encoding only."""
    from ..operators.features import target_encode_loo

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    return target_encode_loo(
        c, "c_mktsegment", "bal_cents", prior_weight=10
    ).select("c_custkey", "c_mktsegment", "c_mktsegment_enc")


SQL_TARGET_ENCODING = """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(floor(CAST(c_acctbal AS DOUBLE) * 100) AS BIGINT) AS y
  FROM customer
),
cat AS (
  SELECT c_mktsegment, CAST(sum(y) AS BIGINT) AS cs,
         CAST(count(*) AS BIGINT) AS cn
  FROM c GROUP BY 1
),
g AS (
  SELECT CAST(sum(y) AS BIGINT) AS gs, CAST(count(*) AS BIGINT) AS gn
  FROM c
)
SELECT c.c_custkey, c.c_mktsegment,
       round(CAST((cat.cs - c.y) * g.gn + 10 * g.gs AS DOUBLE)
             / CAST((cat.cn - 1 + 10) * g.gn AS DOUBLE), 6)
         AS c_mktsegment_enc
FROM c JOIN cat USING (c_mktsegment) CROSS JOIN g
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank transform (quantile normalization) of order totals within
    each priority class: percent_rank over the (priority, price, key)
    total order — the outlier-robust featurization for heavy-tailed
    monetary columns. Deterministic under price ties via the key
    tiebreak.

    Scale shape: a plain window partitioned by the 5-value priority
    column is 5 single-reducer sorts (r5 verdict weak mark);
    operators/indexing.py:exact_group_percent_rank reproduces the SQL
    percent_rank exactly via sketch-cutpoint buckets, so every sort is
    an n/buckets-row in-partition sort."""
    from ..operators.indexing import exact_group_percent_rank

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.floor(F.col("o_totalprice").cast("double") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    ranked = exact_group_percent_rank(
        o, "price_cents", "o_orderkey", ["o_orderpriority"],
        out_col="_pr",
    )
    return ranked.select(
        "o_orderkey", "o_orderpriority", "price_cents",
        F.round(F.col("_pr"), 6).alias("price_qnorm"),
    )


SQL_QUANTILE_NORMALIZE = """
SELECT o_orderkey, o_orderpriority,
       CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
         AS price_cents,
       round(percent_rank() OVER (
           PARTITION BY o_orderpriority
           ORDER BY CAST(floor(CAST(o_totalprice AS DOUBLE) * 100)
                         AS BIGINT) ASC, o_orderkey ASC), 6)
         AS price_qnorm
FROM orders
"""


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words over the documents corpus
    (operators/text.py:hashed_features): vocabulary-free fixed-width
    featurization, sparse (doc, feature_idx, count) form — summarized
    here at feature grain (df + total count per index) so the output
    stays bounded by the 1024-dim space at any corpus size."""
    from ..operators.text import hashed_features

    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    sparse = hashed_features(d)
    return sparse.groupBy("feature_idx").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum("count").cast("long").alias("total_count"),
    )


SQL_HASHED_FEATURES = r"""
WITH toks AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS t
              FROM documents),
ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
hf AS (
  SELECT doc_id,
         ('0x' || substr(md5('hf-' || tok), 1, 14))::BIGINT % 1024
           AS feature_idx,
         CAST(count(*) AS BIGINT) AS cnt
  FROM ex GROUP BY 1, 2
)
SELECT feature_idx,
       CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(cnt) AS BIGINT) AS total_count
FROM hf GROUP BY 1
"""


# --------------------------------------------------------------------------
# Language-ID evaluation (heuristic vs stored labels)
# --------------------------------------------------------------------------

def q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation harness for the stopword language-ID heuristic
    (operators/text.py:language_id) against the corpus's stored lang
    labels: per true label, document count, correct predictions and
    accuracy — the same measure-your-operator pattern as knn_recall
    and lsh_recall, for the text stack. The oracle regenerates the
    stopword scores and the first-wins argmax from the same literal
    word lists (single copy, imported here)."""
    from ..operators.text import language_id

    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    pred = language_id(F.col("text"))
    return (
        d.withColumn("pred", pred)
        .groupBy(F.col("lang").alias("true_lang"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("pred") == F.col("lang")).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "true_lang", "n_docs", "n_correct",
            F.round(
                F.col("n_correct").cast("double")
                / F.col("n_docs").cast("double"), 6,
            ).alias("accuracy"),
        )
    )


def _langid_oracle_sql() -> str:
    from ..operators.text import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    score_cols = ",\n         ".join(
        "CAST(len(list_filter(t, x -> x IN ({}))) AS BIGINT) AS s_{}"
        .format(", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]), lang)
        for lang in langs
    )
    branches = []
    for lang in langs:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in langs if other != lang
        )
        branches.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[0]}' END"
    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
sc AS (
  SELECT doc_id, lang,
         {score_cols}
  FROM toks
),
pred AS (SELECT doc_id, lang, {case} AS p FROM sc)
SELECT lang AS true_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN p = lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(sum(CASE WHEN p = lang THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM pred GROUP BY 1
"""


SQL_LANGID_EVAL = _langid_oracle_sql()


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD winsorization of order totals within each priority
    class — the heavy-tail-robust outlier screen
    (operators/features.py:robust_outlier_bounds, consuming
    operators/indexing.py:exact_group_quantile_disc twice: median,
    then MAD). Exact integer med/mad/dev; one IEEE double product for
    the threshold; the oracle replays the rank-ceil(n/2) discrete
    quantile with explicit windows, so the semantics — not an
    engine's quantile builtin — are what's pinned."""
    from ..operators.features import robust_outlier_bounds

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.floor(F.col("o_totalprice").cast("double") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    out = robust_outlier_bounds(
        o, "price_cents", "o_orderkey", ["o_orderpriority"], k=3.0
    )
    return out.select(
        "o_orderkey", "o_orderpriority", "price_cents",
        F.col("_med").alias("med_cents"),
        F.col("_mad").alias("mad_cents"),
        "is_outlier",
        F.round(F.col("value_winsor"), 6).alias("price_winsor"),
    )


SQL_ROBUST_OUTLIERS = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
           AS price_cents
  FROM orders
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY price_cents, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM o
),
m AS (
  SELECT o_orderpriority, price_cents AS med
  FROM r WHERE rn = (n + 1) // 2
),
d AS (
  SELECT o.*, m.med, abs(o.price_cents - m.med) AS dev
  FROM o JOIN m USING (o_orderpriority)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY dev, o_orderkey) AS rn2,
         count(*) OVER (PARTITION BY o_orderpriority) AS n2
  FROM d
),
mad AS (
  SELECT o_orderpriority, dev AS mad
  FROM r2 WHERE rn2 = (n2 + 1) // 2
)
SELECT d.o_orderkey, d.o_orderpriority, d.price_cents,
       d.med AS med_cents, mad.mad AS mad_cents,
       CAST(d.dev AS DOUBLE) > 3.0 * 1.4826 * CAST(mad.mad AS DOUBLE)
         AS is_outlier,
       round(greatest(CAST(d.med AS DOUBLE)
                        - 3.0 * 1.4826 * CAST(mad.mad AS DOUBLE),
                      least(CAST(d.med AS DOUBLE)
                              + 3.0 * 1.4826 * CAST(mad.mad AS DOUBLE),
                            CAST(d.price_cents AS DOUBLE))), 6)
         AS price_winsor
FROM d JOIN mad USING (o_orderpriority)
"""


def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-churn curves per weekly acquisition
    cohort (operators/stats.py:kaplan_meier): a user's duration is
    their active span in HOURS; users whose last event is within 24
    hours of corpus end are CENSORED (still alive), not churned — the
    right-censoring correctness naive churn marts miss. Hour grain
    because the bench corpus keeps every user active to within 2
    DAYS of corpus end, so any day-grain horizon yields a vacuous
    0-row curve (ADVICE r7: CORRECTNESS_r07 recorded 0 rows from
    both engines — a green row that proved nothing). At 24 h the
    curve is non-degenerate at every shipped SF (1/15, 17/150,
    156/1500 churned). The oracle replays the estimator with
    explicit windows (risk set via descending cumulative count,
    survival via the repo's ln-parity convention)."""
    from ..operators.stats import kaplan_meier

    e = load_events(spark, sf_dir).select(
        "user_id", F.expr("ts_ms div 3600000").alias("hr")
    )
    u = e.groupBy("user_id").agg(
        F.min("hr").alias("f"), F.max("hr").alias("l")
    )
    mx = e.agg(F.max("hr").alias("maxh"))
    s = u.crossJoin(F.broadcast(mx)).select(
        F.concat(
            F.lit("w"), F.expr("CAST(f div 168 AS STRING)")
        ).alias("cohort"),
        (F.col("l") - F.col("f") + 1).cast("long").alias("dur"),
        (F.col("maxh") - F.col("l") >= 24).cast("int").alias("ev"),
    )
    return kaplan_meier(s, "dur", "ev", ["cohort"])


SQL_SURVIVAL_CURVE = """
WITH e AS (
  SELECT user_id, epoch_ms(ts) // 3600000 AS hr FROM events
),
u AS (
  SELECT user_id, min(hr) AS f, max(hr) AS l FROM e GROUP BY 1
),
mx AS (SELECT max(hr) AS maxh FROM e),
s AS (
  SELECT 'w' || CAST(f // 168 AS VARCHAR) AS cohort,
         l - f + 1 AS t,
         CASE WHEN maxh - l >= 24 THEN 1 ELSE 0 END AS ev
  FROM u CROSS JOIN mx
),
g AS (
  SELECT cohort, t, CAST(sum(ev) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS m
  FROM s GROUP BY 1, 2
),
r AS (
  SELECT *, CAST(sum(m) OVER (PARTITION BY cohort ORDER BY t DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
  FROM g
),
k AS (
  SELECT *,
    CASE WHEN max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
           OVER wasc = 1
         THEN 0.0
         ELSE exp(sum(CASE WHEN d > 0 AND d < n_at_risk
                           THEN ln(1.0 - CAST(d AS DOUBLE)
                                     / CAST(n_at_risk AS DOUBLE))
                           ELSE 0.0 END) OVER wasc)
    END AS surv
  FROM r
  WINDOW wasc AS (PARTITION BY cohort ORDER BY t ASC
                  ROWS UNBOUNDED PRECEDING)
)
SELECT cohort, CAST(t AS BIGINT) AS t, n_at_risk, d AS d_events,
       round(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 6)
         AS hazard,
       round(surv, 6) AS survival
FROM k WHERE d > 0
"""


def q_msprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitor
    (operators/stats.py:msprt_monitor) over a synthetic null
    experiment: arms by user-id parity, observation = (user, day)
    activity with conversion = any purchase that day. Since the
    assignment is null, the always-valid p should hover near 1 — and
    the oracle replays every cumulative statistic and the mixture
    likelihood ratio exactly (round-6 ln/exp parity convention)."""
    from ..operators.stats import msprt_monitor

    e = load_events(spark, sf_dir).select(
        "user_id",
        F.expr("ts_ms div 86400000").alias("day"),
        "event_type",
    )
    obs = (
        e.groupBy("user_id", "day")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int"))
            .alias("conv")
        )
        .select(
            "day",
            F.when(F.col("user_id") % 2 == 0, "t")
            .otherwise("c")
            .alias("arm"),
            "conv",
        )
    )
    return msprt_monitor(obs, "day", "arm", "conv", "t", "c", tau2=0.01)


_MSPRT_TAU2 = 0.01

SQL_MSPRT_MONITOR = f"""
WITH e AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS day, event_type
  FROM events
),
obs AS (
  SELECT day,
         CASE WHEN user_id % 2 = 0 THEN 't' ELSE 'c' END AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS conv
  FROM e GROUP BY day, user_id
),
byp AS (
  SELECT day AS period,
         CAST(sum(CASE WHEN arm = 't' THEN 1 ELSE 0 END) AS BIGINT)
           AS dn_t,
         CAST(sum(CASE WHEN arm = 'c' THEN 1 ELSE 0 END) AS BIGINT)
           AS dn_c,
         CAST(sum(CASE WHEN arm = 't' THEN conv ELSE 0 END) AS BIGINT)
           AS ds_t,
         CAST(sum(CASE WHEN arm = 'c' THEN conv ELSE 0 END) AS BIGINT)
           AS ds_c
  FROM obs GROUP BY 1
),
cum AS (
  SELECT period,
         CAST(sum(dn_t) OVER w AS BIGINT) AS n_t,
         CAST(sum(dn_c) OVER w AS BIGINT) AS n_c,
         CAST(sum(ds_t) OVER w AS BIGINT) AS s_t,
         CAST(sum(ds_c) OVER w AS BIGINT) AS s_c
  FROM byp
  WINDOW w AS (ORDER BY period ROWS UNBOUNDED PRECEDING)
),
sc AS (
  SELECT *,
    CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
      - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS theta,
    (CAST(s_t + s_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
      * (1.0 - CAST(s_t + s_c AS DOUBLE) / CAST(n_t + n_c AS DOUBLE))
      * (1.0 / CAST(n_t AS DOUBLE) + 1.0 / CAST(n_c AS DOUBLE)) AS v
  FROM cum
),
lamt AS (
  SELECT period, n_t, n_c, s_t, s_c, theta,
    CASE WHEN n_t > 0 AND n_c > 0 AND v > 0
         THEN sqrt(v / (v + {_MSPRT_TAU2}))
              * exp(theta * theta * {_MSPRT_TAU2}
                    / (2.0 * v * (v + {_MSPRT_TAU2})))
         ELSE 1.0 END AS lam
  FROM sc
)
SELECT period, n_t, n_c, s_t AS conv_t, s_c AS conv_c,
       round(CASE WHEN n_t > 0 AND n_c > 0 THEN theta
                  ELSE 0.0 END, 6) AS lift,
       round(lam, 6) AS lambda_sprt,
       round(least(1.0, 1.0 / max(lam) OVER (ORDER BY period
               ROWS UNBOUNDED PRECEDING)), 6) AS p_always_valid
FROM lamt
"""


def q_binary_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC (operators/stats.py:binary_auc): does
    order value predict urgent priority, scored per order status —
    pure BIGINT rank algebra at score grain until one final division,
    so the oracle matches bit-for-bit including the tie blocks."""
    from ..operators.stats import binary_auc

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice").cast("double") * 100)
        .cast("long")
        .alias("score"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
    )
    return binary_auc(o, "score", "y", ["o_orderstatus"])


SQL_BINARY_AUC = """
WITH o AS (
  SELECT o_orderstatus,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)
           AS score,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
),
g1 AS (
  SELECT o_orderstatus, score, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS p
  FROM o GROUP BY 1, 2
),
r AS (
  SELECT *,
         p * (2 * (CAST(sum(n) OVER w AS BIGINT) - n) + n + 1) AS r2
  FROM g1
  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY score
               ROWS UNBOUNDED PRECEDING)
),
a AS (
  SELECT o_orderstatus, CAST(sum(r2) AS BIGINT) AS s2,
         CAST(sum(p) AS BIGINT) AS pos,
         CAST(sum(n) - sum(p) AS BIGINT) AS neg
  FROM r GROUP BY 1
)
SELECT o_orderstatus, pos AS n_pos, neg AS n_neg,
       CASE WHEN pos > 0 AND neg > 0
            THEN round(CAST(s2 - pos * (pos + 1) AS DOUBLE)
                       / (2.0 * CAST(pos AS DOUBLE)
                          * CAST(neg AS DOUBLE)), 6)
       END AS auc
FROM a
"""


def q_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE (operators/stats.py:
    calibration_report) for a deterministic synthetic scorer against
    the purchase label. The operator keeps every aggregate on the
    integer micro-grid, so the oracle reproduces confidence/accuracy/
    ECE bit-for-bit including bin edges."""
    from ..operators.stats import calibration_report

    e = load_events(spark, sf_dir).select(
        (
            ((F.col("user_id") * 37 + F.col("event_id")) % 1001)
            / F.lit(1000.0)
        ).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return calibration_report(e, "score", "y", n_bins=10)


SQL_CALIBRATION_REPORT = """
WITH e AS (
  SELECT ((user_id * 37 + event_id) % 1001) / 1000.0 AS score,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
b AS (
  SELECT least(CAST(floor(score * 10) AS INTEGER), 9) AS bin,
         CAST(round(score * 1000000) AS BIGINT) AS sq, y
  FROM e
),
g AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(sq) AS BIGINT) AS ssum,
         CAST(sum(y) AS BIGINT) AS pos
  FROM b GROUP BY 1
),
t AS (
  SELECT CAST(sum(abs(pos * 1000000 - ssum)) AS BIGINT) AS wq,
         CAST(sum(n) AS BIGINT) AS nn
  FROM g
)
SELECT bin, n,
       round(CAST(ssum AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
         AS confidence,
       round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
       round(CAST(t.wq AS DOUBLE)
             / (1000000.0 * CAST(t.nn AS DOUBLE)), 6) AS ece
FROM g CROSS JOIN t
"""


QUERIES_ANALYTICS: dict = {
    "robust_outliers": q_robust_outliers,
    "survival_curve": q_survival_curve,
    "msprt_monitor": q_msprt_monitor,
    "binary_auc": q_binary_auc,
    "calibration_report": q_calibration_report,
    "png_decode": q_png_decode,
    "gif_frames": q_gif_frames,
    "sequence_mining": q_sequence_mining,
    "rfm_segments": q_rfm_segments,
    "dataset_split": q_dataset_split,
    "pruning_stats": q_pruning_stats,
    "bounce_exit": q_bounce_exit,
    "ab_srm": q_ab_srm,
    "lsh_recall": q_lsh_recall,
    "psi_drift": q_psi_drift,
    "ab_cuped": q_ab_cuped,
    "incremental_rollup": q_incremental_rollup,
    "variant_extract": q_variant_extract,
    "skew_report": q_skew_report,
    "dau_wau_mau": q_dau_wau_mau,
    "new_vs_returning": q_new_vs_returning,
    "ltv_curve": q_ltv_curve,
    "label_centroids": q_label_centroids,
    "ppm_decode": q_ppm_decode,
    "wav_decode": q_wav_decode,
    "y4m_shots": q_y4m_shots,
    "session_timelines": q_session_timelines,
    "target_encoding": q_target_encoding,
    "quantile_normalize": q_quantile_normalize,
    "hashed_features": q_hashed_features,
    "langid_eval": q_langid_eval,
}

ORACLES_ANALYTICS: dict[str, str] = {
    "robust_outliers": SQL_ROBUST_OUTLIERS,
    "survival_curve": SQL_SURVIVAL_CURVE,
    "msprt_monitor": SQL_MSPRT_MONITOR,
    "binary_auc": SQL_BINARY_AUC,
    "calibration_report": SQL_CALIBRATION_REPORT,
    "png_decode": SQL_PNG_DECODE,
    "gif_frames": SQL_GIF_FRAMES,
    "sequence_mining": SQL_SEQUENCE_MINING,
    "rfm_segments": SQL_RFM_SEGMENTS,
    "dataset_split": SQL_DATASET_SPLIT,
    "pruning_stats": SQL_PRUNING_STATS,
    "bounce_exit": SQL_BOUNCE_EXIT,
    "ab_srm": SQL_AB_SRM,
    "psi_drift": SQL_PSI_DRIFT,
    "ab_cuped": SQL_AB_CUPED,
    "incremental_rollup": SQL_INCREMENTAL_ROLLUP,
    "variant_extract": SQL_VARIANT_EXTRACT,
    "skew_report": SQL_SKEW_REPORT,
    "dau_wau_mau": SQL_DAU_WAU_MAU,
    "new_vs_returning": SQL_NEW_VS_RETURNING,
    "ltv_curve": SQL_LTV_CURVE,
    "label_centroids": SQL_LABEL_CENTROIDS,
    "ppm_decode": SQL_PPM_DECODE,
    "wav_decode": SQL_WAV_DECODE,
    "y4m_shots": SQL_Y4M_SHOTS,
    "session_timelines": SQL_SESSION_TIMELINES,
    "target_encoding": SQL_TARGET_ENCODING,
    "quantile_normalize": SQL_QUANTILE_NORMALIZE,
    "hashed_features": SQL_HASHED_FEATURES,
    "langid_eval": SQL_LANGID_EVAL,
}


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL entropy-coded image path driver-checked: a true
    grayscale baseline JPEG (standard-composition Huffman tables,
    DC-predicted entropy-coded MCUs with byte stuffing, flat quant —
    testing/fixtures.make_jpeg_baseline) is synthesized per event
    from planted quantized coefficients, decoded by the full T.81
    pipeline (operators/multimodal._parse_jpeg: marker walk, Huffman
    decode, dequant, dezigzag, matrix IDCT), and the oracle replays
    the decoded pixel sums as PURE INTEGER arithmetic — with a flat
    quant of 8 the DC term contributes exactly ``64*(128+dc)`` per
    block and each AC template a pinned integer constant (fixture
    margin test keeps every pixel > 1e-2 from a rounding boundary).
    A green row proves the Huffman/DC-prediction/IDCT path reads the
    actual coefficients."""
    from ..operators.multimodal import JPEG_META_SCHEMA, decode_jpeg_meta
    from ..testing.fixtures import make_jpeg_baseline

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_jpeg_baseline(i % 1000)
    )
    meta = decode_jpeg_meta(payloads)
    assert meta.schema == JPEG_META_SCHEMA
    return meta.select("doc_id", "width", "height", "y_sum", "mean_px")


def _jpeg_decode_sql() -> str:
    from ..testing.fixtures import (
        JPEG_AC_TEMPLATES, jpeg_template_round_sums,
    )

    rs = jpeg_template_round_sums()
    n_t = len(JPEG_AC_TEMPLATES)
    rs_arr = "[" + ", ".join(f"{v}::BIGINT" for v in rs) + "]"
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed FROM events
),
blocks AS (
  SELECT event_id, seed, CAST(b.b AS BIGINT) AS b,
         ((seed * 7 + b.b * 13) % 121) - 60 AS dc,
         (seed + b.b) % {n_t} AS t
  FROM e, LATERAL (SELECT unnest(range(0, 4)) AS b) b
)
SELECT event_id AS doc_id,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(sum(64 * (128 + dc) + {rs_arr}[t + 1]) AS BIGINT) AS y_sum,
       round(CAST(sum(64 * (128 + dc) + {rs_arr}[t + 1]) AS DOUBLE)
             / 256.0, 6) AS mean_px
FROM blocks GROUP BY event_id
"""


SQL_JPEG_DECODE = _jpeg_decode_sql()
QUERIES_ANALYTICS["jpeg_decode"] = q_jpeg_decode
ORACLES_ANALYTICS["jpeg_decode"] = SQL_JPEG_DECODE


def q_jpeg_decode_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4:2:0 chroma-subsampled color path driver-checked — the
    JPEG variant real crawls actually ship (VERDICT r7 item 7): a
    32x32 3-component baseline JPEG with Y at 2x2 sampling factors
    is synthesized per event (testing/fixtures.make_jpeg_baseline
    subsampling="420"), so the decoder must walk the general
    interleaved-MCU grid (4 Y blocks then Cb then Cr per MCU, T.81
    A.2.3), keep three DC predictor chains, and JFIF-upsample the
    chroma planes. Chroma is planted DC-only zero, which makes the
    decoded RGB exactly the replicated Y channel (0-offset color
    conversion), so the oracle replays the pixel sum as PURE INTEGER
    arithmetic: 3 * sum_b(64*(128+dc_b) + RS[t_b]) over the 16 Y
    blocks — nonzero-chroma pixel-exactness is covered by
    tests/test_multimodal.py (textbook-IDCT reference). A green row
    proves the subsampled MCU ordering, per-component prediction and
    upsampling plumbing read the actual coefficients."""
    from ..operators.multimodal import decode_jpeg_meta
    from ..testing.fixtures import make_jpeg_baseline

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_jpeg_baseline(i % 1000, 32, 32, channels=3,
                                     subsampling="420", chroma_dc=(0, 0)),
    )
    meta = decode_jpeg_meta(payloads)
    return meta.select(
        "doc_id", "width", "height", "channels", "y_sum", "mean_px"
    )


def _jpeg_decode_420_sql() -> str:
    from ..testing.fixtures import (
        JPEG_AC_TEMPLATES, jpeg_template_round_sums,
    )

    rs = jpeg_template_round_sums()
    n_t = len(JPEG_AC_TEMPLATES)
    rs_arr = "[" + ", ".join(f"{v}::BIGINT" for v in rs) + "]"
    # 32x32 Y plane = 16 blocks; zero-chroma 4:2:0 makes each RGB
    # channel the rounded Y plane, so the 3-channel pixel sum is
    # exactly 3x the grayscale integer replay.
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed FROM events
),
blocks AS (
  SELECT event_id, seed, CAST(b.b AS BIGINT) AS b,
         ((seed * 7 + b.b * 13) % 121) - 60 AS dc,
         (seed + b.b) % {n_t} AS t
  FROM e, LATERAL (SELECT unnest(range(0, 16)) AS b) b
)
SELECT event_id AS doc_id,
       CAST(32 AS INTEGER) AS width,
       CAST(32 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(3 * sum(64 * (128 + dc) + {rs_arr}[t + 1]) AS BIGINT)
         AS y_sum,
       round(CAST(3 * sum(64 * (128 + dc) + {rs_arr}[t + 1]) AS DOUBLE)
             / 3072.0, 6) AS mean_px
FROM blocks GROUP BY event_id
"""


SQL_JPEG_DECODE_420 = _jpeg_decode_420_sql()
QUERIES_ANALYTICS["jpeg_decode_420"] = q_jpeg_decode_420
ORACLES_ANALYTICS["jpeg_decode_420"] = SQL_JPEG_DECODE_420


def q_jpeg_decode_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG (SOF2) driver-checked — the libjpeg-default
    encoding of most web JPEGs, the last decode gate closed in r8:
    the same planted coefficients as jpeg_decode are re-encoded
    through a real multi-scan progressive script (interleaved DC
    first pass at Al=1, spectral-selection AC first passes with
    EOB-RUN coding, DC bit-plane refinement, the T.81 G.1.2.3 AC
    correction-bit refinement with buffered bits and cross-block EOB
    runs), so the decoded pixel sums replay on the SAME integer grid
    as the baseline oracle. A green row proves the multi-scan
    coefficient accumulation reconstructs the exact coefficients —
    any refinement-protocol bug shifts a bit plane and lands off the
    grid."""
    from ..operators.multimodal import decode_jpeg_meta
    from ..testing.fixtures import make_jpeg_progressive

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_jpeg_progressive(i % 1000)
    )
    meta = decode_jpeg_meta(payloads)
    return meta.select("doc_id", "width", "height", "y_sum", "mean_px")


# identical integer replay to SQL_JPEG_DECODE: the progressive
# encoding carries the same quantized coefficients, and the decode
# must reconstruct them exactly
SQL_JPEG_DECODE_PROGRESSIVE = SQL_JPEG_DECODE

QUERIES_ANALYTICS["jpeg_decode_progressive"] = q_jpeg_decode_progressive
ORACLES_ANALYTICS["jpeg_decode_progressive"] = SQL_JPEG_DECODE_PROGRESSIVE


def q_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL compressed-audio path driver-checked: a true FLAC
    stream is synthesized per sampled event (testing/fixtures.
    make_flac — Rice-coded FIXED-predictor frames, verbatim frames, a
    constant tail block, correct CRCs), decoded by the full bit-level
    pipeline (operators/multimodal._parse_flac), and the per-window
    RMS energies are recomputed arithmetically by the oracle. FLAC is
    LOSSLESS, so the planted sample rule replays exactly — a green
    row proves the Rice/predictor/CRC path reconstructs the actual
    samples. Same serialization contract as wav_decode (%.6f-joined
    scalar string)."""
    from ..operators.multimodal import decode_flac_features
    from ..testing.fixtures import make_flac

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_flac(i % 1000, n_samples=800 + (i % 5) * 400),
        residue=0,
    )
    return decode_flac_features(payloads, window_samples=400).select(
        "doc_id", "sample_rate_hz", "n_samples", "duration_ms",
        "n_windows",
        F.array_join(
            F.transform("rms_windows",
                        lambda x: F.format_string("%.6f", x)),
            ",",
        ).alias("rms_windows"),
    )


# the fixture's block layout: 512-sample blocks cycling
# (fixed2, verbatim, constant); fixed/verbatim carry the WAV sample
# rule, constant blocks carry seed % 512 — the oracle replays the
# layout arithmetically (FLAC is lossless, so equality is exact)
SQL_FLAC_DECODE = f"""
WITH e AS (
  SELECT event_id, 800 + (event_id % 5) * 400 AS n,
         event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
w AS (
  SELECT event_id, n, seed, CAST(wi.w AS BIGINT) AS w
  FROM e, LATERAL (SELECT unnest(range(0, (n + 399) // 400)) AS w) wi
),
s AS (
  SELECT event_id, n, w.w,
         CASE WHEN ((i.i // 512) % 3) = 2 THEN seed % 512
              ELSE ((seed + i.i * 257) % 2001) - 1000 END AS v
  FROM w, LATERAL (SELECT unnest(range(w.w * 400,
                                       least(n, (w.w + 1) * 400))) AS i) i
),
r AS (
  SELECT event_id, n, w,
         round(sqrt(CAST(sum(v * v) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)), 6) AS rms
  FROM s GROUP BY 1, 2, 3
)
SELECT event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
       CAST(count(*) AS INTEGER) AS n_windows,
       string_agg(printf('%.6f', rms), ',' ORDER BY w) AS rms_windows
FROM r GROUP BY event_id, n
"""

QUERIES_ANALYTICS["flac_decode"] = q_flac_decode
ORACLES_ANALYTICS["flac_decode"] = SQL_FLAC_DECODE


def q_flac_decode_stereo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEREO FLAC driver-checked — mid/side decorrelation, the mode
    real encoders pick most (r8): the fixture plants independent L/R
    sample rules, encodes mid = (L+R)>>1 and side = L-R (side at 17
    bits per RFC 9639), and the decoder must run TWO subframe decodes
    per frame plus the (mid<<1)|(side&1) reconstruction to get either
    channel right. Per-window RMS pools both channels (w.size).
    Lossless, so the oracle replays both planted rules exactly.
    Disjoint event sample from mono flac_decode (id % 10 == 1)."""
    from ..operators.multimodal import decode_flac_features
    from ..testing.fixtures import make_flac

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_flac(i % 1000, n_samples=800 + (i % 5) * 400,
                            channels=2, stereo_mode="mid_side"),
        residue=1,
    )
    return decode_flac_features(payloads, window_samples=400).select(
        "doc_id", "sample_rate_hz", "n_samples", "duration_ms",
        "n_windows",
        F.array_join(
            F.transform("rms_windows",
                        lambda x: F.format_string("%.6f", x)),
            ",",
        ).alias("rms_windows"),
    )


# stereo layout: same 512-block cycle; left carries the WAV rule /
# seed % 512 constants, right carries the (seed*3, *181, % 1801)
# rule / (seed*3) % 512 — RMS pools both channels (2 rows per frame
# via the channel unnest, so count(*) is w.size)
SQL_FLAC_DECODE_STEREO = f"""
WITH e AS (
  SELECT event_id, 800 + (event_id % 5) * 400 AS n,
         event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
w AS (
  SELECT event_id, n, seed, CAST(wi.w AS BIGINT) AS w
  FROM e, LATERAL (SELECT unnest(range(0, (n + 399) // 400)) AS w) wi
),
s AS (
  SELECT event_id, n, w.w,
         CASE WHEN c.c = 0 THEN
           CASE WHEN ((i.i // 512) % 3) = 2 THEN seed % 512
                ELSE ((seed + i.i * 257) % 2001) - 1000 END
         ELSE
           CASE WHEN ((i.i // 512) % 3) = 2 THEN (seed * 3) % 512
                ELSE ((seed * 3 + i.i * 181) % 1801) - 900 END
         END AS v
  FROM w,
       LATERAL (SELECT unnest(range(w.w * 400,
                                    least(n, (w.w + 1) * 400))) AS i) i,
       LATERAL (SELECT unnest(range(0, 2)) AS c) c
),
r AS (
  SELECT event_id, n, w,
         round(sqrt(CAST(sum(v * v) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)), 6) AS rms
  FROM s GROUP BY 1, 2, 3
)
SELECT event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
       CAST(count(*) AS INTEGER) AS n_windows,
       string_agg(printf('%.6f', rms), ',' ORDER BY w) AS rms_windows
FROM r GROUP BY event_id, n
"""

QUERIES_ANALYTICS["flac_decode_stereo"] = q_flac_decode_stereo
ORACLES_ANALYTICS["flac_decode_stereo"] = SQL_FLAC_DECODE_STEREO


def q_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification eval over the embedding corpus:
    every vector is assigned to the closest label centroid and the
    confusion matrix comes back with per-true-label accuracy — the
    Rocchio-classifier readout that scores whether the label space is
    linearly separable in embedding space.

    Exactness: vectors quantize to the label_centroids grid;
    per-(vector, label) squared distances to the RATIONAL centroid
    s_c/n_c are compared via the exact integer form ``A_c = n_c^2|x|^2
    - 2 n_c (x.s_c) + |s_c|^2`` divided once in double by n_c^2 (one
    fixed division per candidate; argmin tie-breaks on the smaller
    label). Shape: centroid build is the label_centroids aggregation;
    scoring is a fan-out join bounded by n_vectors x dims x |labels|
    — the honest nearest-centroid cost, never vectors x vectors."""
    emb = load_parallel(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "vec_id", "label", "dim",
        F.floor(F.col("val").cast("double") * _CENT_GRID)
        .cast("long").alias("q"),
    ).localCheckpoint(eager=False)
    cent = ex.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.sum("q").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    csum = cent.groupBy("clabel").agg(
        F.sum(F.col("s") * F.col("s")).alias("s2"),
        F.max("n").cast("decimal(38,0)").alias("nc"),
    )
    xs = ex.groupBy("vec_id", "label").agg(
        F.sum(
            F.col("q").cast("decimal(38,0)") * F.col("q").cast("decimal(38,0)")
        ).alias("x2")
    )
    dots = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.col("q").cast("decimal(38,0)") * F.col("s"))
             .alias("xs"))
    )
    scored = (
        dots.join(xs, ["vec_id", "label"])
        .join(F.broadcast(csum), "clabel")
        .select(
            "vec_id", "label", "clabel",
            (
                (F.col("nc") * F.col("nc") * F.col("x2")
                 - F.lit(2).cast("decimal(38,0)") * F.col("nc")
                 * F.col("xs")
                 + F.col("s2")).cast("double")
                / (F.col("nc") * F.col("nc")).cast("double")
            ).alias("dist2"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc(), F.col("clabel").asc()
    )
    assigned = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
    )
    return (
        assigned.groupBy(
            F.col("label").alias("true_label"),
            F.col("clabel").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .orderBy("true_label", "pred_label")
    )


SQL_CENTROID_CLASSIFY = f"""
WITH ex AS (
  SELECT vec_id, label, CAST(s.i - 1 AS INTEGER) AS dim,
         CAST(floor(CAST(embedding[s.i] AS DOUBLE) * {_CENT_GRID})
              AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) s
),
cent AS (
  SELECT label AS clabel, dim,
         CAST(sum(q) AS HUGEINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM ex GROUP BY 1, 2
),
csum AS (
  SELECT clabel, CAST(sum(s * s) AS HUGEINT) AS s2,
         CAST(max(n) AS HUGEINT) AS nc
  FROM cent GROUP BY 1
),
xs AS (
  SELECT vec_id, label, CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT)
         AS x2
  FROM ex GROUP BY 1, 2
),
dots AS (
  SELECT ex.vec_id, ex.label, cent.clabel,
         CAST(sum(CAST(ex.q AS HUGEINT) * cent.s) AS HUGEINT) AS xsum
  FROM ex JOIN cent USING (dim)
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT d.vec_id, d.label, d.clabel,
         CAST(c.nc * c.nc * x.x2 - 2 * c.nc * d.xsum + c.s2 AS DOUBLE)
           / CAST(c.nc * c.nc AS DOUBLE) AS dist2
  FROM dots d
  JOIN xs x ON x.vec_id = d.vec_id AND x.label = d.label
  JOIN csum c USING (clabel)
),
assigned AS (
  SELECT vec_id, label, clabel,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist2 ASC, clabel ASC) AS rk
  FROM scored
)
SELECT label AS true_label, clabel AS pred_label,
       CAST(count(*) AS BIGINT) AS n_vectors
FROM assigned WHERE rk = 1
GROUP BY 1, 2
ORDER BY true_label, pred_label
"""

QUERIES_ANALYTICS["centroid_classify"] = q_centroid_classify
ORACLES_ANALYTICS["centroid_classify"] = SQL_CENTROID_CLASSIFY
