"""Driver queries: the round-8 batch.

The operator families the training-data list still lacked, each
thin wiring over an operator module with a full DuckDB value oracle:

- ``phash_dedup`` — perceptual dHash near-dup bucketing over
  REAL-decoded NetPBM images (operators/multimodal.dhash_images):
  the image analogue of the MinHash band key. The oracle replays the
  decode + 9x8 integer block pooling + comparison bits from the
  fixture's planted pixel formula.
- ``fdr_screen`` — Benjamini-Hochberg FDR control across per-event-
  type A/B z-tests (operators/stats.bh_fdr + the published A&S
  26.2.17 normal CDF, identical elementary expression both engines).
- ``good_turing`` / ``zipf_alpha`` — vocabulary statistics over the
  corpus token frequency table (operators/text.py): Simple Good-
  Turing discounting (unseen-mass row included) and the Clauset-
  Shalizi-Newman power-law MLE.
- ``burst_detection`` — gaps-and-islands burst windows over the
  (event_type, day) count series (operators/anomaly.burst_windows).
- ``wasserstein_drift`` — exact two-sample W1 distance on the cents
  grid via the same bucket-offset prefix-sum pattern as ks_drift
  (operators/dq.wasserstein_two_sample) — the magnitude companion
  KS under-ranks.
- ``hourly_seasonality`` — chi-square uniformity of activity over
  hour-of-day per event type (operators/stats.chi2_uniformity,
  closed-form missing-bin handling).
- ``user_entropy`` — per-user Shannon entropy of the event-type
  distribution (operators/stats.behavior_entropy), the
  predictability screen for bot/script curation.
- ``lm_backoff_score`` — stupid-backoff bigram LM quality scoring
  (operators/text.stupid_backoff_scores): counts train on the
  even-doc half so the odd half genuinely exercises the backoff
  path.

Scale notes: every query aggregates to a bounded grain before any
window (hypotheses, (type, day), (type, hour), vocab, distinct
cents); the image hash is one Arrow ``mapInPandas`` pass; nothing
collects more than the documented bucket subtotals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.anomaly import burst_windows
from ..operators.dq import wasserstein_two_sample
from ..operators.stats import (
    behavior_entropy,
    bh_fdr,
    chi2_uniformity,
    normal_sf,
)
from ..operators.text import (
    good_turing_smoothing,
    token_frequencies,
    zipf_alpha,
)
from ..sources.testdata import load_events, load_parallel

__all__ = ["QUERIES_R8", "ORACLES_R8"]

QUERIES_R8: dict = {}
ORACLES_R8: dict = {}


# -------------------------------------------------------------------
# phash_dedup
# -------------------------------------------------------------------

_PH_SEEDS = 40  # event_id % 40 -> ~n/40 docs per planted dup group
_PH_W, _PH_H = 18, 16  # 9x8 dHash grid with exact 2x2 block pooling


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup bucketing on a perceptual hash: a deterministic
    P5 grayscale NetPBM payload is synthesized per event (pixel
    (y, x) = (seed + y*31 + x*7) % 256, seed = event_id % 40 — so
    every seed class is an exact-duplicate image group), REALLY
    decoded and dHashed (operators/multimodal.dhash_images: raster
    parse, integer 2x2 block pooling to the canonical 9x8 grid,
    left<right comparison bits packed into two 32-bit halves), then
    bucketed by hash — the candidate-generation stage of image dedup,
    work proportional to duplicate mass. The oracle replays pixel
    synthesis, pooling and bit packing as pure integer SQL."""
    from ..operators.multimodal import dhash_images
    from ..testing.fixtures import make_ppm

    from .driver_queries_analytics import synth_docs

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_ppm(_PH_W, _PH_H, i % _PH_SEEDS, channels=1),
    )
    hashed = dhash_images(payloads).filter(
        F.col("decode_error").isNull()
    )
    return (
        hashed.groupBy("phash_hi", "phash_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


SQL_PHASH_DEDUP = f"""
WITH e AS (
  SELECT event_id, event_id % {_PH_SEEDS} AS seed FROM events
),
seeds AS (SELECT DISTINCT seed FROM e),
px AS (
  SELECT seed, CAST(y.y AS BIGINT) AS y, CAST(x.x AS BIGINT) AS x,
         (seed + y.y * 31 + x.x * 7) % 256 AS v
  FROM seeds,
       LATERAL (SELECT unnest(range(0, {_PH_H})) AS y) y,
       LATERAL (SELECT unnest(range(0, {_PH_W})) AS x) x
),
grid AS (
  SELECT seed, y // 2 AS gy, x // 2 AS gx,
         CAST(sum(v) AS BIGINT) AS s
  FROM px GROUP BY 1, 2, 3
),
bits AS (
  SELECT seed, gy, gx,
         CASE WHEN s < lead(s) OVER (PARTITION BY seed, gy ORDER BY gx)
              THEN 1 ELSE 0 END AS bit
  FROM grid
),
hashes AS (
  SELECT seed,
         CAST(sum(CASE WHEN gy < 4 AND gx < 8
                  THEN CAST(bit AS BIGINT) * (CAST(1 AS BIGINT)
                       << CAST(gy * 8 + gx AS INTEGER))
                  ELSE 0 END) AS BIGINT) AS phash_lo,
         CAST(sum(CASE WHEN gy >= 4 AND gx < 8
                  THEN CAST(bit AS BIGINT) * (CAST(1 AS BIGINT)
                       << CAST((gy - 4) * 8 + gx AS INTEGER))
                  ELSE 0 END) AS BIGINT) AS phash_hi
  FROM bits GROUP BY 1
)
SELECT phash_hi, phash_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(event_id) AS min_doc,
       max(event_id) AS max_doc
FROM e JOIN hashes USING (seed)
GROUP BY 1, 2
HAVING count(*) >= 2
"""

QUERIES_R8["phash_dedup"] = q_phash_dedup
ORACLES_R8["phash_dedup"] = SQL_PHASH_DEDUP


# -------------------------------------------------------------------
# fdr_screen
# -------------------------------------------------------------------


def q_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the multi-metric A/B
    readout: one two-proportion z-test per event type (arm = the
    ab_ztest md5 split, success = value > 100), p-values from the
    A&S 26.2.17 normal-CDF series (identical elementary expression
    in the oracle), then the step-up BH procedure at q = 0.1
    (operators/stats.bh_fdr) — the thing a naive per-metric
    significance scan gets wrong. Windows run over the 5-row
    hypothesis table only."""
    e = load_events(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    arm = (
        F.conv(F.substring(F.md5(F.concat(F.lit("exp1#"),
                                          F.col("user_id").cast("string"))),
                           1, 14), 16, 10).cast("long") % 2
    )
    hyp = (
        e.withColumn("arm", arm)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long").alias("n_a"),
            F.sum(F.when((F.col("arm") == 0) & (F.col("value") > 100), 1)
                  .otherwise(0)).cast("long").alias("x_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long").alias("n_b"),
            F.sum(F.when((F.col("arm") == 1) & (F.col("value") > 100), 1)
                  .otherwise(0)).cast("long").alias("x_b"),
        )
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") \
        / (F.col("n_a") + F.col("n_b")).cast("double")
    se = F.sqrt(
        pp * (1.0 - pp)
        * (1.0 / F.col("n_a").cast("double")
           + 1.0 / F.col("n_b").cast("double"))
    )
    z = (p_b - p_a) / se
    hyp = hyp.select(
        "event_type", "n_a", "x_a", "n_b", "x_b",
        z.alias("_z"),
        (2.0 * normal_sf(F.abs(z))).alias("p_value"),
    )
    out = bh_fdr(hyp, "p_value", alpha=0.1)
    return out.select(
        "event_type", "n_a", "x_a", "n_b", "x_b",
        F.round("_z", 6).alias("z"),
        F.round("p_value", 6).alias("p_value"),
        "p_rank", "bh_crit", "p_adj", "rejected",
    )


def _sql_normal_sf(z: str) -> str:
    # single canonical SQL rendering lives next to normal_sf itself
    from ..operators.stats import as_sql_normal_sf

    return as_sql_normal_sf(z)


def _sql_fdr_screen() -> str:
    z = "((p_b - p_a) / se)"
    p = "(2.0 * " + _sql_normal_sf(f"abs{z}") + ")"
    return f"""
WITH e AS (
  SELECT event_type,
         ('0x' || substr(md5('exp1#' || CAST(user_id AS VARCHAR)),
                         1, 14))::BIGINT % 2 AS arm,
         value
  FROM events
),
hyp0 AS (
  SELECT event_type,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 0 AND value > 100 THEN 1 ELSE 0 END)
              AS BIGINT) AS x_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 1 AND value > 100 THEN 1 ELSE 0 END)
              AS BIGINT) AS x_b
  FROM e GROUP BY 1
),
hyp1 AS (
  SELECT *,
         CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
         CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
         CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
  FROM hyp0
),
hyp2 AS (
  SELECT *,
         sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE)
                                 + 1.0 / CAST(n_b AS DOUBLE))) AS se
  FROM hyp1
),
hyp AS (
  SELECT event_type, n_a, x_a, n_b, x_b,
         {z} AS z_raw,
         {p} AS p_value
  FROM hyp2
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY p_value, event_type, n_a, x_a,
                            n_b, x_b, z_raw) AS p_rank,
         count(*) OVER () AS m
  FROM hyp
),
adj AS (
  SELECT *,
         least(1.0, min(p_value * m / p_rank)
               OVER (ORDER BY p_rank DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS p_adj,
         CAST(p_rank AS DOUBLE) * 0.1 / m AS bh_crit
  FROM ranked
),
kmx AS (
  SELECT *,
         max(CASE WHEN p_value <= bh_crit THEN p_rank END) OVER ()
           AS kmax
  FROM adj
)
SELECT event_type, n_a, x_a, n_b, x_b,
       round(z_raw, 6) AS z,
       round(p_value, 6) AS p_value,
       CAST(p_rank AS INTEGER) AS p_rank,
       round(bh_crit, 6) AS bh_crit,
       round(p_adj, 6) AS p_adj,
       coalesce(p_rank <= kmax, FALSE) AS rejected
FROM kmx
"""


SQL_FDR_SCREEN = _sql_fdr_screen()
QUERIES_R8["fdr_screen"] = q_fdr_screen
ORACLES_R8["fdr_screen"] = SQL_FDR_SCREEN


# -------------------------------------------------------------------
# good_turing / zipf_alpha
# -------------------------------------------------------------------


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple Good-Turing vocabulary smoothing over the corpus token
    frequency table: frequency-of-frequencies N_r, the discounted
    count r* = (r+1) N_{r+1}/N_r, each class's probability mass, and
    the r=0 unseen-mass row (N_1/N) — the held-out-mass estimate an
    LM-data vocabulary report needs."""
    d = load_parallel(spark, sf_dir, "documents").select("text").filter(
        F.col("text").isNotNull()
    )
    return good_turing_smoothing(token_frequencies(d))


SQL_GOOD_TURING = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents WHERE text IS NOT NULL
),
freqs AS (
  SELECT token, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY 1
),
nr AS (
  SELECT freq AS r, CAST(count(*) AS BIGINT) AS n_r FROM freqs GROUP BY 1
),
tot AS (SELECT sum(r * n_r) AS n FROM nr),
base AS (
  SELECT a.r, a.n_r, b.n_r AS n_r1
  FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
  UNION ALL
  SELECT CAST(0 AS BIGINT), CAST(NULL AS BIGINT), n_r
  FROM nr WHERE r = 1
)
SELECT r, n_r,
       round(CASE WHEN r > 0
             THEN CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)
                  / CAST(n_r AS DOUBLE) END, 6) AS r_star,
       round(CASE WHEN r = 0
             THEN CAST(n_r1 AS DOUBLE) / CAST(n AS DOUBLE)
             WHEN n_r1 IS NOT NULL
             THEN (CAST(r + 1 AS DOUBLE) * CAST(n_r1 AS DOUBLE)
                   / CAST(n_r AS DOUBLE))
                  * CAST(n_r AS DOUBLE) / CAST(n AS DOUBLE)
             END, 6) AS prob_mass
FROM base CROSS JOIN tot
"""

QUERIES_R8["good_turing"] = q_good_turing
ORACLES_R8["good_turing"] = SQL_GOOD_TURING


def q_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the corpus vocabulary by the
    Clauset-Shalizi-Newman discrete MLE approximation — one
    aggregation over the vocab-sized frequency table, no ordering
    anywhere (the distribution-shape sanity check for synthetic or
    over-deduplicated corpora)."""
    d = load_parallel(spark, sf_dir, "documents").select("text").filter(
        F.col("text").isNotNull()
    )
    return zipf_alpha(token_frequencies(d), fmin=1)


SQL_ZIPF_ALPHA = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents WHERE text IS NOT NULL
),
freqs AS (
  SELECT token, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY 1
),
tot AS (SELECT sum(freq) AS all_tokens FROM freqs),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(freq) AS BIGINT) AS n_tokens,
         sum(ln(CAST(freq AS DOUBLE) / 0.5)) AS lsum
  FROM freqs WHERE freq >= 1
)
SELECT CAST(1 AS BIGINT) AS fmin,
       n_types, n_tokens,
       round(1.0 + CAST(n_types AS DOUBLE) / lsum, 6) AS alpha,
       round(((1.0 + CAST(n_types AS DOUBLE) / lsum) - 1.0)
             / sqrt(CAST(n_types AS DOUBLE)), 6) AS alpha_se,
       round(CAST(n_tokens AS DOUBLE) / CAST(all_tokens AS DOUBLE), 6)
         AS tail_token_share
FROM agg CROSS JOIN tot
"""

QUERIES_R8["zipf_alpha"] = q_zipf_alpha
ORACLES_R8["zipf_alpha"] = SQL_ZIPF_ALPHA


# -------------------------------------------------------------------
# burst_detection
# -------------------------------------------------------------------

_BURST_SIGMA = 1.5


def q_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst windows over per-type daily event counts: flag days
    >= mean + 1.5 population sigma for the type, merge consecutive
    flagged days via gaps-and-islands (operators/anomaly.
    burst_windows). Non-degenerate at every shipped SF (6-13 flagged
    days of the 150 (type, day) rows)."""
    e = load_events(spark, sf_dir).select(
        "event_type", F.expr("ts_ms div 86400000").alias("day")
    )
    series = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return burst_windows(
        series, "event_type", "day", "cnt", sigma=_BURST_SIGMA
    )


SQL_BURST_DETECTION = f"""
WITH s AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, avg(CAST(cnt AS DOUBLE)) AS mu,
         stddev_pop(CAST(cnt AS DOUBLE)) AS sd
  FROM s GROUP BY 1
),
f AS (
  SELECT s.event_type, s.day, s.cnt, st.mu
  FROM s JOIN st USING (event_type)
  WHERE sd > 0.0 AND CAST(cnt AS DOUBLE) >= mu + {_BURST_SIGMA} * sd
),
r AS (
  SELECT *,
         day - row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS island
  FROM f
),
pk AS (
  SELECT event_type, island, min(day) AS peak_t
  FROM r JOIN (
    SELECT event_type AS et2, island AS is2, max(cnt) AS mc
    FROM r GROUP BY 1, 2
  ) ON event_type = et2 AND island = is2 AND cnt = mc
  GROUP BY 1, 2
)
SELECT r.event_type,
       min(day) AS burst_start,
       max(day) AS burst_end,
       CAST(count(*) AS BIGINT) AS n_periods,
       CAST(sum(cnt) AS BIGINT) AS total_events,
       min(pk.peak_t) AS peak_t,
       CAST(max(cnt) AS BIGINT) AS peak_count,
       round(min(mu), 6) AS baseline_mean
FROM r JOIN pk ON r.event_type = pk.event_type AND r.island = pk.island
GROUP BY r.event_type, r.island
"""

QUERIES_R8["burst_detection"] = q_burst_detection
ORACLES_R8["burst_detection"] = SQL_BURST_DETECTION


# -------------------------------------------------------------------
# wasserstein_drift
# -------------------------------------------------------------------


def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Wasserstein-1 drift on the event-value cents grid
    between alternating days (the ks_drift experiment, integrated
    instead of maximized): exact step-function integral via the
    bucket-offset prefix-sum pattern, no global sort partition
    (operators/dq.wasserstein_two_sample)."""
    e = load_events(spark, sf_dir).select(
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.expr("ts_ms div 86400000 % 2 = 0"), "even")
        .otherwise("odd")
        .alias("grp"),
    )
    return wasserstein_two_sample(e, "cents", "grp", "even", "odd")


SQL_WASSERSTEIN_DRIFT = """
WITH e AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
         CASE WHEN epoch_ms(ts) // 86400000 % 2 = 0
              THEN 'even' ELSE 'odd' END AS grp
  FROM events
  WHERE value IS NOT NULL
),
pv AS (
  SELECT cents AS v,
         sum(CASE WHEN grp = 'even' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN grp = 'odd' THEN 1 ELSE 0 END) AS cb
  FROM e GROUP BY 1
),
n AS (
  SELECT sum(ca) AS n_a, sum(cb) AS n_b,
         max(v) AS hi, min(v) AS lo
  FROM pv
),
c AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cuma,
         sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cumb,
         coalesce(lead(v) OVER (ORDER BY v), v) - v AS gap
  FROM pv
),
t AS (
  SELECT sum(abs(n.n_b * cuma - n.n_a * cumb) * gap) AS num
  FROM c CROSS JOIN n
)
SELECT CAST(n.n_a AS BIGINT) AS n_a,
       CAST(n.n_b AS BIGINT) AS n_b,
       round(CAST(t.num AS DOUBLE)
             / (CAST(n.n_a AS DOUBLE) * CAST(n.n_b AS DOUBLE)), 6)
         AS w1,
       round(CAST(t.num AS DOUBLE)
             / (CAST(n.n_a AS DOUBLE) * CAST(n.n_b AS DOUBLE))
             / (CASE WHEN n.hi > n.lo
                     THEN CAST(n.hi - n.lo AS DOUBLE) ELSE 1.0 END), 6)
         AS w1_normalized
FROM t CROSS JOIN n
"""

QUERIES_R8["wasserstein_drift"] = q_wasserstein_drift
ORACLES_R8["wasserstein_drift"] = SQL_WASSERSTEIN_DRIFT


# -------------------------------------------------------------------
# hourly_seasonality
# -------------------------------------------------------------------


def q_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square uniformity of activity over hour-of-day per event
    type (operators/stats.chi2_uniformity): the seasonality screen
    that tells scheduled/bot traffic (one spiking bin) from organic.
    One hash agg to (type, hour) then a bounded per-type rollup with
    closed-form missing-bin handling."""
    e = load_events(spark, sf_dir).select(
        "event_type",
        F.expr("ts_ms div 3600000 % 24").alias("hr"),
    )
    return chi2_uniformity(e, ["event_type"], "hr", n_bins=24)


SQL_HOURLY_SEASONALITY = """
WITH b AS (
  SELECT event_type, epoch_ms(ts) // 3600000 % 24 AS hr,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type,
         CAST(sum(o) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS bins_seen,
         CAST(sum(o * o) AS BIGINT) AS sum_o2
  FROM b GROUP BY 1
)
SELECT event_type, n, bins_seen,
       round(CAST(sum_o2 AS DOUBLE) / (CAST(n AS DOUBLE) / 24.0)
             - 2.0 * CAST(n AS DOUBLE)
             + 24.0 * (CAST(n AS DOUBLE) / 24.0), 6) AS chi2,
       CAST(23 AS BIGINT) AS dof,
       round((CAST(sum_o2 AS DOUBLE) / (CAST(n AS DOUBLE) / 24.0)
              - 2.0 * CAST(n AS DOUBLE)
              + 24.0 * (CAST(n AS DOUBLE) / 24.0)) / 23.0, 6)
         AS chi2_per_dof
FROM g
"""

QUERIES_R8["hourly_seasonality"] = q_hourly_seasonality
ORACLES_R8["hourly_seasonality"] = SQL_HOURLY_SEASONALITY


# -------------------------------------------------------------------
# user_entropy
# -------------------------------------------------------------------


def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy (nats) of the event-type distribution
    (operators/stats.behavior_entropy) — the predictability screen
    for bot/script detection: two hash aggregations, entropy via the
    sum(c ln c) rearrangement, no per-action state."""
    e = load_events(spark, sf_dir).select("user_id", "event_type")
    return behavior_entropy(e, "user_id", "event_type")


SQL_USER_ENTROPY = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT user_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_actions,
         sum(c * ln(CAST(c AS DOUBLE))) AS clogc
  FROM c GROUP BY 1
)
SELECT user_id,
       n AS n_events,
       n_actions AS n_distinct_actions,
       round(greatest(ln(CAST(n AS DOUBLE))
                      - clogc / CAST(n AS DOUBLE), 0.0), 6)
         AS entropy_nats
FROM p
"""

QUERIES_R8["user_entropy"] = q_user_entropy
ORACLES_R8["user_entropy"] = SQL_USER_ENTROPY


# -------------------------------------------------------------------
# lm_backoff_score
# -------------------------------------------------------------------


def q_lm_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM quality scoring (Brants et al. 2007 —
    the count-based web-scale stand-in for model perplexity): counts
    train on the even-doc_id half of the corpus, every document is
    scored against them, so the odd half genuinely exercises the
    backoff path (its backoff_rate is the out-of-domain signal).
    Vocab-sized count tables, two hash joins, one per-doc
    aggregation (operators/text.stupid_backoff_scores)."""
    from ..operators.text import stupid_backoff_scores

    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).filter(F.col("text").isNotNull())
    train = d.filter(F.col("doc_id") % 2 == 0)
    return stupid_backoff_scores(d, train)


SQL_LM_BACKOFF_SCORE = r"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents WHERE text IS NOT NULL
),
tr_toks AS (
  SELECT unnest(t) AS w FROM d WHERE doc_id % 2 = 0
),
uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM tr_toks GROUP BY 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tr_toks),
tr_bg AS (
  SELECT p[1] AS w1, p[2] AS w2 FROM (
    SELECT unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS p
    FROM d WHERE doc_id % 2 = 0 AND len(t) > 1
  )
),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM tr_bg GROUP BY 1, 2
),
doc_bg AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
    SELECT doc_id, unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS p
    FROM d WHERE len(t) > 1
  )
),
scored AS (
  SELECT doc_id,
         CASE WHEN bi.cb IS NOT NULL
              THEN ln(CAST(bi.cb AS DOUBLE) / CAST(u1.cw AS DOUBLE))
              ELSE ln(0.4 * CAST(coalesce(u2.cw, 1) AS DOUBLE) / tot.n)
         END AS lp,
         CASE WHEN bi.cb IS NULL THEN 1 ELSE 0 END AS backed_off
  FROM doc_bg
  LEFT JOIN bi USING (w1, w2)
  LEFT JOIN (SELECT w AS w1, cw FROM uni) u1 USING (w1)
  LEFT JOIN (SELECT w AS w2, cw FROM uni) u2 USING (w2)
  CROSS JOIN tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(lp), 6) AS mean_log_score,
       round(CAST(sum(backed_off) AS DOUBLE) / count(*), 6)
         AS backoff_rate
FROM scored GROUP BY 1
"""

QUERIES_R8["lm_backoff_score"] = q_lm_backoff_score
ORACLES_R8["lm_backoff_score"] = SQL_LM_BACKOFF_SCORE


# -------------------------------------------------------------------
# phash_near_dups
# -------------------------------------------------------------------


def q_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-duplicate pairs on the perceptual hash (the stage
    after phash_dedup's exact bucketing): 4x16-bit banded LSH over
    the DISTINCT-hash table (pairwise work scales with visually
    distinct images, never documents) + exact Hamming <= 3 verify —
    lossless by pigeonhole (operators/multimodal.phash_near_pairs).
    The planted pixel rule's mod-256 wraps give the 40 seed classes
    32 distinct hashes with 70 near pairs at the threshold, so both
    the banding recall and the verify are genuinely exercised. The
    oracle brute-forces all distinct-hash pairs (fine at oracle
    scale; the Spark plan is the banded one)."""
    from ..operators.multimodal import dhash_images, phash_near_pairs
    from ..testing.fixtures import make_ppm

    from .driver_queries_analytics import synth_docs

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_ppm(_PH_W, _PH_H, i % _PH_SEEDS, channels=1),
    )
    return phash_near_pairs(dhash_images(payloads), max_hamming=3)


SQL_PHASH_NEAR_DUPS = f"""
WITH e AS (
  SELECT event_id, event_id % {_PH_SEEDS} AS seed FROM events
),
seeds AS (SELECT DISTINCT seed FROM e),
px AS (
  SELECT seed, CAST(y.y AS BIGINT) AS y, CAST(x.x AS BIGINT) AS x,
         (seed + y.y * 31 + x.x * 7) % 256 AS v
  FROM seeds,
       LATERAL (SELECT unnest(range(0, {_PH_H})) AS y) y,
       LATERAL (SELECT unnest(range(0, {_PH_W})) AS x) x
),
grid AS (
  SELECT seed, y // 2 AS gy, x // 2 AS gx,
         CAST(sum(v) AS BIGINT) AS s
  FROM px GROUP BY 1, 2, 3
),
bits AS (
  SELECT seed, gy, gx,
         CASE WHEN s < lead(s) OVER (PARTITION BY seed, gy ORDER BY gx)
              THEN 1 ELSE 0 END AS bit
  FROM grid
),
hashes AS (
  SELECT seed,
         CAST(sum(CASE WHEN gy < 4 AND gx < 8
                  THEN CAST(bit AS BIGINT) * (CAST(1 AS BIGINT)
                       << CAST(gy * 8 + gx AS INTEGER))
                  ELSE 0 END) AS BIGINT) AS phash_lo,
         CAST(sum(CASE WHEN gy >= 4 AND gx < 8
                  THEN CAST(bit AS BIGINT) * (CAST(1 AS BIGINT)
                       << CAST((gy - 4) * 8 + gx AS INTEGER))
                  ELSE 0 END) AS BIGINT) AS phash_hi
  FROM bits GROUP BY 1
),
hh AS (
  SELECT phash_hi, phash_lo, CAST(count(*) AS BIGINT) AS n_docs
  FROM e JOIN hashes USING (seed)
  GROUP BY 1, 2
)
SELECT a.phash_hi AS phash_hi_a, a.phash_lo AS phash_lo_a,
       b.phash_hi AS phash_hi_b, b.phash_lo AS phash_lo_b,
       CAST(bit_count(xor(a.phash_lo, b.phash_lo))
            + bit_count(xor(a.phash_hi, b.phash_hi)) AS INTEGER)
         AS hamming,
       a.n_docs AS docs_a, b.n_docs AS docs_b
FROM hh a JOIN hh b
  ON (a.phash_hi < b.phash_hi
      OR (a.phash_hi = b.phash_hi AND a.phash_lo < b.phash_lo))
WHERE bit_count(xor(a.phash_lo, b.phash_lo))
      + bit_count(xor(a.phash_hi, b.phash_hi)) <= 3
"""

QUERIES_R8["phash_near_dups"] = q_phash_near_dups
ORACLES_R8["phash_near_dups"] = SQL_PHASH_NEAR_DUPS


# -------------------------------------------------------------------
# image_dedup_clusters
# -------------------------------------------------------------------


def q_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END image dedup pipeline in one plan — REAL decode
    -> perceptual dHash -> banded near-pair search (hash grain) ->
    star-contraction connected components -> cluster table: each
    visually-near group of images becomes one cluster with its
    representative (min encoded hash), hash count and document mass —
    exactly the text fuzzy_dedup composition, lifted to images. Node
    ids encode (hi, lo) order-preservingly into SIGNED 64-bit range
    as (hi - 2^31) * 2^32 + lo — the unsigned hi*2^32 + lo form
    overflows BIGINT for hi >= 2^31; hashes with no near neighbor
    are their own singleton cluster. The oracle replays decode arithmetic, brute-force pairs
    and a recursive min-label closure."""
    from ..operators.graph import connected_components_star
    from ..operators.multimodal import dhash_images, phash_near_pairs
    from ..testing.fixtures import make_ppm

    from .driver_queries_analytics import synth_docs

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_ppm(_PH_W, _PH_H, i % _PH_SEEDS, channels=1),
    )
    # the hash table feeds the outer doc-count agg AND the near-pair
    # banding (which fans it out 8 more ways) — checkpoint so the
    # synth+decode Arrow pass runs ONCE (r13: 8 MapInPandas plan nodes
    # collapse to 1; hash rows are a few longs per doc)
    hashed = dhash_images(payloads).localCheckpoint(eager=False)
    hh = (
        hashed.filter(F.col("decode_error").isNull())
        .groupBy("phash_hi", "phash_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn(
            "node",
            (F.col("phash_hi") - F.lit(1 << 31)) * F.lit(1 << 32)
            + F.col("phash_lo"),
        )
    )
    pairs = phash_near_pairs(hashed, max_hamming=1).select(
        ((F.col("phash_hi_a") - F.lit(1 << 31)) * F.lit(1 << 32)
         + F.col("phash_lo_a")).alias("src"),
        ((F.col("phash_hi_b") - F.lit(1 << 31)) * F.lit(1 << 32)
         + F.col("phash_lo_b")).alias("dst"),
    )
    labels = connected_components_star(pairs)
    # hash-grain; consumed by the size rollup AND the final join
    clustered = hh.join(
        labels, hh.node == labels.id, "left"
    ).select(
        "phash_hi", "phash_lo", "n_docs",
        F.coalesce(F.col("component"), F.col("node"))
        .alias("cluster_id"),
    ).localCheckpoint(eager=False)
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_hashes"),
        F.sum("n_docs").cast("long").alias("cluster_docs"),
    )
    return clustered.join(sizes, "cluster_id").select(
        "phash_hi", "phash_lo", "n_docs", "cluster_id",
        "cluster_hashes", "cluster_docs",
    )


SQL_IMAGE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE e AS (
  SELECT event_id, event_id % {_PH_SEEDS} AS seed FROM events
),
seeds AS (SELECT DISTINCT seed FROM e),
px AS (
  SELECT seed, CAST(y.y AS BIGINT) AS y, CAST(x.x AS BIGINT) AS x,
         (seed + y.y * 31 + x.x * 7) % 256 AS v
  FROM seeds,
       LATERAL (SELECT unnest(range(0, {_PH_H})) AS y) y,
       LATERAL (SELECT unnest(range(0, {_PH_W})) AS x) x
),
grid AS (
  SELECT seed, y // 2 AS gy, x // 2 AS gx,
         CAST(sum(v) AS BIGINT) AS s
  FROM px GROUP BY 1, 2, 3
),
bits AS (
  SELECT seed, gy, gx,
         CASE WHEN s < lead(s) OVER (PARTITION BY seed, gy ORDER BY gx)
              THEN 1 ELSE 0 END AS bit
  FROM grid
),
hashes AS (
  SELECT seed,
         CAST(sum(CASE WHEN gy < 4 AND gx < 8
                  THEN CAST(bit AS BIGINT) * (CAST(1 AS BIGINT)
                       << CAST(gy * 8 + gx AS INTEGER))
                  ELSE 0 END) AS BIGINT) AS phash_lo,
         CAST(sum(CASE WHEN gy >= 4 AND gx < 8
                  THEN CAST(bit AS BIGINT) * (CAST(1 AS BIGINT)
                       << CAST((gy - 4) * 8 + gx AS INTEGER))
                  ELSE 0 END) AS BIGINT) AS phash_hi
  FROM bits GROUP BY 1
),
hh AS (
  SELECT phash_hi, phash_lo,
         (phash_hi - (CAST(1 AS BIGINT) << 31))
           * (CAST(1 AS BIGINT) << 32) + phash_lo AS node,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM e JOIN hashes USING (seed)
  GROUP BY 1, 2, 3
),
edges AS (
  SELECT a.node AS src, b.node AS dst
  FROM hh a JOIN hh b ON a.node <> b.node
  WHERE bit_count(xor(a.phash_lo, b.phash_lo))
        + bit_count(xor(a.phash_hi, b.phash_hi)) <= 1
),
reach(id, root) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT ed.dst, r.root FROM reach r JOIN edges ed ON ed.src = r.id
),
lab AS (SELECT id, min(root) AS component FROM reach GROUP BY id),
clustered AS (
  SELECT hh.phash_hi, hh.phash_lo, hh.n_docs,
         coalesce(lab.component, hh.node) AS cluster_id
  FROM hh LEFT JOIN lab ON lab.id = hh.node
),
sizes AS (
  SELECT cluster_id,
         CAST(count(*) AS BIGINT) AS cluster_hashes,
         CAST(sum(n_docs) AS BIGINT) AS cluster_docs
  FROM clustered GROUP BY 1
)
SELECT c.phash_hi, c.phash_lo, c.n_docs, c.cluster_id,
       s.cluster_hashes, s.cluster_docs
FROM clustered c JOIN sizes s USING (cluster_id)
"""

QUERIES_R8["image_dedup_clusters"] = q_image_dedup_clusters
ORACLES_R8["image_dedup_clusters"] = SQL_IMAGE_DEDUP_CLUSTERS


# -------------------------------------------------------------------
# trimmed_stats
# -------------------------------------------------------------------


def q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5%-trimmed and winsorized mean event value per type
    (operators/features.trimmed_group_stats) — the robust-location
    companion to robust_outliers, and a second consumer of the
    bucketed exact-rank machinery: cut points are the value at rank
    ceil(n/20) / ceil(19n/20) in (cents, event_id) order, never a
    global sort. Integer cents keep every sum exact."""
    from ..operators.features import trimmed_group_stats

    e = load_events(spark, sf_dir).select(
        "event_type", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    ).filter(F.col("cents").isNotNull())
    return trimmed_group_stats(
        e, "cents", "event_id", ["event_type"], trim=0.05,
        cache_input=True,
    )


SQL_TRIMMED_STATS = """
WITH e AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rnk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM e
),
cuts AS (
  SELECT event_type,
         min(CASE WHEN rnk = (n + 19) // 20 THEN cents END) AS lo,
         min(CASE WHEN rnk = (n * 19 + 19) // 20 THEN cents END) AS hi
  FROM r GROUP BY 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       min(lo) AS lo_cut,
       min(hi) AS hi_cut,
       round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS mean,
       CAST(sum(CASE WHEN cents BETWEEN lo AND hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN cents BETWEEN lo AND hi
                      THEN cents ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN cents BETWEEN lo AND hi
                   THEN 1 ELSE 0 END), 6) AS trimmed_mean,
       round(CAST(sum(greatest(lo, least(hi, cents))) AS DOUBLE)
             / count(*), 6) AS winsor_mean
FROM e JOIN cuts USING (event_type)
GROUP BY 1
"""

QUERIES_R8["trimmed_stats"] = q_trimmed_stats
ORACLES_R8["trimmed_stats"] = SQL_TRIMMED_STATS
