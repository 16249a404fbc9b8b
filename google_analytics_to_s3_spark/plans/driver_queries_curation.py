"""Corpus-curation + corpus-analytics driver queries: PII scan/redact,
heuristic quality filter, benchmark-contamination screen, bigram-LM
typicality, sequence packing, mixture sampling, vocabulary/OOV, the
composed curation pipeline, TF-IDF/BM25 scoring, deterministic
PageRank, median/MAD anomaly flags, and a linear-counting distinct
sketch.

Oracle-parity conventions as driver_queries.py: identical column
aliases, 64-bit integer sums (DuckDB SUM widens to HUGEINT — cast),
md5-derived digests, integer-grid accumulation for iterative/statistical
values, round(_, 6) on derived doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.curation import (
    PLANT_PII_SQL,
    bigram_lm_scores,
    contamination_pairs,
    mixture_sample,
    pack_sequences,
    pii_signals,
    plant_pii,
    quality_signals,
    upsample_mixture,
    vocab_stats,
)
from ..sources.testdata import load_events, load_parallel

_TOKS = r"string_split_regex(trim(lower(text)), '\s+')"

# eval-set membership for the contamination screen: a deterministic
# slice of the corpus standing in for a benchmark's prompts
_EVAL_MOD = 97


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counts + redacted text over the planted corpus.

    The synthetic documents contain no natural PII, so the query plants
    deterministic emails/phones/IPs first (operators/curation.plant_pii,
    mirrored literally in the oracle) — the regex scan and the ordered
    redaction chain are the operators under test.
    """
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    out = pii_signals(plant_pii(d))
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_phones").cast("long").alias("n_phones"),
        F.col("n_ips").cast("long").alias("n_ips"),
        "redacted",
    )


SQL_PII_SCAN = f"""
WITH planted AS (
  SELECT doc_id, {PLANT_PII_SQL} AS text FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_emails,
       len(regexp_extract_all(text,
           '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}')) AS n_phones,
       len(regexp_extract_all(text,
           '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}')) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
             '[EMAIL]', 'g'),
           '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}', '[PHONE]', 'g'),
         '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}', '[IP]', 'g') AS redacted
FROM planted
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_signals(d)


SQL_QUALITY_FILTER = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
h AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
s AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_cnt,
         CAST(sum(length(word) * c) AS BIGINT) AS char_sum,
         CAST(sum(CASE WHEN regexp_matches(word, '^[a-z]+$')
                       THEN c ELSE 0 END) AS BIGINT) AS alpha_cnt
  FROM h GROUP BY 1
)
SELECT doc_id, n_words, n_distinct,
       round(n_distinct::DOUBLE / n_words, 6) AS distinct_ratio,
       round(top_cnt::DOUBLE / n_words, 6) AS top_word_frac,
       round(char_sum::DOUBLE / n_words, 6) AS mean_word_len,
       round(alpha_cnt::DOUBLE / n_words, 6) AS alpha_frac,
       (n_words >= 30 AND top_cnt::DOUBLE / n_words <= 0.15
        AND n_distinct::DOUBLE / n_words >= 0.45) AS keep
FROM s
"""


def q_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus × eval-slice 4-gram overlap (decontamination report)."""
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % _EVAL_MOD == 0)
    pairs = contamination_pairs(d, ev, n=4)
    return pairs.select(
        "doc_id", "eval_doc_id", F.col("n_shared").cast("long").alias("n_shared")
    )


SQL_CONTAMINATION_SCREEN = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= 4 THEN
             list_transform(range(1, len(t) - 2),
                            i -> array_to_string(list_slice(t, i, i + 3), ' '))
           ELSE [array_to_string(t, ' ')] END)) AS s
  FROM toks
),
hs AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 14))::BIGINT AS h FROM sh
)
SELECT c.doc_id AS doc_id, e.doc_id AS eval_doc_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM hs c
JOIN (SELECT * FROM hs WHERE doc_id % {_EVAL_MOD} = 0) e USING (h)
WHERE c.doc_id <> e.doc_id
GROUP BY 1, 2
"""


def q_lm_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_scores(d)


SQL_LM_TYPICALITY = """
WITH bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(text)),
                               i -> substr(text, i, 2))) AS bg
  FROM documents
),
doc_bi AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
model AS (SELECT bg, count(*) AS bg_cnt FROM bi GROUP BY 1),
firsts AS (
  SELECT substr(bg, 1, 1) AS c1, CAST(sum(bg_cnt) AS BIGINT) AS c1_cnt
  FROM model GROUP BY 1
),
mq AS (
  SELECT bg,
         CAST(floor(bg_cnt::DOUBLE / c1_cnt::DOUBLE * 1073741824.0)
              AS BIGINT) AS q
  FROM model JOIN firsts ON substr(bg, 1, 1) = c1
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       round(CAST(sum(c * q) AS BIGINT)::DOUBLE
             / (CAST(sum(c) AS BIGINT)::DOUBLE * 1073741824.0), 6)
         AS typicality
FROM doc_bi JOIN mq USING (bg)
GROUP BY doc_id
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/curation.dsir_weights (Xie et al. NeurIPS'23):
    importance weights for every document against the English subset
    as the target distribution — hashed-unigram log-likelihood ratios
    on an integer grid, BIGINT-accumulated (order-independent)."""
    from ..operators.curation import dsir_weights

    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return dsir_weights(d, d.filter(F.col("lang") == "en"))


SQL_DSIR_WEIGHTS = """
WITH rawf AS (
  SELECT doc_id,
         ('0x' || substr(md5('g-' || word), 1, 14))::BIGINT % 4096 AS b
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents
  ) WHERE length(word) > 0
),
tgtf AS (
  SELECT doc_id,
         ('0x' || substr(md5('g-' || word), 1, 14))::BIGINT % 4096 AS b
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents WHERE lang = 'en'
  ) WHERE length(word) > 0
),
nr AS (SELECT b, count(*) AS cr FROM rawf GROUP BY 1),
nt AS (SELECT b, count(*) AS ct FROM tgtf GROUP BY 1),
model AS (
  SELECT nr.b,
         CAST(floor(1048576.0 * ln(
             CAST(coalesce(ct, 0) + 1 AS DOUBLE)
             / CAST(cr + 1 AS DOUBLE))) AS BIGINT) AS q
  FROM nr LEFT JOIN nt ON nr.b = nt.b
),
dc AS (SELECT doc_id, b, count(*) AS c FROM rawf GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_feats,
       round(CAST(sum(c * q) AS BIGINT)::DOUBLE
             / (CAST(sum(c) AS BIGINT)::DOUBLE * 1048576.0), 6)
         AS dsir_score
FROM dc JOIN model USING (b)
GROUP BY 1
"""


_PACK_BUDGET = 512

# temperature-rebalanced per-language keep rates (mixture assembly)
_MIX_RATES = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.25}


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing layout, one window per source shard."""
    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return pack_sequences(d, budget=_PACK_BUDGET)


SQL_PACK_SEQUENCES = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  -- windowed sum(BIGINT) widens to HUGEINT in DuckDB; cast back so the
  -- derived pack_id / offset hash as int64 like the Spark side
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - n_tokens
              AS BIGINT) AS start
  FROM d
)
SELECT doc_id, source, n_tokens,
       CAST(start // {_PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(start % {_PACK_BUDGET} AS BIGINT) AS offset_in_pack,
       (start // {_PACK_BUDGET})
         <> ((start + n_tokens - 1) // {_PACK_BUDGET}) AS spans_boundary
FROM c
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling + train/val split (kept rows)."""
    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return mixture_sample(d, _MIX_RATES)


def _mix_rate_sql() -> str:
    whens = "\n    ".join(
        f"WHEN lang = '{k}' THEN {int(v * 1_000_000)}"
        for k, v in sorted(_MIX_RATES.items())
    )
    return f"CASE {whens} ELSE 0 END"


SQL_MIXTURE_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, lang,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
           % 1000000 AS sample_hash,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 14))
           ::BIGINT % 100 AS h2
  FROM documents
)
SELECT doc_id, lang, n_tokens, sample_hash,
       CASE WHEN h2 < 5 THEN 'val' ELSE 'train' END AS split
FROM d
WHERE sample_hash < {_mix_rate_sql()}
"""


_VOCAB_MIN_COUNT = 5


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus-derived vocabulary."""
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    _, per_doc = vocab_stats(d, min_count=_VOCAB_MIN_COUNT)
    return per_doc


SQL_VOCAB_OOV = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
vocab AS (
  SELECT word FROM w GROUP BY word HAVING count(*) >= {_VOCAB_MIN_COUNT}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               ::DOUBLE / CAST(count(*) AS BIGINT)::DOUBLE, 6) AS oov_rate
FROM w LEFT JOIN vocab v USING (word)
GROUP BY doc_id
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end assembly: quality-keep → PII-redact → mixture sample →
    per-(lang, split) corpus summary.

    Chains the curation stages the way a real corpus build does, so the
    oracle proves the COMPOSITION (filter interplay, redacted token
    counts feeding the sampler), not just each stage alone.
    """
    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    kept = quality_signals(d).filter(F.col("keep")).select("doc_id")
    red = pii_signals(plant_pii(d)).select(
        "doc_id", F.col("redacted").alias("text")
    )
    assembled = (
        d.select("doc_id", "lang").join(kept, "doc_id").join(red, "doc_id")
    )
    m = mixture_sample(assembled, _MIX_RATES)
    return m.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


SQL_CURATION_PIPELINE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
h AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
q AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_cnt
  FROM h GROUP BY 1
),
kept AS (
  SELECT doc_id FROM q
  WHERE n_words >= 30 AND top_cnt::DOUBLE / n_words <= 0.15
        AND n_distinct::DOUBLE / n_words >= 0.45
),
red AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace({PLANT_PII_SQL},
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
               '[EMAIL]', 'g'),
             '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}', '[PHONE]', 'g'),
           '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}', '[IP]', 'g') AS text
  FROM documents
),
assembled AS (
  SELECT d.doc_id, d.lang, r.text
  FROM documents d JOIN kept USING (doc_id) JOIN red r USING (doc_id)
),
m AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
           AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
           % 1000000 AS sample_hash,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 14))
           ::BIGINT % 100 AS h2
  FROM assembled
)
SELECT lang,
       CASE WHEN h2 < 5 THEN 'val' ELSE 'train' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM m
WHERE sample_hash < {_mix_rate_sql()}
GROUP BY 1, 2
"""


_PR_SCALE = 1 << 40


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-iteration PageRank over the part co-purchase
    graph (parts sharing an order), top-20 by rank.

    An iterative DataFrame algorithm with a FULL value oracle: the
    integer-grid arithmetic (operators/graph.pagerank) lets a SQL
    engine replay every iteration bit-for-bit as chained CTEs — the
    strongest correctness check an iterative operator can get.
    """
    from ..operators.graph import cooccurrence_pairs, mirror_edges, pagerank
    from ..sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # r13 opt: one-exchange groupBy + array pair expansion replaces the
    # self-join on l_orderkey (identical distinct pair set, one less
    # full-table exchange — guide §2.4)
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey")
    # both directions from one evaluation of the pair build
    r = pagerank(mirror_edges(pairs), n_iters=3)
    return (
        r.select(
            F.col("node").alias("part_key"),
            "rank_q",
            F.round(
                F.col("rank_q").cast("double") / F.lit(float(_PR_SCALE)), 9
            ).alias("rank"),
        )
        .orderBy(F.col("rank_q").desc(), F.col("part_key").asc())
        .limit(20)
    )


def _pagerank_oracle_sql() -> str:
    s = float(_PR_SCALE)
    it = """
r{i} AS (
  SELECT nd.node,
         CAST(floor(0.15 * {s} / n_nodes) AS BIGINT)
           + CAST(floor(0.85 * (COALESCE(sm.s, 0) + dm.d_share)::DOUBLE)
                  AS BIGINT)
           AS rank_q
  FROM nodes nd CROSS JOIN n
  CROSS JOIN (
    SELECT CAST(COALESCE(sum(r.rank_q), 0)
                // (SELECT n_nodes FROM n) AS BIGINT) AS d_share
    FROM r{prev} r JOIN dang dg ON r.node = dg.node
  ) dm
  LEFT JOIN (
    SELECT e.dst AS node_out,
           CAST(sum(r.rank_q // d.deg) AS BIGINT) AS s
    FROM edges e
    JOIN deg d ON e.src = d.src
    JOIN r{prev} r ON e.src = r.node
    GROUP BY 1
  ) sm ON nd.node = sm.node_out
)"""
    iters = ",".join(
        it.format(i=i, prev=i - 1, s=s) for i in (1, 2, 3)
    )
    return f"""
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
dang AS (SELECT node FROM nodes EXCEPT SELECT DISTINCT src FROM edges),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
r0 AS (
  SELECT node, CAST({_PR_SCALE} // n_nodes AS BIGINT) AS rank_q
  FROM nodes CROSS JOIN n
),{iters}
SELECT node AS part_key, rank_q,
       round(rank_q::DOUBLE / {s}, 9) AS rank
FROM r3
ORDER BY rank_q DESC, node ASC
LIMIT 20
"""


SQL_PART_PAGERANK = _pagerank_oracle_sql()


# Linear probabilistic counting (Whang et al. 1990): m bit-buckets,
# occupancy v -> estimate -m*ln(1-v/m). With an md5-derived bucket hash
# the sketch is DETERMINISTIC, so unlike HLL (engine-specific sketch
# layouts, rows-only check) any SQL engine reproduces estimate values
# exactly — the driver gets a full value-checked approximate-distinct
# row next to approx_distinct's native-HLL one.
_LC_M = 4096


def q_linear_count_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate distinct users per event type, value-exact
    across engines.

    Plan: (event_type, bucket) distinct pairs — the md5 bucket is the
    shuffle key content, never raw ids beyond the first partial agg —
    then occupancy per type and the closed-form estimate. The bucket
    table IS the sketch: unioning days = unioning bucket sets, so the
    100 TB pattern (pre-aggregate per day, merge without re-scan)
    falls out of plain distinct-union semantics.
    """
    e = load_events(spark, sf_dir).select("event_type", "user_id")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 14),
               16, 10).cast("long") % _LC_M
    )
    occ = (
        e.select("event_type", bucket.alias("b"))
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("occupied"))
    )
    m = float(_LC_M)
    est = F.round(
        -F.lit(m) * F.log(
            (F.lit(m) - F.col("occupied").cast("double")) / F.lit(m)
        ), 6,
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        occ.join(exact, "event_type")
        .select("event_type", "occupied", est.alias("lc_estimate"),
                "exact_users")
    )


SQL_LINEAR_COUNT_USERS = f"""
WITH b AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))::BIGINT
           % {_LC_M} AS b
  FROM events
),
occ AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS occupied
  FROM b GROUP BY 1
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1
)
SELECT event_type, occupied,
       round(-{_LC_M}.0 * ln(({_LC_M}.0 - occupied::DOUBLE) / {_LC_M}.0), 6)
         AS lc_estimate,
       exact_users
FROM occ JOIN exact USING (event_type)
"""


# Deterministic HyperLogLog (Flajolet et al. 2007): md5-derived 56-bit
# hash, p=10 (m=1024 registers), register = leading-zero rank of the
# remaining 46 bits. Unlike the engine-native HLL sketches (layouts
# differ per engine -> rows-only check forever), every term here is an
# integer or a single-literal-order float, so DuckDB replays the
# estimate bit-for-bit: a FULL value oracle for an approximate-distinct
# sketch. The register table (event_type, bucket, mj) IS the sketch —
# merging days = max-merging registers, the 100 TB pre-aggregate
# pattern. Small-range (raw <= 2.5m, empty registers) falls back to
# linear counting, mirrored on both engines.
_HLL_P = 10
_HLL_M = 1 << _HLL_P  # 1024 registers
_HLL_WBITS = 56 - _HLL_P  # 46 value bits -> rho in [1, 47]
_HLL_RMAX = _HLL_WBITS + 1
# alpha_m * m^2 * 2^47 folded into ONE python double, embedded
# identically in both engines (single division at the end stays exact)
_HLL_NUM = 0.7213 / (1.0 + 1.079 / _HLL_M) * float(_HLL_M * _HLL_M) * float(
    1 << _HLL_RMAX
)


def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-HLL approximate distinct users per event type,
    value-exact across engines (the checkable twin of the native
    ``approx_count_distinct`` sketch, which is rows-only by nature).

    Plan shape: one partial-aggregated shuffle of (event_type, bucket,
    rho) register rows — raw user ids never travel past the map side —
    then a per-type fold to the closed-form estimate. Exact counts ride
    along for calibration.
    """
    e = load_events(spark, sf_dir).select("event_type", "user_id")
    regs = (
        e.select(
            "event_type",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 14),
                16, 10,
            ).cast("long").alias("h"),
        )
        .select(
            "event_type",
            (F.col("h") % _HLL_M).alias("bucket"),
            F.expr(f"h div {_HLL_M}").alias("w"),
        )
        .select(
            "event_type", "bucket",
            F.when(
                F.col("w") > 0,
                F.lit(_HLL_RMAX) - F.length(F.expr("bin(w)")),
            ).otherwise(F.lit(_HLL_RMAX)).cast("int").alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("mj"))
    )
    agg = regs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("occupied"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RMAX} - mj)")
        ).alias("s_occ"),
    )
    s = (
        F.col("s_occ")
        + (F.lit(_HLL_M) - F.col("occupied")) * F.lit(1 << _HLL_RMAX)
    ).cast("double")
    raw = F.lit(_HLL_NUM) / s
    v = F.lit(_HLL_M) - F.col("occupied")
    est = F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (v > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type", "occupied",
            F.round(est, 6).alias("hll_estimate"), "exact_users",
        )
    )


SQL_HLL_USERS = f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))::BIGINT AS h
  FROM events
),
d AS (
  SELECT event_type, h % {_HLL_M} AS bucket, h // {_HLL_M} AS w FROM h
),
r AS (
  SELECT event_type, bucket,
         max(CASE WHEN w > 0 THEN {_HLL_RMAX} - length(bin(w))
             ELSE {_HLL_RMAX} END) AS mj
  FROM d GROUP BY 1, 2
),
a AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS occupied,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_RMAX} - mj)) AS BIGINT)
           AS s_occ
  FROM r GROUP BY 1
),
e AS (
  SELECT event_type, occupied,
         (s_occ + ({_HLL_M} - occupied)
                  * CAST({1 << _HLL_RMAX} AS BIGINT))::DOUBLE AS s
  FROM a
),
est AS (
  SELECT event_type, occupied,
         CASE WHEN ({_HLL_NUM!r} / s) <= {2.5 * _HLL_M!r}
                   AND ({_HLL_M} - occupied) > 0
              THEN {float(_HLL_M)!r}
                   * ln({float(_HLL_M)!r}
                        / ({_HLL_M} - occupied)::DOUBLE)
              ELSE {_HLL_NUM!r} / s END AS raw
  FROM e
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1
)
SELECT event_type, occupied, round(raw, 6) AS hll_estimate, exact_users
FROM est JOIN exact USING (event_type)
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-journey paths: the event-type sequence of each
    (user, day), counted across the corpus — the flow-report staple.

    Order inside a path is made deterministic by sorting (ts, event_id)
    structs BEFORE concatenation (array_sort is a per-row op; nothing
    about the groupBy's arrival order leaks into the result — the
    property that makes path analytics safe under AQE/retries). Only
    (user, day, type, ts) rows shuffle; top-20 is TakeOrdered.
    """
    e = load_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.expr("ts_ms div 86400000").alias("day"), "ts_ms",
    )
    paths = (
        e.groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts_ms", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


SQL_SESSION_PATHS = """
WITH s AS (
  SELECT user_id, epoch_ms(ts) // 86400000 AS day,
         string_agg(event_type, '>' ORDER BY epoch_ms(ts), event_id)
           AS path
  FROM events GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM s GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 20
"""


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchased parts (support ≥ 2 orders):
    support / confidence / lift — the market-basket report.

    Candidate pairs come from the order-grain self-join (equi-join on
    the order key — pair work ∝ per-order basket size squared, never
    corpus²); per-part order counts and the order total are broadcast.
    Counts are DISTINCT-order based so multi-line orders don't inflate
    support; the ratio arithmetic is written in one fixed order on
    both engines.
    """
    from ..sources.testdata import load_table

    # r13 opt: the distinct basket table feeds the pair expansion, the
    # per-part counts AND the order total — checkpoint so the scan +
    # distinct run once instead of four times; and the order-key
    # self-join becomes the per-order in-row pair expansion (identical
    # (part_a < part_b) pair multiset per order, guide §2.4)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct().localCheckpoint(eager=False)
    pair_expr = (
        "flatten(transform(_items, x -> "
        "transform(filter(_items, y -> y > x), "
        "y -> struct(x AS part_a, y AS part_b))))"
    )
    co = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("_items"))
        .select(F.explode(F.expr(pair_expr)).alias("_p"))
        .select("_p.part_a", "_p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("co_cnt"))
        .filter(F.col("co_cnt") >= 2)
    )
    per_part = li.groupBy("l_partkey").agg(
        F.count("*").alias("cnt")
    )
    n = li.select(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    ca = per_part.select(
        F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")
    )
    cb = per_part.select(
        F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")
    )
    d = F.col("co_cnt").cast("double")
    return (
        co.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "co_cnt",
            F.round(d / F.col("n_orders").cast("double"), 6)
             .alias("support"),
            F.round(d / F.col("cnt_a").cast("double"), 6)
             .alias("confidence"),
            F.round(
                (d * F.col("n_orders").cast("double"))
                / (F.col("cnt_a").cast("double")
                   * F.col("cnt_b").cast("double")), 6,
            ).alias("lift"),
        )
    )


SQL_BASKET_RULES = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
co AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS co_cnt
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
pp AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt FROM li GROUP BY 1
),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li)
SELECT co.part_a, co.part_b, co.co_cnt,
       round(co_cnt::DOUBLE / n_orders::DOUBLE, 6) AS support,
       round(co_cnt::DOUBLE / ca.cnt::DOUBLE, 6) AS confidence,
       round((co_cnt::DOUBLE * n_orders::DOUBLE)
             / (ca.cnt::DOUBLE * cb.cnt::DOUBLE), 6) AS lift
FROM co
JOIN pp ca ON co.part_a = ca.l_partkey
JOIN pp cb ON co.part_b = cb.l_partkey
CROSS JOIN n
"""


def q_scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 version history of each customer's order priority: change
    detection + validity intervals + current flag, rebuilt
    deterministically from the order stream (operators/scd.py)."""
    from ..operators.scd import scd2_versions
    from ..sources.testdata import load_table

    obs = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    return scd2_versions(
        obs, "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )


SQL_SCD2_CUSTOMER_PRIORITY = """
WITH ch AS (
  -- null-safe change detection (mirrors operators/scd.py: first-row
  -- marker + IS DISTINCT FROM, so NULL attributes version correctly)
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey FROM (
    SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
           lag(o_orderpriority) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS prev,
           row_number() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS rn
    FROM orders
  ) WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority
)
SELECT o_custkey, o_orderpriority,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       CAST(row_number() OVER w AS INTEGER) AS version_n,
       (lead(o_orderdate) OVER w IS NULL) AS is_current
FROM ch
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card rollup: corpus composition at (lang, source),
    (lang) and total grain in ONE pass — docs, token mass, quality
    keep-rate — the summary table a corpus release ships with.

    GROUPING SETS share a single scan+aggregation of the per-doc
    signals; keep flags come from quality_signals (same single
    exchange); token counts are integers so every grain is exact.
    """
    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    from ..operators.curation import quality_signals
    from ..operators.text import token_count

    per_doc = d.select(
        "doc_id", "lang", "source",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).join(
        quality_signals(d).select("doc_id", "keep"), "doc_id"
    )
    per_doc.createOrReplaceTempView("dataset_card_docs")
    return spark.sql(
        """
        SELECT lang, source,
               CAST(grouping_id(lang, source) AS BIGINT) AS gid,
               count(*) AS n_docs,
               sum(n_tokens) AS total_tokens,
               sum(CASE WHEN keep THEN 1 ELSE 0 END) AS kept_docs,
               round(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS keep_rate
        FROM dataset_card_docs
        GROUP BY GROUPING SETS ((lang, source), (lang), ())
        """
    )


SQL_DATASET_CARD = f"""
WITH toks AS (SELECT doc_id, lang, source, {_TOKS} AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
h AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
q AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_cnt
  FROM h GROUP BY 1
),
per_doc AS (
  SELECT t.doc_id, t.lang, t.source,
         CAST(len(t.t) AS BIGINT) AS n_tokens,
         (q.n_words >= 30 AND q.top_cnt::DOUBLE / q.n_words <= 0.15
          AND q.n_distinct::DOUBLE / q.n_words >= 0.45) AS keep
  FROM toks t JOIN q USING (doc_id)
)
SELECT lang, source,
       CAST(GROUPING(lang, source) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 6) AS keep_rate
FROM per_doc
GROUP BY GROUPING SETS ((lang, source), (lang), ())
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document n-gram repetition signals
    (operators/curation.repetition_signals): top-2/3-gram fraction +
    duplicate-2/3-gram fraction per document."""
    from ..operators.curation import repetition_signals

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_signals(d)


def _rep_leg_sql(n: int) -> str:
    if n == 2:
        grams = (
            "CASE WHEN len(t) >= 2 THEN "
            "list_transform(range(1, len(t)), "
            "i -> array_to_string(list_slice(t, i, i + 1), ' ')) "
            "ELSE [array_to_string(t, ' ')] END"
        )
    else:
        grams = (
            "CASE WHEN len(t) >= 3 THEN "
            "list_transform(range(1, len(t) - 1), "
            "i -> array_to_string(list_slice(t, i, i + 2), ' ')) "
            "ELSE [array_to_string(t, ' ')] END"
        )
    return f"""
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n{n}_grams,
         round(CAST(max(c) AS BIGINT)::DOUBLE
               / CAST(sum(c) AS BIGINT)::DOUBLE, 6) AS top{n}_frac,
         round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)::DOUBLE
               / CAST(sum(c) AS BIGINT)::DOUBLE, 6) AS dup{n}_frac
  FROM (
    SELECT doc_id, gram, count(*) AS c FROM (
      SELECT doc_id, unnest({grams}) AS gram
      FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
    ) GROUP BY 1, 2
  ) GROUP BY doc_id
"""


SQL_REPETITION_SIGNALS = f"""
WITH a2 AS ({_rep_leg_sql(2)}),
a3 AS ({_rep_leg_sql(3)})
SELECT doc_id, n2_grams, top2_frac, dup2_frac, n3_grams, top3_frac, dup3_frac
FROM a2 JOIN a3 USING (doc_id)
"""


# RefinedWeb/C4-style per-domain cap: at most K docs kept per source
_SOURCE_CAP = 15


def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps — the corpus-assembly step that stops
    mega-domains from dominating a crawl mix. Keeps at most
    ``_SOURCE_CAP`` docs per source by deterministic priority (longest
    text, then doc_id).

    One hash exchange on ``source``; the window is the standard
    top-k-per-key shape (per-partition sort, no global sort). A skewed
    mega-source still sorts only its own partition — combine with
    salting only if a single source outgrows an executor, which the cap
    itself prevents downstream.
    """
    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("src_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("src_rank") <= _SOURCE_CAP)
        .select("doc_id", "source", "n_chars", "src_rank")
    )


SQL_SOURCE_CAPS = f"""
SELECT doc_id, source, n_chars,
       CAST(row_number() OVER (
         PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
       ) AS INTEGER) AS src_rank
FROM documents
QUALIFY src_rank <= {_SOURCE_CAP}
"""


# a shingle this common across documents is boilerplate, not content
_BOILER_DF = 5


def q_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction: the share of a doc's distinct
    3-gram shingles that are high-document-frequency across the corpus
    — the C4-style boilerplate-removal signal (navigation chrome,
    license headers, templates score high).

    Plan: distinct (doc, shingle-digest) rows → corpus doc-frequency
    per digest (one agg) → broadcast the boilerplate digest set back
    over the per-doc rows. Text never shuffles; the boilerplate set is
    vocabulary-sized.
    """
    from ..operators.dedup import shingles
    from ..operators.text import tokens

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles(tokens(F.col("text")), 3))
        ).alias("s"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("s"), 1, 14), 16, 10)
         .cast("long").alias("h"),
    )
    boiler = (
        sh.groupBy("h").agg(F.count("*").alias("df"))
        .filter(F.col("df") >= _BOILER_DF)
        .select("h")
        .withColumn("is_boiler", F.lit(1))
    )
    return (
        sh.join(F.broadcast(boiler), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
             .alias("n_boiler"),
        )
        .select(
            "doc_id", "n_shingles", "n_boiler",
            F.round(
                F.col("n_boiler").cast("double")
                / F.col("n_shingles").cast("double"), 6,
            ).alias("boiler_frac"),
        )
    )


SQL_BOILERPLATE_FRACTION = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(list_distinct(
           CASE WHEN len(t) >= 3 THEN
             list_transform(range(1, len(t) - 1),
                            i -> array_to_string(list_slice(t, i, i + 2), ' '))
           ELSE [array_to_string(t, ' ')] END))), 1, 14))::BIGINT AS h
  FROM toks
),
boiler AS (
  SELECT h FROM sh GROUP BY h HAVING count(*) >= {_BOILER_DF}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       round(CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               ::DOUBLE / CAST(count(*) AS BIGINT)::DOUBLE, 6)
         AS boiler_frac
FROM sh LEFT JOIN boiler b USING (h)
GROUP BY doc_id
"""


_HIST_BINS = 10


def q_value_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histograms per event type — the profiling
    companion to table_profile. Bin edges derive from broadcast
    per-type min/max; the bin index is one fixed-order float expression
    (exact-rounded identically in any engine), top bin closed."""
    e = load_events(spark, sf_dir).select("event_type", "value")
    stats = e.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    # degenerate-span guard: a type with a single distinct value would
    # hit 0/0 (NaN -> engine-divergent floor); pin those rows to bin 0
    binned = e.join(F.broadcast(stats), "event_type").select(
        "event_type",
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.floor(
                    (F.col("value") - F.col("mn")) * F.lit(float(_HIST_BINS))
                    / (F.col("mx") - F.col("mn"))
                ),
                F.lit(_HIST_BINS - 1),
            ),
        ).otherwise(F.lit(0)).cast("long").alias("bin"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count("*").alias("n")
    )


SQL_VALUE_HISTOGRAMS = f"""
WITH stats AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM events GROUP BY 1
),
binned AS (
  -- same degenerate-span guard as the Spark side: mx == mn -> bin 0
  SELECT e.event_type,
         CASE WHEN s.mx > s.mn THEN
           least(CAST(floor((e.value - s.mn) * {_HIST_BINS}.0 / (s.mx - s.mn))
                      AS BIGINT), {_HIST_BINS - 1})
         ELSE 0 END AS bin
  FROM events e JOIN stats s USING (event_type)
)
SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
FROM binned GROUP BY 1, 2
"""


_SHOT_THRESHOLD = 16384


def q_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot segmentation over stub frames: Arrow mapInPandas
    frame fan-out (operators/multimodal.sample_frames) feeding a native
    windowed boundary detector — the full oracle replays the byte
    slicing and sha256 digests in SQL."""
    from ..operators.multimodal import (
        detect_shot_boundaries,
        sample_frames,
        with_binary_payload,
    )

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    frames = sample_frames(with_binary_payload(d))
    return detect_shot_boundaries(frames, threshold=_SHOT_THRESHOLD)


SQL_SHOT_BOUNDARIES = f"""
WITH f AS (
  -- the documents are ASCII (asserted: octet_length == length), so
  -- slicing the VARCHAR equals the engine's byte slicing of the
  -- utf-8 payload, and sha256(VARCHAR) hashes those same bytes
  SELECT doc_id,
         CAST(unnest(range(0, least(4, greatest(1,
              CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT)))))
           AS INTEGER) AS frame_idx,
         text
  FROM documents
),
e AS (
  SELECT doc_id, frame_idx,
         ('0x' || substr(sha256(substring(text, frame_idx * 16 + 1, 16)),
                         1, 4))::BIGINT AS energy
  FROM f
),
b AS (
  SELECT doc_id, frame_idx, energy,
         lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)
           AS prev_e
  FROM e
),
fl AS (
  SELECT doc_id, frame_idx, energy,
         (prev_e IS NULL OR abs(energy - prev_e) > {_SHOT_THRESHOLD})
           AS is_boundary
  FROM b
)
SELECT doc_id, frame_idx, energy, is_boundary,
       CAST(sum(CASE WHEN is_boundary THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id) AS BIGINT) AS n_shots
FROM fl
"""


def q_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flags over daily event volumes (median/MAD).

    The monitoring query every ingest pipeline runs: per (event_type,
    day) counts, per-type median and median-absolute-deviation (exact
    sort-based percentiles — the quantile_cont parity proven by
    order_percentiles), and a deviation flag. Thin wiring over
    operators/anomaly.py:mad_anomaly_flags (see its docstring for the
    broadcast-stats shape); the only real shuffle is the daily count
    aggregation. Integer counts make the interpolated medians exact
    halves — engine-identical.
    """
    from ..operators.anomaly import mad_anomaly_flags

    e = load_events(spark, sf_dir).select(
        "event_type", F.expr("ts_ms div 86400000").alias("day_num")
    )
    daily = e.groupBy("event_type", "day_num").agg(
        F.count("*").alias("n")
    )
    return mad_anomaly_flags(
        daily, ["event_type"], "n", threshold=2.0
    ).select("event_type", "day_num", "n", "med", "mad", "is_anomaly")


SQL_EVENT_ANOMALIES = """
WITH daily AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day_num,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(n, 0.5) AS med FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day_num, d.n, m.med,
         abs(d.n::DOUBLE - m.med) AS adev
  FROM daily d JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type, d.day_num, d.n, d.med, a.mad,
       (d.adev > 2.0 * a.mad) AS is_anomaly
FROM dev d JOIN mad a USING (event_type)
"""


_BM25_TERMS = ["data", "query", "spark"]  # kept sorted


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tfidf_top_terms

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(d, k=3)


SQL_TFIDF_TOP_TERMS = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
       FROM w GROUP BY 1, 2),
dfreq AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.word AS word, tf,
         round(tf::DOUBLE
               * (ln((n_docs::DOUBLE + 1.0) / (df::DOUBLE + 1.0)) + 1.0),
               6) AS tfidf
  FROM tf JOIN dfreq ON tf.word = dfreq.word CROSS JOIN n
)
SELECT doc_id, word, tf, tfidf, rank FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS INTEGER)
         AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bm25_search

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_search(d, _BM25_TERMS, k=20)


def _bm25_oracle_sql() -> str:
    ts = sorted(_BM25_TERMS)
    tf_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN word = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf_{i}"
        for i, t in enumerate(ts)
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{i}"
        for i in range(len(ts))
    )
    # same literal fold order as the Spark expression: 0.0 + term0 + ...
    terms_sql = " ".join(
        f"+ ln((n_docs::DOUBLE - df_{i}::DOUBLE + 0.5)"
        f" / (df_{i}::DOUBLE + 0.5) + 1.0)"
        f" * (tf_{i}::DOUBLE * 2.2)"
        f" / (tf_{i}::DOUBLE + 1.2 * (1.0 - 0.75"
        f" + 0.75 * dl::DOUBLE / (dl_sum::DOUBLE / n_docs::DOUBLE)))"
        for i in range(len(ts))
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
pd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
         {tf_cols}
  FROM w GROUP BY doc_id
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS dl_sum,
         {df_cols}
  FROM pd
)
SELECT doc_id, dl, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER)
         AS rank
FROM (
  SELECT doc_id, dl, round(0.0 {terms_sql}, 6) AS score
  FROM pd CROSS JOIN st
)
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""


SQL_BM25_SEARCH = _bm25_oracle_sql()


_LR_MARK = "spamspam"
_LR_NMARK = 16
_LR_ROUNDS = 3


def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier
    (operators/curation.logreg_train_scores): full-batch GD logistic
    regression with the hard-sigmoid surrogate, every value on an
    integer grid so the chained-CTE oracle replays all three training
    rounds to the bit. The corpus has no natural spam, so half the
    docs (doc_id % 2 = 0) get a planted boilerplate marker (the
    plant_pii precedent); features are bias, distinct-token ratio and
    marker frequency — the classifier must learn to flag the planted
    half."""
    from ..operators.curation import logreg_train_scores
    from ..operators.text import tokens

    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.col("text"),
                F.lit(f" {_LR_MARK}" * _LR_NMARK),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    t = tokens("text")
    X = 1_000_000
    feats = planted.select(
        "doc_id",
        F.lit(X).cast("long").alias("x0"),
        F.call_function(
            "div", F.lit(X) * F.size(F.array_distinct(t)), F.size(t)
        ).alias("x1"),
        F.call_function(
            "div",
            F.lit(X)
            * F.size(F.filter(t, lambda x: x == F.lit(_LR_MARK))),
            F.size(t),
        ).alias("x2"),
        (F.col("doc_id") % 2 == 0).cast("long").alias("y"),
    )
    _, scored = logreg_train_scores(
        feats, ["x0", "x1", "x2"], "y", rounds=_LR_ROUNDS
    )
    return scored


def _lr_round_sql(prev_w: str, rnd: str, nxt_w: str) -> str:
    """One GD round: gradient aggregate against weights ``prev_w``,
    then the truncating-div update into ``nxt_w`` — mirrors
    logreg_train_scores round-for-round."""
    return f"""{rnd} AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(err * x0) AS BIGINT) AS g0,
         CAST(sum(err * x1) AS BIGINT) AS g1,
         CAST(sum(err * x2) AS BIGINT) AS g2
  FROM (
    SELECT f.*,
           greatest(0, least(1000000,
             CAST(floor((w.c0 * x0 + w.c1 * x1 + w.c2 * x2) / 4194304.0)
                  AS BIGINT) + 500000)) - y * 1000000 AS err
    FROM feats f, {prev_w} w
  )
),
{nxt_w} AS (
  SELECT w.c0 - ((g0 // 1000000) * 1048576) // (1000000 * n * 4) AS c0,
         w.c1 - ((g1 // 1000000) * 1048576) // (1000000 * n * 4) AS c1,
         w.c2 - ((g2 // 1000000) * 1048576) // (1000000 * n * 4) AS c2
  FROM {prev_w} w, {rnd}
)"""


SQL_LOGREG_QUALITY = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN text || repeat(' {_LR_MARK}', {_LR_NMARK})
              ELSE text END AS text
  FROM documents
),
toks AS (SELECT doc_id, {_TOKS} AS t FROM planted),
feats AS (
  SELECT doc_id,
         CAST(1000000 AS BIGINT) AS x0,
         (1000000 * len(list_distinct(t))) // len(t) AS x1,
         (1000000 * len(list_filter(t, x -> x = '{_LR_MARK}'))) // len(t)
           AS x2,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS y
  FROM toks
),
w0 AS (SELECT CAST(0 AS BIGINT) AS c0, CAST(0 AS BIGINT) AS c1,
              CAST(0 AS BIGINT) AS c2),
{_lr_round_sql('w0', 'r1', 'w1')},
{_lr_round_sql('w1', 'r2', 'w2')},
{_lr_round_sql('w2', 'r3', 'w3')}
SELECT f.doc_id,
       CAST(w.c0 * x0 + w.c1 * x1 + w.c2 * x2 AS BIGINT) AS z,
       (w.c0 * x0 + w.c1 * x1 + w.c2 * x2) > 0 AS pred,
       CAST(y AS BIGINT) AS label
FROM feats f, w3 w
"""


# upsampling rates: en slight, de 2.5x, fr downsampled half, es 3x,
# zh dropped (no rates row / otherwise-0 — equivalent on both engines)
_UP_RATES = {"en": 1.25, "de": 2.5, "fr": 0.5, "es": 3.0}


def q_upsample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture UPSAMPLING (operators/curation.upsample_mixture): the
    rates>1 half of temperature rebalancing — floor(rate) copies per
    doc + one hash-chosen extra for the fractional part, numbered
    copy_n; rate<1 degrades to deterministic downsampling, absent
    strata drop."""
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "lang")
    out = upsample_mixture(d, _UP_RATES)
    return out.select(
        "doc_id", "lang", F.col("copy_n").cast("long").alias("copy_n")
    )


_UP_RATES_SQL = ", ".join(
    f"('{k}', {int(v)}, {int(round((v - int(v)) * 1_000_000))})"
    for k, v in sorted(_UP_RATES.items())
)

SQL_UPSAMPLE_MIXTURE = f"""
WITH rates(lang, base, frac) AS (VALUES {_UP_RATES_SQL}),
d AS (
  SELECT doc_id, lang,
         base + CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '#up'),
                                          1, 14))::BIGINT % 1000000 < frac
                     THEN 1 ELSE 0 END AS n
  FROM documents JOIN rates USING (lang)
)
SELECT doc_id, lang, CAST(u.c AS BIGINT) AS copy_n
FROM d, unnest(range(1, n + 1)) AS u(c)
WHERE n > 0
"""


QUERIES_CURATION = {
    "upsample_mixture": q_upsample_mixture,
    "logreg_quality": q_logreg_quality,
    "pii_scan": q_pii_scan,
    "quality_filter": q_quality_filter,
    "contamination_screen": q_contamination_screen,
    "lm_typicality": q_lm_typicality,
    "dsir_weights": q_dsir_weights,
    "pack_sequences": q_pack_sequences,
    "mixture_sample": q_mixture_sample,
    "vocab_oov": q_vocab_oov,
    "curation_pipeline": q_curation_pipeline,
    "tfidf_top_terms": q_tfidf_top_terms,
    "bm25_search": q_bm25_search,
    "part_pagerank": q_part_pagerank,
    "event_anomalies": q_event_anomalies,
    "linear_count_users": q_linear_count_users,
    "hll_users": q_hll_users,
    "repetition_signals": q_repetition_signals,
    "source_caps": q_source_caps,
    "shot_boundaries": q_shot_boundaries,
    "session_paths": q_session_paths,
    "basket_rules": q_basket_rules,
    "scd2_customer_priority": q_scd2_customer_priority,
    "boilerplate_fraction": q_boilerplate_fraction,
    "value_histograms": q_value_histograms,
    "dataset_card": q_dataset_card,
}

ORACLES_CURATION = {
    "upsample_mixture": SQL_UPSAMPLE_MIXTURE,
    "logreg_quality": SQL_LOGREG_QUALITY,
    "pii_scan": SQL_PII_SCAN,
    "quality_filter": SQL_QUALITY_FILTER,
    "contamination_screen": SQL_CONTAMINATION_SCREEN,
    "lm_typicality": SQL_LM_TYPICALITY,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "mixture_sample": SQL_MIXTURE_SAMPLE,
    "vocab_oov": SQL_VOCAB_OOV,
    "curation_pipeline": SQL_CURATION_PIPELINE,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "bm25_search": SQL_BM25_SEARCH,
    "part_pagerank": SQL_PART_PAGERANK,
    "event_anomalies": SQL_EVENT_ANOMALIES,
    "linear_count_users": SQL_LINEAR_COUNT_USERS,
    "hll_users": SQL_HLL_USERS,
    "repetition_signals": SQL_REPETITION_SIGNALS,
    "source_caps": SQL_SOURCE_CAPS,
    "shot_boundaries": SQL_SHOT_BOUNDARIES,
    "session_paths": SQL_SESSION_PATHS,
    "basket_rules": SQL_BASKET_RULES,
    "scd2_customer_priority": SQL_SCD2_CUSTOMER_PRIORITY,
    "boilerplate_fraction": SQL_BOILERPLATE_FRACTION,
    "value_histograms": SQL_VALUE_HISTOGRAMS,
    "dataset_card": SQL_DATASET_CARD,
}


_TR_MIN_PAIR = 40  # co-occurrence support floor for the keyword graph


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04):
    PageRank over the word co-occurrence graph (window 2, support
    >= 40) — a pure composition of two existing operators
    (operators/text.cooccurrence_pairs -> operators/graph.pagerank on
    the integer grid), so the iterative keyword scores carry the same
    full bit-exact oracle as part_pagerank. Top-20 keywords."""
    from ..operators.graph import pagerank
    from ..operators.text import cooccurrence_pairs

    d = load_parallel(spark, sf_dir, "documents").select("text")
    pairs = (
        cooccurrence_pairs(d, "text", window=2)
        .filter(
            (F.col("n_pair") >= _TR_MIN_PAIR)
            & (F.col("w1") != F.col("w2"))
        )
        .select("w1", "w2", "n_pair")
    )
    edges = pairs.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst"), "n_pair"
    ).union(
        pairs.select(F.col("w2").alias("src"), F.col("w1").alias("dst"),
                     "n_pair")
    )
    r = pagerank(edges, n_iters=3, weight="n_pair")
    return (
        r.select(
            F.col("node").alias("keyword"),
            "rank_q",
            F.round(
                F.col("rank_q").cast("double") / F.lit(float(_PR_SCALE)),
                9,
            ).alias("rank"),
        )
        .orderBy(F.col("rank_q").desc(), F.col("keyword").asc())
        .limit(20)
    )


def _textrank_oracle_sql() -> str:
    s = float(_PR_SCALE)
    it = """
r{i} AS (
  SELECT nd.node,
         CAST(floor(0.15 * {s} / n_nodes) AS BIGINT)
           + CAST(floor(0.85 * (COALESCE(sm.s, 0) + dm.d_share)::DOUBLE)
                  AS BIGINT)
           AS rank_q
  FROM nodes nd CROSS JOIN n
  CROSS JOIN (
    SELECT CAST(COALESCE(sum(r.rank_q), 0)
                // (SELECT n_nodes FROM n) AS BIGINT) AS d_share
    FROM r{prev} r JOIN dang dg ON r.node = dg.node
  ) dm
  LEFT JOIN (
    SELECT e.dst AS node_out,
           CAST(sum((r.rank_q * e.w) // d.deg) AS BIGINT) AS s
    FROM edges e
    JOIN deg d ON e.src = d.src
    JOIN r{prev} r ON e.src = r.node
    GROUP BY 1
  ) sm ON nd.node = sm.node_out
)"""
    iters = ",".join(it.format(i=i, prev=i - 1, s=s) for i in (1, 2, 3))
    return f"""
WITH tok AS (
  SELECT string_split(text, ' ') AS l FROM documents
),
raw AS (
  SELECT least(l[i], l[i + 1]) AS w1, greatest(l[i], l[i + 1]) AS w2
  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(l), 1))) AS i) q
  UNION ALL
  SELECT least(l[i], l[i + 2]), greatest(l[i], l[i + 2])
  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(l) - 1, 1)))
                     AS i) q
),
e0 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS w FROM raw GROUP BY 1, 2
  HAVING count(*) >= {_TR_MIN_PAIR} AND w1 <> w2
),
edges AS (SELECT w1 AS src, w2 AS dst, w FROM e0
          UNION ALL SELECT w2, w1, w FROM e0),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
dang AS (SELECT node FROM nodes EXCEPT SELECT DISTINCT src FROM edges),
deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg
        FROM edges GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
r0 AS (
  SELECT node, CAST({_PR_SCALE} // n_nodes AS BIGINT) AS rank_q
  FROM nodes CROSS JOIN n
),{iters}
SELECT node AS keyword, rank_q,
       round(rank_q::DOUBLE / {s}, 9) AS rank
FROM r3
ORDER BY rank_q DESC, node ASC
LIMIT 20
"""


SQL_TEXTRANK_KEYWORDS = _textrank_oracle_sql()
QUERIES_CURATION["textrank_keywords"] = q_textrank_keywords
ORACLES_CURATION["textrank_keywords"] = SQL_TEXTRANK_KEYWORDS


def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity scoring of the label_propagation brand partition
    over the part co-purchase graph — composition #2 on the shared
    graph (operators/graph.community_modularity): top-20 communities
    by contribution plus the exact partition-wide Q on every row."""
    from ..operators.graph import (
        community_modularity,
        cooccurrence_pairs,
        label_propagation,
    )
    from ..operators.pins import serialized_checkpoint
    from ..sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # r13 opt: one-exchange groupBy + array pair expansion replaces the
    # self-join on l_orderkey (identical distinct pair set, one less
    # full-table exchange — guide §2.4)
    edges = cooccurrence_pairs(li, "l_orderkey", "l_partkey")
    nodes = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.when(F.col("p_partkey") % 5 == 0, F.col("p_brand"))
        .alias("label"),
    )
    # the co-purchase pair build feeds LPA's mirror and the scorer's
    # edge aggregate (one scan each): pin it once, lazily, serialized,
    # in src order within partitions (the key both consumers start
    # from), so runs of equal keys compress (the layout rule in
    # ``operators/pins.py``). LPA's labels come back materialized, so
    # both endpoint joins read that checkpoint
    edges = serialized_checkpoint(edges.sortWithinPartitions("src"))
    labels = label_propagation(nodes, edges, rounds=2, assume_distinct=True)
    # cooccurrence_pairs emits distinct (low, high) pairs, so both the
    # propagation dedup and the modularity canonicalize+dedup exchanges
    # are provably redundant here (r13 opt)
    out = community_modularity(edges, labels, assume_canonical=True)
    return out.orderBy(
        F.col("contribution").desc(), F.col("label").asc()
    ).limit(20)


def _modularity_oracle_sql() -> str:
    # reuse the label-propagation round replay, then score the partition
    return """
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
),
und AS (
  SELECT s AS a, d AS b FROM e0
  UNION ALL
  SELECT d AS a, s AS b FROM e0
),
seeds AS (
  SELECT p_partkey AS n,
         CASE WHEN p_partkey % 5 = 0 THEN p_brand END AS seed
  FROM part
),
l0 AS (SELECT n, seed AS lbl FROM seeds),
v1 AS (
  SELECT und.b AS n, l0.lbl, count(*) AS votes
  FROM und JOIN l0 ON l0.n = und.a
  WHERE l0.lbl IS NOT NULL GROUP BY 1, 2
),
p1 AS (
  SELECT n, lbl AS pick FROM (
    SELECT n, lbl, row_number() OVER (
      PARTITION BY n ORDER BY votes DESC, lbl ASC) AS rk
    FROM v1) WHERE rk = 1
),
l1 AS (
  SELECT seeds.n,
         CASE WHEN seeds.seed IS NOT NULL THEN seeds.seed
              ELSE coalesce(p1.pick, l0.lbl) END AS lbl
  FROM seeds
  LEFT JOIN l0 ON l0.n = seeds.n
  LEFT JOIN p1 ON p1.n = seeds.n
),
v2 AS (
  SELECT und.b AS n, l1.lbl, count(*) AS votes
  FROM und JOIN l1 ON l1.n = und.a
  WHERE l1.lbl IS NOT NULL GROUP BY 1, 2
),
p2 AS (
  SELECT n, lbl AS pick FROM (
    SELECT n, lbl, row_number() OVER (
      PARTITION BY n ORDER BY votes DESC, lbl ASC) AS rk
    FROM v2) WHERE rk = 1
),
l2 AS (
  SELECT seeds.n,
         CASE WHEN seeds.seed IS NOT NULL THEN seeds.seed
              ELSE coalesce(p2.pick, l1.lbl) END AS lbl
  FROM seeds
  LEFT JOIN l1 ON l1.n = seeds.n
  LEFT JOIN p2 ON p2.n = seeds.n
),
lab AS (SELECT n, lbl FROM l2 WHERE lbl IS NOT NULL),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
ej AS (
  SELECT la.lbl AS la, lb.lbl AS lb
  FROM e0 JOIN lab la ON la.n = e0.s JOIN lab lb ON lb.n = e0.d
),
e_in AS (
  SELECT la AS lbl, CAST(count(*) AS BIGINT) AS e_in
  FROM ej WHERE la = lb GROUP BY 1
),
deg AS (
  SELECT lbl, CAST(count(*) AS BIGINT) AS deg_sum FROM (
    SELECT la AS lbl FROM ej UNION ALL SELECT lb FROM ej
  ) GROUP BY 1
),
nn AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_nodes
       FROM lab GROUP BY 1),
per AS (
  SELECT nn.lbl AS label, nn.n_nodes,
         coalesce(e_in.e_in, 0) AS e_in,
         coalesce(deg.deg_sum, 0) AS deg_sum,
         m.m,
         4 * CAST(m.m AS HUGEINT) * coalesce(e_in.e_in, 0)
           - CAST(coalesce(deg.deg_sum, 0) AS HUGEINT)
             * coalesce(deg.deg_sum, 0) AS term
  FROM nn LEFT JOIN deg ON deg.lbl = nn.lbl
  LEFT JOIN e_in ON e_in.lbl = nn.lbl
  CROSS JOIN m
),
tot AS (SELECT CAST(sum(term) AS HUGEINT) AS tot FROM per)
SELECT label, n_nodes, e_in, deg_sum,
       round(CASE WHEN m > 0 THEN CAST(term AS DOUBLE)
                  / CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE) END, 6)
         AS contribution,
       round(CASE WHEN m > 0 THEN CAST(tot AS DOUBLE)
                  / CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE) END, 6)
         AS modularity
FROM per CROSS JOIN tot
ORDER BY contribution DESC, label ASC
LIMIT 20
"""


SQL_COMMUNITY_MODULARITY = _modularity_oracle_sql()
QUERIES_CURATION["community_modularity"] = q_community_modularity
ORACLES_CURATION["community_modularity"] = SQL_COMMUNITY_MODULARITY


_AP3_MINSUP = 2  # distinct-order support floor for triples


def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level 3: frequent part TRIPLES by distinct-order
    support — the depth step beyond basket_rules' pairs. Candidate
    generation is the textbook prefix join of frequent pairs sharing
    their first item ((a,b) x (a,c), b < c), pruned by the third
    subset (b,c) before counting — the Apriori property keeps the
    candidate set tiny; support counting is one semi-join-shaped
    equi-join of candidates against the order-item table on the order
    key. Never an order-basket cube: work ∝ frequent-pair mass."""
    from ..sources.testdata import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct().localCheckpoint(eager=False)
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"),
            F.col("b.l_partkey").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        .filter(F.col("sup") >= _AP3_MINSUP)
        .select("x", "y")
        .localCheckpoint(eager=False)
    )
    p1, p2 = pairs.alias("p1"), pairs.alias("p2")
    cand = (
        p1.join(
            p2,
            (F.col("p1.x") == F.col("p2.x"))
            & (F.col("p1.y") < F.col("p2.y")),
        )
        .select(
            F.col("p1.x").alias("pa"),
            F.col("p1.y").alias("pb"),
            F.col("p2.y").alias("pc"),
        )
        # Apriori prune: the third subset (pb, pc) must be frequent too
        .join(
            pairs.select(
                F.col("x").alias("pb"), F.col("y").alias("pc")
            ),
            ["pb", "pc"],
            "left_semi",
        )
    )
    t1 = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("pa"))
    t2 = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("pb"))
    t3 = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("pc"))
    counted = (
        cand.join(t1, "pa")
        .join(t2, ["o", "pb"])
        .join(t3, ["o", "pc"])
        .groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _AP3_MINSUP)
    )
    return counted.orderBy(
        F.col("support").desc(), "pa", "pb", "pc"
    ).limit(50)


SQL_FREQUENT_TRIPLES = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
pairs AS (
  SELECT a.p AS x, b.p AS y
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING count(*) >= {_AP3_MINSUP}
),
cand AS (
  SELECT p1.x AS pa, p1.y AS pb, p2.y AS pc
  FROM pairs p1
  JOIN pairs p2 ON p1.x = p2.x AND p1.y < p2.y
  WHERE EXISTS (SELECT 1 FROM pairs q
                WHERE q.x = p1.y AND q.y = p2.y)
),
counted AS (
  SELECT c.pa, c.pb, c.pc, CAST(count(*) AS BIGINT) AS support
  FROM cand c
  JOIN li t1 ON t1.p = c.pa
  JOIN li t2 ON t2.o = t1.o AND t2.p = c.pb
  JOIN li t3 ON t3.o = t1.o AND t3.p = c.pc
  GROUP BY 1, 2, 3
  HAVING count(*) >= {_AP3_MINSUP}
)
SELECT * FROM counted
ORDER BY support DESC, pa, pb, pc
LIMIT 50
"""

QUERIES_CURATION["frequent_triples"] = q_frequent_triples
ORACLES_CURATION["frequent_triples"] = SQL_FREQUENT_TRIPLES
