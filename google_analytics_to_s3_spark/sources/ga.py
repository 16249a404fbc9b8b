"""GA hit sources & sinks (S1-S4) and the collector-envelope decoder
(L1-L4) as one Catalyst transform.

- :func:`read_enriched_hits` — S1 with the fix the survey prescribes:
  passing the full ``StructType`` to ``spark.read.json`` back-fills
  missing keys with nulls, deleting the reference's per-row RDD
  normalizer (``validate_fields``, main.py:308-315 applied at 1157).
- :func:`load_session_history` — S2's empty-DataFrame fallback idiom
  (main.py:317-327).
- :func:`save_daily_marts` — S4 via native ``partitionBy`` dynamic
  overwrite instead of string-templated partition dirs
  (main.py:1343-1359) and without the anti-scale ``repartition(1)``
  (main.py:1318).
- :func:`decode_envelope` — the transformation Lambda's record pipeline
  (L1-L4, functions/transformation/main.py:11-75): base64 envelope →
  JSON → anonymize ip → parse the GA Measurement-Protocol querystring
  body → flattened ``body_*`` columns. All native (``unbase64``,
  ``from_json``, ``str_to_map``, ``url_decode``).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.ip import anonymize_ip
from ..schemas import API_GATEWAY_FIELDS, GA_BODY_FIELDS, hit_schema

ENVELOPE_SCHEMA = (
    "system_source string, system_version string, message_id string, "
    "trace_id string, received_at_apig string, ip string, "
    "user_agent string, body string"
)


def read_enriched_hits(
    spark: SparkSession, path: str, schema: StructType = hit_schema,
    mode: str = "FAILFAST",
) -> DataFrame:
    """S1: schema-on-read JSONL scan; absent keys become nulls natively."""
    return spark.read.schema(schema).option("mode", mode).json(path)


# Read failures that mean "no history yet": the path is absent, or it
# holds no data file to take a schema from. Every other failure (an
# unreadable file, a permission error) propagates to the caller.
_NO_HISTORY = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def load_session_history(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """S2: session-history parquet; empty DataFrame if absent."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if e.getCondition() not in _NO_HISTORY:
            raise
        return spark.createDataFrame([], schema)


def load_own_session_history(
    spark: SparkSession, path: str
) -> DataFrame | None:
    """Session history written by THIS engine: parquet is
    self-describing, so read it without a declared schema — the mart's
    deliberately typed columns (double revenue, yMMdd string date)
    differ from the reference's ``session_schema`` constant, and
    forcing that schema (or unioning an empty frame built from it)
    coerces today's string defaults into ANSI cast errors. Returns
    None when the table doesn't exist yet (first run) or holds no data
    file, so callers skip the history union entirely — the
    reference-parity S2 loader above stays for reading histories that
    actually follow session_schema.
    """
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() not in _NO_HISTORY:
            raise
        return None


def append_session_history(df: DataFrame, path: str) -> None:
    """S3: append today's sessions to the history table."""
    df.write.mode("append").parquet(path)


def mart_path(base_path: str, name: str, job_date: str) -> str:
    """Directory of mart ``name`` for ``job_date`` (``YYYY-MM-DD``), in
    the reference's Hive-style ``type=X/year=Y/month=M/day=D`` layout
    (main.py:1352-1359), so Catalyst partition-prunes downstream reads."""
    year, month, day = job_date.split("-")
    return f"{base_path}/type={name}/year={year}/month={month}/day={day}"


def save_daily_marts(
    marts: dict[str, DataFrame], base_path: str, job_date: str
) -> None:
    """S4: one partition dir per (type, date) (:func:`mart_path`),
    written natively."""
    for name, df in marts.items():
        df.write.mode("overwrite").parquet(mart_path(base_path, name, job_date))


def read_concatenated_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str = ENVELOPE_SCHEMA,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """S7: repair-and-read Firehose-style concatenated JSON.

    Kinesis Firehose writes records back-to-back with no delimiter, so a
    delivered object looks like ``{...}{...}{...}``. The reference
    repairs this before parsing by rewriting ``}{`` to ``}\\n{`` and
    splitting lines (enrichment/adapters/sns_reader.py:36-44, the
    ``frh_json`` + ``split_files`` stages); this is the same repair as a
    native plan: text scan → ``regexp_replace`` → ``split``/``explode``
    → ``from_json``. Everything stays in codegen; the scan parallelizes
    per file-split like any text read.

    Matches the reference's naive semantics exactly — a literal ``}{``
    INSIDE a JSON string value also splits (and the fragments then fail
    to parse). GA Measurement Protocol bodies are url-encoded so the
    sequence cannot occur in practice; kept bug-compatible for parity.
    """
    lines = spark.read.text(path)
    records = lines.select(
        F.explode(
            F.split(F.regexp_replace("value", r"\}\{", "}\n{"), "\n")
        ).alias("value")
    ).filter(F.length(F.trim(F.col("value"))) > 0)
    parsed = records.select(
        F.from_json("value", schema, {"mode": mode}).alias("r")
    )
    return parsed.select("r.*")


def decode_envelope(df: DataFrame, body_fields: list[str] | None = None) -> DataFrame:
    """L1-L4: collector envelope records → flat ``body_*`` hit columns.

    Input: one string column ``value`` holding the base64-encoded JSON
    envelope (Firehose record ``data``), or the envelope columns
    already parsed (pass a DataFrame with ``body`` + envelope fields).
    """
    body_fields = body_fields or GA_BODY_FIELDS
    if "value" in df.columns and "body" not in df.columns:
        env = F.from_json(
            F.unbase64(F.col("value")).cast("string"), ENVELOPE_SCHEMA
        )
        df = df.select(env.alias("env")).select("env.*")
    # L2: anonymize the client IP before anything persists it.
    df = df.withColumn("ip", anonymize_ip("ip"))
    # L3: GA Measurement Protocol querystring → map (parse_qsl semantics:
    # url-decoded values; '+' means space).
    kv = F.str_to_map(F.col("body"), F.lit("&"), F.lit("="))
    df = df.withColumn(
        "_body_map",
        F.map_from_arrays(
            F.map_keys(kv),
            F.transform(
                F.map_values(kv),
                lambda v: F.url_decode(F.regexp_replace(v, r"\+", "%20")),
            ),
        ),
    )
    # L4: flatten with body_ prefix.
    cols = [F.col(f) for f in API_GATEWAY_FIELDS]
    cols += [
        F.col("_body_map").getItem(f.removeprefix("body_")).alias(f)
        for f in body_fields
    ]
    return df.select(*cols)


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
) -> tuple[DataFrame, DataFrame]:
    """S1 hardening: schema-on-read with a corrupt-row side channel.

    FAILFAST (the default scan, sources above) kills a 100 TB job on one
    bad object; silent PERMISSIVE nulls corrupt rows invisibly. The
    production contract is quarantine: parse PERMISSIVE with
    ``columnNameOfCorruptRecord``, return (good_rows, quarantined_raw)
    so the pipeline loads clean data and ships the rejects to a
    dead-letter sink for replay. One scan feeds both outputs (Spark
    requires the parsed frame cached to filter on the corrupt-record
    column — documented engine restriction, SPARK-21610); callers
    unpersist after materializing both sides.
    """
    from pyspark.sql.types import StringType, StructField

    corrupt_col = "_corrupt_record"
    if isinstance(schema, StructType):
        full = StructType(
            list(schema.fields) + [StructField(corrupt_col, StringType())]
        )
    else:
        full = f"{schema}, {corrupt_col} string"
    base = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        .cache()
    )
    good = base.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantined = base.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw")
    )
    return good, quarantined
