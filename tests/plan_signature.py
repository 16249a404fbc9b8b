"""Plan signatures: one compact, test-checked record of every registered
query's physical plan shape.

A signature counts the physical-plan nodes that decide how a plan scales
(an allowlist in the manner of spark-rapids' ``allow_non_gpu``): each
Exchange by partitioning, the join strategies, Sort and Window,
HashAggregate, the Python/Arrow evaluation nodes, and cached
(``InMemoryTableScan``) and checkpointed (``Scan ExistingRDD``) scans.
Nodes inside cached plans and subqueries count too. The plan is read
before execution, so under AQE it is the initial plan.

``tests/test_driver_queries.py`` checks each query's signature against
``plan_signatures.json`` and against ``INVARIANTS`` on the DataFrame it
oracle-checks; ``tests/test_r7_plans.py`` and ``test_r10_plans.py`` ..
``test_r13_plans.py`` check the invariants on each golden entry, one named
case per query, without building anything. After an intended plan change,
regenerate the golden file and review its diff:

    python -m tests.plan_signature

That builds every registered query (no result is collected) in the test
session's configuration at the oracle SF, clearing the cache before each
as the sweep does, and fails without writing if any query fails to build.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "plan_signatures.json")

_EXCHANGES = {
    "hashpartitioning": "Exchange:hash",
    "rangepartitioning": "Exchange:range",
    "RoundRobinPartitioning": "Exchange:roundrobin",
    "SinglePartition": "Exchange:single",
}
_NODES = {
    "BroadcastExchange", "SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "Sort", "Window", "HashAggregate", "InMemoryTableScan",
}
_PYTHON = re.compile(r"(Batch|Arrow)EvalPython\w*|\w+InPandas")
# one tree-string line: branch prefix, optional codegen stage id, name,
# first argument word ("Exchange hashpartitioning(...)", "Scan ExistingRDD[...]")
_LINE = re.compile(r"[ :]*(?:[+:]- )?(?:\*\(\d+\) )?(\w+)(?: (\w+))?")


def plan_text(df, mode: str = "simple") -> str:
    """The full (untruncated) explain text, as ``df.explain(mode)`` prints it."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def signature(df) -> dict:
    """Counts of the allowlisted nodes in ``df``'s physical plan, zeros
    omitted, keys sorted."""
    counts = Counter()
    tree = df._jdf.queryExecution().executedPlan().toString()
    initial = None  # depth of an "Initial Plan" header being skipped
    for line in tree.splitlines():
        # an AdaptiveSparkPlan that already ran (e.g. a cache filled
        # while the query was built) prints its initial plan after its
        # final one; count the final plan only
        depth = len(line) - len(line.lstrip(" :"))
        if initial is not None and depth > initial:
            continue
        initial = depth if "== Initial Plan ==" in line else None
        m = _LINE.match(line)
        if not m:
            continue
        name, arg = m.groups()
        if name == "Exchange" and arg in _EXCHANGES:
            counts[_EXCHANGES[arg]] += 1
        elif name == "Scan" and arg == "ExistingRDD":
            counts["Scan ExistingRDD"] += 1
        elif name in _NODES or _PYTHON.fullmatch(name):
            counts[name] += 1
    return dict(sorted(counts.items()))


def _exchanges(sig: dict) -> int:
    return sum(n for k, n in sig.items() if "Exchange" in k)


# Byte-path extractors: scan → (fixture id-spread repartition) → Arrow
# map → project, so per-payload cost with no data-bearing shuffle, sort
# or join. The one Exchange allowed is the spread of the BIGINT id
# column (driver_queries_analytics._spread), which moves ids, never
# payloads. The four groups are the named cases of tests/test_r10_plans.py
# .. test_r13_plans.py.
# crawl formats
CRAWL_EXTRACTORS = (
    "qoi_decode", "html_extract", "lz4_extract", "pdf_text",
    "webp_decode", "mkv_demux", "mkv_decode_audio", "ts_demux",
    "ts_decode_audio", "flv_demux", "flv_decode_audio", "srt_extract",
    "vtt_extract", "robots_eval", "jpeg_exif", "id3_tags",
    "png_metadata", "svg_features", "jsonld_harvest", "apng_decode",
    "email_extract", "sitemap_parse", "feed_parse", "protobuf_walk",
    "cbor_decode", "mime_sniff", "h264_ipcm", "mkv_decode_video",
    "mp4_decode_video", "text_normalize", "opus_meta", "flac_tags",
    "multi_format_pipeline", "tar_longnames", "script_mix",
    "zip64_extract",
)
# codecs and columnar files (webdataset_zst: synth → zstd unwrap → tar
# walk fused into one Arrow map)
CODEC_EXTRACTORS = (
    "pdf_text_xrefstream", "tiff_decode_lzw", "mp3_decode_short",
    "webp_decode_ext", "mp3_decode_synth_short", "pdf_text_filters",
    "tiff_decode_tiled", "snappy_extract", "charset_transcode",
    "zstd_extract", "webdataset_zst", "parquet_footer",
    "parquet_scan_raw", "orc_meta", "avro_decode", "iceberg_snapshot",
    "warc_zstd", "orc_scan_raw", "orc_scan_strings", "arrow_ipc_scan",
    "parquet_scan_lists", "iceberg_scan_chain", "msgpack_decode",
)
# lakehouse tables: checkpoint bundles, nested Dremel assembly, Iceberg
# v2 deletes, zstd dictionaries
LAKEHOUSE_EXTRACTORS = (
    "parquet_scan_int96", "orc_scan_nested", "arrow_nested_scan",
    "sqlite_scan", "parquet_page_prune", "gzip_extract_raw",
    "bzip2_extract", "xz_extract", "delta_scan_dv", "parquet_scan_nested",
    "delta_checkpoint_snapshot", "iceberg_scan_deletes",
    "iceberg_scan_eq_deletes", "orc_scan_timestamps", "zstd_dict_extract",
)
# table versions and pruning: time travel, bucket and metric pruning,
# WAL replay, the heavy Avro codecs, write round trips
TABLE_EXTRACTORS = (
    "iceberg_scan_eq_multi", "delta_column_mapping", "orc_scan_tz",
    "sqlite_scan_wal", "parquet_bloom_probe", "arrow_dict_delta",
    "parquet_scan_fixed", "parquet_crc_scan", "delta_partition_prune",
    "iceberg_metrics_prune", "orc_scan_unions", "avro_codec_family",
    "delta_time_travel", "iceberg_time_travel", "iceberg_bucket_prune",
    "hudi_snapshot", "avro_schema_evolution", "lz4_frame_extract",
    "iceberg_truncate_prune", "delta_checkpoint_v2",
    "parquet_write_roundtrip", "arrow_write_roundtrip",
    "codec_write_roundtrip", "csv_sniff_scan", "iceberg_day_prune",
    "hudi_incremental", "hudi_cluster_snapshot", "avro_logical_types",
    "orc_row_prune",
)
EXTRACTORS = frozenset(
    CRAWL_EXTRACTORS + CODEC_EXTRACTORS + LAKEHOUSE_EXTRACTORS + TABLE_EXTRACTORS
)

# Extract-then-aggregate compositions: the id spread, the groupBy's
# exchange and, under countDistinct, Catalyst's second distinct-
# aggregation exchange; still hash aggregation, never a sort-merge join.
COMPOSITIONS = ("crawl_html_pipeline", "lz4_documents", "mbox_pipeline")

# Round-7 analytics (named cases of tests/test_r7_plans.py): the Shapley
# lattice, calibration and median/MAD re-entry joins are broadcasts, the
# mSPRT pivot and the AUC score window need no join, and the AUC window
# is partitioned by group, never gathered into a single partition.
BROADCAST_JOINED = (
    "shapley_attribution", "calibration_report", "robust_outliers",
)
JOINLESS = ("msprt_monitor", "binary_auc")
_JOINS = (
    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)

# (queries it applies to, None = every query; what must hold; check)
INVARIANTS = (
    (None, "no CartesianProduct", lambda s: "CartesianProduct" not in s),
    (None, "no row-at-a-time Python (BatchEvalPython)",
     lambda s: not any(k.startswith("BatchEvalPython") for k in s)),
    (EXTRACTORS, "at most 1 Exchange", lambda s: _exchanges(s) <= 1),
    (EXTRACTORS, "no SortMergeJoin", lambda s: "SortMergeJoin" not in s),
    (EXTRACTORS, "no Sort", lambda s: "Sort" not in s),
    (EXTRACTORS, "at least 1 MapInPandas", lambda s: "MapInPandas" in s),
    (COMPOSITIONS, "at most 3 Exchanges", lambda s: _exchanges(s) <= 3),
    (COMPOSITIONS, "at least 1 HashAggregate", lambda s: "HashAggregate" in s),
    (COMPOSITIONS, "no SortMergeJoin", lambda s: "SortMergeJoin" not in s),
    (BROADCAST_JOINED, "no SortMergeJoin", lambda s: "SortMergeJoin" not in s),
    (("robust_outliers",), "at least 1 BroadcastHashJoin",
     lambda s: "BroadcastHashJoin" in s),
    (JOINLESS, "no join", lambda s: not any(j in s for j in _JOINS)),
    (("binary_auc",), "no Exchange:single",
     lambda s: "Exchange:single" not in s),
)


def violations(name: str, sig: dict) -> list:
    """The INVARIANTS that ``sig``, the signature of query ``name``, breaks."""
    return [what for queries, what, holds in INVARIANTS
            if (queries is None or name in queries) and not holds(sig)]


def load_golden() -> dict:
    with open(GOLDEN_PATH) as fh:
        return json.load(fh)


def assert_golden_keeps_invariants(name: str) -> None:
    """Fail if the golden signature of query ``name`` breaks an invariant.

    ``test_query_matches_oracle`` checks that the golden entry equals the
    signature of the plan it oracle-checks, so this needs no build of its
    own; it also stops a regenerated golden file from hiding a broken rule.
    """
    sig = load_golden()[name]
    broken = violations(name, sig)
    assert not broken, f"{name}: {broken} {sig}"


def dump_golden(sigs: dict) -> str:
    """One line per query, sorted, so a plan change is a one-line diff."""
    lines = [f"  {json.dumps(k)}: {json.dumps(sigs[k])}" for k in sorted(sigs)]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def main() -> None:
    from google_analytics_to_s3_spark.plans import driver_queries as dq

    from .conftest import SF_ORACLE, make_spark

    spark = make_spark()
    sigs = {}
    for name in sorted(dq.QUERIES):
        spark.catalog.clearCache()
        sigs[name] = signature(dq.QUERIES[name](spark, SF_ORACLE))
    with open(GOLDEN_PATH, "w") as fh:
        fh.write(dump_golden(sigs))
    print(f"wrote {len(sigs)} signatures to {GOLDEN_PATH}")


if __name__ == "__main__":
    main()
