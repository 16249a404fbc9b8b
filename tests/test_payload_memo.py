"""The per-batch payload-dedup wrapper must be invisible in results:
same rows (any order) as the unwrapped generator, for 1:1 and 1:N
extractors, with and without duplicate payloads. The decode map built
on it types, quarantines and fans out rows as its contract says, and
a Spark-free AST rule keeps hand-rolled per-payload loops out of the
operators."""

import ast
import os

import pandas as pd
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from google_analytics_to_s3_spark import operators
from google_analytics_to_s3_spark.operators.payload_memo import (
    decode_batches,
    dedup_key_batches,
    dedup_payload_batches,
)


def _one_to_one(batches):
    for pdf in batches:
        yield pd.DataFrame({
            "doc_id": pd.Series(pdf["doc_id"], dtype="int64"),
            "n": pd.Series([len(p) for p in pdf["payload"]],
                           dtype="Int64"),
            "s": pd.Series([sum(p) for p in pdf["payload"]],
                           dtype="Int64"),
        })


def _fan_out(batches):
    for pdf in batches:
        ids, byte_val = [], []
        for i, p in zip(pdf["doc_id"], pdf["payload"]):
            for b in p:
                ids.append(i)
                byte_val.append(b)
        yield pd.DataFrame({
            "doc_id": pd.Series(ids, dtype="int64"),
            "byte_val": pd.Series(byte_val, dtype="Int32"),
        })


def _canon(df):
    return sorted(map(tuple, df.fillna(-1).itertuples(index=False)))


def _run(fn, pdf):
    return pd.concat(list(fn(iter([pdf.copy()]))), ignore_index=True)


PDF_DUPS = pd.DataFrame({
    "doc_id": pd.Series([1, 2, 3, 4, 5, 6], dtype="int64"),
    "payload": [b"abc", b"xy", b"abc", b"abc", b"xy", b""],
})
PDF_UNIQ = pd.DataFrame({
    "doc_id": pd.Series([7, 8, 9], dtype="int64"),
    "payload": [b"a", b"bc", b"def"],
})


def test_one_to_one_identical_with_dups():
    wrapped = dedup_payload_batches(_one_to_one)
    assert _canon(_run(wrapped, PDF_DUPS)) == _canon(
        _run(_one_to_one, PDF_DUPS))


def test_one_to_one_identical_all_unique():
    wrapped = dedup_payload_batches(_one_to_one)
    assert _canon(_run(wrapped, PDF_UNIQ)) == _canon(
        _run(_one_to_one, PDF_UNIQ))


def test_fan_out_identical_with_dups():
    wrapped = dedup_payload_batches(_fan_out)
    assert _canon(_run(wrapped, PDF_DUPS)) == _canon(
        _run(_fan_out, PDF_DUPS))


def test_dtypes_preserved():
    wrapped = dedup_payload_batches(_one_to_one)
    out = _run(wrapped, PDF_DUPS)
    assert str(out["doc_id"].dtype) == "int64"
    assert str(out["n"].dtype) == "Int64"


def test_key_dedup_identical():
    def id_driven(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pd.Series(pdf["doc_id"], dtype="int64"),
                "seed_sq": pd.Series(
                    [(int(i) % 3) ** 2 for i in pdf["doc_id"]],
                    dtype="Int64"),
            })

    pdf = pd.DataFrame({
        "doc_id": pd.Series(range(10), dtype="int64")})
    wrapped = dedup_key_batches(id_driven, key_of_id=lambda i: i % 3)
    assert _canon(_run(wrapped, pdf)) == _canon(_run(id_driven, pdf))


# --- decode_batches: the generator behind decode_map -------------------

def _decode(parse, schema, errors, pdf, **kw):
    out = _run(decode_batches(parse, schema, errors, **kw), pdf)
    return out.sort_values("doc_id", kind="stable").reset_index(drop=True)


def _schema(*fields):
    return StructType([StructField("doc_id", LongType()),
                       *(StructField(n, t) for n, t in fields)])


def test_quarantine_row_is_nulls_in_the_schema_dtypes():
    schema = _schema(("n", IntegerType()), ("total", LongType()),
                     ("mean", DoubleType()), ("head", StringType()),
                     ("decode_error", StringType()))

    def parse(p):
        if not p:
            raise ValueError("empty payload")
        if p == b"?":
            raise ValueError()
        return {"n": len(p), "total": sum(p), "mean": sum(p) / len(p),
                "head": p[:1].decode()}

    pdf = pd.DataFrame({"doc_id": pd.Series([1, 2, 3], dtype="int64"),
                        "payload": [b"ab", b"", b"?"]})
    want = pd.DataFrame({
        "doc_id": pd.Series([1, 2, 3], dtype="Int64"),
        "n": pd.Series([2, None, None], dtype="Int32"),
        "total": pd.Series([195, None, None], dtype="Int64"),
        "mean": pd.Series([97.5, None, None], dtype="float64"),
        "head": pd.Series(["a", None, None], dtype=object),
        # an empty message reports the exception's class
        "decode_error": pd.Series([None, "empty payload", "ValueError"],
                                  dtype=object),
    })
    pd.testing.assert_frame_equal(
        _decode(parse, schema, (ValueError,), pdf), want)


def test_zero_to_n_rows_per_payload():
    schema = _schema(("idx", IntegerType()), ("byte_val", IntegerType()))

    def parse(p):
        return [{"idx": i, "byte_val": b} for i, b in enumerate(p)]

    pdf = pd.DataFrame({"doc_id": pd.Series([7, 8, 9], dtype="int64"),
                        "payload": [b"ab", b"", b"c"]})
    want = pd.DataFrame({
        "doc_id": pd.Series([7, 7, 9], dtype="Int64"),
        "idx": pd.Series([0, 1, 0], dtype="Int32"),
        "byte_val": pd.Series([97, 98, 99], dtype="Int32"),
    })
    pd.testing.assert_frame_equal(_decode(parse, schema, (), pdf), want)


def test_no_error_column_drops_the_payload():
    schema = _schema(("n", LongType()))

    def parse(p):
        if p == b"bad":
            raise IndexError("truncated")
        return {"n": len(p)}

    pdf = pd.DataFrame({"doc_id": pd.Series([1, 2, 3], dtype="int64"),
                        "payload": [b"x", b"bad", b"yz"]})
    want = pd.DataFrame({"doc_id": pd.Series([1, 3], dtype="Int64"),
                         "n": pd.Series([1, 2], dtype="Int64")})
    pd.testing.assert_frame_equal(
        _decode(parse, schema, (IndexError,), pdf), want)


def test_an_error_outside_the_tuple_fails_the_batch():
    def parse(p):
        raise KeyError("not quarantined")

    pdf = pd.DataFrame({"doc_id": pd.Series([1], dtype="int64"),
                        "payload": [b"x"]})
    schema = _schema(("n", LongType()), ("decode_error", StringType()))
    with pytest.raises(KeyError):
        _decode(parse, schema, (ValueError,), pdf)


def test_duplicate_payloads_decode_once_and_fan_out():
    calls = []

    def parse(p):
        calls.append(p)
        return [{"byte_val": b} for b in p[:2]]

    schema = _schema(("byte_val", IntegerType()))
    want = pd.DataFrame({
        "doc_id": pd.Series([1, 1, 2, 2, 3, 3, 4, 4, 5, 5], dtype="Int64"),
        "byte_val": pd.Series([97, 98, 120, 121, 97, 98, 97, 98, 120, 121],
                              dtype="Int32"),
    })
    got = _decode(parse, schema, (), PDF_DUPS)
    pd.testing.assert_frame_equal(got, want)
    assert sorted(calls) == [b"", b"abc", b"xy"]


def test_key_of_id_keeps_equal_payloads_with_other_keys_apart():
    calls = []

    def parse(p, window):
        calls.append((p, window))
        return {"window": window, "n": len(p)}

    schema = _schema(("window", IntegerType()), ("n", IntegerType()))
    pdf = pd.DataFrame({"doc_id": pd.Series([1, 2, 11, 12, 21],
                                            dtype="int64"),
                        "payload": [b"p"] * 5})
    want = pd.DataFrame({
        "doc_id": pd.Series([1, 2, 11, 12, 21], dtype="Int64"),
        "window": pd.Series([1, 2, 1, 2, 1], dtype="Int32"),
        "n": pd.Series([1] * 5, dtype="Int32"),
    })
    got = _decode(parse, schema, (), pdf, key_of_id=lambda i: i % 10)
    pd.testing.assert_frame_equal(got, want)
    assert sorted(calls) == [(b"p", 1), (b"p", 2)]


# --- the AST rule: no hand-rolled per-payload loops --------------------

OPERATORS = os.path.dirname(operators.__file__)

# Sites that keep their own loop, each because decode_map cannot
# express it:
ALLOWED_LOOPS = {
    # row_id = archive id * stride + ordinal: the output depends on
    # the id beyond passing it through, and the memo has to rebuild it
    # on replicated rows (dedup_payload_batches' fixup)
    "mime.py: mbox_rows._run",
    "warc.py: warc_html_rows._run",
    # keeps the caller's id column name and type in its output, where
    # decode_map emits a BIGINT id; it runs without the memo
    "text.py: char_entropy_stats.gen",
}


def payload_loops(source: str) -> list[str]:
    """``line: outer.inner`` for every function nested in another that
    loops ``for ... in zip(f[...], f[...], ...)`` over one batch frame
    and yields: a hand-rolled per-payload decode loop."""
    def own_nodes(fn):
        stack = list(ast.iter_child_nodes(fn))
        while stack:
            node = stack.pop()
            yield node
            if not isinstance(node, (ast.FunctionDef, ast.Lambda)):
                stack.extend(ast.iter_child_nodes(node))

    def zips_one_frame(node):
        if not isinstance(node, ast.For):
            return False
        it = node.iter
        if not (isinstance(it, ast.Call) and isinstance(it.func, ast.Name)
                and it.func.id == "zip"):
            return False
        frames = [a.value.id for a in it.args
                  if isinstance(a, ast.Subscript)
                  and isinstance(a.value, ast.Name)]
        return len(frames) >= 2 and len(set(frames)) == 1

    hits = []
    for outer in ast.walk(ast.parse(source)):
        if not isinstance(outer, ast.FunctionDef):
            continue
        for inner in own_nodes(outer):
            if not isinstance(inner, ast.FunctionDef):
                continue
            body = list(own_nodes(inner))
            if any(zips_one_frame(n) for n in body) and any(
                    isinstance(n, (ast.Yield, ast.YieldFrom))
                    for n in body):
                hits.append(f"{inner.lineno}: {outer.name}.{inner.name}")
    return hits


def test_payload_loop_rule_sees_a_hand_written_loop():
    src = (
        "def decode_x(df, id_col='doc_id', payload_col='payload'):\n"
        "    def _run(batches):\n"
        "        for pdf in batches:\n"
        "            ids, ns = [], []\n"
        "            for doc_id, p in zip(pdf[id_col], pdf[payload_col]):\n"
        "                ids.append(doc_id)\n"
        "                ns.append(len(p))\n"
        "            yield pd.DataFrame({'doc_id': ids, 'n': ns})\n"
        "    return df.mapInPandas(_run, SCHEMA)\n"
        "def decode_y(df):\n"
        "    def _parse(payload):\n"
        "        return {'n': len(payload)}\n"
        "    return decode_map(df, _parse, SCHEMA, (ValueError,))\n"
        "def pairs(a, b):\n"
        "    def _count(pdf):\n"
        "        return sum(1 for x, y in zip(pdf['a'], pdf['b']))\n"
        "    return _count\n"
    )
    assert payload_loops(src) == ["2: decode_x._run"]


@pytest.mark.parametrize(
    "module", sorted(f for f in os.listdir(OPERATORS) if f.endswith(".py"))
)
def test_operators_decode_through_decode_map(module):
    with open(os.path.join(OPERATORS, module)) as f:
        found = {f"{module}: {hit.split(': ', 1)[1]}"
                 for hit in payload_loops(f.read())}
    assert found - ALLOWED_LOOPS == set()
