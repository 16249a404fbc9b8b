"""Per-batch payload dedup for Arrow decode operators (r13 optimization).

Every byte-path extractor in this engine is an Arrow ``mapInPandas``
whose output rows are a pure function of the payload bytes (the id
column is pass-through). On any corpus with repeated payloads —
re-uploads, mirrored files, the bench fixtures' bounded seed space —
decoding each distinct payload once per batch and fanning the result
back out over the duplicate ids is the exact-dedup-before-expensive-
work move of guide §8: the *decision* (decode) runs on distinct bytes,
the per-row fan-out is a dict lookup.

``dedup_payload_batches`` wraps an existing batches-generator without
changing its code: the wrapped generator sees one deduplicated frame
per incoming batch, and the wrapper re-expands its output by mapping
each duplicate id onto its representative's output rows (supports
1→N extractors: every output row of the representative is replicated
per duplicate id).

Scope and honesty notes:

- The memo lives for ONE batch of ONE task — nothing persists across
  queries, passes, or runs; every query execution still computes every
  distinct payload from its inputs.
- Correct only when output rows depend on nothing but the payload
  column(s) plus a pass-through id. Operators that derive output
  values from the id itself must not use this wrapper (or must dedup
  on the id-derived seed instead — see ``dedup_key_batches``).
- When a batch has no duplicate payloads the wrapper degenerates to a
  single dict pass over the batch (O(rows) hashing) and calls the
  original generator unchanged.

The decode contract
-------------------

``decode_map(df, parse, schema, errors, ...)`` is the one way a
byte-path operator turns ``(id, payload)`` rows into its output frame.
A site supplies only what it differs in:

- ``parse(payload)`` returns one row dict keyed by the schema's
  non-id columns, or a list of row dicts (0..N rows per payload). With
  several ``payload_col`` columns it gets one argument per column;
  with ``key_of_id`` it also gets ``key_of_id(id)`` last, the only
  view of the id it has, so the dedup key always covers its inputs.
- ``schema`` is the Spark ``StructType``. Its first field receives the
  id; every pandas column is typed from it (``IntegerType`` →
  ``Int32``, ``LongType`` → ``Int64``, ``DoubleType`` → ``float64``,
  anything else → ``object``). ``tally_schema`` builds the common
  one: ``doc_id``, BIGINT tallies, a few strings, ``decode_error``.
- ``errors`` is the exception tuple that quarantines one payload. If
  the schema has an ``*_error`` column, the payload becomes one row of
  nulls carrying ``str(e)`` (the exception's class name when the
  message is empty) in that column; without one, the payload is
  dropped. An exception outside the tuple fails the task.
- A row must name every non-id column, except a row that sets the
  ``*_error`` column: its missing columns are null. That is how a site
  that reports some columns for a quarantined payload too (a digest,
  a sniffed format) quarantines it itself.

The map always runs under ``dedup_payload_batches``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fuse import id_payload_projection


def _expand(out: pd.DataFrame, out_id: str,
            rep_to_dups: "dict[object, list]",
            fixup=None) -> pd.DataFrame:
    """Replicate each representative's output rows for its duplicate
    ids, preserving column order and dtypes. ``fixup(sub)`` lets an
    operator rebuild output columns it derives from the id (e.g. a
    ``row_id = id * 100 + ordinal``) on the replicated rows."""
    pairs = [
        (rep, dup) for rep, dups in rep_to_dups.items() for dup in dups
    ]
    if not pairs:
        return out
    if out_id not in out.columns and "doc_id" in out.columns:
        # extractors emit a literal "doc_id" pass-through even when the
        # caller feeds a differently named id column
        out_id = "doc_id"
    mapdf = pd.DataFrame(pairs, columns=["_pm_rep", "_pm_dup"])
    sub = out.merge(mapdf, left_on=out_id, right_on="_pm_rep")
    sub[out_id] = sub["_pm_dup"].astype(out[out_id].dtype)
    sub = sub[list(out.columns)]
    if fixup is not None:
        sub = fixup(sub)
    return pd.concat([out, sub], ignore_index=True)


def dedup_payload_batches(
    fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    id_col: str = "doc_id",
    payload_col: "str | list[str]" = "payload",
    out_id_col: str | None = None,
    fixup=None,
    key_of_id: "Callable[[int], object] | None" = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Wrap a mapInPandas batches-generator with per-batch payload dedup.

    ``fn``'s outputs must be a pure function of ``payload_col`` (one
    column name or a list — e.g. payload plus per-row scan predicates)
    with ``id_col`` passed through as ``out_id_col`` (default: same
    name as ``id_col``). Operators that additionally derive a value
    from the id (a per-row scan window ``doc_id % m``) pass that
    derivation as ``key_of_id`` so it joins the dedup key.
    """
    out_id = out_id_col or id_col
    key_cols = ([payload_col] if isinstance(payload_col, str)
                else list(payload_col))

    def _norm(v):
        if isinstance(v, (bytearray, memoryview)):
            return bytes(v)
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return tuple(v.tolist() if hasattr(v, "tolist") else v)
        return v

    def wrapped(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].tolist()
            if len(key_cols) == 1:
                keys = [_norm(v) for v in pdf[key_cols[0]].tolist()]
            else:
                keys = list(zip(*(
                    [_norm(v) for v in pdf[c].tolist()]
                    for c in key_cols)))
            if key_of_id is not None:
                keys = [(k, key_of_id(int(i)))
                        for k, i in zip(keys, ids)]
            first: dict = {}
            keep: list[int] = []
            rep_to_dups: dict = {}
            for pos, key in enumerate(keys):
                rep = first.get(key)
                if rep is None:
                    first[key] = ids[pos]
                    keep.append(pos)
                else:
                    rep_to_dups.setdefault(rep, []).append(ids[pos])
            if not rep_to_dups:
                yield from fn(iter([pdf]))
                continue
            uniq = pdf.iloc[keep].reset_index(drop=True)
            for out in fn(iter([uniq])):
                yield _expand(out, out_id, rep_to_dups, fixup)

    return wrapped


def dedup_key_batches(
    fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    key_of_id: Callable[[int], object],
    id_col: str = "doc_id",
    out_id_col: str | None = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Same contract for id-driven operators (no payload column): the
    generator's outputs must be a pure function of ``key_of_id(id)``
    with the id passed through."""
    out_id = out_id_col or id_col

    def wrapped(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].tolist()
            first: dict = {}
            keep: list[int] = []
            rep_to_dups: dict = {}
            for pos, i in enumerate(ids):
                key = key_of_id(int(i))
                rep = first.get(key)
                if rep is None:
                    first[key] = ids[pos]
                    keep.append(pos)
                else:
                    rep_to_dups.setdefault(rep, []).append(ids[pos])
            if not rep_to_dups:
                yield from fn(iter([pdf]))
                continue
            uniq = pdf.iloc[keep].reset_index(drop=True)
            for out in fn(iter([uniq])):
                yield _expand(out, out_id, rep_to_dups)

    return wrapped


# the (id, payload) shape of the container → stream extractors that
# feed a chained decode
PAYLOAD_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("payload", BinaryType()),
])



def tally_schema(long_cols: tuple, str_cols: tuple = ()) -> StructType:
    """The schema of a decoder that reports BIGINT tallies (and a few
    strings) per payload: ``doc_id``, the columns, ``decode_error``."""
    return StructType(
        [StructField("doc_id", LongType())]
        + [StructField(k, LongType()) for k in long_cols]
        + [StructField(k, StringType()) for k in str_cols]
        + [StructField("decode_error", StringType())])


_DTYPES = {IntegerType: "Int32", LongType: "Int64", DoubleType: "float64"}


def decode_batches(
    parse: Callable[..., "dict | list[dict]"],
    schema: StructType,
    errors: "tuple[type[BaseException], ...]",
    id_col: str = "doc_id",
    payload_col: "str | list[str]" = "payload",
    key_of_id: "Callable[[int], object] | None" = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The deduplicated batches-generator behind :func:`decode_map`."""
    out_id, *names = schema.fieldNames()
    err_col = next((n for n in names if n.endswith("_error")), None)
    dtypes = {f.name: _DTYPES.get(type(f.dataType), object)
              for f in schema.fields}
    payload_cols = ([payload_col] if isinstance(payload_col, str)
                    else list(payload_col))

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            cols: dict[str, list] = {n: [] for n in names}
            for doc_id, *args in zip(pdf[id_col],
                                     *(pdf[c] for c in payload_cols)):
                if key_of_id is not None:
                    args.append(key_of_id(int(doc_id)))
                try:
                    got = parse(*args)
                    rows = [got] if isinstance(got, dict) else list(got)
                except errors as e:
                    if err_col is None:
                        continue
                    rows = [{err_col: str(e) or type(e).__name__}]
                for row in rows:
                    ids.append(doc_id)
                    lenient = err_col in row
                    for n in names:
                        cols[n].append(row.get(n) if lenient
                                       or n == err_col else row[n])
            yield pd.DataFrame({
                out_id: pd.Series(ids, dtype=dtypes[out_id]),
                **{n: pd.Series(cols[n], dtype=dtypes[n])
                   for n in names},
            })

    return dedup_payload_batches(_run, id_col, payload_col,
                                 out_id_col=out_id, key_of_id=key_of_id)


def decode_map(
    df: DataFrame,
    parse: Callable[..., "dict | list[dict]"],
    schema: StructType,
    errors: "tuple[type[BaseException], ...]",
    id_col: str = "doc_id",
    payload_col: "str | list[str]" = "payload",
    key_of_id: "Callable[[int], object] | None" = None,
) -> DataFrame:
    """One deduplicated Arrow ``mapInPandas`` of ``parse`` over
    ``df``'s ``(id_col, payload_col)`` rows, typed by ``schema``; see
    the module docstring for the contract."""
    payload_cols = ([payload_col] if isinstance(payload_col, str)
                    else list(payload_col))
    return id_payload_projection(
        df, id_col, payload_cols[0], tuple(payload_cols[1:])
    ).mapInPandas(
        decode_batches(parse, schema, errors, id_col, payload_col,
                       key_of_id),
        schema=schema)
