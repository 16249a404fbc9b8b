"""From-scratch Parquet WRITER — public parquet-format spec
(thrift-compact FileMetaData, RLE/bit-packed hybrid levels, PLAIN
encoding, v1 data pages).

The read direction (operators/parquet_raw.py) proves the engine can
consume the lakehouse's on-disk contract; this module proves it can
PRODUCE it: files written here are read back by parquet-cpp
(pyarrow), DuckDB, and the engine's own reader — three independent
consumers — in tests/test_parquet_write.py and in the
``parquet_write_roundtrip`` driver query (pyarrow read-back inside
the same Arrow map).

Scope (a deliberate, spec-clean subset):

- columns: int64 / double / string (BYTE_ARRAY + UTF8
  converted_type) / boolean, all OPTIONAL with nullable values
- one v1 data page per column chunk per row group; definition
  levels RLE-run encoded (4-byte length prefix, as the spec
  requires for data-page levels); values PLAIN, or (r13,
  ``dictionary=True``) the PLAIN_DICTIONARY page pair — a PLAIN
  dictionary page plus RLE-run index pages — for int64/string
  columns
- codecs: UNCOMPRESSED and SNAPPY — snappy frames come from the
  engine's OWN compressor (operators/snappy.py), so every foreign
  read-back of a snappy page re-validates that byte path
- int64 statistics (min_value/max_value, null_count) per chunk
- multiple row groups via ``row_group_size``

Unsupported shapes (nested columns, v2 pages) raise named
``ValueError``s — the reader handles those; the writer stays small.

Scale note: the writer is a per-partition sink primitive — each task
writes its own file(s), no coordination, exactly how distributed
parquet sinks shard.  The Spark-native sink path
(sources/ga.py parquet append/overwrite) remains the default;
this byte path exists for environments where the engine must emit
parquet without a JVM (and to close the read/write symmetry).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .bitio import encode_uvarint

__all__ = ["write_parquet", "decode_parquet_roundtrip"]

# thrift compact wire types
_I32, _I64, _BINARY, _LIST, _STRUCT = 5, 6, 8, 9, 12

_PHYS = {"int64": 2, "double": 5, "string": 6, "boolean": 0}


def _zig(v: int) -> bytes:
    return encode_uvarint((v << 1) ^ (v >> 63) if v >= 0
                          else ((v << 1) ^ (v >> 63)) & ((1 << 70) - 1))


def _value(tp: int, val) -> bytes:
    if tp in (_I32, _I64):
        return _zig(int(val))
    if tp == _BINARY:
        return encode_uvarint(len(val)) + bytes(val)
    if tp == _STRUCT:
        return _struct(val)
    if tp == _LIST:
        etype, items = val
        if len(items) >= 15:
            head = bytes([0xF0 | etype]) + encode_uvarint(len(items))
        else:
            head = bytes([(len(items) << 4) | etype])
        return head + b"".join(_value(etype, it) for it in items)
    raise ValueError(f"parquet-write: thrift type {tp}")


def _struct(fields: "list[tuple[int, int, object]]") -> bytes:
    out = bytearray()
    prev = 0
    for fid, tp, val in fields:
        delta = fid - prev
        if not 1 <= delta <= 15:
            raise ValueError("parquet-write: field delta out of range")
        prev = fid
        out.append((delta << 4) | tp)
        out += _value(tp, val)
    out.append(0)
    return bytes(out)


def _rle_levels(levels: "list[int]") -> bytes:
    """Definition levels as RLE runs (bit width 1), with the data-
    page 4-byte little-endian length prefix."""
    body = bytearray()
    i = 0
    n = len(levels)
    while i < n:
        j = i
        while j < n and levels[j] == levels[i]:
            j += 1
        body += encode_uvarint((j - i) << 1)
        body.append(levels[i])
        i = j
    return struct.pack("<I", len(body)) + bytes(body)


def _plain(typ: str, present: "list") -> bytes:
    if typ == "int64":
        return b"".join(struct.pack("<q", v) for v in present)
    if typ == "double":
        return b"".join(struct.pack("<d", float(v)) for v in present)
    if typ == "string":
        out = bytearray()
        for v in present:
            raw = v.encode("utf-8")
            out += struct.pack("<I", len(raw)) + raw
        return bytes(out)
    if typ == "boolean":
        out = bytearray((len(present) + 7) // 8)
        for i, v in enumerate(present):
            if v:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)
    raise ValueError(f"parquet-write: type {typ!r} gated")


def _rle_indices(indices: "list[int]", bit_width: int) -> bytes:
    """Dictionary indices as RLE runs (the hybrid encoding's RLE
    arm), prefixed by the 1-byte bit width as data pages require."""
    out = bytearray([bit_width])
    nbytes = (bit_width + 7) // 8
    i = 0
    n = len(indices)
    while i < n:
        j = i
        while j < n and indices[j] == indices[i]:
            j += 1
        run = j - i
        out += encode_uvarint(run << 1)
        out += indices[i].to_bytes(nbytes, "little")
        i = j
    return bytes(out)


def write_parquet(columns: "list[tuple[str, str, list]]",
                  codec: str = "snappy",
                  row_group_size: int | None = None,
                  dictionary: bool = False) -> bytes:
    """Write ``[(name, type, values), ...]`` (types int64 / double /
    string / boolean; values may contain None) as a complete parquet
    file.  Returns the file bytes."""
    if not columns:
        raise ValueError("parquet-write: no columns")
    n_rows = len(columns[0][2])
    for name, typ, vals in columns:
        if typ not in _PHYS:
            raise ValueError(f"parquet-write: type {typ!r} gated")
        if len(vals) != n_rows:
            raise ValueError("parquet-write: ragged columns")
    if codec == "snappy":
        from .snappy import snappy_compress_block
        codec_id = 1
    elif codec == "uncompressed":
        codec_id = 0
    else:
        raise ValueError(f"parquet-write: codec {codec!r} gated")
    rg = row_group_size or max(n_rows, 1)
    out = bytearray(b"PAR1")
    rg_fields = []
    for at in range(0, max(n_rows, 1), rg):
        rows = slice(at, min(at + rg, n_rows))
        nrg = rows.stop - rows.start
        chunk_structs = []
        total_comp = 0
        for name, typ, vals in columns:
            window = vals[rows]
            levels = [0 if v is None else 1 for v in window]
            present = [v for v in window if v is not None]
            use_dict = (dictionary and present
                        and typ in ("int64", "string"))
            chunk_off = len(out)
            dict_off = None
            uncomp_total = 0
            if use_dict:
                # dictionary page: PLAIN uniques, then a data page
                # of RLE-run indices (PLAIN_DICTIONARY, the
                # everywhere-compatible legacy pair)
                uniq: dict = {}
                for v in present:
                    if v not in uniq:
                        uniq[v] = len(uniq)
                idx = [uniq[v] for v in present]
                bw = max(1, (len(uniq) - 1).bit_length())
                draw = _plain(typ, list(uniq))
                dbody = (snappy_compress_block(draw)
                         if codec_id == 1 else draw)
                dict_hdr = _struct([
                    (1, _I32, 2),            # DICTIONARY_PAGE
                    (2, _I32, len(draw)),
                    (3, _I32, len(dbody)),
                    (7, _STRUCT, [           # DictionaryPageHeader
                        (1, _I32, len(uniq)),
                        (2, _I32, 2),        # PLAIN_DICTIONARY
                    ]),
                ])
                dict_off = len(out)
                out += dict_hdr + dbody
                uncomp_total += len(dict_hdr) + len(draw)
                raw = _rle_levels(levels) + _rle_indices(idx, bw)
                enc = 2                      # PLAIN_DICTIONARY
            else:
                raw = _rle_levels(levels) + _plain(typ, present)
                enc = 0                      # PLAIN
            body = (snappy_compress_block(raw) if codec_id == 1
                    else raw)
            hdr_fields = [
                (1, _I32, 0),                # DATA_PAGE
                (2, _I32, len(raw)),         # uncompressed_page_size
                (3, _I32, len(body)),        # compressed_page_size
                (5, _STRUCT, [               # DataPageHeader
                    (1, _I32, nrg),          # num_values incl. nulls
                    (2, _I32, enc),
                    (3, _I32, 3),            # def levels: RLE
                    (4, _I32, 3),            # rep levels: RLE
                ]),
            ]
            page_hdr = _struct(hdr_fields)
            data_off = len(out)
            out += page_hdr + body
            chunk_len = len(out) - chunk_off
            uncomp_total += len(page_hdr) + len(raw)
            total_comp += chunk_len
            col_md = [
                (1, _I32, _PHYS[typ]),
                (2, _LIST, (_I32, ([2, 3] if use_dict else [0, 3]))),
                (3, _LIST, (_BINARY, [name.encode()])),
                (4, _I32, codec_id),
                (5, _I64, nrg),
                (6, _I64, uncomp_total),
                (7, _I64, chunk_len),
                (9, _I64, data_off),
            ]
            if dict_off is not None:
                col_md.append((11, _I64, dict_off))
            if typ == "int64" and present:
                col_md.append((12, _STRUCT, [
                    (3, _I64, nrg - len(present)),    # null_count
                    (5, _BINARY,
                     struct.pack("<q", max(present))),  # max_value
                    (6, _BINARY,
                     struct.pack("<q", min(present))),  # min_value
                ]))
            chunk_structs.append([
                (2, _I64, data_off),
                (3, _STRUCT, col_md),
            ])
        rg_fields.append([
            (1, _LIST, (_STRUCT, chunk_structs)),
            (2, _I64, total_comp),
            (3, _I64, nrg),
        ])
    schema_elems = [[(4, _BINARY, b"schema"),
                     (5, _I32, len(columns))]]
    for name, typ, _vals in columns:
        el = [(1, _I32, _PHYS[typ]),
              (3, _I32, 1),                   # OPTIONAL
              (4, _BINARY, name.encode())]
        if typ == "string":
            el.append((6, _I32, 0))           # ConvertedType UTF8
        schema_elems.append(el)
    footer = _struct([
        (1, _I32, 1),                         # format version
        (2, _LIST, (_STRUCT, schema_elems)),
        (3, _I64, n_rows),
        (4, _LIST, (_STRUCT, rg_fields)),
        # column_orders: TypeDefinedOrder per column — without it
        # readers must treat min/max statistics as untrusted
        (7, _LIST, (_STRUCT,
                    [[(1, _STRUCT, [])] for _ in columns])),
    ])
    out += footer
    out += struct.pack("<I", len(footer)) + b"PAR1"
    return bytes(out)


ROUNDTRIP_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("n_rows", LongType()),
    StructField("id_sum", LongType()),
    StructField("x2_sum", LongType()),
    StructField("s_bytes", LongType()),
    StructField("b_true", LongType()),
    StructField("n_nulls", LongType()),
    StructField("own_agree", IntegerType()),
    StructField("decode_error", StringType()),
])


def decode_parquet_roundtrip(
    df: DataFrame, make_columns, codec_for,
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow ``mapInPandas`` sink-and-check: write each document's
    planted columns with :func:`write_parquet`, then read the bytes
    back with parquet-cpp (pyarrow — the INDEPENDENT reader) and
    tally evidence; ``own_agree`` records that the engine's own
    reader (operators/parquet_raw.py) recovers the identical id
    column.  ``make_columns(seed) -> [(name, type, values)...]``,
    ``codec_for(seed) -> str``."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import pyarrow.parquet as pq

        from .parquet_raw import parquet_read_column

        cols = ("n_bytes", "n_rows", "id_sum", "x2_sum", "s_bytes",
                "b_true", "n_nulls", "own_agree")
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in
                                     ("doc_id", *cols, "decode_error")}
            for doc_id in pdf[id_col]:
                rows["doc_id"].append(doc_id)
                try:
                    seed = int(doc_id) % 1000
                    columns = make_columns(seed)
                    blob = write_parquet(
                        columns, codec=codec_for(seed),
                        row_group_size=25 if seed % 2 else None,
                        dictionary=(seed % 3 == 0))
                    t = pq.read_table(io.BytesIO(blob))
                    ids = t.column("id").to_pylist()
                    xs = t.column("x").to_pylist()
                    ss = t.column("s").to_pylist()
                    bs = t.column("b").to_pylist()
                    own = parquet_read_column(blob, "id")
                    rows["n_bytes"].append(len(blob))
                    rows["n_rows"].append(t.num_rows)
                    rows["id_sum"].append(
                        sum(v for v in ids if v is not None))
                    rows["x2_sum"].append(
                        sum(int(round(v * 2)) for v in xs
                            if v is not None))
                    rows["s_bytes"].append(
                        sum(len(s.encode()) for s in ss
                            if s is not None))
                    rows["b_true"].append(
                        sum(1 for b in bs if b))
                    rows["n_nulls"].append(
                        sum(1 for v in ids if v is None))
                    rows["own_agree"].append(int(own == ids))
                    rows["decode_error"].append(None)
                except (ValueError, IndexError, KeyError, TypeError,
                        OSError) as e:
                    for k in cols:
                        rows[k].append(None)
                    rows["decode_error"].append(str(e))
            yield pd.DataFrame({
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                **{k: pd.Series(
                    rows[k],
                    dtype="Int32" if k == "own_agree" else "Int64")
                   for k in cols},
                "decode_error": pd.Series(rows["decode_error"],
                                          dtype=object),
            })

    # id-driven operator: outputs are a pure function of id % 1000 —
    # dedup per batch on that seed key (r13 opt)
    from .payload_memo import dedup_key_batches
    return df.select(id_col).mapInPandas(
        dedup_key_batches(_run, key_of_id=lambda i: i % 1000,
                          id_col=id_col),
        schema=ROUNDTRIP_SCHEMA)
