"""Arrow IPC (Feather v2) reading from raw bytes — public Apache
Arrow columnar specification (File.fbs / Schema.fbs / Message.fbs and
the FlatBuffers wire format).

Arrow IPC is the interchange spine of the modern data stack (Flight,
Feather, dataframe spill files, UDF shuttles); the engine reads it
without the Arrow library:

- **FlatBuffers**: a from-scratch walker for the public wire format
  — root uoffset, vtables (u16 size/table-size + per-slot offsets),
  scalar fields with defaults, strings, vectors (inline scalars,
  structs, and offset tables), unions (type byte + table).
- **File format**: ``ARROW1\\0\\0`` magic both ends, trailing footer
  flatbuffer (schema + record-batch Block structs), encapsulated
  messages (0xFFFFFFFF continuation, metadata length, Message
  flatbuffer, 8-byte-aligned body).
- **Stream format**: the same messages walked sequentially (schema
  first, EOS marker last) when the file magic is absent.
- **Record batches**: FieldNode/Buffer structs resolved per column —
  validity bitmaps (LSB), fixed-width data (int 8/16/32/64 signed
  and unsigned, float16-less single/double, bool bits), Utf8/Binary
  offset+data buffers; **BodyCompression** bodies (each buffer
  framed with an i64 uncompressed length) inflated through the
  engine's OWN zstd frame / LZ4 frame decoders.

Dictionary-encoded columns decode too: DictionaryBatch messages
(file-footer dictionary blocks or in-stream type-2 messages) are
materialized per id and record-batch index columns map through them.

Cross-validation: every test decodes bytes produced by pyarrow's IPC
writer (file + stream, compressed + raw) and compares against
pyarrow's own reads.  Nested types (r12) assemble via the node/buffer
tree; DELTA dictionaries (r13) append per the spec.  Run-end encoding
and undecodable dictionary VALUE types are named gates (the latter
quarantine only their column).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map

__all__ = ["arrow_file_meta", "arrow_read_column",
           "arrow_read_nested", "decode_arrow_nested_stats",
           "decode_arrow_meta", "decode_arrow_dict_stats"]

_FILE_MAGIC = b"ARROW1"
_MAX_OUT = 512 * 1024 * 1024


# --------------------------------------------------------------------------
# FlatBuffers walker.


class _Fb:
    """One flatbuffer table at position ``pos`` in ``data``."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int) -> None:
        if pos < 0 or pos + 4 > len(data):
            raise ValueError("arrow: flatbuffer table out of range")
        self.data = data
        self.pos = pos

    def _field_pos(self, slot: int) -> int | None:
        data = self.data
        t = self.pos
        soff = struct.unpack_from("<i", data, t)[0]
        vt = t - soff
        if vt < 0 or vt + 4 > len(data):
            raise ValueError("arrow: vtable out of range")
        vt_size = struct.unpack_from("<H", data, vt)[0]
        field_off = 4 + 2 * slot
        if field_off + 2 > vt_size:
            return None
        voff = struct.unpack_from("<H", data, vt + field_off)[0]
        if voff == 0:
            return None
        return t + voff

    def scalar(self, slot: int, fmt: str, default=0):
        p = self._field_pos(slot)
        if p is None:
            return default
        return struct.unpack_from(fmt, self.data, p)[0]

    def string(self, slot: int) -> str | None:
        p = self._field_pos(slot)
        if p is None:
            return None
        sp = p + struct.unpack_from("<I", self.data, p)[0]
        n = struct.unpack_from("<I", self.data, sp)[0]
        if sp + 4 + n > len(self.data):
            raise ValueError("arrow: string out of range")
        return self.data[sp + 4:sp + 4 + n].decode("utf-8", "replace")

    def table(self, slot: int) -> "_Fb | None":
        p = self._field_pos(slot)
        if p is None:
            return None
        return _Fb(self.data, p + struct.unpack_from("<I", self.data,
                                                     p)[0])

    def _vector(self, slot: int) -> tuple[int, int] | None:
        p = self._field_pos(slot)
        if p is None:
            return None
        vp = p + struct.unpack_from("<I", self.data, p)[0]
        n = struct.unpack_from("<I", self.data, vp)[0]
        return vp + 4, n

    def vector_tables(self, slot: int) -> "list[_Fb]":
        v = self._vector(slot)
        if v is None:
            return []
        base, n = v
        out = []
        for i in range(n):
            off = struct.unpack_from("<I", self.data, base + 4 * i)[0]
            out.append(_Fb(self.data, base + 4 * i + off))
        return out

    def vector_structs(self, slot: int, width: int) -> list[int]:
        """Returns flat positions of each ``width``-byte struct."""
        v = self._vector(slot)
        if v is None:
            return []
        base, n = v
        if base + n * width > len(self.data):
            raise ValueError("arrow: struct vector out of range")
        return [base + i * width for i in range(n)]


def _fb_root(data: bytes, pos: int = 0) -> _Fb:
    if pos + 4 > len(data):
        raise ValueError("arrow: truncated flatbuffer root")
    return _Fb(data, pos + struct.unpack_from("<I", data, pos)[0])


# --------------------------------------------------------------------------
# Schema / message walking.

# Type union member indices, Schema.fbs declaration order
_T_NULL = 1
_T_INT = 2
_T_FLOAT = 3
_T_BINARY = 4
_T_UTF8 = 5
_T_BOOL = 6
_T_LARGE_BINARY = 19
_T_LARGE_UTF8 = 20
_T_LIST = 12
_T_STRUCT = 13
_T_FIXED_SIZE_LIST = 16
_T_MAP = 17
_T_LARGE_LIST = 21


def _parse_field(f: _Fb) -> dict:
    type_type = f.scalar(2, "<B", 0)
    type_tbl = f.table(3)
    info = {"name": f.string(0) or "",
            "nullable": bool(f.scalar(1, "<b", 0)),
            "type_type": type_type,
            "bit_width": None, "signed": None, "precision": None}
    denc = f.table(4)
    if denc is not None:  # DictionaryEncoding: id + index Int type
        info["dictionary"] = True
        info["dict_id"] = denc.scalar(0, "<q", 0)
        idx = denc.table(1)
        info["dict_index_bw"] = (idx.scalar(0, "<i", 0)
                                 if idx is not None else 32)
        info["dict_index_signed"] = (bool(idx.scalar(1, "<b", 0))
                                     if idx is not None else True)
    kids = f.vector_tables(5)
    if kids:
        # a non-empty children list is truthy, so existing
        # `field.get("children")` nested-gates keep working
        info["children"] = [_parse_field(c) for c in kids]
    if type_type == _T_INT and type_tbl is not None:
        info["bit_width"] = type_tbl.scalar(0, "<i", 0)
        info["signed"] = bool(type_tbl.scalar(1, "<b", 0))
    elif type_type == _T_FLOAT and type_tbl is not None:
        info["precision"] = type_tbl.scalar(0, "<h", 0)
    elif type_type == _T_FIXED_SIZE_LIST and type_tbl is not None:
        info["list_size"] = type_tbl.scalar(0, "<i", 0)
    return info


def _parse_schema(schema_tbl: _Fb) -> list[dict]:
    return [_parse_field(f) for f in schema_tbl.vector_tables(1)]


def _iter_messages(data: bytes) -> Iterator[tuple[_Fb, bytes]]:
    """Walk encapsulated IPC messages (stream layout) → (Message
    flatbuffer, body bytes)."""
    pos = 0
    if data[:6] == _FILE_MAGIC:
        pos = 8  # file layout: magic + padding, messages follow
    while pos + 8 <= len(data):
        cont = struct.unpack_from("<I", data, pos)[0]
        if cont != 0xFFFFFFFF:
            # legacy layout without continuation marker
            meta_len = cont
            meta_start = pos + 4
        else:
            meta_len = struct.unpack_from("<I", data, pos + 4)[0]
            meta_start = pos + 8
        if meta_len == 0:
            return  # EOS
        if meta_start + meta_len > len(data):
            raise ValueError("arrow: truncated message metadata")
        msg = _fb_root(data, meta_start)
        body_len = msg.scalar(3, "<q", 0)
        body_start = meta_start + meta_len
        if body_start + body_len > len(data):
            raise ValueError("arrow: truncated message body")
        yield msg, data[body_start:body_start + body_len]
        pos = body_start + body_len


def _file_blocks(data: bytes) -> tuple[
        _Fb, list[tuple[int, int, int]], list[tuple[int, int, int]]]:
    """File-format footer → (schema table, record-batch blocks,
    dictionary-batch blocks)."""
    if len(data) < 20 or data[:6] != _FILE_MAGIC \
            or data[-6:] != _FILE_MAGIC:
        raise ValueError("arrow: missing ARROW1 magic")
    flen = struct.unpack_from("<i", data, len(data) - 10)[0]
    fstart = len(data) - 10 - flen
    if flen <= 0 or fstart < 8:
        raise ValueError("arrow: bad footer length")
    footer = _fb_root(data, fstart)
    schema = footer.table(1)
    if schema is None:
        raise ValueError("arrow: footer missing schema")
    dict_blocks = []
    for sp in footer.vector_structs(2, 24):
        off = struct.unpack_from("<q", data, sp)[0]
        mlen = struct.unpack_from("<i", data, sp + 8)[0]
        blen = struct.unpack_from("<q", data, sp + 16)[0]
        dict_blocks.append((off, mlen, blen))
    blocks = []
    for sp in footer.vector_structs(3, 24):
        # Block struct: i64 offset, i32 metaDataLength, pad, i64 body
        off = struct.unpack_from("<q", data, sp)[0]
        mlen = struct.unpack_from("<i", data, sp + 8)[0]
        blen = struct.unpack_from("<q", data, sp + 16)[0]
        blocks.append((off, mlen, blen))
    return schema, blocks, dict_blocks


def _decompress_body(body: bytes, buffers: list[tuple[int, int]],
                     codec: int) -> list[bytes]:
    """BodyCompression: each buffer is an i64 uncompressed length
    followed by a frame (-1 length = stored raw)."""
    out = []
    for off, ln in buffers:
        seg = body[off:off + ln]
        if ln == 0:
            out.append(b"")
            continue
        if len(seg) < 8:
            raise ValueError("arrow: compressed buffer too short")
        unc = struct.unpack_from("<q", seg, 0)[0]
        payload = seg[8:]
        if unc == -1:
            out.append(bytes(payload))
            continue
        if unc > _MAX_OUT:
            raise ValueError("arrow: buffer exceeds size cap")
        if codec == 0:  # LZ4_FRAME
            from .lz4 import parse_lz4_frame

            raw = parse_lz4_frame(bytes(payload))[0]
        elif codec == 1:  # ZSTD
            from .zstd import decompress_zstd

            raw = decompress_zstd(bytes(payload))
        else:
            raise ValueError(f"arrow: compression codec {codec} gated")
        if len(raw) != unc:
            raise ValueError("arrow: buffer size mismatch")
        out.append(raw)
    return out


def _batch_columns(msg: _Fb, body: bytes,
                   fields: list[dict]) -> list[tuple[int, dict]]:
    """One RecordBatch message → [(row_count, node/buffer tree)] per
    field, buffers assigned in spec order (validity, then offsets for
    varsize, then data); each tree is {"len", "bufs", "children"}."""
    if msg.scalar(1, "<B", 0) != 3:  # MessageHeader.RecordBatch
        raise ValueError("arrow: not a record batch message")
    rb = msg.table(2)
    if rb is None:
        raise ValueError("arrow: message missing RecordBatch header")
    return _rb_columns(rb, body, fields)


def _rb_columns(rb: _Fb, body: bytes,
                fields: list[dict]) -> list[tuple[int, dict]]:
    length = rb.scalar(0, "<q", 0)
    nodes = rb.vector_structs(1, 16)
    bufs = []
    for bp in rb.vector_structs(2, 16):
        off = struct.unpack_from("<q", rb.data, bp)[0]
        ln = struct.unpack_from("<q", rb.data, bp + 8)[0]
        bufs.append((off, ln))
    comp = rb.table(3)
    if comp is not None:
        codec = comp.scalar(0, "<b", 0)
        raw_bufs = _decompress_body(body, bufs, codec)
    else:
        raw_bufs = [bytes(body[off:off + ln]) for off, ln in bufs]
    # assign nodes + buffers by DEPTH-FIRST tree walk (the spec's
    # RecordBatch layout) — per-top-level-field indexing misaligns as
    # soon as any nested column precedes a flat one
    out = []
    ni = bi = 0
    for field in fields:
        tree, ni, bi = _assign_tree(field, rb.data, nodes, raw_bufs,
                                    ni, bi)
        out.append((tree["len"], tree))
    if length and nodes and not out:
        raise ValueError("arrow: empty batch decode")
    return out


def _node_nbuf(field: dict) -> int:
    tt = field["type_type"]
    if field.get("dictionary"):
        # dictionary columns store fixed-width INDICES (2 buffers);
        # their children describe the VALUE type and carry no nodes
        return 2
    if tt == _T_NULL:
        return 0
    if tt in (_T_UTF8, _T_BINARY, _T_LARGE_UTF8, _T_LARGE_BINARY):
        return 3
    if tt in (_T_STRUCT, _T_FIXED_SIZE_LIST):
        return 1
    # List / LargeList / Map: validity + offsets
    return 2


def _assign_tree(field: dict, rb_data: bytes, nodes: list[int],
                 raw_bufs: list[bytes], ni: int,
                 bi: int) -> tuple[dict, int, int]:
    """Consume this field's node + buffers (+ children, depth-first)
    → ``{"len", "bufs", "children"}``."""
    if ni >= len(nodes):
        raise ValueError("arrow: field nodes short of schema")
    node_len = struct.unpack_from("<q", rb_data, nodes[ni])[0]
    ni += 1
    nbuf = _node_nbuf(field)
    bufs = raw_bufs[bi:bi + nbuf]
    if len(bufs) != nbuf:
        raise ValueError("arrow: buffer list short of schema")
    bi += nbuf
    kids = []
    if not field.get("dictionary"):
        for ch in (field.get("children") or []):
            sub, ni, bi = _assign_tree(ch, rb_data, nodes, raw_bufs,
                                       ni, bi)
            kids.append(sub)
    return {"len": node_len, "bufs": bufs, "children": kids}, ni, bi


def _materialize(field: dict, n: int, bufs: list[bytes]) -> list:
    tt = field["type_type"]
    if tt == _T_NULL:
        return [None] * n
    validity = bufs[0]
    if validity:
        valid = [(validity[i >> 3] >> (i & 7)) & 1 for i in range(n)]
    else:
        valid = [1] * n
    if tt == _T_BOOL:
        data = bufs[1]
        vals = [bool((data[i >> 3] >> (i & 7)) & 1) if i >> 3 <
                len(data) else False for i in range(n)]
    elif tt == _T_INT:
        bw = field["bit_width"] or 0
        fmt = {8: "b", 16: "h", 32: "i", 64: "q"}.get(bw)
        if fmt is None:
            raise ValueError("arrow: int bit width gated")
        if not field["signed"]:
            fmt = fmt.upper()
        need = n * bw // 8
        if len(bufs[1]) < need:
            raise ValueError("arrow: int data buffer short")
        vals = list(struct.unpack_from(f"<{n}{fmt}", bufs[1], 0))
    elif tt == _T_FLOAT:
        prec = field["precision"]
        fmt = {1: "f", 2: "d"}.get(prec)
        if fmt is None:
            raise ValueError("arrow: float precision gated")
        width = 4 if prec == 1 else 8
        if len(bufs[1]) < n * width:
            raise ValueError("arrow: float data buffer short")
        vals = list(struct.unpack_from(f"<{n}{fmt}", bufs[1], 0))
    elif tt in (_T_UTF8, _T_BINARY, _T_LARGE_UTF8, _T_LARGE_BINARY):
        wide = tt in (_T_LARGE_UTF8, _T_LARGE_BINARY)
        osz = 8 if wide else 4
        ofmt = "<q" if wide else "<i"
        offs_raw = bufs[1]
        if len(offs_raw) < (n + 1) * osz:
            raise ValueError("arrow: offsets buffer short")
        offs = [struct.unpack_from(ofmt, offs_raw, i * osz)[0]
                for i in range(n + 1)]
        blob = bufs[2]
        vals = []
        for i in range(n):
            a, b = offs[i], offs[i + 1]
            if a < 0 or b < a or b > len(blob):
                raise ValueError("arrow: string offsets out of range")
            seg = blob[a:b]
            vals.append(seg.decode("utf-8", "replace")
                        if tt in (_T_UTF8, _T_LARGE_UTF8) else bytes(seg))
    else:
        raise ValueError(f"arrow: type union member {tt} gated")
    return [v if ok else None for v, ok in zip(vals, valid)]


class _DictError:
    """Per-dictionary quarantine marker: decoding this dictionary's
    values failed; only reads of columns referencing it raise."""

    __slots__ = ("msg",)

    def __init__(self, msg: str) -> None:
        self.msg = msg


def _decode_dictionary(msg: _Fb, body: bytes, fields: list[dict],
                       dicts: dict) -> None:
    """A DictionaryBatch message: id + a one-column RecordBatch of
    the VALUE type shared by every field carrying that id."""
    db = msg.table(2)
    if db is None:
        raise ValueError("arrow: dictionary message missing header")
    did = db.scalar(0, "<q", 0)
    is_delta = bool(db.scalar(2, "<b", 0))
    if is_delta and not isinstance(dicts.get(did), list):
        # a delta with no base dictionary: poison only its columns
        dicts[did] = _DictError("arrow: delta dictionary without base")
        return
    rb = db.table(1)
    if rb is None:
        raise ValueError("arrow: dictionary batch missing data")
    def _find(fs):
        for f in fs:
            if f.get("dictionary") and f.get("dict_id") == did:
                return f
            got = _find(f.get("children") or [])
            if got is not None:
                return got
        return None

    field = _find(fields)
    if field is None:
        raise ValueError(f"arrow: dictionary id {did} unused")
    value_field = dict(field)
    value_field["dictionary"] = False
    try:
        cols = _rb_columns(rb, body, [value_field])
        n, tree = cols[0]
        vals = _materialize(value_field, n, tree["bufs"])
        if is_delta:
            # delta batches APPEND values; earlier indices stay valid
            # (the spec forbids deltas from rewriting existing slots),
            # so final-state application is exact for every batch
            dicts[did] = dicts[did] + vals
        else:
            dicts[did] = vals
    except ValueError as e:
        # an undecodable VALUE type (e.g. Null) poisons only the
        # columns that reference this dictionary id — other columns
        # of the file must stay readable (ADVICE r12)
        dicts[did] = _DictError(str(e))


def _schema_and_batches(
    data: bytes,
) -> tuple[list[dict], list[tuple[_Fb, bytes]], dict]:
    dicts: dict = {}
    if data[:6] == _FILE_MAGIC:
        schema_tbl, blocks, dict_blocks = _file_blocks(data)
        fields = _parse_schema(schema_tbl)
        for off, mlen, blen in dict_blocks:
            sub = data[off:off + mlen + blen]
            got = next(iter(_iter_messages(sub)), None)
            if got is None:
                raise ValueError("arrow: empty dictionary block")
            _decode_dictionary(got[0], got[1], fields, dicts)
        batches = []
        for off, mlen, blen in blocks:
            sub = data[off:off + mlen + blen]
            got = next(iter(_iter_messages(sub)), None)
            if got is None:
                raise ValueError("arrow: empty record batch block")
            batches.append(got)
        return fields, batches, dicts
    # stream format: first message is the schema
    it = _iter_messages(data)
    first = next(it, None)
    if first is None:
        raise ValueError("arrow: empty IPC stream")
    msg, _ = first
    if msg.scalar(1, "<B", 0) != 1:  # MessageHeader.Schema
        raise ValueError("arrow: stream does not start with a schema")
    schema_tbl = msg.table(2)
    if schema_tbl is None:
        raise ValueError("arrow: schema message missing header")
    fields = _parse_schema(schema_tbl)
    batches = []
    for msg, body in it:
        ht = msg.scalar(1, "<B", 0)
        if ht == 2:
            _decode_dictionary(msg, body, fields, dicts)
            continue
        if ht != 3:
            raise ValueError(f"arrow: message header {ht} gated")
        batches.append((msg, body))
    return fields, batches, dicts


def arrow_file_meta(data: bytes) -> dict:
    """Schema + layout of an Arrow IPC file or stream."""
    fields, batches, _dicts = _schema_and_batches(data)
    total = 0
    for msg, _body in batches:
        rb = msg.table(2)
        if rb is None:
            raise ValueError("arrow: batch missing header")
        total += rb.scalar(0, "<q", 0)
    return {
        "n_fields": len(fields),
        "field_names": [f["name"] for f in fields],
        "n_batches": len(batches),
        "num_rows": total,
        "is_file": data[:6] == _FILE_MAGIC,
    }


def arrow_read_column(data: bytes, column: str) -> list:
    """Materialize one flat column (int/float/bool/utf8/binary,
    nullable) from Arrow IPC bytes, across all record batches."""
    fields, batches, dicts = _schema_and_batches(data)
    names = [f["name"] for f in fields]
    if column not in names:
        raise ValueError(f"arrow: no column {column!r}")
    fi = names.index(column)
    field = fields[fi]
    if field.get("children"):
        raise ValueError("arrow: nested columns gated")
    if field.get("dictionary"):
        # a missing dictionary batch only matters for reads that need
        # an index mapping — 0-row / all-null columns come back empty
        dic = dicts.get(field.get("dict_id"))
        idx_field = {"type_type": _T_INT,
                     "bit_width": field.get("dict_index_bw", 32),
                     "signed": field.get("dict_index_signed", True)}
        out: list = []
        for msg, body in batches:
            cols = _batch_columns(msg, body, fields)
            n, tree = cols[fi]
            for i in _materialize(idx_field, n, tree["bufs"]):
                if i is None:
                    out.append(None)
                elif dic is None:
                    raise ValueError("arrow: dictionary batch missing")
                elif isinstance(dic, _DictError):
                    raise ValueError(dic.msg)
                elif 0 <= i < len(dic):
                    out.append(dic[i])
                else:
                    raise ValueError("arrow: dictionary index range")
        return out
    out = []
    for msg, body in batches:
        cols = _batch_columns(msg, body, fields)
        n, tree = cols[fi]
        out.extend(_materialize(field, n, tree["bufs"]))
    return out


# --------------------------------------------------------------------------
# Spark surface.

ARROW_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("num_rows", LongType()),
    StructField("n_batches", IntegerType()),
    StructField("n_fields", IntegerType()),
    StructField("n_values", LongType()),
    StructField("n_nulls", LongType()),
    StructField("value_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_arrow_meta(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper: IPC layout plus one integer
    column's count/nulls/sum straight from the record-batch buffers."""

    def _parse(payload) -> dict:
        raw = bytes(payload)
        m = arrow_file_meta(raw)
        vals = arrow_read_column(raw, column)
        present = [v for v in vals if v is not None]
        return {"num_rows": m["num_rows"], "n_batches": m["n_batches"],
                "n_fields": m["n_fields"], "n_values": len(vals),
                "n_nulls": len(vals) - len(present),
                "value_sum": sum(present)}

    return decode_map(df, _parse, ARROW_META_SCHEMA,
                      (ValueError, IndexError, TypeError, struct.error),
                      id_col, payload_col)


# --------------------------------------------------------------------------
# Nested columns (r12): List / LargeList / FixedSizeList / Struct /
# Map assembled recursively from the depth-first node/buffer tree.


def _materialize_tree(field: dict, tree: dict, dicts: dict) -> list:
    tt = field["type_type"]
    n = tree["len"]
    if field.get("dictionary"):
        dic = dicts.get(field.get("dict_id"))
        idx_field = {"type_type": _T_INT,
                     "bit_width": field.get("dict_index_bw", 32),
                     "signed": field.get("dict_index_signed", True)}
        out = []
        for i in _materialize(idx_field, n, tree["bufs"]):
            if i is None:
                out.append(None)
            elif dic is None:
                raise ValueError("arrow: dictionary batch missing")
            elif isinstance(dic, _DictError):
                raise ValueError(dic.msg)
            elif 0 <= i < len(dic):
                out.append(dic[i])
            else:
                raise ValueError("arrow: dictionary index range")
        return out
    if tt in (_T_LIST, _T_LARGE_LIST, _T_MAP):
        validity = tree["bufs"][0]
        offs_buf = tree["bufs"][1]
        width, fmt = (8, "q") if tt == _T_LARGE_LIST else (4, "i")
        if len(offs_buf) < (n + 1) * width:
            raise ValueError("arrow: offsets buffer short")
        offs = list(struct.unpack_from(f"<{n + 1}{fmt}", offs_buf, 0))
        if any(b < a for a, b in zip(offs, offs[1:])):
            raise ValueError("arrow: offsets not monotonic")
        if not tree["children"]:
            raise ValueError("arrow: list node missing child")
        child_field = (field.get("children") or [None])[0]
        child = _materialize_tree(child_field, tree["children"][0],
                                  dicts)
        if offs[-1] > len(child):
            raise ValueError("arrow: offsets overrun child")
        valid = ([(validity[i >> 3] >> (i & 7)) & 1 for i in range(n)]
                 if validity else [1] * n)
        out = []
        for i in range(n):
            if not valid[i]:
                out.append(None)
                continue
            seg = child[offs[i]:offs[i + 1]]
            if tt == _T_MAP:
                out.append({e["key"] if isinstance(e, dict) and
                            "key" in e else None:
                            e.get("value") if isinstance(e, dict)
                            else None for e in seg})
            else:
                out.append(seg)
        return out
    if tt == _T_FIXED_SIZE_LIST:
        validity = tree["bufs"][0]
        size = field.get("list_size") or 0
        if size <= 0:
            raise ValueError("arrow: bad fixed list size")
        child_field = (field.get("children") or [None])[0]
        if not tree["children"]:
            raise ValueError("arrow: list node missing child")
        child = _materialize_tree(child_field, tree["children"][0],
                                  dicts)
        valid = ([(validity[i >> 3] >> (i & 7)) & 1 for i in range(n)]
                 if validity else [1] * n)
        return [child[i * size:(i + 1) * size] if valid[i] else None
                for i in range(n)]
    if tt == _T_STRUCT:
        validity = tree["bufs"][0]
        names = [c["name"] for c in (field.get("children") or [])]
        kids = [_materialize_tree(cf, ct, dicts)
                for cf, ct in zip(field.get("children") or [],
                                  tree["children"])]
        valid = ([(validity[i >> 3] >> (i & 7)) & 1 for i in range(n)]
                 if validity else [1] * n)
        out = []
        for i in range(n):
            if not valid[i]:
                out.append(None)
            else:
                out.append({nm: col[i] for nm, col in zip(names, kids)})
        return out
    return _materialize(field, n, tree["bufs"])


def arrow_read_nested(data: bytes, column: str) -> list:
    """Materialize an arbitrarily nested top-level ``column`` (lists,
    large/fixed-size lists, structs → dict, maps → dict, dictionary
    leaves through their DictionaryBatches) from Arrow IPC bytes,
    across all record batches and both layouts."""
    fields, batches, dicts = _schema_and_batches(data)
    names = [f["name"] for f in fields]
    if column not in names:
        raise ValueError(f"arrow: no column {column!r}")
    fi = names.index(column)
    out: list = []
    for msg, body in batches:
        cols = _batch_columns(msg, body, fields)
        _n, tree = cols[fi]
        out.extend(_materialize_tree(fields[fi], tree, dicts))
    return out


ARROW_NESTED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_rows", LongType()),
    StructField("n_null_rows", LongType()),
    StructField("a_sum", LongType()),
    StructField("n_tags", LongType()),
    StructField("tags_chars", LongType()),
    StructField("pts_n", LongType()),
    StructField("x_sum", LongType()),
    StructField("y_nulls", LongType()),
    StructField("m_entries", LongType()),
    StructField("m_val_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_arrow_nested_stats(
    df: DataFrame, column: str = "v",
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`arrow_read_nested`
    for the shared struct{a, tags, pts, m} nested-fixture shape (same
    tallies as the parquet/orc twins)."""
    from .parquet_raw import nested_struct_tallies

    def _parse(payload) -> dict:
        return nested_struct_tallies(
            arrow_read_nested(bytes(payload), column))

    return decode_map(df, _parse, ARROW_NESTED_SCHEMA,
                      (ValueError, IndexError, TypeError, KeyError),
                      id_col, payload_col)


ARROW_DICT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_rows", LongType()),
    StructField("cat_sum", LongType()),
    StructField("n_distinct", LongType()),
    StructField("x_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_arrow_dict_stats(
    df: DataFrame, dict_col: str, val_col: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper for DELTA-dictionary streams
    (r13): materialize the dictionary column (categories named
    ``c<j>``) through base + delta batches and tally the numeric
    suffixes — a reader that drops or mis-orders delta values shifts
    cat_sum / n_distinct; per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        blob = bytes(payload)
        cats = arrow_read_column(blob, dict_col)
        xs = arrow_read_column(blob, val_col)
        if len(cats) != len(xs):
            raise ValueError("arrow: ragged columns")
        js = [int(c[1:]) for c in cats]
        return {"n_rows": len(cats), "cat_sum": sum(js),
                "n_distinct": len(set(js)), "x_sum": sum(xs)}

    return decode_map(df, _parse, ARROW_DICT_SCHEMA,
                      (ValueError, IndexError, TypeError, KeyError),
                      id_col, payload_col)
