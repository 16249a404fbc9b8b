"""REAL PDF text extraction — public spec (ISO 32000-1 / Adobe PDF
1.7 reference): xref table, COS object grammar, FlateDecode content
streams, and the text-showing operator subset.

PDF is the highest-value non-HTML document format in web crawls; an
LLM training-data pipeline needs at least the text layer. This module
implements the real byte path, not a metadata stub:

- **xref/trailer**: ``startxref`` tail scan, cross-reference table
  subsections (``f``/``n`` entries), ``/Root`` resolution, and
  ``/Prev`` chains for incrementally-updated files;
- **COS objects**: dictionaries, arrays, names (with ``#xx``
  escapes), literal strings (octal escapes, nested parens, line
  continuations), hex strings, numbers, booleans, null, and
  ``n g R`` indirect references resolved through the xref;
- **streams**: ``/Length`` (direct or indirect); filters
  FlateDecode (zlib), LZWDecode (r11 — the TIFF §13 algorithm with
  /EarlyChange 0/1), ASCIIHexDecode, ASCII85Decode and
  RunLengthDecode, chained per the /Filter array, with /DecodeParms
  predictors after Flate/LZW; raw streams pass through; remaining
  filters (DCT/JBIG2/JPX/CCITT/Crypt) are honest named gates;
- **page tree**: ``/Pages`` → ``/Kids`` recursion (inner nodes
  allowed), per-page ``/Contents`` as a single stream or an array;
- **text operators**: ``BT``/``ET``, ``Tj``, ``TJ`` (array elements
  concatenate; kerning numbers do not split tokens), ``'`` and
  ``"`` (newline + show), with ``Td``/``TD``/``T*``/``Tm`` treated
  as line boundaries. Non-text operators and their operands are
  skipped by a real content lexer (strings/hex/arrays/names/numbers/
  operators), so graphics mixed into the stream cannot corrupt text.

- **PDF 1.5 compressed xref** (r11, ISO 32000-1 §7.5.7/§7.5.8):
  cross-reference STREAMS (/Type /XRef; /W field widths, /Index
  subsections, type 0/1/2 entries, /Prev chains, and the PNG
  Up/Sub/Avg/Paeth + TIFF row predictors via /DecodeParms) and
  OBJECT streams (/Type /ObjStm; /N+/First header walk, objects
  materialized lazily per stream with the decoded header cached) —
  plus hybrid-reference files (/XRefStm in a classic trailer, whose
  stream entries take precedence over that section's table rows).

Untrusted-input discipline matches the other byte paths: resource
bounds (object count, recursion depth, decompressed size), truncation
checks, ValueError on malformed input, per-payload quarantine in the
Arrow wrapper. Honest gates (named errors, never wrong output):
filters other than FlateDecode, encrypted documents, and CID/Type0
multibyte text (tokens here are latin-1 byte text as written by the
fixture generation and the vast majority of simple PDFs).

No PDF surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_MAX_OBJECTS = 100_000
_MAX_DECOMPRESSED = 64 * 1024 * 1024


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # % comment to end of line
            while pos < n and data[pos] not in b"\r\n":
                pos += 1
        else:
            break
    return pos


def _parse_string(data: bytes, pos: int) -> "tuple[bytes, int]":
    """Literal string starting at '('; returns (decoded bytes, pos
    after ')')."""
    assert data[pos] == 0x28
    pos += 1
    out = bytearray()
    depth = 1
    n = len(data)
    while pos < n:
        c = data[pos]
        if c == 0x5C:  # backslash
            if pos + 1 >= n:
                raise ValueError("PDF string ends in backslash")
            e = data[pos + 1]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8,
                            0x66: 12}[e])
                pos += 2
            elif e in b"()\\":
                out.append(e)
                pos += 2
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                val = 0
                k = 0
                pos += 1
                while k < 3 and pos < n and 0x30 <= data[pos] <= 0x37:
                    val = val * 8 + (data[pos] - 0x30)
                    pos += 1
                    k += 1
                out.append(val & 0xFF)
            elif e in b"\r\n":  # line continuation
                pos += 2
                if e == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:
                out.append(e)
                pos += 2
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    raise ValueError("unterminated PDF string")


def _parse_hex_string(data: bytes, pos: int) -> "tuple[bytes, int]":
    assert data[pos] == 0x3C
    end = data.find(b">", pos + 1)
    if end < 0:
        raise ValueError("unterminated PDF hex string")
    hx = re.sub(rb"[\x00\t\n\x0c\r ]", b"", data[pos + 1:end])
    if len(hx) % 2:
        hx += b"0"  # spec: odd final digit implies trailing 0
    try:
        return bytes.fromhex(hx.decode("ascii")), end + 1
    except ValueError as e:
        raise ValueError("invalid PDF hex string") from e


def _parse_name(data: bytes, pos: int) -> "tuple[str, int]":
    assert data[pos] == 0x2F
    pos += 1
    out = bytearray()
    n = len(data)
    while pos < n and data[pos] not in _WS and data[pos] not in _DELIM:
        if data[pos] == 0x23 and pos + 2 < n:
            out.append(int(data[pos + 1:pos + 3], 16))
            pos += 3
        else:
            out.append(data[pos])
            pos += 1
    return out.decode("latin-1"), pos


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


def _parse_value(data: bytes, pos: int, depth: int = 0):
    """Parse one COS value; returns (value, new_pos). Indirect
    references come back as _Ref."""
    if depth > 32:
        raise ValueError("PDF object nesting exceeds bound")
    pos = _skip_ws(data, pos)
    if pos >= len(data):
        raise ValueError("truncated PDF object")
    c = data[pos]
    if c == 0x28:
        return _parse_string(data, pos)
    if c == 0x2F:
        return _parse_name(data, pos)
    if c == 0x5B:  # [
        arr = []
        pos += 1
        while True:
            pos = _skip_ws(data, pos)
            if pos >= len(data):
                raise ValueError("unterminated PDF array")
            if data[pos] == 0x5D:
                return arr, pos + 1
            v, pos = _parse_value(data, pos, depth + 1)
            arr.append(v)
    if c == 0x3C:
        if pos + 1 < len(data) and data[pos + 1] == 0x3C:
            d = {}
            pos += 2
            while True:
                pos = _skip_ws(data, pos)
                if data[pos:pos + 2] == b">>":
                    return d, pos + 2
                if pos >= len(data) or data[pos] != 0x2F:
                    raise ValueError("PDF dict key is not a name")
                k, pos = _parse_name(data, pos)
                v, pos = _parse_value(data, pos, depth + 1)
                d[k] = v
        return _parse_hex_string(data, pos)
    if data[pos:pos + 4] == b"true":
        return True, pos + 4
    if data[pos:pos + 5] == b"false":
        return False, pos + 5
    if data[pos:pos + 4] == b"null":
        return None, pos + 4
    m = _NUM_RE.match(data, pos)
    if not m:
        raise ValueError(f"unparseable PDF token at {pos}")
    tok = m.group()
    end = m.end()
    # indirect reference lookahead: <num> <gen> R
    if b"." not in tok:
        la = _skip_ws(data, end)
        m2 = _NUM_RE.match(data, la)
        if m2 and b"." not in m2.group():
            la2 = _skip_ws(data, m2.end())
            if data[la2:la2 + 1] == b"R" and (
                    la2 + 1 >= len(data)
                    or data[la2 + 1] in _WS
                    or data[la2 + 1] in _DELIM):
                return _Ref(int(tok)), la2 + 1
        return int(tok), end
    return float(tok), end


def _pdf_lzw_decode(data: bytes, early: int) -> bytes:
    """§7.4.4 LZWDecode: MSB-first codes from 9 bits, clear 256 /
    EOD 257 — the TIFF §13 algorithm. /EarlyChange 1 (default) bumps
    the code width when the NEXT entry would be 2^width - 1; 0 bumps
    one code later (the GIF convention)."""
    clear, eod = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    acc = nbits = pos = 0
    width = 9
    table = list(base)
    prev: "bytes | None" = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("PDF LZW stream ended before EOD")
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1
        if code == clear:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == eod:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"PDF LZW code {code} out of range")
        out.extend(entry)
        if len(out) > _MAX_DECOMPRESSED:
            raise ValueError("PDF LZW exceeds decompression bound")
        if prev is not None:
            table.append(prev + entry[:1])
        if len(table) == (1 << width) - (1 if early else 0) \
                and width < 12:
            width += 1
        prev = entry
    return bytes(out)


def _ascii_hex_decode(data: bytes) -> bytes:
    """§7.4.2: hex pairs, whitespace ignored, '>' is EOD, an odd
    final digit implies a trailing 0."""
    end = data.find(b">")
    hx = re.sub(rb"[\x00\t\n\x0c\r ]", b"",
                data[:end if end >= 0 else len(data)])
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise ValueError("PDF ASCIIHex invalid digit") from e


def _ascii85_decode(data: bytes) -> bytes:
    """§7.4.3: base-85 groups of 5 chars ('!'..'u') -> 4 bytes, 'z'
    = four zero bytes at a group boundary, '~>' EOD, partial final
    group of n chars -> n-1 bytes."""
    end = data.find(b"~>")
    body = re.sub(rb"[\x00\t\n\x0c\r ]", b"",
                  data[:end if end >= 0 else len(data)])
    out = bytearray()
    group: list[int] = []
    for c in body:
        if c == 0x7A:  # 'z'
            if group:
                raise ValueError("PDF ASCII85 'z' inside a group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise ValueError("PDF ASCII85 character out of range")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for d in group:
                v = v * 85 + d
            if v > 0xFFFFFFFF:
                raise ValueError("PDF ASCII85 group overflows")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("PDF ASCII85 single trailing character")
        n = len(group)
        v = 0
        for d in group + [84] * (5 - n):
            v = v * 85 + d
        if v > 0xFFFFFFFF:
            raise ValueError("PDF ASCII85 group overflows")
        out += v.to_bytes(4, "big")[:n - 1]
    return bytes(out)


def _run_length_decode(data: bytes) -> bytes:
    """§7.4.5: length byte 0-127 copies the next L+1 bytes; 129-255
    repeats the next byte 257-L times; 128 is EOD."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        ln = data[pos]
        pos += 1
        if ln == 128:
            return bytes(out)
        if ln < 128:
            if pos + ln + 1 > len(data):
                raise ValueError("PDF RunLength literal truncated")
            out += data[pos:pos + ln + 1]
            pos += ln + 1
        else:
            if pos >= len(data):
                raise ValueError("PDF RunLength repeat truncated")
            out += bytes([data[pos]]) * (257 - ln)
            pos += 1
        if len(out) > _MAX_DECOMPRESSED:
            raise ValueError("PDF RunLength exceeds bound")
    raise ValueError("PDF RunLength stream ended before EOD")


class _Document:
    """Parsed PDF: xref offsets + lazy object cache."""

    def __init__(self, raw: bytes) -> None:
        self.raw = raw
        self.offsets: "dict[int, int | None]" = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, tuple] = {}
        self._parse_xref_chain()

    def _parse_xref_chain(self) -> None:
        raw = self.raw
        tail = raw[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("PDF startxref missing")
        pos = int(m.group(1))
        seen = set()
        while True:
            if pos in seen or len(seen) > 64:
                raise ValueError("PDF xref /Prev chain loops")
            seen.add(pos)
            pos = _skip_ws(raw, pos)
            if raw[pos:pos + 4] == b"xref":
                trailer = self._read_xref_table(pos)
            elif raw[pos:pos + 1].isdigit():
                # PDF 1.5+: the section is a cross-reference STREAM
                trailer = self._read_xref_stream(pos)
            else:
                raise ValueError("PDF xref table missing")
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            if "Encrypt" in trailer:
                raise ValueError("encrypted PDF unsupported")
            if "Prev" in trailer:
                pos = int(trailer["Prev"])
                continue
            break
        if "Root" not in self.trailer:
            raise ValueError("PDF trailer /Root missing")

    def _read_xref_table(self, pos: int) -> dict:
        """Classic ``xref`` table section at ``pos``; merges entries
        (first-seen wins across the /Prev chain; 'f' free entries are
        recorded as None so a deletion in a newer revision shadows a
        stale /Prev offset) and returns the trailer dict. Hybrid-
        reference files (§7.5.8.4): when the trailer carries
        /XRefStm, that stream's entries take precedence over this
        section's table rows, so they are merged FIRST."""
        raw = self.raw
        local: "dict[int, int | None]" = {}
        p = pos + 4
        while True:
            p = _skip_ws(raw, p)
            if raw[p:p + 7] == b"trailer":
                p += 7
                break
            m2 = re.match(rb"(\d+)\s+(\d+)", raw[p:p + 40])
            if not m2:
                raise ValueError("PDF xref subsection header bad")
            start, count = int(m2.group(1)), int(m2.group(2))
            if count > _MAX_OBJECTS:
                raise ValueError("PDF xref count exceeds bound")
            p += m2.end()
            p = _skip_ws(raw, p)
            for i in range(count):
                ent = raw[p:p + 20]
                if len(ent) < 18:
                    raise ValueError("truncated PDF xref entry")
                if start + i not in local and \
                        ent[17:18] in (b"n", b"f"):
                    local[start + i] = (
                        int(ent[:10]) if ent[17:18] == b"n"
                        else None)
                p += 20 if len(ent) >= 20 and ent[18] in _WS \
                    else 18
        trailer, _ = _parse_value(raw, p)
        if not isinstance(trailer, dict):
            raise ValueError("PDF trailer is not a dictionary")
        if "XRefStm" in trailer:
            stm_pos = trailer["XRefStm"]
            if not isinstance(stm_pos, int) or not \
                    (0 <= stm_pos < len(raw)):
                raise ValueError("PDF /XRefStm offset invalid")
            self._read_xref_stream(_skip_ws(raw, stm_pos))
        for num, off in local.items():
            self.offsets.setdefault(num, off)
        return trailer

    def _read_xref_stream(self, pos: int) -> dict:
        """Cross-reference STREAM (§7.5.8) at ``pos`` (``N G obj``).
        Decodes the stream (FlateDecode + /DecodeParms predictors),
        walks /Index subsections with /W field widths, and merges
        type 0 (free → None), type 1 (byte offset) and type 2
        (('objstm', container, index)) entries with first-seen-wins.
        Returns the stream dictionary (it doubles as the trailer)."""
        raw = self.raw
        m = re.match(rb"(\d+)\s+(\d+)\s+obj", raw[pos:pos + 40])
        if not m:
            raise ValueError("PDF xref stream object header bad")
        val, p = _parse_value(raw, pos + m.end())
        if not isinstance(val, dict):
            raise ValueError("PDF xref stream dict missing")
        if self.resolve(val.get("Type")) != "XRef":
            raise ValueError("PDF xref stream /Type is not /XRef")
        p = _skip_ws(raw, p)
        if raw[p:p + 6] != b"stream":
            raise ValueError("PDF xref stream body missing")
        p += 6
        if raw[p:p + 2] == b"\r\n":
            p += 2
        elif raw[p:p + 1] in (b"\n", b"\r"):
            p += 1
        length = val.get("Length")
        if not isinstance(length, int) or length < 0 \
                or p + length > len(raw):
            # /Length in an xref stream must be direct (§7.5.8.2) —
            # references cannot be resolved before the xref exists
            raise ValueError("PDF xref stream /Length invalid")
        data = self.stream_data(("stream", val, raw[p:p + length]))
        w = val.get("W")
        size = val.get("Size")
        if not (isinstance(w, list) and len(w) == 3
                and all(isinstance(x, int) and 0 <= x <= 8 for x in w)
                and sum(w) > 0):
            raise ValueError("PDF xref stream /W invalid")
        if not isinstance(size, int) or not \
                (0 < size <= _MAX_OBJECTS):
            raise ValueError("PDF xref stream /Size invalid")
        index = val.get("Index", [0, size])
        if not (isinstance(index, list) and len(index) % 2 == 0
                and all(isinstance(x, int) and x >= 0 for x in index)):
            raise ValueError("PDF xref stream /Index invalid")
        ew = sum(w)
        at = 0
        for s in range(0, len(index), 2):
            start, count = index[s], index[s + 1]
            if count > _MAX_OBJECTS:
                raise ValueError("PDF xref count exceeds bound")
            for i in range(count):
                ent = data[at:at + ew]
                if len(ent) < ew:
                    raise ValueError("truncated PDF xref stream entry")
                at += ew
                f = []
                o = 0
                for width in w:
                    f.append(int.from_bytes(ent[o:o + width], "big"))
                    o += width
                etype = f[0] if w[0] else 1  # w1=0 → type defaults 1
                num = start + i
                if num in self.offsets:
                    continue
                if etype == 0:
                    self.offsets[num] = None
                elif etype == 1:
                    self.offsets[num] = f[1]
                elif etype == 2:
                    self.offsets[num] = ("objstm", f[1], f[2])
                # other types: reserved, treated as absent (§7.5.8.3)
        return val

    def _objstm_parse(self, stm_num: int, depth: int):
        """Decode object stream ``stm_num`` once: returns the list of
        (objnum, parse-offset) header pairs plus the decoded bytes;
        cached — a 100-object /ObjStm inflates once, not per lookup."""
        cached = self._objstm_cache.get(stm_num)
        if cached is not None:
            return cached
        stm = self.resolve(_Ref(stm_num), depth + 1)
        if not (isinstance(stm, tuple) and stm[0] == "stream"):
            raise ValueError("PDF /ObjStm container is not a stream")
        d = stm[1]
        if self.resolve(d.get("Type")) != "ObjStm":
            raise ValueError("PDF /ObjStm /Type invalid")
        n = self.resolve(d.get("N"))
        first = self.resolve(d.get("First"))
        data = self.stream_data(stm)
        if not isinstance(n, int) or not (0 < n <= _MAX_OBJECTS):
            raise ValueError("PDF /ObjStm /N invalid")
        if not isinstance(first, int) or not (0 <= first <= len(data)):
            raise ValueError("PDF /ObjStm /First invalid")
        pairs: "list[tuple[int, int]]" = []
        hp = 0
        for _ in range(n):
            mh = re.match(rb"\s*(\d+)\s+(\d+)", data[hp:first])
            if not mh:
                raise ValueError("PDF /ObjStm header truncated")
            pairs.append((int(mh.group(1)), int(mh.group(2))))
            hp += mh.end()
        out = (pairs, data, first)
        self._objstm_cache[stm_num] = out
        return out

    def _resolve_in_objstm(self, num: int, stm_num: int, idx: int,
                           depth: int):
        pairs, data, first = self._objstm_parse(stm_num, depth)
        if idx < len(pairs) and pairs[idx][0] == num:
            objnum, rel = pairs[idx]
        else:  # tolerate a stale index: find by object number
            match = [pr for pr in pairs if pr[0] == num]
            if not match:
                raise ValueError(
                    f"PDF object {num} not in /ObjStm {stm_num}")
            objnum, rel = match[0]
        if first + rel > len(data):
            raise ValueError("PDF /ObjStm object offset out of range")
        val, _ = _parse_value(data, first + rel)
        # objects inside an /ObjStm cannot be streams (§7.5.7)
        self._cache[num] = val
        return val

    def resolve(self, v, depth: int = 0):
        if not isinstance(v, _Ref):
            return v
        if depth > 32:
            raise ValueError("PDF reference chain exceeds bound")
        if v.num in self._cache:
            return self._cache[v.num]
        off = self.offsets.get(v.num)
        if isinstance(off, tuple):  # type-2 entry: lives in an /ObjStm
            return self._resolve_in_objstm(v.num, off[1], off[2],
                                           depth)
        if off is None or off >= len(self.raw):
            raise ValueError(f"PDF object {v.num} not in xref")
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj",
                     self.raw[off:off + 40])
        if not m or int(m.group(1)) != v.num:
            raise ValueError(f"PDF object {v.num} header mismatch")
        val, pos = _parse_value(self.raw, off + m.end())
        pos = _skip_ws(self.raw, pos)
        if self.raw[pos:pos + 6] == b"stream":
            if not isinstance(val, dict):
                raise ValueError("PDF stream without a dictionary")
            pos += 6
            if self.raw[pos:pos + 2] == b"\r\n":
                pos += 2
            elif self.raw[pos:pos + 1] in (b"\n", b"\r"):
                pos += 1
            length = self.resolve(val.get("Length"), depth + 1)
            if not isinstance(length, int) or length < 0 \
                    or pos + length > len(self.raw):
                raise ValueError("PDF stream /Length invalid")
            val = ("stream", val, self.raw[pos:pos + length])
        self._cache[v.num] = val
        return val

    def stream_data(self, obj) -> bytes:
        if not (isinstance(obj, tuple) and obj[0] == "stream"):
            raise ValueError("PDF object is not a stream")
        d, data = obj[1], obj[2]
        filt = self.resolve(d.get("Filter"))
        if filt is None:
            return data
        filters = filt if isinstance(filt, list) else [filt]
        parms = self.resolve(d.get("DecodeParms"))
        if not isinstance(parms, list):
            parms = [parms] * len(filters)
        for f, pm in zip(filters, parms):
            f = self.resolve(f)
            pm = self.resolve(pm)
            if f == "FlateDecode":
                try:
                    dec = zlib.decompressobj()
                    data = dec.decompress(data, _MAX_DECOMPRESSED)
                    if dec.unconsumed_tail:
                        raise ValueError(
                            "PDF stream exceeds decompression bound")
                except zlib.error as e:
                    raise ValueError(f"PDF Flate error: {e}") from e
                if isinstance(pm, dict):
                    data = self._unpredict(data, pm)
            elif f == "LZWDecode":
                early = 1
                if isinstance(pm, dict):
                    early = self.resolve(pm.get("EarlyChange", 1))
                data = _pdf_lzw_decode(data, early)
                if isinstance(pm, dict):
                    data = self._unpredict(data, pm)
            elif f == "ASCIIHexDecode":
                data = _ascii_hex_decode(data)
            elif f == "ASCII85Decode":
                data = _ascii85_decode(data)
            elif f == "RunLengthDecode":
                data = _run_length_decode(data)
            else:
                raise ValueError(f"PDF filter {f} unsupported")
        return data

    def _unpredict(self, data: bytes, pm: dict) -> bytes:
        """/DecodeParms row predictors (§7.4.4.4): 1 = none,
        2 = TIFF horizontal differencing, >=10 = the PNG filter set
        (each row led by its filter-type byte; Up is what xref
        streams almost always use). bpp derives from /Colors and
        /BitsPerComponent (both default 1 component × 8 bits)."""
        pred = self.resolve(pm.get("Predictor", 1))
        if pred in (None, 1):
            return data
        columns = self.resolve(pm.get("Columns", 1))
        colors = self.resolve(pm.get("Colors", 1))
        bpc = self.resolve(pm.get("BitsPerComponent", 8))
        if not all(isinstance(x, int) for x in (pred, columns,
                                                colors, bpc)) or \
                columns <= 0 or not (0 < colors <= 32) or \
                bpc not in (1, 2, 4, 8, 16):
            raise ValueError("PDF /DecodeParms invalid")
        bpp = max(1, colors * bpc // 8)
        rowlen = (columns * colors * bpc + 7) // 8
        if pred == 2:
            if bpc != 8 or len(data) % rowlen:
                raise ValueError("PDF TIFF predictor shape invalid")
            out = bytearray(data)
            for r in range(0, len(out), rowlen):
                for i in range(r + bpp, r + rowlen):
                    out[i] = (out[i] + out[i - bpp]) & 0xFF
            return bytes(out)
        if pred < 10:
            raise ValueError(f"PDF predictor {pred} unsupported")
        stride = rowlen + 1
        if len(data) % stride:
            raise ValueError("PDF PNG predictor shape invalid")
        out = bytearray()
        prev = bytearray(rowlen)
        for r in range(0, len(data), stride):
            ft = data[r]
            row = bytearray(data[r + 1:r + stride])
            if ft == 0:
                pass
            elif ft == 1:  # Sub
                for i in range(bpp, rowlen):
                    row[i] = (row[i] + row[i - bpp]) & 0xFF
            elif ft == 2:  # Up
                for i in range(rowlen):
                    row[i] = (row[i] + prev[i]) & 0xFF
            elif ft == 3:  # Average
                for i in range(rowlen):
                    left = row[i - bpp] if i >= bpp else 0
                    row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
            elif ft == 4:  # Paeth
                for i in range(rowlen):
                    a = row[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else \
                        (b if pb <= pc else c)
                    row[i] = (row[i] + pr) & 0xFF
            else:
                raise ValueError(f"PNG filter type {ft} invalid")
            out += row
            prev = row
        return bytes(out)


_OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")


def _extract_content_text(data: bytes) -> "list[str]":
    """Lex one content stream; returns text chunks (line boundaries
    as '\\n' entries). Real lexer: operands are collected and either
    consumed by a text-showing operator or dropped."""
    pos = 0
    n = len(data)
    chunks: list[str] = []
    operands: list = []
    while pos < n:
        pos = _skip_ws(data, pos)
        if pos >= n:
            break
        c = data[pos]
        if c == 0x28:
            s, pos = _parse_string(data, pos)
            operands.append(s)
        elif c == 0x3C and data[pos:pos + 2] != b"<<":
            s, pos = _parse_hex_string(data, pos)
            operands.append(s)
        elif c == 0x3C:  # inline dict (e.g. BDC properties): parse+drop
            v, pos = _parse_value(data, pos)
            operands.append(v)
        elif c == 0x5B:
            v, pos = _parse_value(data, pos)
            operands.append(v)
        elif c == 0x2F:
            nm, pos = _parse_name(data, pos)
            operands.append(nm)
        elif _NUM_RE.match(data, pos):
            m = _NUM_RE.match(data, pos)
            operands.append(m.group())
            pos = m.end()
        else:
            m = _OP_RE.match(data, pos)
            if not m:
                pos += 1  # tolerate stray delimiter bytes
                operands.clear()
                continue
            op = m.group()
            pos = m.end()
            if op == b"Tj":
                if operands and isinstance(operands[-1], bytes):
                    chunks.append(operands[-1].decode("latin-1"))
            elif op == b"TJ":
                if operands and isinstance(operands[-1], list):
                    chunks.append("".join(
                        x.decode("latin-1")
                        for x in operands[-1] if isinstance(x, bytes)))
            elif op in (b"'", b'"'):
                chunks.append("\n")
                if operands and isinstance(operands[-1], bytes):
                    chunks.append(operands[-1].decode("latin-1"))
            elif op in (b"Td", b"TD", b"T*", b"Tm", b"ET", b"BT"):
                chunks.append("\n")
            elif op == b"BI":
                # inline image: scan to EI (binary payload)
                e = data.find(b"EI", pos)
                if e < 0:
                    raise ValueError("PDF inline image unterminated")
                pos = e + 2
            operands.clear()
    return chunks


def extract_pdf_text(raw: bytes) -> "tuple[int, int, str]":
    """Returns (n_pages, n_objects, text). Text joins page content
    chunks; line boundaries normalize to newlines."""
    doc = _Document(raw)
    root = doc.resolve(doc.trailer["Root"])
    if not isinstance(root, dict):
        raise ValueError("PDF /Root is not a dictionary")
    pages: list[dict] = []

    def _walk(node, depth: int = 0) -> None:
        if depth > 32:
            raise ValueError("PDF page tree exceeds depth bound")
        node = doc.resolve(node)
        if not isinstance(node, dict):
            raise ValueError("PDF page tree node invalid")
        t = doc.resolve(node.get("Type"))
        if t == "Pages" or (t is None and "Kids" in node):
            kids = doc.resolve(node.get("Kids", []))
            if len(pages) + len(kids) > 10_000:
                raise ValueError("PDF page count exceeds bound")
            for k in kids:
                _walk(k, depth + 1)
        else:
            pages.append(node)

    _walk(root.get("Pages"))
    texts: list[str] = []
    for pg in pages:
        contents = doc.resolve(pg.get("Contents"))
        if contents is None:
            continue
        streams = contents if isinstance(contents, list) else [contents]
        data = b"".join(
            doc.stream_data(doc.resolve(s)) for s in streams)
        texts.extend(_extract_content_text(data))
        texts.append("\n")
    n_live = sum(1 for off in doc.offsets.values() if off is not None)
    return len(pages), n_live, "".join(texts)


PDF_TEXT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_pages", IntegerType()),
    StructField("n_objects", IntegerType()),
    StructField("text_words", LongType()),
    StructField("word_chars", LongType()),
    StructField("extract_error", StringType()),
])


def extract_pdf_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`extract_pdf_text` with
    whitespace-invariant text stats; per-payload quarantine, no
    shuffle — per-payload cost only at any corpus size."""

    def _parse(payload) -> dict:
        np_, no, text = extract_pdf_text(bytes(payload))
        toks = text.split()
        return {"n_pages": np_, "n_objects": no, "text_words": len(toks),
                "word_chars": sum(len(t) for t in toks)}

    return decode_map(df, _parse, PDF_TEXT_SCHEMA,
                      (ValueError, IndexError, RecursionError),
                      id_col, payload_col)
