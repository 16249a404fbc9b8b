"""WARC (Web ARChive, ISO 28500 / WARC 1.0) reader — the format
Common Crawl ships, i.e. the single most common on-disk shape of web
training data. Real byte path, public structure only:

- optional per-record gzip members (the Common Crawl layout:
  each record its own gzip stream, members concatenated) via stdlib
  zlib with ``unused_data`` member splitting — plain concatenated
  records also accepted;
- record grammar: ``WARC/1.0`` version line, CRLF header block
  (case-insensitive field names; ``Content-Length`` is the
  authoritative payload size), CRLF CRLF, payload, CRLF CRLF;
- record types (warcinfo / request / response / metadata /
  resource / conversion) tallied; for ``response`` records the HTTP
  payload is parsed too: status line, header block, body split —
  giving per-document body bytes the way a crawl pipeline consumes
  them;
- a 1→N explode (``warc_documents``) that turns each archive into
  one row per response — the exact shape a training-data pipeline
  feeds downstream (dedup, language ID, quality filters all operate
  on these rows).

Chunked transfer-encoded response bodies decode for REAL as of r11
(RFC 9112 §7.1: hex size lines with extensions, trailer fields,
terminating blank line — malformed framing quarantines, never yields
a silently-wrong body). Honest gates (named ValueError, quarantined
per payload by the Spark wrappers): versions other than
WARC/0.17/0.18/1.0/1.1, records whose Content-Length overruns the
file, and malformed header blocks. No WARC surface exists in the
reference repo (beyond-reference LLM-pipeline surface, SURVEY §2.12).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)
from .fuse import id_payload_projection
from .payload_memo import decode_map, dedup_payload_batches, tally_schema

__all__ = ["parse_warc", "warc_features", "extract_warc_features",
           "warc_documents"]

_VERSIONS = (b"WARC/1.0", b"WARC/1.1", b"WARC/0.18", b"WARC/0.17")


def _gunzip_members(raw: bytes) -> bytes:
    """Concatenated gzip members -> concatenated plaintext (the
    Common Crawl record-per-member layout)."""
    out = bytearray()
    rest = raw
    members = 0
    while rest:
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            out += d.decompress(rest)
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member: {e}") from e
        out += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member")
        members += 1
        if members > 100_000:
            raise ValueError("gzip member count exceeds resource bound")
        rest = d.unused_data
    return bytes(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if b":" not in line:
            raise ValueError("malformed header line (no colon)")
        k, v = line.split(b":", 1)
        try:
            headers[k.strip().decode("ascii").lower()] = (
                v.strip().decode("utf-8", "replace"))
        except UnicodeDecodeError as e:
            raise ValueError("non-ASCII header name") from e
    return headers


def _dechunk(body: bytes) -> bytes:
    """HTTP/1.1 chunked transfer decoding (RFC 9112 §7.1): each chunk
    is ``<hex-size>[;ext]\\r\\n <data> \\r\\n``, terminated by a
    zero-size chunk; trailer fields after the last chunk (through the
    final blank line) are consumed and discarded. Truncated or
    malformed framing is a named ValueError (quarantine), never a
    silently-wrong body."""
    out = bytearray()
    pos = 0
    n = len(body)
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("chunked body: unterminated size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as e:
            raise ValueError("chunked body: bad chunk size") from e
        if size < 0 or size > n:
            raise ValueError("chunked body: chunk size out of range")
        pos = eol + 2
        if size == 0:
            # trailer section: zero or more header lines, then CRLF
            while True:
                eol = body.find(b"\r\n", pos)
                if eol < 0:
                    raise ValueError(
                        "chunked body: unterminated trailer")
                if eol == pos:  # blank line ends the message
                    return bytes(out)
                pos = eol + 2
        if pos + size + 2 > n:
            raise ValueError("chunked body: chunk data truncated")
        out += body[pos:pos + size]
        if body[pos + size:pos + size + 2] != b"\r\n":
            raise ValueError("chunked body: chunk CRLF missing")
        pos += size + 2


def parse_warc(raw: bytes) -> list[dict]:
    """Full archive walk -> one dict per record: warc headers, the
    exact payload bytes, and (for responses) the parsed HTTP status,
    header count and body bytes."""
    if raw[:2] == b"\x1f\x8b":
        raw = _gunzip_members(raw)
    records = []
    pos = 0
    while pos < len(raw):
        # tolerate record separators already consumed
        while raw[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= len(raw):
            break
        eol = raw.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("unterminated WARC version line")
        version = raw[pos:eol]
        if version not in _VERSIONS:
            raise ValueError(
                f"unsupported WARC version {version[:20]!r}"
            )
        hdr_end = raw.find(b"\r\n\r\n", eol)
        if hdr_end < 0:
            raise ValueError("unterminated WARC header block")
        headers = _parse_headers(raw[eol + 2:hdr_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("missing/invalid Content-Length") from e
        body_start = hdr_end + 4
        if length < 0 or body_start + length > len(raw):
            raise ValueError("Content-Length overruns the archive")
        payload = raw[body_start:body_start + length]
        rec = {
            "type": headers.get("warc-type", ""),
            "uri": headers.get("warc-target-uri", ""),
            "n_headers": len(headers),
            "payload": payload,
        }
        if rec["type"] == "response":
            line_end = payload.find(b"\r\n")
            split = payload.find(b"\r\n\r\n")
            if line_end < 0 or split < 0:
                raise ValueError("malformed HTTP response payload")
            status_parts = payload[:line_end].split(b" ")
            if len(status_parts) < 2 or not status_parts[0].startswith(
                    b"HTTP/"):
                raise ValueError("malformed HTTP status line")
            try:
                rec["status"] = int(status_parts[1])
            except ValueError as e:
                raise ValueError("non-numeric HTTP status") from e
            http_headers = _parse_headers(payload[line_end + 2:split])
            rec["http_header_count"] = len(http_headers)
            rec["content_type"] = http_headers.get("content-type", "")
            body = payload[split + 4:]
            te = http_headers.get("transfer-encoding", "").lower()
            if "chunked" in te:
                # RFC 9112 §7.1 — common in Common Crawl responses
                body = _dechunk(body)
            rec["body"] = body
        records.append(rec)
        pos = body_start + length
        if raw[pos:pos + 4] == b"\r\n\r\n":
            pos += 4
    if not records:
        raise ValueError("no WARC records")
    return records


def warc_features(raw: bytes) -> dict:
    """Per-archive integer readout for the driver oracle."""
    recs = parse_warc(raw)
    responses = [r for r in recs if r["type"] == "response"]
    return {
        "n_records": len(recs),
        "n_responses": len(responses),
        "n_requests": sum(1 for r in recs if r["type"] == "request"),
        "n_warcinfo": sum(1 for r in recs if r["type"] == "warcinfo"),
        "status_sum": sum(r["status"] for r in responses),
        "body_len_sum": sum(len(r["body"]) for r in responses),
        "body_byte_sum": sum(sum(r["body"]) for r in responses),
        "uri_len_sum": sum(len(r["uri"]) for r in recs),
        "header_count_sum": sum(r["n_headers"] for r in recs),
        "http_header_sum": sum(r["http_header_count"]
                               for r in responses),
    }


_WARC_INT = ("n_records", "n_responses", "n_requests", "n_warcinfo",
             "status_sum", "body_len_sum", "body_byte_sum",
             "uri_len_sum", "header_count_sum", "http_header_sum")


def extract_warc_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`warc_features` — one
    row per archive; per-payload quarantine, no shuffle."""
    return decode_map(df, lambda p: warc_features(bytes(p)),
                      tally_schema(_WARC_INT),
                      (ValueError, IndexError, struct.error, zlib.error),
                      id_col, payload_col)


WARC_DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("rec_no", LongType()),
    StructField("uri", StringType()),
    StructField("status", LongType()),
    StructField("body_len", LongType()),
    StructField("body_byte_sum", LongType()),
])


def warc_documents(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """The 1→N crawl explode: one row per RESPONSE record — (archive
    id, record ordinal, target URI, HTTP status, body length, exact
    body byte sum). This is the row shape the rest of the pipeline
    (dedup, language ID, quality filters) consumes. Archives that
    fail to parse contribute zero rows (the per-archive feature
    reader is the place to audit errors)."""

    def _parse(payload) -> list[dict]:
        resp = [r for r in parse_warc(bytes(payload))
                if r["type"] == "response"]
        return [{"rec_no": rn, "uri": r["uri"], "status": r["status"],
                 "body_len": len(r["body"]),
                 "body_byte_sum": sum(r["body"])}
                for rn, r in enumerate(resp)]

    return decode_map(df, _parse, WARC_DOCS_SCHEMA,
                      (ValueError, IndexError, zlib.error),
                      id_col, payload_col)


def warc_html_rows(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """The 1→N crawl explode for HTML payloads: one row per text/html
    RESPONSE record — (row_id = archive_id * 1_000_000 + ordinal,
    archive_id, uri, html). The 1e6 stride keeps row_ids collision-free
    for any real archive (Common Crawl WARCs hold ~30-50k records; an
    archive with ≥1e6 responses raises rather than silently colliding
    with the next archive's ids). archive_id is also emitted as its own
    column, so downstream grouping never needs to invert row_id. Feeds
    operators/html.extract_html_features; everything downstream
    (quality, dedup, aggregation) is declarative DataFrame code.
    Archives that fail to parse contribute zero rows."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "row_id", "archive_id", "uri", "html")}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    recs = parse_warc(bytes(payload))
                except (ValueError, IndexError, zlib.error):
                    continue
                rn = 0
                for r in recs:
                    if r["type"] != "response":
                        continue
                    if rn >= 1_000_000:
                        raise ValueError(
                            "warc_html_rows: archive %d has >=1e6 "
                            "response records; row_id stride exhausted"
                            % int(doc_id))
                    ctype = r.get("content_type", "")
                    if "text/html" in ctype:
                        out["row_id"].append(int(doc_id) * 1_000_000 + rn)
                        out["archive_id"].append(doc_id)
                        out["uri"].append(r["uri"])
                        out["html"].append(
                            r["body"].decode("utf-8", "replace"))
                    rn += 1
            yield pd.DataFrame({
                "row_id": pd.Series(out["row_id"], dtype="int64"),
                "archive_id": pd.Series(out["archive_id"],
                                        dtype="int64"),
                "uri": pd.Series(out["uri"], dtype=object),
                "html": pd.Series(out["html"], dtype=object),
            })

    # payload-dedup (r13 opt): archive_id is the pass-through id;
    # row_id is rebuilt from it on replicated rows (ordinal < 1e6)
    def _fix_row_id(sub):
        sub["row_id"] = (sub["archive_id"] * 1_000_000
                         + sub["row_id"] % 1_000_000).astype("int64")
        return sub

    return id_payload_projection(df, id_col, payload_col).mapInPandas(
        dedup_payload_batches(_run, id_col, payload_col,
                              out_id_col="archive_id",
                              fixup=_fix_row_id),
        schema="row_id long, archive_id long, uri string, html string",
    )
