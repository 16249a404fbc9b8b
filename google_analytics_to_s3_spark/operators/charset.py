"""Charset sniffing + transcoding — the WHATWG-encoding-style
front door every crawl pipeline needs before text ops (public specs:
Unicode BOMs, WHATWG encoding sniffing, HTML meta charset).

Order of evidence (highest precedence first), mirroring browsers:

1. **BOM**: UTF-8 / UTF-16 LE/BE / UTF-32 LE/BE byte-order marks
   (UTF-32 checked before UTF-16 — its BOMs are supersets).
2. **Transport hint**: a ``charset=`` parameter from the HTTP
   Content-Type header, when the caller passes one.
3. **HTML meta prescan**: ``<meta charset=...>`` or the http-equiv
   content-type form, scanned ASCII-wise in the first 1024 bytes.
4. **Content heuristics**: strict UTF-8 trial decode; the
   zero-byte-stripe test for BOM-less UTF-16 (ASCII-heavy text in
   UTF-16 puts NULs on alternating sides); windows-1252 fallback
   (the WHATWG default for latin-1-labeled/unlabeled bytes).

The decode itself is CPython's codec machinery (independently
correct); this module's surface — the sniffing ladder and the Spark
plumbing — is what the planted-rule oracle pins. Transcoded output
normalizes to NFC? No — normalization stays in textnorm.py; this
operator only gets bytes -> str faithfully.

No charset surface exists in the reference repo (beyond-reference
LLM-pipeline surface, SURVEY §2.12).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from .payload_memo import decode_map, tally_schema

__all__ = ["sniff_charset", "transcode", "extract_transcoded",
           "ENCODING_IDS"]

# stable integer ids for the driver oracle readout
ENCODING_IDS = {
    "utf-8": 1, "utf-16-le": 2, "utf-16-be": 3,
    "utf-32-le": 4, "utf-32-be": 5, "windows-1252": 6,
}

_META_RE = re.compile(
    rb"<meta[^>]{0,200}?charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:-]+)",
    re.IGNORECASE | re.DOTALL)

_CHARSET_PARAM_RE = re.compile(r"charset\s*=\s*[\"']?([A-Za-z0-9_.:-]+)",
                               re.IGNORECASE)

_LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "utf-16": "utf-16-le", "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "iso-8859-1": "windows-1252", "latin-1": "windows-1252",
    "latin1": "windows-1252", "us-ascii": "utf-8", "ascii": "utf-8",
}


def _label_to_encoding(label: str) -> "str | None":
    return _LABELS.get(label.strip().lower())


def sniff_charset(raw: bytes, content_type: str = ""
                  ) -> "tuple[str, str]":
    """Returns (encoding, evidence) — evidence in
    {'bom', 'header', 'meta', 'utf8', 'utf16-stripe', 'fallback'}."""
    if raw[:4] in (b"\xff\xfe\x00\x00",):
        return "utf-32-le", "bom"
    if raw[:4] == b"\x00\x00\xfe\xff":
        return "utf-32-be", "bom"
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8", "bom"
    if raw[:2] == b"\xff\xfe":
        return "utf-16-le", "bom"
    if raw[:2] == b"\xfe\xff":
        return "utf-16-be", "bom"
    m = _CHARSET_PARAM_RE.search(content_type or "")
    if m:
        enc = _label_to_encoding(m.group(1))
        if enc:
            return enc, "header"
    m = _META_RE.search(raw[:1024])
    if m:
        enc = _label_to_encoding(m.group(1).decode("ascii", "replace"))
        if enc:
            return enc, "meta"
    # BOM-less UTF-16 of ASCII-heavy text is VALID UTF-8 (NULs pass
    # the trial decode), so the zero-byte-stripe test must run first
    head = raw[:512]
    if len(head) >= 8:
        even_z = head[0::2].count(0)
        odd_z = head[1::2].count(0)
        half = len(head) // 2
        if odd_z > half * 0.7 and even_z < half * 0.1:
            return "utf-16-le", "utf16-stripe"
        if even_z > half * 0.7 and odd_z < half * 0.1:
            return "utf-16-be", "utf16-stripe"
    try:
        raw.decode("utf-8", "strict")
        return "utf-8", "utf8"
    except UnicodeDecodeError:
        pass
    return "windows-1252", "fallback"


def transcode(raw: bytes, content_type: str = ""
              ) -> "tuple[str, str, str, int]":
    """Returns (text, encoding, evidence, n_replacements). BOMs are
    stripped from the decoded text; undecodable bytes become U+FFFD
    and are counted (windows-1252's five unassigned bytes decode via
    latin-1 positions per the WHATWG mapping)."""
    enc, evidence = sniff_charset(raw, content_type)
    if evidence == "bom":
        raw = raw[{"utf-8": 3, "utf-16-le": 2, "utf-16-be": 2,
                   "utf-32-le": 4, "utf-32-be": 4}[enc]:]
    codec = {"utf-8": "utf-8", "utf-16-le": "utf-16-le",
             "utf-16-be": "utf-16-be", "utf-32-le": "utf-32-le",
             "utf-32-be": "utf-32-be",
             "windows-1252": "cp1252"}[enc]
    try:
        text = raw.decode(codec, "strict")
        nrep = 0
    except UnicodeDecodeError:
        if codec == "cp1252":
            # WHATWG windows-1252: the five cp1252 holes map to the
            # latin-1 control positions instead of failing
            text = raw.decode("cp1252", "replace")
            holes = sum(raw.count(b)
                        for b in (0x81, 0x8D, 0x8F, 0x90, 0x9D))
            if text.count("�") == holes:
                text = "".join(
                    chr(b) if b in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
                    else raw[i:i + 1].decode("cp1252")
                    for i, b in enumerate(raw))
                nrep = 0
            else:
                nrep = text.count("�")
        else:
            text = raw.decode(codec, "replace")
            nrep = text.count("�")
    return text, enc, evidence, nrep


_EVIDENCE_IDS = {"bom": 1, "header": 2, "meta": 3, "utf8": 4,
                 "utf16-stripe": 5, "fallback": 6}

_INT_COLS = ("encoding_id", "evidence_id", "n_chars", "cp_sum",
             "n_replacements", "n_non_ascii")


def extract_transcoded(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
    content_type_col: "str | None" = None,
) -> DataFrame:
    """Arrow `mapInPandas`: sniff + transcode each payload; exact
    integer readout (encoding/evidence ids, char count, codepoint
    sum, replacement + non-ASCII counts). Per-payload quarantine."""

    def _parse(payload, *content_type) -> dict:
        hint = str(content_type[0]) if content_type else ""
        text, enc, evidence, nrep = transcode(bytes(payload), hint)
        return {"encoding_id": ENCODING_IDS[enc],
                "evidence_id": _EVIDENCE_IDS[evidence],
                "n_chars": len(text), "cp_sum": sum(ord(c) for c in text),
                "n_replacements": nrep,
                "n_non_ascii": sum(1 for c in text if ord(c) > 127)}

    # the optional content-type hint drives the transcode too, so it
    # joins the payload in the dedup key
    cols = [payload_col, *([content_type_col] if content_type_col else [])]
    return decode_map(df, _parse, tally_schema(_INT_COLS),
                      (ValueError, LookupError), id_col, cols)
