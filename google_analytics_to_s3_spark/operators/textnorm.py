"""Unicode text normalization / mojibake repair — the ftfy-class
cleanup stage every web-text corpus runs before tokenization
(public algorithms: Unicode TR#15 normalization via stdlib
``unicodedata``, and the classic UTF-8-read-as-Latin-1 round-trip
repair).

Three real defect classes, each detected and fixed:

- **mojibake**: text whose code points are all <= 0xFF and which
  DECODES as the Latin-1 bytes of valid multi-byte UTF-8 (the 'Ã©'
  for 'é' class) is round-tripped ``latin-1 encode → utf-8 decode``;
  repair is attempted per whitespace token so one genuine Latin-1
  word cannot block a page-level fix, and only applied when the
  token actually contains a multi-byte sequence (pure ASCII is left
  alone);
- **control/zero-width stripping**: C0/C1 controls (except
  tab/newline), ZWSP/ZWNJ/ZWJ/BOM;
- **NFC normalization**: combining sequences composed per TR#15
  (stdlib ``unicodedata.normalize``).

Counts (tokens repaired, controls stripped, code points removed by
composition) are exact and oracle-replayable. Arrow ``mapInPandas``,
no shuffle. No normalization surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map

_ZERO_WIDTH = {"​", "‌", "‍", "﻿"}


def _try_repair_token(tok: str) -> "tuple[str, bool]":
    """The latin-1/utf-8 round trip, applied only when it yields
    strictly valid multi-byte UTF-8 (never touches plain ASCII)."""
    if not tok or all(ord(c) < 0x80 for c in tok):
        return tok, False
    if any(ord(c) > 0xFF for c in tok):
        return tok, False
    try:
        raw = tok.encode("latin-1")
        fixed = raw.decode("utf-8")
    except (UnicodeEncodeError, UnicodeDecodeError):
        return tok, False
    if fixed == tok:
        return tok, False
    return fixed, True


def normalize_text(text: str) -> dict:
    """Returns the cleaned text plus exact repair counts."""
    repaired = 0
    toks_out: list[str] = []
    for tok in text.split(" "):
        fixed, did = _try_repair_token(tok)
        repaired += int(did)
        toks_out.append(fixed)
    text = " ".join(toks_out)
    stripped = 0
    kept: list[str] = []
    for ch in text:
        cat = unicodedata.category(ch)
        if (cat == "Cc" and ch not in "\t\n") or ch in _ZERO_WIDTH:
            stripped += 1
        else:
            kept.append(ch)
    text = "".join(kept)
    before = len(text)
    text = unicodedata.normalize("NFC", text)
    composed = before - len(text)
    return {"text": text, "repaired_tokens": repaired,
            "stripped_controls": stripped,
            "composed_points": composed}


TEXTNORM_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("repaired_tokens", IntegerType()),
    StructField("stripped_controls", IntegerType()),
    StructField("composed_points", IntegerType()),
    StructField("out_chars", LongType()),
    StructField("extract_error", StringType()),
])


def normalize_text_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`normalize_text`."""

    def _parse(raw) -> dict:
        m = normalize_text(str(raw))
        return {**m, "out_chars": len(m["text"])}

    return decode_map(df, _parse, TEXTNORM_SCHEMA, (ValueError, IndexError),
                      id_col, text_col)


def _char_script(ch: str) -> "str | None":
    """Script bucket from the Unicode character name's leading word
    (stdlib unicodedata exposes names, not the Script property; the
    leading word — LATIN, CYRILLIC, GREEK, ARABIC, CJK, HANGUL,
    HIRAGANA, KATAKANA, DEVANAGARI, ... — is the standard stdlib-only
    approximation). Non-alphabetic characters are script-neutral."""
    if not ch.isalpha():
        return None
    try:
        return unicodedata.name(ch).split(" ", 1)[0]
    except ValueError:
        return None


def script_mix(text: str) -> dict:
    """Per-token script analysis: mixed-script tokens are the IDN
    homograph / spam signal (a Latin word with one Cyrillic 'а'
    passes visual review and fails string match)."""
    n_tokens = 0
    n_mixed = 0
    n_nonlatin = 0
    scripts: set[str] = set()
    for tok in text.split():
        tok_scripts = {s for s in (_char_script(c) for c in tok)
                       if s is not None}
        if not tok_scripts:
            continue  # digits/punctuation only: script-neutral
        n_tokens += 1
        scripts |= tok_scripts
        if len(tok_scripts) > 1:
            n_mixed += 1
        elif "LATIN" not in tok_scripts:
            n_nonlatin += 1
    return {"n_tokens": n_tokens, "n_mixed": n_mixed,
            "n_nonlatin": n_nonlatin,
            "n_scripts": len(scripts)}


SCRIPT_MIX_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_tokens", IntegerType()),
    StructField("n_mixed", IntegerType()),
    StructField("n_nonlatin", IntegerType()),
    StructField("n_scripts", IntegerType()),
    StructField("extract_error", StringType()),
])


def script_mix_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`script_mix`."""
    return decode_map(df, lambda raw: script_mix(str(raw)),
                      SCRIPT_MIX_SCHEMA, (ValueError, IndexError),
                      id_col, text_col)
