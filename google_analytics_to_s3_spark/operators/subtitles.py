"""SRT / WebVTT subtitle extraction — public formats (SubRip de-facto
grammar; WebVTT is a W3C spec).

Subtitles are a major conversational-text source for LLM training
corpora (every video crawl carries them). This module parses both
families for real:

- **SRT**: numbered cues, ``HH:MM:SS,mmm --> HH:MM:SS,mmm`` timing
  lines (comma millisecond separator), multi-line payloads, blank-
  line separation, tolerant of BOM and CRLF;
- **WebVTT**: the ``WEBVTT`` magic, ``NOTE``/``STYLE``/``REGION``
  blocks (skipped), optional cue identifiers, dot-millisecond
  timings with optional hours, cue settings after the arrow
  (dropped), and inline markup — ``<b>``, ``<i>``, ``<c.class>``,
  ``<v Speaker>``, ``<00:00:01.000>`` karaoke timestamps — stripped
  before counting.

Stats are whitespace-invariant (token count + summed token length)
like the HTML/PDF extractors, so the oracle check is robust to
line-joining conventions. Parse is per-payload imperative work →
Arrow ``mapInPandas`` with per-payload quarantine, no shuffle. No
subtitle surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map

_SRT_TIME = re.compile(
    r"(\d+):(\d{2}):(\d{2}),(\d{3})\s*-->\s*(\d+):(\d{2}):(\d{2}),(\d{3})"
)
_VTT_TIME = re.compile(
    r"(?:(\d+):)?(\d{2}):(\d{2})\.(\d{3})\s*-->\s*"
    r"(?:(\d+):)?(\d{2}):(\d{2})\.(\d{3})"
)
_VTT_TAG = re.compile(r"<[^>]*>")


def _srt_ms(h: str, m: str, s: str, ms: str) -> int:
    return ((int(h) * 60 + int(m)) * 60 + int(s)) * 1000 + int(ms)


def parse_srt(text: str) -> "list[tuple[int, int, str]]":
    """Returns [(start_ms, end_ms, payload_text)]."""
    cues: list[tuple[int, int, str]] = []
    blocks = re.split(r"\r?\n\r?\n+", text.lstrip("﻿").strip())
    for block in blocks:
        lines = [l for l in block.splitlines()]
        ti = None
        for i, line in enumerate(lines[:2]):
            if _SRT_TIME.search(line):
                ti = i
                break
        if ti is None:
            continue  # tolerant: junk block
        m = _SRT_TIME.search(lines[ti])
        start = _srt_ms(*m.groups()[:4])
        end = _srt_ms(*m.groups()[4:])
        if end < start:
            raise ValueError("SRT cue ends before it starts")
        cues.append((start, end, "\n".join(lines[ti + 1:])))
        if len(cues) > 1_000_000:
            raise ValueError("SRT cue count exceeds bound")
    return cues


def _vtt_ms(h: str, m: str, s: str, ms: str) -> int:
    return (((int(h) if h else 0) * 60 + int(m)) * 60
            + int(s)) * 1000 + int(ms)


def parse_vtt(text: str) -> "list[tuple[int, int, str]]":
    """Returns [(start_ms, end_ms, markup-stripped payload_text)]."""
    text = text.lstrip("﻿")
    if not text.startswith("WEBVTT"):
        raise ValueError("WEBVTT magic missing")
    cues: list[tuple[int, int, str]] = []
    blocks = re.split(r"\r?\n\r?\n+", text.strip())
    for block in blocks[0:]:
        lines = block.splitlines()
        if not lines:
            continue
        head = lines[0].strip()
        if head.startswith(("WEBVTT", "NOTE", "STYLE", "REGION")):
            continue
        ti = None
        for i, line in enumerate(lines[:2]):
            if _VTT_TIME.search(line):
                ti = i
                break
        if ti is None:
            continue
        m = _VTT_TIME.search(lines[ti])
        start = _vtt_ms(*m.groups()[:4])
        end = _vtt_ms(*m.groups()[4:])
        if end < start:
            raise ValueError("VTT cue ends before it starts")
        payload = "\n".join(lines[ti + 1:])
        cues.append((start, end, _VTT_TAG.sub("", payload)))
        if len(cues) > 1_000_000:
            raise ValueError("VTT cue count exceeds bound")
    return cues


SUBTITLE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_cues", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("text_words", LongType()),
    StructField("word_chars", LongType()),
    StructField("extract_error", StringType()),
])


def extract_subtitle_features(
    df: DataFrame, fmt: str = "srt",
    id_col: str = "doc_id", text_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_srt` /
    :func:`parse_vtt`: cue count, summed cue durations, and
    whitespace-invariant text stats."""
    parser = parse_srt if fmt == "srt" else parse_vtt

    def _parse(raw) -> dict:
        cues = parser(str(raw))
        toks = [t for _, _, payload in cues for t in payload.split()]
        return {"n_cues": len(cues),
                "duration_ms": sum(e - s for s, e, _ in cues),
                "text_words": len(toks),
                "word_chars": sum(len(t) for t in toks)}

    return decode_map(df, _parse, SUBTITLE_SCHEMA, (ValueError, IndexError),
                      id_col, text_col)
