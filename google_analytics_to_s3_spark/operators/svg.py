"""SVG feature extraction — public spec (W3C SVG 1.1/2.0); parsed
with stdlib ``xml.etree`` (Expat's billion-laughs amplification
protection is on by default in modern Expat; a payload size bound
backs it up).

SVG is the web's vector image format — a distinct modality in crawl
corpora (logos, figures, charts) whose TEXT content is extractable
training data and whose ``<script>`` content is a safety signal.
Extracted per document:

- root ``width``/``height`` (unit suffixes stripped, ``viewBox``
  fallback),
- element counts: total, ``path``, ``rect``/``circle``/``ellipse``
  shapes, ``text``/``tspan`` nodes,
- whitespace-invariant text stats over text nodes (tail text
  included, namespace-agnostic tag matching),
- ``has_script`` — whether any ``script`` element is present.

Per-payload imperative parse → Arrow ``mapInPandas`` with quarantine,
no shuffle. No SVG surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map

_MAX_SVG = 16 * 1024 * 1024
_NUM = re.compile(r"[-+]?\d*\.?\d+")
_SHAPES = {"rect", "circle", "ellipse", "line", "polygon", "polyline"}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _dim(value: "str | None") -> "int | None":
    if not value:
        return None
    m = _NUM.match(value.strip())
    return int(float(m.group())) if m else None


def parse_svg(raw: str) -> dict:
    if len(raw) > _MAX_SVG:
        raise ValueError("SVG exceeds size bound")
    try:
        root = ET.fromstring(raw)
    except ET.ParseError as e:
        raise ValueError(f"SVG parse error: {e}") from e
    if _local(root.tag) != "svg":
        raise ValueError("root element is not <svg>")
    width = _dim(root.get("width"))
    height = _dim(root.get("height"))
    if (width is None or height is None) and root.get("viewBox"):
        parts = root.get("viewBox").replace(",", " ").split()
        if len(parts) == 4:
            width = width if width is not None \
                else int(float(parts[2]))
            height = height if height is not None \
                else int(float(parts[3]))
    n_elements = 0
    n_paths = 0
    n_shapes = 0
    n_text = 0
    has_script = 0
    words: list[str] = []
    for el in root.iter():
        n_elements += 1
        tag = _local(el.tag)
        if tag == "path":
            n_paths += 1
        elif tag in _SHAPES:
            n_shapes += 1
        elif tag in ("text", "tspan"):
            n_text += 1
            if el.text:
                words.extend(el.text.split())
        elif tag == "script":
            has_script = 1
        if el.tail and _local(el.tag) in ("text", "tspan"):
            words.extend(el.tail.split())
    return {"width": width, "height": height,
            "n_elements": n_elements, "n_paths": n_paths,
            "n_shapes": n_shapes, "n_text": n_text,
            "has_script": has_script, "words": words}


SVG_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_elements", IntegerType()),
    StructField("n_paths", IntegerType()),
    StructField("n_shapes", IntegerType()),
    StructField("n_text", IntegerType()),
    StructField("has_script", IntegerType()),
    StructField("text_words", LongType()),
    StructField("word_chars", LongType()),
    StructField("extract_error", StringType()),
])


def extract_svg_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_svg`."""

    def _parse(raw) -> dict:
        m = parse_svg(str(raw))
        return {**m, "text_words": len(m["words"]),
                "word_chars": sum(len(t) for t in m["words"])}

    return decode_map(df, _parse, SVG_SCHEMA, (ValueError, IndexError),
                      id_col, text_col)
