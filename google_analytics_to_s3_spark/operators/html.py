"""HTML → text extraction for crawl pipelines (stdlib ``html.parser``).

The first stage of every web-scale LLM training-data pipeline is
turning raw crawl HTML into text: strip markup, drop script/style/
noscript/template payloads and comments, decode character references,
and keep block structure enough to count words/paragraphs/links.
This module implements that stage Spark-first: the parse itself is
inherently imperative (a tolerant SAX-style tag-soup walk — Python's
stdlib ``html.parser`` is the vectorization boundary), so it runs as
an Arrow ``mapInPandas`` with per-payload quarantine, exactly like the
image/audio byte paths (operators/multimodal.py). Everything
downstream (language ID, quality scores, dedup) composes on the
extracted columns via the existing operators.

Semantics (deterministic, oracle-replayable):

- only ``<body>`` text counts (``<head>`` is metadata; the first
  ``<title>`` is reported separately);
- content inside ``script``/``style``/``noscript``/``template`` and
  comments is dropped at any nesting depth;
- character references decode before counting
  (``convert_charrefs=True``);
- ``text_words`` = whitespace-token count, ``word_chars`` = summed
  token length — both invariant to whitespace normalization choices;
- ``n_links`` counts ``<a href=...>``, ``n_headings`` counts
  ``h1..h6``, ``n_paras`` counts ``<p>``.

At 100 TB the plan is scan → mapInPandas → columns: embarrassingly
parallel, no shuffle, cost strictly per-payload. No HTML surface
exists in the reference repo (mydatastack/google-analytics-to-s3).
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map

_SKIP_TAGS = {"script", "style", "noscript", "template"}
_VOID_TAGS = {"br", "img", "hr", "meta", "link", "input", "area",
              "base", "col", "embed", "source", "track", "wbr"}


class _TextExtractor(HTMLParser):
    """Tolerant tag-soup extractor; never raises on malformed HTML."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title_parts: list[str] = []
        self.text_parts: list[str] = []
        self.n_links = 0
        self.n_headings = 0
        self.n_paras = 0
        self._skip_depth = 0
        self._in_title = False
        self._in_head = False
        self._saw_body = False
        self._title_done = False

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "head":
            self._in_head = True
        elif tag == "body":
            self._saw_body = True
            self._in_head = False
        elif tag == "title":
            if not self._title_done:
                self._in_title = True
        elif tag == "a":
            if any(k == "href" for k, _ in attrs):
                self.n_links += 1
        elif tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            self.n_headings += 1
        elif tag == "p":
            self.n_paras += 1
        if tag not in _VOID_TAGS:
            # block boundary: any start tag separates text tokens
            self.text_parts.append("\n")

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "head":
            self._in_head = False
        elif tag == "title":
            self._in_title = False
            self._title_done = True
        self.text_parts.append("\n")

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        if self._in_head:
            return
        self.text_parts.append(data)


def extract_html_text(raw: str) -> "tuple[str, str, int, int, int]":
    """Returns (title, text, n_links, n_headings, n_paras).

    ``text`` is newline-joined body text with markup/script/style
    removed and entities decoded; callers derive whitespace-invariant
    stats (token count, summed token length) from it."""
    p = _TextExtractor()
    p.feed(raw)
    p.close()
    title = " ".join("".join(p.title_parts).split())
    text = "".join(p.text_parts)
    return title, text, p.n_links, p.n_headings, p.n_paras


HTML_FEATURES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("title", StringType()),
    StructField("n_links", IntegerType()),
    StructField("n_headings", IntegerType()),
    StructField("n_paras", IntegerType()),
    StructField("text_words", LongType()),
    StructField("word_chars", LongType()),
    StructField("extract_error", StringType()),
])


def extract_html_features(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`extract_html_text` with
    whitespace-invariant text stats; per-payload quarantine. Scan →
    map → columns: no shuffle, per-payload cost only."""

    def _parse(raw) -> dict:
        title, text, nl, nh, np_ = extract_html_text(str(raw))
        toks = text.split()
        return {"title": title, "n_links": nl, "n_headings": nh,
                "n_paras": np_, "text_words": len(toks),
                "word_chars": sum(len(t) for t in toks)}

    # html.parser is tolerant; anything escaping it is quarantined per
    # payload
    return decode_map(df, _parse, HTML_FEATURES_SCHEMA, (Exception,),
                      id_col, html_col)


class _JsonLdCollector(HTMLParser):
    """Collect <script type="application/ld+json"> block contents."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=False)
        self.blocks: list[str] = []
        self._active = False
        self._buf: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "script":
            t = next((v for k, v in attrs if k == "type"), "")
            if (t or "").strip().lower() == "application/ld+json":
                self._active = True
                self._buf = []

    def handle_endtag(self, tag):
        if tag == "script" and self._active:
            self._active = False
            self.blocks.append("".join(self._buf))

    def handle_data(self, data):
        if self._active:
            self._buf.append(data)


JSONLD_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_blocks", IntegerType()),
    StructField("n_valid", IntegerType()),
    StructField("n_articles", IntegerType()),
    StructField("n_products", IntegerType()),
    StructField("name_chars", LongType()),
    StructField("extract_error", StringType()),
])


def extract_jsonld(
    df: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Harvest schema.org JSON-LD structured data from HTML — the
    signal commercial crawl filters use for document typing. Counts
    ld+json blocks, how many parse as JSON, per-@type tallies
    (Article/Product), and summed entity-name length. Malformed
    blocks count toward ``n_blocks`` only (real pages embed broken
    JSON constantly); per-payload quarantine covers parser escapes."""
    import json as _json

    def _parse(raw) -> dict:
        c = _JsonLdCollector()
        c.feed(str(raw))
        c.close()
        n_valid = n_art = n_prod = chars = 0
        for block in c.blocks:
            try:
                obj = _json.loads(block)
            except _json.JSONDecodeError:
                continue
            n_valid += 1
            items = obj if isinstance(obj, list) else [obj]
            for it in items:
                if not isinstance(it, dict):
                    continue
                t = it.get("@type")
                if t == "Article":
                    n_art += 1
                elif t == "Product":
                    n_prod += 1
                name = it.get("name")
                if isinstance(name, str):
                    chars += len(name)
        return {"n_blocks": len(c.blocks), "n_valid": n_valid,
                "n_articles": n_art, "n_products": n_prod,
                "name_chars": chars}

    return decode_map(df, _parse, JSONLD_SCHEMA, (Exception,),
                      id_col, html_col)
