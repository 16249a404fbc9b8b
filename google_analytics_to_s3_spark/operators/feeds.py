"""Sitemap / RSS / Atom feed parsing — public formats
(sitemaps.org protocol; RSS 2.0; RFC 4287 Atom), stdlib ``xml.etree``
with a size bound.

Crawl frontiers are seeded from sitemaps and feeds; a re-processing
pipeline parses archived copies to reconstruct discovery order and
freshness. Implemented:

- **sitemaps**: ``urlset`` entries (``loc``/``lastmod``) and
  ``sitemapindex`` references, namespace-agnostic;
- **feeds**: RSS 2.0 (``channel``/``item``) and Atom
  (``feed``/``entry``) normalized to one shape — feed title, item
  count, item-title text stats, link count.

Per-payload imperative parse → Arrow ``mapInPandas`` with quarantine,
no shuffle. No feed surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
"""

from __future__ import annotations

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

_MAX_XML = 32 * 1024 * 1024


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _root(raw: str) -> ET.Element:
    if len(raw) > _MAX_XML:
        raise ValueError("XML exceeds size bound")
    try:
        return ET.fromstring(raw)
    except ET.ParseError as e:
        raise ValueError(f"XML parse error: {e}") from e


def parse_sitemap(raw: str) -> dict:
    """Returns is_index, urls ([(loc, lastmod_or_None)])."""
    root = _root(raw)
    kind = _local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        raise ValueError("root is not urlset/sitemapindex")
    urls: list[tuple[str, "str | None"]] = []
    for el in root:
        if _local(el.tag) not in ("url", "sitemap"):
            continue
        loc = None
        lastmod = None
        for sub in el:
            if _local(sub.tag) == "loc":
                loc = (sub.text or "").strip()
            elif _local(sub.tag) == "lastmod":
                lastmod = (sub.text or "").strip()
        if loc:
            urls.append((loc, lastmod))
        if len(urls) > 1_000_000:
            raise ValueError("sitemap entry count exceeds bound")
    return {"is_index": int(kind == "sitemapindex"), "urls": urls}


def parse_feed(raw: str) -> dict:
    """RSS 2.0 or Atom normalized: feed title, item titles, links."""
    root = _root(raw)
    kind = _local(root.tag)
    if kind == "rss":
        channel = next((el for el in root
                        if _local(el.tag) == "channel"), None)
        if channel is None:
            raise ValueError("RSS without a channel")
        feed_title = next((el.text or "" for el in channel
                           if _local(el.tag) == "title"), "")
        items = [el for el in channel if _local(el.tag) == "item"]
    elif kind == "feed":
        feed_title = next((el.text or "" for el in root
                           if _local(el.tag) == "title"), "")
        items = [el for el in root if _local(el.tag) == "entry"]
    else:
        raise ValueError("root is not rss/feed")
    titles: list[str] = []
    n_links = 0
    for it in items:
        for sub in it:
            tag = _local(sub.tag)
            if tag == "title":
                titles.append(sub.text or "")
            elif tag == "link":
                n_links += 1
        if len(titles) > 1_000_000:
            raise ValueError("feed item count exceeds bound")
    return {"kind": kind, "feed_title": feed_title.strip(),
            "titles": titles, "n_items": len(items),
            "n_links": n_links}


SITEMAP_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("is_index", IntegerType()),
    StructField("n_urls", IntegerType()),
    StructField("n_with_lastmod", IntegerType()),
    StructField("latest_year", IntegerType()),
    StructField("extract_error", StringType()),
])


def extract_sitemap_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_sitemap`."""

    def _parse(raw) -> dict:
        m = parse_sitemap(str(raw))
        lastmods = [lm for _, lm in m["urls"] if lm]
        years = [int(lm[:4]) for lm in lastmods if lm[:4].isdigit()]
        return {"is_index": m["is_index"], "n_urls": len(m["urls"]),
                "n_with_lastmod": len(lastmods),
                "latest_year": max(years) if years else None}

    return decode_map(df, _parse, SITEMAP_SCHEMA, (ValueError, IndexError),
                      id_col, text_col)


FEED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("is_atom", IntegerType()),
    StructField("feed_title", StringType()),
    StructField("n_items", IntegerType()),
    StructField("n_links", IntegerType()),
    StructField("title_words", LongType()),
    StructField("title_chars", LongType()),
    StructField("extract_error", StringType()),
])


def extract_feed_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_feed`."""

    def _parse(raw) -> dict:
        m = parse_feed(str(raw))
        toks = [t for title in m["titles"] for t in title.split()]
        return {"is_atom": int(m["kind"] == "feed"),
                "feed_title": m["feed_title"], "n_items": m["n_items"],
                "n_links": m["n_links"], "title_words": len(toks),
                "title_chars": sum(len(t) for t in toks)}

    return decode_map(df, _parse, FEED_SCHEMA, (ValueError, IndexError),
                      id_col, text_col)
