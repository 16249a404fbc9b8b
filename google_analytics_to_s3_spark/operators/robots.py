"""robots.txt parsing + Robots Exclusion Protocol evaluation —
public spec (RFC 9309; Crawl-delay and Sitemap are the de-facto
extensions every large crawler honors).

A crawl pipeline that feeds an LLM corpus must evaluate REP before
fetching; at re-processing time the same evaluation filters archived
URL sets against the robots snapshots stored beside them. Implemented
for real:

- **grammar**: ``field: value`` lines, ``#`` comments (inline too),
  case-insensitive field names, CRLF/BOM tolerance, group formation
  per RFC 9309 §2.1 (consecutive user-agent lines share the
  following rule block; rules before any user-agent line are
  ignored; ``Sitemap`` is global and group-independent);
- **matching**: longest-agent-substring group selection with ``*``
  fallback, per-rule wildcard patterns (``*`` any-sequence, ``$``
  end anchor), longest-pattern-wins precedence with ALLOW winning
  length ties (RFC 9309 §2.2.2), empty-pattern rules ignored;
- **evaluation**: :func:`is_allowed` over (group, path), plus a
  vectorized feature extractor that scores a planted probe set.

Parse + evaluation are per-payload imperative work → Arrow
``mapInPandas`` with per-payload quarantine, no shuffle. No robots
surface exists in the reference repo
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


class RobotsGroup:
    __slots__ = ("agents", "rules", "crawl_delay")

    def __init__(self) -> None:
        self.agents: list[str] = []
        self.rules: list[tuple[bool, str]] = []  # (is_allow, pattern)
        self.crawl_delay: "int | None" = None


def parse_robots(text: str) -> "tuple[list[RobotsGroup], list[str]]":
    """Returns (groups, sitemaps)."""
    groups: list[RobotsGroup] = []
    sitemaps: list[str] = []
    current: "RobotsGroup | None" = None
    in_agent_run = False
    for raw_line in text.lstrip("﻿").splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line:
            continue
        if ":" not in line:
            continue  # tolerant: junk line
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_agent_run:
                current = RobotsGroup()
                groups.append(current)
                in_agent_run = True
            current.agents.append(value.lower())
        elif field == "sitemap":
            sitemaps.append(value)
            in_agent_run = False
        elif field in ("allow", "disallow"):
            in_agent_run = False
            if current is None:
                continue  # rules before any user-agent: ignored
            if value:
                current.rules.append((field == "allow", value))
        elif field == "crawl-delay":
            in_agent_run = False
            if current is not None and value.isdigit():
                current.crawl_delay = int(value)
        else:
            in_agent_run = False
        if len(groups) > 10_000 or len(sitemaps) > 10_000:
            raise ValueError("robots.txt group count exceeds bound")
    return groups, sitemaps


def _pattern_matches(pattern: str, path: str) -> bool:
    rx = re.escape(pattern).replace(r"\*", ".*")
    if rx.endswith(r"\$"):
        rx = rx[:-2] + r"\Z"
    return re.match(rx, path) is not None


def _matching_groups(groups: "list[RobotsGroup]",
                     ua: str) -> "list[RobotsGroup]":
    """RFC 9309 §2.2.1: pick the most specific (longest) matching
    user-agent token, then return ALL groups naming that token — the
    spec requires their rules be merged into one logical group, so a
    Disallow in a second ``User-agent: foo`` block still binds. Falls
    back to every ``*`` group when no named token matches."""
    ua = ua.lower()
    best_agent = None
    best_len = -1
    for g in groups:
        for agent in g.agents:
            if agent != "*" and agent in ua and len(agent) > best_len:
                best_agent = agent
                best_len = len(agent)
    token = best_agent if best_agent is not None else "*"
    return [g for g in groups if token in g.agents]


def is_allowed(groups: "list[RobotsGroup]", ua: str,
               path: str) -> bool:
    """RFC 9309 §2.2.2: most-specific (longest) matching rule wins;
    allow wins length ties; no matching rule means allowed. Rules are
    the union across every group matching the selected user-agent
    token (§2.2.1 merge)."""
    matched = _matching_groups(groups, ua)
    if not matched:
        return True
    merged_rules = [r for g in matched for r in g.rules]
    best_len = -1
    best_allow = True
    for allow, pattern in merged_rules:
        if _pattern_matches(pattern, path):
            if len(pattern) > best_len or (
                    len(pattern) == best_len and allow
                    and not best_allow):
                best_len = len(pattern)
                best_allow = allow
    return best_allow if best_len >= 0 else True


ROBOTS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_groups", IntegerType()),
    StructField("n_rules", IntegerType()),
    StructField("n_sitemaps", IntegerType()),
    StructField("n_allowed", IntegerType()),
    StructField("crawl_delay", IntegerType()),
    StructField("extract_error", StringType()),
])


def evaluate_robots(
    df: DataFrame, ua: str, probes: "list[str]",
    id_col: str = "doc_id", text_col: str = "payload"
) -> DataFrame:
    """Parse each robots.txt and score the probe path set for ``ua``:
    counts plus how many probes are allowed and the matched group's
    crawl delay. Per-payload quarantine, no shuffle."""

    def _parse(raw) -> dict:
        groups, sitemaps = parse_robots(str(raw))
        delays = [g.crawl_delay for g in _matching_groups(groups, ua)
                  if g.crawl_delay is not None]
        return {"n_groups": len(groups),
                "n_rules": sum(len(x.rules) for x in groups),
                "n_sitemaps": len(sitemaps),
                "n_allowed": sum(1 for p in probes
                                 if is_allowed(groups, ua, p)),
                "crawl_delay": delays[0] if delays else None}

    return decode_map(df, _parse, ROBOTS_SCHEMA, (ValueError, IndexError),
                      id_col, text_col)
