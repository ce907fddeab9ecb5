"""RFC 9309 robots.txt evaluation — the crawl-politeness gate.

A crawl pipeline filters its URL frontier against each host's
robots.txt BEFORE fetching; re-crawls re-evaluate stored frontiers
whenever a robots body changes. Implemented from the RFC (and the
classic Google REP draft it standardized):

* group selection — the group whose ``User-agent`` token is the
  longest case-insensitive match for the crawler's product token;
  ``*`` is the fallback group; consecutive UA lines share one group.
* rule matching — ``Allow``/``Disallow`` patterns match the URL path
  by prefix, with ``*`` (any octets) and ``$`` (end anchor); the rule
  with the LONGEST pattern (octet length) wins, and on a tie Allow
  wins (RFC 9309 §2.2.2). An empty ``Disallow:`` matches nothing, and
  a missing/empty group allows everything.

Spark shape: robots bodies are parsed ONCE PER HOST into a broadcast
or hash-joined rules table (hosts number in the millions where pages
number in the trillions), and the per-URL check is a pandas UDF over
(path, compiled-rules) — regex compilation amortized per host via an
lru cache keyed by the rules tuple. Percent-encoding normalization is
intentionally out of scope (both sides of the comparison come from the
same crawler's canonicalizer — urls.py).

Reference analogue: none (the reference fetches no web pages); this
serves the crawl-ingest family (linkgraph.py, urls.py, corpus.py).
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

_UA_RE = re.compile(r"^\s*user-agent\s*:\s*([^#]*?)\s*(?:#.*)?$", re.I)
# a comment may abut the value with no whitespace ('Disallow: /a#staff')
_RULE_RE = re.compile(r"^\s*(allow|disallow)\s*:\s*([^\s#]*)", re.I)
# RFC 9309 2.2.4: records other than Allow/Disallow (Crawl-delay,
# Sitemap, ...) MUST NOT interfere with group parsing — they neither
# open nor close a group body, so 'UA: a / Crawl-delay: 1 / UA: b /
# Disallow: /x' keeps a and b as consecutive start-group lines that
# share the rules (matching Google's reference parser)


def parse_robots(body: str | None, agent: str = "*") -> tuple:
    """Extract the (allow, pattern) rules governing ``agent`` from a
    robots.txt body, per RFC 9309 group selection. Returns a tuple
    (hashable — it keys the compiled-matcher cache), empty = allow all.
    """
    if not body:
        return ()
    body = body.lstrip("\ufeff")  # real robots.txt files carry BOMs
    agent_lc = agent.lower()
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    in_group_body = False
    for line in body.splitlines():
        m = _UA_RE.match(line)
        if m:
            if in_group_body and cur_agents:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
            in_group_body = False
            cur_agents.append(m.group(1).lower())
            continue
        m = _RULE_RE.match(line)
        if m and cur_agents:
            in_group_body = True
            cur_rules.append(
                (m.group(1).lower() == "allow", m.group(2))
            )
            continue
    if cur_agents:
        groups.append((cur_agents, cur_rules))
    # the group token matches when it is a prefix of the crawler's
    # product token (never the reverse: agent 'bot' must not adopt
    # 'googlebot' rules); longest token wins, '*' is the fallback, and
    # per RFC 9309 2.2.1 ALL groups at the winning specificity combine
    best_len = 0
    for agents, _rules in groups:
        for a in agents:
            if a and a != "*" and agent_lc.startswith(a):
                best_len = max(best_len, len(a))
    combined: list[tuple[bool, str]] = []
    for agents, rules in groups:
        tokens = [a for a in agents if a]
        if best_len:
            if any(
                a != "*" and len(a) == best_len and agent_lc.startswith(a)
                for a in tokens
            ):
                combined.extend(rules)
        elif "*" in tokens:
            combined.extend(rules)
    return tuple(r for r in combined if r[1] or r[0])


@lru_cache(maxsize=4096)
def _rules_cached(body: str | None, agent: str) -> tuple:
    """Module-level parse cache: one parse per distinct (body, agent)
    per Python WORKER, not per Arrow batch."""
    return parse_robots(body, agent)


_CRAWL_DELAY_RE = re.compile(
    r"^\s*crawl-delay\s*:\s*([0-9]+(?:\.[0-9]+)?)", re.I
)


def parse_crawl_delay(body: str | None, agent: str = "*") -> float | None:
    """Crawl-delay seconds governing ``agent``, or None when no
    applicable group declares one.

    Crawl-delay is pre-RFC folklore (Bing/Yandex honor it, RFC 9309
    only says it must not break Allow/Disallow group parsing), so the
    semantics here are the consensus reading: a delay line attaches to
    the group of the most recent User-agent run AND (unlike the
    RFC-governed rule parser above, deliberately) counts as group body
    — 'UA: a / Crawl-delay: 1.5 / UA: * / Crawl-delay: 10' is two
    groups with two delays, which is what its author plainly meant
    (urllib.robotparser agrees); group selection is then identical to
    the Allow/Disallow path (longest UA-prefix wins, '*' is the
    fallback, all groups at the winning specificity combine); when
    winning groups disagree, the LARGEST delay wins — the
    conservative-for-the-server choice."""
    if not body:
        return None
    body = body.lstrip("﻿")
    agent_lc = agent.lower()
    groups: list[tuple[list[str], list[float]]] = []
    cur_agents: list[str] = []
    cur_delays: list[float] = []
    in_group_body = False
    for line in body.splitlines():
        m = _UA_RE.match(line)
        if m:
            if in_group_body and cur_agents:
                groups.append((cur_agents, cur_delays))
                cur_agents, cur_delays = [], []
            in_group_body = False
            cur_agents.append(m.group(1).lower())
            continue
        if _RULE_RE.match(line) and cur_agents:
            in_group_body = True
            continue
        m = _CRAWL_DELAY_RE.match(line)
        if m and cur_agents:
            in_group_body = True
            cur_delays.append(float(m.group(1)))
    if cur_agents:
        groups.append((cur_agents, cur_delays))
    best_len = 0
    for agents, _d in groups:
        for a in agents:
            if a and a != "*" and agent_lc.startswith(a):
                best_len = max(best_len, len(a))
    combined: list[float] = []
    for agents, delays in groups:
        tokens = [a for a in agents if a]
        if best_len:
            if any(
                a != "*" and len(a) == best_len and agent_lc.startswith(a)
                for a in tokens
            ):
                combined.extend(delays)
        elif "*" in tokens:
            combined.extend(delays)
    return max(combined) if combined else None


@lru_cache(maxsize=4096)
def _delay_cached(body: str | None, agent: str) -> float | None:
    """One crawl-delay parse per distinct (body, agent) per worker."""
    return parse_crawl_delay(body, agent)


@lru_cache(maxsize=4096)
def _compiled(rules: tuple):
    """[(allow, pattern_len, compiled_regex)] sorted longest-first so
    the first match IS the most specific; Allow sorts before Disallow
    at equal length (the RFC tiebreak)."""
    out = []
    for allow, pat in rules:
        if not pat:
            continue  # empty Disallow matches nothing
        rx = re.escape(pat).replace(r"\*", ".*")
        if rx.endswith(r"\$"):
            rx = rx[: -len(r"\$")] + "$"
        out.append((allow, len(pat), re.compile("^" + rx)))
    out.sort(key=lambda t: (-t[1], not t[0]))
    return tuple(out)


def robots_allowed(path: str, rules: tuple) -> bool:
    """Longest-match verdict for one URL path; no rules = allowed."""
    for allow, _n, rx in _compiled(rules):
        if rx.match(path):
            return allow
    return True


def robots_filter(urls: DataFrame, robots: DataFrame) -> DataFrame:
    """Adds ``crawl_allowed`` to ``urls(host, path, ...)`` by joining
    ``robots(host, robots_body)`` and evaluating RFC 9309 rules.

    The join is host-keyed (broadcast when the robots table is small —
    AQE decides); the UDF re-parses one body per DISTINCT body via an
    lru cache, so per-row cost is one longest-first regex scan.
    """

    @F.pandas_udf(BooleanType())
    def _allowed(path: pd.Series, body: pd.Series) -> pd.Series:
        return pd.Series(
            [
                robots_allowed(p or "/", _rules_cached(b, "*"))
                for p, b in zip(path, body)
            ]
        )

    joined = urls.join(robots, "host", "left")
    return joined.withColumn(
        "crawl_allowed", _allowed(F.col("path"), F.col("robots_body"))
    ).drop("robots_body")


def politeness_schedule(
    urls: DataFrame,
    robots: DataFrame,
    agent: str = "*",
    default_delay: float = 1.0,
) -> DataFrame:
    """Per-host fetch schedule honoring Crawl-delay: adds ``crawl_delay``
    (the host's declared delay via :func:`parse_crawl_delay`, else
    ``default_delay``), ``fetch_seq`` (0-based deterministic per-host
    order by ``path``) and ``fetch_at_s`` (= fetch_seq * delay,
    seconds after the host's crawl start) to ``urls``.

    Plan: one host-keyed join (broadcast-able robots side), one pandas
    UDF evaluating one parse per DISTINCT body via the lru cache, and
    ONE window per host. The per-host window is the honest shape:
    politeness scheduling is inherently serial per host (the schedule
    IS a sequence), so the window's partition matches the problem; at
    10^12 URLs compose AFTER ``curation.cap_per_domain`` so no host's
    partition exceeds the per-domain cap. Deterministic: same inputs →
    same schedule on any partitioning/engine (the SQL oracle replays
    it row for row). Duplicate robots rows for a host are reduced to
    one (the least body) first, so they cannot fan out the frontier."""
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _delay(body: pd.Series) -> pd.Series:
        return pd.Series(
            [
                (
                    d
                    if (d := _delay_cached(b, agent)) is not None
                    else float(default_delay)
                )
                for b in body
            ]
        )

    w = Window.partitionBy("host").orderBy("path")
    robots = robots.groupBy("host").agg(F.min("robots_body").alias("robots_body"))
    return (
        urls.join(robots, "host", "left")
        .withColumn("crawl_delay", _delay(F.col("robots_body")))
        .drop("robots_body")
        .withColumn(
            "fetch_seq", (F.row_number().over(w) - 1).cast("long")
        )
        .withColumn(
            "fetch_at_s",
            F.round(F.col("fetch_seq") * F.col("crawl_delay"), 3),
        )
    )


# --- sitemap parsing (frontier seeding, the robots gate's companion) --

_LOC_RE = re.compile(r"<loc>\s*(.*?)\s*</loc>", re.I | re.S)
_LASTMOD_RE = re.compile(r"<lastmod>\s*(.*?)\s*</lastmod>", re.I | re.S)
_URL_BLOCK_RE = re.compile(r"<(url|sitemap)\b.*?</\1>", re.I | re.S)
# stdlib unescape handles entity ordering correctly ('&amp;lt;' is the
# LITERAL text '&lt;', not '<') and numeric references
from html import unescape as _xml_unescape  # noqa: E402


def parse_sitemap(body: str | None) -> list[tuple[str, str | None, bool]]:
    """(loc, lastmod, is_index) rows from a sitemap or sitemap-index
    body (sitemaps.org protocol). Regex-scoped per <url>/<sitemap>
    block so a lastmod never attaches to a neighboring loc; XML entity
    escapes in locs are decoded (the protocol REQUIRES escaping '&').
    Malformed blocks without a <loc> are skipped, not fatal — crawl
    inputs are hostile."""
    if not body:
        return []
    out = []
    for m in _URL_BLOCK_RE.finditer(body):
        block = m.group(0)
        loc = _LOC_RE.search(block)
        if not loc:
            continue
        lm = _LASTMOD_RE.search(block)
        out.append((
            _xml_unescape(loc.group(1)),
            lm.group(1) if lm else None,
            m.group(1).lower() == "sitemap",
        ))
    return out


def sitemap_urls(sitemaps: DataFrame) -> DataFrame:
    """sitemaps(host, body) -> (host, loc, lastmod, is_index): one
    Arrow crossing parses, posexplode flattens — the frontier-seed
    source that joins against the robots gate and the URL canonicalizer
    (urls.py). Index rows (is_index=true) are the NEXT fetch round's
    sitemap list; at scale the fetch loop iterates exactly like the
    WARC reader's listing pass."""
    from pyspark.sql.types import (
        ArrayType, BooleanType as _B, StringType as _S, StructField,
        StructType,
    )

    row_t = StructType([
        StructField("loc", _S()),
        StructField("lastmod", _S()),
        StructField("is_index", _B()),
    ])

    @F.pandas_udf(ArrayType(row_t))
    def _parse(body: pd.Series) -> pd.Series:
        return pd.Series([parse_sitemap(b) for b in body])

    return (
        sitemaps.select(
            "host", F.explode(_parse(F.col("body"))).alias("u")
        )
        .select(
            "host",
            F.col("u.loc").alias("loc"),
            F.col("u.lastmod").alias("lastmod"),
            F.col("u.is_index").alias("is_index"),
        )
    )
