"""Web link-graph construction from crawled HTML.

The Common-Crawl-side counterpart of the KG edge build: turn the pages
table (url, html) into an outlink edge list and aggregate it to a
host-level graph — the input every web-graph consumer here already
handles (pagerank for host authority, connected_components for site
clusters, k_core / label_propagation for community trims, cap_per_key
for politeness budgeting).

Plan shape: link extraction is ONE map-only projection — a JVM-side
``regexp_extract_all`` over the decoded html plus an explode; no Python
crosses, no shuffle. The host rollup is ONE partial-agg groupBy on
(src_host, dst_host): at 10^12 pages the map-side combine collapses the
per-page fanout (tens of links) to the host-pair cardinality before the
exchange, and host pairs are Zipf-but-bounded (hot sites are hot on BOTH
ends, and AQE skew-split handles the residue; the politeness operator
``curation.cap_per_key`` is the upstream fix when one host dominates).

Extraction contract (deliberately narrow and engine-replayable —
the DuckDB oracle runs the same regex): absolute http(s) URLs in
single- or double-quoted ``href`` attributes, case-insensitive,
fragment stripped. Relative and protocol-relative links need the
page's base URL resolved per RFC 3986 — that is
``functions/urls.py`` territory and out of scope for the scan
projection (documented, not silently half-done).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# group 1 = the absolute target, cut at quote/fragment/whitespace/'>'
HREF_PATTERN = r"""(?i)href\s*=\s*["'](https?://[^"'#\s>]+)"""

# scheme://HOST — host stops at '/', ':', '?', '#' so ports/paths drop out
_HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"


def host_of(url):
    """Lowercased hostname of a URL column (port/path/query stripped)."""
    return F.lower(F.regexp_extract(url, _HOST_PATTERN, 1))


def extract_links(pages: DataFrame) -> DataFrame:
    """(url, link): one row per absolute http(s) href in each page.

    Map-only: decode + regexp_extract_all + explode, all JVM-side.
    Pages with no matching hrefs emit no rows (explode, not
    explode_outer — a link table, not a page audit).
    """
    html_str = F.col("html").cast("string")
    return pages.select(
        F.col("url"),
        F.explode(
            F.regexp_extract_all(html_str, F.lit(HREF_PATTERN), 1)
        ).alias("link"),
    )


def host_graph(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links): the host-level outlink graph.

    ONE partial-agg groupBy; intra-host navigation edges are dropped
    (the overwhelming majority of raw links and noise for every
    authority/community consumer) BEFORE the shuffle, where the filter
    is a free map-side predicate.
    """
    g = links.select(
        host_of(F.col("url")).alias("src_host"),
        host_of(F.col("link")).alias("dst_host"),
    ).filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    g = g.filter(F.col("src_host") != F.col("dst_host"))
    return g.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


# href + anchor text in one pattern: group 1 = absolute target, group 2 =
# the anchor's inner text up to the closing tag (no nested markup — the
# plain-text-anchor common case; markup anchors yield '' and are dropped)
ANCHOR_PATTERN = (
    r"""(?i)href\s*=\s*["'](https?://[^"'#\s>]+)[^>]*>([^<>]{1,200})<"""
)


def extract_anchors(pages: DataFrame) -> DataFrame:
    """(url, link, anchor): absolute-href links WITH their anchor text.

    Anchor text is the highest-precision alias signal on the web — the
    aggregation below feeds the broadcast alias dictionary that mention
    detection (operators/mentions.py) matches against. Map-only like
    extract_links: two aligned regexp_extract_all passes (same pattern,
    groups 1 and 2) zipped and exploded, all JVM-side.
    """
    html_str = F.col("html").cast("string")
    z = F.explode(
        F.arrays_zip(
            F.regexp_extract_all(html_str, F.lit(ANCHOR_PATTERN), 1).alias(
                "link"
            ),
            F.regexp_extract_all(html_str, F.lit(ANCHOR_PATTERN), 2).alias(
                "anchor"
            ),
        )
    )
    return (
        pages.select(F.col("url"), z.alias("_z"))
        .select("url", F.col("_z.link").alias("link"), F.col("_z.anchor").alias("anchor"))
        .filter(F.trim(F.col("anchor")) != "")
    )


def anchor_alias_counts(anchors: DataFrame) -> DataFrame:
    """(alias, dst_host, n_refs): how often each normalized anchor text
    points at each host — the raw material for the entity-linking alias
    dictionary (an alias that consistently hits one host is a
    high-confidence surface form; one spread over many hosts is a
    stop-phrase like "click here"). ONE partial-agg groupBy; alias
    normalization (lowercase + whitespace collapse) is map-side."""
    alias = F.lower(F.trim(F.regexp_replace(F.col("anchor"), r"\s+", " ")))
    out = (
        anchors.select(
            alias.alias("alias"), host_of(F.col("link")).alias("dst_host")
        )
        .filter(F.col("dst_host") != "")
        .groupBy("alias", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )
    return out
