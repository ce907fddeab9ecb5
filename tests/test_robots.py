"""RFC 9309 robots.txt evaluation (operators/robots.py)."""

from llm_text_to_knowledge_graph_spark.operators.robots import (
    parse_robots,
    robots_allowed,
    robots_filter,
)

BODY = """
# global
User-agent: *
Disallow: /private/
Allow: /private/public-page.html
Disallow: /tmp
Disallow:

User-agent: examplebot
User-agent: otherbot
Disallow: /only-for-example/
Crawl-delay: 2
"""


def test_group_selection():
    star = parse_robots(BODY, "somebot")
    assert ("/private/" in {p for _, p in star}) and (
        "/only-for-example/" not in {p for _, p in star}
    )
    ex = parse_robots(BODY, "ExampleBot/1.0")
    assert {p for _, p in ex} == {"/only-for-example/"}
    # consecutive UA lines share one group
    other = parse_robots(BODY, "otherbot")
    assert {p for _, p in other} == {"/only-for-example/"}


def test_longest_match_and_allow_tiebreak():
    rules = parse_robots(BODY, "somebot")
    assert not robots_allowed("/private/secret.html", rules)
    # the longer Allow overrides the shorter Disallow prefix
    assert robots_allowed("/private/public-page.html", rules)
    assert robots_allowed("/other/", rules)
    # Disallow /tmp is a PREFIX match
    assert not robots_allowed("/tmpfile", rules)
    # RFC tiebreak: equal length -> Allow wins
    tie = ((False, "/p"), (True, "/p"))
    assert robots_allowed("/page", tie)


def test_wildcards_and_anchor():
    rules = (
        (False, "/*.pdf$"),
        (False, "/search*q="),
        (True, "/search/help"),
    )
    assert not robots_allowed("/docs/file.pdf", rules)
    assert robots_allowed("/docs/file.pdf.html", rules)  # $ anchor
    assert not robots_allowed("/search?q=x", rules)
    assert robots_allowed("/search/help", rules)  # longer allow


def test_degenerate_bodies():
    assert parse_robots(None) == ()
    assert parse_robots("") == ()
    assert robots_allowed("/anything", ()) is True
    # rules before any User-agent line are ignored
    assert parse_robots("Disallow: /x\n") == ()


def test_robots_filter_dataframe(spark):
    urls = spark.createDataFrame(
        [
            ("a.org", "/private/x", 1),
            ("a.org", "/ok", 2),
            ("b.org", "/anything", 3),   # no robots row -> allowed
        ],
        "host string, path string, uid long",
    )
    robots = spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_body string",
    )
    got = {
        r["uid"]: r["crawl_allowed"]
        for r in robots_filter(urls, robots).collect()
    }
    assert got == {1: False, 2: True, 3: True}


SITEMAP = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>https://a.org/page?x=1&amp;y=2</loc>
       <lastmod>2024-01-05</lastmod></url>
  <url><loc> https://a.org/plain </loc></url>
  <url><priority>0.5</priority></url>
</urlset>"""

SITEMAP_INDEX = """<sitemapindex>
  <sitemap><loc>https://a.org/sitemap-1.xml</loc>
           <lastmod>2024-02-01</lastmod></sitemap>
</sitemapindex>"""


def test_parse_sitemap():
    from llm_text_to_knowledge_graph_spark.operators.robots import (
        parse_sitemap,
    )

    got = parse_sitemap(SITEMAP)
    # entity-unescaped loc, block-scoped lastmod, loc-less block skipped
    assert got == [
        ("https://a.org/page?x=1&y=2", "2024-01-05", False),
        ("https://a.org/plain", None, False),
    ]
    assert parse_sitemap(SITEMAP_INDEX) == [
        ("https://a.org/sitemap-1.xml", "2024-02-01", True),
    ]
    assert parse_sitemap(None) == [] and parse_sitemap("junk <loc>") == []


def test_sitemap_urls_dataframe(spark):
    from llm_text_to_knowledge_graph_spark.operators.robots import (
        sitemap_urls,
    )

    df = spark.createDataFrame(
        [("a.org", SITEMAP), ("b.org", SITEMAP_INDEX)],
        "host string, body string",
    )
    rows = {
        (r["host"], r["loc"], r["lastmod"], r["is_index"])
        for r in sitemap_urls(df).collect()
    }
    assert rows == {
        ("a.org", "https://a.org/page?x=1&y=2", "2024-01-05", False),
        ("a.org", "https://a.org/plain", None, False),
        ("b.org", "https://a.org/sitemap-1.xml", "2024-02-01", True),
    }


def test_rfc_edge_cases_from_review():
    """Eight confirmed edge cases: group combining, prefix-only UA
    match, BOM, abutting comments, empty tokens, non-rule directives
    closing groups, and correct entity ordering."""
    from llm_text_to_knowledge_graph_spark.operators.robots import (
        _xml_unescape,
    )

    # RFC 9309 2.2.1: ALL matching groups combine
    r = parse_robots("User-agent: *\nDisallow: /a\n\n"
                     "User-agent: *\nDisallow: /b")
    assert not robots_allowed("/a1", r) and not robots_allowed("/b1", r)
    # token must be a PREFIX of the crawler name, never the reverse
    r = parse_robots("User-agent: googlebot\nDisallow: /\n"
                     "User-agent: *\nAllow: /", "bot")
    assert robots_allowed("/x", r)
    r = parse_robots("User-agent: googlebot\nDisallow: /", "Googlebot/2.1")
    assert not robots_allowed("/x", r)
    # BOM before the first User-agent line
    assert not robots_allowed(
        "/private/x", parse_robots("﻿User-agent: *\nDisallow: /private/")
    )
    # comment abutting the value
    assert not robots_allowed(
        "/a/secret", parse_robots("User-agent: *\nDisallow: /a#staff")
    )
    # malformed empty UA token never hijacks the '*' fallback
    r = parse_robots("User-agent:\nDisallow: /\n"
                     "User-agent: *\nAllow: /x", "mybot")
    assert robots_allowed("/x", r) and robots_allowed("/q", r)
    # RFC 9309 2.2.4: non-rule records (Crawl-delay, Sitemap) MUST NOT
    # interfere with group parsing — a and b here are consecutive
    # start-group lines sharing the Disallow (Google's parser agrees)
    for ua in ("a", "b"):
        r = parse_robots("User-agent: a\nCrawl-delay: 2\n"
                         "User-agent: b\nDisallow: /x", ua)
        assert not robots_allowed("/x", r), ua
        assert robots_allowed("/ok", r), ua
    # ...but an intervening RULE still closes the group: after a body
    # has started, a new UA line opens a fresh group
    r = parse_robots("User-agent: a\nDisallow: /y\n"
                     "User-agent: b\nDisallow: /x", "a")
    assert not robots_allowed("/y", r) and robots_allowed("/x", r)
    # '&amp;lt;' is the literal text '&lt;', not '<'
    assert _xml_unescape("x&amp;lt;y") == "x&lt;y"


def test_parse_crawl_delay_semantics():
    """Crawl-delay folklore semantics: delay lines attach to the most
    recent UA run and DO count as group body for this parser (two
    UA/delay pairs are two groups — the author's plain intent, unlike
    the RFC-governed Allow/Disallow parser where non-rule records never
    interfere); selection mirrors the rule path (longest UA-prefix,
    '*' fallback, winning groups combine, largest delay wins)."""
    from llm_text_to_knowledge_graph_spark.operators.robots import (
        parse_crawl_delay,
    )

    two = ("User-agent: a\nCrawl-delay: 1.5\n"
           "User-agent: *\nCrawl-delay: 10\nDisallow: /\n")
    assert parse_crawl_delay(two, "abot") == 1.5
    assert parse_crawl_delay(two) == 10.0
    # consecutive UA lines before any body share the delay
    merged = "User-agent: a\nUser-agent: b\nCrawl-delay: 3\nDisallow: /x"
    assert parse_crawl_delay(merged, "a") == 3.0
    assert parse_crawl_delay(merged, "b") == 3.0
    # no declaration -> None; empty/None body -> None
    assert parse_crawl_delay("User-agent: *\nDisallow: /x") is None
    assert parse_crawl_delay(None) is None
    # winning groups at equal specificity combine; largest wins
    dup = ("User-agent: a\nCrawl-delay: 2\nDisallow: /\n"
           "User-agent: a\nCrawl-delay: 5\nDisallow: /y\n")
    assert parse_crawl_delay(dup, "abot") == 5.0
    # fractional values parse
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: 0.25") == 0.25


def test_politeness_schedule(spark):
    """Per-host fetch schedule: declared delay via parse_crawl_delay,
    default for hosts without one, deterministic per-host order by
    path, fetch_at_s = fetch_seq * delay."""
    from llm_text_to_knowledge_graph_spark.operators.robots import (
        politeness_schedule,
    )

    urls = spark.createDataFrame(
        [("h1", "/b"), ("h1", "/a"), ("h1", "/c"), ("h2", "/x"),
         ("h2", "/y"), ("h3", "/z")],
        "host string, path string",
    )
    robots = spark.createDataFrame(
        [("h1", "User-agent: *\nCrawl-delay: 2\nDisallow: /private/"),
         ("h2", "User-agent: *\nDisallow: /private/")],
        "host string, robots_body string",
    )
    out = {
        (r["host"], r["path"]): (
            r["crawl_delay"], r["fetch_seq"], r["fetch_at_s"]
        )
        for r in politeness_schedule(
            urls, robots, default_delay=1.5
        ).collect()
    }
    assert out[("h1", "/a")] == (2.0, 0, 0.0)
    assert out[("h1", "/b")] == (2.0, 1, 2.0)
    assert out[("h1", "/c")] == (2.0, 2, 4.0)
    assert out[("h2", "/x")] == (1.5, 0, 0.0)   # no declared delay
    assert out[("h2", "/y")] == (1.5, 1, 1.5)
    assert out[("h3", "/z")] == (1.5, 0, 0.0)   # no robots row at all


def test_politeness_schedule_duplicate_robots_rows(spark):
    """Duplicate robots rows for a host reduce to one (the least body):
    one output row per url, and fetch_seq stays 0..n-1 per host."""
    from llm_text_to_knowledge_graph_spark.operators.robots import (
        politeness_schedule,
    )

    urls = spark.createDataFrame(
        [("h1", "/a"), ("h1", "/b"), ("h2", "/x")], "host string, path string"
    )
    robots = spark.createDataFrame(
        [("h1", "User-agent: *\nCrawl-delay: 5"),
         ("h1", "User-agent: *\nCrawl-delay: 2"),
         ("h1", None),
         ("h2", None)],
        "host string, robots_body string",
    )
    out = sorted(
        (r["host"], r["path"], r["crawl_delay"], r["fetch_seq"], r["fetch_at_s"])
        for r in politeness_schedule(urls, robots, default_delay=1.5).collect()
    )
    assert out == [
        ("h1", "/a", 2.0, 0, 0.0),
        ("h1", "/b", 2.0, 1, 2.0),
        ("h2", "/x", 1.5, 0, 0.0),
    ]
