"""URL canonicalization (operators/urls.py): rule-by-rule pins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.operators.urls import (
    normalize_url,
    url_dedup_groups,
)

CASES = [
    # (raw, expected)
    ("HTTP://WWW.Example.COM:80/A/B?b=2&a=1#frag", "http://www.example.com/A/B?a=1&b=2"),
    ("https://site.com:443/x", "https://site.com/x"),
    ("https://site.com:8443/x", "https://site.com:8443/x"),  # non-default port kept
    ("http://site.com", "http://site.com/"),                  # empty path -> /
    ("http://site.com/?utm_source=tw&utm_medium=s&x=1", "http://site.com/?x=1"),
    ("http://site.com/?fbclid=abc&gclid=d", "http://site.com/"),  # emptied query drops ?
    ("http://site.com/CaseKept/Path", "http://site.com/CaseKept/Path"),
    ("http://site.com/a?z=1&y=2&z=0", "http://site.com/a?y=2&z=0&z=1"),  # stable sort incl. dups
    ("http://a.com/p#sec?x=1", "http://a.com/p"),             # '?' inside fragment is not a query
    ("http://a.com/p?a=1#sec?x=2", "http://a.com/p?a=1"),     # real query kept, fragment-? dropped
    ("not a url at all", "not a url at all"),                 # pass-through
    ("/relative/path?a=1", "/relative/path?a=1"),             # pass-through
]


def test_normalize_rules(spark):
    df = spark.createDataFrame([(r,) for r, _ in CASES], ["url"])
    got = [
        r["norm"]
        for r in df.select(normalize_url("url").alias("norm")).collect()
    ]
    assert got == [e for _, e in CASES]


def test_idempotent(spark):
    df = spark.createDataFrame([(r,) for r, _ in CASES], ["url"])
    once = df.select(normalize_url("url").alias("url"))
    twice = once.select(normalize_url("url").alias("url"))
    assert once.collect() == twice.collect()


def test_url_dedup_groups(spark):
    df = spark.createDataFrame(
        [
            ("HTTP://A.com/x?b=1&a=1",),
            ("http://a.com/x?a=1&b=1&utm_source=z",),
            ("http://a.com/x:80?a=1&b=1",),  # ':80' in PATH is not a port
            ("http://b.com/",),
        ],
        ["url"],
    )
    got = {
        r["norm_url"]: (r["n_variants"], r["first_url"])
        for r in url_dedup_groups(df).collect()
    }
    assert got["http://a.com/x?a=1&b=1"] == (2, "HTTP://A.com/x?b=1&a=1")
    assert got["http://a.com/x:80?a=1&b=1"] == (1, "http://a.com/x:80?a=1&b=1")
    assert got["http://b.com/"][0] == 1
    assert len(got) == 3


def test_plan_is_map_only(spark):
    df = spark.createDataFrame([("http://a.com/x",)], ["url"])
    plan = (
        df.select(normalize_url("url").alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # zero-UDF projection


def test_resolve_redirects(spark):
    """Path-doubling chain resolution: exact hop counts to the terminal,
    flapping src collapses to min dst, cycles (self and mutual) report
    unresolved NULLs, and the hop budget rounds up to a power of two."""
    from llm_text_to_knowledge_graph_spark.operators.urls import (
        resolve_redirects,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),
         ("x", "x"), ("p", "q"), ("q", "p"),
         ("m", "n2"), ("m", "n1"),
         ("l0", "l1"), ("l1", "l2"), ("l2", "l3"), ("l3", "l4"),
         ("l4", "l5")],
        "src string, dst string",
    )
    got = {r["src"]: (r["final_url"], r["n_hops"], r["resolved"])
           for r in resolve_redirects(e, max_hops=8).collect()}
    assert got["a"] == ("d", 3, True)
    assert got["c"] == ("d", 1, True)
    assert got["l0"] == ("l5", 5, True)
    assert got["m"] == ("n1", 1, True)       # flapping -> min dst
    for cyc in ("x", "p", "q"):
        assert got[cyc] == (None, None, False)
    # budget rounds UP to a power of two: max_hops=3 -> 4 reach, so the
    # 5-hop chain is unresolved but the 3-hop one resolves
    got3 = {r["src"]: r["resolved"]
            for r in resolve_redirects(e, max_hops=3).collect()}
    assert got3["a"] is True and got3["l0"] is False


def test_canonical_links(spark):
    """Pure-JVM <link rel=canonical> extraction: both attribute orders,
    quoted/unquoted/uppercase forms, &amp; unescape, NULL-safe on
    missing html or tag."""
    from llm_text_to_knowledge_graph_spark.operators.urls import (
        canonical_links,
    )

    rows = [
        ("u1", b'<html><head><link rel="canonical" '
               b'href="https://a.org/x?a=1&amp;b=2"/></head></html>'),
        ("u2", b"<html><head><link href=https://a.org/y rel=canonical>"),
        ("u3", b"<html><head><title>t</title></head><body>n</body>"),
        ("u4", None),
        ("u5", b"<head><LINK REL='canonical' HREF='https://a.org/z'>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: (r["canonical_url"], r["has_canonical"])
           for r in canonical_links(df).collect()}
    assert got["u1"] == ("https://a.org/x?a=1&b=2", True)
    assert got["u2"] == ("https://a.org/y", True)
    assert got["u3"] == (None, False)
    assert got["u4"] == (None, False)
    assert got["u5"] == ("https://a.org/z", True)


def test_canonical_links_review_hardening(spark):
    """Third review pass: whitespace around '=', newline-separated
    unquoted attributes, rel-token boundary (rel='canonicalized' is NOT
    canonical), and the head bound cutting mid-declaration."""
    from llm_text_to_knowledge_graph_spark.operators.urls import (
        canonical_links,
    )

    rows = [
        ("w1", b'<link rel="canonical" href = "https://a.org/sp">'),
        ("w2", b"<link href=https://a.org/nl\nrel=canonical>"),
        ("w3", b'<link rel="canonicalized" href="https://evil/x">'),
        ("w4", b'<link rel=canonical href=https://a.org/uq>'),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r["canonical_url"] for r in canonical_links(df).collect()}
    assert got["w1"] == "https://a.org/sp"
    assert got["w2"] == "https://a.org/nl"
    assert got["w3"] is None
    assert got["w4"] == "https://a.org/uq"


def test_canonical_links_rel_lists_and_relative_hrefs(spark):
    """canonical may be any token of a rel list; a "/p" href resolves
    against the page url's scheme and authority, a "//h/p" href against
    its scheme; any other scheme-less href is NULL."""
    from llm_text_to_knowledge_graph_spark.operators.urls import (
        canonical_links,
    )

    rows = [
        ("https://a.org/1", b'<link rel="alternate canonical" href="https://a.org/c">'),
        ("https://a.org/2", b"<link rel='canonical alternate' href=https://a.org/d>"),
        ("https://a.org:8443/x/3?q=1", b'<link rel="canonical" href="/p?a=1&amp;b=2">'),
        ("http://a.org/4", b'<link href="//cdn.a.org/p" rel="canonical">'),
        ("https://a.org/x/5", b'<link rel="canonical" href="p/q">'),
        ("https://a.org/x/6", b'<link rel="canonical" href="../p">'),
        ("u7", b'<link rel="canonical" href="/p">'),
        ("https://a.org/8", b'<link rel="alternate" href="https://a.org/alt">'),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: (r["canonical_url"], r["has_canonical"])
           for r in canonical_links(df).collect()}
    assert got == {
        "https://a.org/1": ("https://a.org/c", True),
        "https://a.org/2": ("https://a.org/d", True),
        "https://a.org:8443/x/3?q=1": ("https://a.org:8443/p?a=1&b=2", True),
        "http://a.org/4": ("http://cdn.a.org/p", True),
        "https://a.org/x/5": (None, False),
        "https://a.org/x/6": (None, False),
        "u7": (None, False),
        "https://a.org/8": (None, False),
    }


def test_canonical_links_href_cut_by_head_bound_is_null(spark):
    """An href, or a rel token, that straddles the head bound yields NULL,
    not the url's first bytes; the same tag wholly inside the bound is
    read."""
    from llm_text_to_knowledge_graph_spark.operators.urls import (
        canonical_links,
    )

    tag = b'<link rel="canonical" href="https://a.org/a/long/canonical/path">'
    cut = 8192 - tag.index(b"/path")  # the bound falls inside "/path"
    # rel="canonicalized" cut to "canonical" by the bound is not canonical
    rel_tag = b'<link href="https://a.org/c" rel="canonicalized">'
    rows = [
        ("cut-quoted", b" " * cut + tag),
        ("cut-unquoted", b" " * cut + tag.replace(b'"', b"")),
        ("cut-rel", b" " * (8192 - rel_tag.index(b"ized")) + rel_tag),
        ("whole", b" " * (cut - 100) + tag),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r["canonical_url"] for r in canonical_links(df).collect()}
    assert got == {
        "cut-quoted": None,
        "cut-unquoted": None,
        "cut-rel": None,
        "whole": "https://a.org/a/long/canonical/path",
    }


def test_resolve_redirects_review_hardening(spark):
    """Third review pass: max_hops=1 is an exact 1-hop budget (no
    silent round-up to 2), and NULL dsts never produce resolved-to-NULL
    rows."""
    from llm_text_to_knowledge_graph_spark.operators.urls import (
        resolve_redirects,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("n", None)],
        "src string, dst string",
    )
    got = {r["src"]: (r["final_url"], r["n_hops"], r["resolved"])
           for r in resolve_redirects(e, max_hops=1).collect()}
    # 'b' -> 'c' resolves in exactly 1 hop; 'a' needs 2 -> unresolved
    assert got["b"] == ("c", 1, True)
    assert got["a"] == (None, None, False)
    # the NULL-observation src leaves the map entirely
    assert "n" not in got
