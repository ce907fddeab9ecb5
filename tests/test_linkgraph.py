"""Web link-graph extraction (operators/linkgraph.py)."""

import datetime as dt

from llm_text_to_knowledge_graph_spark.operators.linkgraph import (
    extract_links,
    host_graph,
    host_of,
)

TS = dt.datetime(2024, 3, 1)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, TS, h.encode(), None, "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_extract_links_contract(spark):
    pages = _pages(
        spark,
        [
            (
                "http://a.example.org/page",
                '<a href="https://b.example.net/x?q=1#frag">x</a>'
                "<a href='http://c.example.com:8080/y'>y</a>"
                '<a HREF = "HTTPS://D.example.io/z">case</a>'
                '<a href="/relative">skip</a>'
                '<a href="//proto.relative/skip">skip</a>'
                '<a href="mailto:x@example.org">skip</a>',
            ),
            ("http://empty.example.org/", "<p>no links</p>"),
        ],
    )
    got = {(r.url, r.link) for r in extract_links(pages).collect()}
    assert got == {
        ("http://a.example.org/page", "https://b.example.net/x?q=1"),
        ("http://a.example.org/page", "http://c.example.com:8080/y"),
        ("http://a.example.org/page", "HTTPS://D.example.io/z"),
    }


def test_host_of_strips_port_path_case(spark):
    df = spark.createDataFrame(
        [("HTTP://WWW.Example.ORG:8080/a/b?c=d#e",), ("not a url",)], "u string"
    )
    vals = [r.h for r in df.select(host_of(df.u).alias("h")).collect()]
    assert vals == ["www.example.org", ""]


def test_host_graph_rollup_and_self_links(spark):
    pages = _pages(
        spark,
        [
            (
                "http://s1.org/a",
                '<a href="http://t1.net/1"></a><a href="http://t1.net/2"></a>'
                '<a href="http://s1.org/self"></a>',
            ),
            ("http://s1.org/b", '<a href="http://t2.net/"></a>'),
            ("https://s2.org:443/", '<a href="http://t1.net/3"></a>'),
        ],
    )
    links = extract_links(pages)
    g = {
        (r.src_host, r.dst_host): r.n_links
        for r in host_graph(links).collect()
    }
    assert g == {
        ("s1.org", "t1.net"): 2,
        ("s1.org", "t2.net"): 1,
        ("s2.org", "t1.net"): 1,
    }


def test_extract_anchors_and_alias_counts(spark):
    from llm_text_to_knowledge_graph_spark.operators.linkgraph import (
        anchor_alias_counts,
        extract_anchors,
    )

    pages = _pages(
        spark,
        [
            (
                "http://s1.org/a",
                '<a href="http://t1.net/x" rel="nofollow">  Acme   Corp </a>'
                "<a href='http://t1.net/y'>acme corp</a>"
                '<a href="http://t2.net/z">ACME CORP</a>'
                '<a href="http://t3.net/w"><b>markup only</b></a>'
                '<a href="/rel">relative</a>',
            ),
        ],
    )
    anchors = {
        (r.url, r.link, r.anchor) for r in extract_anchors(pages).collect()
    }
    assert anchors == {
        ("http://s1.org/a", "http://t1.net/x", "  Acme   Corp "),
        ("http://s1.org/a", "http://t1.net/y", "acme corp"),
        ("http://s1.org/a", "http://t2.net/z", "ACME CORP"),
    }
    counts = {
        (r.alias, r.dst_host): r.n_refs
        for r in anchor_alias_counts(extract_anchors(pages)).collect()
    }
    assert counts == {
        ("acme corp", "t1.net"): 2,
        ("acme corp", "t2.net"): 1,
    }
