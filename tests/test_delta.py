"""Crawl-snapshot delta: classification + the incremental==batch invariant."""

import pytest
from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
from llm_text_to_knowledge_graph_spark.operators import delta
from llm_text_to_knowledge_graph_spark.operators.delta import (
    classify_delta,
    snapshot_delta,
)
from llm_text_to_knowledge_graph_spark.operators.fused import extract_triples_fused
from llm_text_to_knowledge_graph_spark.operators.graph import build_edges


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_classify_delta_all_statuses(spark):
    old = _pages(spark, [("u1", "same"), ("u2", "before"), ("u3", "gone")])
    new = _pages(spark, [("u1", "same"), ("u2", "after"), ("u4", "fresh")])
    got = {r["url"]: r["status"] for r in classify_delta(old, new).collect()}
    assert got == {
        "u1": "unchanged",
        "u2": "changed",
        "u3": "removed",
        "u4": "added",
    }
    counts = {
        r["status"]: r["count"]
        for r in classify_delta(old, new).groupBy("status").count().collect()
    }
    assert counts == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


def test_classify_delta_duplicate_url_collapses(spark):
    # a url crawled twice in one snapshot classifies once, via its max fp
    old = _pages(spark, [("u1", "a"), ("u1", "a")])
    new = _pages(spark, [("u1", "a")])
    rows = classify_delta(old, new).collect()
    assert len(rows) == 1 and rows[0]["status"] == "unchanged"


def _edge_key(r):
    return (r["edge_id"], r["s"], r["t"], r["interaction"], r["url"])


@pytest.fixture(scope="module")
def snapshots(spark):
    """old = docs 0..59; new = docs 0..79 minus removals, some texts edited.

    The edit appends a non-extractable sentence, so the page classifies as
    changed and re-extracts; removals drop whole pages."""
    universe = pages_df(spark, 120, seed=42).cache()
    universe.count()
    h = F.abs(F.xxhash64("url"))
    old = universe.filter(h % 4 != 1)
    new = universe.filter(h % 7 != 1).withColumn(
        "text",
        F.when(
            h % 5 == 2,
            F.concat(F.col("text"), F.lit(" Trailing editorial note.")),
        ).otherwise(F.col("text")),
    )
    return old, new


def test_snapshot_delta_equals_batch_rebuild(spark, snapshots):
    """THE invariant: delta-merged edges == from-scratch edges over the new
    snapshot, row for row — content-addressed ids make the merge a union,
    never a renumber."""
    old, new = snapshots
    alias_rows = build_alias_rows()
    old_edges = build_edges(
        extract_triples_fused(old, alias_rows),
        id_strategy="hash",
        carry_names=True,
        carry_url=True,
    )
    out = snapshot_delta(old, new, alias_rows, old_edges)
    merged = sorted(map(_edge_key, out["edges"].collect()))
    scratch = build_edges(
        extract_triples_fused(new, alias_rows),
        id_strategy="hash",
        carry_names=True,
        carry_url=True,
    )
    expect = sorted(map(_edge_key, scratch.collect()))
    assert merged == expect and len(merged) > 0


def test_snapshot_delta_reextracts_only_the_delta(spark, snapshots, monkeypatch):
    """The pages handed to the extractor are exactly changed+added — the
    >90% unchanged web is never re-extracted (the whole point)."""
    old, new = snapshots
    seen = {}

    def counting_extractor(pages, alias_rows):
        seen["n"] = pages.count()
        return extract_triples_fused(pages, alias_rows)

    alias_rows = build_alias_rows()
    old_edges = build_edges(
        extract_triples_fused(old, alias_rows),
        id_strategy="hash",
        carry_names=True,
        carry_url=True,
    )
    monkeypatch.setattr(delta, "extract_triples_fused", counting_extractor)
    out = snapshot_delta(old, new, alias_rows, old_edges)
    cls = {
        r["status"]: r["n_urls"]
        for r in out["classification"].groupBy("status").agg(
            F.count(F.lit(1)).alias("n_urls")
        ).collect()
    }
    out["edges"].count()
    assert seen["n"] == cls.get("added", 0) + cls.get("changed", 0)
    assert cls.get("unchanged", 0) > 0  # the test means nothing otherwise


def test_delta_broadcast_plan(spark, snapshots):
    """The url-set joins against the big sides are broadcast (map-only on
    the snapshot/edge-store side) when broadcast_urls=True."""
    old, new = snapshots
    alias_rows = build_alias_rows()
    old_edges = build_edges(
        extract_triples_fused(old, alias_rows),
        id_strategy="hash",
        carry_names=True,
        carry_url=True,
    )
    out = snapshot_delta(old, new, alias_rows, old_edges)
    plan = out["edges"]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
