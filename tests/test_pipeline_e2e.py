"""End-to-end: pages -> triples must reproduce the planted gold exactly
(stronger than the P/R>=0.95 target), plus graph-table invariants."""

import pytest

from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, gold_df, pages_df
from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline

N_DOCS = 60


@pytest.fixture(scope="module")
def result(spark):
    pages = pages_df(spark, N_DOCS, seed=42)
    return run_pipeline(spark, pages, build_alias_rows(), workdir=None)


@pytest.fixture(scope="module")
def cx2(result):
    from llm_text_to_knowledge_graph_spark.export.cx2 import to_cx2

    return {k: v for a in to_cx2(result["nodes"], result["edges"]) for k, v in a.items()}


def _triple_key_rows(df):
    return {
        (r["url"], r["para_idx"], r["sent_idx"], r["subj"], r["pred"], r["obj"])
        for r in df.select("url", "para_idx", "sent_idx", "subj", "pred", "obj").collect()
    }


def test_triples_match_gold_exactly(spark, result):
    extracted = _triple_key_rows(result["triples"])
    gold = _triple_key_rows(gold_df(spark, N_DOCS, seed=42))
    missing = gold - extracted
    spurious = extracted - gold
    assert not missing, f"recall misses ({len(missing)}): {sorted(missing)[:5]}"
    assert not spurious, f"precision misses ({len(spurious)}): {sorted(spurious)[:5]}"
    assert len(gold) > 100


def test_nodes_dense_and_unique(result, cx2):
    """Pipeline node ids are content-addressed (``node_id_col(name)``) and
    unique; the CX2 renderer numbers them 0..n-1."""
    from llm_text_to_knowledge_graph_spark.operators.graph import node_id_col

    nodes = result["nodes"].withColumn("_h", node_id_col("name")).collect()
    assert len({n["node_id"] for n in nodes}) == len(nodes)
    assert len({n["name"] for n in nodes}) == len(nodes)
    assert all(n["node_id"] == n["_h"] for n in nodes)
    assert sorted(n["id"] for n in cx2["nodes"]) == list(range(len(nodes)))


def test_edges_reference_valid_nodes(result, cx2):
    nodes = result["nodes"].select("node_id").collect()
    node_ids = {n["node_id"] for n in nodes}
    edges = result["edges"].collect()
    assert len(edges) > 0
    for e in edges:
        assert e["s"] in node_ids and e["t"] in node_ids
        assert e["bel_expression"]
    # rendered: edge ids 0..m-1, every endpoint a rendered node id
    cx_nodes = {n["id"] for n in cx2["nodes"]}
    assert sorted(e["id"] for e in cx2["edges"]) == list(range(len(edges)))
    for e in cx2["edges"]:
        assert e["s"] in cx_nodes and e["t"] in cx_nodes


def test_node_urls_resolved(result):
    # every node whose entry_name was mentioned gets an identifiers.org URL
    # via the name-then-label annotation-map lookup (convert_to_cx2.py:159)
    nodes = result["nodes"].collect()
    with_url = [n for n in nodes if n["url"]]
    assert len(with_url) > 0
    for n in with_url:
        assert n["url"].startswith("https://identifiers.org/")


def test_evidence_carried(result):
    rows = result["triples"].select("bel_statement", "evidence").limit(20).collect()
    for r in rows:
        assert r["evidence"].strip()


def test_block_extractor_pipeline_matches_sentence_path(spark, result):
    """extractor="block" swaps in the extended paragraph-level engine; on
    the closed-world synthetic corpus it must produce the SAME statement
    multiset per (url, para_idx) as the sentence engine (the pure-Python
    equality is pinned in test_real_gold; this pins the Spark wiring —
    stage substitution, sent_idx=0 marker, graph build downstream)."""
    pages = pages_df(spark, N_DOCS, seed=42)
    out = run_pipeline(
        spark, pages, build_alias_rows(), workdir=None, extractor="block"
    )
    block = {
        (r["url"], r["para_idx"], r["bel_statement"])
        for r in out["statements"].collect()
    }
    sent = {
        (r["url"], r["para_idx"], r["bel_statement"])
        for r in result["statements"].collect()
    }
    assert block == sent
    assert (out["statements"].select("sent_idx").distinct().collect()
            == [(0,)] or block == set())
    # downstream graph build still holds: every edge endpoint resolves
    nodes = {n["node_id"] for n in out["nodes"].collect()}
    for e in out["edges"].limit(200).collect():
        assert e["s"] in nodes and e["t"] in nodes
