"""Iterative graph algorithms: connected components + PageRank."""

import pytest
from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.operators.graph_query import (
    connected_components,
    pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame([(int(s), int(t)) for s, t in pairs], "s long, t long")


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, t in pairs:
        rs, rt = find(s), find(t)
        if rs != rt:
            parent[max(rs, rt)] = min(rs, rt)
    return {x: find(x) for x in parent}


PAIRS = [
    (1, 2), (2, 3), (3, 4),          # chain component, min id 1
    (10, 11), (11, 12), (10, 12),    # triangle component, min id 10
    (20, 21),                         # pair component
    (5, 1),                           # joins the chain, becomes its min? no: 1 < 5
]


def test_connected_components_match_union_find(spark):
    got = {
        r.node_id: r.component
        for r in connected_components(_edges(spark, PAIRS)).collect()
    }
    want = _union_find(PAIRS)
    assert got == want
    assert got[4] == 1 and got[12] == 10 and got[21] == 20 and got[5] == 1


def test_connected_components_long_chain_converges(spark):
    chain = [(i, i + 1) for i in range(30)]
    got = connected_components(_edges(spark, chain)).collect()
    assert {r.component for r in got} == {0}
    assert len(got) == 31


def test_connected_components_on_pipeline_graph(spark):
    from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
    from llm_text_to_knowledge_graph_spark.operators.fused import extract_triples_fused
    from llm_text_to_knowledge_graph_spark.operators.graph import build_edges

    t = extract_triples_fused(pages_df(spark, 30, seed=6), build_alias_rows(6))
    edges = build_edges(t, id_strategy="hash").persist()
    comp = connected_components(edges).persist()
    # exact agreement with a driver-side union-find on the same edge list
    pairs = [(r.s, r.t) for r in edges.select("s", "t").collect()]
    want = _union_find(pairs)
    got = {r.node_id: r.component for r in comp.collect()}
    assert got == want
    edges.unpersist(); comp.unpersist()


def test_pagerank_normalized_and_hub_heavy(spark):
    # star: hub 0 connected to 1..8, plus a distant pair
    star = [(0, i) for i in range(1, 9)] + [(100, 101)]
    pr = {r.node_id: r.rank for r in pagerank(_edges(spark, star), iterations=10).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert pr[0] == max(pr.values())  # the hub dominates
    leaf_ranks = {round(pr[i], 10) for i in range(1, 9)}
    assert len(leaf_ranks) == 1  # symmetry preserved exactly


def test_pagerank_directed_dangling_mass_conserved(spark):
    # 1 -> 2 -> 3, node 3 dangling
    pr = {
        r.node_id: r.rank
        for r in pagerank(
            _edges(spark, [(1, 2), (2, 3)]), iterations=8, undirected=False
        ).collect()
    }
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert pr[3] > pr[2] > pr[1]  # downstream accumulates rank


def test_pagerank_deterministic_across_partitionings(spark):
    e = _edges(spark, PAIRS)
    a = sorted((r.node_id, round(r.rank, 12)) for r in pagerank(e.repartition(1)).collect())
    b = sorted((r.node_id, round(r.rank, 12)) for r in pagerank(e.repartition(7)).collect())
    assert a == b


def test_pagerank_seeded_with_every_node_equals_global(spark):
    # seeding every node makes the teleport vector uniform, so the seeded
    # mode must reproduce the global ranks; directed, nodes 4, 12 and 21
    # dangle, which exercises the re-teleport of dangling mass
    e = _edges(spark, PAIRS)
    every = sorted({x for p in PAIRS for x in p})
    for undirected in (True, False):
        glob = {
            r.node_id: r.rank
            for r in pagerank(e, 8, undirected=undirected).collect()
        }
        seeded = {
            r.node_id: r.rank
            for r in pagerank(e, 8, undirected=undirected, seeds=every).collect()
        }
        assert set(seeded) == set(glob) == set(every)
        for node, rank in glob.items():
            assert abs(seeded[node] - rank) < 1e-12, (undirected, node)
