"""Graph query layer over a small hand-built graph + the synthetic KG."""

import pytest

from llm_text_to_knowledge_graph_spark.operators.graph_query import (
    k_hop_neighborhood,
    undirected_edges,
)


@pytest.fixture(scope="module")
def tiny_graph(spark):
    # path: 0-1-2-3-4 plus a spur 1-5
    edges = spark.createDataFrame(
        [
            (0, 0, 1, "increases", "e01", "t", "ev01"),
            (1, 1, 2, "increases", "e12", "t", "ev12"),
            (2, 2, 3, "decreases", "e23", "t", "ev23"),
            (3, 3, 4, "association", "e34", "t", "ev34"),
            (4, 1, 5, "association", "e15", "t", "ev15"),
        ],
        "edge_id long, s long, t long, interaction string, "
        "bel_expression string, text string, evidence string",
    )
    nodes = spark.createDataFrame(
        [(i, f"p(HGNC:N{i})", f"N{i}", "p", None) for i in range(6)],
        "node_id long, name string, label string, type string, url string",
    )
    return nodes, edges


def test_k_hop(tiny_graph):
    nodes, edges = tiny_graph
    hops = {r["node_id"]: r["hop"] for r in k_hop_neighborhood(edges, [0], k=2).collect()}
    assert hops == {0: 0, 1: 1, 2: 2, 5: 2}


def test_k_hop_exhausts_early(tiny_graph):
    nodes, edges = tiny_graph
    hops = k_hop_neighborhood(edges, [0], k=10).collect()
    assert {r["node_id"] for r in hops} == {0, 1, 2, 3, 4, 5}


def test_on_pipeline_output(spark):
    from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
    from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, pages_df(spark, 40, seed=42), build_alias_rows())
    nodes, edges = res["nodes"].persist(), res["edges"].persist()
    seed = nodes.orderBy("name").first()["node_id"]
    nb = k_hop_neighborhood(edges, [seed], k=2)
    assert nb.count() > 1


def test_graph_query_layer_is_id_scheme_agnostic(spark):
    """Degrees and k-hop work identically over hash-id tables, and the CX2
    exporter renders them directly."""
    import json

    from pyspark.sql import functions as F

    from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
    from llm_text_to_knowledge_graph_spark.operators.fused import extract_triples_fused
    from llm_text_to_knowledge_graph_spark.operators.graph import (
        build_edges,
        build_nodes,
    )

    t = extract_triples_fused(pages_df(spark, 30, seed=4), build_alias_rows(4)).persist()
    hn = build_nodes(t, id_strategy="hash").persist()
    he = build_edges(t, id_strategy="hash").persist()
    dn = build_nodes(t, id_strategy="dense").persist()
    de = build_edges(t, dn, id_strategy="dense").persist()

    # node degrees agree name-level between schemes
    def degrees(nodes, edges):
        deg = undirected_edges(edges).groupBy(F.col("s").alias("node_id")).count()
        return sorted(map(tuple, deg.join(nodes, "node_id").select("name", "count").collect()))

    assert degrees(hn, he) == degrees(dn, de)

    # k-hop frontier sizes agree when seeded from the same entity
    seed_name = hn.agg(F.min("name")).first()[0]
    hid = [r.node_id for r in hn.filter(F.col("name") == seed_name).collect()]
    did = [r.node_id for r in dn.filter(F.col("name") == seed_name).collect()]
    h_hops = k_hop_neighborhood(he, hid, k=2).groupBy("hop").count().collect()
    d_hops = k_hop_neighborhood(de, did, k=2).groupBy("hop").count().collect()
    assert sorted(map(tuple, h_hops)) == sorted(map(tuple, d_hops))

    # CX2 export of the hash graph: the renderer numbers it, valid aspects
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "g.cx2")
        from llm_text_to_knowledge_graph_spark.export.cx2 import write_cx2

        write_cx2(hn, he, path)
        doc = json.load(open(path))
    aspects = {k for a in doc for k in (a if isinstance(a, dict) else {})}
    assert "nodes" in aspects and "edges" in aspects
    for p in (t, hn, he, dn, de):
        p.unpersist()


def test_personalized_pagerank_concentrates_on_seeds(spark):
    from llm_text_to_knowledge_graph_spark.operators.graph_query import pagerank

    # two communities bridged by one edge; seed in community A
    a = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    b = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    edges = a + b + [(4, 10)]
    df = spark.createDataFrame(edges, "s long, t long")
    pr = {
        r["node_id"]: r["rank"]
        for r in pagerank(df, seeds=[0], iterations=8).collect()
    }
    # every community-A node outranks every community-B node
    assert min(pr[i] for i in range(5)) > max(pr[i] for i in range(10, 15))
    # rank is a distribution over nodes (undirected: no dangling loss)
    assert abs(sum(pr.values()) - 1.0) < 1e-9


def test_personalized_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from llm_text_to_knowledge_graph_spark.operators.graph_query import pagerank

    import random as _r

    _r.seed(3)
    edges = list({(min(u, v), max(u, v))
                  for u, v in ((_r.randint(0, 11), _r.randint(0, 11)) for _ in range(40))
                  if u != v})
    df = spark.createDataFrame(edges, "s long, t long")
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for u, v in edges:
        A[idx[u], idx[v]] = A[idx[v], idx[u]] = 1.0
    P = A / A.sum(axis=1, keepdims=True)
    p0 = np.zeros(n)
    for s in (nodes[0], nodes[3]):
        p0[idx[s]] = 0.5
    r = p0.copy()
    for _ in range(6):
        r = 0.15 * p0 + 0.85 * (P.T @ r)
    got = {
        row["node_id"]: row["rank"]
        for row in pagerank(
            df, seeds=[nodes[0], nodes[3]], iterations=6
        ).collect()
    }
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-9, node


def test_personalized_pagerank_scaled_matches_double(spark):
    """The integer-scaled variant replays the double variant with the same
    seeds within the documented ≤ iterations*1e-12 divergence bound."""
    from llm_text_to_knowledge_graph_spark.operators.graph_query import (
        pagerank,
        personalized_pagerank_scaled,
    )

    # a path 1-2-3 with a branch 1-4
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4)], "s long, t long"
    )
    kwargs = dict(seeds=[1, 2], iterations=6)
    want = {
        r["node_id"]: r["rank"]
        for r in pagerank(df, **kwargs).collect()
    }
    got = {
        r["node_id"]: r["rank_s"] / 1e12
        for r in personalized_pagerank_scaled(df, **kwargs).collect()
    }
    assert set(got) == set(want)
    for node, rank in want.items():
        assert abs(got[node] - rank) < 1e-10, (node, got[node], rank)
    # mass is conserved: the undirected graph has no dangling node
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_label_propagation_finds_cliques(spark):
    from llm_text_to_knowledge_graph_spark.operators.graph_query import (
        label_propagation,
    )

    # two 4-cliques joined by one bridge edge: majority voting keeps each
    # clique on its own min-id label and the bridge cannot flip either side
    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)]
    df = spark.createDataFrame(edges, "s long, t long")
    got = {
        r["node_id"]: r["label"]
        for r in label_propagation(df, iterations=6).collect()
    }
    assert len({got[i] for i in (0, 1, 2, 3)}) == 1
    assert len({got[i] for i in (10, 11, 12, 13)}) == 1
    assert got[0] != got[10]


def test_label_propagation_matches_independent_python(spark):
    import random as _r

    from llm_text_to_knowledge_graph_spark.operators.graph_query import (
        label_propagation,
    )

    _r.seed(9)
    edges = list({(min(u, v), max(u, v))
                  for u, v in ((_r.randint(0, 14), _r.randint(0, 14))
                               for _ in range(45))
                  if u != v})
    df = spark.createDataFrame(edges, "s long, t long")

    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    labels = {n: n for n in adj}
    for _ in range(4):
        new = {}
        for n, nbrs in adj.items():
            counts = {}
            for b in nbrs:
                counts[labels[b]] = counts.get(labels[b], 0) + 1
            # most frequent, ties -> smallest label
            new[n] = min(counts, key=lambda l: (-counts[l], l))
        if new == labels:
            break
        labels = new

    got = {
        r["node_id"]: r["label"]
        for r in label_propagation(df, iterations=4).collect()
    }
    assert got == labels

    # partitioning invariance: the vote is an aggregate, not a scan order
    got13 = {
        r["node_id"]: r["label"]
        for r in label_propagation(df.repartition(13), iterations=4).collect()
    }
    assert got13 == labels


def _tarjan_scc(edges):
    """Independent reference: iterative Tarjan over an adjacency dict.
    Returns {node: min_member_of_its_scc}."""
    adj: dict = {}
    nodes = set()
    for s, t in edges:
        adj.setdefault(s, []).append(t)
        nodes.add(s)
        nodes.add(t)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp: dict = {}
    counter = [0]

    def strongconnect(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            succs = adj.get(v, [])
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                scc = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    scc.append(w)
                    if w == v:
                        break
                m = min(scc)
                for w in scc:
                    comp[w] = m
            work.pop()
            if work:
                pv, _ = work[-1]
                low[pv] = min(low[pv], low[v])

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    return comp


def _scc_spark(spark, edges, schema="s long, t long"):
    from llm_text_to_knowledge_graph_spark.operators.graph_query import (
        strongly_connected_components,
    )

    df = spark.createDataFrame(edges, schema)
    return {
        r["node_id"]: r["component"]
        for r in strongly_connected_components(df).collect()
    }


def test_scc_known_shapes(spark):
    # two 2-cycles bridged one-way, plus a tail
    edges = [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (4, 5)]
    assert _scc_spark(spark, edges) == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    # pure chain: all singletons
    assert _scc_spark(spark, [(1, 2), (2, 3), (3, 4)]) == {
        1: 1, 2: 2, 3: 3, 4: 4,
    }
    # the (F,B)-class-with-two-SCCs shape: 1->5->4, 1->6->4 gives nodes
    # 5 and 6 identical (F, B) = (1, 4) in round 1 without being an SCC
    # — the class cut must separate them in round 2
    assert _scc_spark(spark, [(1, 5), (5, 4), (1, 6), (6, 4)]) == {
        1: 1, 4: 4, 5: 5, 6: 6,
    }


def test_scc_matches_tarjan_on_random_graph(spark):
    import random as _r

    _r.seed(7)
    n = 24
    edges = list({(_r.randint(0, n - 1), _r.randint(0, n - 1))
                  for _ in range(55)})
    edges = [(s, t) for s, t in edges if s != t]
    assert _scc_spark(spark, edges) == _tarjan_scc(edges)


def test_scc_degenerate_inputs(spark):
    from llm_text_to_knowledge_graph_spark.operators.graph_query import (
        strongly_connected_components,
    )

    # empty edge table -> empty (node_id, component), no crash
    empty = spark.createDataFrame([], "s long, t long")
    out = strongly_connected_components(empty)
    assert out.columns == ["node_id", "component"]
    assert out.count() == 0
    # exhausting the inner fixpoint must RAISE, not silently cut an SCC
    # apart (an 8-cycle needs more than one propagation iteration)
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)], "s long, t long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        strongly_connected_components(cycle, max_prop_iter=1)
    # and with the default budget the cycle is one component
    got = {
        r["node_id"]: r["component"]
        for r in strongly_connected_components(cycle).collect()
    }
    assert got == {i: 0 for i in range(8)}


def test_scc_string_keyed_host_graph(spark):
    """Id-type-agnostic: host strings work directly (min = lexicographic
    on both engines) — the web bow-tie input shape."""
    edges = [
        ("a.org", "b.org"), ("b.org", "a.org"),   # giant SCC
        ("in.org", "a.org"),                       # IN
        ("b.org", "out.org"),                      # OUT
    ]
    got = _scc_spark(spark, edges, schema="s string, t string")
    assert got == {
        "a.org": "a.org", "b.org": "a.org",
        "in.org": "in.org", "out.org": "out.org",
    }


def test_bowtie_classify_known_shape(spark):
    from llm_text_to_knowledge_graph_spark.operators.graph_query import (
        bowtie_classify,
    )

    # IN {1} -> core {2,3} -> OUT {4,5 chain}; tendril {6} hangs off IN
    # (touches the structure but neither reaches nor is reached by the
    # core); {8,9} a disconnected 2-cycle (its own SCC, but not giant)
    edges = [
        (1, 2), (2, 3), (3, 2), (3, 4), (4, 5),
        (1, 6),
        (8, 9), (9, 8),
    ]
    df = spark.createDataFrame(edges, "s long, t long")
    got = {
        r["node_id"]: (r["component"], r["region"])
        for r in bowtie_classify(df).collect()
    }
    assert got == {
        1: (1, "IN"),
        2: (2, "SCC"),
        3: (2, "SCC"),
        4: (4, "OUT"),
        5: (5, "OUT"),
        6: (6, "TENDRIL"),   # reachable from IN only, not from the core
        8: (8, "TENDRIL"),   # disconnected non-giant SCC
        9: (8, "TENDRIL"),
    }
    # giant tie-break: two 2-cycles -> smaller component id wins
    df2 = spark.createDataFrame(
        [(1, 2), (2, 1), (5, 6), (6, 5)], "s long, t long"
    )
    got2 = {r["node_id"]: r["region"] for r in bowtie_classify(df2).collect()}
    assert got2 == {1: "SCC", 2: "SCC", 5: "TENDRIL", 6: "TENDRIL"}


def test_scc_condensation_is_acyclic_and_matches_tarjan(spark):
    import random as _r

    from llm_text_to_knowledge_graph_spark.operators.graph_query import (
        scc_condensation,
    )

    _r.seed(13)
    n = 20
    edges = list({(_r.randint(0, n - 1), _r.randint(0, n - 1))
                  for _ in range(45)})
    edges = [(s, t) for s, t in edges if s != t]
    comp = _tarjan_scc(edges)
    want = {}
    for s, t in edges:
        if comp[s] != comp[t]:
            key = (comp[s], comp[t])
            want[key] = want.get(key, 0) + 1
    df = spark.createDataFrame(edges, "s long, t long")
    got = {
        (r["cs"], r["ct"]): r["n_edges"]
        for r in scc_condensation(df).collect()
    }
    assert got == want
    # acyclic: Kahn's algorithm consumes every condensation node
    nodes = {c for k in got for c in k}
    indeg = {c: 0 for c in nodes}
    for _, ct in got:
        indeg[ct] += 1
    queue = [c for c in nodes if indeg[c] == 0]
    seen = 0
    while queue:
        c = queue.pop()
        seen += 1
        for (cs, ct) in got:
            if cs == c:
                indeg[ct] -= 1
                if indeg[ct] == 0:
                    queue.append(ct)
    assert seen == len(nodes)
