"""Content-addressed (hash) graph-id strategy: parity with the dense path.

The hash path is the 100TB hot path — edges are a join-free projection over
triples — so its graph must be isomorphic to the dense-path graph under id
relabeling, and the native label/type column expressions must agree
byte-for-byte with the reference-parity Python functions
(functions/bel.py:238-252 <- reference convert_to_cx2.py:135-149).
"""

import pytest
from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.functions.bel import extract_label, extract_type
from llm_text_to_knowledge_graph_spark.export.cx2 import to_cx2
from llm_text_to_knowledge_graph_spark.operators.graph import (
    audit_edge_id_collisions,
    audit_id_collisions,
    build_edges,
    build_nodes,
    label_col,
    type_col,
)

TRIPLES = [
    # url, para_idx, sent_idx, subj, pred, obj, evidence
    ("u1", 0, 0, 'p(HGNC:"AKT1")', "increases", 'p(HGNC:"MTOR")', "s1"),
    ("u1", 0, 1, 'p(HGNC:"AKT1")', "decreases", 'p(HGNC:"TP53", pmod(Ph))', "s2"),
    ("u2", 1, 0, 'a(CHEBI:"rapamycin")', "decreases", 'act(p(HGNC:"MTOR"))', "s3"),
    ("u2", 2, 0, 'complex(p(HGNC:"A"), p(HGNC:"B"))', "increases", 'bp(GO:"apoptotic process")', "s4"),
    ("u3", 0, 0, 'p(HGNC:"MTOR")', "increases", 'p(HGNC:"RPS6KB1", loc(GO:"nucleus"))', "s5"),
]

LABEL_CASES = [
    'p(HGNC:"AKT1")',
    'p(HGNC:"TP53", pmod(Ph))',
    'p(HGNC:"TP53", pmod(Ph, S, 15))',
    'complex(p(HGNC:"A"), p(HGNC:"B"))',
    'p(HGNC:"X", loc(GO:"extracellular space"))',
    "act(p(HGNC:'MTOR'))",
    "bareword",
    "a(CHEBI:unquoted name)",
    "",
    "weird(:colon-first)",
    'pmod(Ph)',
    "loc(GO:nucleus)",
    "p(HGNC: spaced )",
]


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(
        TRIPLES, "url string, para_idx int, sent_idx int, subj string, pred string, obj string, evidence string"
    )


def _name_level_edges(nodes, edges):
    idn = {r.node_id: r.name for r in nodes.collect()}
    return sorted(
        (idn[r.s], r.interaction, idn[r.t], r.bel_expression, r.evidence)
        for r in edges.collect()
    )


def test_native_label_type_parity(spark):
    names = [r[3] for r in TRIPLES] + [r[5] for r in TRIPLES] + LABEL_CASES
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = (
        df.select("name", label_col("name").alias("l"), type_col("name").alias("t"))
        .collect()
    )
    for r in got:
        assert r.l == extract_label(r.name), r.name
        assert r.t == extract_type(r.name), r.name


def test_hash_graph_isomorphic_to_dense(spark, triples):
    dn = build_nodes(triples, id_strategy="dense")
    de = build_edges(triples, dn, id_strategy="dense")
    hn = build_nodes(triples, id_strategy="hash")
    he = build_edges(triples, id_strategy="hash")
    assert _name_level_edges(dn, de) == _name_level_edges(hn, he)
    # node sets identical; hash ids deterministic and collision-free here
    assert sorted(r.name for r in dn.collect()) == sorted(r.name for r in hn.collect())
    assert audit_id_collisions(hn) == 0
    # endpoint ids all resolve in the node table (referential integrity
    # without a join having enforced it)
    node_ids = {r.node_id for r in hn.collect()}
    for r in he.collect():
        assert r.s in node_ids and r.t in node_ids


def test_hash_ids_stable_across_partitionings(spark, triples):
    a = build_nodes(triples.repartition(1), id_strategy="hash")
    b = build_nodes(triples.repartition(7, "subj"), id_strategy="hash")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_hash_edges_plan_has_no_shuffle(spark, triples):
    plan = build_edges(triples, id_strategy="hash")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_renumber_for_export_dense_and_consistent(spark, triples):
    """The CX2 renderer numbers hash-id tables 0..n-1 / 0..m-1 and keeps the
    name-level graph."""
    hn = build_nodes(triples, id_strategy="hash")
    he = build_edges(triples, id_strategy="hash")
    cx = {k: v for a in to_cx2(hn, he) for k, v in a.items()}
    assert sorted(n["id"] for n in cx["nodes"]) == list(range(hn.count()))
    assert sorted(e["id"] for e in cx["edges"]) == list(range(he.count()))
    idn = {n["id"]: n["v"]["name"] for n in cx["nodes"]}
    rendered = sorted(
        (idn[e["s"]], e["v"]["interaction"], idn[e["t"]],
         e["v"]["bel_expression"], e["v"]["evidence"])
        for e in cx["edges"]
    )
    assert rendered == _name_level_edges(hn, he)


def test_checkpoint_recomputes_graph_tables_of_another_fingerprint(spark, tmp_path):
    """A workdir whose nodes/edges snapshots were committed as dense-id
    tables under another fingerprint resumes the extraction stages and
    recomputes nodes/edges as hash-addressed tables instead of serving the
    dense snapshots: a stage resumes only under its own run's fingerprint."""
    from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
    from llm_text_to_knowledge_graph_spark.operators.graph import annotation_map
    from llm_text_to_knowledge_graph_spark.plans.checkpoint import make_table_store
    from llm_text_to_knowledge_graph_spark.plans.pipeline import run_pipeline

    pages = pages_df(spark, 20, seed=3)
    alias = build_alias_rows(3)
    wd = str(tmp_path / "ckpt")
    run_pipeline(spark, pages, alias, workdir=wd)
    # recommit the graph tables as a dense-id run wrote them
    store = make_table_store(spark, wd)
    t = store.read(spark, "triples")
    dn = store.commit(
        build_nodes(
            t, annotation_map(store.read(spark, "flat_mentions")), id_strategy="dense"
        ),
        "nodes", "adhoc:nodes:dense", "dense-run",
    )
    store.commit(
        build_edges(t, dn, id_strategy="dense"), "edges", "adhoc:edges:dense", "dense-run"
    )
    assert sorted(r.node_id for r in dn.collect()) == list(range(dn.count()))

    r2 = run_pipeline(spark, pages, alias, workdir=wd)
    res = {m["stage"]: m["resumed"] for m in r2["metrics"]}
    assert res["triples"] and not res["nodes"] and not res["edges"]
    # and the recomputed tables really are hash-addressed
    nodes = {r.name: r.node_id for r in r2["nodes"].collect()}
    hashed = {r.name: r.node_id for r in build_nodes(t, id_strategy="hash").collect()}
    assert nodes == hashed
    for r in r2["edges"].limit(20).collect():
        assert r.s in nodes.values() and r.t in nodes.values()
    assert any(v < 0 or v >= len(nodes) for v in nodes.values())  # not dense
    r3 = run_pipeline(spark, pages, alias, workdir=wd)
    assert all(m["resumed"] for m in r3["metrics"])


def test_audit_edge_id_collisions_keeps_concatenation_twins_apart(spark):
    """Distinct identity keys that a separator-joined string would merge:
    NULLs in different fields (concat_ws skips NULLs), and a url holding the
    separator. Each pair shares an edge_id, so each is one collision."""
    edges = spark.createDataFrame(
        [
            (7, "u1", None, 3, "x"), (7, "u1", 3, None, "x"),
            (8, "u\x011", 2, 3, "x"), (8, "u", 1, 2, "3\x01x"),
        ],
        "edge_id long, url string, para_idx int, sent_idx int, bel_expression string",
    )
    assert audit_edge_id_collisions(edges) == 2


def test_hash_seed_bump_changes_ids_preserves_topology(spark, triples):
    """Collision remediation: rebuilding with hash_seed+1 re-keys every node
    deterministically while the name-level graph is unchanged."""
    n0 = build_nodes(triples, id_strategy="hash")
    e0 = build_edges(triples, id_strategy="hash")
    n1 = build_nodes(triples, id_strategy="hash", hash_seed=1)
    e1 = build_edges(triples, id_strategy="hash", hash_seed=1)
    ids0 = {r.name: r.node_id for r in n0.collect()}
    ids1 = {r.name: r.node_id for r in n1.collect()}
    assert set(ids0) == set(ids1)
    assert all(ids0[k] != ids1[k] for k in ids0)  # every id re-keyed
    assert _name_level_edges(n0, e0) == _name_level_edges(n1, e1)
    # deterministic: same seed, same ids
    again = {r.name: r.node_id for r in build_nodes(triples, id_strategy="hash", hash_seed=1).collect()}
    assert again == ids1


def test_nodes_from_edges_matches_build_nodes(spark, triples):
    from llm_text_to_knowledge_graph_spark.operators.graph import nodes_from_edges

    he = build_edges(triples, id_strategy="hash", carry_names=True)
    derived = sorted(map(tuple, nodes_from_edges(he).collect()))
    direct = sorted(map(tuple, build_nodes(triples, id_strategy="hash").collect()))
    assert derived == direct
    # and carry_names adds exactly the two name columns
    assert he.columns[-2:] == ["s_name", "t_name"]
    base = build_edges(triples, id_strategy="hash")
    assert base.columns == he.columns[:-2]


def test_driver_entry_is_content_addressed(spark):
    """The driver's flagship ``entry`` keeps its columns and rows, and its
    endpoint ids are ``node_id_col`` of the endpoint terms: the same edges
    as the dense-id modular chain, relabelled by name."""
    import os

    import __spark_entry__ as drv
    from llm_text_to_knowledge_graph_spark.operators.graph import (
        annotation_map,
        node_id_col,
    )
    from llm_text_to_knowledge_graph_spark.operators.mentions import (
        detect_mentions,
        explode_mentions,
    )
    from llm_text_to_knowledge_graph_spark.operators.statements import (
        extract_cooccurrence,
    )
    from llm_text_to_knowledge_graph_spark.operators.triples import parse_triples

    if not os.path.isdir(drv.ENTRY_SF):
        pytest.skip("driver corpus not present")
    got = drv.entry(spark)
    assert got.columns == [
        "edge_id", "s", "t", "interaction", "bel_expression", "text", "evidence"
    ]

    mentions = detect_mentions(
        drv._docs_as_sentences(spark, drv.ENTRY_SF), drv.VOCAB_ALIAS_ROWS
    )
    triples = parse_triples(extract_cooccurrence(mentions))
    dn = build_nodes(
        triples, annotation_map(explode_mentions(mentions)), id_strategy="dense"
    )
    de = build_edges(triples, dn, id_strategy="dense")
    hid = {
        r.node_id: r.h
        for r in dn.select("node_id", node_id_col("name").alias("h")).collect()
    }
    cols = ["s", "t", "interaction", "bel_expression", "text", "evidence"]
    want = sorted((hid[r.s], hid[r.t], *r[2:]) for r in de.select(*cols).collect())
    rows = sorted(tuple(r) for r in got.select(*cols).collect())
    assert len(rows) == len(want) > 0
    assert rows == want
