"""TransE scoring (operators/kge.py) vs a pure-Python md5 replay."""

from __future__ import annotations

import hashlib

import pytest

from llm_text_to_knowledge_graph_spark.operators.kge import (
    pseudo_embeddings,
    transe_energy,
)

DIM, SEED = 4, 11
NODES = [1, 2, 3, 40]
TRIPLES = [(1, "rel_a", 2), (2, "rel_a", 3), (3, "rel_b", 40)]


def _vec(key: int | str, prefix: str = "") -> list[float]:
    return [
        int(hashlib.md5(f"{prefix}{key}:{j}:{SEED}".encode()).hexdigest()[0], 16)
        / 15.0
        - 0.5
        for j in range(DIM)
    ]


def _energy(s, p, t, norm="l1") -> float:
    h, r, tt = _vec(s), _vec(p), _vec(t)
    d = [h[j] + r[j] - tt[j] for j in range(DIM)]
    return round(sum(abs(x) for x in d) if norm == "l1" else sum(x * x for x in d), 6)


@pytest.fixture(scope="module")
def frames(spark):
    ids = spark.createDataFrame([(n,) for n in NODES], ["node_id"])
    ent = pseudo_embeddings(ids, dim=DIM, seed=SEED)
    rels = spark.createDataFrame([("rel_a",), ("rel_b",)], ["node_id"])
    rel = pseudo_embeddings(rels, dim=DIM, seed=SEED).withColumnRenamed(
        "node_id", "rel"
    )
    tri = spark.createDataFrame(TRIPLES, ["s", "p", "t"])
    return tri, ent, rel


def test_pseudo_embeddings_replay(spark):
    ids = spark.createDataFrame([(n,) for n in NODES], ["node_id"])
    got = {
        r["node_id"]: list(r["vec"])
        for r in pseudo_embeddings(ids, dim=DIM, seed=SEED).collect()
    }
    for n in NODES:
        assert got[n] == pytest.approx(_vec(n), abs=1e-12)


@pytest.mark.parametrize("norm", ["l1", "l2sq"])
def test_transe_energy_replay(frames, norm):
    tri, ent, rel = frames
    got = {
        (r["s"], r["p"], r["t"]): r["energy"]
        for r in transe_energy(tri, ent, rel, norm=norm).collect()
    }
    assert len(got) == len(TRIPLES)
    for s, p, t in TRIPLES:
        assert got[(s, p, t)] == pytest.approx(_energy(s, p, t, norm), abs=1e-6)


def test_bad_norm(frames):
    tri, ent, rel = frames
    with pytest.raises(ValueError):
        transe_energy(tri, ent, rel, norm="l3")
