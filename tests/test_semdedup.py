"""SemDeDup (cluster-bounded semantic dedup) vs an independent numpy
reference, plus semantic invariants (diversity keep-policy, within-cell
scope, positive certification of keeps)."""

import numpy as np
import pytest

from llm_text_to_knowledge_graph_spark.operators.similarity import (
    ivf_centroids,
    semantic_dedup,
)


def _py_semdedup(vecs, cents, thr):
    """Independent reference: per-item nearest centroid (round-9 cosine,
    cid-asc ties), cluster order = centroid-sim ASC / id ASC, drop i iff
    an earlier j has round-6 cos(i,j) >= thr; witness = min such j."""

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    assign = {}
    for vid, v in vecs.items():
        best = min(
            ((-round(cos(v, c), 9), cid) for cid, c in cents),
            key=lambda t: t,
        )
        assign[vid] = (best[1], -best[0])
    out = {}
    for vid, v in vecs.items():
        cell, csim = assign[vid]
        witnesses = [
            o
            for o, w in vecs.items()
            if o != vid
            and assign[o][0] == cell
            and (assign[o][1] < csim or (assign[o][1] == csim and o < vid))
            and round(cos(v, w), 6) >= thr
        ]
        out[vid] = (cell, csim, min(witnesses) if witnesses else None)
    return out


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.RandomState(0)
    centers = rng.randn(3, 8) * 4
    rows = []
    for i in range(60):
        base = centers[i % 3] + rng.randn(8) * 0.5
        rows.append((i, [float(x) for x in base]))
    # planted near-dups: small perturbations of existing rows (cos ~ 0.999,
    # above 0.95 but — unlike 1e-3 noise — below 1.0 after round-6)
    for j, src in enumerate([0, 1, 5, 7]):
        v = np.array(rows[src][1]) + rng.randn(8) * 0.3
        rows.append((100 + j, [float(x) for x in v]))
    rows.append((200, rows[0][1]))  # exact duplicate of id 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, {vid: np.array(v) for vid, v in rows}


def test_matches_python_reference(spark, clustered):
    df, vecs = clustered
    cents = ivf_centroids(df, n_centroids=4, method="lowest_id")
    got = {
        r["vec_id"]: (r["cell"], r["centroid_sim"], r["dup_of"])
        for r in semantic_dedup(df, cents, threshold=0.95).collect()
    }
    exp = _py_semdedup(vecs, [(c, np.array(v)) for c, v in cents], 0.95)
    assert set(got) == set(vecs)  # every vector certified keep or drop
    for vid in vecs:
        assert got[vid] == (
            exp[vid][0],
            pytest.approx(exp[vid][1], abs=1e-9),
            exp[vid][2],
        ), vid


def test_keeps_farthest_from_centroid(spark, clustered):
    df, vecs = clustered
    cents = ivf_centroids(df, n_centroids=4, method="lowest_id")
    rows = {r["vec_id"]: r for r in semantic_dedup(df, cents, threshold=0.95).collect()}
    # exact duplicate pair (0, 200): some dups exist and every witness ranks
    # strictly earlier (centroid_sim ASC, id ASC) in the SAME cell — the
    # paper's diversity-preserving keep policy
    assert not rows[200]["keep"]  # exact copy of 0 can never survive it
    dropped = [r for r in rows.values() if r["dup_of"] is not None]
    assert dropped
    for r in dropped:
        w = rows[r["dup_of"]]
        assert (w["centroid_sim"], w["vec_id"]) < (
            r["centroid_sim"], r["vec_id"]
        )
        assert w["cell"] == r["cell"]  # witness is within-cell only


def test_exact_dup_tie_breaks_by_id(spark):
    # two identical vectors, nothing else nearby: equal centroid_sim ->
    # id-asc tie, the lower id survives
    rows_in = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows_in, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    rows = {r["vec_id"]: r for r in semantic_dedup(df, cents, threshold=0.95).collect()}
    assert rows[0]["keep"] and rows[2]["keep"]
    assert not rows[1]["keep"] and rows[1]["dup_of"] == 0


def test_kmeans_centroids_work_and_threshold_1_drops_only_exact(spark, clustered):
    df, vecs = clustered
    cents = ivf_centroids(df, n_centroids=3, method="kmeans")
    rows = semantic_dedup(df, cents, threshold=1.0).collect()
    dropped = [r for r in rows if not r["keep"]]
    # only the exact duplicate of id 0 reaches cos == 1.0
    assert [(r["vec_id"], r["dup_of"]) for r in dropped] == [(200, 0)]
