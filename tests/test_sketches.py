"""Deterministic HLL / CMS sketches and triangle counting.

Every property here is checked against an INDEPENDENT computation (exact
Python counts, hashlib-reimplemented register math, itertools brute-force
triangles) — never against the operator itself.
"""

import hashlib
import itertools
import math
import random

import pytest
from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.operators.sketches import (
    HLL_ALPHA,
    HLL_M,
    cms_build,
    cms_estimate,
    hll_distinct,
    hll_estimate,
    hll_registers,
)
from llm_text_to_knowledge_graph_spark.operators.graph_query import triangle_count


# ---------------------------------------------------------------------------
# independent python HLL (hashlib; no Spark, no shared code)
# ---------------------------------------------------------------------------

def _py_hll(keys):
    regs = {}
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        reg = int(h[:2], 16)
        tail = h[2:12]
        bits = bin(int(tail, 16))[2:].zfill(40)
        rho = 41 if int(tail, 16) == 0 else bits.index("1") + 1
        regs[reg] = max(regs.get(reg, 0), rho)
    int_sum = sum(1 << (41 - m) for m in regs.values())
    v = HLL_M - len(regs)
    denom = int_sum + v * (1 << 41)
    e_raw = HLL_ALPHA * HLL_M * HLL_M * float(1 << 41) / denom
    if e_raw <= 2.5 * HLL_M and v > 0:
        return HLL_M * math.log(HLL_M / v)
    return e_raw


def test_hll_matches_independent_python(spark):
    keys = [f"url-{i % 700}" for i in range(5000)]  # dups collapse
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = hll_distinct(df, "k").collect()[0]["est_distinct"]
    assert got == pytest.approx(_py_hll(set(keys)), abs=1e-3)


def test_hll_accuracy_within_rse_bound(spark):
    # standard error for m=256 is ~1.04/sqrt(m) = 6.5%; allow 3 sigma
    for n in (150, 1000, 20000):
        df = spark.range(n).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
        est = hll_distinct(df, "k").collect()[0]["est_distinct"]
        assert abs(est - n) / n < 3 * 1.04 / math.sqrt(HLL_M), (n, est)


def test_hll_grouped_and_duplicate_invariant(spark):
    rows = [(g, f"item-{g}-{i % (50 * (g + 1))}") for g in range(3) for i in range(2000)]
    df = spark.createDataFrame(rows, "grp int, k string")
    out = {r["grp"]: r["est_distinct"] for r in hll_distinct(df, "k", ["grp"]).collect()}
    # duplicates must not move the estimate at all: sketch of the distinct
    # set is identical by construction
    ded = {
        r["grp"]: r["est_distinct"]
        for r in hll_distinct(df.distinct(), "k", ["grp"]).collect()
    }
    assert out == ded
    for g in range(3):
        true = 50 * (g + 1)
        assert abs(out[g] - true) / true < 0.25


def test_hll_registers_merge_by_max(spark):
    # union-then-sketch == sketch-then-max-merge (monthly snapshot merge)
    a = spark.range(0, 800).select(F.concat(F.lit("u"), F.col("id")).alias("k"))
    b = spark.range(400, 1300).select(F.concat(F.lit("u"), F.col("id")).alias("k"))
    direct = hll_estimate(hll_registers(a.unionByName(b), "k")).collect()[0]
    merged_regs = (
        hll_registers(a, "k")
        .unionByName(hll_registers(b, "k"))
        .groupBy("register")
        .agg(F.max("m").alias("m"))
    )
    merged = hll_estimate(merged_regs).collect()[0]
    assert direct["est_distinct"] == merged["est_distinct"]


def test_hll_register_table_bounded(spark):
    df = spark.range(100_000).select(F.col("id").cast("string").alias("k"))
    assert hll_registers(df, "k").count() <= HLL_M


# ---------------------------------------------------------------------------
# count-min
# ---------------------------------------------------------------------------

def test_cms_never_underestimates_and_tight_when_sparse(spark):
    random.seed(7)
    keys = [f"tok-{i}" for i in range(40)]
    occurrences = [k for k in keys for _ in range(random.randint(1, 30))]
    random.shuffle(occurrences)
    df = spark.createDataFrame([(k,) for k in occurrences], "k string")
    exact = {k: occurrences.count(k) for k in keys}
    cand = spark.createDataFrame([(k,) for k in keys], "k string")
    est = {
        r["k"]: r["est_n"]
        for r in cms_estimate(cand, cms_build(df, "k"), "k").collect()
    }
    assert set(est) == set(keys)
    for k in keys:
        assert est[k] >= exact[k]
    # 40 keys into 4 rows x 4096 cols: collisions essentially impossible,
    # estimates exact
    assert est == exact


def test_cms_weighted(spark):
    df = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 1)], "k string, w int"
    )
    est = cms_estimate(
        df.select("k").distinct(), cms_build(df, "k", weight_col="w"), "k"
    ).collect()
    assert {r["k"]: r["est_n"] for r in est} == {"a": 12, "b": 1}


def test_cms_sketch_bounded(spark):
    df = spark.range(200_000).select(F.col("id").cast("string").alias("k"))
    assert cms_build(df, "k").count() <= 4 * 16**3


# ---------------------------------------------------------------------------
# triangles
# ---------------------------------------------------------------------------

def _py_triangles(edge_list):
    adj = {}
    es = set()
    for u, v in edge_list:
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        es.add((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    per = {}
    n = 0
    for a, b in es:
        for c in adj[a] & adj[b]:
            if c > b:  # each triangle once (a < b < c with a<b from es)
                if a < b < c:
                    n += 1
                    for x in (a, b, c):
                        per[x] = per.get(x, 0) + 1
    return n, per


def test_triangles_match_bruteforce_random_graph(spark):
    random.seed(11)
    edges = [
        (random.randint(0, 40), random.randint(0, 40)) for _ in range(300)
    ]
    df = spark.createDataFrame(edges, "s long, t long")
    n_true, per_true = _py_triangles(edges)
    assert n_true > 0  # dense enough to be a real test
    got_per = {
        r["node_id"]: r["n_triangles"] for r in triangle_count(df).collect()
    }
    assert got_per == per_true
    # corner identity: per-vertex counts sum to 3x the triangle count
    assert sum(got_per.values()) == 3 * n_true


def test_triangles_direction_and_dup_invariant(spark):
    base = [(1, 2), (2, 3), (3, 1), (3, 4)]
    noisy = base + [(2, 1), (1, 3), (2, 3), (4, 4)]  # reversals, dups, loop
    a = triangle_count(spark.createDataFrame(base, "s long, t long")).collect()
    b = triangle_count(spark.createDataFrame(noisy, "s long, t long")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) == [(1, 1), (2, 1), (3, 1)]


def test_triangles_star_hub_has_none(spark):
    # the skew case the orientation is FOR: a pure hub has no triangles
    # and must not generate quadratic wedges from the hub side
    edges = [(0, i) for i in range(1, 200)]
    df = spark.createDataFrame(edges, "s long, t long")
    assert triangle_count(df).count() == 0


# ---------------------------------------------------------------------------
# plan assertions: the sketches stay JVM-side and shuffle-minimal
# ---------------------------------------------------------------------------

def test_sketch_plans_zero_python_and_bounded_shuffles(spark):
    from llm_text_to_knowledge_graph_spark.operators.retrieval import bm25_scores
    from llm_text_to_knowledge_graph_spark.operators.sketches import (
        quantile_histogram,
    )
    from llm_text_to_knowledge_graph_spark.plans.bucketing import exchange_count

    df = spark.range(5000).select(
        (F.col("id") % 7).cast("string").alias("grp"),
        F.concat(F.lit("key-"), (F.col("id") % 900).cast("string")).alias("k"),
        F.concat(
            F.lit("tok"), (F.col("id") % 11).cast("string"),
            F.lit(" tok"), (F.col("id") % 5).cast("string"),
        ).alias("text"),
        F.col("id").alias("doc_id"),
        (F.col("id") % 997).cast("double").alias("x"),
    )
    plans = {
        # build = exactly ONE shuffle (the partial-agg groupBy); estimate
        # adds the tiny second agg on <=256 rows/group
        "hll": (hll_distinct(df, "k", ["grp"]), 2),
        "cms": (cms_build(df, "k"), 1),
        # histogram: bounds agg + broadcast join back + bin agg
        "hist": (quantile_histogram(df, "x", ["grp"]), 2),
        # bm25: dl agg, tf agg, df agg, per-doc sum + broadcast joins;
        # the dl join on doc_id is the one non-broadcast join
        "bm25": (bm25_scores(df, ["tok1", "tok2"]), 6),
    }
    for name, (frame, max_exchanges) in plans.items():
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, (name, marker)
        assert exchange_count(frame) <= max_exchanges, (
            name, exchange_count(frame)
        )


# ---------------------------------------------------------------------------
# link prediction (Adamic-Adar)
# ---------------------------------------------------------------------------

def _py_adamic_adar(edge_list):
    adj = {}
    es = set()
    for u, v in edge_list:
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        if (a, b) in es:
            continue
        es.add((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for x, nbrs in adj.items():
        w = 1.0 / math.log(len(nbrs))
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                a, b = ns[i], ns[j]
                if (a, b) in es:
                    continue
                cn, aa = out.get((a, b), (0, 0.0))
                out[(a, b)] = (cn + 1, aa + w)
    return {k: (cn, round(aa, 6)) for k, (cn, aa) in out.items()}


def test_link_prediction_matches_independent_python(spark):
    from llm_text_to_knowledge_graph_spark.operators.graph_query import (
        link_prediction_scores,
    )

    random.seed(21)
    edges = [(random.randint(0, 30), random.randint(0, 30)) for _ in range(150)]
    df = spark.createDataFrame(edges, "s long, t long")
    got = {
        (r["a"], r["b"]): (r["common_neighbors"], r["adamic_adar"])
        for r in link_prediction_scores(df).collect()
    }
    want = _py_adamic_adar(edges)
    assert set(got) == set(want)
    for k in got:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-6)
    # no predicted pair may be an existing edge
    es = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    assert not (set(got) & es)


def test_negative_samples_match_independent_python(spark):
    from llm_text_to_knowledge_graph_spark.operators.negatives import (
        negative_samples,
    )

    random.seed(31)
    edges = list({(random.randint(0, 19), random.randint(0, 19)) for _ in range(60)})
    df = spark.createDataFrame(edges, "s long, t long")
    n_ent, k, seed = 20, 3, 7

    def py_negatives():
        es = set(edges)
        out = set()
        for s, t in edges:
            for c in range(k):
                h = int(hashlib.md5(f"{s}:{t}:{c}:{seed}".encode()).hexdigest()[:15], 16)
                repl = (h >> 1) % n_ent
                if h % 2 == 0:
                    ns, nt = repl, t
                else:
                    ns, nt = s, repl
                if (ns, nt) not in es:
                    out.add((s, t, c, h % 2 == 0, ns, nt))
        return out

    got = {
        (r["s"], r["t"], r["copy"], r["corrupt_head"], r["neg_s"], r["neg_t"])
        for r in negative_samples(df, n_ent, k=k, seed=seed).collect()
    }
    assert got == py_negatives()
    assert len(got) > 0
    # no emitted negative is a true edge
    es = set(edges)
    assert all((ns, nt) not in es for (_, _, _, _, ns, nt) in got)
    # partitioning-invariant (pure function of (edge, copy, seed))
    got2 = {
        (r["s"], r["t"], r["copy"], r["corrupt_head"], r["neg_s"], r["neg_t"])
        for r in negative_samples(df.repartition(9), n_ent, k=k, seed=seed).collect()
    }
    assert got2 == got


def test_negative_samples_draws_near_uniform(spark):
    from llm_text_to_knowledge_graph_spark.operators.negatives import (
        negative_samples,
    )

    # one edge, many copies: the replacement draw must spread over the
    # entity space (chi-square-free sanity: every decile hit)
    df = spark.createDataFrame([(0, 1)], "s long, t long")
    neg = negative_samples(df, n_entities=10, k=400)
    repl = [
        r["neg_s"] if r["corrupt_head"] else r["neg_t"] for r in neg.collect()
    ]
    from collections import Counter

    c = Counter(repl)
    assert set(c) == set(range(10))
    assert max(c.values()) < 3 * min(c.values())


def test_sketches_ignore_null_keys(spark):
    # COUNT(DISTINCT)/COUNT semantics: null keys carry no identity. A null
    # key must neither crash nor shift the estimate (a null REGISTER row
    # would otherwise inflate hll_estimate's non-zero-register count).
    rows = [(f"k{i}",) for i in range(500)] + [(None,)] * 50
    df = spark.createDataFrame(rows, "k string")
    clean = spark.createDataFrame(rows[:500], "k string")
    assert (
        hll_distinct(df, "k").collect()[0]["est_distinct"]
        == hll_distinct(clean, "k").collect()[0]["est_distinct"]
    )
    a = {(r["row"], r["col"]): r["n"] for r in cms_build(df, "k").collect()}
    b = {(r["row"], r["col"]): r["n"] for r in cms_build(clean, "k").collect()}
    assert a == b
