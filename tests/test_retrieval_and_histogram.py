"""BM25 scoring and histogram-quantile sketch vs independent Python."""

import math
import random

import pytest
from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.operators.retrieval import bm25_scores
from llm_text_to_knowledge_graph_spark.operators.sketches import (
    histogram_quantiles,
    quantile_histogram,
)


# ---------------------------------------------------------------------------
# independent BM25 (pure python, no shared code)
# ---------------------------------------------------------------------------

def _py_bm25(texts, terms, k1=1.2, b=0.75):
    toks = {i: t.lower().strip().split() for i, t in texts}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for term in set(x.lower() for x in terms):
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for i, v in toks.items():
            tf = v.count(term)
            if tf == 0:
                continue
            sat = tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
            out[i] = out.get(i, 0.0) + idf * sat
    return {i: round(s, 6) for i, s in out.items()}


def test_bm25_matches_independent_python(spark):
    random.seed(5)
    vocab = ["spark", "graph", "join", "node", "edge", "text", "the", "a"]
    texts = [
        (i, " ".join(random.choices(vocab, k=random.randint(3, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(df, ["spark", "graph"]).collect()
    }
    want = _py_bm25(texts, ["spark", "graph"])
    assert set(got) == set(want)
    for i in got:
        assert got[i] == pytest.approx(want[i], abs=2e-6)


def test_bm25_topk_ranks_relevance(spark):
    rows = [
        (0, "spark spark spark shuffle"),
        (1, "spark appears once in a much longer document " + "x " * 40),
        (2, "nothing relevant here"),
        (3, "spark shuffle"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = bm25_scores(df, ["spark"]).orderBy(F.desc("score"), "doc_id").limit(2)
    assert [r["doc_id"] for r in top.collect()] == [0, 3]
    # doc 2 never matches: BM25 output is sparse (matching docs only)
    assert {r["doc_id"] for r in bm25_scores(df, ["spark"]).collect()} == {0, 1, 3}


def test_bm25_case_and_term_dedup(spark):
    df = spark.createDataFrame([(0, "Spark SPARK spark")], "doc_id long, text string")
    a = bm25_scores(df, ["spark"]).collect()[0]["score"]
    b = bm25_scores(df, ["SPARK", "Spark", "spark"]).collect()[0]["score"]
    assert a == b  # duplicate query terms must not double-count


# ---------------------------------------------------------------------------
# histogram quantiles
# ---------------------------------------------------------------------------

def _py_hist_quantile(values, q, nbins=64):
    lo, hi = min(values), max(values)
    width = (hi - lo) / nbins
    if width == 0:
        return lo
    bins = [0] * nbins
    for v in values:
        bins[min(int((v - lo) // width), nbins - 1)] += 1
    target = q * len(values)
    cum = 0
    for i, n in enumerate(bins):
        if cum + n >= target:
            return round(lo + width * i + width * (target - cum) / n, 6)
        cum += n
    raise AssertionError


def test_histogram_quantiles_match_independent_python(spark):
    random.seed(9)
    vals = [random.gauss(100, 25) for _ in range(4000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    hist = quantile_histogram(df, "x", nbins=64)
    got = {
        r["q"]: r["est"]
        for r in histogram_quantiles(hist, [0.5, 0.9, 0.99]).collect()
    }
    for q in (0.5, 0.9, 0.99):
        assert got[q] == pytest.approx(_py_hist_quantile(vals, q), abs=1e-6)


def test_histogram_quantile_error_bounded_by_bin_width(spark):
    random.seed(13)
    vals = sorted(random.uniform(0, 1000) for _ in range(5000))
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    hist = quantile_histogram(df, "x", nbins=128)
    width = (max(vals) - min(vals)) / 128
    got = {r["q"]: r["est"] for r in histogram_quantiles(hist, [0.5, 0.9]).collect()}
    for q in (0.5, 0.9):
        exact = vals[int(q * len(vals)) - 1]
        assert abs(got[q] - exact) <= 2 * width


def test_histogram_grouped_and_degenerate(spark):
    rows = [("a", float(i)) for i in range(100)] + [("b", 7.0)] * 10
    df = spark.createDataFrame(rows, "g string, x double")
    hist = quantile_histogram(df, "x", group_cols=["g"], nbins=16)
    # state bound: <= nbins rows per group
    assert hist.groupBy("g").count().agg(F.max("count")).collect()[0][0] <= 16
    got = {
        (r["g"], r["q"]): r["est"]
        for r in histogram_quantiles(hist, [0.5], group_cols=["g"]).collect()
    }
    assert got[("b", 0.5)] == 7.0  # all-equal group: width 0, exact
    assert got[("a", 0.5)] == pytest.approx(
        _py_hist_quantile([float(i) for i in range(100)], 0.5, 16), abs=1e-6
    )


def test_histogram_merge_by_sum(spark):
    # two snapshot histograms over the SAME bin edges merge by summing
    # counts: pin by giving both halves the same min/max anchors
    a_vals = [0.0, 1000.0] + [random.uniform(0, 1000) for _ in range(500)]
    b_vals = [0.0, 1000.0] + [random.uniform(0, 1000) for _ in range(700)]
    a = spark.createDataFrame([(v,) for v in a_vals], "x double")
    b = spark.createDataFrame([(v,) for v in b_vals], "x double")
    direct = quantile_histogram(a.unionByName(b), "x", nbins=32)
    merged = (
        quantile_histogram(a, "x", nbins=32)
        .unionByName(quantile_histogram(b, "x", nbins=32))
        .groupBy("bin")
        .agg(F.sum("n").alias("n"), F.first("lo").alias("lo"), F.first("width").alias("width"))
    )
    d = {r["bin"]: r["n"] for r in direct.collect()}
    m = {r["bin"]: r["n"] for r in merged.collect()}
    assert d == m
