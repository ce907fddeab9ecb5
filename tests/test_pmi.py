"""PMI co-occurrence scoring (operators/cooccur.py) vs an independent
Python computation, plus dedup semantics."""

import math
from itertools import combinations

from llm_text_to_knowledge_graph_spark.operators.cooccur import pmi_pairs

DOCS = {
    1: ["a", "b", "c"],
    2: ["a", "b"],
    3: ["a", "c", "d"],
    4: ["b", "d"],
    5: ["a"],
}


def _py_pmi(docs):
    sets = {i: sorted(set(its)) for i, its in docs.items()}
    n = len(sets)
    df = {}
    for s in sets.values():
        for x in s:
            df[x] = df.get(x, 0) + 1
    pairs = {}
    for s in sets.values():
        for x, y in combinations(s, 2):
            pairs[(x, y)] = pairs.get((x, y), 0) + 1
    return {
        (x, y): (c, df[x], df[y], round(math.log(c * n / (df[x] * df[y])), 6))
        for (x, y), c in pairs.items()
    }


def _df(spark, docs):
    rows = [(i, x) for i, its in docs.items() for x in its]
    return spark.createDataFrame(rows, "doc_id long, item string")


def test_pmi_matches_python(spark):
    got = {
        (r.item_a, r.item_b): (r.n_pair, r.df_a, r.df_b, r.pmi)
        for r in pmi_pairs(_df(spark, DOCS)).collect()
    }
    assert got == _py_pmi(DOCS)


def test_duplicates_collapse(spark):
    docs = {1: ["a", "a", "b", "c"], 2: ["b", "c"], 3: ["a", "b"]}
    got = {
        (r.item_a, r.item_b): r.n_pair
        for r in pmi_pairs(_df(spark, docs)).collect()
    }
    assert got[("a", "b")] == 2  # duplicate 'a' in doc 1 counted once
    assert got == {k: v[0] for k, v in _py_pmi(docs).items()}
