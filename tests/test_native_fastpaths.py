"""JVM-native fast paths: stop-gram-capped Jaccard + regexp mention counts.

Both are the PLANS.md round-1 follow-ups: keep the hot path inside
WholeStageCodegen and bound the worst-case shuffle of the inverted-index
self-join.
"""

from collections import Counter

from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.operators.dedup import ngram_jaccard_pairs
from llm_text_to_knowledge_graph_spark.operators.mentions import (
    AliasMatcher,
    count_mentions_native,
    detect_mentions,
    explode_mentions,
)

BOILER = "all rights reserved contact us about"


def _docs(spark):
    rows = [
        # near-dup pair: high real overlap
        (1, "alpha beta gamma delta epsilon zeta eta " + BOILER),
        (2, "alpha beta gamma delta epsilon zeta theta " + BOILER),
        # unrelated docs whose ONLY overlap is the boilerplate
        (3, "one two three four five six seven " + BOILER),
        (4, "red green blue cyan magenta yellow black " + BOILER),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stop_gram_cap_keeps_real_pairs_drops_boilerplate_only(spark):
    docs = _docs(spark)
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.05).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, n=2, threshold=0.05, max_doc_freq=2
        ).collect()
    }
    # the true near-dup pair survives the cap
    assert (1, 2) in capped
    # boilerplate-only pairs (3,4), (1,3)... exist uncapped but vanish capped
    assert (3, 4) in uncapped and (3, 4) not in capped
    # capped jaccard is a lower bound of the uncapped (exact) jaccard
    for pair, j in capped.items():
        assert j <= uncapped[pair] + 1e-9


def test_stop_gram_cap_none_is_exact_path(spark):
    docs = _docs(spark)
    a = sorted(map(tuple, ngram_jaccard_pairs(docs, n=2, threshold=0.3).collect()))
    b = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(docs, n=2, threshold=0.3, max_doc_freq=None).collect(),
        )
    )
    assert a == b


ALIAS_ROWS = [
    ("spark", "VOCAB", "1", "SPARK", 1.0),
    ("spark sql", "VOCAB", "2", "SPARK_SQL", 1.0),  # longer alias wins overlap
    ("row", "VOCAB", "3", "ROW", 1.0),
    ("a+b", "VOCAB", "4", "APLUSB", 1.0),  # regex metachar in alias
]

SENTS = [
    "spark sql beats spark at counting a row",
    "the spark-sql variant keeps hyphens so no spark match there",
    "a+b occurs twice: a+b, but not in a+bc",
    "rows are not row matches; ROW is case-sensitive here",
    "unicode boundary: sparké should not match spark",
]


def _sentences(spark):
    return spark.createDataFrame(
        [("u%d" % i, None, 0, i, s) for i, s in enumerate(SENTS)],
        "url string, warc_ts timestamp, para_idx int, sent_idx int, sentence string",
    )


def test_native_mention_counts_match_python_matcher(spark):
    sents = _sentences(spark)
    py = {
        r.entry_name: r.n_mentions
        for r in explode_mentions(detect_mentions(sents, ALIAS_ROWS))
        .groupBy("entry_name")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .collect()
    }
    native = {
        r.entry_name: r.n_mentions
        for r in count_mentions_native(sents, ALIAS_ROWS).collect()
    }
    assert py == native
    assert native["SPARK_SQL"] == 1  # leftmost-longest beat the bare 'spark'
    assert native["APLUSB"] == 2  # metachars escaped, boundary respected


TRIE_ROWS = ALIAS_ROWS + [
    ("spark sql engine", "VOCAB", "5", "SSE", 1.0),
    ("(+)-catechin", "VOCAB", "6", "CATECHIN", 1.0),  # non-word first char
    ("+b", "VOCAB", "7", "PLUSB", 1.0),
    ("été", "VOCAB", "8", "ETE", 1.0),
    ("row row", "VOCAB", "9", "ROWROW", 1.0),
]

TRIE_SENTS = SENTS + [
    "spark sql engine, spark sql engin and (+)-catechin beat (+)-catechins",
    "a+b and +b and x+b; été vs étéx",
    "row row row your boat, rowrow",
]


def test_native_mention_counts_match_python_matcher_on_trie_dictionary(spark):
    """Multi-token aliases, shared prefixes and aliases that start with a
    non-word char: the JVM regexp plan runs the same trie pattern and
    counts what ``AliasMatcher`` finds."""
    sents = spark.createDataFrame(
        [("u%d" % i, None, 0, i, s) for i, s in enumerate(TRIE_SENTS)],
        "url string, warc_ts timestamp, para_idx int, sent_idx int, sentence string",
    )
    matcher = AliasMatcher(TRIE_ROWS)
    py = Counter(f[5] for s in TRIE_SENTS for f in matcher.find(s))
    native = {
        r.entry_name: r.n_mentions
        for r in count_mentions_native(sents, TRIE_ROWS).collect()
    }
    assert native == dict(py)
    assert native["CATECHIN"] == 1 and native["SSE"] == 1 and native["ROWROW"] == 1


def test_native_mention_counts_plan_is_jvm_only(spark):
    plan = (
        count_mentions_native(_sentences(spark), ALIAS_ROWS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dedup_clusters_transitive_chain(spark):
    from llm_text_to_knowledge_graph_spark.operators.dedup import dedup_clusters

    # A~B and B~C overlap heavily, A~C do not — pairwise dedup would keep
    # both A and C; clustering must put all three together
    rows = [
        (1, "aa bb cc dd ee ff"),
        (2, "aa bb cc dd xx yy"),   # ~ A
        (3, "cc dd xx yy zz ww"),   # ~ B, not ~ A
        (9, "totally different words here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.cluster for r in dedup_clusters(docs, n=1, threshold=0.4).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[9] == 9  # singleton keeps its own id


def test_det_sketch_plans_are_jvm_only_with_partial_agg(spark):
    """The deterministic sketches must stay entirely JVM-side (no Python
    eval nodes anywhere in the plan) and their per-doc aggregations must be
    partial (map-side combine), so the shuffle carries one signature row
    per doc per mapper rather than the token/gram stream."""
    from llm_text_to_knowledge_graph_spark.operators.dedup import (
        minhash_det_signatures,
        with_simhash_native,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "dd ee ff")], "doc_id long, text string"
    )
    for df in (minhash_det_signatures(docs), with_simhash_native(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan
        # HashAggregate pairs: partial upstream of the exchange, final after
        assert "partial_min" in plan or "partial_sum" in plan
