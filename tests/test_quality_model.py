"""Model-based quality scoring (operators/quality_model.py).

The LM test checks Spark against an INDEPENDENT pure-Python bigram-LM
reimplementation (spec-direct: add-k conditional probabilities), never
against itself; the classifier test retrains with pyspark.ml and checks
both the fresh weights and the frozen DEFAULT_QUALITY_WEIGHTS separate the
labeled set perfectly.
"""

import math
import random

import pyspark.sql.functions as F
import pytest

from llm_text_to_knowledge_graph_spark.operators.quality_model import (
    LM_K,
    lm_perplexity,
    ngram_lm,
    quality_features,
    score_quality_model,
    train_quality_model,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cat ran to the mat"),
    (2, "a dog sat on a log"),
    (3, "zzz"),  # single token: no bigrams -> absent from scores
    (4, "the cat sat on the mat again and again"),
]


def _py_lm(texts, k=LM_K):
    """Independent reference: add-k bigram LM over whitespace tokens."""
    big, uni, vocab = {}, {}, set()
    for t in texts:
        toks = t.lower().split()
        vocab.update(toks)
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
            uni[a] = uni.get(a, 0) + 1
    V = len(vocab)

    def logp(a, b):
        denom = uni.get(a, 0) + k * V
        if a not in uni:
            return -math.log(V)
        return math.log((big.get((a, b), 0) + k) / denom)

    return logp, V


def test_lm_matches_independent_reference(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    lm = ngram_lm(docs)
    logp_ref, V = _py_lm([t for _, t in DOCS])
    assert lm["vocab_size"] == V

    got = {(r["w1"], r["w2"]): r["logp"] for r in lm["bigrams"].collect()}
    for (a, b), lp in got.items():
        assert lp == pytest.approx(logp_ref(a, b), abs=2e-9)

    scores = {r["doc_id"]: r for r in lm_perplexity(docs, lm).collect()}
    assert 3 not in scores  # no bigrams
    for did, text in DOCS:
        toks = text.lower().split()
        if len(toks) < 2:
            continue
        lps = [round(logp_ref(a, b), 9) for a, b in zip(toks, toks[1:])]
        avg = round(sum(lps) / len(lps), 6)
        row = scores[did]
        assert row["n_bigrams"] == len(lps)
        assert row["avg_logp"] == pytest.approx(avg, abs=2e-6)
        assert row["perplexity"] == pytest.approx(math.exp(-avg), abs=1e-4)


def test_lm_separates_junk(spark):
    rng = random.Random(3)
    # clean text has bigram STRUCTURE (fixed phrases), so seen bigrams are
    # strongly predicted; junk falls to the unknown-word floor ln(1/V)
    phrases = [
        "the protein kinase", "cell signaling pathway", "gene expression level",
        "binding site analysis", "of the receptor", "in the nucleus",
    ]
    rows = [
        (i, " ".join(rng.choice(phrases) for _ in range(20))) for i in range(20)
    ]
    junk = [
        (100 + i, " ".join("".join(rng.choice("qxzjvkw") for _ in range(7)) for _ in range(60)))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows + junk, "doc_id long, text string")
    train = spark.createDataFrame(rows, "doc_id long, text string")
    lm = ngram_lm(train)
    ppl = {r["doc_id"]: r["perplexity"] for r in lm_perplexity(docs, lm).collect()}
    clean = [ppl[i] for i, _ in rows]
    noisy = [ppl[i] for i, _ in junk]
    assert max(clean) < min(noisy)


def _labeled_corpus(spark):
    """The deterministic labeled set DEFAULT_QUALITY_WEIGHTS was trained
    on (seed 7): stopword-rich clean text vs char noise / keyword stuffing
    / punctuation soup."""
    rng = random.Random(7)
    words = (
        "the of and to in is was for on with that this protein kinase cell "
        "expression pathway signal binding activation response analysis "
        "result study data model method system level increase"
    ).split()
    rows, i = [], 0
    for _ in range(300):
        n = rng.randint(30, 120)
        rows.append((i, " ".join(rng.choice(words) for _ in range(n)).capitalize() + ".", 1.0))
        i += 1
    for _ in range(100):
        n = rng.randint(80, 400)
        rows.append((i, "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789#$%&*") for _ in range(n)), 0.0))
        i += 1
    for _ in range(100):
        w = rng.choice(words[12:])
        rows.append((i, " ".join([w] * rng.randint(40, 200)), 0.0))
        i += 1
    for _ in range(100):
        n = rng.randint(50, 200)
        rows.append((i, " ".join(rng.choice(("!!!", "??", "***", "---", "...", ">>>", "%%")) for _ in range(n)), 0.0))
        i += 1
    return spark.createDataFrame(rows, "doc_id long, text string, label double")


def _accuracy(scored, positive):
    """Share of rows where ``positive`` agrees with the 0/1 label."""
    return scored.select(
        F.avg((positive.cast("double") == F.col("label")).cast("double"))
    ).first()[0]


def test_train_recovers_and_default_weights_pinned(spark):
    docs = _labeled_corpus(spark)
    feats = quality_features(docs).join(docs.select("doc_id", "label"), "doc_id")
    w, b = train_quality_model(feats)
    z = F.lit(b)
    for wi, c in zip(w, ("len_score", "punct_ratio", "stop_ratio", "mean_wlen")):
        z = z + F.lit(wi) * F.col(c)
    assert _accuracy(feats, z > 0) == 1.0  # sigmoid(z) > 0.5
    # the frozen defaults must keep separating the corpus they were trained on
    scored = score_quality_model(docs).join(docs.select("doc_id", "label"), "doc_id")
    assert _accuracy(scored, F.col("quality_prob") > 0.5) == 1.0


def test_score_is_map_only_jvm(spark):
    docs = spark.createDataFrame([(1, "the cat sat")], "doc_id long, text string")
    plan = (
        score_quality_model(docs)._jdf.queryExecution().executedPlan().toString()
    )
    for marker in ("Exchange", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_lm_scoring_plan_shape(spark):
    """Scoring = broadcast joins + ONE exchange (the per-doc aggregation)."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    lm = ngram_lm(docs)
    ppl = lm_perplexity(docs, lm)
    plan = ppl._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # corpus-side exchanges: hashpartitioning on doc_id only (the LM build
    # side may shuffle — it is sample-sized by contract)
    corpus_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "doc_id" in ln
    ]
    assert len(corpus_exchanges) == 1
    # the per-doc aggregation partial-aggregates BEFORE that exchange
    partial_first = plan.index("partial_avg")
    assert partial_first > -1 and partial_first > plan.index("Exchange hashpartitioning(doc_id")
    # joins on the corpus path are broadcast; any SortMergeJoin may only
    # appear inside the (sample-sized) LM build feeding a BroadcastExchange
    smj = plan.find("SortMergeJoin")
    if smj != -1:
        assert plan.find("BroadcastExchange") < smj


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------

def test_dsir_logratio_prefers_target_domain(spark):
    from llm_text_to_knowledge_graph_spark.operators.quality_model import (
        dsir_logratio,
        ngram_lm,
    )

    target_texts = ["spark shuffle join broadcast partition " * 4] * 30
    base_texts = ["weather garden recipe music travel sports " * 4] * 30
    rows = (
        [(i, t, "t") for i, t in enumerate(target_texts)]
        + [(100 + i, t, "b") for i, t in enumerate(base_texts)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, dom string")
    t_lm = ngram_lm(df.filter("dom = 't'"))
    b_lm = ngram_lm(df)
    out = {r["doc_id"]: r["logratio"] for r in dsir_logratio(df, t_lm, b_lm).collect()}
    # every target doc must outscore every base doc
    assert min(out[i] for i in range(30)) > max(out[100 + i] for i in range(30))


def test_dsir_resample_deterministic_and_weight_biased(spark):
    from llm_text_to_knowledge_graph_spark.operators.quality_model import (
        dsir_resample,
    )

    # synthetic logratios: ids 0..49 high weight, 50..299 low weight
    rows = [(i, 3.0 if i < 50 else -3.0) for i in range(300)]
    lr = spark.createDataFrame(rows, "doc_id long, logratio double")
    a = [r["doc_id"] for r in dsir_resample(lr, k=40, seed=7).collect()]
    b = [
        r["doc_id"]
        for r in dsir_resample(lr.repartition(13), k=40, seed=7).collect()
    ]
    assert a == b  # pure function of (id, seed): partitioning-independent
    # exp(6) ~ 400x weight: nearly all picks come from the heavy 50
    heavy = sum(1 for i in a if i < 50)
    assert heavy >= 35
    # different seed -> different (but still heavy-biased) draw
    c = [r["doc_id"] for r in dsir_resample(lr, k=40, seed=8).collect()]
    assert c != a
