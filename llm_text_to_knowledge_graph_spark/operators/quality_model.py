"""Model-based quality scoring — the learned half of corpus curation.

The heuristics in operators/textstats.py (Gopher rules, quality_score) are
rule-based; production web-corpus pipelines (CCNet, RefinedWeb, FineWeb)
pair them with two LEARNED signals, both implemented here Spark-first:

  * n-gram LM perplexity (:func:`ngram_lm` / :func:`lm_perplexity`) — the
    CCNet filter: score each document by an add-k-smoothed bigram language
    model trained on an in-domain sample; junk (boilerplate, encoding
    noise, keyword stuffing) scores high-perplexity. Training is two
    aggregations; scoring is explode -> broadcast join -> one partial-agg
    groupBy. Everything is exact relational algebra, so the ENTIRE
    train+score flow has a full SQL oracle (the DuckDB oracle retrains the
    same LM with CTEs and reproduces every logprob bit-for-bit).
  * logistic quality classifier (:func:`quality_features` /
    :func:`train_quality_model` / :func:`score_quality_model`) — the
    fastText-classifier analog: a linear model over the engine's frozen
    text-statistics features. Training (pyspark.ml LogisticRegression,
    seeded) happens once on a labeled sample; production scoring uses the
    FROZEN weight vector and is a pure column expression
    (sigmoid(w.x + b)), i.e. map-only JVM codegen that rides inside the
    corpus scan — the shape that works at 100 TB, where the model is a
    handful of literals and the data never shuffles.

Scale notes (100 TB):
  * LM training runs on a deterministic sample (curation.hash_sample), so
    the bigram table stays broadcast-sized (vocab of a 1M-doc sample, not
    the crawl); `lm_perplexity` then touches the full corpus exactly once.
    The explode does NOT shuffle exploded volume: rows of one doc stay in
    their input partition and the final groupBy(doc_id) map-side-combines
    them to ~1 row/doc before the exchange.
  * Smoothing constants are part of the model contract (add-k, k=0.1) and
    documented here because the SQL oracle must reproduce them exactly.

Reference parity note: the reference repo has no corpus-quality stage
(it ingests curated PubMed papers — pub.py); these operators extend the
engine toward its Common-Crawl-scale north rule, where ingest quality
filtering is mandatory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import _EN_STOPWORDS, _tokens

# add-k smoothing constant; part of the model contract (oracle reproduces it)
LM_K = 0.1

# Frozen logistic-regression weights for score_quality_model's default
# model: trained once by tests/test_quality_model.py::test_train_recovers
# (pyspark.ml LogisticRegression, seed fixed, clean synthetic paragraphs
# vs three junk modes: char noise, token stuffing, punctuation soup) and
# pinned. Feature order matches quality_features(): [len_score,
# punct_ratio, stop_ratio, mean_wlen]. Production runs retrain on their
# own labels via train_quality_model and pass the result explicitly.
DEFAULT_QUALITY_WEIGHTS = (-11.1824, -9.768, 79.1157, -0.0741)
DEFAULT_QUALITY_BIAS = -7.7508


def ngram_lm(docs: DataFrame) -> dict:
    """Train an add-k bigram LM (k = ``LM_K``): returns ``{"bigrams": (w1, w2, logp),
    "unigrams": (w1, logp_unk), "vocab_size": int}``.

    ``logp(w2|w1) = ln((c(w1,w2) + k) / (c(w1) + k*V))`` for seen bigrams;
    ``logp_unk(w1)`` is the same formula with ``c(w1,w2)=0`` — the score an
    unseen continuation of a KNOWN word receives. Unseen w1 gets the global
    floor ``ln(k / (k*V)) = ln(1/V)`` (applied at scoring time).

    Two aggregations over the training sample, both with map-side combine;
    ``vocab_size`` is the one scalar driver action (model metadata, not a
    per-row dependency).
    """
    toks = _tokens(F.col("text"))
    pairs = docs.select(
        F.posexplode(F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))))
        .alias("pos", "w1"),
        toks.alias("_toks"),
    ).select("w1", F.element_at("_toks", F.col("pos") + 2).alias("w2"))
    # compute-once: `big` feeds bigrams AND (via uni) unigrams, and each
    # later broadcast build of those tables is its own job — without the
    # materialization every build re-explodes the training sample (see
    # plans/ids.py on the ReuseExchange miss). localCheckpoint, NOT
    # persist: a persist here pins a CacheManager entry that nothing
    # ever unpersists (the leak class plans/ids.py documents), while
    # checkpoint blocks are GC-reclaimed when the model DataFrames die.
    # The checkpoint's AQE construction-eagerness is harmless for a
    # TERMINAL scoring operator built and evaluated in the same window
    # (unlike dense_ids, which composes into larger lazy plans).
    # Sample-sized blocks.
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    big = big.localCheckpoint(eager=False)
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_size = docs.select(
        F.explode(_tokens(F.col("text"))).alias("w")
    ).agg(F.countDistinct("w")).first()[0]
    denom = F.col("c1") + F.lit(LM_K) * F.lit(float(vocab_size))
    bigrams = (
        big.join(uni, "w1")
        .select(
            "w1",
            "w2",
            F.round(F.log((F.col("c12") + F.lit(LM_K)) / denom), 9).alias("logp"),
        )
    )
    unigrams = uni.select(
        "w1", F.round(F.log(F.lit(LM_K) / denom), 9).alias("logp_unk")
    )
    return {"bigrams": bigrams, "unigrams": unigrams, "vocab_size": vocab_size}


def lm_perplexity(docs: DataFrame, lm: dict) -> DataFrame:
    """Score every document against a trained :func:`ngram_lm`: returns
    (doc_id, n_bigrams, avg_logp, perplexity) with
    ``perplexity = exp(-avg_logp)``; docs with fewer than two tokens have
    no bigrams and score NULL (length filtering is a different operator's
    job). Seen bigram -> its logp; unseen continuation of a known w1 ->
    that w1's logp_unk; unknown w1 -> the global floor ln(1/V).

    Plan: one explode of the corpus side, two BROADCAST left joins (the LM
    tables are sample-trained and broadcast-sized), one partial-agg
    groupBy(doc_id). The corpus crosses the wire once, already collapsed
    to per-doc partial sums.
    """
    floor = F.lit(round(-__import__("math").log(lm["vocab_size"]), 9))
    toks = _tokens(F.col("text"))
    pairs = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))))
        .alias("pos", "w1"),
        toks.alias("_toks"),
    ).select("doc_id", "w1", F.element_at("_toks", F.col("pos") + 2).alias("w2"))
    scored = (
        pairs.join(F.broadcast(lm["bigrams"]), ["w1", "w2"], "left")
        .join(F.broadcast(lm["unigrams"]), ["w1"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("logp"), F.col("logp_unk"), floor).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # 6 digits, not 9: float summation order differs between
            # engines (and partitionings), and perplexity is computed FROM
            # the rounded average so it stays a pure function of it
            F.round(F.avg("lp"), 6).alias("avg_logp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "avg_logp",
            F.round(F.exp(-F.col("avg_logp")), 6).alias("perplexity"),
        )
    )


def quality_features(docs: DataFrame) -> DataFrame:
    """The frozen 4-feature vector both training and scoring use:
    [len_score, punct_ratio, stop_ratio, mean_wlen]. Same signal
    definitions as textstats.quality_score (shared provenance documented
    there); pure column expressions."""
    t = F.col("text")
    toks = _tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    stop_arr = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(F.least(n_chars / F.lit(500.0), F.lit(1.0)), 9).alias("len_score"),
        F.round(
            F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)), 9
        ).alias("punct_ratio"),
        F.round(
            F.when(
                n_tok > 0, n_stop / F.least(n_tok, F.lit(len(_EN_STOPWORDS)))
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("stop_ratio"),
        F.round(
            F.when(n_tok > 0, (n_chars - n_tok + 1) / n_tok).otherwise(F.lit(0.0)), 9
        ).alias("mean_wlen"),
    )


_FEATURES = ("len_score", "punct_ratio", "stop_ratio", "mean_wlen")


def train_quality_model(labeled: DataFrame) -> tuple[tuple[float, ...], float]:
    """Fit the logistic quality classifier on (quality_features ⨝ labels):
    returns ``(weights, bias)`` ready for :func:`score_quality_model`.
    pyspark.ml LogisticRegression (L-BFGS) is deterministic for a fixed
    input; the model OBJECT is deliberately not returned — the contract is
    the plain float vector, which serializes into SQL, survives engine
    upgrades, and scores map-only."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    vec = VectorAssembler(inputCols=list(_FEATURES), outputCol="features")
    ds = vec.transform(labeled).select("features", F.col("label"))
    model = LogisticRegression(maxIter=50, regParam=0.0).fit(ds)
    return tuple(round(float(w), 4) for w in model.coefficients), round(
        float(model.intercept), 4
    )


def score_quality_model(docs: DataFrame) -> DataFrame:
    """Score documents with a frozen linear model: (doc_id, <features>,
    quality_prob) where ``quality_prob = sigmoid(w.x + b)``. Pure column
    math over :func:`quality_features` — map-only, rides in the scan, and
    the SQL oracle evaluates the identical literals."""
    feats = quality_features(docs)
    z = F.lit(float(DEFAULT_QUALITY_BIAS))
    for w, c in zip(DEFAULT_QUALITY_WEIGHTS, _FEATURES):
        z = z + F.lit(float(w)) * F.col(c)
    return feats.select(
        "doc_id",
        *_FEATURES,
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality_prob"),
    )


def dsir_logratio(docs: DataFrame, target_lm: dict, base_lm: dict) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by ``logratio = avg_logp_target - avg_logp_base`` under two
    :func:`ngram_lm` models — one trained on an in-domain/target sample,
    one on the general corpus. ``exp(logratio)`` is the per-bigram
    importance weight; documents that look like the target domain score
    high, generic/junk documents score low.

    Plan: ONE explode of the corpus (not one per model) + FOUR broadcast
    joins (both LMs' bigram/unigram tables are sample-trained and tiny)
    + one partial-agg groupBy(doc_id) — the corpus crosses the wire once,
    collapsed to per-doc sums, same shape as :func:`lm_perplexity`.
    Averages are rounded to 6dp and the ratio computed FROM the rounded
    averages, so the result is a pure function of them (engine- and
    partitioning-independent; full SQL oracle)."""
    import math

    floor_t = F.lit(round(-math.log(target_lm["vocab_size"]), 9))
    floor_b = F.lit(round(-math.log(base_lm["vocab_size"]), 9))
    toks = _tokens(F.col("text"))
    pairs = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))))
        .alias("pos", "w1"),
        toks.alias("_toks"),
    ).select("doc_id", "w1", F.element_at("_toks", F.col("pos") + 2).alias("w2"))
    tb = target_lm["bigrams"].select("w1", "w2", F.col("logp").alias("lp_t"))
    tu = target_lm["unigrams"].select("w1", F.col("logp_unk").alias("lpu_t"))
    bb = base_lm["bigrams"].select("w1", "w2", F.col("logp").alias("lp_b"))
    bu = base_lm["unigrams"].select("w1", F.col("logp_unk").alias("lpu_b"))
    scored = (
        pairs.join(F.broadcast(tb), ["w1", "w2"], "left")
        .join(F.broadcast(tu), ["w1"], "left")
        .join(F.broadcast(bb), ["w1", "w2"], "left")
        .join(F.broadcast(bu), ["w1"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lp_t"), F.col("lpu_t"), floor_t).alias("lt"),
            F.coalesce(F.col("lp_b"), F.col("lpu_b"), floor_b).alias("lb"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lt"), 6).alias("avg_logp_target"),
        F.round(F.avg("lb"), 6).alias("avg_logp_base"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "avg_logp_target",
        "avg_logp_base",
        F.round(
            F.col("avg_logp_target") - F.col("avg_logp_base"), 6
        ).alias("logratio"),
    )


def dsir_resample(logratios: DataFrame, k: int, seed: int = 42) -> DataFrame:
    """Deterministic Gumbel-top-k importance resampling over
    :func:`dsir_logratio` output: sampling WITHOUT replacement where a
    document's inclusion probability is proportional to its importance
    weight exp(logratio) — the textbook Gumbel-max trick, but with the
    uniform drawn from md5(id:seed) instead of rand() so the draw is a
    pure function of (id, seed): reproducible across runs, engines and
    partitionings, and unionable across crawl snapshots (the same
    reasons curation.hash_sample rejects rand()).

    Plan: map-only key computation + TakeOrdered(k) — no global sort
    materialization."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{seed}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    gumbel = -F.log(-F.log(u))
    key = F.round(F.col("logratio") + gumbel, 6)
    return (
        logratios.select("doc_id", "logratio", key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(k)
    )
