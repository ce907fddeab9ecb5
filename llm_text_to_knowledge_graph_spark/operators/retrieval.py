"""BM25 keyword retrieval over the document corpus.

The data-curation uses: pulling topical subsets out of a 100-TB crawl
("all pages about X" for a domain-targeted corpus), nearest-keyword
context selection for RAG over the knowledge graph's evidence table, and
relevance-weighted sampling. Lexical BM25 is the standard first-stage
ranker; the embedding ANN operators (operators/similarity.py) are the
second stage.

Spark-first plan (Robertson/Sparck-Jones BM25, Lucene idf variant):

  * the corpus is SCANNED exactly twice, both passes map-only over the
    split-token array (no explode of corpus tokens ever happens):
    pass 1 computes (n_docs, avgdl) from ``size(tokens)`` — counting the
    array is the same number explode-then-count would shuffle for;
    pass 2 filters the token array to the query vocabulary in-row
    (``filter(tokens, t -> t IN terms)``), drops non-matching documents
    BEFORE any explode, and carries ``dl`` alongside — so the only
    exploded rows are matching tokens of matching documents;
  * tf: one partial-agg groupBy(doc, term) over those pruned rows, with
    dl riding along (functionally dependent on doc);
  * document frequencies derive FROM tf (df = tf rows per term — same
    number the (doc, term)-distinct of the raw tokens would give), over a
    lazy localCheckpoint so the broadcast-build job cannot re-execute the
    corpus pass (the ReuseExchange miss documented in plans/ids.py);
  * avgdl/n_docs: a 1-row aggregate crossJoined in (broadcast), never
    collected;
  * score: idf and the saturation term are pure column math; the per-doc
    sum over matched terms is ONE final partial-agg groupBy(doc).

Everything is JVM column expressions — no Python in the plan. The corpus
crosses the wire once, as (doc, dl, term, tf) rows pruned to the query
vocabulary. (The first version of this operator tokenize+exploded the
corpus FOUR times — once each for tf, df, dl, and the avgdl broadcast
build; at 10^12 documents those are three redundant full-corpus token
explodes.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def bm25_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """(id_col, score) for every document matching >= 1 query term,
    BM25-scored against the whole corpus' statistics.

    idf is the Lucene non-negative variant ln(1 + (N - df + 0.5)/(df +
    0.5)); tf saturation tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)). All
    constants and the tokenizer are part of the contract — the DuckDB
    oracle reproduces every double.
    """
    terms = sorted(set(t.lower() for t in query_terms))
    # null-text documents produce no tokens under explode, so the original
    # plan excluded them from n_docs/avgdl — keep that contract explicit
    base = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id"),
        F.split(F.trim(F.lower(F.col("text"))), TOKEN_SPLIT).alias("_toks"),
    )

    # pass 1 — corpus stats, map-only: size(tokens) == the count explode
    # would produce (explode emits every element, including empty strings)
    n_docs_avgdl = base.select(F.size("_toks").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    # pass 2 — prune to the query vocabulary IN-ROW, then explode only the
    # matches of matching documents; dl rides along (per-doc constant)
    matched = (
        base.select(
            F.col("doc_id"),
            F.size("_toks").alias("dl"),
            F.filter("_toks", lambda t: t.isin(*terms)).alias("_m"),
        )
        .filter(F.size("_m") > 0)
        .select("doc_id", "dl", F.explode("_m").alias("term"))
    )
    tf = matched.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    # compute-once: df derives from tf (one row per (doc, term), so rows
    # per term == document frequency); without the materialization the
    # df broadcast-build job re-executes the corpus pass (plans/ids.py).
    # localCheckpoint, NOT persist: persist pins a CacheManager entry
    # nothing ever unpersists; checkpoint blocks are GC-reclaimed, and
    # construction-eagerness is harmless for a terminal operator
    # evaluated in the same window.
    tf = tf.localCheckpoint(eager=False)
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = tf.join(F.broadcast(df_t), "term").crossJoin(
        F.broadcast(n_docs_avgdl)
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("tf") * F.lit(1.2 + 1.0)) / (
        F.col("tf")
        + F.lit(1.2)
        * (F.lit(1.0 - 0.75) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
    )
    return (
        scored.select("doc_id", (idf * sat).alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    weights: list[float] | None = None,
    top: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N ranked
    lists: ``score(d) = sum_i w_i / (k + rank_i(d))`` — the standard
    hybrid-retrieval combiner (lexical BM25 + dense ANN) because it needs
    no score calibration between the legs, only ranks.

    Each input is (doc_id, rank) with rank starting at 1.
    Plan: tag + unionByName (no shuffle), ONE partial-agg groupBy on the
    id — each leg is already top-k-sized, so the fusion input is
    O(N*k*|queries|) regardless of corpus size. Scores are rounded to 6dp
    (the per-leg terms are exact binary rationals only for k+rank a power
    of two, so the sum is order-sensitive at the last ulp without it)."""
    if weights is None:
        weights = [1.0] * len(rankings)
    if len(weights) != len(rankings):
        raise ValueError("one weight per ranking")
    tagged = None
    for w, r in zip(weights, rankings):
        leg = r.select(
            F.col("doc_id"),
            (F.lit(float(w)) / (F.lit(float(k)) + F.col("rank"))).alias(
                "contrib"
            ),
        )
        tagged = leg if tagged is None else tagged.unionByName(leg)
    fused = tagged.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("rrf_score"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    if top is not None:
        fused = fused.orderBy(F.desc("rrf_score"), "doc_id").limit(top)
    return fused


