"""Pointwise mutual information over co-occurring items.

The statistical edge-weighting pass for the co-occurrence fallback of the
KG (statements.extract_cooccurrence emits unweighted ``association``
edges; PMI says which of them carry signal): two entities that co-occur
in more documents than their marginal frequencies predict get a positive
score, stop-entity pairs that co-occur merely because both are everywhere
score near zero, and the downstream graph can threshold on it. Also the
classic collocation / phrase-mining statistic over plain tokens.

Plan shape: the item table is deduped per id (one partial-agg distinct),
marginals are ONE groupBy, the pair counts are ONE within-id self-join +
ONE partial-agg groupBy, and N rides as a 1-row broadcast crossJoin —
no driver action. The self-join is the cost model: Σ m_id² over items
per id — at web scale a boilerplate-heavy page mentioning 10^3 entities
contributes 10^6 pairs of near-zero PMI each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pmi_pairs(items: DataFrame) -> DataFrame:
    """(item_a, item_b, n_pair, df_a, df_b, pmi) for every unordered
    co-occurring pair; pmi = ln(n_pair * N / (df_a * df_b)) with N the
    number of distinct ids, df_* document frequencies. Duplicate
    (id, item) rows are collapsed first — presence, not multiplicity,
    is the PMI event."""
    it = items.select(
        F.col("doc_id").alias("_id"), F.col("item").alias("_item")
    ).distinct()
    # compute-once: `it` (the distinct) fans out to
    # FOUR consumers — n_ids, df_i, and both self-join sides. Without
    # the materialization each consumer's job re-executes the distinct
    # (and the broadcast build of n_ids is its own job — see
    # plans/ids.py on why ReuseExchange cannot be relied on across
    # these subtrees). localCheckpoint, NOT persist: persist pins a
    # CacheManager entry nothing ever unpersists; checkpoint blocks are
    # GC-reclaimed, and construction-eagerness is harmless for a
    # terminal operator evaluated in the same window.
    it = it.localCheckpoint(eager=False)
    n_ids = it.select("_id").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    df_i = it.groupBy("_item").agg(F.count(F.lit(1)).alias("_df"))
    a = it.select("_id", F.col("_item").alias("item_a"))
    b = it.select("_id", F.col("_item").alias("item_b"))
    pairs = (
        a.join(b, "_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    dfa = df_i.select(
        F.col("_item").alias("item_a"), F.col("_df").alias("df_a")
    )
    dfb = df_i.select(
        F.col("_item").alias("item_b"), F.col("_df").alias("df_b")
    )
    return (
        pairs.join(dfa, "item_a")
        .join(dfb, "item_b")
        .crossJoin(F.broadcast(n_ids))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            "df_a",
            "df_b",
            F.round(
                F.log(
                    F.col("n_pair") * F.col("_n")
                    / (F.col("df_a") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
