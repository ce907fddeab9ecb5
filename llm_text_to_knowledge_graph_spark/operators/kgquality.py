"""KG quality operators: evidence rollup and contradiction detection.

Reference analog: the reference keeps every extracted statement as its own
edge and merges per-paper CX2 graphs by union (``main.py`` writes one graph
per paper; the RAG notebook unions them) — at its 4-paper scale duplicate
statements barely occur. At crawl scale (the north rule's 10^12-document
corpus) the SAME (subj, pred, obj) is asserted by thousands of pages and
pages disagree, so a usable KG needs (a) per-edge support aggregation and
(b) conflicting-sign surfacing. Both are pure partial-agg shapes:

``edge_rollup``
    ONE groupBy(subj, pred, obj): map-side combine collapses each
    partition's duplicates before the shuffle, so the wire volume is
    O(distinct edges per partition), not O(statements). ``n_docs`` is an
    exact distinct (two-phase under the same key — no extra shuffle
    because the grouping key is a prefix of the distinct key). First
    URL / statement are ``min`` — deterministic under any partitioning,
    unlike ``first``.

``contradictions``
    sign := +1 for increases-family, -1 for decreases-family (a literal
    CASE, JVM-side); non-signed predicates are filtered BEFORE the
    shuffle so association-type noise never crosses the wire. ONE
    groupBy(subj, obj) with conditional SUMs, then a post-agg filter for
    pairs seen with both signs. Output is tiny (conflicts only) by
    construction.

Both are single-shuffle plans keyed on the edge identity — the same key
the downstream graph build shuffles on, so AQE coalesces them into the
existing exchange when chained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INCREASE_PREDS = ("increases", "directlyIncreases", "rateLimitingStepOf")
DECREASE_PREDS = ("decreases", "directlyDecreases")


def edge_rollup(statements: DataFrame) -> DataFrame:
    """One row per distinct (subj, pred, obj) edge with its support:
    ``n_evidence`` (statement occurrences), ``n_docs`` (distinct source
    documents), ``first_url`` and a deterministic representative
    ``bel_statement`` (both ``min`` — stable under repartitioning)."""
    return (
        statements.groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evidence"),
            F.count_distinct(F.col("url")).cast("long").alias("n_docs"),
            F.min("url").alias("first_url"),
            F.min("bel_statement").alias("bel_statement"),
        )
    )


def contradictions(statements: DataFrame) -> DataFrame:
    """(subj, obj) pairs asserted with BOTH an increasing and a decreasing
    predicate, with per-sign support counts and ``conflict_ratio`` =
    min/max of the two counts (1.0 = perfectly split evidence)."""
    sign = (
        F.when(F.col("pred").isin(*INCREASE_PREDS), F.lit(1))
        .when(F.col("pred").isin(*DECREASE_PREDS), F.lit(-1))
        .otherwise(F.lit(0))
    )
    signed = statements.select(
        "subj", "obj", sign.alias("sign")
    ).filter(F.col("sign") != 0)
    g = signed.groupBy("subj", "obj").agg(
        F.sum(F.when(F.col("sign") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("sign") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
    )
    return g.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "subj",
        "obj",
        "n_pos",
        "n_neg",
        F.round(
            F.least("n_pos", "n_neg") / F.greatest("n_pos", "n_neg"), 6
        ).alias("conflict_ratio"),
    )
