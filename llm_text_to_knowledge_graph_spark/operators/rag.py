"""GraphRAG context selection — the consumption-layer composite.

Reference analog: ``examples/bel_graph_rag.ipynb`` — the reference merges
its per-paper CX2 graphs and answers questions by pulling the query
entities' graph neighborhood plus the supporting evidence sentences into
an LLM prompt. This operator is that retrieval step as ONE Spark plan
over the KG store + document corpus, composing two operators this engine
already pins independently:

  1. personalized PageRank from the query's seed entities
     (:func:`~..operators.graph_query.personalized_pagerank_scaled`, the
     integer form of :func:`~..operators.graph_query.pagerank` with
     ``seeds``) — graph relevance ("which entities matter from THESE
     seeds outward");
  2. keep the top-``m`` entities by rank (query-sized → broadcast);
  3. pull the documents mentioning them and fold each document's
     mentioned-entity PPR mass — ONE partial-agg groupBy over the
     broadcast-pruned mention map;
  4. BM25-score the corpus against the query terms
     (:func:`~..operators.retrieval.bm25_scores` — the token explode is
     pruned to the query vocabulary inside the scan stage);
  5. final context score = ``graph_mass * (1 + bm25)``: graph-relevant
     documents rank even without a lexical match, lexical matches boost
     multiplicatively.

Scale shape: the PPR loop runs over the entity GRAPH, which is orders of
magnitude smaller than the corpus; everything corpus-sized crosses the
wire exactly once — the mention map collapses through a broadcast join
+ partial-agg groupBy, and the BM25 explode ships only query-vocabulary
tokens. No mid-plan driver actions beyond the PPR loop's
localCheckpoints.

Determinism: the PPR fixpoint runs entirely in int64 units of 1e-12
(:func:`~..operators.graph_query.personalized_pagerank_scaled`), the 6dp
snap and the top-``m`` cut happen in integer space (ties broken by
``node_id``), and the graph-mass fold is an exact long sum divided once
— so the whole composite replays bit-identically in ANSI SQL
(``rag_context_docs`` oracle in ``__spark_entry__.py`` unrolls the
integer PPR iterations as chained CTEs and re-derives the BM25
statistics). Round-3 lesson baked in: double PPR iterates are often
exact 7-decimal values, and ``ROUND(double, 6)`` at the half boundary
is engine-dependent — integers never are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_query import personalized_pagerank_scaled
from .retrieval import bm25_scores


def rag_context(
    entity_edges: DataFrame,
    entity_docs: DataFrame,
    docs: DataFrame,
    seeds: list[int],
    query_terms: list[str],
    *,
    top_entities: int = 8,
    k: int | None = None,
    iterations: int = 3,
) -> DataFrame:
    """Rank documents as RAG context for a query expressed as KG seed
    entities + lexical terms.

    ``entity_edges``: (s, t) entity-id graph (KG edges or co-mention
    pairs). ``entity_docs``: (node_id, doc_id) mention map — which
    documents mention which entity. ``docs``: (doc_id, text) corpus.
    Returns one row per document that mentions at least one
    top-``top_entities`` entity: (doc_id, n_entities, graph_mass, bm25,
    score), optionally cut to the global top ``k`` by score.
    """
    # integer PPR: the whole fixpoint runs in int64 units of 1e-12, so
    # the ranks below are exact longs, never engine-dependent double sums
    # (round-3 lesson: PPR hub values are exact 7-decimal numbers, and
    # ROUND(double, 6) at the x.xxx_xxx5 boundary disagrees between
    # Spark's shortest-repr HALF_UP and DuckDB's scaled-double round)
    ppr = personalized_pagerank_scaled(entity_edges, seeds, iterations=iterations)
    # snap to the 6dp lattice IN INTEGER SPACE (half-up on longs), then
    # cut: order is a pure function of the lattice + node_id
    top = (
        ppr.select(
            "node_id",
            F.expr("(rank_s + 500000) div 1000000").alias("rank6"),
        )
        .orderBy(F.desc("rank6"), "node_id")
        .limit(top_entities)
    )
    mass = (
        entity_docs.select("node_id", "doc_id")
        .distinct()
        .join(F.broadcast(top), "node_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            # exact long sum; ONE division to double at the end — both
            # engines divide the same long by the same constant
            (F.sum("rank6") / F.lit(1e6)).alias("graph_mass"),
        )
    )
    bm = bm25_scores(docs, query_terms).withColumnRenamed("score", "bm25")
    out = (
        mass.join(bm, "doc_id", "left")
        .select(
            "doc_id",
            "n_entities",
            "graph_mass",
            F.coalesce(F.col("bm25"), F.lit(0.0)).alias("bm25"),
        )
        .withColumn(
            "score",
            F.round(F.col("graph_mass") * (F.lit(1.0) + F.col("bm25")), 6),
        )
    )
    if k is not None:
        out = out.orderBy(F.desc("score"), F.col("doc_id")).limit(k)
    return out
