"""Deterministic random-walk corpus generation over the KG.

The third leg of the KG-embedding training-data story (with
``operators/negatives.py`` corruption sampling and ``curation.py``
sequence packing): DeepWalk-style walks emitted as (walk_id, step,
node) rows, then window-sliced into skip-gram (center, context)
pairs — the input a node2vec/word2vec trainer consumes.

Scale/plan decisions:

- **The step pick is a pure function of (walk_id, step, seed)** — a
  60-bit md5 draw modulo the node's degree, the same deterministic-draw
  stance as ``negatives.negative_samples`` and ``dsir_resample``: no
  ``rand()``, so walks are reproducible across runs, engines, and
  partitionings (pinned by test), snapshot-resumable (step k+1 can be
  computed next month from the stored step-k frontier), and replayable
  by the DuckDB oracle bit-for-bit.
- **Neighbor choice by rank, not by explode.** The adjacency is built
  once with a per-source ``row_number`` rank and degree (one shuffle,
  one window pass); each step is then (a) a narrow join of the frontier
  against the (node, deg) table to compute the pick and (b) an EQUI-join
  on (node, idx) — work per step is |frontier| + |frontier| matches,
  never |frontier| x avg_degree candidate rows. Both joins are plain
  hash joins AQE can broadcast when the graph side is small.
- **Lineage is truncated** every 5 steps
  (localCheckpoint, same pattern as pagerank/LPA) so long walks don't
  accumulate a 2-joins-per-step plan tree.
- Walks on the undirected view never die (every visited node has >= 1
  neighbor); with ``directed=True`` a walk simply ends at a sink — its
  rows for later steps are absent, which downstream pair generation
  handles naturally (shorter sentence).

Hub skew: a walk step lands on a hot node with probability proportional
to its degree — exactly the word2vec unigram distribution the trainers
expect — but the JOIN key distribution is the frontier's occupancy, so
a 10^6-degree hub only skews the step join if many walks sit on it
simultaneously; ``walks_per_node`` controls that occupancy and AQE
skew-split handles the residue. No salting needed: the adjacency side
is keyed by (node, idx), which is unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .graph_query import undirected_edges


def ranked_adjacency(edges: DataFrame, directed: bool = False) -> DataFrame:
    """(s, t, idx, deg): each source's distinct neighbors ranked 1..deg
    by ascending t — the rank order is part of the walk's determinism
    contract, so it must be a pure function of the edge set (it is:
    sort by t within s). One shuffle; rank and degree share the
    partition pass."""
    base = edges.select("s", "t") if directed else undirected_edges(edges)
    und = base.filter(F.col("s") != F.col("t")).distinct()
    w = Window.partitionBy("s").orderBy("t")
    wd = Window.partitionBy("s")
    return und.withColumn("idx", F.row_number().over(w)).withColumn(
        "deg", F.count(F.lit(1)).over(wd)
    )


def _draw(walk_id, step: int, seed: int):
    """60-bit deterministic draw: first 15 md5 nibbles of
    'walk_id:step:seed' as a long (same construction as
    negatives.negative_samples — oracle-replayable)."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    walk_id.cast("string"),
                    F.lit(":"),
                    F.lit(str(step)),
                    F.lit(f":{seed}"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 1,
    seed: int = 42,
    directed: bool = False,
) -> DataFrame:
    """``walks_per_node`` uniform random walks of ``walk_len`` steps from
    every node with at least one neighbor.

    Returns (walk_id, step, node); step 0 is the start node and
    ``walk_id = start_node * walks_per_node + copy`` (unique because
    copy < walks_per_node). Deterministic: a pure function of
    (edge set, walk_len, walks_per_node, seed).

    Node ids must be NUMERIC (the walk_id arithmetic and the md5 draw
    replayed by the oracle are integer functions of the start node;
    string keys would silently null out every walk_id). String-keyed
    graphs — e.g. the alias graphs from operators/resolution.py — must
    first be densified through plans/ids.py, exactly as the KG build
    itself does before any graph algorithm runs.
    """
    if walk_len < 1:
        raise ValueError("walk_len must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    from pyspark.sql import types as T

    for c in ("s", "t"):
        if not isinstance(
            edges.schema[c].dataType, (T.ByteType, T.ShortType,
                                       T.IntegerType, T.LongType)
        ):
            raise TypeError(
                f"random_walks needs integer node ids; column {c!r} is "
                f"{edges.schema[c].dataType.simpleString()} — densify "
                "string keys via plans/ids.py first"
            )
    adj0 = ranked_adjacency(edges, directed=directed)
    # distinct column names per join input: deg_tbl derives from adj, so a
    # shared-lineage join would trip Spark's ambiguous-self-join check
    adj = adj0.select(
        F.col("s").alias("_as"),
        F.col("t").alias("_at"),
        F.col("idx").alias("_aidx"),
    )
    deg_tbl = adj0.filter(F.col("idx") == 1).select(
        F.col("s").alias("_ds"), F.col("deg").alias("_deg")
    )

    w = F.explode(F.array(*[F.lit(i) for i in range(walks_per_node)]))
    frontier = deg_tbl.select(F.col("_ds").alias("node")).select(
        "node", w.alias("_copy")
    ).select(
        (F.col("node") * walks_per_node + F.col("_copy")).alias("walk_id"),
        F.lit(0).alias("step"),
        "node",
    )
    out = frontier
    for step in range(1, walk_len + 1):
        pick = (_draw(F.col("walk_id"), step, seed) % F.col("_deg") + 1).alias(
            "_pick"
        )
        stepped = frontier.join(
            deg_tbl, F.col("node") == F.col("_ds")
        ).select("walk_id", "node", pick)
        nxt = stepped.join(
            adj,
            (F.col("node") == F.col("_as")) & (F.col("_pick") == F.col("_aidx")),
        ).select(
            "walk_id",
            F.lit(step).alias("step"),
            F.col("_at").alias("node"),
        )
        if step % 5 == 0 and step < walk_len:
            nxt = nxt.localCheckpoint(eager=False)
        frontier = nxt
        out = out.unionByName(nxt)
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context) pairs: every ordered pair of nodes within
    ``window`` steps of each other on the same walk (both directions,
    word2vec-style). Self-join keyed on walk_id — walk rows are 3
    narrow columns, so the shuffle is proportional to the corpus, and
    each walk's pairs materialize inside one task."""
    a = walks.select(
        F.col("walk_id"), F.col("step").alias("_sa"), F.col("node").alias("center")
    )
    b = walks.select(
        F.col("walk_id"), F.col("step").alias("_sb"), F.col("node").alias("context")
    )
    d = F.abs(F.col("_sa") - F.col("_sb"))
    pairs = a.join(b, "walk_id").filter((d >= 1) & (d <= window))
    pairs = pairs.filter(F.col("center") != F.col("context"))
    return pairs.select("walk_id", F.col("_sa").alias("step"), "center", "context")
