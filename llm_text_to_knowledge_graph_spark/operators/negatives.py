"""Deterministic negative sampling for KG-embedding training.

Every TransE/DistMult/RotatE-style trainer consumes (positive, corrupted)
triple pairs: for each true edge, replace the head or the tail with a
random entity (Bordes et al. 2013). At 10^10 edges the sampling pass has
to be (a) map-only — a per-edge join against an entity table just to pick
a random row would dwarf the training scan — and (b) reproducible, so a
resumed/re-sharded run trains on the SAME corruption set and an eval
harness can regenerate it exactly.

Contract: entities are densely numbered ``0..n_entities-1`` — which is the
embedding-matrix row space every trainer already maintains (compose with
``plans/ids.py::dense_ids`` when the graph's ids are sparse, as the
content-addressed ``build_nodes`` ids are). The draw is then pure column
math:

  h            = int(md5(s:t:copy:seed)[0:15], 16)      (60 bits)
  corrupt head = (h % 2 == 0)
  replacement  = (h >> 1) % n_entities

so corruption is a pure function of (edge, copy, seed) — map-only,
engine-portable (the DuckDB oracle replays every draw), and identical
across runs, partitionings, and engines.

False negatives (a "corrupted" triple that happens to be a true edge) are
removed with ONE anti-join against the edge table — the standard
"filtered" protocol of the KG-embedding literature, and the only
non-map-only step. Self-corruptions (replacement == original entity)
reproduce the positive edge and are removed by the same anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def negative_samples(
    edges: DataFrame,
    n_entities: int,
    k: int = 1,
    seed: int = 42,
) -> DataFrame:
    """``k`` corrupted triples per edge: (s, t, copy, corrupt_head,
    neg_s, neg_t), with true-edge collisions anti-joined away (so output
    rows per edge may be < k — the filtered protocol; deterministic, not
    resampled)."""
    if n_entities <= 0:
        raise ValueError("n_entities must be positive")
    s, t = F.col("s").cast("long"), F.col("t").cast("long")
    copies = edges.select(
        s.alias("s"),
        t.alias("t"),
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("copy"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("s").cast("string"),
                    F.lit(":"),
                    F.col("t").cast("string"),
                    F.lit(":"),
                    F.col("copy").cast("string"),
                    F.lit(f":{seed}"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    drawn = copies.select(
        "s",
        "t",
        "copy",
        (h % 2 == 0).alias("corrupt_head"),
        (F.shiftright(h, 1) % F.lit(n_entities)).alias("_repl"),
    )
    neg = drawn.select(
        "s",
        "t",
        "copy",
        "corrupt_head",
        F.when(F.col("corrupt_head"), F.col("_repl"))
        .otherwise(F.col("s"))
        .alias("neg_s"),
        F.when(F.col("corrupt_head"), F.col("t"))
        .otherwise(F.col("_repl"))
        .alias("neg_t"),
    )
    true_edges = edges.select(
        s.alias("neg_s"), t.alias("neg_t")
    ).distinct()
    return neg.join(true_edges, ["neg_s", "neg_t"], "left_anti")
