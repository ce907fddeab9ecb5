"""KG-embedding (TransE) scoring — the training-signal end of the
embedding path.

This engine already produces every KG-embedding training INPUT at scale:
random-walk corpora + skip-gram pairs (``operators/walks.py``),
filtered-protocol negatives (``operators/negatives.py``) and token-budget
packing (``curation.pack_greedy``). This module adds the training SIGNAL:
TransE energy ``E(h, r, t) = ||h + r - t||`` (Bordes et al. 2013) and the
margin-ranking objective over positive/negative pairs — as pure column
math, so a scoring sweep over 10^10 edges is one join-plus-projection
job, not a Python loop.

Plan shape:

  * relation embeddings are a broadcast join (relation vocabularies are
    tiny — tens of predicates);
  * entity embeddings join twice (head, tail) on the entity id — the one
    genuinely big join; at scale bucket BOTH tables by the id so it is
    co-partitioned, and AQE's skew split covers hot entities;
  * the vector math is ``zip_with`` + ``aggregate`` fold — JVM
    expressions inside whole-stage codegen, no Python, no explode (the
    dim never becomes rows);
  * the margin loss is ONE partial-agg average over
    ``greatest(0, margin + E_pos - E_neg)``.

``pseudo_embeddings`` provides deterministic md5-derived vectors
(component j of node n = nibble(md5("n:j:seed"))/15 - 0.5): an
engine-portable bootstrap/test table whose every double an external SQL
engine can replay — the same trick as ``negatives.py``'s draws. Real
trained embeddings drop in as any (id, vec) table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _nibble01(col):
    # first md5 hex nibble as a double in [0, 1]
    return F.conv(F.substring(F.md5(col), 1, 1), 16, 10).cast("double") / 15.0


def pseudo_embeddings(ids: DataFrame, dim: int = 4, seed: int = 11) -> DataFrame:
    """(node_id, vec: array<double>) — deterministic per-id vectors,
    component j = nibble(md5("{id}:{j}:{seed}"))/15 - 0.5. Map-only."""
    comps = [
        (
            _nibble01(
                F.concat(
                    F.col("node_id").cast("string"), F.lit(f":{j}:{seed}")
                )
            )
            - F.lit(0.5)
        )
        for j in range(dim)
    ]
    return ids.select("node_id", F.array(*comps).alias("vec"))


def transe_energy(
    triples: DataFrame,
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    norm: str = "l1",
) -> DataFrame:
    """Input triples + ``energy``: ``||h + r - t||_1`` (or squared L2 with
    ``norm="l2sq"``), rounded to 6dp. Lower = more plausible edge."""
    if norm not in ("l1", "l2sq"):
        raise ValueError("norm must be 'l1' or 'l2sq'")
    h = ent_emb.select(
        F.col("node_id").alias("s"), F.col("vec").alias("_h")
    )
    t = ent_emb.select(
        F.col("node_id").alias("t"), F.col("vec").alias("_t")
    )
    r = rel_emb.select(
        F.col("rel").alias("p"), F.col("vec").alias("_r")
    )
    joined = (
        triples.join(h, "s").join(t, "t").join(F.broadcast(r), "p")
    )
    diff = F.zip_with(
        F.zip_with(F.col("_h"), F.col("_r"), lambda a, b: a + b),
        F.col("_t"),
        lambda hr, tt: hr - tt,
    )
    term = (lambda d: F.abs(d)) if norm == "l1" else (lambda d: d * d)
    energy = F.aggregate(
        diff, F.lit(0.0), lambda acc, d: acc + term(d)
    )
    return joined.select(
        *[F.col(c) for c in triples.columns],
        F.round(energy, 6).alias("energy"),
    )


