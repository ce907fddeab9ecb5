"""Cross-document entity resolution: alias clustering to canonical ids.

Reference analog: the reference grounds each mention independently per
document (``annotation.py`` — one alias, one grounding call) and
canonicalizes nodes by exact BEL-term equality (``convert_to_cx2.py``),
so "TP53", "Tp53" and "TP-53" from different pages become three nodes. At
crawl scale the surface-form table itself needs resolving ONCE, globally:
cluster similar aliases, pick a canonical representative, and every
downstream grounding/canonicalization join keys on the cluster.

Spark-first shape (everything relational, no model objects):

  * pairs: char-2-shingle exact Jaccard over the DISTINCT alias table
    via an inverted shingle index — same relational skeleton as
    ``dedup.ngram_jaccard_pairs`` but character shingles (entity surface
    forms are short; word grams are useless at length 1-3). The alias
    table is entity-sized (|distinct surface forms| << |mentions|), so
    the self-join is orders of magnitude smaller than a corpus dedup;
    ``max_shingle_freq`` caps the O(df²) blowup of stop-shingles exactly
    like the corpus-side guard.
  * clusters: :func:`~.graph_query.connected_components` over the pair
    graph — min-label propagation is type-agnostic, so aliases are their
    own node ids (no dense-id assignment needed) and the canonical
    representative is the lexicographic minimum of each cluster:
    deterministic under any partitioning.
  * singletons never enter the loop: aliases with no similar pair join
    back ``left`` and canonicalize to themselves.

The composite is replayed end-to-end by an ANSI-SQL oracle (shingle
inverted index + recursive-CTE closure) — see ``entity_resolution_parts``
in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_query import connected_components
from .linking import _shingles


def alias_pairs(
    aliases: DataFrame,
    threshold: float = 0.6,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """(alias_a, alias_b, jaccard) for distinct alias pairs whose char-2
    shingle Jaccard is >= ``threshold`` (alias_a < alias_b)."""
    sh = (
        aliases.select("alias")
        .distinct()
        .withColumn("shingles", _shingles(F.col("alias")))
        .filter(F.size("shingles") > 0)
        .withColumn("n_sh", F.size("shingles"))
        .select("alias", "n_sh", F.explode("shingles").alias("g"))
    )
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_freq)
            .select("g")
        )
        sh = sh.join(F.broadcast(hot), "g", "left_anti")
    a = sh.select(
        F.col("alias").alias("alias_a"), F.col("n_sh").alias("n_a"), "g"
    )
    b = sh.select(
        F.col("alias").alias("alias_b"), F.col("n_sh").alias("n_b"), "g"
    )
    return (
        a.join(b, "g")
        .filter(F.col("alias_a") < F.col("alias_b"))
        .groupBy("alias_a", "alias_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("alias_a", "alias_b", F.round("jaccard", 6).alias("jaccard"))
    )


def resolve_entities(aliases: DataFrame, threshold: float = 0.6) -> DataFrame:
    """One row per distinct alias: (alias, canonical) where ``canonical``
    is the lexicographic minimum alias of its similarity cluster (the
    alias itself if nothing similar exists)."""
    pairs = alias_pairs(aliases, threshold)
    comp = connected_components(
        pairs.select(F.col("alias_a").alias("s"), F.col("alias_b").alias("t")),
    )
    return (
        aliases.select("alias")
        .distinct()
        .join(comp.withColumnRenamed("node_id", "alias"), "alias", "left")
        .select(
            "alias",
            F.coalesce("component", F.col("alias")).alias("canonical"),
        )
    )
