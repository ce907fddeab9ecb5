"""Scalable dense-id assignment and skew-salted joins.

The reference assigns node ids with an in-memory first-seen counter
(convert_to_cx2.py:92-111) while it renders one CX2 document; the CX2
renderer here does the same (``export.cx2.to_cx2``), and ``run_pipeline``
builds content-addressed ids only. Where a table itself needs 0..n-1 ids:

dense_ids: two-phase assignment with NO global single-partition sort —
  (1) bucket rows by murmur hash of the key, rank within each bucket
      (shuffle-parallel window), (2) compute exclusive prefix-sums of bucket
      counts (a tiny B-row window) and add the offset. Ids are dense
      0..n-1 and deterministic for a given key set (documented relaxation of
      the reference's scan-order ids; graph isomorphism preserved).

salted_join: explicit hot-key salting for Zipf-skewed join keys (north_rule)
  — the big (skewed) side gets a deterministic salt derived from its row
  identity; the small-ish side is replicated K ways. AQE skew-join is also
  enabled in the session; this utility is for when the planner can't see the
  skew (e.g. post-UDF stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(
    df: DataFrame,
    key_cols: list[str],
    out_col: str = "id",
    buckets: int = 256,
) -> DataFrame:
    """Assign dense ids 0..n-1, one per row, ordered by (bucket(key), key).
    Rows with equal keys get ids in no fixed order, so callers dedup first
    (an upstream ``distinct`` gets map-side partial aggregation, so the
    bucket shuffle moves ~unique keys per partition).

    Callers: ``build_nodes`` / ``build_edges`` with ``id_strategy="dense"``
    — the benchmark's id-scheme timing in ``perfbench`` and tests only.
    ``operators/negatives.py`` needs 0..n-1 entity ids and points here for
    sparse graphs.

    Deterministic across partitionings and runs (murmur3 hash is
    seed-fixed) PROVIDED the input plan is deterministic: the plan is pure
    and lazy, and its two consumers (ranked window, offsets broadcast) each
    execute the input — the join-key not-null inference rewrites only the
    probe side's pushed filters, so the two subtrees stop being
    structurally identical and ReuseExchange misses. A nondeterministic
    upstream (rand(), sample(), limit() over an unordered set) can then
    give them different row sets and break density; materialize such
    inputs first. No cache inside: a ``persist`` here would pin a
    CacheManager entry forever, and a ``localCheckpoint`` under AQE runs
    every upstream stage at plan-BUILD time.
    """
    b = df.withColumn("_bkt", F.pmod(F.hash(*key_cols), F.lit(buckets)).cast("int"))
    w = Window.partitionBy("_bkt").orderBy(*key_cols)
    ranked = b.withColumn("_rnk", F.row_number().over(w))
    # bucket counts come from the pre-window projection (map-side
    # combinable agg), NOT from `ranked` — otherwise the window executes
    # twice
    counts = b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_cnt"))
    off_w = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(off_w), F.lit(0))
    ).select("_bkt", "_off")
    return (
        ranked.join(F.broadcast(offsets), "_bkt")
        .withColumn(out_col, (F.col("_off") + F.col("_rnk") - 1).cast("long"))
        .drop("_bkt", "_rnk", "_off")
    )


def salted_join(skewed: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Join a Zipf-skewed fact side to a dimension on ``on`` with explicit
    key salting: fact rows get salt = hash(row)%16, dim rows are replicated
    16 ways, and the join key becomes (on, salt) — splitting each hot key
    across 16 reducers (an inner join)."""
    fact = skewed.withColumn(
        "_salt", F.pmod(F.hash(*skewed.columns), F.lit(16)).cast("int")
    )
    replicated = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(15)))
    )
    return fact.join(replicated, on=[on, "_salt"]).drop("_salt")
