"""Bucketed table layout — co-located, exchange-free repeat joins.

The reference persists its graph as per-run JSON stage files
(textToKnowledgeGraph/main.py checkpoint chain), which is fine for one
paper but wrong at 100 TB, where the store is joined REPEATEDLY (k-hop
traversal, node-attribute enrichment, incremental merges) and every join
re-shuffles the edge table. Spark's answer is bucketed tables: rows are
hash-partitioned into a fixed bucket count ON DISK at write time, so a
join on the bucket key between two tables with the same bucket count
needs no Exchange at all — the planner reads matching buckets side by
side (verified by plan assertions in tests/test_bucketing.py). Writing is
one shuffle, paid once; every subsequent join is shuffle-free.

Bucket count guidance at scale: buckets are the unit of join parallelism
AND the file count per partition — pick ``total_size / ~256MB`` rounded
to a power of two (e.g. 4096 for a 1-TB edge table), and keep it
IDENTICAL across tables that join together (Spark only co-locates equal
bucket counts). The Iceberg equivalent is ``PARTITIONED BY
(bucket(N, key))`` — same layout contract as the checkpoint store's
signature buckets (streaming/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int = 64,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a parquet table bucketed and sorted by ``key``.
    Sorting within buckets lets a later sort-merge join skip its sort
    stages too — the join becomes a pure linear zip of the two
    bucket files. ``path`` makes it an external table (catalog keeps only
    metadata); omit it to store under spark.sql.warehouse.dir."""
    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, *keys)
        .sortBy(*keys)
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the executed physical plan —
    the metric the bucketed layout is built to drive to zero.

    Must read ``executedPlan`` (not ``sparkPlan``): Exchanges are inserted
    by the EnsureRequirements preparation rule, which runs between the two —
    ``sparkPlan`` NEVER contains them, so counting there returns 0 for every
    query. Under AQE the executed plan prints as AdaptiveSparkPlan with the
    initial (exchange-bearing) plan inlined, which is exactly what we want
    to assert on. BroadcastExchange is excluded: it ships a small table,
    not a shuffle."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for ln in plan.splitlines()
        if ln.lstrip("+-: *(0123456789)").startswith("Exchange")
    )
