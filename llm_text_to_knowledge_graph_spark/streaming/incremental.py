"""Incremental (Structured Streaming) mode.

The reference is batch-only; its per-stage JSON checkpoint chain
(main.py:55-98) is the closest analog to incremental processing. At scale
the natural incremental shape is: new page files land in the corpus
directory -> a file-source stream picks them up -> the SAME extraction
logic (fused operator) runs per micro-batch -> triples append to the
triples table; Spark's streaming checkpoint gives exactly-once file
processing.

foreachBatch reuses the batch operators verbatim — one code path for both
modes (SURVEY.md §7 M5).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.fused import extract_triples_fused
from ..schemas import PAGES


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream of newly landed page files."""
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 64)
        .parquet(pages_dir)
    )


def _write_batch_idempotent(
    df: DataFrame, path: str, batch_id: int, sub_partition: str | None = None
) -> None:
    """Idempotent foreachBatch sink: the batch writes ONLY its own
    ``batch_id=<id>`` partition with dynamic partition overwrite.

    foreachBatch is at-least-once — a failure mid-write replays the batch
    on restart. A blind append would duplicate the replayed rows; the
    partition overwrite makes the retry rewrite the same partition instead,
    so the table converges to exactly-once contents (ADVICE round 1).
    Readers drop the ``batch_id`` column (see read_incremental_*).

    ``sub_partition``: optional second-level partition column already on
    ``df`` (e.g. the signature store's ``sig_bucket``) so downstream
    point-reads prune directories. A replayed batch derives the identical
    sub-partition values from the identical input, so the dynamic overwrite
    still converges."""
    cols = ["batch_id"] + ([sub_partition] if sub_partition else [])
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def incremental_triples(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    alias_rows: list,
):
    """Run extraction incrementally: each micro-batch of new pages ->
    fused extraction -> idempotent per-batch partition write to the triples
    table. Returns the query."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        triples = extract_triples_fused(batch_df, alias_rows)
        _write_batch_idempotent(triples, out_dir, batch_id)

    writer = (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.trigger(availableNow=True).start()


def incremental_graph(
    spark: SparkSession,
    pages_dir: str,
    out_root: str,
    checkpoint_dir: str,
    alias_rows: list,
):
    """Incremental graph construction: each micro-batch of new pages appends
    hash-id edges and (batch-distinct) nodes.

    Content-addressed ids (operators/graph.py::node_id_col) are what makes
    this possible: a node's id is a pure function of its name, so two
    micro-batches — or a micro-batch and a historical backfill — assign the
    SAME id to the same entity with no coordination, no global counter, no
    id-lookup join. Dense 0..n-1 ids fundamentally cannot do this.
    Cross-batch duplicate node rows are benign (identical bytes); read the
    node table through ``read_incremental_nodes`` (Iceberg MERGE INTO is the
    at-scale equivalent of that dedup). Batch writes are idempotent
    (per-batch partition overwrite — see ``_write_batch_idempotent``), so a
    replayed batch cannot inflate the edge table."""
    from ..operators.graph import build_edges, build_nodes

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # persisted: the edge write and the node build (which scans the
        # triples twice, subj and obj) would each re-run the extraction
        t = extract_triples_fused(batch_df, alias_rows).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            _write_batch_idempotent(build_edges(t), f"{out_root}/edges", batch_id)
            _write_batch_idempotent(build_nodes(t), f"{out_root}/nodes", batch_id)
        finally:
            t.unpersist()

    writer = (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.trigger(availableNow=True).start()


def read_incremental_nodes(spark: SparkSession, out_root: str) -> DataFrame:
    """Deduplicated view of the incrementally-written node table. Rows for
    one NAME are byte-identical across batches, so dedup is on
    ``(node_id, name)`` — NOT node_id alone, which would silently collapse
    a hash-id collision between two distinct names and hide it from
    ``audit_id_collisions`` run on this view (ADVICE round 1)."""
    return (
        spark.read.parquet(f"{out_root}/nodes")
        .drop("batch_id")
        .dropDuplicates(["node_id", "name"])
    )


def read_incremental_edges(spark: SparkSession, out_root: str) -> DataFrame:
    """View of the incrementally-written edge table (batch partition column
    dropped). No row dedup: batch writes are idempotent, and edge_id is not
    assumed unique at extreme scale (see graph.edge_id_col)."""
    return spark.read.parquet(f"{out_root}/edges").drop("batch_id")
