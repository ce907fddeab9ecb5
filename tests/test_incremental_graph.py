"""Incremental (streaming) graph build == batch graph build.

Content-addressed ids make graph construction incrementally appendable:
the union of per-micro-batch edge/node outputs must equal the batch build
over the full corpus, with zero cross-batch coordination.
"""

from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.corpus import build_alias_rows, pages_df
from llm_text_to_knowledge_graph_spark.operators.fused import extract_triples_fused
from llm_text_to_knowledge_graph_spark.operators.graph import build_edges, build_nodes
from llm_text_to_knowledge_graph_spark.streaming.incremental import (
    incremental_graph,
    read_incremental_nodes,
)


def test_incremental_graph_equals_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    pages_dir = str(tmp_path / "pages")
    out_root = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")
    staged = str(tmp_path / "staged")
    alias = build_alias_rows(11)

    # one corpus (one entity dictionary), landing in two waves with shared
    # (hot, Zipf) entities across waves
    pages_df(spark, 60, seed=11).write.parquet(staged)
    allp = spark.read.parquet(staged)

    # wave 1 lands, stream drains it
    allp.filter(F.crc32("url") % 2 == 0).write.mode("append").parquet(pages_dir)
    incremental_graph(spark, pages_dir, out_root, ckpt, alias).awaitTermination(120)
    # wave 2 lands, stream drains again
    allp.filter(F.crc32("url") % 2 == 1).write.mode("append").parquet(pages_dir)
    incremental_graph(spark, pages_dir, out_root, ckpt, alias).awaitTermination(120)

    # batch build over everything the stream saw
    all_pages = spark.read.parquet(pages_dir)
    t = extract_triples_fused(all_pages, alias)
    batch_edges = sorted(
        map(tuple, build_edges(t, id_strategy="hash").collect())
    )
    batch_nodes = sorted(map(tuple, build_nodes(t, id_strategy="hash").collect()))

    from llm_text_to_knowledge_graph_spark.streaming.incremental import (
        read_incremental_edges,
    )

    stream_edges = sorted(
        map(tuple, read_incremental_edges(spark, out_root).collect())
    )
    stream_nodes = sorted(map(tuple, read_incremental_nodes(spark, out_root).collect()))

    assert stream_edges == batch_edges
    assert stream_nodes == batch_nodes
    # overlap existed: raw node writes exceed the deduped node count
    raw_nodes = spark.read.parquet(f"{out_root}/nodes").count()
    assert raw_nodes > len(stream_nodes)

    # exactly-once: re-running the drained stream appends nothing
    n_edges = len(stream_edges)
    incremental_graph(spark, pages_dir, out_root, ckpt, alias).awaitTermination(120)
    assert read_incremental_edges(spark, out_root).count() == n_edges


def test_replayed_batch_does_not_duplicate(spark, tmp_path):
    """foreachBatch is at-least-once: writing the SAME batch_id twice (a
    crash-replay) must leave the table unchanged, not doubled — the
    per-batch dynamic partition overwrite makes the write idempotent."""
    from llm_text_to_knowledge_graph_spark.streaming.incremental import (
        _write_batch_idempotent,
    )

    out = str(tmp_path / "edges")
    df = spark.range(100).select(
        F.col("id").alias("edge_id"), (F.col("id") * 2).alias("s")
    )
    _write_batch_idempotent(df, out, batch_id=0)
    _write_batch_idempotent(df, out, batch_id=0)  # replay
    assert spark.read.parquet(out).count() == 100
    _write_batch_idempotent(df, out, batch_id=1)  # a genuinely new batch
    assert spark.read.parquet(out).count() == 200
    # replay of batch 0 after batch 1 landed still only rewrites batch 0
    _write_batch_idempotent(df.limit(60), out, batch_id=0)
    assert spark.read.parquet(out).count() == 160


def test_incremental_graph_extracts_each_page_once(spark, tmp_path, monkeypatch):
    """The micro-batch's triples feed the edge write and the node build
    (which reads them twice, subj and obj); without persisting them each
    read re-runs the extraction over the batch's pages."""
    from llm_text_to_knowledge_graph_spark.streaming import incremental

    pages_dir = str(tmp_path / "pages")
    pages_df(spark, 30, seed=5).write.parquet(pages_dir)
    reads = spark.sparkContext.accumulator(0)

    def count_pages(batches):
        for pdf in batches:
            reads.add(len(pdf))
            yield pdf

    def counting_extract(batch_df, alias_rows):
        counted = batch_df.mapInPandas(count_pages, schema=batch_df.schema)
        return extract_triples_fused(counted, alias_rows)

    monkeypatch.setattr(incremental, "extract_triples_fused", counting_extract)
    incremental_graph(
        spark, pages_dir, str(tmp_path / "graph"), str(tmp_path / "ckpt"),
        build_alias_rows(5),
    ).awaitTermination(120)
    assert reads.value == 30
