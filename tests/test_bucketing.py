"""Bucketed-store layout: values unchanged, Exchanges gone."""

import pytest
from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.plans.bucketing import (
    exchange_count,
    write_bucketed,
)


@pytest.fixture()
def no_broadcast(spark):
    """Force real join planning: with broadcast on, the small test tables
    would broadcast-join and the bucketing assertion would be vacuous."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _toy_graph(spark):
    nodes = spark.createDataFrame(
        [(i, f"n{i}", "p") for i in range(50)], "node_id long, name string, type string"
    )
    edges = spark.createDataFrame(
        [(i, i % 50, (i * 7) % 50, "increases") for i in range(400)],
        "edge_id long, s long, t long, interaction string",
    )
    return nodes, edges


def test_bucketed_hop_join_is_exchange_free(no_broadcast, tmp_path):
    spark = no_broadcast
    nodes, edges = _toy_graph(spark)
    # nodes bucketed by node_id and edges by s, same bucket count
    write_bucketed(nodes, "tb_kg_nodes", "node_id", 8, path=str(tmp_path / "tb_kg_nodes"))
    write_bucketed(edges, "tb_kg_edges", "s", 8, path=str(tmp_path / "tb_kg_edges"))

    be, bn = spark.table("tb_kg_edges"), spark.table("tb_kg_nodes")
    hop = be.join(bn, be["s"] == bn["node_id"]).drop("node_id")
    assert exchange_count(hop) == 0, hop._jdf.queryExecution().sparkPlan().toString()

    # control: the same join over plain (non-bucketed) parquet shuffles
    nodes.write.mode("overwrite").parquet(str(tmp_path / "plain_nodes"))
    edges.write.mode("overwrite").parquet(str(tmp_path / "plain_edges"))
    pn = spark.read.parquet(str(tmp_path / "plain_nodes"))
    pe = spark.read.parquet(str(tmp_path / "plain_edges"))
    plain = pe.join(pn, pe["s"] == pn["node_id"]).drop("node_id")
    assert exchange_count(plain) >= 1

    # and the values are identical either way
    a = sorted(map(tuple, hop.select("edge_id", "s", "t", "name").collect()))
    b = sorted(map(tuple, plain.select("edge_id", "s", "t", "name").collect()))
    assert a == b and len(a) == 400


def test_bucketed_aggregation_skips_shuffle(no_broadcast, tmp_path):
    """groupBy on the bucket key of a sorted bucketed table needs no
    Exchange either — partial aggs are already co-located."""
    spark = no_broadcast
    _, edges = _toy_graph(spark)
    write_bucketed(edges, "tb_edges_agg", "s", buckets=8, path=str(tmp_path / "e"))
    agg = spark.table("tb_edges_agg").groupBy("s").agg(F.count("*").alias("deg"))
    assert exchange_count(agg) == 0
    assert agg.count() == 50


def test_bucket_count_mismatch_still_correct(no_broadcast, tmp_path):
    """Different bucket counts can't co-locate (Spark re-shuffles one side)
    but results must be unchanged — layout is an optimization, not a
    semantic knob."""
    spark = no_broadcast
    nodes, edges = _toy_graph(spark)
    write_bucketed(nodes, "tb_n16", "node_id", buckets=16, path=str(tmp_path / "n16"))
    write_bucketed(edges, "tb_e8", "s", buckets=8, path=str(tmp_path / "e8"))
    j = spark.table("tb_e8").join(
        spark.table("tb_n16"), F.col("s") == F.col("node_id")
    )
    assert j.count() == 400
