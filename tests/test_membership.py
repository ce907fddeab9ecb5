"""Bloom-filter membership (operators/membership.py) — checked against an
INDEPENDENT pure-Python Bloom built from the same md5 spec (never against
itself)."""

import hashlib

import pyspark.sql.functions as F

from llm_text_to_knowledge_graph_spark.operators.membership import (
    bloom_build,
    bloom_probe,
)


def _py_positions(key: str, k: int, nibbles: int):
    return [
        int(hashlib.md5(f"{key}:{i}".encode()).hexdigest()[:nibbles], 16)
        for i in range(k)
    ]


def _py_bloom(keys, k=3, nibbles=4):
    blocks = {}
    for key in keys:
        for p in _py_positions(key, k, nibbles):
            blocks[p >> 6] = blocks.get(p >> 6, 0) | (1 << (p % 64))
    # Spark longs are signed 64-bit: bit 63 set -> negative value
    return {b: v - (1 << 64) if v >= 1 << 63 else v for b, v in blocks.items()}


def test_build_matches_independent_reference(spark):
    keys = [f"https://site{i}.test/page/{i * 7}" for i in range(200)]
    df = spark.createDataFrame([(u,) for u in keys], ["url"])
    got = {r["block"]: r["bits"] for r in bloom_build(df).collect()}
    assert got == _py_bloom(keys)


def test_no_false_negatives_and_bounded_fp(spark):
    seen = [f"https://seen.test/{i}" for i in range(500)]
    new = [f"https://new.test/{i}" for i in range(500)]
    bloom = bloom_build(spark.createDataFrame([(u,) for u in seen], ["url"]))
    probe = bloom_probe(
        spark.createDataFrame([(u,) for u in seen + new], ["url"]), bloom
    )
    flags = {r["url"]: r["maybe_seen"] for r in probe.collect()}
    assert all(flags[u] for u in seen)  # zero false negatives, guaranteed
    fp = sum(flags[u] for u in new) / len(new)
    # m=65536 bits, n=500 keys, k=3 -> theoretical fp ~ 0.00035; allow 50x
    assert fp < 0.02


def test_union_across_snapshots_is_incremental(spark):
    """bit_or associativity: bloom(A) merged with bloom(B) == bloom(A+B)."""
    a = spark.createDataFrame([(f"a{i}",) for i in range(100)], ["url"])
    b = spark.createDataFrame([(f"b{i}",) for i in range(100)], ["url"])
    merged = (
        bloom_build(a)
        .unionByName(bloom_build(b))
        .groupBy("block")
        .agg(F.bit_or("bits").alias("bits"))
    )
    full = bloom_build(a.unionByName(b))
    assert {(r["block"], r["bits"]) for r in merged.collect()} == {
        (r["block"], r["bits"]) for r in full.collect()
    }


def test_probe_plan_is_broadcast(spark):
    df = spark.createDataFrame([("u1",)], ["url"])
    bloom = bloom_build(df)
    plan = (
        bloom_probe(df, bloom)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"):
        assert marker not in plan
