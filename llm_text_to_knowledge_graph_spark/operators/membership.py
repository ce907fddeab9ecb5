"""Deterministic Bloom-filter membership — the crawl-frontier seen-set.

A monthly web crawl re-discovers billions of URLs it has already fetched;
the standard pre-filter is a Bloom filter over the previous snapshots' URL
set: no false negatives (a genuinely-new URL is never dropped), a bounded
false-positive rate (a few re-fetches), and a memory footprint orders of
magnitude under the exact set. The same shape pre-filters the
snapshot-delta retraction join (operators/delta.py) and any "have we seen
this fingerprint" gate.

Spark-first design — the filter IS a DataFrame:

  * ``bloom_build`` hashes every ``url`` to 3 deterministic bit positions
    (md5-derived, so the filter is a pure function of the key set —
    reproducible across runs AND engines, unlike Spark's built-in
    ``bloomFilter`` whose layout is JVM-private) and bit_or-aggregates
    them into 64-bit blocks: one explode + ONE partial-agg groupBy(block).
    The result is (block, bits) rows — storable as a parquet/Iceberg
    table, unionable across snapshots (bit_or is associative), and
    incrementally maintainable (bit_or the new month's blocks in).
  * ``bloom_probe`` joins each key's 3 probes against the block table and
    requires ALL 3 bits set. With default sizing the filter is KBs-to-MBs
    and BROADCAST, so probing is map-only on the corpus side; at 10^12
    keys the block table outgrows broadcast and the same plan degrades
    gracefully to a shuffled join on ``block`` — which is still narrow
    (3 rows per key) and never moves the corpus payload.

Sizing: 4 hex digits give 16^4 = 65,536 bits = 1,024 blocks.
False-positive rate ~ (1 - e^(-k*n/m))^k with k = 3; m ~ 10 bits/key
gives ~1%. All constants are part of the model contract — the SQL oracle
reproduces the identical filter bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _positions(key, k: int, nibbles: int):
    """k deterministic bit positions in [0, 16^nibbles): the leading
    ``nibbles`` hex digits of md5(key || ':' || i). Engine-portable: any
    SQL engine with md5 reproduces them (conv here, strpos-nibble math in
    the DuckDB oracle)."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(key, F.lit(f":{i}"))), 1, nibbles), 16, 10
        ).cast("long")
        for i in range(k)
    ]


def _block_col():
    return F.shiftright("p", 6)


def _mask_col():
    # the Python-API shiftleft only takes a literal shift count; the SQL
    # form accepts a column
    return F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")


def bloom_build(df: DataFrame) -> DataFrame:
    """Aggregate the key set into Bloom blocks: (block long, bits long)
    where ``bits`` ORs a 1<<(pos % 64) mask for every key hash landing in
    the block. One explode (3 small ints per key — the payload never
    widens) + one partial-agg groupBy: duplicate keys and co-partition
    collisions collapse map-side before the shuffle."""
    key = F.col("url").cast("string")
    probes = df.select(F.explode(F.array(*_positions(key, 3, 4))).alias("p"))
    return (
        probes.select(_block_col().alias("block"), _mask_col().alias("mask"))
        .groupBy("block")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(df: DataFrame, bloom: DataFrame) -> DataFrame:
    """Test every row's key against a :func:`bloom_build` table: returns
    the input columns plus ``maybe_seen`` (false -> GUARANTEED unseen;
    true -> seen or false positive).

    Plan: explode to 3 probe rows per key, broadcast left join on
    ``block``, then groupBy the key requiring all k bits present. The
    corpus payload stays on the build side of the final semi-join —
    callers typically follow with ``df.join(probe.filter(...), key)`` or
    use the returned frame directly."""
    key = F.col("url").cast("string")
    pos = _positions(key, 3, 4)
    probes = df.select(
        F.col("url"),
        F.explode(F.array(*pos)).alias("p"),
    ).select(F.col("url"), _block_col().alias("block"), _mask_col().alias("mask"))
    b = F.broadcast(bloom)
    joined = probes.join(b, "block", "left")
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) == F.col("mask")
    ).cast("int")
    return (
        joined.groupBy("url")
        .agg(F.min(hit).alias("_all_hit"))
        .select(F.col("url"), (F.col("_all_hit") == 1).alias("maybe_seen"))
    )


