"""Incremental (streaming) near-duplicate filtering.

Why this works at all: ``minhash_det_signatures`` is a pure function of the
text (md5-min components, no fitted model, no engine seeds), so a signature
written by LAST MONTH's run band-joins correctly against TONIGHT's
micro-batch without re-sketching the historical corpus. pyspark.ml's
MinHashLSH cannot do this without persisting and re-loading the fitted
model object everywhere; the deterministic sketch needs only the parquet
signature table.

Per micro-batch of newly landed docs:

  1. sketch the batch (banded rows ``(id, sig, band, key)``)
  2. band-join against the ACCUMULATED signature store -> docs that
     near-duplicate any earlier survivor
  3. band-join the batch against itself -> within-batch dups (larger id
     loses, so the outcome is deterministic and order-free)
  4. append only the SURVIVORS' docs and signatures (idempotent per-batch
     partition overwrite — replayed batches converge, ADVICE round 1)

Dropping dup rows *and their signatures* keeps the store minimal while
preserving transitive semantics through the surviving representative: a
future doc similar to a dropped doc is (with LSH probability) similar to
the survivor it duplicated.

At 100 TB the signature store is the bottleneck surface, not the corpus:
it is ~(16 hashes x 32 B + overhead) per surviving doc, written
partitioned by ``sig_bucket = pmod(xxhash64(key), buckets)`` so the
per-batch band-join reads ONLY the batch's own buckets instead of scanning
the full store. The pruning is lossless: the join key is (band, key), any
store row that can match a batch row shares its ``key`` and therefore its
bucket. A small batch touches few buckets -> the probe reads a few
directories of a month-old multi-TB store; the bucket list per batch is
<= ``buckets`` integers (one tiny driver-side collect, the same class as a
metrics scalar). Iceberg production equivalent: ``PARTITIONED BY
(bucket(64, key))`` + the engine's own bucket-join pruning.
test_incremental_dedup.py asserts the probe's numFiles scan metric reads
strictly fewer files than the store holds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _sig_est, minhash_det_banded
from .incremental import _write_batch_idempotent, stream_pages

SIG_SCHEMA = "id long, sig array<string>, band int, key string"

# store bucket count: fixed at write time (changing it re-keys the layout,
# same operational rule as an Iceberg bucket transform)
SIG_BUCKETS = 64


def _store_path(out_root: str) -> str:
    return f"{out_root}/signatures"


def _bucket_col(buckets: int):
    return F.pmod(F.xxhash64(F.col("key")), F.lit(buckets)).cast("int")


def read_signature_store(
    spark: SparkSession, out_root: str, bucket_ids: list[int] | None = None
) -> DataFrame:
    """Accumulated banded signatures of all surviving docs (empty-safe).

    ``bucket_ids``: prune the read to these ``sig_bucket`` partitions — the
    partition filter reaches the file index, so only those directories are
    listed and read (the 100-TB probe path)."""
    path = _store_path(out_root)
    if not os.path.exists(path):
        return spark.createDataFrame([], SIG_SCHEMA)
    df = spark.read.parquet(path)
    if bucket_ids is not None:
        df = df.filter(F.col("sig_bucket").isin([int(b) for b in bucket_ids]))
    return df.drop("batch_id", "sig_bucket")


def _dup_ids(
    new_banded: DataFrame, store_banded: DataFrame, num_hashes: int, min_est: float
) -> DataFrame:
    """Ids in ``new_banded`` that near-duplicate the store or an
    earlier-id row of the same batch. One distinct id column."""
    n = new_banded.select(
        F.col("id").alias("new_id"), F.col("sig").alias("new_sig"), "band", "key"
    )
    # old_id != new_id: on a foreachBatch REPLAY the store may already hold
    # this very batch's partially-written signatures — without the guard
    # every replayed doc would match itself at est=1.0 and the idempotent
    # overwrite would converge to an EMPTY partition instead of the same one.
    vs_store = (
        n.join(
            store_banded.select(
                "band", "key",
                F.col("id").alias("old_id"), F.col("sig").alias("old_sig"),
            ),
            ["band", "key"],
        )
        .filter(F.col("old_id") != F.col("new_id"))
        .filter(_sig_est("new_sig", "old_sig", num_hashes) >= min_est)
        .select("new_id")
    )
    o = new_banded.select(
        F.col("id").alias("old_id"), F.col("sig").alias("old_sig"), "band", "key"
    )
    vs_batch = (
        n.join(o, ["band", "key"])
        .filter(F.col("old_id") < F.col("new_id"))
        .filter(_sig_est("new_sig", "old_sig", num_hashes) >= min_est)
        .select(F.col("new_id"))
    )
    return vs_store.union(vs_batch).distinct()


def incremental_dedup(
    spark: SparkSession,
    pages_dir: str,
    out_root: str,
    checkpoint_dir: str,
    n: int = 1,
    bands: int = 4,
    min_est: float = 0.5,
):
    """Streaming near-dup filter: new page files -> survivors appended to
    ``{out_root}/docs``, their banded signatures to
    ``{out_root}/signatures``. Returns the started query.

    The streaming source carries the corpus PAGES schema (url as the id);
    a stable long id is derived from xxhash64(url) — content-addressed like
    the graph ids, so replays and backfills agree on it."""

    import pandas as pd

    from ..sources.html_extract import extract_paragraphs_text

    @F.pandas_udf("string")
    def _page_text(html, text):
        # html-mode pages carry text=NULL: derive the dedup key with the
        # SAME byte-identical extractor the KG pipeline consumes, so the
        # stream dedupes on extracted content, not raw markup (and text-mode
        # pages pass through unchanged). Without this, only text-mode pages
        # get signatures and html-mode dups sail through unsketched.
        return pd.Series(
            [
                "\n\n".join(extract_paragraphs_text(h, t))
                for h, t in zip(html, text)
            ]
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.withColumn("doc_id", F.xxhash64("url")).withColumn(
            "_sketch_text", _page_text(F.col("html"), F.col("text"))
        )
        banded = minhash_det_banded(
            docs, n=n, num_hashes=16, bands=bands,
            text_col="_sketch_text",
        ).withColumn("sig_bucket", _bucket_col(SIG_BUCKETS)).persist()
        try:
            # the batch's bucket footprint (<= SIG_BUCKETS ints) prunes the
            # store probe to the directories that can possibly join
            bucket_ids = sorted(
                r[0] for r in banded.select("sig_bucket").distinct().collect()
            )
            store = read_signature_store(spark, out_root, bucket_ids)
            dups = _dup_ids(
                banded.drop("sig_bucket"), store, 16, min_est
            )
            survivors = docs.drop("_sketch_text").join(
                dups.withColumnRenamed("new_id", "doc_id"), "doc_id", "left_anti"
            )
            _write_batch_idempotent(survivors, f"{out_root}/docs", batch_id)
            surviving_sigs = banded.join(
                dups.withColumnRenamed("new_id", "id"), "id", "left_anti"
            )
            _write_batch_idempotent(
                surviving_sigs, _store_path(out_root), batch_id,
                sub_partition="sig_bucket",
            )
        finally:
            banded.unpersist()

    writer = (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.trigger(availableNow=True).start()


def read_deduped_docs(spark: SparkSession, out_root: str) -> DataFrame:
    """Surviving docs across all processed batches."""
    return spark.read.parquet(f"{out_root}/docs").drop("batch_id")
