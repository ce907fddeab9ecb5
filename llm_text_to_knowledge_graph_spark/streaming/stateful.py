"""Custom stateful streaming operator: cross-batch exact dedup.

A training-data ingest stream must drop pages whose text was already seen
in ANY earlier micro-batch — exactly the shape Structured Streaming's
arbitrary state API covers. Implemented with applyInPandasWithState keyed
by md5(text): state = first-seen marker; only a key's first row is emitted,
ever. State survives restarts via the streaming checkpoint.

(The batch analog is operators/dedup.py::dedup_exact; this is the
incremental form.)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DEDUP_OUT = StructType(
    [
        StructField("text_hash", StringType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
    ]
)

_STATE = StructType([StructField("seen", LongType(), False)])


def _dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    seen = state.exists
    first: pd.DataFrame | None = None
    for pdf in pdfs:
        if not seen and first is None and len(pdf):
            # deterministic representative: smallest url wins within batch
            first = pdf.sort_values("url").head(1)
    if not seen:
        state.update((1,))
        if first is not None:
            yield pd.DataFrame(
                {
                    "text_hash": [key[0]],
                    "url": first["url"].tolist(),
                    "warc_ts": first["warc_ts"].tolist(),
                }
            )


def streaming_dedup(pages_stream: DataFrame) -> DataFrame:
    """streaming pages -> first-ever occurrence per distinct text."""
    hashed = pages_stream.select(
        F.md5(
            F.coalesce(F.col("text"), F.col("html").cast("string"), F.lit(""))
        ).alias("text_hash"),
        "url",
        "warc_ts",
    )
    return hashed.groupBy("text_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=DEDUP_OUT,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_dedup(
    spark,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Wire the stateful dedup over a file-source stream of pages."""
    from .incremental import stream_pages

    q = (
        streaming_dedup(stream_pages(spark, pages_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    return q
