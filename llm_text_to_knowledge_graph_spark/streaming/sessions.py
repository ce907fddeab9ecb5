"""Session-window aggregation — batch AND streaming from one code path.

The sessionization the events pipeline needs at 100 TB: per-user gap
sessions as a native ``session_window`` aggregation instead of the
lag+running-sum window plan (the inline ``sessionize`` driver query).
The two formulations agree on semantics (a new session starts when the
gap STRICTLY exceeds the threshold — an event exactly ``gap`` after the
last one merges, pinned by test), but their scale behavior differs:

- the window plan sorts every user's full history inside one partition
  per user — fine for bounded histories, unbounded state for a stream;
- ``session_window`` is a hash aggregation with merge-on-overlap state,
  streamable with a watermark: state per OPEN session only, closed
  sessions emitted and dropped (append mode), which is the only shape
  that survives an unbounded event stream.

``session_stats`` runs unchanged on a batch DataFrame (watermark is a
no-op there) — how the driver query and the DuckDB gaps-and-islands
oracle pin the exact semantics the streaming path executes; a streaming
availableNow run over the same rows is asserted row-identical to the
batch result in tests (same one-code-path principle as
streaming/joins.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """(user, session_start, session_end, n_events) per gap-session.

    ``session_end`` is Spark's convention: last event + gap (the time the
    session provably closed). Streaming inputs get a 2-hour watermark on
    ``ts`` so session state is evictable; batch inputs ignore it.
    """
    e = (
        events.withWatermark("ts", "2 hours")
        if events.isStreaming
        else events
    )
    return (
        e.groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), gap).alias("_w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("_w.start").alias("session_start"),
            F.col("_w.end").alias("session_end"),
            "n_events",
        )
    )
