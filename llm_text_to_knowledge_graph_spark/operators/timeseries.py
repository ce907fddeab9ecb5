"""Time-series operators Spark lacks as built-ins.

as-of join: for each left row, the most recent right row with
``right.ts <= left.ts`` per key. Spark has no ASOF JOIN; the naive
range-join explodes (every left row matches every earlier right row before
aggregation). The scalable formulation here is the canonical union trick:
tag both sides, union, and carry the right payload forward with
``last(ignorenulls)`` over a (key, ts)-ordered window — ONE shuffle on the
key, work linear in |L| + |R|, no candidate blowup. DuckDB's native
``ASOF JOIN`` serves as the independent oracle (see __spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Left as-of join: every ``left`` row gains the ``right_cols`` of the
    latest ``right`` row with the same ``on`` key and ``right.ts <=
    left.ts`` (inclusive; right wins ties). No match -> nulls.

    Right rows should be unique per (key, ts); pre-aggregate if not —
    which row "the" match is would otherwise be undefined in any engine.
    """
    out_cols = [F.col(c).alias(f"_r_{c}") for c in right_cols]
    r = right.select(
        F.col(on), F.col(ts), F.col(ts).alias("_r_ts"), *out_cols
    ).withColumn("_tag", F.lit(0))
    l = left.withColumn("_tag", F.lit(1))
    unioned = l.unionByName(r, allowMissingColumns=True)

    # right rows sort before left rows at equal ts (_tag 0 < 1) => inclusive
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.withColumn("_m_ts", F.last("_r_ts", ignorenulls=True).over(w))
    for c in right_cols:
        filled = filled.withColumn(
            f"_m_{c}", F.last(f"_r_{c}", ignorenulls=True).over(w)
        )
    res = filled.filter(F.col("_tag") == 1)
    keep = [c for c in left.columns]
    renames = [F.col(f"_m_{c}").alias(f"right_{c}") for c in right_cols]
    return res.select(*keep, F.col("_m_ts").alias("right_ts"), *renames)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Point-in-interval join (``lo <= p <= hi``) via bin bucketing.

    Spark plans a raw inequality join as BroadcastNestedLoopJoin — O(N*M)
    compares. Bucketing multiplies each interval into the bins it covers
    and each point into its single bin, so the match becomes an EQUI-join
    on bin (hash-partitionable, AQE-optimizable) followed by the exact
    range filter. Cost: O(N + M * avg_span/bin_width + matches). Pick
    ``bin_width`` near the median interval span; a point joins each
    matching interval exactly once (its bin is listed once per interval),
    so no post-dedup is needed.
    """
    p = points.withColumn(
        "_bin", F.floor(F.col(point_col) / F.lit(float(bin_width))).cast("long")
    )
    iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(float(bin_width))).cast("long"),
                F.floor(F.col(hi_col) / F.lit(float(bin_width))).cast("long"),
            )
        ),
    )
    return (
        p.join(iv, "_bin")
        .filter(
            (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("_bin")
    )
