"""as-of join: inclusive-tie semantics, tolerance, null misses, plan shape."""

import datetime as dt

from pyspark.sql import functions as F

from llm_text_to_knowledge_graph_spark.operators.timeseries import asof_join


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, "k", _ts(5)), (2, "k", _ts(10)), (3, "k", _ts(2)), (4, "z", _ts(9))],
        "id long, key string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("k", _ts(3), 30.0), ("k", _ts(10), 100.0), ("k", _ts(12), 120.0)],
        "key string, ts timestamp, v double",
    )
    return left, right


def test_asof_semantics(spark):
    left, right = _frames(spark)
    got = {
        r.id: (r.right_ts, r.right_v)
        for r in asof_join(left, right, on="key", ts="ts", right_cols=["v"]).collect()
    }
    assert got[1] == (_ts(3), 30.0)      # latest at-or-before 00:05
    assert got[2] == (_ts(10), 100.0)    # equal ts matches (inclusive)
    assert got[3] == (None, None)        # nothing at-or-before 00:02
    assert got[4] == (None, None)        # key with no right rows at all


def test_asof_single_shuffle(spark):
    left, right = _frames(spark)
    plan = (
        asof_join(left, right, on="key", ts="ts", right_cols=["v"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1  # the union window's key shuffle only
    assert "Join" not in plan  # no join node at all — linear, no blowup


def test_range_join_matches_naive_and_avoids_nested_loop(spark):
    from llm_text_to_knowledge_graph_spark.operators.timeseries import range_join

    points = spark.createDataFrame(
        [(i, float(i * 3 % 97)) for i in range(200)], "pid long, p double"
    )
    ivals = spark.createDataFrame(
        [(j, float(j * 7 % 80), float(j * 7 % 80 + 10)) for j in range(40)],
        "iid long, lo double, hi double",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(points, ivals, "p", "lo", "hi", bin_width=8.0).collect()
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in points.crossJoin(ivals)
        .filter((F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi")))
        .collect()
    )
    assert got == naive and len(got) > 100

    plan = (
        range_join(points, ivals, "p", "lo", "hi", bin_width=8.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan  # the bin made the join an equi-join
    assert "HashJoin" in plan or "SortMergeJoin" in plan
