"""Session-window aggregation (streaming/sessions.py): streamed result ==
batch result, exact-gap merge semantics, multi-session split."""

import datetime as dt

from llm_text_to_knowledge_graph_spark.streaming.sessions import session_stats

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
SCHEMA = "user_id long, ts timestamp"


def _secs(s):
    return T0 + dt.timedelta(seconds=s)


def _rows():
    return [
        # user 1: one session — the 1800s gap is EXACTLY the threshold
        # and must merge (strictly-greater break, pinned)
        (1, _secs(0)),
        (1, _secs(1800)),
        # user 2: two sessions (1801s gap breaks)
        (2, _secs(0)),
        (2, _secs(100)),
        (2, _secs(1901)),
        # user 3: single event
        (3, _secs(50)),
        # watermark sentinel: pushes the final watermark past every
        # session end so availableNow+append emits all of them
        (9, _secs(100000)),
    ]


def _expect():
    g = 1800
    return {
        (1, _secs(0), _secs(1800 + g), 2),
        (2, _secs(0), _secs(100 + g), 2),
        (2, _secs(1901), _secs(1901 + g), 1),
        (3, _secs(50), _secs(50 + g), 1),
        (9, _secs(100000), _secs(100000 + g), 1),
    }


def test_batch_session_stats(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_stats(df, gap="30 minutes").collect()
    }
    assert got == _expect()


def test_streaming_matches_batch(spark, tmp_path):
    df = spark.createDataFrame(_rows(), SCHEMA)
    d = str(tmp_path / "events")
    df.write.parquet(d)
    stream = spark.readStream.schema(SCHEMA).parquet(d)
    out = session_stats(stream, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    # append emits sessions closed before the final watermark — the
    # sentinel (user 9) itself is the only one still open
    assert got == _expect() - {(9, _secs(100000), _secs(100000 + 1800), 1)}
