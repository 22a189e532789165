"""J1 as a real stream-stream join: two watermarked streaming sources,
time-range equi join, results checked against the batch join on the same
data (SURVEY §2.3, StreamJoiner.java:29-49)."""

from __future__ import annotations

import pandas as pd

from realtime_fraud_detection_spark.operators.joins import windowed_stream_join
from realtime_fraud_detection_spark.streaming.pipeline import to_memory_sink


def test_stream_stream_time_range_join(spark, tmp_path):
    base = pd.Timestamp("2024-01-01 10:00:00")
    tx = pd.DataFrame(
        {
            "user_id": ["u1", "u1", "u2"],
            "ts": [base, base + pd.Timedelta("20min"), base + pd.Timedelta("2min")],
            "v": [1, 2, 3],
        }
    )
    behavior = pd.DataFrame(
        {
            "user_id": ["u1", "u1", "u2"],
            "ts": [
                base + pd.Timedelta("2min"),   # joins v=1
                base + pd.Timedelta("40min"),  # out of range of both
                base + pd.Timedelta("4min"),   # joins v=3
            ],
            "w": [10, 20, 30],
        }
    )
    left_src, right_src = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(tx).coalesce(1).write.parquet(left_src)
    spark.createDataFrame(behavior).coalesce(1).write.parquet(right_src)

    left = (
        spark.readStream.schema("user_id string, ts timestamp, v long")
        .parquet(left_src)
        .withWatermark("ts", "10 seconds")
    )
    right = (
        spark.readStream.schema("user_id string, ts timestamp, w long")
        .parquet(right_src)
        .withWatermark("ts", "10 seconds")
    )
    joined = windowed_stream_join(left, right, "user_id").select("l.user_id", "v", "w")
    q = to_memory_sink(joined, "ssj_test", str(tmp_path / "ck"), "append")
    q.awaitTermination(120)
    q.stop()  # stateful availableNow queries may not self-terminate (pending timers)
    got = spark.sql("select * from ssj_test order by v").toPandas()

    # batch equivalence on the same inputs
    want = (
        windowed_stream_join(spark.createDataFrame(tx), spark.createDataFrame(behavior), "user_id")
        .select("l.user_id", "v", "w")
        .toPandas()
        .sort_values("v")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 2
    assert list(got["v"]) == list(want["v"]) == [1, 3]
    assert list(got["w"]) == list(want["w"]) == [10, 30]


def test_bucketed_join_dst_safe_ntz(spark):
    """ADVICE r13: the bucket must be wall-clock-linear for NTZ inputs.
    Under a DST-observing session TZ, converting NTZ wall times through the
    session zone jumps ±3600 s at a transition: 2024-11-03 01:58 resolves to
    EDT (-04:00) while 02:02 resolves to EST (-05:00) in America/New_York —
    a 64-minute instant gap for a 4-minute wall-clock pair. The old
    unix_micros(cast) bucket put them ~6 buckets apart and silently dropped
    the pair; the timestampdiff-over-NTZ bucket keeps them adjacent."""
    import datetime as dt

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        left = spark.createDataFrame(
            [("u1", dt.datetime(2024, 11, 3, 1, 58), 1)],
            "user_id string, ts timestamp_ntz, v long",
        )
        right = spark.createDataFrame(
            [("u1", dt.datetime(2024, 11, 3, 2, 2), 10)],
            "user_id string, ts timestamp_ntz, w long",
        )
        got = (
            windowed_stream_join(left, right, "user_id",
                                 before="10 minutes", after="10 minutes")
            .select("v", "w")
            .collect()
        )
        assert [(r["v"], r["w"]) for r in got] == [(1, 10)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_zero_window_falls_back_to_unbucketed(spark):
    """ADVICE r13: before='0 seconds' would make the bucket floor divide by
    zero — the gate must fall back to the plain plan, which correctly joins
    r_ts == l_ts only."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    left = spark.createDataFrame(
        [("u1", t, 1), ("u1", t + dt.timedelta(seconds=1), 2)],
        "user_id string, ts timestamp_ntz, v long",
    )
    right = spark.createDataFrame(
        [("u1", t, 10)], "user_id string, ts timestamp_ntz, w long"
    )
    got = (
        windowed_stream_join(left, right, "user_id",
                             before="0 seconds", after="0 seconds")
        .select("v", "w")
        .collect()
    )
    assert [(r["v"], r["w"]) for r in got] == [(1, 10)]


def test_mixed_ntz_and_instant_sides_match_plain_join(spark):
    """ADVICE r14 (a): one NTZ side and one instant side. An NTZ bucket
    counts wall-clock time and an instant bucket counts UTC time, so under
    a non-UTC session the two sides' buckets sit the TZ offset apart and
    the bucketed join dropped every pair. Mixed families must take the
    plain range join, whose comparison Spark resolves in the session TZ."""
    from pyspark.sql import functions as F

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        left = spark.createDataFrame(
            [("u1", "2024-01-01 10:00:00", 1), ("u1", "2024-01-01 12:00:00", 2),
             ("u2", "2024-07-01 09:30:00", 3)],
            "user_id string, ts string, v long",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        right = spark.createDataFrame(
            [("u1", "2024-01-01 10:02:00", 10), ("u1", "2024-01-01 10:20:00", 20),
             ("u1", "2024-01-01 11:58:00", 30), ("u2", "2024-07-01 09:25:00", 40)],
            "user_id string, ts string, w long",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = (
            windowed_stream_join(left, right, "user_id")
            .select("v", "w")
            .collect()
        )
        l, r = left.alias("l"), right.alias("r")
        plain = l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.expr("l.ts - interval 5 minutes"))
            & (F.col("r.ts") <= F.expr("l.ts + interval 5 minutes")),
        ).select("v", "w").collect()
        want = sorted((r["v"], r["w"]) for r in plain)
        assert want == [(1, 10), (2, 30), (3, 40)]
        assert sorted((r["v"], r["w"]) for r in got) == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
