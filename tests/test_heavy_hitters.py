"""Misra–Gries frequent-items summaries (operators/heavy_hitters.py):
the undercount bound (stored ≤ true ≤ stored + n/(capacity+1)), the
presence guarantee at every grain (merge re-compression keeps both —
the PODS'12 mergeability law), the capacity bound on stored size, and
the certified heavy-hitter filter."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from realtime_fraud_detection_spark.operators.heavy_hitters import (
    frequent_items_partials,
    heavy_hitters,
    merge_frequent_items,
)
from realtime_fraud_detection_spark.sources.testdata import load_table
from tests.conftest import SF_SMOKE

CAP = 8


def _sorted_rows(rows):
    # NULL-item sentinel rows make bare tuple sorts raise (None vs str)
    return sorted(
        map(tuple, rows),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _events(spark):
    return load_table(spark, SF_SMOKE, "events")


def _exact(spark, grain):
    ev = _events(spark)
    rows = ev.select(
        F.date_trunc(grain, "ts").alias("g"), F.col("user_id").alias("item")
    ).collect()
    per_group: dict = {}
    for r in rows:
        per_group.setdefault(r["g"], Counter())[r["item"]] += 1
    return per_group


def _check_bounds(summary_rows, exact_by_group, group_field):
    groups = {}
    for r in summary_rows:
        groups.setdefault(r[group_field], []).append(r)
    assert set(groups) <= set(exact_by_group)
    for g, rows in groups.items():
        true = exact_by_group[g]
        n = sum(true.values())
        assert all(r["n"] == n for r in rows)
        # exactly one NULL-item sentinel per group carries n; at most
        # CAP real counters besides it (the total-mass invariant)
        sentinels = [r for r in rows if r["item"] is None]
        counters = [r for r in rows if r["item"] is not None]
        assert len(sentinels) == 1 and sentinels[0]["cnt"] == 0
        assert len(counters) <= CAP
        err = n / (CAP + 1)
        stored = {r["item"]: r["cnt"] for r in counters}
        for item, cnt in stored.items():
            assert cnt <= true[item], (g, item)
            assert true[item] - cnt <= err + 1e-9, (g, item)
        for item, f in true.items():  # presence guarantee
            if f > err:
                assert item in stored, (g, item, f, err)


def test_hourly_summary_bounds(spark):
    parts = frequent_items_partials(
        _events(spark), "ts", "user_id", capacity=CAP
    )
    _check_bounds(parts.collect(), _exact(spark, "hour"), "hour")


def test_merged_daily_summary_keeps_guarantees(spark):
    """The rollup law: merging stored hourly summaries (sum + re-compress)
    must still satisfy the undercount bound and presence guarantee
    against the EXACT daily counts — i.e. no rollup fallacy: a day-heavy
    item that never topped any single hour cannot be lost."""
    parts = frequent_items_partials(
        _events(spark), "ts", "user_id", capacity=CAP
    )
    daily = merge_frequent_items(parts, "day", capacity=CAP)
    _check_bounds(daily.collect(), _exact(spark, "day"), "day")


def test_merge_vs_direct_presence(spark):
    """Direct day-grain summaries and rolled-up ones need not be
    bit-identical (compression is lossy), but both must contain every
    item above the guarantee threshold, with counts within the bound of
    each other (≤ 2·n/(cap+1) apart)."""
    ev = _events(spark)
    direct = {
        (r["hour"], r["item"]): r["cnt"]
        for r in frequent_items_partials(
            ev, "ts", "user_id", capacity=CAP, grain="day"
        ).collect()
    }
    rolled = {
        (r["day"], r["item"]): r["cnt"]
        for r in merge_frequent_items(
            frequent_items_partials(ev, "ts", "user_id", capacity=CAP),
            "day",
            capacity=CAP,
        ).collect()
    }
    exact = _exact(spark, "day")
    for g, true in exact.items():
        bound = 2 * sum(true.values()) / (CAP + 1)
        both = {i for (gg, i) in direct if gg == g} | {
            i for (gg, i) in rolled if gg == g
        }
        for item in both:
            a = direct.get((g, item), 0)
            b = rolled.get((g, item), 0)
            assert abs(a - b) <= bound + 1e-9, (g, item, a, b)


def test_known_skew_and_certified_hitters(spark):
    """Constructed skew with capacity 2: the dominant items survive with
    certified lower-bound shares; nothing below the threshold is
    reported by heavy_hitters."""
    items = ["a"] * 60 + ["b"] * 25 + ["c"] * 5 + ["d"] * 5 + ["e"] * 5
    df = spark.createDataFrame(
        [("2024-03-01 10:00:00", it) for it in items], "ts string, item string"
    ).withColumn("ts", F.to_timestamp("ts"))
    parts = frequent_items_partials(df, "ts", "item", capacity=2)
    rows = {
        r["item"]: r for r in parts.collect() if r["item"] is not None
    }
    # cut = 3rd largest count = 5 → a:55, b:20 survive; c/d/e dropped
    assert set(rows) == {"a", "b"}
    assert rows["a"]["cnt"] == 55 and rows["b"]["cnt"] == 20
    assert rows["a"]["n"] == 100
    hh = {r["item"]: r for r in heavy_hitters(parts, ["hour"], 0.1).collect()}
    assert set(hh) == {"a", "b"}
    assert hh["a"]["share_lb"] == 0.55
    # certified: the lower-bound share never exceeds the true share
    assert hh["a"]["share_lb"] <= 0.60 and hh["b"]["share_lb"] <= 0.25


def test_wiped_window_mass_survives_rollup(spark):
    """An all-tie window (more singletons than capacity) compresses to
    ZERO counters — its total mass n must survive into coarser grains
    anyway, or heavy_hitters certifies against a too-small denominator.
    Repro from round-6 advice: hour A = 40 singletons (cap 4 → every
    counter wiped), hour B = one 10× item + 5 singletons; the daily
    total must be 55, so the 10× item's true share (~0.18) must NOT be
    certified at min_share=0.5."""
    rows = [("2024-03-01 10:00:00", f"s{i}") for i in range(40)]
    rows += [("2024-03-01 11:00:00", "hot")] * 10
    rows += [("2024-03-01 11:00:00", f"t{i}") for i in range(5)]
    df = spark.createDataFrame(
        rows, "ts string, item string"
    ).withColumn("ts", F.to_timestamp("ts"))

    parts = frequent_items_partials(df, "ts", "item", capacity=4)
    hourly = {r["hour"]: r for r in parts.collect() if r["item"] is None}
    assert sorted(r["n"] for r in hourly.values()) == [15, 40]
    # hour A: all 40 counters tie the cutoff → only the sentinel remains
    wiped_hour = next(h for h, r in hourly.items() if r["n"] == 40)
    assert not [
        r
        for r in parts.collect()
        if r["hour"] == wiped_hour and r["item"] is not None
    ]

    daily = merge_frequent_items(parts, "day", capacity=4)
    drows = daily.collect()
    assert all(r["n"] == 55 for r in drows)
    hh = heavy_hitters(daily, ["day"], min_share=0.5).collect()
    assert hh == []  # true share 10/55 — must not certify at 0.5
    # and at an honest threshold the hot item is present with a valid
    # lower bound (cnt <= true count 10, share_lb <= 10/55)
    hot = {
        r["item"]: r
        for r in heavy_hitters(daily, ["day"], min_share=0.05).collect()
    }
    assert "hot" in hot
    assert hot["hot"]["cnt"] <= 10
    assert hot["hot"]["share_lb"] <= 10 / 55 + 1e-12


def test_heavy_hitters_match_duckdb(spark):
    """Unlike the HLL/DDSketch members of the sketch family, MG
    compression is integer-only (counts, ranks, subtraction — no
    transcendentals), so the whole hourly-build + daily-merge pipeline
    has a BIT-EXACT DuckDB twin (the duplicate_spans class: exact
    parity pinned here because the driver's 50-query oracle window is
    full)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet')"
    )
    cap = CAP
    compress = """
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY cnt DESC, item ASC) AS rn,
               CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM counts
    ), cutoff AS (
        SELECT *,
               MAX(CASE WHEN rn = {k1} THEN cnt ELSE 0 END)
                   OVER (PARTITION BY g) AS c
        FROM ranked
    )
    SELECT g, item, CAST(cnt - c AS BIGINT) AS cnt, n
    FROM cutoff WHERE rn <= {k} AND cnt > c
    UNION ALL
    SELECT g, NULL AS item, CAST(0 AS BIGINT) AS cnt, n
    FROM ranked WHERE rn = 1
    """
    hourly_sql = (
        "WITH counts AS (SELECT date_trunc('hour', ts) AS g, user_id AS item,"
        " CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), "
        + compress.format(k=cap, k1=cap + 1)
    )
    got = {
        (r["hour"], r["item"], r["cnt"], r["n"])
        for r in frequent_items_partials(
            _events(spark), "ts", "user_id", capacity=cap
        ).collect()
    }
    want = {tuple(t) for t in con.execute(hourly_sql).fetchall()}
    assert got == want

    daily_sql = (
        "WITH hourly AS ("
        + hourly_sql.replace("SELECT g, item,", "SELECT g AS hour, item,")
        # DuckDB's date_trunc('day', ts) yields DATE — cast back so the
        # tuple keys compare against Spark's timestamp
        + "), counts AS (SELECT CAST(date_trunc('day', hour) AS TIMESTAMP)"
        " AS g, item,"
        " CAST(SUM(cnt) AS BIGINT) AS cnt FROM hourly"
        " WHERE item IS NOT NULL GROUP BY 1, 2), "
        + compress.format(k=cap, k1=cap + 1)
        + ""
    )
    totals_sql = (
        "WITH hourly AS ("
        + hourly_sql.replace("SELECT g, item,", "SELECT g AS hour, item,")
        + ") SELECT CAST(date_trunc('day', hour) AS TIMESTAMP) AS g,"
        " CAST(SUM(wn) AS BIGINT) AS n"
        " FROM (SELECT hour, MAX(n) AS wn FROM hourly GROUP BY hour)"
        " GROUP BY 1"
    )
    day_counts = {
        (t[0], t[1]): t[2] for t in con.execute(daily_sql).fetchall()
    }
    day_totals = dict(con.execute(totals_sql).fetchall())
    got_daily = {
        (r["day"], r["item"], r["cnt"], r["n"])
        for r in merge_frequent_items(
            frequent_items_partials(
                _events(spark), "ts", "user_id", capacity=cap
            ),
            "day",
            capacity=cap,
        ).collect()
    }
    want_daily = {
        (g, item, cnt, day_totals[g]) for (g, item), cnt in day_counts.items()
    }
    assert got_daily == want_daily


def test_streaming_store_keeps_guarantees(spark, tmp_path):
    """Micro-batched ingest through the foreachBatch MG sink: the
    rolled-up view must satisfy the presence guarantee and count bounds
    against EXACT counts over the union (per-batch compression errors
    sum within the n/(cap+1) budget — the PODS'12 merge law across
    batch boundaries), and replaying a batch must not move the view."""
    from realtime_fraud_detection_spark.streaming.sinks import (
        frequent_items_writer,
        heavy_hitters_view,
    )

    ev = _events(spark)
    src = str(tmp_path / "events_src")
    ev.repartition(4).write.parquet(src)
    out = str(tmp_path / "out")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            frequent_items_writer(out, capacity=CAP)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    view = heavy_hitters_view(spark, out, "day", capacity=CAP)
    _check_bounds(view.collect(), _exact(spark, "day"), "day")

    writer = frequent_items_writer(out, capacity=CAP)
    replay = spark.read.parquet(src).limit(250)
    writer(replay, 0)
    first = _sorted_rows(
        heavy_hitters_view(spark, out, "day", capacity=CAP).collect()
    )
    writer(replay, 0)
    second = _sorted_rows(
        heavy_hitters_view(spark, out, "day", capacity=CAP).collect()
    )
    assert first == second


def test_partials_survive_parquet(spark, tmp_path):
    parts = frequent_items_partials(
        _events(spark), "ts", "user_id", capacity=CAP
    )
    p = str(tmp_path / "hh")
    parts.write.parquet(p)
    rolled = lambda df: _sorted_rows(  # noqa: E731
        merge_frequent_items(df, "day", capacity=CAP).collect()
    )
    assert rolled(spark.read.parquet(p)) == rolled(parts)


def test_counts_path_honours_grain(spark):
    """An hour-grain `counts=` table with grain="day" is re-truncated and
    re-summed before compression: the same summaries as a direct
    day-grain build from the events."""
    ev = _events(spark)
    hourly = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            F.col("user_id").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    shared = frequent_items_partials(
        ev, "ts", "user_id", capacity=CAP, grain="day", counts=hourly
    )
    direct = frequent_items_partials(
        ev, "ts", "user_id", capacity=CAP, grain="day"
    )
    assert shared.columns == direct.columns
    want = _sorted_rows(direct.collect())
    assert want and _sorted_rows(shared.collect()) == want
