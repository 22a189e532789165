"""Count-Min frequency sketches (operators/count_min.py): the overestimate
law (true ≤ estimate, with the ε·n collision bound at the fixture scale),
bit-exact mergeability (hour partials rolled to day == day partials built
directly), zero-collision exactness on a sparse synthetic, absent-item
behavior, and bit-exact DuckDB parity of the full build+probe pipeline."""

from __future__ import annotations

from collections import Counter

import duckdb
from pyspark.sql import functions as F

from realtime_fraud_detection_spark.operators.count_min import (
    DEFAULT_DEPTH,
    DEFAULT_WIDTH,
    cm_col_sql,
    cm_estimate,
    cm_partials,
    merge_cm,
)
from realtime_fraud_detection_spark.sources.testdata import load_table
from tests.conftest import SF_SMOKE


def _events(spark):
    return load_table(spark, SF_SMOKE, "events")


def _exact_by_hour(spark):
    rows = (
        _events(spark)
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .collect()
    )
    per_hour: dict = {}
    for r in rows:
        per_hour.setdefault(r["h"], Counter())[r["user_id"]] += 1
    return per_hour


def test_estimate_upper_bounds_true_count(spark):
    ev = _events(spark)
    parts = cm_partials(ev, "user_id", ts_col="ts")
    items = ev.select("user_id").distinct()
    est = {
        (r["hour"], r["user_id"]): r["est"]
        for r in cm_estimate(parts, items, "user_id", ["hour"]).collect()
    }
    exact = _exact_by_hour(spark)
    assert est, "no estimates produced"
    for h, counts in exact.items():
        n = sum(counts.values())
        for item, true in counts.items():
            e = est[(h, item)]
            assert e >= true, (h, item, true, e)
            # deterministic collision mass is far under the 2n/w bound on
            # this fixture; assert the theoretical bound itself
            assert e - true <= 2 * n / DEFAULT_WIDTH + true, (h, item)


def test_no_collision_regime_is_exact(spark):
    # 5 items into a 1024-wide grid: at least one of the 4 hash rows is
    # collision-free, so min() recovers the exact count
    df = spark.createDataFrame(
        [(f"item{i % 5}",) for i in range(100)], "k string"
    )
    parts = cm_partials(df, "k")
    items = df.select("k").distinct()
    got = {r["k"]: r["est"] for r in cm_estimate(parts, items, "k").collect()}
    assert got == {f"item{i}": 20 for i in range(5)}


def test_absent_item_estimates_collision_mass_only(spark):
    df = spark.createDataFrame([("present",)] * 7, "k string")
    parts = cm_partials(df, "k")
    items = spark.createDataFrame([("absent",), ("present",)], "k string")
    got = {r["k"]: r["est"] for r in cm_estimate(parts, items, "k").collect()}
    assert got["present"] == 7
    # one item in 4096 cells: 'absent' collides on all 4 rows or none —
    # with these md5 salts it does not collide
    assert got["absent"] == 0


def test_merge_law_bit_exact(spark):
    ev = _events(spark)
    hourly = cm_partials(ev, "user_id", ts_col="ts", grain="hour")
    rolled = merge_cm(hourly, "day").withColumnRenamed("day", "hour")
    direct = cm_partials(ev, "user_id", ts_col="ts", grain="day")
    r = {tuple(x) for x in rolled.collect()}
    d = {tuple(x) for x in direct.collect()}
    assert r == d


def test_stored_size_bounded_by_grid(spark):
    ev = _events(spark)
    parts = cm_partials(ev, "user_id", ts_col="ts")
    per_window = (
        parts.groupBy("hour").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_window <= DEFAULT_WIDTH * DEFAULT_DEPTH


def test_duckdb_parity_bit_exact(spark):
    """The full pipeline (build partials at hour, roll to day, probe every
    user) simulated independently in DuckDB SQL from the raw parquet —
    estimates must agree exactly (all arithmetic is md5 + integer)."""
    ev = _events(spark)
    parts = merge_cm(
        cm_partials(ev, "user_id", ts_col="ts", grain="hour"), "day"
    ).withColumnRenamed("day", "hour")
    items = ev.select("user_id").distinct()
    got = {
        (r["hour"], r["user_id"]): r["est"]
        for r in cm_estimate(parts, items, "user_id", ["hour"]).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_SMOKE}/events.parquet')"
    )
    rows_sql = " UNION ALL ".join(
        f"SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, {i} AS depth, "
        f"{cm_col_sql('user_id', i)} AS col FROM events"
        for i in range(DEFAULT_DEPTH)
    )
    probe_sql = " UNION ALL ".join(
        f"SELECT user_id, {i} AS depth, {cm_col_sql('user_id', i)} AS col "
        f"FROM (SELECT DISTINCT user_id FROM events)"
        for i in range(DEFAULT_DEPTH)
    )
    want_rows = con.execute(
        f"""
        WITH cells AS (
          SELECT d, depth, col, COUNT(*) AS cnt FROM ({rows_sql}) GROUP BY 1, 2, 3
        ),
        probes AS ({probe_sql}),
        wins AS (SELECT DISTINCT d FROM cells)
        SELECT wins.d, probes.user_id,
               CAST(MIN(COALESCE(cells.cnt, 0)) AS BIGINT) AS est
        FROM wins CROSS JOIN probes
        LEFT JOIN cells ON cells.d = wins.d
                       AND cells.depth = probes.depth
                       AND cells.col = probes.col
        GROUP BY 1, 2
        """
    ).fetchall()
    want = {(r[0], r[1]): r[2] for r in want_rows}
    assert got == want


def test_count_brackets_contain_truth(spark):
    """MG lower / CM upper brackets built from the two stored-partials
    tables contain the exact count for every MG-kept item, at day grain."""
    from realtime_fraud_detection_spark.operators.count_min import (
        count_brackets,
    )
    from realtime_fraud_detection_spark.operators.heavy_hitters import (
        frequent_items_partials,
        merge_frequent_items,
    )

    ev = _events(spark)
    mg = merge_frequent_items(
        frequent_items_partials(ev, "ts", "user_id", capacity=16),
        "day",
        capacity=16,
    ).withColumnRenamed("day", "hour")
    cm = merge_cm(
        cm_partials(ev, "user_id", ts_col="ts"), "day"
    ).withColumnRenamed("day", "hour")
    br = count_brackets(mg, cm, ["hour"], item_col="item").collect()
    assert br, "no brackets produced"

    exact_rows = (
        ev.select(F.date_trunc("day", "ts").alias("d"), "user_id").collect()
    )
    exact: dict = {}
    for r in exact_rows:
        exact[(r["d"], r["user_id"])] = exact.get((r["d"], r["user_id"]), 0) + 1
    for r in br:
        true = exact[(r["hour"], r["item"])]
        assert r["cnt_lb"] <= true <= r["cnt_ub"], (
            r["item"], r["cnt_lb"], true, r["cnt_ub"],
        )
        assert r["cnt_ub"] - r["cnt_lb"] <= r["n"], r["item"]


def test_item_column_may_also_be_a_key(spark):
    """item_col listed in key_cols too (per-user sketches of the user's
    own id): no duplicate or ambiguous column, and the same grid as the
    counts= path built from the exact per-(user, hour, item) counts."""
    ev = _events(spark)
    direct = cm_partials(ev, "user_id", ts_col="ts", key_cols=["user_id"])
    counts = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy(
            "user_id",
            F.date_trunc("hour", "ts").alias("hour"),
            F.col("user_id").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    shared = cm_partials(
        ev, "user_id", ts_col="ts", key_cols=["user_id"], counts=counts
    )
    assert direct.columns == ["user_id", "hour", "depth", "col", "cnt"]
    assert shared.columns == direct.columns
    rows = {tuple(r) for r in direct.collect()}
    assert rows and rows == {tuple(r) for r in shared.collect()}
