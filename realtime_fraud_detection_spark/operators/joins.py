"""Joins — SURVEY §2.3 J1-J6.

The reference has no join machinery of its own: it uses Flink windowed
stream-stream equi-joins (StreamJoiner.java) and per-record Redis RPC lookups
that are morally stream-static joins (TransactionProcessor.java:97-138).
Here every lookup is a real join Catalyst can reorder/broadcast, and the
windowed correlations are time-range join conditions that work identically in
batch and (with watermarks) streaming.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def profile_enrich(
    tx: DataFrame,
    users: DataFrame,
    merchants: DataFrame,
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """J5 — dimension enrichment as broadcast LEFT joins, replacing the
    reference's two synchronous Redis RPCs per record
    (TransactionProcessor.java:97-138, RedisService.java:83-122).

    Missing profiles get the reference's synthesized minimal-profile defaults
    (risk 0.5/medium, fraud_rate 0.05 — TransactionProcessor.java:489-508) via
    fillna, preserving the left join's anti-join semantics for the
    "profile not found" path.
    """
    out = tx.join(F.broadcast(users), "user_id", "left").join(
        F.broadcast(merchants), "merchant_id", "left"
    )
    base_defaults = {"risk_score": 0.5, "risk_level": "medium", "fraud_rate": 0.05}
    return out.fillna({**base_defaults, **(defaults or {})})


_INTERVAL_UNIT_S = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def _interval_seconds(spec: str) -> int | None:
    """Parse a simple '<n> <unit>' interval to whole seconds (None when the
    spec is fractional or uses an unsupported unit — callers fall back to
    the un-bucketed plan)."""
    parts = spec.strip().split()
    if len(parts) != 2 or not parts[0].isdigit():
        return None
    unit = _INTERVAL_UNIT_S.get(parts[1].lower())
    return int(parts[0]) * unit if unit else None


def windowed_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    before: str = "5 minutes",
    after: str = "5 minutes",
) -> DataFrame:
    """J1/J2 — stream-stream equi join with a time-range co-membership
    condition (StreamJoiner.java:29-75's tumbling-window joins). In streaming,
    watermark both inputs first; the range condition bounds state retention.

    Batch inputs additionally get a TIME-BUCKET equi-key (round 13, guide
    §2.5/§3.3): with W = max(before, after) seconds, the left row keeps its
    bucket floor(epoch_us / W·10⁶) and the right row is exploded to
    {b−1, b, b+1}. Any pair satisfying |Δts| ≤ W shares EXACTLY one of
    those buckets (μs-exact: Δ ≤ W·10⁶ bounds the bucket distance to 1, and
    the exploded buckets are distinct), so adding the bucket equality to
    the join key changes nothing about the result while turning the
    low-cardinality key join (the J2 merchant join has 50 merchants — every
    probe scanned its merchant's ENTIRE build list, an O(n·m) hot-key
    probe) into a fine-grained (key × bucket) hash join whose per-probe
    bucket holds only the rows of one W-window. Also the §2.5 skew story:
    50 hot partitions become 50 × #buckets well-spread ones. Streaming
    inputs keep the original plan — state cleanup reasons about the raw
    event-time range condition.
    """
    w_s = _interval_seconds(before)
    a_s = _interval_seconds(after)
    l_ntz = isinstance(left.schema[left_ts].dataType, TimestampNTZType)
    r_ntz = isinstance(right.schema[right_ts].dataType, TimestampNTZType)
    bucketed = (
        w_s is not None and a_s is not None
        # w=0 would divide by zero in the bucket floor; the plain plan
        # handles the degenerate r_ts == l_ts join correctly (ADVICE r13)
        and max(w_s, a_s) > 0
        # an NTZ bucket counts wall-clock time and an instant bucket counts
        # UTC time, so across one NTZ and one instant side the buckets sit
        # the session TZ offset apart and no pair shares one (ADVICE r14)
        and l_ntz == r_ntz
        and not left.isStreaming and not right.isStreaming
    )
    if not bucketed:
        l, r = left.alias("l"), right.alias("r")
        cond = (
            (F.col(f"l.{key}") == F.col(f"r.{key}"))
            & (F.col(f"r.{right_ts}") >= F.expr(f"l.{left_ts} - interval {before}"))
            & (F.col(f"r.{right_ts}") <= F.expr(f"l.{left_ts} + interval {after}"))
        )
        return l.join(r, cond)
    w_us = max(w_s, a_s) * 1_000_000

    def _epoch_us(ts_col: str) -> Column:
        # The bucket must live in the SAME value space the range predicate
        # compares (ADVICE r13): for NTZ columns the predicate is wall-clock
        # arithmetic, so derive a wall-clock-linear epoch via timestampdiff
        # over NTZ values — `unix_micros(cast(ntz as timestamp))` would
        # route through the session timezone, whose DST jumps are nonlinear
        # and can put a within-W pair >1 bucket apart (silently dropping
        # it). Instant-typed timestamps keep unix_micros (instant-linear,
        # matching instant-space interval arithmetic).
        if l_ntz:
            return F.expr(
                "timestampdiff(MICROSECOND, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
            )
        return F.unix_micros(F.col(ts_col).cast("timestamp"))

    lb = left.withColumn("_wsj_lb", F.floor(_epoch_us(left_ts) / w_us))
    rb0 = F.floor(_epoch_us(right_ts) / w_us)
    rb = right.withColumn(
        "_wsj_rb", F.explode(F.array(rb0 - 1, rb0, rb0 + 1))
    )
    l, r = lb.alias("l"), rb.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("l._wsj_lb") == F.col("r._wsj_rb"))
        & (F.col(f"r.{right_ts}") >= F.expr(f"l.{left_ts} - interval {before}"))
        & (F.col(f"r.{right_ts}") <= F.expr(f"l.{left_ts} + interval {after}"))
    )
    return l.join(r, cond).drop("_wsj_lb", "_wsj_rb")


def pattern_similarity_join(
    tx: DataFrame,
    patterns: DataFrame,
) -> DataFrame:
    """J3 — join on the derived composite key
    `payment_method:merchant_category:floor(amount/100)*100` with a
    similarity score column (StreamJoiner.java:81-101,159-179,238-292):
    payment-method match 0.3 + amount closeness 0.4 + hour closeness 0.3.
    """
    t = tx.withColumn(
        "pattern_key",
        F.concat_ws(
            ":",
            "payment_method",
            "merchant_category",
            (F.floor(F.col("amount") / 100) * 100).cast("long").cast("string"),
        ),
    )
    p = patterns.withColumn(
        "pattern_key",
        F.concat_ws(
            ":",
            "payment_method",
            "merchant_category",
            F.col("amount_range").cast("long").cast("string"),
        ),
    ).select("pattern_key", F.col("hour_of_day").alias("pattern_hour"), "fraud_rate", "occurrence_count")
    joined = t.join(F.broadcast(p), "pattern_key")
    amount_closeness = 1.0 - F.least(
        F.abs(F.col("amount") % 100) / 100.0, F.lit(1.0)
    )
    hour_closeness = 1.0 - F.abs(F.hour("ts") - F.col("pattern_hour")) / 24.0
    return joined.withColumn(
        "pattern_similarity",
        F.lit(0.3) + 0.4 * amount_closeness + 0.3 * hour_closeness,
    )


def behavior_risk_factors() -> Column:
    """J1's emitted behavior risk factors (StreamJoiner.java:183-206 reads
    isAnomalousLogin / isShortSession / isAnomalousNavigation flags from the
    joined user-behavior event, aliased `r` by windowed_stream_join, and
    folds them into a risk delta)."""
    delta = (
        F.when(F.coalesce(F.col("r.is_anomalous_login"), F.lit(False)), 0.3).otherwise(F.lit(0.0))
        + F.when(F.coalesce(F.col("r.is_short_session"), F.lit(False)), 0.2).otherwise(F.lit(0.0))
        + F.when(F.coalesce(F.col("r.is_anomalous_navigation"), F.lit(False)), 0.2).otherwise(
            F.lit(0.0)
        )
    )
    return F.least(delta, F.lit(1.0))


def merchant_update_join(
    tx: DataFrame,
    updates: DataFrame,
    window: str = "10 minutes",
) -> DataFrame:
    """J2 — transaction ⋈ merchant-profile-update stream on merchant_id
    within a 10-minute window, applying the reference's risk deltas:
    riskLevelIncreased → +0.4, newlyBlacklisted → +0.8
    (StreamJoiner.java:55-75,208-236)."""
    joined = windowed_stream_join(
        tx, updates, "merchant_id", before=window, after=window
    )
    delta = (
        F.when(F.col("r.risk_level_increased"), 0.4).otherwise(F.lit(0.0))
        + F.when(F.col("r.newly_blacklisted"), 0.8).otherwise(F.lit(0.0))
        + F.when(F.col("r.fraud_rate_increased"), 0.2).otherwise(F.lit(0.0))
    )
    return joined.withColumn("merchant_risk_delta", F.least(delta, F.lit(1.0)))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-buster equi join: explode the (small, hot-key-bearing) right side
    n_salt ways and scatter the left side across the salt range, so one hot
    key spreads over n_salt reducers instead of melting one.

    AQE's skew-join split handles sort-merge skew automatically
    (session.py); this is the explicit form for when the skew lives in an
    aggregation-input join AQE can't split, and the documented hook for
    dedup bucket explosions (minhash_lsh_candidates).
    """
    salted_left = left.withColumn("_salt", F.pmod(F.xxhash64(*left.columns), n_salt))
    salted_right = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = salted_left.join(salted_right, [key, "_salt"], how)
    return out.drop("_salt")


def bloom_pruned_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    fpp: float = 0.01,
    key_count: int | None = None,
) -> DataFrame:
    """Selective equi join with a Bloom pre-filter on the big side.

    At 100 TB the shuffle of `big ⋈ small` moves mostly rows that will
    never match when the small side is selective; Spark's own runtime
    bloom pruning (`bloom_filter_agg`) is not SQL-exposed in this build,
    so this is the explicit form using the portable pure-expression
    sketch (functions/bloom.py): build a model-sized bitmap from the
    small side's distinct keys (one map-side-combined `bit_or` shuffle
    of at most m/64 words), then probe it as a codegen'd getbit
    conjunction IN THE BIG SIDE'S SCAN STAGE — rows that cannot match
    never enter the join exchange. False positives (rate `fpp`) survive
    the filter but are removed by the join itself, so the RESULT is
    exactly the plain join's (pinned by test).

    Only result-preserving join types are allowed: inner / left_semi
    (for anti or outer joins the dropped rows ARE part of the answer).
    `key_count` skips the distinct-count pass when the caller already
    knows the small side's cardinality.
    """
    from ..functions.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_parameters,
    )

    if how not in ("inner", "left_semi", "semi"):
        raise ValueError(
            f"bloom pre-filtering only preserves inner/semi joins, got {how!r}"
        )
    # portable=False: build and probe live in the same job, so the
    # bitmap never crosses an engine boundary — xxhash64 on the raw
    # column (no string cast) is ~5x cheaper per probe than the
    # portable md5 path and keeps the no-false-negative law
    keys = small.select(F.col(key).alias("_bk")).distinct()
    n = key_count if key_count is not None else keys.count()
    m_bits, k = bloom_parameters(n, fpp)
    bitmap = bloom_build(keys, "_bk", m_bits, k, portable=False)
    pruned = big.filter(
        bloom_might_contain(bitmap, F.col(key), k, portable=False)
    )
    return pruned.join(small, key, how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance: str | None = None,
    suffix: str = "_asof",
    tie_break: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of (temporal) LEFT join: attach to each left row the LATEST right
    row with the same key and ``right_ts <= left_ts`` (ties at equal ts
    match). Unmatched left rows keep NULL right columns; ``tolerance``
    (an INTERVAL string, e.g. ``"1 hour"``) additionally nulls out matches
    older than ``left_ts - tolerance``. ``direction="forward"`` flips the
    search (EARLIEST right row with ``right_ts >= left_ts``, tolerance
    bounding ``left_ts + tolerance``) — pandas merge_asof's direction
    semantics, same plan shape (the union sorts descending instead).

    The reference approximates this with per-record Redis point lookups of
    "the latest profile/velocity state" (TransactionProcessor.java:97-138) —
    an as-of join is the set-oriented form of that lookup.

    Scale design: NOT a range join (which Spark would execute as a
    broadcast-nested-loop or an exploding theta join). Both sides are
    unioned into one (key, ts, is_left)-tagged frame and the right payload
    is carried forward with ``last(..., ignorenulls=True)`` over a
    (key)-partitioned (ts, is_left)-ordered running frame — ONE shuffle and
    one sort of |left|+|right| rows, the same plan shape as a window
    aggregate, regardless of how many right rows precede each left row.
    This is the merge-join strategy every native as-of implementation
    (kdb+ aj, DuckDB ASOF, pandas merge_asof) uses, expressed as a window.

    Right rows sort with ``is_left = 0`` so a right row at exactly
    ``left_ts`` is visible to that left row. If (key, right_ts) is not
    unique, pass ``tie_break`` columns to make the winner deterministic:
    the row with the SMALLEST tie-break tuple wins (min-wins — the same
    deterministic-tie convention as the repo's tie-broken top-k);
    otherwise the last duplicate in sort order wins nondeterministically.
    """
    r_payload = [c for c in right.columns if c != key]
    collide = {c + suffix for c in r_payload} & set(left.columns)
    if collide:
        raise ValueError(f"suffixed right columns collide with left: {collide}")
    l_rest = [c for c in left.columns if c not in (key, left_ts)]
    l_u = left.select(
        F.col(key),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in l_rest],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(c + suffix)
            for c in r_payload
        ],
    )
    r_u = right.select(
        F.col(key),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in l_rest],
        *[F.col(c).alias(c + suffix) for c in r_payload],
    )
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward or forward, got {direction}")
    fwd = direction == "forward"
    # forward search = the same running-prefix scan over a DESCENDING time
    # sort (right rows still first within equal ts). An unbounded-FOLLOWING
    # frame would be O(n²) per key — Spark only evaluates unbounded-
    # PRECEDING frames incrementally.
    t_ord = F.col("_t").desc() if fwd else F.col("_t").asc()
    # tie-break DESCENDING: last() picks the final duplicate at equal ts,
    # so a descending sort makes the MINIMUM tie-break value the winner
    # (min-wins, the repo-wide deterministic-tie convention)
    order = [t_ord, F.col("_is_left")] + [
        F.col(c + suffix).desc() for c in (tie_break or [])
    ]
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_u.unionByName(r_u).select(
        key,
        "_t",
        "_is_left",
        *l_rest,
        *[
            F.last(c + suffix, ignorenulls=True).over(w).alias(c + suffix)
            for c in r_payload
        ],
    )
    out = filled.filter(F.col("_is_left") == 1).drop("_is_left")
    if tolerance is not None:
        stale = (
            F.col(right_ts + suffix) > F.expr(f"_t + interval {tolerance}")
            if fwd
            else F.col(right_ts + suffix) < F.expr(f"_t - interval {tolerance}")
        )
        out = out.select(
            key,
            "_t",
            *l_rest,
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(c + suffix)).alias(c + suffix)
                for c in r_payload
            ],
        )
    return out.withColumnRenamed("_t", left_ts)


def multi_stream_correlate(streams: list[tuple[str, DataFrame]], key: str = "user_id") -> DataFrame:
    """J4 — multi-stream correlation: normalize each stream to a common
    (key, ts, kind, payload) shape and union, grouping downstream by key.
    (The reference's MultiStreamCorrelationFunction class is absent from the
    repo — declared intent at StreamJoiner.java:107-127; this is the union
    normalization it implies.)"""
    norm = [
        df.select(
            F.col(key),
            F.col("ts"),
            F.lit(kind).alias("kind"),
            F.to_json(F.struct(*[c for c in df.columns if c not in (key, "ts")])).alias("payload"),
        )
        for kind, df in streams
    ]
    out = norm[0]
    for df in norm[1:]:
        out = out.unionAll(df)
    return out
