"""Mergeable frequent-items (heavy-hitter) summaries — Misra–Gries
compression of per-window counts, the third member of the stored-rollup
sketch family (HLL distinct counts in operators/sketches.py, DDSketch
quantiles in operators/quantile_sketch.py).

"Top merchants this hour" is exact and cheap (one map-side-combined
count shuffle), but STORING per-window top-k for later rollup is not:
truncated top-k lists don't merge (an item just below every hourly
cutoff can be the month's #1 — the classic rollup fallacy). The
Misra–Gries summary fixes that with a proof, not a heuristic: keep at
most `capacity` counters per window, obtained by subtracting the
(capacity+1)-th largest count from every counter and dropping the
non-positive ones. Stored counts are LOWER bounds undercounting by at
most (dropped mass)/(capacity+1) ≤ n/(capacity+1), summaries of
disjoint windows merge by summing counters and re-compressing (error
bounds ADD, staying ≤ n_total/(capacity+1) — Agarwal, Cormode,
Huang, Phillips, Wei & Yi, "Mergeable Summaries", PODS'12, §3), and
every item with true frequency > n/(capacity+1) is GUARANTEED present
at every grain.

Shapes at 100 TB: building partials is the exact (key…, hour, item)
count — one shuffle, fully map-side combined (the transient shuffle
carries item-granular partial counts, never raw events); compression
bounds the STORED table at groups × capacity rows, and rollups scan
only that store. The per-group compression is two window passes over
item-granular rows sharing one (group, cnt desc) sort.

Determinism: counts are exact integers; ties in the compression cutoff
break by (cnt desc, item asc), so summaries are unique functions of the
input multiset.

Total-mass invariant: compression can wipe EVERY counter in a window
(e.g. > capacity items all tying the cutoff — a uniform tail), and the
window's total mass `n` must survive anyway, or rollup totals undercount
and heavy_hitters() certifies items against a too-small denominator.
Every summary therefore carries exactly one SENTINEL row per group
(item NULL, cnt 0, n = window total); merges rebuild it from the
per-window totals so the invariant holds at every grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CAPACITY = 16


def _compress(
    counts: DataFrame,
    group_cols: list[str],
    capacity: int,
    sentinel: bool = True,
) -> DataFrame:
    """Misra–Gries compression of exact (group…, item, cnt) rows: keep
    at most `capacity` counters per group, each reduced by the
    (capacity+1)-th largest count in that group. `n` (total mass incl.
    dropped items, constant within a group) rides along so rollups can
    state error bounds without a side table.

    With `sentinel` (the default) one extra (item NULL, cnt 0, n) row is
    emitted per group so `n` survives even when compression wipes every
    counter (all-tie windows) — the total-mass invariant. Merges that
    rebuild sentinels from a totals table pass sentinel=False."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    order = [F.col("cnt").desc(), F.col("item").asc()]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    wg = Window.partitionBy(*group_cols)
    ranked = counts.withColumn("_rn", F.row_number().over(w)).withColumn(
        "n", F.sum("cnt").over(wg)
    )
    cutoff = F.max(
        F.when(F.col("_rn") == capacity + 1, F.col("cnt")).otherwise(F.lit(0))
    ).over(wg)
    survivors = (
        ranked.withColumn("_cut", cutoff)
        .filter((F.col("_rn") <= capacity) & (F.col("cnt") > F.col("_cut")))
        .select(
            *group_cols,
            "item",
            (F.col("cnt") - F.col("_cut")).alias("cnt"),
            "n",
        )
    )
    if not sentinel:
        return survivors
    item_type = counts.schema["item"].dataType
    sentinels = ranked.filter(F.col("_rn") == 1).select(
        *group_cols,
        F.lit(None).cast(item_type).alias("item"),
        F.lit(0).cast("bigint").alias("cnt"),
        "n",
    )
    return survivors.unionByName(sentinels)


def frequent_items_partials(
    df: DataFrame,
    ts_col: str,
    item_col: str,
    key_cols: list[str] | None = None,
    capacity: int = DEFAULT_CAPACITY,
    grain: str = "hour",
    counts: DataFrame | None = None,
) -> DataFrame:
    """(key…, hour, item, cnt, n) — the stored rollup base: ≤ capacity
    counter rows plus one NULL-item sentinel per (key…, hour), cnt a
    lower bound within n/(capacity+1) of the true in-window frequency,
    n the window's total item count (carried by every row incl. the
    sentinel, so it survives all-tie compression wipes).

    `counts=` (the shared-table pattern of quality's `words=`) accepts a
    precomputed exact (key…, hour, item, cnt) frame — null items already
    dropped, `hour` at a grain no coarser than `grain` — so a caller
    building several sketches from the same counts (count_brackets: MG +
    CM + the probe list) pays the events scan and the count shuffle ONCE.
    `hour` is re-truncated to `grain` and the counts re-summed, as
    `count_min.cm_partials(counts=)` does, so an hour-grain count table
    feeds a day-grain summary directly."""
    keys = key_cols or []
    if counts is not None:
        # shuffled on the compression's window key, which the re-sum's
        # clustering also accepts: one exchange serves both
        counts = (
            counts.select(
                *keys, F.date_trunc(grain, F.col("hour")).alias("hour"), "item", "cnt"
            )
            .repartition(*keys, "hour")
            .groupBy(*keys, "hour", "item")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        counts = (
            df.filter(F.col(item_col).isNotNull())
            .select(
                *keys,
                F.date_trunc(grain, F.col(ts_col)).alias("hour"),
                F.col(item_col).alias("item"),
            )
            .groupBy(*keys, "hour", "item")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    return _compress(counts, keys + ["hour"], capacity)


def merge_frequent_items(
    partials: DataFrame,
    grain: str,
    hour_col: str = "hour",
    key_cols: list[str] | None = None,
    capacity: int = DEFAULT_CAPACITY,
) -> DataFrame:
    """Coarser-grain summaries from STORED summaries: sum matching
    counters, re-compress to `capacity` (the PODS'12 merge — error
    bounds add, so merged counts still undercount by at most
    n_grain/(capacity+1)); n rolls up as the sum of per-window totals.
    Scan cost is the partials store, never the events."""
    keys = key_cols or []
    bucket = F.date_trunc(grain, F.col(hour_col)).alias(grain)
    summed = (
        partials.filter(F.col("item").isNotNull())
        .groupBy(*keys, bucket, "item")
        .agg(F.sum("cnt").alias("cnt"))
    )
    totals = (
        partials.groupBy(*keys, hour_col)
        .agg(F.first("n").alias("_wn"))
        .groupBy(*keys, F.date_trunc(grain, F.col(hour_col)).alias(grain))
        .agg(F.sum("_wn").alias("n"))
    )
    # _compress re-derives `n` as the summed STORED mass — replace it
    # with the true rolled-up total so downstream bounds are honest.
    # Sentinels are rebuilt from `totals` (not _compress) so a window
    # whose every counter was wiped still lands its n at this grain.
    item_type = partials.schema["item"].dataType
    counters = (
        _compress(summed, keys + [grain], capacity, sentinel=False)
        .drop("n")
        .join(totals, keys + [grain])
    )
    sentinels = totals.select(
        *keys,
        grain,
        F.lit(None).cast(item_type).alias("item"),
        F.lit(0).cast("bigint").alias("cnt"),
        "n",
    )
    return counters.unionByName(sentinels)


def heavy_hitters(
    partials: DataFrame,
    group_cols: list[str],
    min_share: float = 0.05,
) -> DataFrame:
    """Items whose LOWER-bound stored count already exceeds
    min_share · n — certified heavy hitters (no false positives from
    the undercount direction); complete for every item with true share
    > min_share + 1/(capacity+1). NULL-item sentinels (mass carriers,
    not counters) are excluded."""
    return partials.filter(
        F.col("item").isNotNull()
        & (F.col("cnt").cast("double") > F.lit(min_share) * F.col("n"))
    ).select(
        *group_cols,
        "item",
        "cnt",
        "n",
        (F.col("cnt") / F.col("n")).alias("share_lb"),
    )
