"""Mergeable point-frequency sketches — Count-Min partials, the fourth
member of the stored-rollup sketch family (HLL distinct counts in
operators/sketches.py, DDSketch quantiles in operators/quantile_sketch.py,
Misra–Gries heavy hitters in operators/heavy_hitters.py).

Misra–Gries answers "what is frequent?" with LOWER-bounded counts for the
items it kept; it cannot answer "how often did THIS item occur?" for an
item it dropped. Count-Min (Cormode & Muthukrishnan, J. Algorithms '05) is
the dual: a fixed d×w counter grid that UPPER-bounds the count of ANY item
— estimate = min over d rows of the counter the item hashes to, error at
most the window's colliding mass (≤ 2·n/w with probability 1−(1/2)^d for
pairwise-independent hashes). Together the two sketches bracket every
count: MG_stored ≤ true ≤ CM_estimate.

Shapes at 100 TB: building partials is ONE shuffle keyed by
(key…, window, depth, col) with full map-side combine — each event
contributes d counter increments, and the map side collapses them to at
most groups × d × w partial rows regardless of event count (w·d = 4096
cells at the defaults, ~32 KB of longs per stored window). Rollups to
coarser grains scan only the stored partials and ADD counters cell-wise —
counts on the same (depth, col) grid are mergeable by construction, the
same law the DDSketch buckets rely on. Point queries probe |items| × d
cells — the probe side is item-list-sized and broadcasts.

Determinism: the d hash rows are independently salted md5 hashes
(functions/hashing.md5_bigint — identical in Spark and DuckDB, so the
parity test simulates the full sketch in SQL), counters are exact
integers, and min/sum are order-free — partials, merges, and estimates
are unique functions of the input multiset on any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_bigint, md5_bigint_sql

DEFAULT_WIDTH = 1024
DEFAULT_DEPTH = 4


def _cm_col(item: Column, depth: int, width: int) -> Column:
    """Counter column of `item` in hash row `depth` (md5, salt cm{depth}:).

    The 60-bit md5 value is non-negative, so `pmod` here and `% width` in
    the DuckDB twin (cm_col_sql) agree. Items hash by their string
    rendering (explicit cast — bigint→string agrees across engines).
    """
    return F.pmod(
        md5_bigint(item.cast("string"), salt=f"cm{depth}:"), F.lit(width)
    )


def _depth_coords(item: Column, depth: int, width: int):
    """(exploded depth column expr, col-for-that-depth expr) — the r14
    coordinate expansion. Exploding a COMPUTED array of (depth, md5)
    structs paid the Generate tax: the generator re-evaluates per OUTPUT
    element, so every input row computed depth × depth = 16 md5s for its
    4 coordinates. Exploding the CONSTANT depth list instead (a literal
    array — free to re-evaluate) and hashing ONCE per output row with the
    depth as a COLUMN salt (`concat('cm', depth, ':')` — byte-identical
    strings to the f"cm{d}:" literals, so identical hashes and identical
    grids) restores the minimum: depth md5s per input row."""
    salt = F.concat(F.lit("cm"), F.col("_cm_depth").cast("string"), F.lit(":"))
    col = F.pmod(md5_bigint(item.cast("string"), salt=salt), F.lit(width))
    return F.explode(F.array(*[F.lit(i) for i in range(depth)])), col


def cm_col_sql(expr: str, depth: int, width: int = DEFAULT_WIDTH) -> str:
    """DuckDB rendering of :func:`_cm_col` for parity tests."""
    cast = f"CAST({expr} AS VARCHAR)"
    return f"({md5_bigint_sql(cast, salt=f'cm{depth}:')} % {width})"


def cm_partials(
    df: DataFrame,
    item_col: str,
    ts_col: str | None = None,
    key_cols: list[str] | None = None,
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
    grain: str = "hour",
    counts: DataFrame | None = None,
) -> DataFrame:
    """(key…, hour, depth, col, cnt) — the stored rollup base. One shuffle,
    map-side combined; null items are dropped (a null observation is not a
    sample). `hour` keeps its name whatever `grain` says so the merge /
    estimate helpers compose without renames; with ts_col=None the sketch
    is unwindowed and `hour` is omitted.

    Each event expands to `depth` (depth, col) coordinates BEFORE the
    shuffle — the explode output is depth-bounded and collapses map-side,
    so the exchange carries counter partials, never event-granular rows.

    `counts=` (r14, the shared-table pattern) accepts a precomputed exact
    (key…, hour, item, cnt) frame at a grain no coarser than `grain` —
    null items already dropped. Cell counts are then WEIGHTED sums of the
    count rows over each hash bucket (Σ over users hashing to `col` of
    their exact counts — integer sums, bit-identical to counting the raw
    events), so several sketch builds can share one events scan + count
    shuffle. `hour` is re-truncated to `grain`, letting an hour-grain
    count table feed a day-grain grid directly (the mergeability law:
    merge(build(hour)) == build(day), pinned in tests/test_count_min.py).
    """
    keys = list(key_cols or [])
    if counts is not None:
        item = F.col("item")
        depths, col = _depth_coords(item, depth, width)
        win = [F.date_trunc(grain, F.col("hour")).alias("hour")] if ts_col is not None else []
        exploded = counts.select(
            *keys, *win, depths.alias("_cm_depth"), "item", "cnt"
        ).select(
            *keys,
            *(["hour"] if ts_col is not None else []),
            F.col("_cm_depth").alias("depth"),
            col.alias("col"),
            "cnt",
        )
        group = [*keys, *(["hour"] if ts_col is not None else []), "depth", "col"]
        return exploded.groupBy(*group).agg(F.sum("cnt").alias("cnt"))
    # the item rides as `_cm_item`: it may also be one of the key columns,
    # and a second copy under its own name would be ambiguous below
    depths, col = _depth_coords(F.col("_cm_item"), depth, width)
    cols = [*keys]
    if ts_col is not None:
        cols.append(F.date_trunc(grain, F.col(ts_col)).alias("hour"))
    exploded = (
        df.filter(F.col(item_col).isNotNull())
        .select(*cols, depths.alias("_cm_depth"), F.col(item_col).alias("_cm_item"))
        .select(*keys,
                *(["hour"] if ts_col is not None else []),
                F.col("_cm_depth").alias("depth"),
                col.alias("col"))
    )
    group = [*keys, *(["hour"] if ts_col is not None else []), "depth", "col"]
    return exploded.groupBy(*group).agg(F.count(F.lit(1)).alias("cnt"))


def merge_cm(
    partials: DataFrame,
    grain: str,
    hour_col: str = "hour",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Coarser-grain partials from stored partials: counters on the same
    (depth, col) grid ADD (the mergeability law; pinned bit-exact in
    tests/test_count_min.py). Scan cost is the partials table, never the
    events."""
    keys = list(key_cols or [])
    bucket = F.date_trunc(grain, F.col(hour_col)).alias(grain)
    return partials.groupBy(*keys, bucket, "depth", "col").agg(
        F.sum("cnt").alias("cnt")
    )


def cm_estimate(
    partials: DataFrame,
    items: DataFrame,
    item_col: str,
    window_cols: list[str] | None = None,
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
) -> DataFrame:
    """Upper-bound count of every item in `items` for every stored window:
    (window…, item, est) with est = min over the d hash rows, missing
    cells counting 0. The probe table is |items| × d rows and broadcasts;
    the partials side is scanned once.

    `width`/`depth` must match the values the partials were built with —
    the probe recomputes the same salted md5 coordinates.
    """
    wins = list(window_cols or [])
    item = F.col(item_col)
    depths, col = _depth_coords(F.col("_item"), depth, width)
    probes = items.select(
        item.alias("_item"),
        depths.alias("_cm_depth"),
    ).select(
        "_item", F.col("_cm_depth").alias("depth"), col.alias("col")
    )
    # every stored window must report every probed item (missing cell = 0),
    # so probe rows fan out over the window list first
    windows = partials.select(*wins).distinct() if wins else None
    if windows is not None:
        probes = windows.crossJoin(F.broadcast(probes))
    joined = probes.join(
        partials, [*wins, "depth", "col"], "left"
    ).withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    return (
        joined.groupBy(*wins, "_item")
        .agg(F.min("cnt").alias("est"))
        .withColumnRenamed("_item", item_col)
    )


def count_brackets(
    mg_summary: DataFrame,
    cm_store: DataFrame,
    window_cols: list[str],
    item_col: str = "item",
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
) -> DataFrame:
    """Two-sided count certification from the two stored sketch families:
    for every item a Misra–Gries summary kept, attach the Count-Min
    upper bound built over the same windows, yielding
    (window…, item, cnt_lb, cnt_ub, n) with cnt_lb ≤ true ≤ cnt_ub —
    MG undercounts by at most the compression mass it subtracted, CM
    overcounts by at most the window's colliding mass. The bracket WIDTH
    is itself a data-quality signal: it bounds the maximum estimation
    error either store can have made, without touching the events.

    Inputs are the two families' stored-partials tables at the SAME
    grain (operators/heavy_hitters.merge_frequent_items and
    :func:`merge_cm` outputs, window column names aligned by the
    caller). MG sentinel rows (item NULL) carry n and are excluded from
    bracketing. Shape: the probe side is the MG store — bounded at
    groups × capacity rows — so the CM probe join broadcasts it; the
    events are never rescanned.
    """
    kept = mg_summary.filter(F.col(item_col).isNotNull()).select(
        *window_cols,
        F.col(item_col),
        F.col("cnt").alias("cnt_lb"),
        "n",
    )
    ub = cm_estimate(
        cm_store,
        kept.select(item_col).distinct(),
        item_col,
        window_cols,
        width=width,
        depth=depth,
    ).withColumnRenamed("est", "cnt_ub")
    return kept.join(ub, [*window_cols, item_col]).select(
        *window_cols, item_col, "cnt_lb", "cnt_ub", "n"
    )
