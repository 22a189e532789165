"""Input-size-derived shuffle sizing for the iterative graph operators.

The session's `spark.sql.shuffle.partitions` is a workload-wide default;
an iterative operator whose per-round reduce state is proportional to the
EDGE count needs its reduce side split finer than that default once the
graph outgrows it — at 100x fixture scale (53M edges) the per-round hash
aggregates OOM a default-sized local heap because every reduce task
builds a multi-million-entry UnsafeFixedWidthAggregationMap
concurrently (SCALE.md "the first knob that binds"). The fix a cluster
operator applies by hand (raise shuffle partitions for the job) is what
`scaled_shuffle` applies automatically, scoped to the operator's loop:

* partitions only ever INCREASE above the session default — small inputs
  keep the caller's setting, and AQE (on by default) coalesces the extra
  partitions back together whenever a round's shuffle is small, so the
  raised base costs nothing as iterative edge tables shrink round over
  round;
* the conf is restored in a `finally`, so the caller's session is never
  left altered (the driver shares one session across queries).

Materialization discipline: every operator using this helper must
materialize (checkpoint + full-scan count) its heavy frames INSIDE the
`with` block — a lazily returned plan would execute under the caller's
restored conf and see none of the scaling.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

_KEY = "spark.sql.shuffle.partitions"


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next().getKey()))
    return ids


def _unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        e = it.next()
        if int(e.getKey()) in ids:
            e.getValue().unpersist(False)


class RollingCheckpoint:
    """Checkpoint lifecycle for ONE chain of an iterative loop.

    localCheckpoint blocks are never freed by Spark while the session
    lives, so a loop that checkpoints a barely-shrinking table every
    round accumulates round_count × table_size in the block manager —
    k_core on a 53M-edge near-dup graph OOM'd the default heap exactly
    this way (peeling removes few edges, so every round's checkpoint is
    near full size). This helper frees round k−1's blocks as soon as
    round k is MATERIALIZED (round k is computed FROM k−1's blocks, so
    the order matters): live storage stays ≤ 2 generations.

    `roll(df)` registers the new round (lazy checkpoint by default);
    after the caller materializes it (the loop's convergence count),
    `free_prev()` drops every older generation of this chain.

    Ids are captured by diffing the context's persistent-RDD set around
    the localCheckpoint call — correct only while no OTHER thread
    persists concurrently. Every user is a single-threaded driver loop
    (the engine's iterative ops); do not use across concurrent jobs.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._gens: list[set[int]] = []

    def roll(self, df, eager: bool = False, storage_level=None):
        before = _persistent_rdd_ids(self._spark)
        if storage_level is None:
            out = df.localCheckpoint(eager=eager)
        else:
            out = df.localCheckpoint(eager=eager, storageLevel=storage_level)
        self._gens.append(_persistent_rdd_ids(self._spark) - before)
        return out

    def free_prev(self) -> None:
        """Free every generation but the newest (call once the newest is
        materialized)."""
        while len(self._gens) > 1:
            _unpersist_rdd_ids(self._spark, self._gens.pop(0))

    def free_all(self) -> None:
        """Free every generation (call once nothing reads the chain)."""
        while self._gens:
            _unpersist_rdd_ids(self._spark, self._gens.pop(0))


# above ~20M rows an edge-table checkpoint competes with the execution
# pool for heap (observed: the 100x probes' flaky graph-stage OOMs) —
# park it on disk; below, memory-resident blocks keep rounds fast
EDGE_DISK_THRESHOLD = 20_000_000

# below this, a plain distinct's map-side partial aggregate is safe and
# cheaper (it dedups BEFORE the wire); above it, fat upstream partitions
# make the partial map an OOM risk and the dedup moves behind an
# explicit-width key repartition (see dedup_edges)
SAFE_DEDUP_THRESHOLD = 5_000_000


def dedup_edges(df, keys: list[str], parts: int, n_rows: int):
    """Duplicate-eliminate an edge frame with a size-appropriate plan:
    small inputs keep the map-side-combined distinct (one exchange,
    reduced wire volume); large inputs repartition on the dedup keys
    with an EXPLICIT width first — a bare distinct's partial hash map is
    sized by the INPUT partitioning (an upstream join's AQE-coalesced
    fat partitions OOM'd the 100x probes), and a count-less
    repartition(cols) is itself AQE-coalesced right back."""
    if n_rows <= SAFE_DEDUP_THRESHOLD:
        return df.distinct()
    return df.repartition(parts, *keys).dropDuplicates()


def edge_storage_level(n_rows: int):
    """DISK_ONLY for edge tables too big to share the heap with the
    per-round execution working set, else None (Spark's default)."""
    from pyspark import StorageLevel

    return StorageLevel.DISK_ONLY if n_rows > EDGE_DISK_THRESHOLD else None

# ~1M shuffle rows per reduce task keeps per-task aggregation state in
# the tens of MB for two-long rows — 32 concurrent tasks stay well under
# a default-sized heap, and at cluster scale the count grows linearly
# with the data instead of being pinned at the session default.
DEFAULT_ROWS_PER_PARTITION = 1_000_000


@contextmanager
def scaled_shuffle(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = DEFAULT_ROWS_PER_PARTITION,
) -> Iterator[int]:
    """Raise `spark.sql.shuffle.partitions` to ceil(n_rows / rows_per_
    partition) for the duration of the block if that exceeds the current
    setting; restore the caller's value afterwards. Yields the effective
    partition count."""
    try:
        cur = int(spark.conf.get(_KEY))
    except (TypeError, ValueError):  # unset / "auto" — Spark's default
        cur = 200
    target = max(1, math.ceil(max(n_rows, 1) / rows_per_partition))
    if target <= cur:
        yield cur
        return
    spark.conf.set(_KEY, str(target))
    try:
        yield target
    finally:
        spark.conf.set(_KEY, str(cur))


def skew_report(
    df,
    key_cols: list[str],
    top_k: int = 20,
    min_share: float = 0.01,
):
    """(summary, heavy_keys) — the pre-flight diagnostic for a planned
    groupBy/join key at scale: every shuffle keyed on a skewed column
    serializes its hottest key into one reduce task, and the time to find
    that out should be one aggregate, not a production incident.

    summary (one row): row/key counts, the max single-key share (the
    straggler bound: a key with share s keeps one task busy ~s·N rows
    regardless of parallelism), and approximate p50/p90/p99/max of
    per-key mass. heavy_keys: up to `top_k` keys above `min_share`,
    descending, ties broken by key — feed them to a salting or
    AQE-skew-join decision, or to `graph.shared_key_edges`' bucket cap.

    Shape: ONE map-side-combined count shuffle keyed on the candidate
    key (the exact shuffle being evaluated, so the probe costs what one
    round of the real job would); everything after runs on the
    key-cardinality-sized count table — percentiles are approximate
    (percentile_approx) so no single reducer ever holds the key table.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("key_rows"))
    counts = counts.localCheckpoint(eager=False)  # two consumers below
    summary = counts.agg(
        F.sum("key_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("key_rows").alias("max_key_rows"),
        F.percentile_approx("key_rows", [0.5, 0.9, 0.99]).alias("key_rows_pcts"),
    ).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.round(F.col("max_key_rows") / F.col("n_rows"), 6).alias("max_share"),
        F.col("key_rows_pcts")[0].alias("p50_key_rows"),
        F.col("key_rows_pcts")[1].alias("p90_key_rows"),
        F.col("key_rows_pcts")[2].alias("p99_key_rows"),
    )
    total = counts.agg(F.sum("key_rows").alias("_n"))
    ranked = (
        counts.join(F.broadcast(total))
        .withColumn("share", F.round(F.col("key_rows") / F.col("_n"), 6))
        .filter(F.col("share") >= min_share)
        # global window AFTER the share filter: its input is bounded at
        # 1/min_share keys (<=100 at the default) whatever the cardinality
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("key_rows").desc(), *[F.col(c).asc() for c in key_cols]
                )
            ),
        )
        .filter(F.col("rank") <= top_k)
        .select(*key_cols, "key_rows", "share", "rank")
    )
    return summary, ranked
