"""Near-duplicate clustering: connected components over candidate-pair
edges, and survivor selection — the step after pair generation
(minhash_lsh_candidates / simhash_near_dup_pairs / winnow_candidate_pairs)
in a production dedup pipeline: pairs → components → keep one doc per
component.

Reference behavior: the reference system deduplicates per-transaction via
exact keys only (Redis SETNX on the transaction id); document-level
near-dup clustering has no reference counterpart and follows the standard
training-data-pipeline design instead (pairs from LSH, components, keep
min-id survivor).

Algorithm: iterative min-label propagation with pointer jumping — every
vertex adopts the minimum label among itself and its neighbors, then
labels compress one level (label(v) ← label(label(v)), the classic
path-halving step from pointer-jumping PRAM connectivity, same family as
the large-star/small-star rounds of Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14). Deterministic (labels are
the numeric doc ids; min is order-insensitive). Per round: one shuffle
join of the edge table + min-aggregate, plus two small joins on the
label table (vertex-sized, AQE broadcasts it when small). Propagation
alone needs diameter-many rounds; compression makes label depth halve
each round, so rounds ≈ log2(diameter) — measured on the sf0.1 simhash
pair graph: 8 rounds → 4, and each saved round is a full edge-table
shuffle at scale.

Size gate: the distributed loop's cost on a small graph is not executor
work. Each round is several AQE stage jobs plus a convergence action,
and every job pays the scheduler's fixed cost (the job floor, 156-334 ms
on a 4-core VM) whatever its size, so the bill is job floor × jobs per
round × rounds: entity_link_rings over a 14.7k-row table ran ~115 jobs
and ~11 s, nearly all of it scheduling. Under `_LOCAL_CC_EDGES`
symmetric edges the edge table is collected once through Arrow and
labelled on the driver with numpy (:func:`_min_label_index`) — no
per-round jobs, no per-round checkpoints — the same trade
`similarity._LOCAL_FIT_CELLS` makes for k-means. Both sides of the gate
return identical rows and schema: min-id labels, isolated `vertices`
added, null endpoints dropped (pinned by tests/test_clustering.py and
tests/test_fraud_rings.py on each side).

Above the gate the driver-side convergence loop is the standard shape
for iterative graph algorithms on Spark (MLlib does the same): per round
the driver sees ONE scalar (the changed-vertex count) — no data is
collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructType

from ..functions.hashing import md5_bigint
from .scaling import (
    RollingCheckpoint,
    dedup_edges,
    edge_storage_level,
    scaled_shuffle,
)

# Driver-side solve gate: graphs with FEWER symmetric edges (each input
# edge counts twice) than this are labelled on the driver. Read at call
# time, so 0 forces the distributed path. Measured on a 4-core VM (job
# floor ~250 ms), random graphs of avg degree 4, build + first action:
#   symmetric edges   100k    1M     5M     10M
#   driver solve      0.8s   1.9s   8.1s   18.1s   (4 jobs)
#   distributed       7.0s  19.8s  84.0s   75.1s   (76-125 jobs)
# No crossover up to 10M: the distributed side is ~rounds x jobs x floor
# there, and the driver side grows linearly (~1.7 s per 1M), so the lines
# meet well above 10M. The gate sits at 5M for driver memory instead:
# the solve holds the whole edge table in Python, ~390 MB peak at 5M.
_LOCAL_CC_EDGES = 5_000_000


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    vertices: DataFrame | None = None,
    vertex_col: str | None = None,
    max_rounds: int = 50,
    contract_threshold: int = 5_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list.

    Returns (doc, cluster) where `cluster` is the MINIMUM vertex id in the
    component — deterministic, and directly usable as the survivor id.
    `vertices` (optional) adds isolated vertices, which come back as
    singleton components labelled with their own id. Null endpoints and
    null vertex ids link nothing and are not returned; the other endpoint
    of a half-null edge is.

    The symmetrized edge table is checkpointed and counted once. Integral
    ids under the `_LOCAL_CC_EDGES` gate are labelled on the driver
    (:func:`_cc_local`); above it, each round joins the edges to the
    current labels on the source (one shuffle on the edge key), neighbor
    labels min-aggregate per destination (map-side combine), and the
    label table updates via a left join. Label tables are
    localCheckpoint'd per round — iterative lineage otherwise grows
    exponentially and replans every round. Both paths return the same
    rows with the same schema; every checkpoint but the returned label
    generation is freed before returning.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    spark = sym.sparkSession
    sym_chain = RollingCheckpoint(spark)
    # the edge count rides the eager checkpoint's own action as an
    # observed metric: a separate count() is two more jobs
    seen = Observation()
    sym = sym_chain.roll(
        sym.observe(seen, F.count(F.lit(1)).alias("n")), eager=True
    )
    n_edges = seen.get["n"]

    docs = sym.select(F.col("src").alias("doc"))
    if vertices is not None:
        # UNION, not replace: the label table must keep every edge
        # endpoint or propagation through vertices absent from `vertices`
        # silently stops (bipartite entity-link graphs hit this — the
        # dedup callers always passed a superset, which masked it)
        vertices = vertices.select(F.col(vertex_col or vertices.columns[0]).alias("doc"))
        docs = docs.union(vertices)
    labels = docs.distinct().select("doc", F.col("doc").alias("cluster"))

    try:
        if n_edges < _LOCAL_CC_EDGES and isinstance(
            labels.schema["doc"].dataType, IntegralType
        ):
            return _cc_local(sym, labels.schema, vertices)
        # size the per-round shuffles from the edge count, not the session
        # default (operators/scaling.py) — every round's join + min-aggregate
        # carries edge-proportional state, and every round materializes inside
        # this block, so the scaled conf covers all the heavy stages
        with scaled_shuffle(spark, n_edges) as parts:
            label_chain = RollingCheckpoint(spark)
            labels = label_chain.roll(labels, eager=True)
            return _cc_propagate(
                sym, labels, n_edges, max_rounds, contract_threshold, parts,
                label_chain, sym_chain,
            )
    finally:
        # the returned labels never read the edge table again
        sym_chain.free_all()


def _cc_local(
    sym: DataFrame, schema: StructType, vertices: DataFrame | None
) -> DataFrame:
    """Driver-side components of a symmetrized edge table under the
    `_LOCAL_CC_EDGES` gate: one Arrow collect, numpy min-label hooking,
    the labels handed back through `createDataFrame`. `vertices` (a
    one-column `doc` frame) stays on the executors, so the driver never
    holds more than the gated edge table: its ids that no edge touches
    join on as self-labelled singletons, and the result is checkpointed
    like the distributed path's — callers join it back to the frame the
    vertices came from, and a lazy result would re-run that frame's
    lineage inside their plan (semantic_dedup's Arrow cell kernel)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = sym.toArrow()
    src, dst = tbl.column("src"), tbl.column("dst")
    # sym lists every edge both ways, so `src` alone carries every
    # endpoint, including the non-null end of a half-null edge. Sorted
    # ids make the smallest index of a component its smallest id; the
    # hash lookups (index_in) are ~4x faster than np.searchsorted at 5M.
    ids = np.sort(pc.unique(pc.drop_null(src)).to_numpy())
    both = pc.and_(pc.is_valid(src), pc.is_valid(dst))
    ends = pa.array(ids)
    lab = _min_label_index(
        *(pc.index_in(pc.filter(c, both), value_set=ends).to_numpy() for c in (src, dst)),
        len(ids),
    )
    out = sym.sparkSession.createDataFrame(
        pa.table({"doc": ids, "cluster": ids[lab]}), schema
    )
    if vertices is None:
        return out
    isolated = (
        vertices.filter(F.col("doc").isNotNull())
        .select(F.col("doc").cast(schema["doc"].dataType))
        .distinct()
        .join(out.select("doc"), "doc", "left_anti")
    )
    return out.union(
        isolated.select("doc", F.col("doc").alias("cluster"))
    ).localCheckpoint()


def _min_label_index(a, b, n: int):
    """Component labels of vertices 0..n-1 under edges (a[i], b[i]): the
    smallest vertex index of each component. Min-label hooking with full
    shortcutting, vectorised: every tree is a star whose root is its
    minimum, each cross-tree edge hooks the larger root under the
    smaller, then pointer jumping flattens the trees back into stars.
    The number of trees falls every pass; edges that end up inside one
    tree are dropped, so later passes scan only the edges still linking
    two trees."""
    import numpy as np

    lab = np.arange(n)
    while True:
        la, lb = lab[a], lab[b]
        cross = la != lb
        if not cross.any():
            return lab
        a, b, la, lb = a[cross], b[cross], la[cross], lb[cross]
        # roots only: lab[root] == root, and lo < hi keeps lab[v] <= v,
        # so the hooks never form a cycle
        np.minimum.at(lab, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up


def _cc_propagate(
    sym: DataFrame,
    labels: DataFrame,
    n_edges: int,
    max_rounds: int,
    contract_threshold: int,
    parts: int,
    label_chain: RollingCheckpoint,
    sym_chain: RollingCheckpoint,
) -> DataFrame:
    # per-round chains with prompt block release (scaling.RollingCheckpoint),
    # each holding its input table as generation 0 — labels are
    # vertex-sized but the contracted edge tables are not, and un-freed
    # generations accumulate rounds × table in the heap
    for _ in range(max_rounds):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("doc", "src"), "src")
            .groupBy(F.col("dst").alias("doc"))
            .agg(F.min("cluster").alias("nmin"))
        )
        cand = labels.join(neighbor_min, "doc", "left").select(
            "doc",
            F.col("cluster").alias("_old"),
            F.least(F.col("cluster"), F.coalesce("nmin", F.col("cluster"))).alias(
                "cluster"
            ),
        )
        # pointer jump: cluster ← label(cluster). Every label value is a
        # vertex id (min over vertex ids), so the inner join keeps all rows;
        # label(x) <= x makes the label monotone, so _chg detects both the
        # propagation and the compression step.
        jump = cand.select(
            F.col("doc").alias("cluster"), F.col("cluster").alias("_c2")
        )
        # LAZY checkpoint + a full-scan aggregate for the convergence bit:
        # one job per round materializes every checkpoint block AND returns
        # the changed flag (an eager checkpoint + a separate count is two
        # jobs per round — measured ~20% of dedup_clusters at sf0.1). The
        # aggregate must touch all partitions (no limit short-circuit) or
        # unmaterialized blocks would recompute in the next round.
        updated = label_chain.roll(
            cand.join(jump, "cluster").select(
                "doc",
                F.col("_c2").alias("cluster"),
                (F.col("_c2") < F.col("_old")).alias("_chg"),
            )
        )
        changed = (
            updated.agg(F.sum(F.col("_chg").cast("int")).alias("n")).first()["n"]
            or 0  # sum over an empty label table is NULL
        )
        label_chain.free_prev()  # previous round's label blocks
        labels = updated.drop("_chg")
        if changed == 0:
            return labels
        # edge contraction: rewrite endpoints through the new labels and
        # dedupe — intra-cluster edges become self-loops and drop, so the
        # edge table (the per-round shuffle cost) shrinks geometrically;
        # the pointer jump above pulls super-vertex label changes back
        # down to every original vertex. sf0.1 simhash graph: 743k -> 31k
        # -> 276 -> 0 symmetric edges over the rounds. GATED on edge count:
        # below the threshold the 3 extra stages per round cost more than
        # the small shuffle they save (measured +30% at sf0.1); above it
        # the per-round shuffle dominates and shrinking it wins.
        if n_edges > contract_threshold:
            sym = sym_chain.roll(
                sym.join(
                    labels.select(
                        F.col("doc").alias("src"), F.col("cluster").alias("_ns")
                    ),
                    "src",
                )
                .join(
                    labels.select(
                        F.col("doc").alias("dst"), F.col("cluster").alias("_nd")
                    ),
                    "dst",
                )
                .select(F.col("_ns").alias("src"), F.col("_nd").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
                # explicit-count key repartition before the dedup: the
                # join output's partitions are fat, and a bare distinct's
                # partial aggregate over them OOMs; a count-less
                # repartition is AQE-coalesced back (graph.triangle_count)
                .repartition(parts, "src", "dst")
                .dropDuplicates(),
                storage_level=edge_storage_level(n_edges),
            )
            n_edges = sym.count()  # materializes the new edge generation
            sym_chain.free_prev()  # previous contracted table's blocks
    label_chain.free_all()  # nothing is returned; the caller frees the edges
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds — "
        "component diameter exceeds the bound; raise max_rounds or switch "
        "to connected_components_star (O(log n) rounds on any graph)"
    )


def dedup_survivors(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one row per near-dup component: the row whose id IS the
    component label (the minimum id — same survivor rule as
    :func:`dedup.exact_dedup`). Rows absent from `clusters` are singletons
    and survive. One broadcast-able join — `clusters` carries two longs
    per doc regardless of row width."""
    keep = clusters.filter(F.col("doc") == F.col("cluster")).select(
        F.col("doc").alias(id_col)
    )
    missing = df.select(id_col).join(
        clusters.select(F.col("doc").alias(id_col)), id_col, "left_anti"
    )
    return df.join(keep.union(missing), id_col, "left_semi")


def connected_components_star(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    vertices: DataFrame | None = None,
    vertex_col: str | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds with high probability on ANY graph,
    including long-chain diameters where plain min-label propagation needs
    diameter-many rounds (pointer jumping in :func:`connected_components`
    gets to ~log2(diameter); this variant's bound is on n and also shrinks
    the edge set every round).

    large-star: every node points its LARGER neighbors at the minimum of
    its neighborhood (plus itself); small-star: every node points its
    smaller-or-equal neighbors at that minimum. Both emit (min, other)
    parent edges, so the edge table converges to a star per component
    whose center is the component minimum — the same deterministic
    min-id label as the propagation variant.

    Each round is one groupBy over the symmetrized edge table (map-side
    combined min per node) joined back — no vertex-label side table, so
    the per-round state is the (shrinking) edge table itself.
    Returns (doc, cluster) like :func:`connected_components`.
    """
    # scale target from the raw input count (count-only, memory-trivial):
    # the canonicalizing distinct below is a heap-heavy partial aggregate
    # and must run INSIDE the scaled scope
    m_est = edges.count()
    with scaled_shuffle(edges.sparkSession, m_est) as parts:
        # explicit-count key repartition before the dedup — a bare
        # distinct's partial aggregate over fat upstream partitions OOMs,
        # and a count-less repartition is AQE-coalesced right back (see
        # graph.triangle_count)
        sym = dedup_edges(
            edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
            ),
            ["hi", "lo"],
            parts,
            m_est,
        )
        lvl = edge_storage_level(m_est)
        sym = (
            sym.localCheckpoint()
            if lvl is None
            else sym.localCheckpoint(storageLevel=lvl)
        )
        return _cc_star_rounds(sym, vertices, vertex_col, max_rounds, parts, lvl)


def _cc_star_rounds(
    sym: DataFrame,
    vertices: DataFrame | None,
    vertex_col: str | None,
    max_rounds: int,
    parts: int,
    lvl=None,
) -> DataFrame:
    def _star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhoods as (node, nbr) with node the star center side:
        # large-star groups by EVERY node (both directions) and links
        # strictly-larger neighbors to the neighborhood min; small-star
        # groups by the larger endpoint only and links the <= neighbors.
        if large:
            nbrs = e.select(F.col("hi").alias("n"), F.col("lo").alias("m")).union(
                e.select(F.col("lo").alias("n"), F.col("hi").alias("m"))
            )
        else:
            nbrs = e.select(F.col("hi").alias("n"), F.col("lo").alias("m"))
        mins = nbrs.groupBy("n").agg(F.min("m").alias("mn"))
        mins = mins.select("n", F.least("n", "mn").alias("mn"))
        linked = nbrs.join(mins, "n")
        if large:
            out = linked.filter(F.col("m") > F.col("n")).select(
                F.col("m").alias("hi"), F.col("mn").alias("lo")
            )
            self_edge = mins.select(F.col("n").alias("hi"), F.col("mn").alias("lo"))
            out = out.union(self_edge)
        else:
            out = linked.select(F.col("m").alias("hi"), F.col("mn").alias("lo")).union(
                mins.select(F.col("n").alias("hi"), F.col("mn").alias("lo"))
            )
        return (
            out.filter(F.col("hi") != F.col("lo"))
            .select(F.greatest("hi", "lo").alias("hi"), F.least("hi", "lo").alias("lo"))
            # explicit-count key repartition before the per-round dedup
            # (same partial-aggregate OOM class as the canonicalization)
            .repartition(parts, "hi", "lo")
            .dropDuplicates()
        )

    # runs inside the caller's scaled-shuffle scope; each round
    # materializes via the convergence count, so the scaled conf covers
    # every heavy stage, and AQE coalesces as rounds shrink. The rolling
    # chain frees each round's blocks once the next is materialized.
    chain = RollingCheckpoint(sym.sparkSession)
    for _ in range(max_rounds):
        # lazy checkpoints, materialized transitively by the (full, no
        # limit short-circuit) convergence count below — one job per round
        # instead of three (same treatment as the propagation variant)
        sym = chain.roll(_star(sym, large=True), storage_level=lvl)
        sym = chain.roll(_star(sym, large=False), storage_level=lvl)
        # converged when every edge already points at its component min:
        # one more large-star pass changes nothing — detectable as "no hi
        # appears as a lo" (pure star forest)
        non_star = (
            sym.select(F.col("lo").alias("x"))
            .join(sym.select(F.col("hi").alias("x")), "x", "left_semi")
            .count()
        )
        chain.free_prev()  # both halves materialized by the count above
        if non_star == 0:
            labels = sym.select(F.col("hi").alias("doc"), F.col("lo").alias("cluster"))
            # centers label themselves
            centers = labels.select(F.col("cluster").alias("doc")).distinct().join(
                labels.select(F.col("doc")), "doc", "left_anti"
            ).select("doc", F.col("doc").alias("cluster"))
            out = labels.union(centers)
            if vertices is not None:
                # same semantics as connected_components: `vertices` ADDS
                # isolated vertices (self-labelled); edge endpoints always
                # stay in the output
                vcol = vertex_col or vertices.columns[0]
                isolated = (
                    vertices.select(F.col(vcol).alias("doc"))
                    .distinct()
                    .join(out.select("doc"), "doc", "left_anti")
                    .select("doc", F.col("doc").alias("cluster"))
                )
                out = out.union(isolated)
            return out.localCheckpoint()
    raise RuntimeError(
        f"connected_components_star did not converge in {max_rounds} rounds"
    )


def entity_link_rings(
    df: DataFrame,
    actor_col: str,
    entity_cols: list[str],
    max_rounds: int = 50,
) -> DataFrame:
    """Fraud-ring detection by shared-entity linking: actors (users,
    accounts) that transact through the same devices / IPs / cards form
    one ring. The reference gestures at this with its "graph neural
    network" features (graph_neural_network.py builds the same
    user—device—merchant adjacency before reducing to counts); here it is
    the real thing — connected components over the bipartite
    actor↔entity graph, the standard entity-resolution construction.

    Vertex ids: actors and each entity column hash into disjoint int64
    spaces via distinctly-salted md5 (collision odds ~n²/2⁶⁰ — nil at any
    real actor count), so the bipartite graph reuses the corpus CC
    machinery: a driver-side solve under its size gate (a few jobs in
    all), one shuffle per log-bounded round above it — the same rings on
    both sides. Null entity values link nothing; an actor with no
    non-null entity is a ring of one, and null actors are dropped.

    Returns (actor, ring_id, ring_actors): ring_id is the component's
    minimum vertex id (deterministic), ring_actors the DISTINCT actor
    count of the ring — the "how coordinated is this" fraud signal.
    """
    actor = md5_bigint(F.col(actor_col).cast("string"), salt="actor:")
    edge_frames = [
        df.filter(F.col(c).isNotNull()).select(
            actor.alias("src"),
            md5_bigint(F.col(c).cast("string"), salt=f"ent:{c}:").alias("dst"),
        )
        for c in entity_cols
    ]
    edges = edge_frames[0]
    for f in edge_frames[1:]:
        edges = edges.unionByName(f)
    # one dedup over the union: the per-column salts keep the entity id
    # spaces disjoint, so this is the union of per-column dedups
    edges = edges.distinct()
    actors = (
        df.select(F.col(actor_col).alias("actor"), actor.alias("doc"))
        .filter(F.col("doc").isNotNull())
        .distinct()
    )
    cc = connected_components(edges, "src", "dst", max_rounds=max_rounds)
    # an actor no entity links (every entity null) is absent from `cc`:
    # a singleton ring labelled with its own id. doc is a function of the
    # actor, so the distinct (actor, doc) rows count the ring's actors.
    ring = F.coalesce(F.col("cluster"), F.col("doc"))
    return actors.join(cc, "doc", "left").select(
        F.col("actor").alias(actor_col),
        ring.alias("ring_id"),
        F.count(F.lit(1)).over(Window.partitionBy(ring)).alias("ring_actors"),
    )
