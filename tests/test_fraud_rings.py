"""Shared-entity fraud-ring detection (clustering.entity_link_rings):
hand-built transaction graph with known rings, transitive linking across
DIFFERENT entity types, null handling, and a generator-fixture smoke.
Tests taking `cc_path` run on both sides of the driver-solve gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_fraud_detection_spark.operators import clustering as C
from realtime_fraud_detection_spark.operators.clustering import (
    entity_link_rings,
)
from tests.conftest import run_with_fixtures

TX = [
    # ring 1: alice—bob share device d1; bob—carol share ip 9.9.9.9
    # (transitive across entity TYPES — alice,bob,carol is one ring)
    ("alice", "d1", "1.1.1.1"),
    ("bob", "d1", "9.9.9.9"),
    ("carol", "d2", "9.9.9.9"),
    # ring 2: dave—erin share device d3
    ("dave", "d3", "2.2.2.2"),
    ("erin", "d3", "3.3.3.3"),
    # singleton: frank links nothing (null device, unique ip)
    ("frank", None, "4.4.4.4"),
]


def _rings(spark, rows):
    df = spark.createDataFrame(rows, "user string, device string, ip string")
    out = entity_link_rings(df, "user", ["device", "ip"]).collect()
    by_ring: dict[int, set[str]] = {}
    sizes = {}
    for r in out:
        by_ring.setdefault(r["ring_id"], set()).add(r["user"])
        sizes[r["user"]] = r["ring_actors"]
    return {frozenset(v) for v in by_ring.values()}, sizes


def test_known_rings_with_cross_entity_transitivity(spark, cc_path):
    rings, sizes = _rings(spark, TX)
    assert rings == {
        frozenset({"alice", "bob", "carol"}),
        frozenset({"dave", "erin"}),
        frozenset({"frank"}),
    }
    assert sizes == {
        "alice": 3, "bob": 3, "carol": 3, "dave": 2, "erin": 2, "frank": 1,
    }


def test_unlinked_and_null_actors(spark, cc_path):
    """An actor whose every entity is null is a ring of one; a null actor
    links nothing and gets no row."""
    rings, sizes = _rings(spark, TX + [("gina", None, None), (None, "d1", "1.1.1.1")])
    assert rings == {
        frozenset({"alice", "bob", "carol"}),
        frozenset({"dave", "erin"}),
        frozenset({"frank"}),
        frozenset({"gina"}),
    }
    assert sizes["gina"] == 1 and None not in sizes


def test_deterministic_ring_ids(spark, cc_path):
    df = spark.createDataFrame(TX, "user string, device string, ip string")
    a = sorted(map(tuple, entity_link_rings(df, "user", ["device", "ip"]).collect()))
    b = sorted(map(tuple, entity_link_rings(df, "user", ["device", "ip"]).collect()))
    assert a == b


def test_generator_fixture_smoke(spark, fraud_data, cc_path):
    """Every user gets exactly one ring row; shared random device_ids make
    rings real but the invariants (partition of users, size consistency)
    hold regardless of the draw."""
    _, _, tx = fraud_data
    rings = entity_link_rings(tx, "user_id", ["device_id"]).cache()
    n_users = tx.select("user_id").distinct().count()
    assert rings.count() == n_users
    assert rings.select("user_id").distinct().count() == n_users
    bad = (
        rings.groupBy("ring_id")
        .agg(
            F.count("*").alias("n"),
            F.max("ring_actors").alias("mx"),
            F.min("ring_actors").alias("mn"),
        )
        .filter((F.col("n") != F.col("mx")) | (F.col("mx") != F.col("mn")))
        .count()
    )
    assert bad == 0  # ring_actors is exactly the ring's member count


def test_variants_agree_on_bipartite_graph(spark):
    """Both CC variants must produce identical components for the
    entity-link graph — the vertices semantics (ADD isolated, keep edge
    endpoints) is now shared (the propagation variant's old
    vertices-REPLACE behavior silently stopped bipartite propagation)."""
    from realtime_fraud_detection_spark.functions.hashing import md5_bigint
    from realtime_fraud_detection_spark.operators.clustering import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(TX, "user string, device string, ip string")
    actor = md5_bigint(F.col("user").cast("string"), salt="actor:")
    edges = df.filter(F.col("device").isNotNull()).select(
        actor.alias("src"),
        md5_bigint(F.col("device").cast("string"), salt="ent:device:").alias("dst"),
    ).unionByName(
        df.select(
            actor.alias("src"),
            md5_bigint(F.col("ip").cast("string"), salt="ent:ip:").alias("dst"),
        )
    ).distinct()
    verts = df.select(actor.alias("doc")).distinct()
    a = {(r["doc"], r["cluster"]) for r in connected_components(edges, "src", "dst", vertices=verts).collect()}
    b = {(r["doc"], r["cluster"]) for r in connected_components_star(edges, "src", "dst", vertices=verts).collect()}
    assert a == b


def test_paths_agree_on_generator_fixture(spark, fraud_data, monkeypatch):
    _, _, tx = fraud_data
    runs = []
    for gate in (1_000_000, 0):
        monkeypatch.setattr(C, "_LOCAL_CC_EDGES", gate)
        out = entity_link_rings(tx, "user_id", ["device_id", "ip_address"])
        runs.append((out.schema, sorted(map(tuple, out.collect()))))
    assert runs[0] == runs[1]


def test_ring_linking_job_budget(spark, fraud_data):
    """Under the default gate, building and running entity_link_rings on
    the generator fixture schedules at most 15 Spark jobs (the
    distributed path needs ~100: several jobs per min-label round)."""
    _, _, tx = fraud_data
    tx.count()  # the fixture's cache fills outside the counted group
    sc = spark.sparkContext
    sc.setJobGroup("ring-job-budget", "entity_link_rings job budget")
    try:
        entity_link_rings(tx, "user_id", ["device_id", "ip_address"]).write.format(
            "noop"
        ).mode("overwrite").save()
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("ring-job-budget")) <= 15


@pytest.mark.parametrize("cc_path", ["distributed"], indirect=True)
@pytest.mark.parametrize(
    "case",
    [
        test_known_rings_with_cross_entity_transitivity,
        test_unlinked_and_null_actors,
        test_deterministic_ring_ids,
        test_generator_fixture_smoke,
    ],
    ids=lambda f: f.__name__,
)
def test_cases_on_distributed_path(request, cc_path, case):
    """The `cc_path` tests above (pinned to the driver solve) again on
    the distributed side of the gate."""
    run_with_fixtures(request, case)
