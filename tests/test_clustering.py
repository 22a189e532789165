"""Connected-components dedup clustering (operators/clustering): min-label
propagation vs a Python union-find ground truth, plus survivor selection.
Tests taking `cc_path` run on both sides of the driver-solve gate."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from realtime_fraud_detection_spark.operators import clustering as C
from realtime_fraud_detection_spark.operators.scaling import _persistent_rdd_ids
from tests.conftest import run_with_fixtures


def _uf_components(n_vertices, edges):
    parent = list(range(n_vertices))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then label = min id in component
    comp = {}
    for v in range(n_vertices):
        comp.setdefault(find(v), []).append(v)
    return {v: min(members) for members in comp.values() for v in members}


def _run(spark, edges, vertices=None):
    edf = spark.createDataFrame(edges, "doc_a int, doc_b int")
    vdf = (
        spark.createDataFrame([(v,) for v in vertices], "doc_id int")
        if vertices is not None
        else None
    )
    return {
        r["doc"]: r["cluster"]
        for r in C.connected_components(edf, vertices=vdf).collect()
    }


def test_small_known_graph(spark, cc_path):
    got = _run(spark, [(1, 2), (2, 3), (5, 6)], vertices=range(1, 8))
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_chain_worst_case_diameter(spark, cc_path):
    """A 16-vertex chain needs diameter-many propagation rounds — the
    convergence loop, not a fixed round count, must carry the label to the
    far end."""
    got = _run(spark, [(i, i + 1) for i in range(15)])
    assert set(got.values()) == {0}


def test_random_graph_matches_union_find(spark, cc_path):
    rng = random.Random(42)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    got = _run(spark, edges, vertices=range(n))
    assert got == _uf_components(n, edges)


def test_survivors_keep_min_per_cluster_and_singletons(spark, cc_path):
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id int, text string"
    )
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "doc_a int, doc_b int")
    clusters = C.connected_components(edges)
    kept = sorted(
        r["doc_id"] for r in C.dedup_survivors(df, clusters, "doc_id").collect()
    )
    # 1 survives {1,2,3}; 5 survives {5,6}; 0, 4, 7 are singletons
    assert kept == [0, 1, 4, 5, 7]


def test_deterministic_across_runs(spark, cc_path):
    rng = random.Random(7)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(25)]
    edges = [(a, b) for a, b in edges if a != b]
    assert _run(spark, edges) == _run(spark, edges)


def test_edge_contraction_path_equivalent(spark, cc_path):
    """contract_threshold=0 forces contraction every round; results must be
    identical to the uncontracted path (long chain exercises multi-round
    convergence through contracted super-vertex edges)."""
    rng = random.Random(13)
    edges = [(i, i + 1) for i in range(20)]  # one chain: diameter 20
    edges += [(rng.randrange(40, 70), rng.randrange(40, 70)) for _ in range(30)]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, "doc_a int, doc_b int")
    plain = {
        r["doc"]: r["cluster"] for r in C.connected_components(edf).collect()
    }
    contracted = {
        r["doc"]: r["cluster"]
        for r in C.connected_components(edf, contract_threshold=0).collect()
    }
    assert plain == contracted
    uf = _uf_components(70, edges)
    assert plain == {v: uf[v] for v in plain}  # consistent with union-find


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_paths_agree_on_schema_and_values(spark, monkeypatch, id_type):
    """Both sides of the gate return the same schema (names, the input's
    id type, nullability) and the same rows, with and without a vertex
    table (a wider type than `int` edges)."""
    rng = random.Random(5)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(40)]
    edf = spark.createDataFrame(edges, f"doc_a {id_type}, doc_b {id_type}")
    for vtype in (None, "bigint"):
        vdf = (
            None
            if vtype is None
            else spark.createDataFrame([(v,) for v in range(60)], f"doc_id {vtype}")
        )
        runs = []
        for gate in (1_000_000, 0):
            monkeypatch.setattr(C, "_LOCAL_CC_EDGES", gate)
            out = C.connected_components(edf, vertices=vdf)
            runs.append((out.schema, sorted(map(tuple, out.collect()))))
        assert runs[0] == runs[1]
        want = "bigint" if vtype == "bigint" else id_type
        assert [f.dataType.simpleString() for f in runs[0][0]] == [want, want]
        assert runs[0][0].names == ["doc", "cluster"]


def test_empty_edge_table(spark, cc_path):
    edf = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    out = C.connected_components(edf)
    assert out.schema.names == ["doc", "cluster"]
    assert out.collect() == []
    vdf = spark.createDataFrame([(3,), (1,), (3,)], "doc_id bigint")
    got = {r["doc"]: r["cluster"] for r in C.connected_components(edf, vertices=vdf).collect()}
    assert got == {1: 1, 3: 3}


def test_null_endpoints_link_nothing(spark, cc_path):
    """A null endpoint links nothing and is not returned; the other end of
    a half-null edge is, as are the non-null vertex ids."""
    edf = spark.createDataFrame(
        [(1, None), (None, 2), (3, 4), (None, None), (4, 6)], "doc_a int, doc_b int"
    )
    vdf = spark.createDataFrame([(5,), (None,), (6,)], "doc_id int")
    rows = C.connected_components(edf, vertices=vdf).collect()
    assert sorted(map(tuple, rows)) == [(1, 1), (2, 2), (3, 3), (4, 3), (5, 5), (6, 3)]


@pytest.mark.parametrize("contract_threshold", [5_000_000, 0])
def test_distributed_path_frees_its_checkpoints(spark, monkeypatch, contract_threshold):
    """Two distributed calls leave at most their returned label
    generations persisted: the edge table and every earlier label
    generation are freed before returning."""
    monkeypatch.setattr(C, "_LOCAL_CC_EDGES", 0)
    edf = spark.createDataFrame([(i, i + 1) for i in range(12)], "doc_a int, doc_b int")
    vdf = spark.createDataFrame([(v,) for v in range(20)], "doc_id int")
    before = _persistent_rdd_ids(spark)
    outs = [
        C.connected_components(
            edf, vertices=vdf, contract_threshold=contract_threshold
        )
        for _ in range(2)
    ]
    assert len(_persistent_rdd_ids(spark) - before) <= 2
    for out in outs:  # the returned generation is still readable
        got = {r["doc"]: r["cluster"] for r in out.collect()}
        assert got == {v: 0 if v <= 12 else v for v in range(20)}


def test_unconverged_call_frees_every_checkpoint(spark, monkeypatch):
    monkeypatch.setattr(C, "_LOCAL_CC_EDGES", 0)
    edf = spark.createDataFrame([(i, i + 1) for i in range(40)], "doc_a int, doc_b int")
    before = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        C.connected_components(edf, max_rounds=1)
    assert _persistent_rdd_ids(spark) - before == set()


def test_local_path_keeps_only_its_result(spark, monkeypatch):
    """The driver solve frees the edge checkpoint; only a result that
    carries `vertices` is itself a checkpoint."""
    monkeypatch.setattr(C, "_LOCAL_CC_EDGES", 1_000_000)
    edf = spark.createDataFrame([(i, i + 1) for i in range(12)], "doc_a int, doc_b int")
    vdf = spark.createDataFrame([(v,) for v in range(20)], "doc_id int")
    before = _persistent_rdd_ids(spark)
    out = C.connected_components(edf)
    assert _persistent_rdd_ids(spark) - before == set()
    assert {r["cluster"] for r in out.collect()} == {0}
    out = C.connected_components(edf, vertices=vdf)
    assert len(_persistent_rdd_ids(spark) - before) <= 1
    got = {r["doc"]: r["cluster"] for r in out.collect()}
    assert got == {v: 0 if v <= 12 else v for v in range(20)}


def test_min_label_index_matches_union_find():
    """The driver-side solver alone, on graphs shaped to need several
    hooking passes: a star around a large centre and a chain whose ids
    alternate high/low."""
    import numpy as np

    rng = random.Random(3)
    n = 400
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(300)]
    edges += [(399, v) for v in range(300, 320)]
    chain = [v for pair in zip(range(200, 225), range(299, 274, -1)) for v in pair]
    edges += list(zip(chain, chain[1:]))
    a = np.array([e[0] for e in edges])
    b = np.array([e[1] for e in edges])
    lab = C._min_label_index(a, b, n)
    uf = _uf_components(n, edges)
    assert lab.tolist() == [uf[v] for v in range(n)]


@pytest.mark.parametrize("cc_path", ["distributed"], indirect=True)
@pytest.mark.parametrize(
    "case",
    [
        test_small_known_graph,
        test_chain_worst_case_diameter,
        test_random_graph_matches_union_find,
        test_survivors_keep_min_per_cluster_and_singletons,
        test_deterministic_across_runs,
        test_edge_contraction_path_equivalent,
        test_empty_edge_table,
        test_null_endpoints_link_nothing,
    ],
    ids=lambda f: f.__name__,
)
def test_cases_on_distributed_path(request, cc_path, case):
    """The `cc_path` tests above (pinned to the driver solve) again on
    the distributed side of the gate."""
    run_with_fixtures(request, case)
