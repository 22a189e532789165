from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from realtime_fraud_detection_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fraud_data(spark):
    """Seeded fraud-domain fixture: (users, merchants, transactions)."""
    from realtime_fraud_detection_spark.sources import generator as G

    users, merchants = G.generate_profiles(n_users=120, n_merchants=40, seed=42)
    tx = G.generate_transactions(users, merchants, n=4000, seed=42, days=3)
    u, m, t = G.to_spark(spark, users, merchants, tx)
    return u.cache(), m.cache(), t.cache()


@pytest.fixture(scope="session")
def drain_stream(spark):
    """Poll a memory-sink table until it holds >= `expect` rows, let a short
    settle window pass so any (erroneous) extra rows land, then stop the
    query. applyInPandasWithState queries with pending processing-time
    timers never self-terminate under Trigger.AvailableNow — waiting on
    awaitTermination(N) burns the full N seconds and leaks a running query
    that pollutes listener-based tests downstream (CLAUDE.md)."""
    import time

    def _drain(q, table, expect, timeout=120.0, settle=2.0, poll=0.25):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if spark.sql(f"select count(*) c from {table}").first()["c"] >= expect:
                break
            time.sleep(poll)
        time.sleep(settle)
        q.stop()
        q.awaitTermination(30)

    return _drain


@pytest.fixture
def cc_path(request, monkeypatch):
    """Pin a connected-components test to one side of the driver-solve
    gate (operators/clustering._LOCAL_CC_EDGES): "local" unless the test
    parametrizes it indirectly with "distributed". The path not taken is
    replaced by a stub that fails, so a test cannot pass on the wrong
    one."""
    from realtime_fraud_detection_spark.operators import clustering as C

    path = getattr(request, "param", "local")

    def _wrong_path(*args, **kwargs):
        raise AssertionError(f"left the {path} path")

    if path == "local":
        monkeypatch.setattr(C, "_LOCAL_CC_EDGES", 1_000_000)
        monkeypatch.setattr(C, "_cc_propagate", _wrong_path)
    else:
        monkeypatch.setattr(C, "_LOCAL_CC_EDGES", 0)
        monkeypatch.setattr(C, "_cc_local", _wrong_path)
    return path


def run_with_fixtures(request, case):
    """Call test function `case` with its fixtures resolved in the calling
    test — how a test reruns others under a different `cc_path`."""
    import inspect

    case(**{p: request.getfixturevalue(p) for p in inspect.signature(case).parameters})


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CORRECTNESS}/{t}.parquet')"
        )
    return con


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Surface the transformWithStateInPandas env-skip in the summary line:
    a green run here does NOT cover the TWS variant (its driver-worker
    protocol needs google.protobuf, broken in this container) — the test
    activates automatically wherever protobuf imports."""
    skipped = terminalreporter.stats.get("skipped", [])
    tws = [r for r in skipped if "protobuf" in str(getattr(r, "longrepr", ""))]
    if tws:
        terminalreporter.write_sep(
            "-",
            "NOTE: transformWithStateInPandas variant NOT exercised "
            "(google.protobuf unavailable) — implemented in "
            "streaming/stateful.py, test auto-activates where protobuf "
            "imports",
            yellow=True,
        )
