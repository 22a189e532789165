"""bench.py owns the bench's query classes; tools/bench_diff.py uses them."""

from __future__ import annotations

import bench
from tools import bench_diff


def test_bench_diff_shares_bench_query_classes():
    assert bench_diff.ITERATIVE is bench.ITERATIVE
    assert bench_diff.CACHED is bench.CACHED
    assert bench_diff.SERVE is bench.SERVE


def test_serve_movers_are_annotated():
    assert bench.SERVE
    for name in bench.SERVE:
        assert any(n.startswith("serve:") for n in bench_diff.mover_notes(name))
    assert bench_diff.mover_notes("pricing_summary") == []
