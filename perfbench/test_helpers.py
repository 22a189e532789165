"""Tests of the benchmark's Spark-free helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import helpers as H


# -- percentile rule ---------------------------------------------------------


def test_percentile_interpolates_like_numpy():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert H.percentile(xs, 50) == 2.5
    assert H.percentile(xs, 0) == 1.0
    assert H.percentile(xs, 100) == 4.0
    assert H.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        H.percentile([], 50)


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
     (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    xs = list(range(n))
    tail = H.tail_percentile(xs)
    if pct is None:
        assert tail is None
    else:
        assert tail == (pct, H.percentile(xs, pct))
        assert round(n * (100 - pct)) >= 1000  # ten samples beyond


def test_summarize_reports_median_tail_and_count():
    s = H.summarize([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "tail_pct": 90.0, "tail": H.percentile(range(1, 101), 90)}
    assert H.summarize([3.0]) == {"n": 1, "p50": 3.0}
    assert H.summarize([]) == {"n": 0}


# -- spans -------------------------------------------------------------------


def _span(sid, start, end, parent=None):
    return {"id": sid, "name": f"s{sid}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, 1),
        _span(3, 3.0, 5.0, 1),  # overlaps span 2: counted once
        _span(4, 8.0, 12.0, 1),  # runs past its parent: clipped at 10
        _span(5, 1.5, 2.0, 2),  # a grandchild is the child's, not the root's
    ]
    st = H.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(0.5)


def test_tracer_nests_spans_per_thread_and_disabled_records_nothing():
    import threading

    tr = H.Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
        seen = {}

        def other():
            with tr.span("thread") as sid:
                seen["id"] = sid

        th = threading.Thread(target=other)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    by_id = {s["id"]: s for s in tr.spans}
    assert by_id[inner]["parent"] == outer
    assert by_id[outer]["parent"] is None
    assert by_id[seen["id"]]["parent"] is None  # another thread's stack
    assert all(s["end"] >= s["start"] for s in tr.spans)

    off = H.Tracer(enabled=False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []


# -- /proc RSS reader ----------------------------------------------------------


def _fake_proc(root, pid, ppid, comm, hwm_kb):
    d = root / str(pid)
    d.mkdir()
    (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
    (d / "status").write_text(f"Name:\t{comm}\nVmPeak:\t999999 kB\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n")


def test_peak_rss_sums_the_process_and_its_jvm_descendants(tmp_path):
    _fake_proc(tmp_path, 100, 1, "python3", 2048)
    _fake_proc(tmp_path, 101, 100, "bash", 512)  # a wrapper: not counted
    _fake_proc(tmp_path, 102, 101, "java", 4096)  # grandchild JVM: counted
    _fake_proc(tmp_path, 103, 100, "python3", 1024)  # a helper process: not counted
    _fake_proc(tmp_path, 200, 1, "java", 8192)  # someone else's JVM
    _fake_proc(tmp_path, 300, 1, "odd) name (x", 1)  # comm with parentheses
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    assert H.peak_rss_mb(100, proc=str(tmp_path)) == pytest.approx((2048 + 4096) / 1024)
    assert sorted(H.descendants(100, str(tmp_path))) == [(101, "bash"), (102, "java"), (103, "python3")]


def test_peak_rss_reads_this_process():
    before = H.hwm_kb(os.getpid())  # the peak only grows
    assert before > 0
    assert H.peak_rss_mb() >= before / 1024


# -- file -> micro-batch latency attribution -------------------------------------


def _log(path, entries):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n")


def _entry(name, batch):
    return {"path": f"file:///data/watched/{name}", "timestamp": 0, "size": 1, "isDir": False,
            "action": "add", "batchId": batch}


def _commit(ckpt, batch, t):
    p = ckpt / "commits" / str(batch)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text('v1\n{"nextBatchWatermarkMs":0}\n')
    os.utime(p, ns=(int(t * 1e9), int(t * 1e9)))


def test_file_latency_runs_from_due_time_to_the_reading_batch_commit(tmp_path):
    ckpt = tmp_path / "ckpt"
    src = ckpt / "sources" / "0"
    _log(src / "0", [_entry("a.parquet", 0), _entry("b.parquet", 0)])
    _log(src / "1", [_entry("c.parquet", 1)])
    # a compacted log folds earlier batches in again: not a second read
    _log(src / "2.compact", [_entry("a.parquet", 0), _entry("b.parquet", 0), _entry("c.parquet", 1),
                             _entry("d.parquet", 2)])
    _log(src / "3", [_entry("e.parquet", 3)])  # read, but its batch never committed
    (src / ".3.crc").write_text("ignored")
    _commit(ckpt, 0, 1000.5)
    _commit(ckpt, 1, 1002.0)
    _commit(ckpt, 2, 1003.25)
    due = {"a.parquet": 1000.0, "b.parquet": 1000.25, "c.parquet": 1001.0, "d.parquet": 1002.5,
           "e.parquet": 1003.0, "f.parquet": 1003.5}
    got = H.file_latencies(due, str(ckpt))
    assert got["latency_ms"] == pytest.approx(
        {"a.parquet": 500.0, "b.parquet": 250.0, "c.parquet": 1000.0, "d.parquet": 750.0}
    )
    assert got["uncommitted"] == ["e.parquet", "f.parquet"]
    assert got["duplicated"] == []


def test_a_file_read_by_two_batches_is_reported_duplicated(tmp_path):
    ckpt = tmp_path / "ckpt"
    _log(ckpt / "sources" / "0" / "0", [_entry("a.parquet", 0)])
    _log(ckpt / "sources" / "0" / "1", [_entry("a.parquet", 1)])
    _commit(ckpt, 0, 10.0)
    _commit(ckpt, 1, 11.0)
    got = H.file_latencies({"a.parquet": 9.0}, str(ckpt))
    assert got["duplicated"] == ["a.parquet"]
    assert got["latency_ms"]["a.parquet"] == pytest.approx(1000.0)  # first commit counts


def test_backlog_counts_files_offered_but_not_committed(tmp_path):
    ckpt = tmp_path / "ckpt"
    _log(ckpt / "sources" / "0" / "0", [_entry("a", 0), _entry("b", 0)])
    _log(ckpt / "sources" / "0" / "1", [_entry("c", 1)])
    _commit(ckpt, 0, 3.0)
    _commit(ckpt, 1, 5.0)
    # a, b, c, d offered at 1, 2, 2.5, 4; d is never committed
    assert H.backlog_max({"a": 1.0, "b": 2.0, "c": 2.5, "d": 4.0}, str(ckpt)) == 3
    assert H.backlog_max({}, str(ckpt)) == 0
