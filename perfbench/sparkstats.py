"""Reads the engine's own accounting: Spark's status store (jobs, stages,
executor metrics), streaming progress events and the 1-task job floor."""

from __future__ import annotations

import json
import statistics
import time

EXEC_KEYS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _store(sc):
    jsc = sc._jsc.sc()
    # the status store is filled by an asynchronous listener: let it catch up
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore()


def _seq(sc, seq):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def last_job_id(sc) -> int:
    ids = [j.jobId() for j in _seq(sc, _store(sc).jobsList(sc._jvm.java.util.ArrayList()))]
    return max(ids, default=-1)


def jobs_after(sc, job_id: int) -> list[int]:
    """Ids of every job submitted after `job_id` (all threads)."""
    jobs = _seq(sc, _store(sc).jobsList(sc._jvm.java.util.ArrayList()))
    return sorted(j.jobId() for j in jobs if j.jobId() > job_id)


def exec_totals(sc, job_ids) -> dict:
    """Executor work of the given jobs, summed over their non-skipped
    stages (status store ``stageList``; CPU time is reported in ns)."""
    job_ids = set(job_ids)
    store = _store(sc)
    jvm = sc._jvm
    stage_ids = set()
    for j in _seq(sc, store.jobsList(jvm.java.util.ArrayList())):
        if j.jobId() in job_ids:
            stage_ids.update(_seq(sc, j.stageIds()))
    out = dict.fromkeys(EXEC_KEYS, 0)
    out["jobs"] = len(job_ids)
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = store.stageList(jvm.java.util.ArrayList(), False, False, no_quantiles, jvm.java.util.ArrayList())
    for s in _seq(sc, stages):
        if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += s.numTasks()
        out["run_ms"] += s.executorRunTime()
        out["cpu_ms"] += s.executorCpuTime() / 1e6
        out["gc_ms"] += s.jvmGcTime()
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["input_bytes"] += s.inputBytes()
    return out


def job_floor_ms(sc) -> float:
    """Median wall time of three 1-task jobs after one warm-up job: the
    scheduling floor every job pays on this machine, recorded so floor
    drift is not read as a code change. A Python RDD count, as bench.py
    probes it, so the two read alike."""
    rdd = sc.parallelize([1], 1)
    rdd.count()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        rdd.count()
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def progress(query) -> list[dict]:
    """Progress events of the micro-batches that read rows."""
    rows = [json.loads(p.json) for p in query.recentProgress]
    return [p for p in rows if p.get("numInputRows", 0) > 0]

