"""Spark-side counters read through py4j, with no UI or REST endpoint:
job groups, the status store's stage data and query planning phases
(traced run), persisted RDDs (every run) and retained heap (traced
run)."""

from __future__ import annotations

import time


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def group_jobs(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def group_stage_totals(spark, group: str) -> dict:
    """Jobs, stages, tasks and stage metrics of one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = group_jobs(spark, group)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "shuffle_write_mb": 0.0, "input_mb": 0.0, "spill_mb": 0.0}
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - skipped stages have no attempt
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(st.numCompleteTasks())
        out["executor_run_s"] += st.executorRunTime() / 1000.0
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["input_mb"] += st.inputBytes() / 2**20
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    return out


def planning_ms(df) -> float:
    """Analysis + optimization + planning time of a fresh query
    execution over ``df``'s plan, from its ``QueryPlanningTracker``.
    A new projection gives a new execution, so phases already run for
    ``df`` itself are not read back."""
    qe = df.toDF(*df.columns)._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    it = phases.values().iterator()
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


PYTHON_RUN_METRIC = "time to run Python workers"


def python_udf_s(spark, since_execution: int) -> float:
    """Sum of the Python eval time metrics of SQL executions after
    ``since_execution``, from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    total = 0.0
    it = execs.iterator()
    while it.hasNext():
        ex = it.next()
        eid = ex.executionId()
        if eid <= since_execution:
            continue
        ids = set()
        mit = ex.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            if m.name() == PYTHON_RUN_METRIC:
                ids.add(m.accumulatorId())
        if not ids:
            continue
        values = store.executionMetrics(eid)
        for aid in ids:
            opt = values.get(aid)
            if opt.isDefined():
                total += _parse_timing_s(str(opt.get()))
    return total


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    last = -1
    it = execs.iterator()
    while it.hasNext():
        last = max(last, int(it.next().executionId()))
    return last


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "us": 1e-6}


def _parse_timing_s(text: str) -> float:
    """Total of a formatted SQL timing metric: either a bare value such
    as ``'1.2 s'`` or ``'total (min, med, max ...)\\n1.2 s (...)'``."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    parts = line.split()
    if len(parts) < 2:
        return 0.0
    try:
        return float(parts[0].replace(",", "")) * _UNITS.get(parts[1], 0.0)
    except ValueError:
        return 0.0


def jvm_retained_mb(spark, reads: int = 3) -> float:
    """JVM heap in use after a full garbage collection: what the
    session holds on to.  Callers drop their result frames first; the
    Python proxies are collected and the listener bus drained, and the
    smallest of a few collections is kept, so objects still in flight
    (queued events, blocks an asynchronous unpersist has not dropped
    yet) are not counted."""
    import gc

    gc.collect()  # Python-side proxies release their JVM objects
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    mem = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(reads):
        sc._jvm.System.gc()
        used.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.2)
    return min(used)
