"""Engine counters per job group, read from Spark's status stores.

Shuffle bytes follow ``bench.py``'s job-group accounting: completed
stage attempts only, one contribution per stage (the max over its
attempts, ``_per_stage_max_attempt_bytes``, imported rather than
copied). One read of the stage list gives them and, per job group:

- executor run, CPU and GC time, task and failed-task counts, summed
  over every stage attempt (retried work is work done);
- spill and output bytes, one contribution per stage by the same rule;
- Python worker run time, from the SQL metrics of the plan nodes that
  run Python (ArrowEvalPython, MapInArrow, MapInPandas, ...).

All of it reads private JVM surfaces. When one of them is missing, the
counters it feeds are left out; nothing here raises.
"""

from __future__ import annotations

import re
import sys

from bench import _per_stage_max_attempt_bytes

_PY_RUN_METRIC = "time to run Python workers"
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def group_job_ids(spark, group: str) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _group_stage_ids(spark, job_ids: set[int]) -> set[int]:
    tracker = spark.sparkContext.statusTracker()
    ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            ids.update(info.stageIds)
    return ids


def _stage_rows(spark) -> list:
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out, it = [], stages.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _stage_counters(spark, stage_ids: set[int]) -> dict[str, float]:
    run_ms = cpu_ns = gc_ms = tasks = failures = 0
    shuffle: dict = {}
    spill_out: dict = {}
    for s in _stage_rows(spark):
        if s.stageId() not in stage_ids:
            continue
        run_ms += s.executorRunTime()
        cpu_ns += s.executorCpuTime()
        gc_ms += s.jvmGcTime()
        tasks += s.numCompleteTasks()
        failures += s.numFailedTasks()
        key = (s.stageId(), s.attemptId())
        spill_out[key] = (s.memoryBytesSpilled() + s.diskBytesSpilled(), s.outputBytes())
        if str(s.status()) == "COMPLETE":
            shuffle[key] = (s.shuffleReadBytes(), s.shuffleWriteBytes())
    moved = _per_stage_max_attempt_bytes(shuffle, stage_ids)
    best = _per_stage_max_attempt_bytes(spill_out, stage_ids)
    return {
        "engine.shuffle_read_bytes": moved["read"],
        "engine.shuffle_write_bytes": moved["write"],
        "engine.executor_run_s": run_ms / 1e3,
        "engine.executor_cpu_s": cpu_ns / 1e9,
        "engine.gc_s": gc_ms / 1e3,
        "engine.tasks": tasks,
        "engine.task_failures": failures,
        "engine.spill_bytes": best["read"],
        "engine.output_bytes": best["write"],
    }


def parse_duration_s(text: str) -> float:
    """Seconds from a formatted SQL timing metric: either ``"613 ms"`` or
    ``"total (min, med, max ...)\\n1.8 s (0 ms, ...)"`` (the total comes
    first on the last line)."""
    m = _DURATION.search(text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _python_run_s(spark, job_ids: set[int]) -> float:
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        keys, jobs = e.jobs().keys().iterator(), set()
        while keys.hasNext():
            jobs.add(keys.next())
        if not jobs & job_ids:
            continue
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            metrics = nodes.next().metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if m.name() == _PY_RUN_METRIC and values.contains(m.accumulatorId()):
                    total += parse_duration_s(str(values.apply(m.accumulatorId())))
    return total


def _unavailable(what: str, exc: Exception) -> None:
    print(f"perfbench: {what} unavailable: {type(exc).__name__}: {exc}", file=sys.stderr)


def job_group_counters(spark, group: str) -> dict[str, float]:
    """Every counter this module knows for the jobs run under ``group``;
    counters whose JVM surface is unavailable are absent (and reported
    on standard error)."""
    out: dict[str, float] = {}
    try:
        job_ids = group_job_ids(spark, group)
        out["engine.jobs"] = len(job_ids)
    except Exception as e:
        _unavailable("job ids", e)
        return out
    try:
        out.update(_stage_counters(spark, _group_stage_ids(spark, job_ids)))
    except Exception as e:
        _unavailable("stage counters", e)
    try:
        out["python.worker_run_s"] = _python_run_s(spark, job_ids)
    except Exception as e:
        _unavailable("SQL metrics", e)
    return out


def driver_peak_rss_mb(spark) -> float | None:
    """VmHWM of the driver JVM, from ``/proc/<pid>/status``."""
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except Exception as e:
        _unavailable("driver VmHWM", e)
    return None
