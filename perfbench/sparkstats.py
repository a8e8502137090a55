"""Per-layer numbers read from Spark itself: the application status store
(per job group) and streaming query progress. Used by traced runs only,
except for the progress durations the end-to-end metrics need."""

from __future__ import annotations

import os
import statistics

from stats import covered_length, tail_percentile

MB = 1024 * 1024
SUMMED = ("jobs", "stages", "tasks", "stage_run_s", "cpu_s", "gc_s",
          "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
TOTALS = SUMMED + ("task_skew", "driver_gap_s")
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def _opt(o):
    return o.get() if o.isDefined() else None


def group_stats(spark, group: str, start: float, end: float) -> dict:
    """Totals over the stages of every job in ``group``; ``start``/``end``
    are the epoch seconds of the call that ran them."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quant = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    stage_ids = set()
    for jid in job_ids:
        sids = store.job(jid).stageIds()
        stage_ids.update(sids.apply(i) for i in range(sids.size()))
    tot = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0, "stage_run_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
        "worst_run_s": 0.0, "task_skew": 1.0,
    }
    intervals = []
    for sid in sorted(stage_ids):
        s = store.lastStageAttempt(sid)
        if s.status().toString() == "SKIPPED":
            continue
        tot["stages"] += 1
        tot["tasks"] += s.numTasks()
        run_s = s.executorRunTime() / 1000
        tot["stage_run_s"] += run_s
        tot["cpu_s"] += s.executorCpuTime() / 1e9
        tot["gc_s"] += s.jvmGcTime() / 1000
        tot["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
        tot["shuffle_read_mb"] += s.shuffleReadBytes() / MB
        tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
        if sub is not None and done is not None:
            intervals.append((sub.getTime() / 1000, done.getTime() / 1000))
        if s.numTasks() >= 2 and run_s > tot["worst_run_s"]:
            q = _opt(store.taskSummary(sid, s.attemptId(), quant))
            if q is not None:
                med, mx = q.executorRunTime().apply(0), q.executorRunTime().apply(1)
                tot["worst_run_s"] = run_s
                tot["task_skew"] = mx / med if med > 0 else 1.0
    tot["driver_gap_s"] = (end - start) - covered_length(intervals, start, end)
    return tot


def sum_stats(calls: list[dict]) -> dict:
    """Totals over several calls. ``task_skew`` is that of the stage with
    the most executor run time; ``driver_gap_s`` is each call's wall time
    covered by no running stage, summed."""
    out = {k: sum(c[k] for c in calls) for k in SUMMED}
    worst = max(calls, key=lambda c: c["worst_run_s"], default=None)
    out["task_skew"] = worst["task_skew"] if worst else 1.0
    out["driver_gap_s"] = sum(c["driver_gap_s"] for c in calls)
    return out


def stream_layers(prefix: str, progress: list, batch_s: list[float]) -> dict[str, float]:
    out: dict[str, float] = {f"{prefix}.batches": float(len(progress))}
    for phase in STREAM_PHASES:
        vals = [p.durationMs.get(phase, 0) for p in progress]
        out[f"{prefix}.{phase}_ms_p50"] = float(statistics.median(vals))
    pct, val, n = tail_percentile(batch_s)
    out[f"{prefix}.batch_s_tail"] = val
    out[f"{prefix}.batch_s_tail_pct"] = pct if pct is not None else 50.0
    out[f"{prefix}.batch_s_tail_n"] = float(n)
    ops = [op for p in progress for op in p.stateOperators]
    out[f"{prefix}.state.commit_ms"] = float(
        statistics.median([op.commitTimeMs for op in ops]) if ops else 0
    )
    last = progress[-1].stateOperators if progress else []
    out[f"{prefix}.state.rows_total"] = float(sum(op.numRowsTotal for op in last))
    out[f"{prefix}.state.memory_mb"] = sum(op.memoryUsedBytes for op in last) / MB
    return out


def sink_layers(base_dir: str, read_s: list[float]) -> dict[str, float]:
    epochs = [d for d in os.listdir(base_dir) if d.startswith("epoch=")]
    files, size = 0, 0
    for root, _dirs, names in os.walk(base_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return {
        "sink.read_s": statistics.median(read_s),
        "sink.epochs": float(len(epochs)),
        "sink.files": float(files),
        "sink.bytes_mb": size / MB,
    }
