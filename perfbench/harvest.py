"""Spark status-store harvest: what the engine did inside a time window.

Reads the driver's live ``AppStatusStore`` (present with
``spark.ui.enabled=false``) through py4j. Jobs are attributed to a window
by submission time, not by job group: ``StreamExecution`` overwrites the job
group of the jobs a streaming trigger launches, so a group-based count
misses them.

``collect_jobs`` copies every job and stage the store retains into plain
Python records once; ``window_metrics`` then answers any number of window
queries without touching the JVM again.
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

from stats import covered_seconds


@dataclass(frozen=True)
class Job:
    job_id: int
    submit_s: float
    end_s: float
    stages: int
    tasks: int
    input_bytes: int
    input_records: int
    shuffle_write_bytes: int


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def collect_jobs(spark) -> list[Job]:
    """Every finished job the store retains, oldest first. Raise
    ``spark.ui.retainedJobs``/``retainedStages`` when a run launches more
    jobs than the store keeps (1000 by default)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)  # newest first
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        submit, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if submit is None or end is None:
            continue
        n_in = n_rec = n_shuf = 0
        stage_ids = j.stageIds()
        n_stages = 0
        for k in range(stage_ids.size()):
            try:
                sd = store.lastStageAttempt(stage_ids.apply(k))
            except Py4JJavaError:  # the store no longer holds the stage
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            n_stages += 1
            n_in += sd.inputBytes()
            n_rec += sd.inputRecords()
            n_shuf += sd.shuffleWriteBytes()
        out.append(
            Job(j.jobId(), submit, end, n_stages,
                j.numTasks() - j.numSkippedTasks(), n_in, n_rec, n_shuf)
        )
    out.reverse()
    return out


def window_metrics(jobs: list[Job], lo: float, hi: float) -> dict[str, float]:
    """Engine metrics of the jobs submitted in ``[lo, hi]`` (epoch s)."""
    inside = [j for j in jobs if lo <= j.submit_s <= hi]
    in_job = covered_seconds([(j.submit_s, j.end_s) for j in inside], lo, hi)
    return {
        "jobs": len(inside),
        "stages": sum(j.stages for j in inside),
        "tasks": sum(j.tasks for j in inside),
        "in_job_s": in_job,
        "outside_job_s": max(hi - lo - in_job, 0.0),
        "shuffle_write_mb": sum(j.shuffle_write_bytes for j in inside) / 1e6,
        "input_mb": sum(j.input_bytes for j in inside) / 1e6,
        "input_records": sum(j.input_records for j in inside),
    }
