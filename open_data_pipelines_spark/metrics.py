"""Spark's job and stage counters, read in-process from the status store.

The store (``sc._jsc.sc().statusStore()``) is filled by an asynchronous
listener, with the UI on or off; every read here first waits for that
listener to drain. Jobs are found by job group. The store keeps only
the newest ``spark.ui.retainedJobs`` jobs and ``spark.ui.retainedStages``
stages, so a stage that a job lists but the store no longer holds is
a gap in the record and raises ``StoreGap`` rather than being skipped.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


class StoreGap(RuntimeError):
    pass


@dataclass(frozen=True)
class Job:
    id: int
    description: str | None
    submitted_ms: int | None  # epoch ms
    completed_ms: int | None
    stage_ids: tuple[int, ...]


@dataclass(frozen=True)
class Stage:
    """The last attempt of a stage. A stage whose shuffle output an
    earlier job already wrote is ``SKIPPED`` and ran no task."""

    id: int
    status: str  # ACTIVE, COMPLETE, FAILED, PENDING or SKIPPED
    tasks: int
    completed_tasks: int
    shuffle_write_bytes: int
    shuffle_write_records: int
    shuffle_read_bytes: int
    # executorRunTime over the successful tasks; None when none succeeded
    median_run_ms: float | None
    max_run_ms: float | None


def _opt(o):
    return o.get() if o.isDefined() else None


def _store(spark):
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore()


def jobs(spark, group: str) -> list[Job]:
    """The jobs run under ``group`` that the store still holds, by id."""
    store = _store(spark)
    out = []
    for job_id in sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group)):
        j = store.job(job_id)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        sids = j.stageIds()
        out.append(
            Job(
                id=job_id,
                description=_opt(j.description()),
                submitted_ms=sub.getTime() if sub is not None else None,
                completed_ms=done.getTime() if done is not None else None,
                stage_ids=tuple(sids.apply(i) for i in range(sids.size())),
            )
        )
    return out


def stages(spark, job_list: Iterable[Job]) -> dict[int, Stage]:
    """Every stage the jobs list, by id."""
    store = _store(spark)
    gw = spark.sparkContext._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {}
    for sid in sorted({s for j in job_list for s in j.stage_ids}):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError as ex:
            raise StoreGap(f"stage {sid} missing from the status store") from ex
        status = st.status().toString()
        med = mx = None
        if status != "SKIPPED":
            dist = _opt(store.taskSummary(sid, st.attemptId(), quantiles))
            if dist is not None:
                run = dist.executorRunTime()
                med, mx = run.apply(0), run.apply(1)
        out[sid] = Stage(
            id=sid,
            status=status,
            tasks=st.numTasks(),
            completed_tasks=st.numCompleteTasks(),
            shuffle_write_bytes=st.shuffleWriteBytes(),
            shuffle_write_records=st.shuffleWriteRecords(),
            shuffle_read_bytes=st.shuffleReadBytes(),
            median_run_ms=med,
            max_run_ms=mx,
        )
    return out


def shuffle_stages_run(spark, group: str) -> int:
    """Shuffle-map stages that ran under ``group``: those with
    shuffle-write output. Each exchange writes its shuffle once; a later
    job that reuses it lists a ``SKIPPED`` stage that wrote nothing, so
    this counts executed exchanges."""
    return sum(
        1
        for st in stages(spark, jobs(spark, group)).values()
        if st.shuffle_write_records > 0 or st.shuffle_write_bytes > 0
    )


def janino(spark) -> tuple[int, int]:
    """(classes, ms) Janino has compiled in this JVM (Spark's
    ``CodegenMetrics``). The ms sum is exact while fewer than 1028
    classes have been compiled, the metric's sample size."""
    jvm = spark.sparkContext._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return compiled.getCount(), jvm.java.util.Arrays.stream(compiled.getSnapshot().getValues()).sum()
