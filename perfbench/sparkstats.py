"""Spark scheduler and executor counters, read per operation from the
in-process status store (``sc._jsc.sc().statusStore()``), which is
filled with the UI off.

Each operation runs under its own job group. After it returns, every
job id since the previous read is looked up: jobs in the operation's
group are labelled, the rest (helper threads, checkpoint prefetch,
streaming micro-batches) are counted as unlabelled. The store keeps
only the newest ``spark.ui.retainedJobs`` jobs, so a job id that can
no longer be found is a gap in the record and raises ``LedgerGap``.
"""

from __future__ import annotations

import statistics
from collections import Counter


class LedgerGap(RuntimeError):
    pass


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


class JobLedger:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.last_job = self._max_job_id()

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def skip(self) -> None:
        """Forget the jobs run since the last read (output checks)."""
        self._drain()
        self.last_job = self._max_job_id()

    def _drain(self) -> None:
        # the store is filled by an asynchronous listener: wait for it
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def read(self, group: str, wall_start: float, wall_end: float) -> Counter:
        """Counters of the jobs started since the previous read.
        ``wall_start``/``wall_end`` are ``time.time()`` around the op."""
        self._drain()
        top = self._max_job_id()
        c: Counter = Counter()
        intervals = []
        stage_ids: set[int] = set()
        for job_id in range(self.last_job + 1, top + 1):
            try:
                job = self.store.job(job_id)
            except Exception as ex:  # py4j wraps NoSuchElementException
                raise LedgerGap(f"job {job_id} missing from the status store") from ex
            c["spark.jobs"] += 1
            if _opt(job.jobGroup()) != group:
                c["spark.jobs_unlabeled"] += 1
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None:
                end = done.getTime() / 1000 if done is not None else wall_end
                intervals.append((sub.getTime() / 1000, end))
            stage_ids.update(_seq(job.stageIds()))
        self.last_job = top
        c["spark.driver_only_s"] = (wall_end - wall_start) - _union_seconds(
            intervals, wall_start, wall_end
        )
        skew = 1.0
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception as ex:
                raise LedgerGap(f"stage {sid} missing from the status store") from ex
            c["spark.stages"] += 1
            if st.status().toString() == "SKIPPED":
                c["spark.stages_skipped"] += 1
                continue
            c["spark.tasks"] += st.numTasks()
            c["spark.task_failures"] += st.numFailedTasks()
            c["spark.executor_run_s"] += st.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            c["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            c["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            if st.numTasks() > 1:
                dist = _opt(self.store.taskSummary(sid, st.attemptId(), self._quantiles))
                if dist is not None:
                    run = dist.executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        skew = max(skew, mx / med)
        c["spark.task_skew_max"] = skew
        return c

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum((i.memSize() + i.diskSize()) for i in infos) / 2**20


def pass_totals(per_op: list[Counter]) -> dict[str, float]:
    """Sum per-operation counters over a pass; the skew is the worst op."""
    out: Counter = Counter()
    for c in per_op:
        for k, v in c.items():
            if k != "spark.task_skew_max":
                out[k] += v
    out["spark.task_skew_max"] = max((c["spark.task_skew_max"] for c in per_op), default=1.0)
    return dict(out)


def median_dicts(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = set().union(*rows) if rows else set()
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
