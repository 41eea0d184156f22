"""Job/gap timeline for one headline query.

Runs bench-identical query passes, each under its own job group, and
prints per pass a per-job timeline read from Spark's status store
(``open_data_pipelines_spark.metrics``): duration, the tasks of each
stage that ran, the job label, and the DRIVER GAP since the previous
job ended (for the first job, since the pass started) — the
construction/Catalyst/codegen time the guide's §7.3 driver-side
analysis targets. Each pass line also gives the generated classes the
pass compiled through Janino and their compile ms (``metrics.janino``).
A warm pass that compiles classes is re-paying codegen.

    python tools/profile_query.py <query> [sf_dir] [passes]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from open_data_pipelines_spark import metrics  # noqa: E402


def profile_pass(spark, fn, sf_dir: str, label: str) -> None:
    """Run ``fn`` to a noop sink under the job group ``label`` and
    print the pass line and its job timeline."""
    sc = spark.sparkContext
    n0, ms0 = metrics.janino(spark)
    start_ms = time.time() * 1000
    t0 = time.perf_counter()
    sc.setJobGroup(label, label)
    try:
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        sc._jsc.clearJobGroup()
    spark.catalog.clearCache()
    n1, ms1 = metrics.janino(spark)
    print(
        f"== {label}: construct {t1 - t0:.3f}s  noop {t2 - t1:.3f}s  "
        f"total {t2 - t0:.3f}s  janino {n1 - n0} classes {ms1 - ms0} ms"
    )
    jobs = metrics.jobs(spark, label)
    stages = metrics.stages(spark, jobs)
    prev_end = start_ms
    tot_job = tot_gap = 0.0
    for j in jobs:
        if j.completed_ms is None:
            continue
        dur = (j.completed_ms - j.submitted_ms) / 1000.0
        gap = max((j.submitted_ms - prev_end) / 1000.0, 0.0)
        prev_end = max(prev_end, j.completed_ms)
        tot_job += dur
        tot_gap += gap
        stg = ",".join(
            f"{sid}:{stages[sid].tasks}t" for sid in j.stage_ids if stages[sid].status != "SKIPPED"
        )
        print(f"  job {j.id:3d}  gap {gap:6.3f}  dur {dur:6.3f}  [{stg}]  {(j.description or '')[:60]}")
    print(f"  TOTAL job {tot_job:.3f}s  gap {tot_gap:.3f}s")


def main() -> None:
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    from open_data_pipelines_spark.session import get_spark

    spark = get_spark(f"profile_{qname}")
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    import __spark_entry__ as entry

    fn = bench.EXTRA.get(qname) or entry.queries()[qname]
    for p in range(passes):
        profile_pass(spark, fn, sf_dir, f"{qname} {'warmup' if p == 0 else f'pass{p}'}")


if __name__ == "__main__":
    main()
