"""Round-16 optimization probe: job/gap timeline for one headline query.

Runs a bench-identical query pass with event logging on, then parses
the event log into a per-job timeline: job description, duration,
stage task counts, and the DRIVER GAP since the previous job ended —
the construction/Catalyst/codegen time the guide's §7.3 driver-side
analysis targets. Each pass line also gives the generated classes the
pass compiled through Janino and their compile ms (Spark's
``CodegenMetrics``; the ms sum is exact while the session has compiled
fewer than 1028 classes, the metric's sample size). A warm pass that
compiles classes is re-paying codegen.

    python tools/profile_query.py <query> [sf_dir] [passes]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    evdir = tempfile.mkdtemp(prefix="spark-events-")
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark(
        f"profile_{qname}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import bench
    import __spark_entry__ as entry

    qs = entry.queries()
    fn = bench.EXTRA.get(qname) or qs[qname]

    compiled = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def janino() -> tuple[int, int]:
        ms = sc._jvm.java.util.Arrays.stream(compiled.getSnapshot().getValues()).sum()
        return compiled.getCount(), ms

    for p in range(passes):
        label = "warmup" if p == 0 else f"pass{p}"
        n0, ms0 = janino()
        t0 = time.perf_counter()
        sc.setJobDescription(f"{label}: {qname}")
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc.setJobDescription(None)
        spark.catalog.clearCache()
        n1, ms1 = janino()
        print(
            f"== {label}: construct {t1 - t0:.3f}s  noop {t2 - t1:.3f}s  "
            f"total {t2 - t0:.3f}s  janino {n1 - n0} classes {ms1 - ms0} ms"
        )

    spark.stop()
    time.sleep(1.0)
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir) if not f.startswith(".")]
    print(f"event logs in {evdir}: {logs}")
    for lg in logs:
        _report(lg)


def _iter_lines(path: str):
    """Yield event lines from a v1 file or a v2 rolling directory."""
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.startswith("events_"):
                with open(os.path.join(path, name)) as fh:
                    yield from fh
    else:
        with open(path) as fh:
            yield from fh


def _report(path: str) -> None:
    jobs = {}
    stages = {}
    if True:
        for line in _iter_lines(path):
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    ),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "tasks": si["Number of Tasks"],
                    "name": si["Stage Name"].split("\n")[0][:40],
                    "ms": (si.get("Completion Time", 0) - si.get("Submission Time", 0))
                    if si.get("Submission Time")
                    else None,
                }
    if not jobs:
        return
    print(f"\n-- event log: {os.path.basename(path)}  ({len(jobs)} jobs)")
    prev_end = None
    tot_job = tot_gap = 0
    for jid in sorted(jobs):
        j = jobs[jid]
        if "end" not in j:
            continue
        dur = (j["end"] - j["start"]) / 1000.0
        gap = (j["start"] - prev_end) / 1000.0 if prev_end is not None else 0.0
        prev_end = max(prev_end or j["end"], j["end"])
        tot_job += dur
        tot_gap += max(gap, 0)
        stg = ",".join(
            f"{sid}:{stages[sid]['tasks']}t" for sid in j["stages"] if sid in stages
        )
        print(
            f"  job {jid:3d}  gap {max(gap, 0):6.3f}  dur {dur:6.3f}  "
            f"[{stg}]  {j['desc'][:60]}"
        )
    print(f"  TOTAL job {tot_job:.3f}s  gap {tot_gap:.3f}s")


if __name__ == "__main__":
    main()
