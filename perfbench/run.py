"""Benchmark of the open-data ELT engine.

    python3 perfbench/run.py --workload warehouse_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one workload as a
single client in a closed loop: the next operation starts when the
previous one returns; parallelism inside an operation is Spark's
``local[<cpus>]``. The seed makes the inputs (``inputs.py``); the
program only sees the generated files.

A run sets up the session three times (the first one launches the JVM)
and reports the median, runs one cold pass on the fresh session, then
warm passes until ``--seconds`` have been spent on them (at least three).
Every operation's output is checked outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's public functions in spans, reads Spark's status store per
operation, and prints the per-layer metrics instead (spans are written
to ``.perfbench/traces/``). The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds host and input facts, sample counts and any failure messages.

All files of a run live under ``.perfbench/run-*`` in the checkout and
are removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs as inputs_mod  # noqa: E402
from perfbench.trace import Patcher, Tracer, self_times  # noqa: E402
from perfbench.workloads import ANALYTICS_QUERIES, WORKLOADS  # noqa: E402

PACKAGE = "open_data_pipelines_spark"

SETUPS = 3
MIN_WARM_PASSES = 3
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
PER_QUERY_OPS = "queries.{}.op_s"
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.load_tables_s": "s",
    "pipelines.run_monthly_ingest_s": "s",
    "sources.fetch_and_extract_s": "s",
    "sources.read_csv_bronze_s": "s",
    "sinks.write_month_partition_s": "s",
    "sinks.write_month_partition.calls": "count",
    "sinks.metadata_log_s": "s",
    "sinks.overwrite_table_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "streaming.stream_scd2_s": "s",
    "streaming.batches": "count",
    "operators.scd2_merge_s": "s",
    "operators.scd2_initial_load_s": "s",
    "plans.impact_scores_s": "s",
    "operators.train_ngram_lm_s": "s",
    "caching.drain_prefetch_s": "s",
    "caching.cached_mb": "MB",
    "queries.build_s": "s",
    "queries.action_s": "s",
    **{PER_QUERY_OPS.format(q): "s" for q in ANALYTICS_QUERIES},
    "op_s.p50": "s",
    "op_s.p90": "s",
    "bench.op_self_s": "s",
    "spark.jobs": "count",
    "spark.jobs_unlabeled": "count",
    "spark.driver_only_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_busy_ratio": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew_max": "ratio",
    "spark.stages": "count",
    "spark.stages_skipped_ratio": "ratio",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.self_sum_error_ms": "ms",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--plant-delay-ms",
        type=float,
        default=0.0,
        help="sleep this long inside every sinks.writers.write_month_partition "
        "call (attribution self-test)",
    )
    return p.parse_args(argv)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_facts(spark, loadavg: float) -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "jvm_max_heap_mb": spark._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20,
        "loadavg_1m_start": loadavg,
    }


class Context:
    """What a workload needs: the session, inputs, tracer and run dir."""

    def __init__(self, seed: int, out: Path, tracer: Tracer) -> None:
        self.seed = seed
        self.out = out  # everything the program writes
        self.tracer = tracer
        self.spark = None
        self.inputs = None


def setup_once(ctx: Context, conf: dict) -> float:
    from open_data_pipelines_spark.session import get_spark, load_tables

    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark", trace_id=-1):
        ctx.spark = get_spark("perfbench", extra_conf=conf)
    with ctx.tracer.span("session.load_tables", trace_id=-1):
        load_tables(ctx.spark, ctx.inputs.sf_dir)
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_seconds(pids: tuple) -> float:
    """User + system CPU time of the given processes (all their threads)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def part_files_since(root: Path, since: float) -> tuple[int, int]:
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("part-"):
                st = os.stat(os.path.join(dirpath, f))
                if st.st_mtime >= since:
                    n += 1
                    size += st.st_size
    return n, size


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


class Runner:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.tracer = Tracer(enabled=bool(args.trace))
        self.ctx = Context(args.seed, work / "out", self.tracer)
        self.ctx.out.mkdir(parents=True)
        self.workload = None
        self.ledger = None
        self.attempted = 0
        self.failed: dict[tuple[int, str], str] = {}  # (pass, op) -> why
        self.next_trace_id = 0

    # -- one pass ---------------------------------------------------------
    def run_pass(self, pass_no: int) -> dict:
        ctx, tracer, workload = self.ctx, self.tracer, self.workload
        sc = ctx.spark.sparkContext
        ops = workload.pass_ops(pass_no)
        wall0 = time.time()
        op_times: dict[str, float] = {}
        op_cpu: dict[str, float] = {}
        counters = []
        layer = {}
        failed: dict[str, str] = {}
        cached = 0.0
        sum_err = 0.0
        for op in ops:
            trace_id = self.next_trace_id
            self.next_trace_id += 1
            group = f"perfbench-{pass_no}-{trace_id}"
            sc.setJobGroup(group, f"{workload.name}:{op.name}")
            w0 = time.time()
            c0 = cpu_seconds(self.pids)
            t0 = time.perf_counter()
            result, err = None, None
            try:
                with tracer.operation(trace_id, f"op.{op.name}"):
                    result = op.run()
            except Exception as ex:  # an operation that raises is a failure, not an abort
                err = f"raised {type(ex).__name__}: {str(ex)[:300]}"
            dt = time.perf_counter() - t0
            op_cpu[op.name] = cpu_seconds(self.pids) - c0
            w1 = time.time()
            op_times[op.name] = dt
            if self.ledger is not None:
                counters.append(self.ledger.read(group, w0, w1))
                cached += self.ledger.cached_mb()
            sc.setJobGroup(f"perfbench-check-{trace_id}", "output check")
            if err is None and op.check is not None:
                try:
                    op.check(result)
                except Exception as ex:
                    err = f"check: {type(ex).__name__}: {str(ex)[:300]}"
            if err is not None:
                failed[op.name] = err
            if self.ledger is not None:
                self.ledger.skip()  # the check's jobs belong to no operation
            if tracer.enabled:
                spans = [s for s in tracer.spans if s.trace_id == trace_id]
                selfs = self_times(spans)
                root = next(s for s in spans if s.parent_id is None)
                sum_err = max(sum_err, abs(sum(selfs.values()) - (root.end - root.start)))
                for s in spans:
                    name = "bench.op_self" if s is root else s.name
                    layer[name + "_s"] = layer.get(name + "_s", 0.0) + selfs[s.span_id]
                    layer[name + ".calls"] = layer.get(name + ".calls", 0) + 1
        workload.after_pass()
        if self.ledger is not None:
            self.ledger.skip()
        self.attempted += len(ops)
        self.failed.update(((pass_no, name), msg) for name, msg in failed.items())
        pass_s = sum(op_times.values())
        out = {"pass_s": pass_s, "op_times": op_times, "pass_cpu_s": sum(op_cpu.values())}
        if tracer.enabled:
            from perfbench.sparkstats import pass_totals

            spark_c = pass_totals(counters)
            stages = spark_c.get("spark.stages", 0)
            spark_c["spark.stages_skipped_ratio"] = (
                spark_c.get("spark.stages_skipped", 0) / stages if stages else 0.0
            )
            spark_c["spark.executor_busy_ratio"] = spark_c.get("spark.executor_run_s", 0.0) / (
                pass_s * sc.defaultParallelism
            )
            spark_c.pop("spark.stages_skipped", None)
            layer.update(spark_c)
            layer["caching.cached_mb"] = cached
            files, size = part_files_since(ctx.out, wall0)
            layer["sinks.files_written"] = files
            input_bytes = getattr(workload, "input_bytes", 0)
            layer["sinks.bytes_per_input_byte"] = size / input_bytes if input_bytes else 0.0
            for name, t in op_times.items():
                layer[PER_QUERY_OPS.format(name)] = t
            layer["trace.self_sum_error_ms"] = sum_err * 1e3
            out["layer"] = layer
        return out

    # -- whole run ----------------------------------------------------------
    def run(self) -> dict:
        args, ctx = self.args, self.ctx
        loadavg = os.getloadavg()[0]
        phases = {}
        t_phase = time.perf_counter()

        def phase(name):
            nonlocal t_phase
            now = time.perf_counter()
            phases[name] = now - t_phase
            t_phase = now

        ctx.inputs = inputs_mod.make_inputs(args.workload, args.seed, self.work / "inputs")
        input_facts = ctx.inputs.facts()
        phase("inputs")

        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        conf = {
            "spark.sql.warehouse.dir": str(ctx.out / "spark-warehouse"),
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} "
                f"-Dderby.system.home={self.work / 'derby'}"
            ),
            "spark.sql.catalogImplementation": "in-memory",
            "spark.ui.showConsoleProgress": "false",
        }
        setups = []
        for i in range(SETUPS):
            if i:
                ctx.spark.stop()
            setups.append(setup_once(ctx, conf))
        ctx.spark.sparkContext.setLogLevel("ERROR")
        phase("setups")
        facts = {"host": host_facts(ctx.spark, loadavg), "inputs": input_facts}

        self.pids = ("self", ctx.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.workload = WORKLOADS[args.workload](ctx)
        self.workload.prepare()
        phase("prepare")

        patcher = Patcher(PACKAGE)
        if args.trace or args.plant_delay_ms:
            from open_data_pipelines_spark.sinks import writers

            delay = args.plant_delay_ms / 1e3
            patcher.patch(
                writers,
                "write_month_partition",
                lambda f: self.tracer.wrap(f, "sinks.write_month_partition", delay_s=delay),
            )
        if args.trace:
            from perfbench.sparkstats import JobLedger

            self.workload.instrument(patcher, self.tracer)
            self.ledger = JobLedger(ctx.spark)

        cold = self.run_pass(0)
        phase("cold_pass")
        warm = []
        t_warm = time.perf_counter()
        max_passes = self.workload.max_passes or float("inf")
        while len(warm) < MIN_WARM_PASSES or (
            time.perf_counter() - t_warm < args.seconds and len(warm) + 2 < max_passes
        ):
            warm.append(self.run_pass(len(warm) + 1))

        passes = 1 + len(warm)
        if self.tracer.enabled:
            # one more warm pass with tracing off: the tracing overhead
            self.tracer.enabled = False
            self.ledger = None
            patcher.restore()
            untraced = self.run_pass(passes)
            passes += 1
        phase("warm_passes")
        for key, msg in self.workload.finish(passes).items():
            self.failed.setdefault(key, msg)
        metrics_info = {"phases_s": phases}
        # each operation's median over the warm passes, then percentiles
        # across operations: a burst in one pass moves no percentile
        op_medians = [
            statistics.median(p["op_times"][name] for p in warm) for name in warm[0]["op_times"]
        ]
        if args.trace:
            metrics = per_layer_metrics(warm, self.tracer.spans)
            metrics["op_s.p50"] = statistics.median(op_medians)
            metrics["op_s.p90"] = quantile(op_medians, 0.9)
            traced_pass = statistics.median(p["pass_s"] for p in warm)
            metrics["trace.pass_s"] = traced_pass
            metrics["trace.untraced_pass_s"] = untraced["pass_s"]
            metrics["trace.overhead_s"] = traced_pass - untraced["pass_s"]
            trace_dir = ROOT / ".perfbench" / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            self.tracer.write(str(trace_dir / f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            rss = {
                "python": vm_hwm_mb("self"),
                "jvm": vm_hwm_mb(ctx.spark._jvm.java.lang.ProcessHandle.current().pid()),
            }
            metrics = {
                "setup_s": statistics.median(setups),
                "cold_pass_s": cold["pass_s"],
                "pass_s": statistics.median(p["pass_s"] for p in warm),
                "peak_rss_mb": rss["python"] + rss["jvm"],
            }
            metrics_info |= {
                "samples": {"setup_s": len(setups), "pass_s": len(warm), "op_s": len(op_medians)},
                "setups_s": setups,
                "peak_rss_mb": rss,
                "warm_passes_s": [p["pass_s"] for p in warm],
                "warm_passes_cpu_s": [p["pass_cpu_s"] for p in warm],
                "cold_pass_cpu_s": cold["pass_cpu_s"],
                "cold_op_s": cold["op_times"],
                "warm_op_s": warm[-1]["op_times"],
            }
        failures = [f"pass {n} {op}: {msg}" for (n, op), msg in sorted(self.failed.items())]
        if args.trace and metrics["trace.self_sum_error_ms"] > 1.0:
            failures.append("span self times do not sum to the operations' wall time")
        info = {"workload": args.workload, "seed": args.seed, **facts, **metrics_info}
        info["failures"] = failures
        print(json.dumps({"info": info}), flush=True)
        return {
            "correct": not failures,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": metrics,
        }


def per_layer_metrics(warm: list[dict], spans) -> dict:
    """Median over the warm passes of each per-layer value; the session
    layer comes from the setup spans (median over the setups)."""
    from perfbench.sparkstats import median_dicts

    layer = median_dicts([p["layer"] for p in warm])
    layer["streaming.batches"] = layer.get("operators.scd2_merge.calls", 0) + layer.get(
        "operators.scd2_initial_load.calls", 0
    )
    out = {k: layer.get(k, 0.0) for k in PER_LAYER}
    for name in ("session.get_spark", "session.load_tables"):
        ds = [s.end - s.start for s in spans if s.name == name and s.trace_id == -1]
        out[name + "_s"] = statistics.median(ds)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench" / f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    runner = Runner(args, work)
    try:
        result = runner.run()
    finally:
        if runner.ctx.spark is not None:
            stop_spark(runner.ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
