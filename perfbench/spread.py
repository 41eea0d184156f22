"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (IQR as a share of the median),
next to the bound ``BENCHMARK.json`` fixes for it.

    python3 perfbench/spread.py --workload analytics_queries --seeds 1-10

Runs are sequential; every run's result line is appended to ``--log``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--log", default=str(ROOT / ".perfbench" / "spread.jsonl"))
    p.add_argument("extra", nargs="*", help="extra arguments for run.py")
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    Path(args.log).parent.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {}
    walls = []
    ok = True
    for seed in seeds_of(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace), *args.extra]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            ok = False
            continue
        result = json.loads(lines[-1])
        with open(args.log, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": walls[-1],
                                 "info": json.loads(lines[-2])["info"] if len(lines) > 1 else None,
                                 "result": result}) + "\n")
        ok &= result["correct"] and result["failed"] == 0
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        flag = "" if bound is None else (" OK" if spread < bound / 3 else " WIDE")
        print(f"{k:>14}: median {med:.4g}  spread {spread:.3f}"
              + (f"  bound {bound}{flag}" if bound is not None else ""))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
