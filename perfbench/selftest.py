"""Attribution self-test: plant a fixed delay in
``sinks.writers.write_month_partition`` (through the benchmark's own
wrapper, ``run.py --plant-delay-ms``) and check that the benchmark
sees it where it is and nowhere else:

- on ``warehouse_refresh`` the traced self time of
  ``sinks.write_month_partition`` rises by delay x calls per pass, and
  the untraced ``pass_s`` rises;
- on ``analytics_queries``, which never writes a month partition,
  ``pass_s`` moves by less than its bound.

    python3 perfbench/selftest.py --delay-ms 1000 --seed 21
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, seed: int, trace: int, delay_ms: float, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--plant-delay-ms", str(delay_ms)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed} delay {delay_ms}: outputs wrong\n{lines[-2]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--delay-ms", type=float, default=1000.0)
    p.add_argument("--seed", type=int, default=21)
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}["pass_s"]
    secs = bench["run_seconds"]
    delay = args.delay_ms / 1e3
    checks = []

    base = run("warehouse_refresh", args.seed, 1, 0, secs)
    planted = run("warehouse_refresh", args.seed, 1, args.delay_ms, secs)
    calls = planted["sinks.write_month_partition.calls"]
    rise = planted["sinks.write_month_partition_s"] - base["sinks.write_month_partition_s"]
    want = delay * calls
    checks.append(("warehouse_refresh self time of sinks.write_month_partition",
                   f"rose {rise:.3f}s, planted {want:.3f}s ({calls:g} calls)",
                   abs(rise - want) <= 0.1 * want))

    base0 = run("warehouse_refresh", args.seed, 0, 0, secs)
    planted0 = run("warehouse_refresh", args.seed, 0, args.delay_ms, secs)
    rise0 = planted0["pass_s"] - base0["pass_s"]
    checks.append(("warehouse_refresh pass_s", f"rose {rise0:.3f}s of {want:.3f}s planted",
                   rise0 >= 0.5 * want))

    a0 = run("analytics_queries", args.seed, 0, 0, secs)
    a1 = run("analytics_queries", args.seed, 0, args.delay_ms, secs)
    moved = (a1["pass_s"] - a0["pass_s"]) / a0["pass_s"]
    checks.append(("analytics_queries pass_s", f"moved {moved:+.1%} (bound {bound:.0%})",
                   abs(moved) <= bound))

    ok = True
    for name, detail, passed in checks:
        ok &= passed
        print(f"{'PASS' if passed else 'FAIL'}  {name}: {detail}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
