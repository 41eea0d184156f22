"""Dump .explain('formatted') for the headline queries into plans/r16/.

    python tools/dump_plans.py before|after [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    import __spark_entry__ as entry
    from open_data_pipelines_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r16")
    os.makedirs(outdir, exist_ok=True)
    for name in bench.HEADLINE:
        if only and name not in only:
            continue
        fn = bench.EXTRA.get(name) or qs[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")


if __name__ == "__main__":
    main()
