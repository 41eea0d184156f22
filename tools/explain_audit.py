"""Physical-plan audit across the query registry.

For every registered query, summarize the executed plan: join
strategies, exchange count, parquet pushdown, and read-schema width —
the checklist from the scale brief (does the filter reach the scan, is
the dim join broadcast, is there an avoidable shuffle). Writes
EXPLAIN_AUDIT.md.

Each query is compiled ONCE in production shape (reuse checkpoints
on) under ``caching.collect_checkpoint_segments``, then built again
and RUN once. Three shuffle readings per query:

- **Σ**: exchanges in the top plan plus every reuse checkpoint's
  compiled subtree, recorded before truncation. Checkpoint boundaries
  partition the plan, so the sum sees every checkpointed subtree; a
  subtree reused WITHOUT a checkpoint counts once per appearance
  (upper bound).
- **ckpt**: exchanges in the top plan alone — checkpointed subtrees
  truncate to ``Scan ExistingRDD`` and their internal shuffles are
  hidden (lower bound).
- **executed**: shuffle-map stages that actually ran when the query
  executed to a noop sink, read in-process from the Spark status store
  (``metrics.shuffle_stages_run``: stages of the query's job group
  with shuffle-write output). Each exchange writes its shuffle at most
  once however many plan subtrees reference it, so ``executed <= Σ``;
  it can fall BELOW ``ckpt`` when AQE elides a planned exchange at
  runtime (minmax_norm, impact_score in the committed audit) or when
  a shuffle write is entirely empty (then indistinguishable from a
  result stage). Plan text counts intentions; this column counts what
  ran.

The other columns (joins, sorts, pushdown, scan widths) read from
the same Σ of top plan and segments.

Usage::

    python tools/explain_audit.py [sf_dir] [--only name1,name2] [--json]

``--only`` restricts to a comma-separated subset; ``--json`` prints
one JSON line per query (machine-readable, used by the test) instead
of writing EXPLAIN_AUDIT.md.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from open_data_pipelines_spark import metrics  # noqa: E402
from open_data_pipelines_spark.caching import collect_checkpoint_segments  # noqa: E402


def summarize(plan: str) -> dict:
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffle_hash_joins": plan.count("ShuffledHashJoin"),
        # substring 'Exchange' also matches BroadcastExchange (not a
        # shuffle) — subtract it so the column measures actual shuffles
        "shuffles": plan.count("Exchange") - plan.count("BroadcastExchange"),
        "pushed_filters": sum(1 for p in pushed if p.strip()),
        "scan_widths": [len(s.split(",")) for s in schemas],
        # SortExec prints "Sort [keys], <global>, 0" — only global=true
        # is a whole-dataset sort (SMJ/window sorts are partition-local
        # and print false); previously computed but never emitted, and
        # the old heuristic also counted local sorts (round-9 review)
        "global_sorts": len(re.findall(r"Sort \[[^\]]*\], true,", plan)),
    }


def executed_shuffles(spark, fn, sf_dir: str, group: str) -> tuple[int, int]:
    """(run, total) executed shuffle counts for one query.

    ``run`` covers the final noop-sink action only — the shuffles the
    production-shape plan actually executes. ``run <= Σ`` always
    (an exchange executes at most once per appearance); it
    usually also sits at or above ``ckpt``, but AQE can land it BELOW
    the plan-text lower bound by eliding a planned exchange at
    runtime (empty-relation/broadcast replans — the committed audit
    shows minmax_norm 3/3 -> 2 and impact_score 5/5 -> 4), and a
    stage whose shuffle write is entirely empty is indistinguishable
    from a result stage and goes uncounted. Executed-below-planned is
    the truth, not an error — the column exists to replace plan-text
    guesses with what ran. ``total`` adds the query's BUILD phase:
    operators that internally materialize (eager checkpoints,
    model-training collects like the corpus funnel's LM fit) execute
    real shuffles before the final action that no plan text can
    show — ``total`` is the number a regression audit should watch."""
    sc = spark.sparkContext
    sc.setJobGroup(f"{group}.build", group)
    try:
        df = fn(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    sc.setJobGroup(f"{group}.run", group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc._jsc.clearJobGroup()
    run = metrics.shuffle_stages_run(spark, f"{group}.run")
    build = metrics.shuffle_stages_run(spark, f"{group}.build")
    return run, run + build


def audit_query(spark, fn, sf_dir: str, name: str) -> dict:
    """One registry row: the Σ summary (top plan + every reuse
    checkpoint's pre-truncation segment), the top plan's own shuffle
    count, and the executed shuffle counts. The Σ bounds ``run`` (the
    final action); ``total`` additionally counts build-phase driver
    actions (model-training aggregations) that no plan text covers."""
    with collect_checkpoint_segments() as segs:
        top_plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    top = summarize(top_plan)
    parts = [top, *(summarize(p) for p in segs)]
    # fresh build for the run: the compile above may have primed
    # lazy-checkpoint handles whose blocks would hide work
    executed, executed_total = executed_shuffles(spark, fn, sf_dir, f"audit_{name}")
    spark.catalog.clearCache()
    s = {k: sum(p[k] for p in parts) for k in top if k != "scan_widths"}
    s["scan_widths"] = [w for p in parts for w in p["scan_widths"]]
    s["segments"] = len(segs)
    s["ckpt_shuffles"] = top["shuffles"]
    s["executed_shuffles"] = executed
    s["executed_total_shuffles"] = executed_total
    return s


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query-name subset (both --only=a,b and --only a,b work)",
    )
    ap.add_argument("--json", action="store_true", dest="as_json")
    ns = ap.parse_args()
    sf_dir = ns.sf_dir
    only: set[str] | None = set(ns.only.split(",")) if ns.only else None
    as_json = ns.as_json
    if not os.path.isdir(sf_dir):
        ap.error(f"sf_dir {sf_dir!r} is not a directory")

    import __spark_entry__ as e
    from open_data_pipelines_spark.session import get_spark

    registry = e.queries()
    if only is not None:
        unknown = only - set(registry)
        if unknown:
            ap.error(f"--only names not in the query registry: {sorted(unknown)}")
    ordered = [n for n in registry if only is None or n in only]

    spark = get_spark("explain_audit")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# EXPLAIN audit",
        "",
        f"Physical-plan summary per registered query at `{sf_dir}`",
        "(local sizes — join strategy picks differ at cluster scale; the",
        "point is that dims broadcast, filters push, scans prune).",
        "",
        "Every query is compiled ONCE in production shape and then RUN",
        "once. While it compiles, each reuse checkpoint records its",
        "subtree's compiled plan before truncation",
        "(`caching.collect_checkpoint_segments`). The shuffles column",
        "shows `Σ/ckpt`: `ckpt` counts the top plan alone, where",
        "checkpointed subtrees truncate to `Scan ExistingRDD` (lower",
        "bound); `Σ` adds every recorded segment, and a subtree reused",
        "without a checkpoint counts once per appearance (upper bound).",
        "`segments` is the number of segments summed. The `executed`",
        "column is what actually RAN: shuffle-map stages (completed",
        "tasks + shuffle-write output, read from the status store) when",
        "the query executed to a noop sink — shown as `run(total)`,",
        "where `total` adds the query's build phase (eager checkpoints,",
        "model-training collects) that executes real shuffles no plan",
        "text shows. `run <= Σ` always; AQE can land it below `ckpt`",
        "too by eliding a planned exchange at runtime — executed-below-",
        "planned is the measurement working, not an error. `total` is",
        "the number a regression audit should watch. The other columns",
        "read from the same Σ of top plan and segments.",
        "",
        "| query | broadcast | sort-merge | shuffle-hash | shuffles Σ/ckpt | segments | executed | global sorts | pushed filters | scan widths |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    audited = 0
    for name in ordered:
        try:
            s = audit_query(spark, registry[name], sf_dir, name)
            audited += 1
            lines.append(
                f"| {name} | {s['broadcast_joins']} | {s['sortmerge_joins']} | "
                f"{s['shuffle_hash_joins']} | {s['shuffles']}/{s['ckpt_shuffles']} | "
                f"{s['segments']} | "
                f"{s['executed_shuffles']}({s['executed_total_shuffles']}) | "
                f"{s['global_sorts']} | "
                f"{s['pushed_filters']} | {s['scan_widths']} |"
            )
            if as_json:
                print(json.dumps({"query": name, **s}))
        except Exception as ex:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {str(ex)[:60]} | | | | | | | | |")
            if as_json:
                print(json.dumps({"query": name, "error": str(ex)[:200]}))

    if not as_json:
        out = "EXPLAIN_AUDIT.md"
        with open(out, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print(f"wrote {out} ({audited} queries)")


if __name__ == "__main__":
    main()
