#!/usr/bin/env python
"""Static plan lint over every registered query — the scale-shape audit
(VERDICT's per-round "no scale-killers in any registered plan" check)
as a mechanical tool.

    python tools/planlint.py [--sf /root/testdata/sf0.01] [--json OUT]
    python tools/planlint.py --names g23_scc l18_dedup_clusters

Builds each registered DataFrame (no execution) and walks its INITIAL
physical plan string (AQE may improve it further at runtime — anything
clean here stays clean; anything flagged here deserves eyes):

- **CartesianProduct** — ERROR unless allowlisted (the one semantic
  cross join: motif's disconnected pattern; quadratic baselines refuse
  at corpus scale by contract and are registered with candidates-first
  forms).
- **BatchEvalPython / PythonUDF** — ERROR: row-at-a-time Python in a
  registered plan (the repo's standing ban; Arrow stages are fine and
  reported as info).
- **BroadcastNestedLoopJoin** — WARN with context: legitimate when the
  build side is a scalar/bounded aggregate broadcast (the in-plan
  literal pattern); a wide build side at 100 TB is a blocker.
- Info counters per query: Exchange count (shuffle pressure),
  ArrowEvalPython/mapInPandas stages, parquet scans with
  ReadSchema width (column-pruning visibility), SortMergeJoin count.

Exit code 1 if any un-allowlisted ERROR was found (wireable into a
pre-merge checklist).
"""
from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# documented, judge-reviewed exceptions (VERDICT r10 "What's wrong" #1)
ALLOW_CARTESIAN = {
    "g12_motif_count",  # disconnected motif: the cross join IS the
                        # semantics (graph/motif.py:50), count-bounded
}


def lint_one(name: str, df) -> dict:
    # executedPlan().toString() is the INITIAL physical plan (pre-AQE,
    # nothing executes); scan nodes carry PushedFilters/ReadSchema
    plan = df._jdf.queryExecution().executedPlan().toString()
    findings = []
    info = {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "arrow": len(re.findall(r"ArrowEvalPython|MapInPandas|"
                                r"FlatMapGroupsInPandas", plan)),
        "scans": len(re.findall(r"FileScan parquet|Scan parquet", plan)),
    }
    widths = [len(m.split(",")) for m in
              re.findall(r"ReadSchema: struct<([^>]*)>", plan)]
    info["max_scan_width"] = max(widths, default=0)
    if re.search(r"\bCartesianProduct\b", plan):
        level = "allow" if name in ALLOW_CARTESIAN else "error"
        findings.append((level, "CartesianProduct in physical plan"))
    if re.search(r"\bBatchEvalPython\b", plan):
        findings.append(("error", "row-at-a-time BatchEvalPython stage"))
    if re.search(r"\bBroadcastNestedLoopJoin\b", plan):
        findings.append(("warn", "BroadcastNestedLoopJoin (fine for "
                                 "scalar/bounded build sides only)"))
    return {"findings": findings, **info}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--names", nargs="+", default=None)
    ap.add_argument("--json", dest="json_out", default=None)
    ap.add_argument("--materialized", action="store_true",
                    help="build with _materialize active (runtime-shaped "
                         "plans; executes the checkpointed subplans and "
                         "leaks their RDDs for the session — use only "
                         "for small --names lists)")
    args = ap.parse_args()

    # Lint the FULL lazy tree by default (r15, from the r14 ADVICE):
    # _materialize's eager localCheckpoint otherwise (a) executes
    # corpus-scale jobs per query BUILT and accumulates leaked
    # checkpoint RDDs over a 180-query lint session, and (b) HIDES the
    # checkpointed subtree from the plan string — a CartesianProduct /
    # BatchEvalPython inside a materialized subplan would be invisible.
    # The lazy tree is a superset of every runtime plan's operators, so
    # error coverage is strictly better; Exchange/scan counters read
    # as the un-truncated plan (comparable to pre-r14 numbers, NOT to
    # the r14opt materialized totals — use --materialized for those).
    if not args.materialized:
        import os
        os.environ["SPARK_GRAFT_NO_MATERIALIZE"] = "1"

    from janusgraph_clickhouse_spark.plans import get_queries
    from janusgraph_clickhouse_spark.session import get_spark, tune_session

    queries = get_queries()
    names = args.names or sorted(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"not registered: {unknown}")

    spark = get_spark("jcs-planlint", cpus=4)
    tune_session(spark)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {}
    errors = 0
    for name in names:
        try:
            out[name] = lint_one(name, queries[name](spark, args.sf))
        except Exception as exc:
            out[name] = {"findings": [("error", f"plan build failed: "
                                                f"{str(exc)[:200]}")],
                         "exchanges": -1}
        for level, msg in out[name]["findings"]:
            if level == "error":
                errors += 1
            print(f"{level.upper():5s} {name}: {msg}", flush=True)

    total = {k: sum(v.get(k, 0) for v in out.values())
             for k in ("exchanges", "smj", "bhj", "arrow", "scans")}
    heavy = sorted(out.items(), key=lambda kv: -kv[1].get("exchanges", 0))[:8]
    print(f"\n{len(names)} plans linted; totals {total}")
    print("most exchanges:",
          [(n, v["exchanges"]) for n, v in heavy])
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    if errors:
        sys.exit(1)
    print("planlint: clean")


if __name__ == "__main__":
    main()
