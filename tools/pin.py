#!/usr/bin/env python
"""Standalone warm best-of-N pins for registered queries — the
adjudication discipline PERF.md applies to every >1.5× bench/sweep
mover (the l04/g06/l18 lineage): in-sweep and in-bench readings on
this box swing ±2.5× under tenant pressure and position effects, so
NOTHING gets a plan read until a standalone pin on a calibrated
window disagrees with the previous round's figure.

Usage:
    python tools/pin.py l18_dedup_clusters l43_bpe_merges
    python tools/pin.py --runs 5 --sf /root/testdata/sf0.1 g23_scc

Prints per query: every warm run, the best-of-(runs-1) pin (run 1 is
the untimed-in-spirit warmup; it is printed but excluded from the
pin), the number of Spark jobs each warm run launched (one job group
per run, counted with the status tracker — a plan-preserving refactor
shows as equal counts, free of timing noise), and row count.
Calibration (solo spin + width-aware process spin + loadavg) brackets
the session so a contaminated window is visible in the record.
Count-based (the steady-state number bench collect-context readings
are compared against, see the g18 note in PERF.md r10).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+", help="registered query names")
    ap.add_argument("--runs", type=int, default=4,
                    help="total runs per query; pin = best of runs-1 "
                         "(run 1 is the warmup)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--json", dest="json_out", default=None,
                    help="optional path to append one JSON line")
    args = ap.parse_args()

    from tools.sweep import _saturation_probe, _spin
    from janusgraph_clickhouse_spark.plans import get_queries
    from janusgraph_clickhouse_spark.session import get_spark, tune_session

    queries = get_queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        sys.exit(f"not registered: {unknown}")

    spark = get_spark("jcs-pin", cpus=args.cpus)
    tune_session(spark)
    spark.sparkContext.setLogLevel("ERROR")

    # untimed warmup: parquet footers (never time a cold scan); the
    # clustered graph cache warms on the first graph query's run 1
    from janusgraph_clickhouse_spark.sources import load_tables
    for df in load_tables(spark, args.sf).values():
        df.limit(1).count()

    record: dict = {"sf_dir": args.sf, "cpus": args.cpus,
                    "saturation_pre": _saturation_probe(),
                    "solo_spin_pre": _spin(), "pins": {}}
    print(f"calibration: solo {record['solo_spin_pre']} "
          f"{record['saturation_pre']}", flush=True)
    tracker = spark.sparkContext.statusTracker()
    for name in args.names:
        times, jobs = [], []
        rows = -1
        for i in range(args.runs):
            group = f"pin-{name}-{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            rows = queries[name](spark, args.sf).count()
            times.append(round(time.perf_counter() - t0, 2))
            jobs.append(len(tracker.getJobIdsForGroup(group)))
        pin = min(times[1:]) if len(times) > 1 else times[0]
        record["pins"][name] = {"warmup": times[0], "warm": times[1:],
                                "best": pin, "rows": rows,
                                "warm_jobs": jobs[1:]}
        print(f"{name}: warm {times[1:]} (warmup {times[0]}) -> "
              f"pin {pin} s, {rows} rows, jobs {jobs[1:]}", flush=True)
    record["saturation_end"] = _saturation_probe()
    record["solo_spin_end"] = _spin()
    print(f"calibration end: solo {record['solo_spin_end']} "
          f"{record['saturation_end']}", flush=True)
    if args.json_out:
        with open(args.json_out, "a") as f:
            f.write(json.dumps(record) + "\n")


if __name__ == "__main__":
    main()
