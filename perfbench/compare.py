"""Two sets of runs of the same code, compared metric by metric.

    python3 perfbench/compare.py [--runs 10] [--sets 2] [--workloads a,b]
                                 [--traced 3] [--seed-base 1]

Run from the root of a checkout.  For every workload in BENCHMARK.json
(or --workloads) it makes --sets sets of --runs untraced runs, each run
with its own seed.  The sets alternate run by run and the workloads
alternate within each step, so a slow spell of the host falls on every set
and workload alike.  For each end-to-end metric and workload it
prints each set's median and quartiles, the spread (Q3 - Q1) / median, and
whether the spread and the change of median between the sets stay within
the metric's bound.  --traced adds traced runs and reports the tracing
overhead: (traced CPU s/op) / (untraced CPU s/op) - 1, medians.
A JSON copy of the report is written under .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    wall = time.monotonic() - t
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--seed-base", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    secs = bench["run_seconds"]

    runs: dict[tuple[str, int], list[dict]] = {}
    seed = args.seed_base
    # the sets alternate run by run, so a change in the host's speed falls
    # on both sets alike instead of between them
    for i in range(args.runs * args.sets):
        s = i % args.sets
        for w in names:
            r = run_once(w, seed, secs, 0)
            runs.setdefault((w, s), []).append(r)
            print(f"set {s + 1} {w} seed {seed}: wall {r['wall_s']:.1f}s "
                  f"failed {r['failed']}/{r['attempted']} correct "
                  f"{r['correct']}", file=sys.stderr)
        seed += 1
    traced: dict[str, list[dict]] = {}
    for _ in range(args.traced):
        for w in names:
            traced.setdefault(w, []).append(run_once(w, seed, secs, 1))
        seed += 1

    report: dict = {"run_seconds": secs, "workloads": {}}
    ok_all = True
    for w in names:
        rw: dict = {"metrics": {}}
        sets = [runs[(w, s)] for s in range(args.sets)]
        rw["correct"] = all(r["correct"] for rs in sets for r in rs)
        rw["failed_share"] = [sum(r["failed"] for r in rs)
                              / sum(r["attempted"] for r in rs) for rs in sets]
        rw["wall_s_median"] = statistics.median(r["wall_s"] for rs in sets for r in rs)
        ok_all &= rw["correct"] and len(set(rw["failed_share"])) == 1
        print(f"\n{w}: correct {rw['correct']}  failed share {rw['failed_share']}"
              f"  median wall {rw['wall_s_median']:.1f}s")
        for name, m in e2e.items():
            per_set = []
            for rs in sets:
                vals = [r["metrics"][name]["value"] for r in rs]
                q1, med, q3 = quartiles(vals)
                per_set.append({"q1": q1, "median": med, "q3": q3,
                                "spread": (q3 - q1) / med, "values": vals})
            worse = [(p["median"] - per_set[0]["median"]) / per_set[0]["median"]
                     * (1 if m["better"] == "lower" else -1) for p in per_set[1:]]
            spread_ok = all(p["spread"] <= m["bound"] for p in per_set)
            agree = all(x <= m["bound"] for x in worse)
            ok_all &= spread_ok and agree
            rw["metrics"][name] = {"sets": per_set, "worse_by": worse,
                                   "spread_ok": spread_ok, "agree": agree}
            cells = "  ".join(f"med {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]"
                              f" spread {p['spread']:.3f}" for p in per_set)
            print(f"  {name:12s} {m['unit']:6s} bound {m['bound']:.2f}  {cells}"
                  f"  worse_by {[round(x, 3) for x in worse]}"
                  f"  {'ok' if spread_ok and agree else 'OUT OF BOUND'}")
        if w in traced:
            untraced = statistics.median(r["metrics"]["cpu_s_per_op"]["value"]
                                         for rs in sets for r in rs)
            t_cpu = statistics.median(r["metrics"]["trace.cpu_s_per_op"]["value"]
                                      for r in traced[w])
            rw["tracing_overhead"] = t_cpu / untraced - 1
            print(f"  tracing overhead: {rw['tracing_overhead']:.3f} "
                  f"(traced {t_cpu:.4g} vs untraced {untraced:.4g} CPU s/op)")
        report["workloads"][w] = rw
    os.makedirs(os.path.join(ROOT, ".perfbench", "results"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench", "results",
                        f"compare-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\n{'all within bounds' if ok_all else 'SOME OUT OF BOUND'}; "
          f"report {os.path.relpath(path, ROOT)}")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
