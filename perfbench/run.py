"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  The run generates its
inputs from ``--seed`` inside its own directory under ``.perfbench/``,
starts a ``local[nproc]`` session through ``session.get_spark``, sets the
workload up, runs whole rounds of its operations until ``--seconds`` of
timed work have passed, checks every output against an independent
computation and removes its directory.  The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A record with the host load, the op latencies and (traced) the spans is
kept under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import statistics
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "janusgraph_clickhouse_spark"
OUT = os.path.join(ROOT, ".perfbench")

import harness  # noqa: E402
import workloads  # noqa: E402


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """The end-to-end and per-layer metrics BENCHMARK.json names, with
    their units: every run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


# per-layer metrics of llm_curation, a workload BENCHMARK.json does not
# name: only its traced runs print them, after the declared ones
EXTRA_PER_LAYER = {"llm_curation": {"llm.minhash_dedup_pairs_s": "s",
                                    "llm.dedup_clusters_s": "s"}}


def import_package() -> types.SimpleNamespace:
    """The package's public modules, imported from this checkout only."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"no {PACKAGE}/ beside perfbench/: run from a checkout")
    sys.path.insert(0, ROOT)
    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"{PACKAGE} imported from outside the checkout")
    m = {name: importlib.import_module(f"{PACKAGE}.{name}") for name in (
        "session", "sources", "operators", "functions", "graph",
        "graph.persistence", "graph.algorithms", "llm.dedup", "llm.text",
        "llm.similarity", "streaming")}
    return types.SimpleNamespace(
        session=m["session"], sources=m["sources"], operators=m["operators"],
        P=m["functions"].P, graph=m["graph"],
        persistence=m["graph.persistence"], algorithms=m["graph.algorithms"],
        dedup=m["llm.dedup"], text=m["llm.text"],
        similarity=m["llm.similarity"], streaming=m["streaming"])


def wall_figures(ctx, elapsed: float) -> dict:
    """Throughput and median read latency in wall-clock time.  They are
    kept in the run's record, not printed as metrics: other tenants of a
    shared host move them by more than any bound (see README.md)."""
    done = [o for o in ctx.ops if o.ok]
    return {"ops_per_s": len(done) / elapsed,
            "op_p50_s": statistics.median(o.latency for o in done
                                          if not o.write)}


def cpu_per_op(ctx, cpu_s: float) -> float:
    return cpu_s / sum(o.ok for o in ctx.ops)


SETUP_SPANS = ("session.get_spark", "session.tune_session",
               "sources.load_tables", "graph.ensure_clustered_graph")


def per_layer(ctx, w, tracer, first_span: int, cpu_s: float) -> dict:
    """Medians of the spans around each named call (set-up calls from the
    set-up, operation calls from the timed phase), and Spark's counts per
    operation, averaged over the operations of one layer.  A metric of a
    layer the workload never calls reads 0."""
    med = harness.median_or_zero
    m = {f"{span}_s": med(d)
         for span, d in tracer.durations(first_span).items()}
    setup = tracer.durations()
    m.update({f"{span}_s": med(setup.get(span, [])) for span in SETUP_SPANS})

    def per_op(layer: str, attr: str) -> float:
        # graph traversals are reads, not whole-graph jobs: the graph
        # counts are those of the algorithm calls
        cs = [c for c in tracer.counts
              if c.layer == layer and c.kind != "traversal"]
        return sum(getattr(c, attr) for c in cs) / len(cs) if cs else 0.0

    reads = [c for c in tracer.counts if c.layer == "operators"]
    rows_out = sum(c.rows for c in reads)
    m["operators.jobs_per_op"] = per_op("operators", "jobs")
    m["operators.tasks_per_op"] = per_op("operators", "tasks")
    m["sources.input_bytes_per_op"] = per_op("operators", "input_bytes")
    m["sources.rows_read_per_row_returned"] = (
        sum(c.input_records for c in reads) / rows_out if rows_out else 0.0)
    m["graph.jobs_per_op"] = per_op("graph", "jobs")
    m["graph.tasks_per_op"] = per_op("graph", "tasks")
    m["graph.shuffle_bytes_per_op"] = per_op("graph", "shuffle_bytes")
    m["llm.tasks_per_op"] = per_op("llm", "tasks")
    m["llm.shuffle_bytes_per_op"] = per_op("llm", "shuffle_bytes")
    commits = getattr(w, "commit_bytes", [])
    m["streaming.write_p50_s"] = med(getattr(w, "write_lat", []))
    m["streaming.jobs_per_commit"] = (
        sum(j for j, _, _ in commits) / len(commits) if commits else 0.0)
    m["streaming.bytes_written_per_user_byte"] = (
        sum(b for _, b, _ in commits) / sum(u for _, _, u in commits)
        if commits else 0.0)
    m["streaming.table_bytes"] = med(getattr(w, "table_bytes", []))
    m["trace.cpu_s_per_op"] = cpu_per_op(ctx, cpu_s)
    names = declared_metrics()[1] | EXTRA_PER_LAYER.get(w.name, {})
    return {k: {"value": m.get(k, 0.0), "unit": unit}
            for k, unit in names.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["TZ"] = "UTC"
    time.tzset()
    cpus = len(os.sched_getaffinity(0))
    pkg = import_package()
    w = workloads.WORKLOADS[args.workload]()
    load_before = harness.host_load()
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "clients": 1, "cpus": cpus, "host_before": load_before}
    with harness.RunDirs(OUT, args.workload, args.seed) as dirs:
        w.generate(args.seed, dirs.data)
        dirs.isolate()
        tracer = harness.Tracer(bool(args.trace))
        sp = None
        try:
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                sp = harness.SparkProcess(pkg.session, cpus)
            tracer.bind(sp.sc)
            with tracer.span("session.tune_session"):
                pkg.session.tune_session(sp.spark)
            ctx = workloads.Ctx(sp.spark, pkg, tracer, dirs.data, dirs.work,
                                args.seed, sp.cpu_s)
            w.setup(ctx)
            ctx.ops.clear()           # warm-up operations are set-up
            tracer.counts.clear()
            first_span = len(tracer.spans)
            ctx.paused = ctx.paused_cpu = 0.0
            cpu0 = sp.cpu_s()
            t_first = time.perf_counter()
            setup_s = t_first - t0
            rounds = []               # (wall s, CPU s, operations) each
            while True:
                w.round(ctx)
                rounds.append((time.perf_counter() - t_first - ctx.paused,
                               sp.cpu_s() - cpu0 - ctx.paused_cpu,
                               len(ctx.ops)))
                elapsed = rounds[-1][0]
                if elapsed >= args.seconds:
                    break
            cpu_s = rounds[-1][1]
            rss = sp.peak_rss_mb()
            w.verify(ctx)
        finally:
            if hasattr(w, "close"):
                w.close()
            if sp is not None:
                sp.stop()
    attempted = len(ctx.ops)
    failed = sum(not o.ok for o in ctx.ops)
    if args.trace:
        metrics = per_layer(ctx, w, tracer, first_span, cpu_s)
    else:
        values = {"setup_s": setup_s, "cpu_s_per_op": cpu_per_op(ctx, cpu_s),
                  "peak_rss_mb": rss}
        metrics = {k: {"value": values[k], "unit": unit}
                   for k, unit in declared_metrics()[0].items()}
    for p in ctx.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    record.update({
        "host_after": harness.host_load(), "elapsed_s": elapsed,
        "setup_s": setup_s, "cpu_s": cpu_s,
        "wall": wall_figures(ctx, elapsed), "rounds": rounds,
        "metrics": metrics, "problems": ctx.problems,
        "ops": [[o.kind, o.write, round(o.latency, 6), o.ok] for o in ctx.ops]})
    if args.trace:
        record["trace"] = tracer.dump()
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(OUT, "results", f"{args.workload}-s{args.seed}-"
                           f"t{args.trace}-{stamp}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f)
    print(f"timed phase: {attempted} operations, {elapsed:.3f} s wall, "
          f"{cpu_s:.3f} CPU s; wall figures {record['wall']}", file=sys.stderr)
    print(f"host before {load_before} after {record['host_after']}",
          file=sys.stderr)
    print(json.dumps({"correct": not ctx.problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
