"""Run plumbing shared by every workload.

- ``RunDirs``: the run's own working and temporary directories, removed
  when the run ends.  The Spark JVM is started with its working
  directory, ``java.io.tmpdir`` and ``SPARK_LOCAL_DIRS`` inside them, and
  Python's ``tempfile`` points there too, so the clustered-adjacency
  cache, ``spark-warehouse``/``metastore_db``/``derby.log`` and the
  ``jcs_pyfiles_*`` zip of ``session.tune_session`` never outlive the run
  and every run pays a cold set-up.
- ``SparkProcess``: starts the session through ``session.get_spark``,
  reads the JVM's peak resident memory, and stops the JVM and every
  process it started, waiting until each has ended.
- ``Tracer``: spans around calls into the program's layers (kept in
  memory, written out when the run ends) and per-operation counts read
  from Spark's own job reporting, grouped by job group.  With tracing off
  every call is a no-op.
- ``host_load``: the 1-minute load average and a fixed single-core probe.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import tempfile
import time
from dataclasses import dataclass

# The Spark driver heap, through the package's own knob for it
# (session.get_spark; default 8g).  Under the 8g default the JVM grows its
# heap lazily and peak_rss_mb reads when collections happened to run:
# over five and four seeds its spread was 0.36 (graph_analytics) and 0.54
# (upsert_stream), beyond any bound.  A 1g cap, which every run fills,
# keeps it steady, and keeps a run's footprint small on a shared machine.
DRIVER_MEM = "1g"


class RunDirs:
    """<root>/run-<workload>-<seed>-<pid>/{data,work,tmp}, removed on exit."""

    def __init__(self, root: str, workload: str, seed: int):
        self.base = os.path.join(root, f"run-{workload}-{seed}-{os.getpid()}")
        self.data = os.path.join(self.base, "data")
        self.work = os.path.join(self.base, "work")
        self.tmp = os.path.join(self.base, "tmp")
        self._cwd = os.getcwd()

    def __enter__(self) -> "RunDirs":
        shutil.rmtree(self.base, ignore_errors=True)
        for d in (self.data, self.work, self.tmp):
            os.makedirs(d)
        return self

    def __exit__(self, *exc) -> None:
        os.chdir(self._cwd)
        shutil.rmtree(self.base, ignore_errors=True)

    def isolate(self) -> None:
        """Point this process and the JVM it will start at the run's dirs.
        Must run before the first SparkSession is created."""
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        # -XX:-UsePerfData: the JVM would otherwise write its perf-counter
        # file under /tmp whatever java.io.tmpdir says
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={self.tmp} '
            '-XX:-UsePerfData" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell")
        tempfile.tempdir = self.tmp
        os.chdir(self.work)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


_TICKS = os.sysconf("SC_CLK_TCK")


class SparkProcess:
    """The tuned session of ``session.get_spark`` and the JVM behind it."""

    def __init__(self, session_mod, cpus: int):
        self.spark = session_mod.get_spark(cpus=cpus)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.proc = self.sc._gateway.proc
        self.jvm_pid = self.proc.pid

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and every
        process under it (Python workers included)."""
        total = sum(os.times()[:2])
        for pid in [self.jvm_pid] + descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15]) / _TICKS
        return total

    def stop(self, timeout: float = 60.0) -> None:
        """Stop Spark, end the JVM and every process under it, and wait
        until all of them are gone."""
        from pyspark import SparkContext
        procs = [self.jvm_pid] + descendants(self.jvm_pid)
        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                with contextlib.suppress(Exception):
                    gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            with contextlib.suppress(OSError):
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout)
            except Exception:
                self.proc.kill()
                self.proc.wait(timeout)
            deadline = time.monotonic() + timeout
            for pid in procs:
                while _alive(pid):
                    if time.monotonic() > deadline:
                        with contextlib.suppress(OSError):
                            os.kill(pid, signal.SIGKILL)
                    time.sleep(0.05)


def host_load() -> dict:
    """1-minute load average and the wall and CPU time of a fixed
    single-core loop: a wall time above the CPU time is time the loop
    waited for a core; a CPU time above its usual value is a core that
    runs slower (a busy sibling hyperthread, a lower clock)."""
    t, c = time.perf_counter(), time.thread_time()
    x = 0
    for i in range(2_000_000):
        x += i & 7
    return {"loadavg_1m": os.getloadavg()[0],
            "probe_s": round(time.perf_counter() - t, 4),
            "probe_cpu_s": round(time.thread_time() - c, 4)}


# -- tracing ---------------------------------------------------------------

@dataclass
class Span:
    span_id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0


@dataclass
class OpCounts:
    layer: str
    kind: str
    jobs: int = 0
    tasks: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    rows: int = 0          # rows the operation returned


class Tracer:
    """Spans at the boundary of each call into the program, plus Spark's
    per-job-group counts.  Disabled tracers only count operations."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: list[OpCounts] = []
        self._stack: list[int] = []
        self._sc = None
        self._op_seq = 0

    def bind(self, sc) -> None:
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), parent, op, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def next_op(self) -> int:
        self._op_seq += 1
        return self._op_seq

    @contextlib.contextmanager
    def job_group(self, op: int, layer: str, kind: str):
        """Run one operation under its own Spark job group and, when
        tracing, record the jobs, tasks and bytes Spark reports for it."""
        if not self.enabled:
            yield None
            return
        group = f"perfbench-op-{op}"
        self._sc.setJobGroup(group, kind)
        c = OpCounts(layer, kind)
        try:
            yield c
        finally:
            self._sc.setJobGroup("perfbench-idle", "idle")
            self._collect(group, c)
            self.counts.append(c)

    def group_counts(self, group: str) -> OpCounts:
        """Counts for a job group the program set itself (streaming)."""
        c = OpCounts("", "")
        self._collect(group, c)
        return c

    def _collect(self, group: str, c: OpCounts) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        seen: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            c.jobs += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                c.tasks += sd.numCompleteTasks()
                c.input_bytes += sd.inputBytes()
                c.input_records += sd.inputRecords()
                c.shuffle_bytes += sd.shuffleReadBytes()
                c.output_bytes += sd.outputBytes()

    # -- derived views ------------------------------------------------------

    def durations(self, since: int = 0) -> dict[str, list[float]]:
        """Span durations by name, for the spans from index `since` on."""
        out: dict[str, list[float]] = {}
        for s in self.spans[since:]:
            out.setdefault(s.name, []).append(s.end - s.start)
        return out

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        its child spans cover (children never overlap: one client)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.span_id]
        return out

    def dump(self) -> dict:
        return {
            "spans": [[s.span_id, s.parent, s.op, s.name,
                       round(s.start, 6), round(s.end, 6)] for s in self.spans],
            "self_time_s": {k: round(v, 6) for k, v in self.self_times().items()},
            "counts": [c.__dict__ for c in self.counts],
        }


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
