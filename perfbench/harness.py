"""Session lifecycle, spans with Spark stage metrics, and small statistics.

Tracing follows one rule: a span wraps a call into a public function of one
layer of ``similardocs_spark``. Each span gets its own Spark job group, and
when it closes the harness reads the jobs of that group and their stages
from the status store (the store keeps only the last 1000 stages, so it is
read after every call, not at the end). Spans are kept in memory and written
with the run's record.
"""
from __future__ import annotations

import hashlib
import itertools
import os
import platform
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SHUFFLE_PARTITIONS = 4
# JVM settings for short runs on a small host. C1 only: a run is too short
# for C2 to reach steady state, and C2's compile threads compete with the
# task threads (run-to-run spread was about three times larger with them).
# A fixed 1 GiB heap with a fixed young generation: peak RSS then follows the
# data the driver retains, not the collector's resizing decisions.
# -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_<user>.
JVM_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy "
    "-Xms1g -Xmn256m -XX:-UsePerfData"
)


def start_session(workdir: str, cores: int):
    """local[cores] session whose scratch space lives under ``workdir``.
    Returns (spark, seconds taken)."""
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={workdir} {JVM_OPTIONS}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the driver launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_for_listeners(spark) -> None:
    """Block until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def peak_rss_parts_mb(spark) -> dict[str, float]:
    """VmHWM of this Python driver and of its JVM."""
    pids = {"python": os.getpid(),
            "jvm": int(spark._jvm.java.lang.ProcessHandle.current().pid())}
    out = {}
    for name, pid in pids.items():
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    out[name] = int(line.split()[1]) / 1024.0
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by a process and its live
    descendants, including the descendants they have already reaped: here
    the Python driver, its JVM and the JVM's Python workers. Time the
    hypervisor gave to other guests (steal) is not in it."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                data = f.read()
        except OSError:  # exited while listing
            continue
        rest = data[data.rindex(")") + 2:].split()
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in procs:
            ticks += procs[pid][1]
            stack.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def gc_seconds(spark) -> float:
    """JVM GC time summed over the application's executors."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    return sum(execs.apply(i).totalGCTime() for i in range(execs.size())) / 1000.0


# ------------------------------------------------------------------ spans


@dataclass
class StageStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "StageStats") -> None:
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "output_mb"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.intervals += other.intervals


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str
    start: float
    end: float = 0.0
    stats: StageStats = field(default_factory=StageStats)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        s = self.stats
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "request": self.request, "start": self.start, "end": self.end,
            "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
            "executor_run_s": s.executor_run_s, "executor_cpu_s": s.executor_cpu_s,
            "gc_s": s.gc_s, "shuffle_write_mb": s.shuffle_write_mb,
            "shuffle_read_mb": s.shuffle_read_mb, "spill_mb": s.spill_mb,
            "output_mb": s.output_mb,
            **self.attrs,
        }


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans around public calls. Disabled, ``span`` costs one generator."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._request = "setup"

    @contextmanager
    def request(self, request_id: str):
        """Spans opened inside share ``request_id``."""
        old, self._request = self._request, request_id
        try:
            yield
        finally:
            self._request = old

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None, self._request,
                  time.time(), attrs=dict(attrs))
        sc.setJobGroup(f"perfbench-{sp.id}", name, False)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            sp.stats = self._group_stats(f"perfbench-{sp.id}")
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent.id}", parent.name, False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def _group_stats(self, group: str) -> StageStats:
        sc = self.spark.sparkContext
        wait_for_listeners(self.spark)
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = StageStats()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out.jobs += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: a stage that never ran has no attempt
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks()
            out.executor_run_s += st.executorRunTime() / 1e3
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1e3
            out.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
            out.shuffle_read_mb += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / 2**20
            out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            out.output_mb += st.outputBytes() / 2**20
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out

    # ------------------------------------------------------------- queries

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Span wall minus the part of it its children cover."""
        kids = [(c.start, c.end) for c in self.children(sp)]
        return sp.wall - union_length(kids, sp.start, sp.end)

    def inclusive(self, sp: Span) -> StageStats:
        """Stage stats of the span and all its descendants."""
        out = StageStats()
        out.add(sp.stats)
        for c in self.children(sp):
            out.add(self.inclusive(c))
        return out

    def driver_s(self, sp: Span) -> float:
        """Wall time during which no stage of the span was running."""
        st = self.inclusive(sp)
        return sp.wall - union_length(st.intervals, sp.start, sp.end)

    def dump(self) -> list[dict]:
        return [dict(s.as_dict(), self_s=self.self_time(s)) for s in self.spans]


# ------------------------------------------------------------- statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-quantile (0 ≤ q ≤ 1)."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_quantile(n: int) -> float | None:
    """Highest quantile with at least ten samples beyond it (None if n < 20)."""
    if n < 20:
        return None
    return 1.0 - 10.0 / n


# ------------------------------------------------------------- provenance


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources (the checkout may carry no
    git metadata, so this identifies the code under test)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "similardocs_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    p = os.path.join(root, ".git", ref[5:])
    if os.path.exists(p):
        with open(p) as f:
            return f.read().strip()
    return None


def provenance(spark, root: str, seed: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": str(spark._jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
        "seed": seed,
        "argv": sys.argv[1:],
    }
