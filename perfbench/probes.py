"""Measurements taken from outside the program: process-tree CPU time and
memory from /proc, Spark's status store and executed plans through py4j,
and numpy kernel micro-timings."""

from __future__ import annotations

import os
import re
import statistics
import threading
import time

import numpy as np

# ---------------------------------------------------------------------------
# this process and its descendants (Python driver, the JVM it launched, and
# the JVM's Python workers)

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


# HotSpot's JIT compiler and garbage-collector threads (names cut to 15
# characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_GC_THREADS = ("GC Thread#", "G1 ")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """The command name and the fields after it in /proc/<path>/stat (the
    name may hold spaces; the state follows its ')')."""
    try:
        with open(f"/proc/{path}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    cut = stat.rfind(")")
    return stat[stat.find("(") + 1:cut], stat[cut + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(name)
        if st is not None:
            kids.setdefault(int(st[1][1]), []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _jvm_ticks(pid: int) -> tuple[int, int]:
    """CPU ticks of a JVM's JIT compiler threads and of its GC threads."""
    jit = gc = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0, 0
    for tid in tids:
        st = _stat(f"{pid}/task/{tid}")
        if st is None:
            continue
        ticks = int(st[1][11]) + int(st[1][12])
        if st[0].startswith(_JIT_THREADS):
            jit += ticks
        elif st[0].startswith(_GC_THREADS):
            gc += ticks
    return jit, gc


def tree_cpu_s(root: int) -> tuple[float, float, float]:
    """CPU seconds (user + system) the process tree has used, and the parts
    of them the JVM's JIT compiler threads and its garbage-collector threads
    used.  The total counts the children each process has reaped, so a
    Python worker that exits keeps counting.  Time the hypervisor gave to
    other guests (steal) is not in it, which is why the benchmark times
    work with it rather than with the wall clock on a shared host.  The
    compiler threads must live as long as their JVM
    (-XX:-UseDynamicNumberOfCompilerThreads), or the CPU time of one that
    exits would leave the JIT part; G1 keeps the GC threads it starts."""
    ticks = jit = gc = 0
    for pid in _tree(root):
        st = _stat(str(pid))
        if st is None:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in st[1][11:15])
        if st[0] == "java":
            j, g = _jvm_ticks(pid)
            jit += j
            gc += g
    return ticks * _TICK_S, jit * _TICK_S, gc * _TICK_S


# peak memory as proportional set size: the Python workers are forked from
# one daemon, and summing their RSS would count the pages they share once
# per worker


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_memory_mb(root: int) -> float:
    return sum(_pss_kb(pid) for pid in _tree(root)) / 1024.0


class PeakMemory:
    """Samples the process tree's summed PSS on a thread; `peak_mb` is the
    largest sample and `cpu_s` the CPU time the sampling itself used (it
    runs in this process, so callers subtract it from tree CPU times).  Use
    as a context manager so the thread always ends."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            t0 = time.thread_time()
            self.peak_mb = max(self.peak_mb, tree_memory_mb(me))
            self.cpu_s += time.thread_time() - t0
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_memory_mb(os.getpid()))


# ---------------------------------------------------------------------------
# Spark status store (the session keeps only the last 50 jobs and stages, so
# callers read it right after each query)

STAGE_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
              "spark.jvm_gc_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
              "spark.spill_mb", "spark.stages_dropped")


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_totals(spark, jobs: list[int]) -> dict[str, float]:
    """Totals over the stages that ran for `jobs`; stages the store has
    already evicted (or whose job it evicted) count in spark.stages_dropped."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    out["spark.jobs"] = float(len(jobs))
    mb = 1024.0 * 1024.0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            out["spark.stages_dropped"] += 1
            continue
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(int(sid))
            except Exception:   # noqa: BLE001 - py4j wraps NoSuchElementException
                out["spark.stages_dropped"] += 1
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.executor_run_s"] += sd.executorRunTime() / 1000.0
            out["spark.jvm_gc_s"] += sd.jvmGcTime() / 1000.0
            out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / mb
            out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
            out["spark.spill_mb"] += sd.diskBytesSpilled() / mb
    return out


# ---------------------------------------------------------------------------
# executed-plan node counts

PLAN_KEYS = ("plan.exchanges", "plan.broadcast_exchanges", "plan.python_evals",
             "plan.checkpoint_scans", "plan.generates")
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]+(?: ExistingRDD)?)")
_PYTHON_NODES = {"ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
                 "AggregateInPandas", "WindowInPandas"}


def plan_counts(plan_text: str) -> dict[str, float]:
    """Node counts in an executed plan's text.  For an adaptive plan only
    the final plan is counted, not the initial plan printed after it."""
    out = dict.fromkeys(PLAN_KEYS, 0.0)
    for line in plan_text.split("\n"):
        if "== Initial Plan ==" in line:
            break
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node == "Exchange":
            out["plan.exchanges"] += 1
        elif node == "BroadcastExchange":
            out["plan.broadcast_exchanges"] += 1
        elif node in _PYTHON_NODES:
            out["plan.python_evals"] += 1
        elif node == "Scan ExistingRDD":
            out["plan.checkpoint_scans"] += 1
        elif node == "Generate":
            out["plan.generates"] += 1
    return out


# ---------------------------------------------------------------------------
# numpy kernel micro-timings (µs or ns per operation, median of 5 timings)

def _per_op(fn, n_ops: int, scale: float) -> float:
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_ops * scale


def kernel_timings(seed: int, regions: list) -> dict[str, float]:
    """Kernel cost per operation.  `regions` are the workload's own query
    regions (empty for a workload that builds no covering)."""
    from s2spark.kernel import cellid, loops
    from s2spark.kernel.coverer import RegionCoverer

    rng = np.random.default_rng(seed)
    n = 100_000
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lng = rng.uniform(-180, 180, n)
    ids = cellid.from_latlng_deg(lat, lng)
    x, y, z = cellid.xyz_from_latlng_deg(lat, lng)
    # edges between consecutive random points, tested against shifted ones
    a = (x[:-1], y[:-1], z[:-1])
    b = (x[1:], y[1:], z[1:])
    c = (np.roll(x, 7)[:-1], np.roll(y, 7)[:-1], np.roll(z, 7)[:-1])
    d = (np.roll(x, 13)[:-1], np.roll(y, 13)[:-1], np.roll(z, 13)[:-1])
    out = {
        "kernel.encode_us": _per_op(lambda: cellid.from_latlng_deg(lat, lng), n, 1e6),
        "kernel.decode_us": _per_op(lambda: cellid.to_latlng_deg(ids), n, 1e6),
        "kernel.crossing_ns": _per_op(
            lambda: loops.robust_crossing_batch(*a, *b, *c, *d), n - 1, 1e9),
        "kernel.vertex_neighbors_us": _per_op(
            lambda: cellid.get_vertex_neighbors(ids[:20_000], 10), 20_000, 1e6),
        "kernel.get_covering_us": 0.0,
    }
    if regions:
        cov = RegionCoverer(max_cells=64)
        out["kernel.get_covering_us"] = _per_op(
            lambda: [cov.get_covering(r) for r in regions], len(regions), 1e6)
    return out
