"""s2spark benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload spark --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads are closed loops with one
client (the `spark` one on local[<nproc>]); see perfbench/README.md for
what each measures and why.  Times are CPU seconds of the run's process
tree, which host steal does not inflate.  The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones, taken
from spans kept in memory and written to
.bench_build/perfbench/traces/<workload>-<seed>.json when the run ends.
The line before it holds the run's environment and details.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
COVER_CACHE = os.path.join(ROOT, ".cache", "coverings")
WORKLOADS = ("spark", "kernel")
DRIVER_MEMORY = "2g"


def pin_environment(work_dir: str) -> int:
    """Core count from the CPU affinity (what `nproc` prints), scratch
    space inside the checkout, and the repo on the workers' import path."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # every JVM (spark-submit's launcher too); without the second flag
        # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir
        # says; the third keeps the JIT compiler threads alive, so their CPU
        # time can be read and left out (see probes.tree_cpu_s)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
                             " -XX:-UseDynamicNumberOfCompilerThreads",
    })
    return ncpu


def reset_covering_cache() -> str:
    """Every run starts with an empty disk tier of the covering cache, so
    a checkout that already holds entries is not compared warm against a
    fresh one."""
    shutil.rmtree(COVER_CACHE, ignore_errors=True)
    return "empty"


def cover_cache_files() -> int:
    try:
        return sum(1 for n in os.listdir(COVER_CACHE) if n.endswith(".json"))
    except OSError:
        return 0


def source_digest() -> str:
    """Content hash of the program (the checkout need not be a git repo)."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, dirs, names in os.walk(os.path.join(ROOT, "s2spark")):
        dirs.sort()
        files += [os.path.join(base, n) for n in sorted(names) if n.endswith(".py")]
    for p in files:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(workload, seconds: float, tracer, cpu) -> dict:
    """Closed loop: start another pass only while it is expected to end
    inside the window; every pass runs whole, and at least one runs.
    A pass's CPU time includes the releases between its operations; its
    row rate is the flagship rows its operations read per CPU second they
    used."""
    ops, release_s, pass_cpu_s, rows_per_cpu_s = [], [], [], []
    t_window = time.perf_counter()
    k, last_pass = 0, 0.0
    while k == 0 or (time.perf_counter() - t_window) + last_pass <= seconds:
        t_pass, c_pass = time.perf_counter(), cpu()
        rows, rows_cpu = 0, 0.0
        for name in workload.order(k):
            trace = f"{k}:{name}"
            t0, c0 = time.perf_counter(), cpu()
            try:
                dt, dc, good = workload.timed_op(name, trace)
            except Exception:   # noqa: BLE001 - a failed operation is counted, not fatal
                traceback.print_exc()
                dt, dc, good = time.perf_counter() - t0, cpu() - c0, False
            ops.append({"op": name, "wall_s": dt, "cpu_s": dc, "ok": good})
            if workload.rows(name):
                rows += workload.rows(name)
                rows_cpu += dc
            with tracer.span("release", trace):
                t0 = time.perf_counter()
                workload.release()
                release_s.append(time.perf_counter() - t0)
        pass_cpu_s.append(cpu() - c_pass)
        rows_per_cpu_s.append(rows / rows_cpu)
        last_pass = time.perf_counter() - t_pass
        k += 1
    return {"ops": ops, "release_s": release_s, "pass_cpu_s": pass_cpu_s,
            "rows_per_cpu_s": rows_per_cpu_s,
            "wall_s": time.perf_counter() - t_window, "passes": k}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "kernel":
        # one BLAS thread, as in each executor's Python worker, which shares
        # the cores with the others; idle BLAS threads would also spin and
        # charge their CPU time to whatever operation runs next
        os.environ.update({v: "1" for v in (
            "OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")})
    sys.path.insert(0, ROOT)
    # fail fast, before any set-up, when the program is not beside us
    import __spark_entry__  # noqa: F401
    import pyspark
    import s2spark  # noqa: F401

    from perfbench import probes
    from perfbench.trace import Tracer

    os.makedirs(OUT_DIR, exist_ok=True)
    work_dir = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    ncpu = pin_environment(work_dir)
    cache_state = reset_covering_cache()
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with probes.PeakMemory() as mem:
            # CPU seconds of the program's own threads: the process tree less
            # the JVM's JIT compiler and GC threads, whose work lands when
            # the JVM schedules it, not in the operation that caused it
            # (README.md), and less the memory sampler.  The kernel workload
            # starts no processes, and reads its own clock, which costs far
            # less than a walk of /proc
            def cpu() -> float:
                if spark is None:
                    return time.process_time() - mem.cpu_s
                total, jit, gc = probes.tree_cpu_s(os.getpid())
                return total - jit - gc - mem.cpu_s
            if args.workload == "spark":
                from perfbench.spark_jobs import SparkJobs
                from s2spark.plans.session import build_session
                spark = build_session(app_name="perfbench", master=f"local[{ncpu}]")
                spark.sparkContext.setLogLevel("ERROR")
                wl = SparkJobs(spark, work_dir, args.seed, tracer, cpu)
            else:
                from perfbench.kernel import Kernel
                wl = Kernel(args.seed, tracer, cpu)
            with tracer.span("setup", "setup"):
                wl.setup()
            setup_wall_s = time.perf_counter() - T_PROCESS
            setup_cpu_s = cpu()
            res = measure(wl, args.seconds, tracer, cpu)
            layers = wl.layer_metrics(res["passes"]) if tracer.enabled else {}
            meta = {
                "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace, "nproc": ncpu,
                "commit": git_commit(), "source_sha256": source_digest(),
                "spark": pyspark.__version__,
                "java": (spark.sparkContext._jvm.System.getProperty("java.version")
                         if spark is not None else "not started"),
                "python": platform.python_version(),
                "covering_cache_at_start": cache_state,
                "covering_cache_files_at_end": cover_cache_files(),
                "jvm_jit_gc_cpu_s": probes.tree_cpu_s(os.getpid())[1:],
                "passes": res["passes"], "samples": len(res["ops"]),
                "setup_wall_s": round(setup_wall_s, 3),
                "setup_phases_wall_s": wl.setup_phases_s,
                "window_wall_s": round(res["wall_s"], 3),
                "ops": res["ops"],
            }
            if args.trace:
                layers.update(probes.kernel_timings(args.seed, wl.regions()))
                meta["self_s"] = tracer.self_seconds()
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    ops = res["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    pass_cpu = statistics.median(res["pass_cpu_s"])
    rows_per_cpu = statistics.median(res["rows_per_cpu_s"])
    if not args.trace:
        values = {
            "setup_s": setup_cpu_s,
            "pass_cpu_s": pass_cpu,
            "rows_per_cpu_s": rows_per_cpu,
            "success_rate": 1.0 - failed / attempted,
            "peak_rss_mb": mem.peak_mb,
        }
    else:
        values = layers
        values.update({
            "queries.release_s": sum(res["release_s"]) / res["passes"],
            "plans.covercache.disk_writes": float(meta["covering_cache_files_at_end"]),
            "traced.setup_s": setup_cpu_s,
            "traced.pass_cpu_s": pass_cpu,
            "traced.rows_per_cpu_s": rows_per_cpu,
            "traced.op_s_p50": statistics.median(o["wall_s"] for o in ops),
            "jvm.jit_cpu_s": meta["jvm_jit_gc_cpu_s"][0],
            "jvm.gc_cpu_s": meta["jvm_jit_gc_cpu_s"][1],
            "trace.bookkeeping_s": tracer.bookkeeping_s,
        })
        os.makedirs(os.path.join(OUT_DIR, "traces"), exist_ok=True)
        tracer.write(os.path.join(OUT_DIR, "traces",
                                  f"{args.workload}-{args.seed}.json"), meta)
    # every metric BENCHMARK.json declares for this mode; a per-layer metric
    # the workload does not exercise reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps(meta))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
