"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload datagen --seed 1 --seconds 6 --trace 0

Run from the root of a checkout: the program is imported from there.
One process, one client, closed loop (the next op starts when the
previous one has finished) on ``local[nproc]``.  Setup (session start,
fixtures, warm-up) is timed into ``setup_s``; then whole cycles of the
workload's ops run until ``--seconds`` have passed.  Every op's result
is checked; a failed check or an exception counts the op as failed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The line before it records
the run environment and the detail the metrics come from; it is also
written to ``perfbench/out/``, together with the span file of a traced
run.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import tracing
from workloads import WORKLOADS, Ctx, Op

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(HERE, "out")
# driver heap, committed at start: a heap the collector resizes as it
# goes makes op times vary from run to run
HEAP = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "stored_bytes_per_row": "B",
    "peak_mem_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "B"
    if name == "spark.parallelism":
        return "ratio"
    return "count"


def process_start_wall() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def host_ref_s() -> float:
    """Fixed CPU work (sha256 over 192 MiB of zeros), the same probe as
    bench.py's host_ref: a slower host shows here, a slower program
    does not."""
    blk = bytes(8 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(24):
        h.update(blk)
    return time.perf_counter() - t0


def git_commit(root: str) -> str | None:
    """HEAD's commit id (None outside a git checkout)."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest(root: str) -> str:
    """sha256 over the program's sources: identifies the code measured
    even where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "iceberg_data_gen_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


# the occupancy after an evacuating or full pause; remark and cleanup
# pauses collect no young regions, so their figures are not after-GC
_GC_AFTER = re.compile(r"Pause (?:Young|Full)\b.*? \d+[KMG]->(\d+)([KMG])\(\d+[KMG]\)")
_UNIT_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def heap_after_gc_peak_mb(gc_log: str) -> float:
    """Largest heap occupancy right after a collection (what is live plus
    what the collector has yet to reclaim), over every collection in the
    JVM's GC log.  Unlike the process's RSS, it does not follow how much
    heap is committed (all of it, from the start) and cycled through."""
    with open(gc_log) as f:
        return max((int(n) * _UNIT_MB[u] for n, u in _GC_AFTER.findall(f.read())), default=0.0)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later run starts afresh
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_op(wl, kind: str):
    """One op; an exception fails the op, not the run."""
    t0 = time.perf_counter()
    try:
        return wl.run_op(kind)
    except Exception:  # noqa: BLE001 — the loop must go on and count it
        print(f"perfbench: {kind} op raised", file=sys.stderr)
        traceback.print_exc()
        return Op(kind, time.perf_counter() - t0, False, 0)


def warm_up(wl, workload: str) -> None:
    """``WARMUP_CYCLES`` untimed whole cycles after setup: the first is
    cold, and the JIT keeps making a fresh JVM's ops faster for several
    more."""
    for _ in range(wl.WARMUP_CYCLES):
        for kind in wl.cycle():
            if not run_op(wl, kind).ok:
                raise RuntimeError(f"{workload} warm-up op {kind} failed its checks")


def run(workload: str, seed: int, seconds: float, trace: bool, wl=None) -> dict:
    """One run; returns the result record.  ``wl`` overrides the workload
    object (tests pass a small shape or a planted expectation)."""
    t_proc = process_start_wall()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, f"work-{workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    gc_log = os.path.join(work, "gc.log")
    tempfile.tempdir = None

    from iceberg_data_gen_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's scratch inside the checkout too
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{HEAP} -Xlog:gc:file={gc_log}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracer = counters = None
    patches = []
    if trace:
        tracer = tracing.Tracer()
        counters = tracing.SparkCounters(spark)
        patches = tracing.install(tracer)
    ctx = Ctx(spark, work, seed, tracer, counters)
    wl = wl or WORKLOADS[workload]()
    try:
        wl.setup(ctx)
        warm_up(wl, workload)
        t_first = time.time()
        setup_s = t_first - t_proc
        overhead0 = tracer.overhead_s if tracer else 0.0
        ops = []
        t0 = time.perf_counter()
        while True:
            for kind in wl.cycle():
                if tracer:
                    tracer.op_id = len(ops)
                ops.append(run_op(wl, kind))
            timed_s = time.perf_counter() - t0
            if timed_s >= seconds:
                break
        if tracer:
            tracer.op_id = None
        failed_kinds = wl.finish()
        for op in ops:
            op.ok = op.ok and op.kind not in failed_kinds
        jvm = spark.sparkContext._jvm
        nonheap_mb = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
            .getNonHeapMemoryUsage().getUsed() / 2**20
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        env = {
            "nproc": cpus,
            "master": spark.sparkContext.master,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "git_commit": git_commit(ROOT),
            "source_digest": source_digest(ROOT),
        }
    finally:
        tracing.uninstall(patches)
        wl.close()
        stop_spark(spark)
        heap_mb = heap_after_gc_peak_mb(gc_log)
        shutil.rmtree(work, ignore_errors=True)
    env["host_ref_s"] = host_ref_s()

    lat = [op.seconds for op in ops]
    n_failed = sum(not op.ok for op in ops)
    kinds = sorted({op.kind for op in ops})
    p50_by_kind = {k: statistics.median(op.seconds for op in ops if op.kind == k) for k in kinds}
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / timed_s,
        # median of the per-kind medians: does not depend on how many
        # cycles fit into the run, which mixes kinds of unequal latency
        "op_p50_s": statistics.median(p50_by_kind.values()),
        "rows_per_s": sum(op.rows for op in ops) / timed_s,
        "stored_bytes_per_row": statistics.median(wl.stored_bytes_per_row),
        "peak_mem_mb": heap_mb + nonheap_mb + py_mb,
    }
    detail = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "env": env,
        "warmup_cycles": wl.WARMUP_CYCLES,
        "memory_mb": {"heap_after_gc_peak": heap_mb, "non_heap": nonheap_mb,
                      "python_max_rss": py_mb},
        "timed_s": timed_s,
        "ops": len(ops),
        "fail_ratio": n_failed / len(ops),
        "failed_kinds": sorted({op.kind for op in ops if not op.ok}),
        "end_to_end": e2e,
        "op_seconds": lat,
        "op_p50_s_by_kind": p50_by_kind,
    }
    if len(ops) >= 100:
        detail["op_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    if trace:
        layer, by_kind = tracing.per_layer(
            tracer, len(ops), timed_s, tracer.overhead_s - overhead0
        )
        detail["per_layer"] = layer
        trace_path = os.path.join(OUT, f"trace-{workload}-s{seed}.json")
        ops_by_kind = {k: sum(op.kind == k for op in ops) for k in kinds}
        tracer.write(trace_path, {**detail, "spark_by_kind": by_kind, "ops_by_kind": ops_by_kind})
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    return {
        "detail": detail,
        "result": {
            "correct": n_failed == 0,
            "attempted": len(ops),
            "failed": n_failed,
            "metrics": metrics,
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # the program is built from the checkout this runs in, never from an
    # installed copy: refuse a directory that does not hold its sources
    for need in ("iceberg_data_gen_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from the "
                  "root of a checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    rec = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(OUT, exist_ok=True)
    name = f"result-{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({"perfbench": rec["detail"]}))
    print(json.dumps(rec["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
