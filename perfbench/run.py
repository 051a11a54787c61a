"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_churn --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run:

1. brackets itself with a short host probe (memory bandwidth and a
   single-thread GEMM, from ``tools/host_probe.py``), recorded beside the
   metrics as a noise check;
2. starts the Spark session (``local[4]``), sets the workload up from the
   seed and starts the Python workers; ``setup_s`` is the wall time of
   the three;
3. runs the timed operations in a closed loop with one client until
   ``--seconds`` have passed, checking every output against the
   generator's ground truth, and measures the reference job's CPU right
   before and after them (the cost metrics are in its units);
4. prints a detail record (JSON) and, as the last line, the result
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` every call into the program's layers is a span (see
``tracing.py``) and the per-layer metrics come from the timed part;
``trace.overhead_frac`` is the tracer's own time over the operations'
wall.  The traced run also stores its end-to-end numbers in the detail
record, to set against an untraced run of the same seed.  The span
tables go to ``.perfbench/out/`` and to standard error.

Everything the run writes stays under ``.perfbench/`` in the checkout,
and every process it starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "2g"

END_TO_END = {
    # name: unit
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "cpu_cost": "ref",
    "query_cost": "ref/kq",
    "row_cost": "ref/krow",
    "recall": "fraction",
    "stored_bytes_ratio": "ratio",
}
PER_LAYER = {
    "driver.self_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "spark.busy_frac": "fraction",
    "arrow.python_data_sent_bytes": "bytes",
    "arrow.python_data_received_bytes": "bytes",
    "arrow.python_time_s": "s",
    "trace.spans": "count",
    "trace.overhead_frac": "fraction",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout() -> None:
    for rel in ("anndb_spark/__init__.py", "tools/host_probe.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found under {ROOT}: run from a full checkout")


def configure_env(work: str) -> None:
    """Keep Spark's and the JVM's scratch files inside the checkout, let
    Python workers import the program, and quiet the console."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    # the HNSW C kernel is compiled once per checkout, like a build; the
    # serving layer's host-shared graph cache lives and dies with the run
    os.environ["ANNDB_CKERNEL_DIR"] = os.path.join(ROOT, ".perfbench", "ckernel")
    os.environ["ANNDB_SHM_CACHE_DIR"] = os.path.join(work, "graph-cache")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        "pyspark-shell",
    ])


def host_bracket() -> dict:
    """A short host-speed probe built from ``tools/host_probe.py``'s own
    stages: one memory-bandwidth pass over 32 MiB and a pinned
    single-thread 256x256 GEMM child.  A noise check recorded beside the
    metrics; never a metric itself."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import host_probe

    out = {}
    bw = host_probe._membw(ladder=(1 / 32,), loop_secs=0.1)
    if bw is not None:
        out["host_membw_gbps"] = round(bw[0], 2)
    g = host_probe._run_child(256, 0.2, pin_1t=True, timeout=10.0)
    if g is not None:
        out["host_gflops_1t"] = round(g, 2)
    return out


def reference_cpu_s(spark) -> float:
    """CPU seconds of the process tree for one run of the reference job."""
    import proc
    import workloads

    t = proc.tree_cpu_s()
    workloads.reference_job(spark)
    return proc.tree_cpu_s() - t


def stop_spark() -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it forked (the Python worker daemon and workers) have ended."""
    import proc
    from pyspark import SparkContext

    children = [p for p in proc.process_tree() if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        jvm.wait(timeout=60)
    proc.wait_ended(children, timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    check_checkout()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    configure_env(work)
    try:
        result, detail = run(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True, default=str)
    print(json.dumps({"detail": path, "host": detail["host"],
                      "samples": detail["samples"]}, sort_keys=True))
    print(json.dumps(result))


def run(args, work: str):
    import proc
    import tracing
    import workloads

    from anndb_spark.operators import ckernel

    ckernel.available()  # compiles on the checkout's first run, before any timing
    host_before = host_bracket()
    tracer = tracing.Tracer()
    if args.trace:
        tracer.install(extra_modules=(workloads,))
        tracer.enabled = True

    from anndb_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    spark_start = time.perf_counter() - t0
    if args.trace:
        tracer.install_actions(spark)

    wl = workloads.WORKLOADS[args.workload](spark, args.seed, tracer)
    t = time.perf_counter()
    wl.setup(os.path.join(work, "state"))
    state_s = time.perf_counter() - t
    workloads.warm_python_workers(spark)
    warm_s = time.perf_counter() - t - state_s
    setup_s = spark_start + state_s + warm_s

    tracing_on, tracer.enabled = tracer.enabled, False
    workloads.reference_job(spark)  # warm-up, not measured
    ref_before = reference_cpu_s(spark)
    tracer.enabled = tracing_on
    tracer.phase = "timed"
    start = time.perf_counter()
    with proc.PeakMem() as mem:
        wl.sampler = mem
        wl.timed(start + args.seconds)
        wl.sampler = None
    timed_s = time.perf_counter() - start
    tracer.enabled = False
    ref_after = reference_cpu_s(spark)
    host_after = host_bracket()

    raw = wl.metrics()
    ref = (ref_before + ref_after) / 2
    e2e = {
        "setup_s": setup_s,
        "peak_pss_mb": mem.peak / 2**20,
        "cpu_cost": raw["cpu_s"] / ref,
        "query_cost": raw["query_cpu_ms"] / ref,
        "row_cost": raw["row_cpu_ms"] / ref,
        "recall": raw["recall"],
        "stored_bytes_ratio": raw["stored_bytes_ratio"],
    }
    ops = wl.ops
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sizes": wl.sizes,
        "host": {"before": host_before, "after": host_after},
        "setup": {"spark_start_s": spark_start, "state_s": state_s, "warm_s": warm_s},
        "timed_s": timed_s,
        "peak_pss_parts_mb": mem.parts,
        "end_to_end": e2e,
        "cpu": {**raw, "reference_cpu_s": [ref_before, ref_after]},
        "wall": wl.wall_figures(),
        "samples": {n: sum(o["name"] == n for o in wl.ops)
                    for n in dict.fromkeys(o["name"] for o in wl.ops)},
        "ops": wl.ops,
        "failures": [o for o in ops if not o["ok"]],
    }
    if args.trace:
        tracer.uninstall()
        tracer.resolve(spark)
        offset_ms = (time.time() - time.perf_counter()) * 1000.0
        summ = tracer.summary("timed", CORES, offset_ms)
        detail["trace"] = {
            "timed": summ,
            "setup": tracer.summary("setup", CORES, offset_ms),
            "extra": wl.extras(),
        }
        values, names = summ["total"], PER_LAYER
        print_layers(summ, detail["trace"]["extra"])
    else:
        values, names = e2e, END_TO_END
    out = {k: {"value": values[k], "unit": u} for k, u in names.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": out}
    return result, detail


def print_layers(summ: dict, extra: dict) -> None:
    cols = ("calls", "total_s", "self_s", "spark.jobs", "spark.executor_cpu_s",
            "arrow.python_time_s")
    print(f"{'layer / function':44s}" + "".join(f"{c[-14:]:>15s}" for c in cols),
          file=sys.stderr)
    for title in ("layers", "functions"):
        for name, row in sorted(summ[title].items(), key=lambda kv: -kv[1]["total_s"]):
            print(f"{name[:44]:44s}" + "".join(f"{row[c]:15.3f}" for c in cols),
                  file=sys.stderr)
        print(file=sys.stderr)
    for k, v in extra.items():
        print(f"{k:44s}{v:15.4f}", file=sys.stderr)


if __name__ == "__main__":
    main()
