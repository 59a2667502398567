"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in a fresh ``local[nproc]`` Spark session driven by one
client, checks every output, and prints one JSON object as the last line of
standard output: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the spans go to
``perfbench/.work/trace-<workload>-<seed>.json``.

Inputs are generated from the seed and cached under ``perfbench/.cache``.
The package itself is imported from the parent directory; without it the
run exits with status 2 and prints no result.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
WORKLOADS = ("plan_bound", "data_bound", "usda_etl_serve")
DRIVER_MEMORY = "3g"
END_TO_END = {"setup_s": "s", "suite_s": "s", "op_s_p50": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.read_calls": "count", "sources.read_s": "s", "sources.read_jobs": "count",
    "registry.build_s": "s", "registry.build_jobs": "count", "registry.build_task_s": "s",
    "registry.build_py4j_calls": "count", "registry.guard_dropped_rows": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.input_bytes": "B", "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B", "exec.core_util": "ratio", "exec.python_run_s": "s",
    "exec.python_init_s": "s",
    "sinks.write_s": "s", "sinks.bytes_written": "B", "sinks.files_written": "count",
    "api.run_pipeline_s": "s", "api.build_index_s": "s",
    "api.retrieve.jobs": "count", "api.retrieve.tasks": "count", "api.retrieve.py4j_calls": "count",
    "storage.persisted_rdds_left": "count", "storage.cached_bytes_peak": "B",
    "trace.suite_s": "s", "trace.unattributed_max_frac": "ratio",
}


def _environment(cores: int) -> None:
    """Settings the session and its Python workers inherit; every file the
    run writes stays under the benchmark's directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        # Python workers unpickle package and benchmark functions by module path
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # no hsperfdata files under /tmp from the launcher or driver JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    })


def _peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
        from tracing import Tracer
        from usda_food_data_pipeline_spark.session import get_spark
    except ImportError as ex:
        print(f"perfbench: cannot import the package under test: {ex}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    _environment(cores)
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)

    imports_s = time.perf_counter() - PROCESS_START
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        run = workloads.Run(spark, Tracer(spark, bool(args.trace)), args.seed, args.seconds, run_dir, CACHE)
        if args.workload == "usda_etl_serve":
            workloads.usda_workload(run)
        else:
            workloads.registry_workload(run, args.workload)
        peak_rss = _peak_rss_mb(spark)
        if args.trace:
            workloads.finish_layers(run, cores)
            run.layer["session.start_s"] = start_s
            run.layer["session.warmup_s"] = run.warm_s
            with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": run.tracer.dump(), "layers": run.layer}, f)
        t_stop = time.perf_counter()
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = {m: {"value": float(run.layer.get(m, 0.0)), "unit": u} for m, u in PER_LAYER.items()}
    else:
        values = {
            # imports, session start and the workload's warm-up pass; input
            # generation and output checks are left out
            "setup_s": imports_s + start_s + run.warm_s,
            "suite_s": statistics.median(run.pass_s),
            "op_s_p50": statistics.median(run.op_s) if run.op_s else 0.0,
            "peak_rss_mb": peak_rss,
        }
        metrics = {m: {"value": values[m], "unit": u} for m, u in END_TO_END.items()}
    summary = {
        "workload": args.workload, "seed": args.seed, "passes": len(run.pass_s),
        "pass_s": [round(x, 3) for x in run.pass_s],
        "imports_s": round(imports_s, 3), "start_s": round(start_s, 3), "warm_pass_s": round(run.warm_s, 3),
        "check_s": round(run.check_s, 3), "stop_s": round(time.perf_counter() - t_stop, 3),
        "input_gen_s": round(run.gen_s, 3), "op_s": [round(x, 3) for x in run.op_s],
        "failed_frac": run.failed / max(run.attempted, 1),
    }
    print(json.dumps(summary))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
