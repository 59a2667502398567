"""Self-checks of the benchmark: run with ``python3 -m pytest perfbench -q``.

The traced-run tests start the benchmark as a subprocess, twice per
workload at one seed, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Span, _duration_s, self_times  # noqa: E402

SEED = 5
# per-layer counts that must repeat exactly across two traced runs at one seed
EXACT = (
    "sources.read_calls", "sources.read_jobs",
    "registry.build_jobs", "registry.build_py4j_calls", "registry.guard_dropped_rows",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "api.retrieve.jobs", "api.retrieve.tasks", "api.retrieve.py4j_calls",
    "sinks.files_written",
)
# counts that may vary between runs: byte totals and spill follow memory
# and timing, and Spark's context cleaner unpersists RDDs when the JVM
# garbage-collects them
NOT_EXACT = (
    "exec.input_bytes", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "sinks.bytes_written",
    "storage.persisted_rdds_left", "storage.cached_bytes_peak",
)
# On data_bound, adaptive execution sometimes runs one job more or less,
# depending on which shuffle stage finishes first.
NOT_EXACT_ON = {"data_bound": ("exec.jobs", "exec.stages", "exec.tasks")}
RECONCILE = 0.05


def test_self_times_subtract_children():
    spans = [Span(0, None, "query", 0.0, 10.0), Span(1, 0, "build", 0.0, 6.0),
             Span(2, 1, "sources", 1.0, 2.0), Span(3, 0, "exec", 6.0, 9.5)]
    assert self_times(spans) == {0: 0.5, 1: 5.0, 2: 1.0, 3: 3.5}


def test_duration_parses_sql_timing_totals():
    assert _duration_s("total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 300 ms, 400 ms (stage 3.0: task 10))") == 1.2
    assert _duration_s("total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)") == 0.25
    assert _duration_s("3.5 m") == 210.0


def _traced(workload: str) -> tuple[dict, list[dict]]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, ".work", f"trace-{workload}-{SEED}.json")) as f:
        spans = json.load(f)["spans"]
    return result, spans


@pytest.mark.parametrize("workload", ["plan_bound", "usda_etl_serve", "data_bound"])
def test_traced_runs_repeat_counts_and_reconcile(workload):
    first, spans = _traced(workload)
    second, _ = _traced(workload)
    assert first["correct"] and second["correct"]
    a, b = first["metrics"], second["metrics"]
    assert set(EXACT) | set(NOT_EXACT) <= set(a)
    exact = [n for n in EXACT if n not in NOT_EXACT_ON.get(workload, ())]
    differ = {n: (a[n]["value"], b[n]["value"]) for n in exact if a[n]["value"] != b[n]["value"]}
    assert not differ
    # every query's wall time is covered by its build, catalyst and exec spans
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
    for s in spans:
        if s["name"] == "query":
            wall = s["end"] - s["start"]
            assert abs(wall - covered.get(s["id"], 0.0)) <= RECONCILE * wall, s
