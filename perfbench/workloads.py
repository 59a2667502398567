"""The benchmark's workloads: closed loops, one client, one Spark session.

Each workload first makes one warm-up pass, checked but neither timed nor
traced, so that first-use costs (JIT, codegen, the Python worker pool) are
paid before timing starts. It then runs whole passes while another pass
still fits in the run's time, and at least one. Every timed region wraps
only calls into the package's public functions; checks and counter reads
happen between them.
"""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

import checks
import gen_star
import gen_usda
from tracing import Tracer, self_times
from usda_food_data_pipeline_spark import api, registry
from usda_food_data_pipeline_spark.sources import tables

# Build-dominated at sf0.001: eager iterative loops (graph, BPE),
# Column-heavy projections and one schema-inference job per table read.
PLAN_BOUND = (
    "pagerank_parts", "tpch_q6", "kcore_nodes", "dedup_latest_order",
    "bpe_train", "ln_domain_census", "triangle_count", "dsir_select",
)
# Execution-dominated at sf0.05: shuffle-heavy aggregates and joins,
# n-gram and SimHash kernels, and an Arrow pandas-UDF kernel. Runnable by
# name; BENCHMARK.json leaves it out so that all of its runs fit their time budget.
DATA_BOUND = (
    "flagship", "langid_ngram", "market_basket_lift", "tpch_q21_waiting_suppliers",
    "pivot_avg_returnflag", "text_embed", "simhash_neardup",
)
SCALES = {"plan_bound": 0.001, "data_bound": 0.05}
USDA_BRANDED = 20_000
RETRIEVE_CALLS = 6
TOP_K = 10
INDEX_DIM = 64


CACHED_INPUT_SETS = 8


def cached_inputs(cache_dir: str, key: str, make) -> str:
    """``make(path)`` writes one input set; keep the newest few sets."""
    path = make(os.path.join(cache_dir, key))
    os.utime(path)
    sets = sorted((os.path.join(cache_dir, d) for d in os.listdir(cache_dir)), key=os.path.getmtime)
    for old in sets[:-CACHED_INPUT_SETS]:
        shutil.rmtree(old, ignore_errors=True)
    return path


@dataclass
class Run:
    """State shared by one run's workload, checks and metric readers."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work_dir: str
    cache_dir: str
    attempted: int = 0
    failed: int = 0
    pass_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    gen_s: float = 0.0
    check_s: float = 0.0
    warm_s: float = 0.0
    source_groups: list[str] = field(default_factory=list)

    def add(self, metric: str, value: float) -> None:
        self.layer[metric] = self.layer.get(metric, 0.0) + value

    def record(self, ok: bool, what: str, detail) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED {what}: {detail}", file=sys.stderr)

    @contextlib.contextmanager
    def warm_up_pass(self):
        """A pass before timing: its outputs are checked, but it adds no
        operation time, pass time or trace. ``warm_s`` is its wall time
        without the checks and the garbage collection after it."""
        traced, self.tracer.enabled = self.tracer.enabled, False
        ops, check0, t0 = len(self.op_s), self.check_s, time.perf_counter()
        try:
            yield
        finally:
            self.tracer.enabled = traced
            del self.op_s[ops:]
            self.warm_s = time.perf_counter() - t0 - (self.check_s - check0)
            # Spark's context cleaner drops the RDDs the warm-up pass left
            # once the JVM collects them, and the checkpoint janitor scans
            # the persisted-RDD registry; collecting here (and giving the
            # cleaner thread a moment) keeps the timed pass's py4j calls
            # from depending on when garbage collection ran.
            gc.collect()
            self.spark._jvm.System.gc()
            time.sleep(1.0)

    def another_pass_fits(self, started: float) -> bool:
        last = self.pass_s[-1] if self.pass_s else 0.0
        return not self.pass_s or time.perf_counter() - started + last <= self.seconds


# -- tracing hooks -------------------------------------------------------------

def _traced(run: Run, fn, layer: str):
    """Wrap ``fn`` in a span; nested calls of the same layer stay inside the
    outer span. Reads also get a job group of their own (mostly schema
    inference); a sink's jobs stay in its caller's group."""
    tr = run.tracer

    def wrapper(*args, **kwargs):
        if tr.current is not None and tr.current.name == layer:
            return fn(*args, **kwargs)
        if layer != "sources":
            with tr.span(layer, call=fn.__name__):
                return fn(*args, **kwargs)
        with tr.span(layer, call=fn.__name__), tr.job_group(layer) as gid:
            run.source_groups.append(gid)
            run.add("sources.read_calls", 1)
            return fn(*args, **kwargs)

    return wrapper


def install_source_spans(run: Run) -> None:
    """Wrap ``load_table`` and ``read_usda_csv`` in every package module that
    bound them, so table reads show as their own layer."""
    originals = (tables.load_table, tables.read_usda_csv)
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("usda_food_data_pipeline_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if any(val is o for o in originals):
                setattr(mod, attr, _traced(run, val, "sources"))


def _span_s(run: Run, name: str) -> float:
    return sum(s.end - s.start for s in run.tracer.spans if s.name == name)


def _source_counts(run: Run) -> None:
    tr = run.tracer
    for gid in run.source_groups:
        run.add("sources.read_jobs", len(tr.job_ids(gid)))
    run.source_groups.clear()


def _exec_counts(run: Run, gid: str, wall: float) -> None:
    tr = run.tracer
    sums = tr.stage_sums(gid)
    for key in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
                "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        run.add(f"exec.{key}", sums[key])
    run.add("exec.s", wall)
    for key, value in tr.python_metrics(tr.job_ids(gid)).items():
        run.add(key, value)


def finish_layers(run: Run, cores: int) -> None:
    """Derived per-layer metrics. Counts are totals over the run's passes,
    except ``api.retrieve.*`` (per call) and ``trace.*`` (per pass)."""
    calls = run.layer.pop("api.retrieve.calls", 0)
    for key in ("api.retrieve.jobs", "api.retrieve.tasks", "api.retrieve.py4j_calls"):
        if calls:
            run.layer[key] /= calls
    exec_s = run.layer.get("exec.s", 0.0)
    run.layer["exec.core_util"] = run.layer.get("exec.task_run_s", 0.0) / (exec_s * cores) if exec_s else 0.0
    run.layer["sources.read_s"] = _span_s(run, "sources")
    run.layer["sinks.write_s"] = _span_s(run, "sinks")
    run.layer["trace.suite_s"] = statistics.median(run.pass_s) if run.pass_s else 0.0
    # share of each query's wall time that no layer span covers
    selfs = self_times(run.tracer.spans)
    gaps = [selfs[s.id] / (s.end - s.start) for s in run.tracer.spans if s.name == "query" and s.end > s.start]
    run.layer["trace.unattributed_max_frac"] = max(gaps) if gaps else 0.0


# -- registry workloads ---------------------------------------------------------

class _Collected:
    """The rows a timed ``collect()`` returned, shaped like the DataFrame
    ``check_correctness.compare`` expects, so the check does not re-run it."""

    def __init__(self, df, rows):
        self._df, self._rows, self.columns = df, rows, df.columns

    def collect(self):
        return self._rows

    def limit(self, n):
        return self

    def toArrow(self):
        """The empty result's Arrow schema, without running a job."""
        return pa.Table.from_batches([], schema=to_arrow_schema(self._df.schema))


def registry_workload(run: Run, workload: str) -> None:
    sf = SCALES[workload]
    names = PLAN_BOUND if workload == "plan_bound" else DATA_BOUND
    t0 = time.perf_counter()
    sf_dir = cached_inputs(run.cache_dir, f"star-sf{sf}-seed{run.seed}",
                           lambda path: gen_star.generate(path, sf, run.seed))
    run.gen_s = time.perf_counter() - t0
    tr = run.tracer
    fns, oracle_sql = registry.queries(), registry.oracle_sql()
    oracle = checks.RegistryOracle(sf_dir, tables.TABLES)

    def one_pass() -> float:
        return sum(_one_query(run, name, fns[name], oracle_sql.get(name), oracle, sf_dir)
                   for name in names)

    try:
        with run.warm_up_pass():
            one_pass()
        if tr.enabled:
            install_source_spans(run)
        started = time.perf_counter()
        while run.another_pass_fits(started):
            with tr.span("pass"):
                run.pass_s.append(one_pass())
    finally:
        oracle.close()


def _one_query(run: Run, name: str, fn, sql, oracle, sf_dir: str) -> float:
    spark, tr = run.spark, run.tracer
    rows = df = None
    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    try:
        with tr.span("query", query=name):
            with tr.span("build") as build_span, tr.job_group("build") as g_build:
                p0 = tr.package_calls()
                df = fn(spark, sf_dir)
                build_py4j = tr.package_calls() - p0
            if tr.enabled:
                with tr.span("catalyst"):
                    phases = tr.catalyst_phases(df)
            with tr.span("exec"), tr.job_group("exec") as g_exec:
                t_exec = time.perf_counter()
                rows = df.collect()
                exec_s = time.perf_counter() - t_exec
    except Exception:  # noqa: BLE001 - one failing query must not end the run
        traceback.print_exc()
    wall = time.perf_counter() - t0
    if rows is None:
        run.record(False, name, "raised")
    else:
        run.op_s.append(wall)
        t_check = time.perf_counter()
        res = oracle.check(name, _Collected(df, rows), sql)
        run.check_s += time.perf_counter() - t_check
        run.record(bool(res.get("ok")), name, res)
    guard = registry.GUARD_STATS.pop(name, None)
    if tr.enabled and rows is not None:
        build = tr.stage_sums(g_build)
        run.add("registry.build_s", build_span.end - build_span.start)
        run.add("registry.build_jobs", build["jobs"])
        run.add("registry.build_task_s", build["task_run_s"])
        run.add("registry.build_py4j_calls", build_py4j)
        for key, value in phases.items():
            run.add(key, value)
        _exec_counts(run, g_exec, exec_s)
        _source_counts(run)
        n_rdds, held = tr.storage_census()
        for key, value in (("storage.persisted_rdds_left", n_rdds), ("storage.cached_bytes_peak", held)):
            run.layer[key] = max(run.layer.get(key, 0), value)
        if guard is not None:
            run.add("registry.guard_dropped_rows", guard.get.get("guard_dropped_rows", 0))
    spark.catalog.clearCache()
    return wall


# -- usda_etl_serve -----------------------------------------------------------

def usda_workload(run: Run) -> None:
    tr = run.tracer
    t0 = time.perf_counter()
    landing = cached_inputs(run.cache_dir, f"usda-{USDA_BRANDED}-seed{run.seed}",
                            lambda path: gen_usda.generate(path, USDA_BRANDED, run.seed))
    run.gen_s = time.perf_counter() - t0
    queries = gen_usda.query_texts(run.seed, RETRIEVE_CALLS)

    def one_pass(n: int, texts: list[str]) -> float:
        out_dir = os.path.join(run.work_dir, f"pipeline-{n}")
        index_dir = os.path.join(run.work_dir, f"index-{n}")
        try:
            return _usda_pass(run, landing, out_dir, index_dir, texts)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
            shutil.rmtree(index_dir, ignore_errors=True)

    # one retrieve call warms the request path; the later ones are no faster
    with run.warm_up_pass():
        one_pass(0, queries[:1])
    if tr.enabled:
        install_source_spans(run)
        api.write_quoted_csv = _traced(run, api.write_quoted_csv, "sinks")
        api.build_embedding_index = _traced(run, api.build_embedding_index, "sinks")
        from pyspark.sql.readwriter import DataFrameReader

        DataFrameReader.parquet = _traced(run, DataFrameReader.parquet, "sources")
    started = time.perf_counter()
    while run.another_pass_fits(started):
        with tr.span("pass"):
            run.pass_s.append(one_pass(len(run.pass_s) + 1, queries))


def _timed(run: Run, what: str, fn) -> tuple[float, bool]:
    t0 = time.perf_counter()
    try:
        with run.tracer.span(what), run.tracer.job_group(what) as gid:
            fn()
        ok = True
    except Exception:  # noqa: BLE001 - a failing step must not end the run
        traceback.print_exc()
        gid, ok = None, False
    wall = time.perf_counter() - t0
    if run.tracer.enabled and ok:
        run.add(f"api.{what}_s", wall)
        sums = run.tracer.stage_sums(gid)
        run.add("sinks.bytes_written", sums["output_bytes"])
        _exec_counts(run, gid, wall)
        _source_counts(run)
    return wall, ok


def _usda_pass(run: Run, landing: str, out_dir: str, index_dir: str, queries: list[str]) -> float:
    spark, tr = run.spark, run.tracer
    pipeline_s, ok = _timed(run, "run_pipeline", lambda: api.run_pipeline(spark, landing, out_dir))
    if ok:
        t_check = time.perf_counter()
        res = checks.check_pipeline(landing, out_dir)
        run.check_s += time.perf_counter() - t_check
        run.record(res["ok"], "run_pipeline", res)
    else:
        run.record(False, "run_pipeline", "raised")
        return pipeline_s
    names = spark.read.option("header", True).csv(out_dir).select("FOOD_RECORD_ID", "FOOD_NAME")
    index_s, ok = _timed(
        run, "build_index",
        lambda: api.build_index(spark, names, "FOOD_NAME", "FOOD_RECORD_ID", index_dir, dim=INDEX_DIM),
    )
    if tr.enabled:
        run.add("sinks.files_written", _count_files(out_dir) + _count_files(index_dir))
    run.record(ok, "build_index", "raised")
    if not ok:
        return pipeline_s + index_s
    t_check = time.perf_counter()
    oracle = checks.IndexOracle(index_dir, "FOOD_RECORD_ID", INDEX_DIM)
    run.check_s += time.perf_counter() - t_check
    results = []
    loop_s = 0.0
    for q in queries:
        t0 = time.perf_counter()
        got = None
        try:
            with tr.span("retrieve", query=q), tr.job_group("retrieve") as gid:
                p0 = tr.package_calls()
                got = api.retrieve(spark, index_dir, q, id_col="FOOD_RECORD_ID", k=TOP_K, dim=INDEX_DIM)
                calls = tr.package_calls() - p0
        except Exception:  # noqa: BLE001 - a failing request must not end the run
            traceback.print_exc()
        wall = time.perf_counter() - t0
        loop_s += wall
        results.append((q, got))
        if got is not None:
            run.op_s.append(wall)
            if tr.enabled:
                sums = tr.stage_sums(gid)
                run.add("api.retrieve.calls", 1)
                run.add("api.retrieve.jobs", sums["jobs"])
                run.add("api.retrieve.tasks", sums["tasks"])
                run.add("api.retrieve.py4j_calls", calls)
                py = tr.python_metrics(tr.job_ids(gid))
                for key, value in py.items():
                    run.add(key, value)
                _source_counts(run)
    t_check = time.perf_counter()
    for q, got in results:
        res = oracle.check(q, got, TOP_K) if got is not None else {"ok": False, "status": "raised"}
        run.record(res["ok"], f"retrieve {q!r}", res)
    run.check_s += time.perf_counter() - t_check
    return pipeline_s + index_s + loop_s


def _count_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if not f.startswith((".", "_"))
    )
