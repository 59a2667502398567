"""Traced-run collector: spans and counts at the package's layer boundaries.

Everything here observes the program from outside. Spans are opened around
calls into the package; counts come from Spark's own status stores (job
groups, stage data, SQL metrics), a counter around the py4j gateway client's
``send_command``, the Catalyst phase tracker and the persisted-RDD list.

A ``Tracer`` built with ``enabled=False`` records nothing and makes no py4j
call, so untraced runs time the same calls without the collector's cost.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field

_PY4J_DELETE = "m\nd\n"
_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PYTHON_METRICS = {
    "time to run Python workers": "exec.python_run_s",
    "time to initialize Python workers": "exec.python_init_s",
}
STAGE_FIELDS = {
    # StageData accessor -> (metric, scale to the metric's unit)
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numCompleteTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children of one parent run one after another here (a single client
    thread), so their durations add without overlap.
    """
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - covered.get(s.id, 0.0) for s in spans}


def _duration_s(text: str) -> float:
    """Total of a formatted SQL timing metric, e.g. ``"total (...)\\n1.2 s (...)"``."""
    line = text.split("\n", 1)[-1]
    m = re.match(r"\s*([0-9.]+)\s*(ms|s|m|h)\b", line)
    return float(m.group(1)) * _DURATION_UNITS[m.group(2)] if m else 0.0


class Tracer:
    """Span stack plus the Spark-side counters of one traced run."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups = 0
        self.py4j_calls = 0
        self.own_calls = 0
        self._sql_seen = 0
        if enabled:
            self._count_py4j()

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    # -- py4j round trips --------------------------------------------------
    def _count_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            # the deletes py4j sends when Python proxies are garbage
            # collected follow GC timing, not the program's calls
            if not command.startswith(_PY4J_DELETE):
                self.py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted

    # -- job groups --------------------------------------------------------
    @contextlib.contextmanager
    def job_group(self, kind: str):
        """Tag the jobs started inside with a fresh group; yields its id."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        n0 = self.py4j_calls
        prev = {k: sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description")}
        self._groups += 1
        gid = f"{kind}-{self._groups}"
        sc.setJobGroup(gid, gid)
        self.own_calls += self.py4j_calls - n0
        try:
            yield gid
        finally:
            n0 = self.py4j_calls
            for key, value in prev.items():
                sc.setLocalProperty(key, value)
            self.own_calls += self.py4j_calls - n0

    def package_calls(self) -> int:
        """py4j round trips made by anything but this collector."""
        return self.py4j_calls - self.own_calls

    def _drain_listener(self) -> None:
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; stats may lag a little without it
            time.sleep(0.2)

    def job_ids(self, gid: str | None) -> list[int]:
        if gid is None:
            return []
        return sorted(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))

    def stage_sums(self, gid: str | None) -> dict:
        """Jobs, stages that ran, and summed ``StageData`` of one job group."""
        out = {"jobs": 0, "stages": 0, **{m: 0.0 for m, _ in STAGE_FIELDS.values()}}
        if gid is None:
            return out
        self._drain_listener()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        jobs = self.job_ids(gid)
        out["jobs"] = len(jobs)
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        empty_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for sid in sorted(stage_ids):
            try:
                attempts = store.stageData(sid, False, empty_status, False, no_quantiles)
            except Exception:  # noqa: BLE001 - skipped stages have no stage data
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                    continue
                out["stages"] += 1
                for accessor, (metric, scale) in STAGE_FIELDS.items():
                    out[metric] += getattr(sd, accessor)() * scale
        return out

    # -- SQL metrics of pandas-UDF nodes -----------------------------------
    def python_metrics(self, job_ids: list[int]) -> dict[str, float]:
        """Sum the Python-worker timing metrics of SQL executions that ran
        any of ``job_ids``; only executions new since the last call are read."""
        out = {m: 0.0 for m in PYTHON_METRICS.values()}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = sql.executionsCount()
        fresh = sql.executionsList(self._sql_seen, total - self._sql_seen)
        self._sql_seen = total
        wanted = set(job_ids)
        for i in range(fresh.size()):
            ex = fresh.apply(i)
            jobs = ex.jobs().keySet()
            if not any(jobs.contains(j) for j in wanted):
                continue
            metrics = ex.metrics()
            ids = {}
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() in PYTHON_METRICS:
                    ids[m.accumulatorId()] = PYTHON_METRICS[m.name()]
            if not ids:
                continue
            it = sql.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in ids:
                    out[ids[kv._1()]] += _duration_s(kv._2())
        return out

    # -- Catalyst and storage ----------------------------------------------
    @staticmethod
    def catalyst_phases(df) -> dict[str, float]:
        """Force planning of ``df`` and return the tracker's phase times in ms."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            out[f"catalyst.{phase}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
        return out

    def storage_census(self) -> tuple[int, int]:
        """(persistent RDD count, bytes they hold in memory and on disk)."""
        sc = self.spark.sparkContext
        n = sc._jsc.getPersistentRDDs().size()
        held = 0
        for info in sc._jsc.sc().getRDDStorageInfo():
            held += info.memSize() + info.diskSize()
        return n, held

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start, "end": s.end,
             "self_s": selfs[s.id], **s.attrs}
            for s in self.spans
        ]
