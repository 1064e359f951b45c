"""Traced-run instrumentation, all of it outside ``zappy_spark``.

Spans (name, layer, start, end, parent, operation id) are kept in
memory and summarised when the run ends. Operator modules are traced
by swapping each public function for a :class:`Traced` wrapper at
every call site that binds it (the module itself and any module of
the package that imported the name). Spark-side numbers come from the
status tracker (per operation job group) and from the event log.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
import types

from perfbench import stats
from perfbench.metrics import OPERATOR_MODULES

# The active tracer of a traced run. Process-wide on purpose: the
# Traced wrappers sit inside zappy_spark's own modules, whose callers
# pass no benchmark context.
TRACER: "Tracer | None" = None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._ids = 0
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _jobs(self) -> set[int]:
        if self.op is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(self.op))

    def begin(self, name: str, layer: str, count_jobs: bool = False) -> dict:
        st = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        span = {
            "id": sid,
            "parent": st[-1]["id"] if st else None,
            "name": name,
            "layer": layer,
            "op": self.op,
            "jobs0": self._jobs() if count_jobs else None,
            "start": time.perf_counter(),
        }
        st.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        jobs0 = span.pop("jobs0")
        if jobs0 is not None:
            span["jobs"] = self._jobs() - jobs0
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, count_jobs: bool = False):
        sp = self.begin(name, layer, count_jobs)
        try:
            yield sp
        finally:
            self.end(sp)


def span(name: str, layer: str, count_jobs: bool = False):
    """A span on the active tracer, or a no-op when tracing is off."""
    if TRACER is None:
        return contextlib.nullcontext()
    return TRACER.span(name, layer, count_jobs)


def _unwrap(fn):
    return fn


class Traced:
    """Callable stand-in for a layer function. Pickles as the bare
    function, so executors never see the tracer."""

    def __init__(self, fn, name: str, layer: str):
        functools.update_wrapper(self, fn)
        self.fn, self.name, self.layer = fn, name, layer

    def __call__(self, *args, **kwargs):
        if TRACER is None:
            return self.fn(*args, **kwargs)
        with TRACER.span(self.name, self.layer, count_jobs=True):
            return self.fn(*args, **kwargs)

    def __reduce__(self):
        return (_unwrap, (self.fn,))


def install_operator_wrappers() -> int:
    """Wrap every public function of the operator modules, at every
    binding inside ``zappy_spark``. Returns how many were wrapped."""
    import importlib

    wrapped: dict[int, Traced] = {}
    for mod in OPERATOR_MODULES:
        m = importlib.import_module(f"zappy_spark.operators.{mod}")
        for attr, fn in list(vars(m).items()):
            if (
                isinstance(fn, types.FunctionType)
                and not attr.startswith("_")
                and fn.__module__ == m.__name__
            ):
                wrapped[id(fn)] = Traced(fn, f"operators.{mod}.{attr}", f"operators.{mod}")
    for name, m in list(sys.modules.items()):
        if not name.startswith("zappy_spark") or m is None:
            continue
        for attr, fn in list(vars(m).items()):
            w = wrapped.get(id(fn))
            if w is not None and w.fn is fn:
                setattr(m, attr, w)
    return len(wrapped)


def install_load_table_wrapper(counter: dict) -> None:
    """Time ``load_table`` where the query builders call it and count
    calls answered from the session's table cache."""
    from zappy_spark import session
    from zappy_spark.queries import _util

    orig = session.load_table

    def load_table(spark, sf_dir, name):
        key = (spark.sparkContext.applicationId, sf_dir, name)
        counter["calls"] += 1
        counter["hits"] += key in session._TABLE_CACHE
        with span("session.load_table", "session"):
            return orig(spark, sf_dir, name)

    _util.load_table = load_table


def summarize_spans(spans: list[dict]) -> dict:
    """Per-layer self seconds, and per-layer jobs launched by a span
    and by none of its children."""
    selfs = stats.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    child_jobs: dict[int, set] = {}
    for s in spans:
        if s.get("jobs") is not None and s["parent"] in by_id:
            child_jobs.setdefault(s["parent"], set()).update(s["jobs"])
    layer_s: dict[str, float] = {}
    layer_jobs: dict[str, int] = {}
    for s in spans:
        layer_s[s["layer"]] = layer_s.get(s["layer"], 0.0) + selfs[s["id"]]
        if s.get("jobs") is not None:
            own = s["jobs"] - child_jobs.get(s["id"], set())
            layer_jobs[s["layer"]] = layer_jobs.get(s["layer"], 0) + len(own)
    return {"self_s": layer_s, "jobs": layer_jobs}


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


def event_log_metrics(log_dir: str, t0_ms: float, t1_ms: float, cores: int) -> tuple[dict, dict]:
    """Engine totals over tasks launched inside [t0_ms, t1_ms], and
    input records read per job group."""
    tot = dict.fromkeys(("shuffle_write", "shuffle_read", "spill", "gc_ms", "run_ms", "sched_ms"), 0)
    stage_group: dict[int, str] = {}
    records: dict[str, int] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs if not f.startswith("."))
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    continue
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                group = stage_group.get(ev.get("Stage ID"))
                if group:
                    read = (m.get("Input Metrics") or {}).get("Records Read", 0)
                    records[group] = records.get(group, 0) + read
                launch = info.get("Launch Time", 0)
                if not (t0_ms <= launch <= t1_ms):
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                tot["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                tot["spill"] += m.get("Disk Bytes Spilled", 0)
                tot["gc_ms"] += m.get("JVM GC Time", 0)
                run = m.get("Executor Run Time", 0)
                tot["run_ms"] += run
                finish = info.get("Finish Time", launch)
                fetch = finish - info["Getting Result Time"] if info.get("Getting Result Time") else 0
                busy = run + m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0) + fetch
                tot["sched_ms"] += max(0, finish - launch - busy)
    wall_s = max(1e-9, (t1_ms - t0_ms) / 1000.0)
    mb = 1024.0 * 1024.0
    return {
        "spark.shuffle_write_mb": tot["shuffle_write"] / mb,
        "spark.shuffle_read_mb": tot["shuffle_read"] / mb,
        "spark.spill_mb": tot["spill"] / mb,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
        "spark.executor_run_s": tot["run_ms"] / 1000.0,
        "spark.core_util": tot["run_ms"] / 1000.0 / (wall_s * cores),
        "spark.scheduler_delay_s": tot["sched_ms"] / 1000.0,
    }, records
