"""Spans and counters around the engine's layer boundaries.

The tracer wraps public callables of each layer *from outside*: it swaps a
timing wrapper onto the class or module attribute, so no program file
changes.  Spans keep ``(name, start, end, parent, request id)`` in memory
and are written out when the run ends; a layer's self time is its span's
duration minus the part its child spans cover.

Job, stage and task counts come from ``setJobGroup`` per request phase
(``<rid>/build``, ``<rid>/plan``, ``<rid>/exec``) read back through the
status tracker.  Shuffle, spill, GC and Python-worker metrics come from the
Spark event log, which only the traced run enables, parsed after the
context stops.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# (span name, module, class or None for a module function, attribute)
WRAPPED = [
    ("parser", "wvlet_spark.parser", "Parser", "parse_statements"),
    ("analyzer", "wvlet_spark.analyzer", "Analyzer", "resolve"),
    ("joinorder", "wvlet_spark.joinorder", None, "reorder_joins"),
    ("generator", "wvlet_spark.generator", "SqlGenerator", "generate"),
    ("catalyst.analyze", "pyspark.sql.session", "SparkSession", "sql"),
    ("session", "wvlet_spark.session", "WvletSession", "run"),
]

_PLAN_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None


class Tracer:
    """In-memory span recorder.  ``enabled`` gates recording so one run can
    interleave traced and untraced requests over the same wrapped code."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()

    # ------------------------------------------------------------ recording

    @property
    def rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value: str | None) -> None:
        self._local.rid = value
        self._local.stack = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, key: str, n: float = 1) -> None:
        rid = self.rid
        if self.enabled and rid is not None:
            with self._lock:
                self.counts[(rid, key)] += n

    def _push(self, name: str) -> int | None:
        rid = self.rid
        if not self.enabled or rid is None:
            return None
        stack = self._local.stack
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0,
                                   stack[-1] if stack else None, rid))
        stack.append(idx)
        return idx

    def _pop(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        stack = self._local.stack
        if stack and stack[-1] == idx:
            stack.pop()

    # ------------------------------------------------------------- wrapping

    def _wrap_callable(self, fn, name: str, after=None):
        """``fn`` recording span ``name``; ``after(out)`` sees the result
        of traced calls."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            token = tracer._push(name)
            try:
                out = fn(*args, **kwargs)
                if after is not None and token is not None:
                    after(out)
                return out
            finally:
                tracer._pop(token)

        return wrapper

    def install(self, ops_entries: dict) -> None:
        """Wrap every layer boundary in ``WRAPPED``, the footer-stats
        reader and the ops entry callables (replaced in ``ops_entries``)."""
        import importlib

        from wvlet_spark import stats as stats_mod

        def sql_bytes(out):
            self.count("generator.sql_bytes", len(out or ""))

        for name, module, cls, attr in WRAPPED:
            mod = importlib.import_module(module)
            owner = getattr(mod, cls) if cls else mod
            after = sql_bytes if name == "generator" else None
            setattr(owner, attr, self._wrap_callable(
                getattr(owner, attr), name, after))
        self._wrap_stats(stats_mod)
        for key, fn in list(ops_entries.items()):
            ops_entries[key] = self._wrap_callable(fn, "ops")

    def _wrap_stats(self, stats_mod) -> None:
        """``stats.calls`` counts calls (misses of the session's stats
        cache); ``stats.footer_reads`` counts footer files actually read:
        calls that also miss the module's footer cache, weighted by files
        sampled."""
        fn = stats_mod.parquet_table_stats
        tracer = self

        @functools.wraps(fn)
        def wrapper(files, *a, **kw):
            token = tracer._push("stats")
            before = len(stats_mod._FOOTER_CACHE)
            try:
                return fn(files, *a, **kw)
            finally:
                tracer._pop(token)
                tracer.count("stats.calls")
                if len(stats_mod._FOOTER_CACHE) > before:
                    tracer.count("stats.footer_reads",
                                 min(len(files), stats_mod.MAX_FOOTER_FILES))

        stats_mod.parquet_table_stats = wrapper

    def install_server(self, set_group) -> None:
        """Wrap ``WvletServer.execute_request`` (span ``server``) and
        ``DataFrame.collect`` as called by it (``catalyst.plan`` and
        ``exec``).  The request id travels in the request body's
        ``benchRid``; ``set_group(group)`` tags the handler thread's jobs:
        ``<rid>/build`` inside ``WvletSession.run``, ``<rid>/server`` for
        the rest of the request."""
        try:  # Spark 4: the concrete (non-Connect) DataFrame class
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        from wvlet_spark.server import WvletServer

        tracer = self
        execute, collect = WvletServer.execute_request, DataFrame.collect

        @functools.wraps(execute)
        def execute_wrapper(server, req):
            rid = req.get("benchRid")
            tracer.rid = rid
            if rid is not None:
                set_group(f"{rid}/server")
            token = tracer._push("server")
            try:
                return execute(server, req)
            finally:
                tracer._pop(token)
                tracer.rid = None
                set_group(None)

        @functools.wraps(collect)
        def collect_wrapper(df):
            stack = getattr(tracer._local, "stack", None)
            if not (tracer.enabled and stack
                    and tracer.spans[stack[-1]].name == "server"):
                return collect(df)
            with tracer.span("catalyst.plan"):
                counts = plan_counts(executed_plan(df))
            for k, v in counts.items():
                tracer.count(k, v)
            with tracer.span("exec"):
                return collect(df)

        from wvlet_spark.session import WvletSession

        run = WvletSession.run

        @functools.wraps(run)
        def run_wrapper(ws, *args, **kwargs):
            rid = tracer.rid
            if rid is None:
                return run(ws, *args, **kwargs)
            set_group(f"{rid}/build")
            try:
                return run(ws, *args, **kwargs)
            finally:
                set_group(f"{rid}/server")

        WvletServer.execute_request = execute_wrapper
        DataFrame.collect = collect_wrapper
        WvletSession.run = run_wrapper

    # ------------------------------------------------------------- analysis

    def self_ms(self) -> dict[tuple[str, str], float]:
        """(rid, span name) -> summed self time in ms."""
        children: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None and s.end:
                children[s.parent] += s.end - s.start
        out: dict[tuple[str, str], float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s.end:
                out[(s.rid, s.name)] += (s.end - s.start - children[i]) * 1e3
        return out

    def total_ms(self) -> dict[tuple[str, str], float]:
        """(rid, span name) -> summed inclusive time in ms (outermost spans
        of a name only, so recursion is not double counted)."""
        out: dict[tuple[str, str], float] = defaultdict(float)
        for s in self.spans:
            if not s.end:
                continue
            p, nested = s.parent, False
            while p is not None:
                if self.spans[p].name == s.name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out[(s.rid, s.name)] += (s.end - s.start) * 1e3
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "rid": s.rid}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.token = tracer, name, None

    def __enter__(self):
        self.token = self.tracer._push(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._pop(self.token)
        return False


# --------------------------------------------------------------- plan counts

def plan_counts(plan_text: str) -> dict[str, int]:
    """Scans, exchanges and joins in a physical plan's tree string."""
    scans = exchanges = joins = 0
    for line in plan_text.splitlines():
        m = _PLAN_NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node.startswith("Reused"):
            continue
        if "Scan" in node:
            scans += 1
        elif node.endswith("Exchange"):
            exchanges += 1
        elif "Join" in node or node == "CartesianProduct":
            joins += 1
    return {"catalyst.scans": scans, "catalyst.exchanges": exchanges,
            "catalyst.joins": joins}


def executed_plan(df) -> str:
    """Physical plan string (forces planning of ``df``'s query)."""
    qe = df._jdf.queryExecution()
    return qe.executedPlan().treeString()


# ------------------------------------------------------------ job accounting

def group_jobs(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return len(jobs), stages, tasks


# -------------------------------------------------------------- event log

PY_METRICS = {
    "time to run Python workers": "ops.python_run_ms",
    "data sent to Python workers": "ops.python_bytes_sent",
    "data returned from Python workers": "ops.python_bytes_received",
}


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task metrics from every event log in ``log_dir``.

    Keys: ``shuffle_write_bytes``, ``spill_bytes``, ``gc_ms``,
    ``task_run_ms`` and the three Python-worker SQL metrics above."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for fn in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, fn)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    acc = out[group]
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                           + tm.get("Disk Bytes Spilled", 0))
                    acc["gc_ms"] += tm.get("JVM GC Time", 0)
                    acc["task_run_ms"] += tm.get("Executor Run Time", 0)
                    for a in (ev.get("Task Info") or {}).get(
                            "Accumulables", []):
                        key = PY_METRICS.get(a.get("Name"))
                        if key is not None:
                            try:
                                acc[key] += float(a.get("Update", 0))
                            except (TypeError, ValueError):
                                pass
    return out
