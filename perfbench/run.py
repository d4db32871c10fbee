#!/usr/bin/env python3
"""wvspark benchmark: one workload per process, end-to-end or traced.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 24 \\
        --trace 0

Run from the repository root.  Each run

1. builds its inputs once per checkout (``data.py`` tables and the DuckDB
   oracle results, cached under ``.bench_build/perfbench``; not timed);
2. sets up the program five times in this process (SparkSession on
   ``local[<cores>]`` plus ``WvletSession``; the first includes the JVM
   launch) and reports the median as ``setup_s``;
3. runs one warm-up pass that checks every request's output against its
   oracle (or invariants, see ``checks.py``) and counts the catalog's temp
   views afterwards (``catalog_views``);
4. runs whole measured passes, each in a seed-permuted order: at least
   three, and more while another should end within ``--seconds``.  It
   times each request: the in-process workload materializes results
   through the noop sink, the server workload times the HTTP round trip
   of its client.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps every
layer boundary (``layers.py``), traces each request in one of the first
two passes and prints the per-layer metrics plus the tracing overhead.  The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the full report (stamps, settings, failures, per-entry times),
also written to ``.bench_build/perfbench/results``.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import statistics
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SETUPS = 5
MIN_PASSES = 3
MAX_ROWS = 40
SAVE_SUFFIX = "\n| save to '{path}'"


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_conf(trace: bool) -> dict[str, str]:
    """Every Spark setting the benchmark applies (the small-input branch
    of the project's bench knobs: coarse splits, eager broadcast, few
    shuffle buckets, no AQE), with all scratch space inside the checkout."""
    local = os.path.join(BUILD, "spark-local")
    conf = {
        "spark.master": f"local[{_cores()}]",
        "spark.app.name": "wvspark-perfbench",
        "spark.driver.memory": "2g",
        # -Xms = -Xmx: resident memory tracks what the heap holds, not when
        # G1 decided to grow it (peak RSS spread 0.15 -> 0.01 over 5 runs).
        # C1-only JIT: with tiered C2 the pass times of a fresh JVM keep
        # falling for the first minute (measured 5.0 -> 2.5 s per pass), so
        # short runs would measure JIT progress.  C1-only also shrinks the
        # default code cache to 48 MB, which Spark's generated code filled
        # about 45 s into a run; the flush and recompiles that followed
        # slowed that pass by a third.  256 MB (the tiered default) does
        # not fill within a run.  A tenth of the usual compile thresholds
        # lets the warm-up pass compile what the measured passes run; at
        # the default the first measured pass was still 12% slower than the
        # third in the pipeline workload.
        "spark.driver.extraJavaOptions": (
            "-Xms2g -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
            " -XX:CompileThresholdScaling=0.1"),
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(BUILD, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(128 << 20),
        "spark.sql.files.openCostInBytes": str(1 << 20),
        "spark.sql.autoBroadcastJoinThreshold": str(64 << 20),
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "40000",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = os.path.join(BUILD, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


# ------------------------------------------------------------------ stamps

class RssSampler(threading.Thread):
    """Peak resident memory of this process's descendants (the driver JVM
    and its Python workers), sampled from /proc.

    Only processes already present at the previous sample count: a child
    the JVM forks to run a shell command reports the whole JVM's resident
    set until it execs, which doubled the reading in about one interactive
    run in five."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval, self.peak_kb = interval, 0
        self._seen: set[int] = set()
        self._stop_ev = threading.Event()

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        total, todo, seen = 0, self._children(os.getpid()), set()
        while todo:
            pid = todo.pop()
            seen.add(pid)
            if pid in self._seen:
                total += self._rss_kb(pid)
            todo.extend(self._children(pid))
        self._seen = seen
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_ev.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()
        self.sample()


def _loadavg() -> list[float] | None:
    try:
        return list(os.getloadavg())
    except OSError:
        return None


# -------------------------------------------------------------------- bench

class Bench:
    def __init__(self, workload, seed: int, seconds: float,
                 trace: bool) -> None:
        from checks import OracleCache
        from workloads import Plan

        import data as datagen

        self.w, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.plan = Plan.make(workload, seed)
        t0 = time.perf_counter()
        self.data_dir = datagen.ensure(workload.sf, BUILD)
        self.run_dir = os.path.join(BUILD, "run", str(os.getpid()))
        os.makedirs(self.run_dir, exist_ok=True)
        self.cache = OracleCache(self.data_dir + ".oracles.pkl",
                                 self.data_dir)
        self.oracles = _oracles(workload.entries, self.data_dir)
        self.cache.ensure([o for o in self.oracles.values() if o is not None])
        self.cache.save()
        self.build_s = time.perf_counter() - t0
        import pyarrow.parquet as pq

        self.docs = pq.read_table(
            os.path.join(self.data_dir, "documents.parquet"),
            columns=["doc_id", "n_chars"])
        self.failures: list[dict] = []
        self.released_rdds = 0
        self.tracer = None
        self._saves = itertools.count(1)

    # ---------------------------------------------------------- entries

    def text(self, name: str, save: bool) -> tuple[str, str | None]:
        from wvlet_spark.suite import SUITE

        text = SUITE[name][0]
        if not save:
            return text, None
        path = os.path.join(self.run_dir, f"out_{next(self._saves)}.parquet")
        return text.rstrip() + SAVE_SUFFIX.format(path=path), path

    # ----------------------------------------------------------- set-up

    def setup(self) -> list[float]:
        from pyspark.sql import SparkSession

        from wvlet_spark import WvletSession

        conf = spark_conf(self.trace)
        os.makedirs(conf["spark.local.dir"], exist_ok=True)
        if self.trace:
            os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
        times = []
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            t0 = time.perf_counter()
            b = SparkSession.builder
            for k, v in conf.items():
                b = b.config(k, v)
            self.spark = b.getOrCreate()
            self.spark.sparkContext.setLogLevel("ERROR")
            self.ws = WvletSession(self.spark, table_dir=self.data_dir,
                                   test_mode=self.w.server)
            times.append(time.perf_counter() - t0)
        self.base_views = self.view_count()
        from wvlet_spark.ops.registry import entry_queries

        self.ops = dict(entry_queries())
        if self.w.server:
            from wvlet_spark.server import WvletServer

            self.server = WvletServer(self.ws, default_max_rows=MAX_ROWS)
            self.server.start()
        return times

    def view_count(self) -> int:
        return len([t for t in self.spark.catalog.listTables()
                    if t.isTemporary])

    def rdd_count(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def release(self) -> None:
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
            self.released_rdds += 1

    # ------------------------------------------------------ in-process

    def _group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def request(self, name: str, save: bool, rid: str, traced: bool,
                check: bool) -> dict:
        """Run one in-process request; time it; check it if asked."""
        from checks import check_df, check_saved
        from layers import executed_plan, plan_counts
        from wvlet_spark.suite import SUITE

        tr = self.tracer
        if tr is not None:
            tr.rid = rid if traced else None
        group = self._group if traced else (lambda g: None)
        rec = {"name": name, "rid": rid, "save": save, "traced": traced,
               "ok": True, "msg": ""}
        path = None
        t0 = time.perf_counter()
        try:
            group(f"{rid}/build")
            if name in SUITE:
                text, path = self.text(name, save)
                df = self.ws.run(text)
            else:
                df = self.ops[name](self.spark, self.data_dir)
            if traced and df is not None:
                group(f"{rid}/plan")
                with tr.span("catalyst.plan"):
                    counts = plan_counts(executed_plan(df))
                for k, v in counts.items():
                    tr.count(k, v)
            group(f"{rid}/exec")
            if df is not None and check:
                rec["ok"], rec["msg"] = check_df(
                    name, df, self.oracles[name], self.cache, self.docs,
                    self.context)
            elif df is not None:
                with tr.span("exec") if tr else contextlib.nullcontext():
                    df.write.format("noop").mode("overwrite").save()
            rec["latency"] = time.perf_counter() - t0
            if path is not None:
                rec["ok"], rec["msg"] = check_saved(
                    path, self.oracles[name], self.cache)
        except Exception as ex:  # a failing entry is counted, not fatal
            rec["latency"] = time.perf_counter() - t0
            rec["ok"], rec["msg"] = False, _err(ex)
        finally:
            if traced:
                self._group(None)
            if tr is not None:
                tr.rid = None
        if self.w.release_rdds:
            self.release()
        return rec

    # ---------------------------------------------------------- server

    def post(self, name: str, save: bool, rid: str, traced: bool,
             check: bool) -> dict:
        import http.client

        from checks import check_preview, check_saved

        text, path = self.text(name, save)
        body = json.dumps({"query": text, "querySelection": "all",
                           "maxRows": MAX_ROWS,
                           "benchRid": rid if traced else None})
        rec = {"name": name, "rid": rid, "save": save, "traced": traced,
               "ok": True, "msg": ""}
        t0 = time.perf_counter()
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.server.port,
                                              timeout=170)
            try:
                conn.request("POST", "/v1/query", body,
                             {"Content-Type": "application/json"})
                info = json.loads(conn.getresponse().read())
            finally:
                conn.close()
            rec["latency"] = time.perf_counter() - t0
            if info.get("error"):
                rec["ok"], rec["msg"] = False, str(info["error"])[:300]
            elif path is not None:
                rec["ok"], rec["msg"] = check_saved(
                    path, self.oracles[name], self.cache)
            elif check:
                rec["ok"], rec["msg"] = check_preview(
                    name, info, self.oracles[name], self.cache, MAX_ROWS)
        except Exception as ex:
            rec["latency"] = time.perf_counter() - t0
            rec["ok"], rec["msg"] = False, _err(ex)
        return rec

    # ----------------------------------------------------------- passes

    def traced_in(self, name: str, k: int) -> bool:
        """Traced runs trace each entry in one of the first two measured
        passes and leave it untraced in the other (the overhead
        comparison); later passes are untraced."""
        if not self.trace or k > 1:
            return False
        return (self.plan.order.index(name) + k) % 2 == 0

    def one_pass(self, k: int, check: bool) -> tuple[list[dict], float]:
        order = self.plan.pass_order(k) if not check else self.plan.order
        phase = "w" if check else f"p{k}"
        self.context: dict = {}
        jobs = [(name, f"{phase}-{i:02d}-{name}",
                 (not check) and self.traced_in(name, k))
                for i, name in enumerate(order)]
        t0 = time.perf_counter()
        run = self.post if self.w.server else self.request
        recs = [run(name, name in self.plan.saves, rid, traced, check)
                for name, rid, traced in jobs]
        wall = time.perf_counter() - t0
        for r in recs:
            r["phase"] = phase
            if not r["ok"]:
                self.failures.append({"name": r["name"], "phase": phase,
                                      "msg": r["msg"][:300]})
                print(f"perfbench: {r['name']} failed in pass {phase}: "
                      f"{r['msg'][:300]}", file=sys.stderr)
        return recs, wall

    # ------------------------------------------------------------ run

    def run(self) -> dict:
        from bench import _StealMonitor

        steal = _StealMonitor()
        load0 = _loadavg()
        if self.trace:
            from layers import Tracer

            self.tracer = Tracer()
        rss = RssSampler()
        try:
            setup_times = self.setup()
            if self.tracer is not None:
                self.tracer.install(self.ops)
                if self.w.server:
                    self.tracer.install_server(self._group)
            rss.start()
            warm, warm_wall = self.one_pass(0, check=True)
            catalog_views = self.view_count()
            rdds_after_pass = self.rdd_count()
            if self.tracer is not None:
                self.tracer.enabled = True
            measured: list[dict] = []
            walls: list[float] = []
            # whole passes; another only if it should end within --seconds
            while len(walls) < MIN_PASSES or (
                    sum(walls) * (len(walls) + 1) / len(walls)
                    <= self.seconds):
                recs, wall = self.one_pass(len(walls), check=False)
                measured.extend(recs)
                walls.append(wall)
            views_end, rdds_end = self.view_count(), self.rdd_count()
            if self.tracer is not None:
                self._job_counts = self.job_counts(measured)
        finally:
            if rss.is_alive():
                rss.stop()
            if getattr(self, "server", None) is not None:
                self.server.stop()
            t_stop = time.perf_counter()
            self.shutdown()
            self.shutdown_s = time.perf_counter() - t_stop
        report = {
            "workload": self.w.name, "seed": self.seed,
            "trace": int(self.trace), "sf": self.w.sf,
            "entries": list(self.w.entries), "order": self.plan.order,
            "saves": sorted(self.plan.saves),
            "spark_conf": spark_conf(self.trace),
            "setup_s_samples": setup_times,
            "warmup_s": warm_wall, "passes": len(walls),
            "measured_s": sum(walls), "pass_s": walls,
            "requests": len(measured),
            "base_views": self.base_views, "catalog_views": catalog_views,
            "rdds_after_pass": rdds_after_pass,
            "leaked_views_end": views_end - self.base_views,
            "persisted_rdds_end": rdds_end,
            "released_rdds": self.released_rdds,
            "peak_rss_mb": rss.peak_kb / 1024.0,
            "failures": self.failures,
            "stamps": {"steal_permille": steal.permille(),
                       "loadavg_start": load0, "loadavg_end": _loadavg(),
                       "oracle_duckdb_s": self.cache.duckdb_s,
                       "build_s": self.build_s,
                       "shutdown_s": self.shutdown_s,
                       "process_s": time.perf_counter() - T_START},
            "per_entry_s": _per_entry(measured),
            "latencies": [[r["phase"], r["name"], round(r["latency"], 4)]
                          for r in warm + measured],
        }
        attempted = len(warm) + len(measured)
        failed = sum(1 for r in warm + measured if not r["ok"])
        report["fail_ratio"] = failed / attempted
        # each entry's median over the passes, so one pass slowed by a
        # burst on the host does not move the percentiles
        lat = sorted(report["per_entry_s"].values())
        pass_qps = [sum(1 for r in measured if r["phase"] == f"p{k}") / wall
                    for k, wall in enumerate(walls)]
        if self.trace:
            metrics = self.layer_metrics(measured, report)
        else:
            metrics = {
                "setup_s": (statistics.median(setup_times), "s"),
                "queries_per_s": (statistics.median(pass_qps), "1/s"),
                "latency_p50_s": (statistics.median(lat), "s"),
                "latency_p90_s": (_p90(lat), "s"),
                "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
                "catalog_views": (catalog_views, "count"),
            }
        report["metrics"] = {k: v for k, (v, _u) in metrics.items()}
        return {
            "report": report,
            "result": {
                "correct": failed == 0, "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()},
            },
        }

    def job_counts(self, measured: list[dict]) -> dict:
        from layers import group_jobs

        sc = self.spark.sparkContext
        return {f"{r['rid']}/{p}": group_jobs(sc, f"{r['rid']}/{p}")
                for r in measured if r["traced"]
                for p in ("build", "plan", "exec", "server")}

    def shutdown(self) -> None:
        """Stop Spark and the JVM this process launched, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()

    # ---------------------------------------------------------- layers

    def layer_metrics(self, measured: list[dict], report: dict) -> dict:
        from layers import parse_event_log

        tr = self.tracer
        traced = [r for r in measured if r["traced"]]
        rids = [r["rid"] for r in traced]
        n = max(1, len(rids))
        selfms, totms = tr.self_ms(), tr.total_ms()
        ev = parse_event_log(os.path.join(BUILD, "eventlog"))
        sc_jobs = self._job_counts

        def mean_total(span: str) -> float:
            return sum(totms.get((r, span), 0.0) for r in rids) / n

        def mean_self(span: str) -> float:
            return sum(selfms.get((r, span), 0.0) for r in rids) / n

        def mean_count(key: str) -> float:
            return sum(tr.counts.get((r, key), 0.0) for r in rids) / n

        def mean_jobs(phase: str, idx: int, only=None) -> float:
            return sum(sc_jobs.get(f"{r}/{phase}", (0, 0, 0))[idx]
                       for r in rids if only is None or only(r)) / n

        def mean_ev(phases, key: str) -> float:
            return sum(ev.get(f"{r}/{p}", {}).get(key, 0.0)
                       for r in rids for p in phases) / n

        exec_phase = ("server",) if self.w.server else ("exec",)
        all_phases = ("build", "plan", "exec", "server")

        def is_ops(rid: str) -> bool:  # rid: "<phase>-<index>-<entry>"
            return rid.split("-", 2)[2] in self.ops

        untraced = {r["name"]: r["latency"] for r in measured
                    if not r["traced"] and r["phase"] in ("p0", "p1")}
        pairs = [(r["latency"], untraced[r["name"]]) for r in traced
                 if r["name"] in untraced]
        t_lat = sum(p[0] for p in pairs)
        u_lat = sum(p[1] for p in pairs)
        m = {
            "parser.ms": mean_total("parser"),
            "analyzer.ms": mean_total("analyzer"),
            "generator.ms": mean_total("generator"),
            "joinorder.ms": mean_total("joinorder"),
            "generator.sql_bytes": mean_count("generator.sql_bytes"),
            "catalyst.scans": mean_count("catalyst.scans"),
            "catalyst.exchanges": mean_count("catalyst.exchanges"),
            "catalyst.joins": mean_count("catalyst.joins"),
            "stats.calls": mean_count("stats.calls"),
            "stats.footer_reads": mean_count("stats.footer_reads"),
            "stats.ms": mean_total("stats"),
            "session.self_ms": mean_self("session"),
            "session.build_jobs": mean_jobs(
                "build", 0, lambda r: not is_ops(r)),
            "session.temp_views_end": report["leaked_views_end"],
            "session.persisted_rdds_end": report["persisted_rdds_end"],
            "session.released_rdds": report["released_rdds"],
            "catalyst.analyze_ms": mean_total("catalyst.analyze"),
            "catalyst.plan_ms": mean_total("catalyst.plan"),
            "exec.ms": mean_total("exec"),
            "exec.jobs": sum(mean_jobs(p, 0) for p in exec_phase),
            "exec.stages": sum(mean_jobs(p, 1) for p in exec_phase),
            "exec.tasks": sum(mean_jobs(p, 2) for p in exec_phase),
            "exec.shuffle_write_bytes": mean_ev(exec_phase,
                                                "shuffle_write_bytes"),
            "exec.spill_bytes": mean_ev(exec_phase, "spill_bytes"),
            "exec.gc_ms": mean_ev(exec_phase, "gc_ms"),
            "exec.task_run_ms": mean_ev(exec_phase, "task_run_ms"),
            "ops.build_ms": mean_total("ops"),
            "ops.build_jobs": mean_jobs("build", 0, is_ops),
            "ops.python_run_ms": mean_ev(all_phases, "ops.python_run_ms"),
            "ops.python_bytes_sent": mean_ev(all_phases,
                                             "ops.python_bytes_sent"),
            "ops.python_bytes_received": mean_ev(
                all_phases, "ops.python_bytes_received"),
            "server.self_ms": mean_self("server"),
            "server.parses_per_request": (
                sum(1 for s in tr.spans if s.name == "parser"
                    and s.rid in set(rids)) / n if self.w.server else 0.0),
            "trace.queries_per_s_traced": (
                len(pairs) / t_lat if t_lat else 0.0),
            "trace.queries_per_s_untraced": (
                len(pairs) / u_lat if u_lat else 0.0),
            "trace.overhead_ratio": t_lat / u_lat if u_lat else 0.0,
        }
        units = {".ms": "ms", "_ms": "ms", "_bytes": "bytes",
                 "per_s": "1/s", "ratio": "ratio"}
        out = {}
        for k, v in m.items():
            unit = next((u for s, u in units.items() if s in k), "count")
            out[k] = (v, unit)
        tr.dump(os.path.join(
            BUILD, "results", f"{self.w.name}-s{self.seed}-spans.jsonl"))
        report["traced_requests"] = len(rids)
        return out


def _oracles(names, data_dir: str) -> dict:
    """Oracle SQL per entry (None: checked by invariants or no oracle).
    Data-dependent oracle constants are derived from the benchmark's own
    dataset."""
    from wvlet_spark.ops import registry
    from wvlet_spark.suite import SUITE

    from checks import INVARIANTS

    registry._ORACLE_SF_DIR = data_dir
    ext = registry.entry_oracles()
    return {n: None if n in INVARIANTS
            else SUITE[n][1] if n in SUITE else ext.get(n) for n in names}


def _err(ex: BaseException) -> str:
    return f"{type(ex).__name__}: {str(ex)[:240]}"


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _per_entry(recs: list[dict]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for r in recs:
        by.setdefault(r["name"], []).append(r["latency"])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def run_all(names: list[str], args) -> int:
    """Every workload, each in a fresh process; one table of all metrics."""
    import subprocess

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {name} failed "
                  f"(exit {proc.returncode})", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for metric, v in res["metrics"].items():
            total["metrics"][f"{name}.{metric}"] = v
            print(f"{name:12s} {metric:30s} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps(total))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' for every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark  # noqa: F401

        import wvlet_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(sorted(WORKLOADS), args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for sub in ("tmp", "results"):
        os.makedirs(os.path.join(BUILD, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(BUILD, "tmp")
    # every JVM the launcher starts: no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    # glibc's per-thread malloc arenas (up to 8 per core) let the JVM's
    # native memory, and so resident size, double at random between runs
    # (2.5 vs 4.9 GB measured); two arenas keep it steady
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import shutil
    import tempfile

    tempfile.tempdir = None
    if args.trace:
        shutil.rmtree(os.path.join(BUILD, "eventlog"), ignore_errors=True)

    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace))
    try:
        out = bench.run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    report = out["report"]
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(BUILD, "results", name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps(report, default=str, separators=(",", ":")))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
