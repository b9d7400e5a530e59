"""Traced runs: spans around the calls into each layer, and per-layer
metrics read from Spark's own status REST API and streaming listener.

Everything here is installed from the benchmark's side: public callables
of the engine are wrapped by attribute, so no engine file changes. A name
that a later change removes is reported as an absent layer, not a
failure. Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import datetime as _dt
import functools
import importlib
import inspect
import json
import re
import statistics
import sys
import time
import urllib.request
from contextlib import contextmanager

import workloads

PKG = "database_migration_engine_spark"
OPERATOR_MODULES = ["dedup", "similarity", "graph", "kmeans", "ranks", "joins",
                    "skew", "approx", "multimodal", "scd", "cdc"]

# (module, owner attribute or None, callables, span name)
WRAP_TARGETS = [
    ("sources.migrations", None, ["load_from_dir"], "sources.load_dir"),
    ("io", None, ["read_table"], "sources.read_table"),
    ("analyzer.analyze", None, ["analyze", "severity_rollup"],
     "analyzer.analyze"),
    ("executor.orchestrator", "ParquetLedger",
     ["record_applied", "record_rolled_back"], "executor.ledger_write"),
    ("executor.orchestrator", "ParquetLedger",
     ["is_applied", "get_checksum"], "executor.ledger_probe"),
    ("executor.orchestrator", "CollectingRunner", ["run"], "executor.runner"),
    ("executor.lock", "AdvisoryFileLock", ["__enter__"], "executor.lock"),
    ("warehouse", None,
     ["ensure_bucketed", "ensure_partitioned", "ensure_partitioned_bucketed"],
     "warehouse.layout"),
]

# Per-layer metrics by layer. perfbench/README.md gives, for each, the
# end-to-end metric and workload it should move.
LAYERS = {
    "session": ["session.start_s"],
    "sources": ["sources.load_s", "sources.files", "sources.input_bytes"],
    "analyzer": ["analyzer.analyze_s", "analyzer.statements",
                 "analyzer.findings", "analyzer.jobs",
                 "analyzer.python_run_s"],
    "executor": ["executor.ledger_writes", "executor.ledger_write_s",
                 "executor.ledger_probes", "executor.ledger_probe_s",
                 "executor.runner_s", "executor.lock_s",
                 "executor.jobs_per_migration"],
    "plans": ["plans.build_s", "plans.build_jobs", "plans.plan_s"],
    "operators": [f"operators.{m}.{k}" for m in OPERATOR_MODULES
                  for k in ("calls", "self_s")],
    "functions": ["functions.python_run_s", "functions.python_start_s",
                  "functions.bytes_to_python", "functions.bytes_from_python"],
    "warehouse": ["warehouse.layout_writes", "warehouse.layout_write_s"],
    "exec": ["exec.collect_s", "exec.jobs", "exec.stages", "exec.tasks",
             "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
             "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
             "exec.fetch_wait_s", "exec.spill_bytes", "exec.result_bytes",
             "exec.cached_bytes"],
    "streaming": ["streaming.batches", "streaming.batch_ms_p50",
                  "streaming.add_batch_ms", "streaming.query_planning_ms",
                  "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
                  "streaming.latest_offset_ms", "streaming.get_batch_ms",
                  "streaming.state_commit_ms", "streaming.state_rows",
                  "streaming.state_memory_bytes",
                  "streaming.state_partitions"],
}

# Metrics also reported for the cold first pass, as ``first.<name>``:
# the ones where one-time work lands.
FIRST_PASS = ["sources.load_s", "analyzer.python_run_s", "plans.build_s",
              "plans.build_jobs", "warehouse.layout_writes",
              "warehouse.layout_write_s", "functions.python_run_s",
              "functions.python_start_s", "exec.jobs", "exec.task_run_s"] + [
    f"operators.{m}.self_s" for m in OPERATOR_MODULES]

# The traced run's own end-to-end figures; traced minus untraced (same
# seed) is the tracing overhead.
TRACED_E2E = ["first_pass_s", "pass_s", "op_p50_s", "op_tail_s"]


def per_layer_names() -> list[str]:
    names = [m for metrics in LAYERS.values() for m in metrics]
    return (names + [f"first.{m}" for m in FIRST_PASS]
            + [f"trace.{m}" for m in TRACED_E2E] + workloads.BREAKDOWN
            + ["peak_rss_mb"])


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms") or name.endswith("_ms_p50"):
        return "ms"
    if "bytes" in name:
        return "B"
    return "count"


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id)."""

    def __init__(self):
        self.wall_offset = time.time() - time.perf_counter()
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.op = -1
        self.absent: list[str] = []
        # (op id, DataFrame) of every extract_statements call, counted
        # after the pass
        self.statements: list[tuple[int, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, s, _, p, o = self.spans[idx]
            self.spans[idx] = (n, s, time.perf_counter(), p, o)

    def _wrapper(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _keeping_statements(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            self.statements.append((self.op, out))
            return out
        return traced

    def wrap_module_function(self, module, attr: str, name: str,
                             wrapper=None) -> bool:
        """Rebind ``module.attr`` and every other engine module's binding of
        the same function (``from x import f`` copies)."""
        fn = getattr(module, attr, None)
        if fn is None:
            return False
        traced = (wrapper or self._wrapper)(fn, name)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith(PKG):
                for key, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, key, traced)
        return True

    def install(self) -> None:
        """Wrap every layer's public callables. Missing names are noted."""
        for modname, owner, attrs, name in WRAP_TARGETS:
            try:
                mod = importlib.import_module(f"{PKG}.{modname}")
            except ImportError:
                self.absent.append(modname)
                continue
            for attr in attrs:
                if owner is None:
                    ok = self.wrap_module_function(mod, attr, name)
                else:
                    cls = getattr(mod, owner, None)
                    ok = cls is not None and attr in vars(cls)
                    if ok:
                        setattr(cls, attr, self._wrapper(vars(cls)[attr], name))
                if not ok:
                    self.absent.append(
                        ".".join(filter(None, (modname, owner, attr))))
        try:
            mod = importlib.import_module(f"{PKG}.analyzer.analyze")
            ok = self.wrap_module_function(mod, "extract_statements",
                                           "analyzer.statements",
                                           self._keeping_statements)
        except ImportError:
            ok = False
        if not ok:
            self.absent.append("analyzer.analyze.extract_statements")
        for m in OPERATOR_MODULES:
            try:
                mod = importlib.import_module(f"{PKG}.operators.{m}")
            except ImportError:
                self.absent.append(f"operators.{m}")
                continue
            for attr, fn in list(vars(mod).items()):
                if (not attr.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__):
                    self.wrap_module_function(mod, attr, f"operators.{m}")

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its child spans cover."""
        out = [e - s for _, s, e, _, _ in self.spans]
        for _, s, e, parent, _ in self.spans:
            if parent >= 0:
                out[parent] -= e - s
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.spans, "absent": self.absent}, fh)


# --- Spark status REST API --------------------------------------------------

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """A formatted SQL metric (``"total (min, med, max ...)\\n5.8 s (..)"``,
    ``"0 ms"``, ``"1,000"``) as a number in seconds, bytes or a count."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def parse_time(text: str) -> float:
    """A REST timestamp (``2026-10-17T03:44:22.117GMT``) as epoch seconds."""
    return _dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=_dt.timezone.utc).timestamp()


class SparkRest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self, job_ids: set[int], timeout: float = 5.0) -> list[dict]:
        """Jobs listing once every known job has ended in the status store
        (it is updated asynchronously from the scheduler's events)."""
        deadline = time.time() + timeout
        while True:
            jobs = self.get("/jobs")
            done = {j["jobId"] for j in jobs if j["status"] != "RUNNING"}
            if job_ids <= done or time.time() > deadline:
                return jobs
            time.sleep(0.1)


def sql_python_metrics(executions: list[dict]) -> dict[str, float]:
    """Python worker metrics summed over every node that reports them
    (MapInPandas, FlatMapGroupsInPandas, ArrowEvalPython, ...)."""
    out = dict.fromkeys(("functions.python_run_s", "functions.python_start_s",
                         "functions.bytes_to_python",
                         "functions.bytes_from_python"), 0.0)
    keys = {"time to run Python workers": "functions.python_run_s",
            "time to start Python workers": "functions.python_start_s",
            "time to initialize Python workers": "functions.python_start_s",
            "data sent to Python workers": "functions.bytes_to_python",
            "data returned from Python workers": "functions.bytes_from_python"}
    for ex in executions:
        for node in ex.get("nodes", []):
            for met in node.get("metrics", []):
                key = keys.get(met["name"])
                if key:
                    out[key] += parse_metric(met["value"])
    return out


def files_read(executions: list[dict]) -> float:
    """Files read by the scan nodes of the executions (SQL node metric)."""
    return sum(parse_metric(met["value"])
               for ex in executions for node in ex.get("nodes", [])
               if node.get("nodeName", "").startswith("Scan")
               for met in node.get("metrics", [])
               if met["name"] == "number of files read")


def stage_metrics(stages: list[dict]) -> dict[str, float]:
    s = lambda k: sum(st.get(k, 0) for st in stages)  # noqa: E731
    return {
        "exec.stages": len(stages),
        "exec.tasks": s("numCompleteTasks") + s("numFailedTasks"),
        "exec.task_run_s": s("executorRunTime") / 1e3,
        "exec.task_cpu_s": s("executorCpuTime") / 1e9,
        "exec.gc_s": s("jvmGcTime") / 1e3,
        "exec.shuffle_write_bytes": s("shuffleWriteBytes"),
        "exec.shuffle_read_bytes": s("shuffleReadBytes"),
        "exec.fetch_wait_s": s("shuffleFetchWaitTime") / 1e3,
        "exec.spill_bytes": s("memoryBytesSpilled") + s("diskBytesSpilled"),
        "exec.result_bytes": s("resultSize"),
    }


# --- streaming listener -----------------------------------------------------

def make_listener():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.reports: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.reports.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def streaming_metrics(reports: list[dict]) -> dict[str, float]:
    """Per-batch phases summed over the pass; batch time as a median; state
    size from each query's last report."""
    batches = [r for r in reports
               if "triggerExecution" in r.get("durationMs", {})]
    dur = lambda k: sum(r["durationMs"].get(k, 0) for r in batches)  # noqa
    ops = [o for r in batches for o in r.get("stateOperators", [])]
    trig = [r["durationMs"]["triggerExecution"] for r in batches]
    last_state: dict = {}
    for r in batches:
        if r.get("stateOperators"):
            last_state[r["id"]] = r["stateOperators"]
    final = [o for v in last_state.values() for o in v]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_ms_p50": statistics.median(trig) if trig else 0.0,
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.get_batch_ms": dur("getBatch"),
        "streaming.state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in final),
        "streaming.state_memory_bytes": sum(
            o.get("memoryUsedBytes", 0) for o in final),
        "streaming.state_partitions": sum(
            o.get("numShufflePartitions", 0) for o in final),
    }


# --- per-pass assembly ------------------------------------------------------

class Probe:
    """Spark-side observation for a traced run: a streaming listener, and
    after each pass (untimed) the cached bytes and the status store's jobs,
    stages and SQL executions, read before the UI's retention drops them."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.statements: dict[int, int] = {}  # op id -> statements extracted
        self.listener = make_listener()
        spark.streams.addListener(self.listener)
        self.rest = SparkRest(spark.sparkContext)
        self.known: dict[str, dict] = {"jobs": {}, "stages": {}, "sql": {}}
        self.snaps: dict[int, dict] = {}

    def after_pass(self, index: int, ops) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        ids = {j for op in ops
               for ph in ("plans.build", "plans.plan", "exec.collect",
                          "exec.call")
               for j in tracker.getJobIdsForGroup(f"pb:{op}:{ph}")}
        for job in self.rest.settle(ids):
            self.known["jobs"][job["jobId"]] = job
        for st in self.rest.get("/stages"):
            self.known["stages"][st["stageId"]] = st
        sql = self.known["sql"]
        while True:
            page = self.rest.get(f"/sql?details=true&offset={len(sql)}"
                                 "&length=200")
            sql.update((ex["id"], ex) for ex in page)
            if len(page) < 200:
                break
        self.snaps[index] = {"cached_bytes": sum(
            r.get("memoryUsed", 0) + r.get("diskUsed", 0)
            for r in self.rest.get("/storage/rdd"))}
        # counted after the pass's last operation window, outside any
        # operation's job group, so these jobs are not the pass's work
        for op, df in self.tracer.statements:
            if op in ops and op not in self.statements:
                self.statements[op] = df.count()


def _parse_iso(text: str) -> float:
    return _dt.datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp()


def pass_layers(tracer: Tracer, probe: Probe, records: list[dict],
                index: int, migrate,
                session_start_s: float) -> dict[str, float]:
    """Every per-layer metric for pass ``index``."""
    ops = [i for i, r in enumerate(records) if r["pass"] == index]
    known = probe.known
    opset = set(ops)
    t0 = min(records[i]["t0"] for i in ops)
    t1 = max(records[i]["t1"] for i in ops)
    selfs = tracer.self_times()
    spans = [(sp, selfs[i]) for i, sp in enumerate(tracer.spans)
             if sp[4] in opset]

    def dur(prefix):
        return sum(e - s for (n, s, e, _, _), _ in spans if n.startswith(prefix))

    def count(prefix):
        return sum(1 for (n, *_), _ in spans if n.startswith(prefix))

    def self_s(prefix):
        return sum(x for (n, *_), x in spans if n.startswith(prefix))

    jobs = {}  # job id -> (op id, phase)
    for jid, job in known["jobs"].items():
        parts = (job.get("jobGroup") or "").split(":")
        if len(parts) == 3 and parts[0] == "pb" and int(parts[1]) in opset:
            jobs[jid] = (int(parts[1]), parts[2])
    stage_ids = {sid for jid in jobs for sid in known["jobs"][jid]["stageIds"]}
    stages = [known["stages"][sid] for sid in stage_ids
              if sid in known["stages"]
              and known["stages"][sid]["status"] in ("COMPLETE", "FAILED")]

    def within(ex, op_ids):  # submitted inside an operation's timed region
        t = parse_time(ex["submissionTime"])
        return any(records[i]["t0"] - 1e-3 <= t <= records[i]["t1"]
                   for i in op_ids)

    # the untimed checks between operations are not the pass's work
    sql = [ex for ex in known["sql"].values() if within(ex, ops)]
    analyze_ops = [i for i in ops if records[i]["op"] == "analyze"]
    analyze_sql = [ex for ex in sql if within(ex, analyze_ops)]
    exec_ops = [i for i in ops
                if records[i]["op"] in ("apply", "reapply", "rollback")]
    migrated = (2 * len(migrate.migrations) + migrate.steps) if migrate else 0

    job_times = [parse_time(known["jobs"][j]["submissionTime"])
                 for j in known["jobs"]]
    layout = [(s, e) for (n, s, e, _, _), _ in spans
              if n == "warehouse.layout"
              and any(s + tracer.wall_offset <= t <= e + tracer.wall_offset
                      for t in job_times)]

    m = {"session.start_s": session_start_s,
         "sources.load_s": self_s("sources."),
         "sources.files": files_read(sql),
         "sources.input_bytes": sum(st.get("inputBytes", 0) for st in stages),
         "analyzer.analyze_s": sum(records[i]["s"] for i in analyze_ops),
         "analyzer.statements": sum(probe.statements.get(i, 0) for i in ops),
         "analyzer.findings": sum(records[i].get("rows", 0)
                                  for i in analyze_ops),
         "analyzer.jobs": sum(1 for o, _ in jobs.values() if o in analyze_ops),
         "analyzer.python_run_s":
             sql_python_metrics(analyze_sql)["functions.python_run_s"],
         "executor.ledger_writes": count("executor.ledger_write"),
         "executor.ledger_write_s": dur("executor.ledger_write"),
         "executor.ledger_probes": count("executor.ledger_probe"),
         "executor.ledger_probe_s": dur("executor.ledger_probe"),
         "executor.runner_s": dur("executor.runner"),
         "executor.lock_s": dur("executor.lock"),
         "executor.jobs_per_migration":
             sum(1 for o, _ in jobs.values() if o in exec_ops) / migrated
             if migrated else 0.0,
         "plans.build_s": dur("plans.build"),
         "plans.build_jobs": sum(1 for _, ph in jobs.values()
                                 if ph == "plans.build"),
         "plans.plan_s": dur("plans.plan")}
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.calls"] = count(f"operators.{mod}")
        m[f"operators.{mod}.self_s"] = self_s(f"operators.{mod}")
    m.update(sql_python_metrics(sql))
    m["warehouse.layout_writes"] = len(layout)
    m["warehouse.layout_write_s"] = sum(e - s for s, e in layout)
    m["exec.collect_s"] = dur("exec.collect") + dur("exec.call")
    m["exec.jobs"] = len(jobs)
    m.update(stage_metrics(stages))
    m["exec.cached_bytes"] = probe.snaps[index]["cached_bytes"]
    m.update(streaming_metrics([r for r in probe.listener.reports
                                if t0 <= _parse_iso(r["timestamp"]) <= t1]))
    return m


def per_layer(tracer: Tracer, probe: Probe, records: list[dict], migrate,
              session_start_s: float, e2e: dict,
              breakdown: dict) -> dict[str, float]:
    """Steady-pass medians of every layer metric, the cold pass's values
    for FIRST_PASS, and this traced run's own end-to-end figures and
    breakdown (0 where a breakdown metric belongs to the other workload)."""
    passes = sorted({r["pass"] for r in records if r["pass"] >= 0})
    per_pass = [pass_layers(tracer, probe, records, p, migrate,
                            session_start_s) for p in passes]
    out = {name: statistics.median(pp[name] for pp in per_pass[1:])
           for metrics in LAYERS.values() for name in metrics}
    out.update({f"first.{n}": per_pass[0][n] for n in FIRST_PASS})
    out.update({f"trace.{n}": e2e[n] for n in TRACED_E2E})
    out.update({n: breakdown.get(n, 0.0) for n in workloads.BREAKDOWN})
    return out
