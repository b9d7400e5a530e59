#!/usr/bin/env python3
"""Run one benchmark workload in this fresh process and print its metrics.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 52 --trace 0

Run from the root of a checkout. The process builds the engine's session
on ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc`` and drives it as one
closed-loop client: each operation starts when the previous one returns.
The first pass over the workload runs cold and is reported on its own
(``first_pass_s``); the steady passes that follow give ``pass_s`` and the
per-operation latencies. ``--seconds`` is the measured time on a 4-vCPU
host: the run makes as many steady passes as fit after the cold pass by
the workload's nominal timings, at least one, so every run with the same
arguments takes the same number of samples and ranks its percentiles
alike. ``setup_s`` is the median of SETUPS set-ups: this process's and
more processes that only build the session, started after the measured
passes.

``--trace 1`` wraps the engine's public callables, reads Spark's status
REST API and streaming listener, and reports per-layer metrics instead.

Every result is checked outside the timed region: query results against
the golden value hashes (``golden.json``), migration runs against the
seeded corpus. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines above it give every
metric by name with its unit, the host record and each failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "database_migration_engine_spark"
sys.path.insert(0, HERE)

import golden  # noqa: E402
import host  # noqa: E402
import workloads as W  # noqa: E402

# Nominal (cold pass, steady pass) seconds on a 4-vCPU host in its slower
# phase, when runs take about twice as long as in its fast one. The run
# makes as many steady passes as fit in --seconds after the cold pass, at
# least one, so the pass count is fixed by the arguments, not by the
# timings. At 52 s: 3 on migrate, 4 on query_mix, whose first steady
# passes warm up more steeply.
NOMINAL_S = {"migrate": (23.0, 7.3), "query_mix": (29.0, 5.7)}

# Set-ups per run whose median is setup_s: this process and SETUPS - 1
# processes that only build the session. Each costs a JVM start (5-8 s on
# a 4-vCPU host), so two keep a run inside its time budget.
SETUPS = 2

E2E_UNITS = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
             "op_p50_s": "s", "op_tail_s": "s"}
# The end-to-end metrics of the result line. op_tail_s is printed but left
# out: a migrate pass has 5 operations, so with 3 steady passes (n=15) the
# rank with 10 samples beyond it is p33, below the median, not a tail.
RESULT_E2E = ["setup_s", "first_pass_s", "pass_s", "op_p50_s"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=52)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default=W.SCALE,
                   help="fixture directory under perfbench/data")
    p.add_argument("--setup-only", action="store_true",
                   help="build the session, print setup_s and exit")
    return p.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], f"max of n={n}"
    k = n - 11
    return xs[k], f"p{100 * (k + 1) / n:.0f} (rank {k + 1} of n={n})"


class Runner:
    def __init__(self, args, spark, work_dir):
        self.args = args
        self.spark = spark
        self.records: list[dict] = []
        self.rss_peak = host.tree_rss_mb()
        self.tracer = None
        if args.trace:
            import tracing as T

            self.tracer = T.Tracer()
            self.tracer.install()
        self.ctx = W.Context(spark, os.path.join(HERE, "data", args.scale),
                             work_dir, golden.load().get(args.scale, {}),
                             self.tracer)
        self.migrate = (W.Migrate(self.ctx, args.seed)
                        if args.workload == "migrate" else None)

    def pass_ops(self, index: int) -> list:
        if self.migrate is not None:
            return self.migrate.ops()
        names = list(W.FAMILY_OF)
        # The cold pass runs in the registry order on every seed: the first
        # queries of a session pay its JIT and class-loading warm-up, so a
        # seeded cold order moved first_pass_s by up to 1/3 between seeds.
        if index > 0:
            random.Random(f"{self.args.seed}:{index}").shuffle(names)
        return W.query_ops(self.ctx, names)

    def run_pass(self, index: int) -> None:
        for op in self.pass_ops(index):
            self.ctx.op_id = len(self.records)
            if self.tracer is not None:
                self.tracer.op = self.ctx.op_id
            w0, t0 = time.time(), time.perf_counter()
            try:
                out, err = op.fn(), None
            except Exception as exc:  # a failed operation, reported by name
                out, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
            dt = time.perf_counter() - t0
            if err is None:
                try:
                    err = op.check(out)
                except Exception as exc:
                    err = f"check raised {type(exc).__name__}: {exc}"
            self.rss_peak = max(self.rss_peak, host.tree_rss_mb())
            rows = op.rows(out) if err is None and op.rows else 0
            self.records.append({"pass": index, "op": op.name, "s": dt,
                                 "t0": w0, "t1": w0 + dt, "rows": rows,
                                 "error": err})
            print(f"op pass={index} {op.name} {dt:.3f}s"
                  + (f" FAILED: {err}" if err else ""), file=sys.stderr)


def e2e_metrics(records):
    by_pass: dict[int, float] = {}
    for r in records:
        by_pass[r["pass"]] = by_pass.get(r["pass"], 0.0) + r["s"]
    steady = [r["s"] for r in records if r["pass"] > 0]
    op_tail, tail_rank = tail(steady)
    metrics = {
        "first_pass_s": by_pass[0],
        "pass_s": statistics.median(v for k, v in by_pass.items() if k > 0),
        "op_p50_s": statistics.median(steady),
        "op_tail_s": op_tail,
    }
    return metrics, tail_rank


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, spark, work: str, session_start_s: float) -> dict:
    """The cold pass and the steady passes; metrics and host record."""
    runner = Runner(args, spark, work)
    probe = None
    if runner.tracer is not None:
        import tracing as T

        probe = T.Probe(spark, runner.tracer)
    cold_s, pass_s = NOMINAL_S[args.workload]
    passes = 1 + max(1, int((args.seconds - cold_s) // pass_s))
    window = host.Window()
    window.start(time.time())
    for index in range(passes):
        first_op = len(runner.records)
        runner.run_pass(index)
        if probe is not None:
            probe.after_pass(index, range(first_op, len(runner.records)))
    out = {"records": runner.records, "passes": passes,
           "host": window.stop(time.time())}
    out["metrics"], out["tail_rank"] = e2e_metrics(runner.records)
    out["peak_rss_mb"] = runner.rss_peak
    out["breakdown"] = W.breakdown(args.workload, runner.records)
    if probe is not None:
        out["layers"] = T.per_layer(
            runner.tracer, probe, runner.records, runner.migrate,
            session_start_s, out["metrics"], out["breakdown"])
        out["layers"]["peak_rss_mb"] = runner.rss_peak
        out["absent"] = runner.tracer.absent
        runner.tracer.dump(os.path.join(
            ROOT, ".bench_work", f"trace-{args.workload}-{args.seed}.json"))
    return out


def report(args, run: dict) -> list[str]:
    """Human-readable lines, then the JSON result line."""
    records = run["records"]
    failed = [r for r in records if r["error"]]
    lines = [f"workload {args.workload} seed {args.seed} trace {args.trace}"
             f" passes {run['passes']} (1 cold + {run['passes'] - 1} steady)"
             f" setups {' '.join(f'{s:.3f}' for s in run['setups'])}"]
    for name, value in run["metrics"].items():
        rank = f"  [{run['tail_rank']}]" if name == "op_tail_s" else ""
        lines.append(f"{name} {value:.4f} {E2E_UNITS[name]}{rank}")
    if "layers" not in run:
        # the JVM grows its heap by GC timing: peak RSS moves 20-40% between
        # runs of the same code, too much for an end-to-end bound, so it is
        # a traced (per-layer) metric and a line here
        lines.append(f"peak_rss_mb {run['peak_rss_mb']:.1f} MB")
    for name, value in run["breakdown"].items():
        lines.append(f"{name} {value:.4f} s")
    lines.append(f"failed_share {len(failed) / len(records):.4f} "
                 f"({len(failed)} of {len(records)})")
    lines += [f"failed_op pass={r['pass']} {r['op']}: {r['error']}"
              for r in failed]
    lines.append("host " + json.dumps(run["host"], sort_keys=True))
    if "layers" in run:
        import tracing as T

        lines += [f"{name} {value:.6g} {T.unit_of(name)}"
                  for name, value in run["layers"].items()]
        if run["absent"]:
            lines.append("absent " + " ".join(run["absent"]))
        reported = {k: {"value": v, "unit": T.unit_of(k)}
                    for k, v in run["layers"].items()}
    else:
        reported = {k: {"value": run["metrics"][k], "unit": E2E_UNITS[k]}
                    for k in RESULT_E2E}
    lines.append(json.dumps({"correct": not failed, "attempted": len(records),
                             "failed": len(failed), "metrics": reported}))
    return lines


def setup_probe(args) -> float:
    """setup_s of one more fresh process that only builds the session."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload",
         args.workload, "--seed", str(args.seed), "--scale", args.scale,
         "--setup-only"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=120, check=True)
    return float(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    data_dir = os.path.join(HERE, "data", args.scale)
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isdir(data_dir):
        print(f"error: run from a checkout holding {PKG}/ and "
              f"perfbench/data/{args.scale}/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    nproc = os.cpu_count() or 1
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    sys.path.insert(0, ROOT)
    # the JVM and Python workers may write to fd 1: keep stdout for results
    stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    try:
        from database_migration_engine_spark.session import build_session

        t0 = time.perf_counter()
        spark = build_session(app_name=f"perfbench-{args.workload}")
        session_start_s = time.perf_counter() - t0
        setups = [host.process_age_s()]
        if args.setup_only:
            stop_spark(spark)
            print(repr(setups[0]), file=stdout, flush=True)
            return 0
        spark.sparkContext.setLogLevel("ERROR")
        try:
            run = measure(args, spark, work, session_start_s)
        finally:
            stop_spark(spark)
        if not args.trace:
            setups += [setup_probe(args) for _ in range(SETUPS - 1)]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    run["setups"] = setups
    run["metrics"] = {"setup_s": statistics.median(setups), **run["metrics"]}
    print("\n".join(report(args, run)), file=stdout, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
