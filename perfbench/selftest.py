#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. Smoke: both workloads through ``run.py`` at sf0.001, untraced and
   traced. Every metric ``BENCHMARK.json`` names
   must print by name with its unit, both on its own line and in the
   final JSON, and every result must check out.
2. Checks that must fail do: a perturbed golden hash and a corrupted ledger
   row each count as a failed operation.
3. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``, the
   command exits non-zero without printing a result.

Exits 0 when every check passes; prints each failure otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads as W  # noqa: E402

SMOKE = ["--seed", "1", "--seconds", "1", "--scale", "sf0.001"]
problems: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        problems.append(what)


def smoke(spec: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for workload in W.WORKLOADS:
            label = f"{workload} --trace {trace}"
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", workload, "--trace", str(trace), *SMOKE],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            expect(proc.returncode == 0 and bool(lines), f"{label} exits 0")
            if proc.returncode or not lines:
                print(proc.stderr[-3000:])
                continue
            result = json.loads(lines[-1])
            expect(result["correct"] and result["failed"] == 0
                   and result["attempted"] >= 1, f"{label} results check out")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == want, f"{label} JSON metrics match BENCHMARK.json")
            printed = {ln.split()[0]: ln.split()[2] for ln in lines[:-1]
                       if len(ln.split()) >= 3}
            missing = [k for k, u in want.items() if printed.get(k) != u]
            expect(not missing, f"{label} prints every metric with its unit"
                   + (f" (missing {missing[:5]})" if missing else ""))
            if trace == 0:
                expect(all(v["value"] > 0 for v in result["metrics"].values()),
                       f"{label} end-to-end metrics are non-zero")


def failing_checks() -> None:
    """A perturbed golden hash and a corrupted ledger row, in one session."""
    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    sys.path.insert(0, ROOT)
    from database_migration_engine_spark.executor.orchestrator import (
        ParquetLedger)
    from database_migration_engine_spark.session import build_session

    spark = build_session(app_name="perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    args = argparse.Namespace(workload="query_mix", seed=1, seconds=1,
                              trace=0, scale="sf0.001")
    try:
        runner = run.Runner(args, spark, work)
        victim = W.FAMILIES["sql_analytics"][0]
        runner.ctx.golden = dict(runner.ctx.golden, **{victim: "0" * 12})
        runner.run_pass(0)
        failed = [r["op"] for r in runner.records if r["error"]]
        expect(failed == [victim],
               f"a perturbed golden hash fails its operation ({failed})")

        record_applied = ParquetLedger.record_applied

        def corrupt(self, version, filename, checksum, duration_ms):
            if version == "001":
                checksum = "0" * 64
            return record_applied(self, version, filename, checksum,
                                  duration_ms)

        ParquetLedger.record_applied = corrupt
        try:
            args.workload = "migrate"
            runner = run.Runner(args, spark, work)
            runner.run_pass(0)
        finally:
            ParquetLedger.record_applied = record_applied
        failed = [r["op"] for r in runner.records if r["error"]]
        expect("apply" in failed,
               f"a corrupted ledger row fails the apply ({failed})")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def bare_directory() -> None:
    bare = os.path.join(ROOT, ".bench_work", f"selftest-bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "migrate",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        expect(proc.returncode != 0 and not proc.stdout.strip(),
               "without the engine the command fails and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bare_directory()
    failing_checks()
    smoke(spec)
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
