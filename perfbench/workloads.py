"""The benchmark's two workloads, as lists of operations.

One operation is one call a user of the engine makes and waits for: a
registry query built and collected (``QUERIES[name](spark, data_dir)`` then
``collect()``), a streaming drain (the same call; the drain runs inside
it), or one CLI-equivalent migration command. Each operation has an
untimed check of its output; a failed check or a raised error is a failed
operation.

``query_mix`` reads the fixed parquet fixtures under ``data/<scale>``; the
seed sets the order of its operations in each steady pass. The ``migrate``
workload's corpus is generated from the seed (``corpus.py``).
"""

from __future__ import annotations

import os
import shutil
import statistics
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from typing import Any, Callable

import corpus
import golden

SCALE = "sf0.01"

# The query_mix workload: three families of registry operations, run in
# one order per pass.
FAMILIES = {
    # Relational, events, ledger and ops queries that launch no Spark job
    # while the plan is built, have no Python node in the plan, and whose
    # first call costs under twice a later one: per-query fixed costs
    # (driver plan build, Catalyst, job and stage scheduling) with no
    # kernels, eager jobs or shared state. Spread over the latency range.
    "sql_analytics": [
        "upsert_ledger", "monthly_revenue_growth", "supplier_stats",
        "market_share_by_year",
    ],
    # Dedup and similarity queries: one-time session state on the first
    # call (a trained index built with an Arrow kernel, bucketed layout
    # tables), an Arrow kernel on every call, and the dedup operators.
    "llm_pipeline": ["dedup_embedding", "bucketed_join_revenue",
                     "similarity_topk", "dedup_exact"],
    # availableNow drains into a memory sink, with stateful aggregation.
    "streaming": ["events_tumbling_stream", "events_sessionize_stream"],
}
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}

MIGRATIONS = 4  # corpus size of the migrate workload

WORKLOADS = ["migrate", "query_mix"]
MIGRATE_COMMANDS = ["analyze", "apply", "reapply", "rollback"]
# Steady medians of each migrate command; cold and steady pass time of
# each query_mix family.
BREAKDOWN = [f"{c}_s" for c in MIGRATE_COMMANDS] + [
    f"mix.{f}.{k}" for f in FAMILIES for k in ("first_pass_s", "pass_s")]


@dataclass
class Op:
    name: str
    fn: Callable[[], Any]                  # timed
    check: Callable[[Any], str | None]     # untimed: failure reason or None
    rows: Callable[[Any], int] | None = None  # rows returned to the driver


class Context:
    """What an operation needs: the session, its inputs, and the tracing
    hooks (no-ops when the run is not traced)."""

    def __init__(self, spark, data_dir: str, work_dir: str, golden_hashes,
                 tracer=None):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.golden = golden_hashes
        self.tracer = tracer
        self.op_id = -1

    def phase(self, name: str):
        """Job group and span for one phase of the current operation."""
        if self.tracer is None:
            return nullcontext()
        return self._traced_phase(name)

    @contextmanager
    def _traced_phase(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb:{self.op_id}:{name}", name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            # the untimed check that follows must not run under the group
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def query_ops(ctx: Context, names: list[str]) -> list[Op]:
    """One operation per query, in the order given."""
    from database_migration_engine_spark.plans import QUERIES

    def op(name: str) -> Op:
        def run():
            with ctx.phase("plans.build"):
                df = QUERIES[name](ctx.spark, ctx.data_dir)
            if ctx.tracer is not None:
                with ctx.phase("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
            with ctx.phase("exec.collect"):
                rows = df.collect()
            return df, rows

        def check(out):
            df, rows = out
            want = ctx.golden.get(name)
            if want is None:
                return "no golden hash"
            got = golden.vhash(df.columns, rows)
            return None if got == want else f"hash {got} != golden {want}"

        return Op(name, run, check, lambda out: len(out[1]))

    return [op(n) for n in names]


class Migrate:
    """load → analyze → apply → reapply → rollback over a seeded corpus,
    each step as the CLI runs it: load the directory, then act."""

    def __init__(self, ctx: Context, seed: int):
        self.ctx = ctx
        self.migrations = corpus.generate(seed, MIGRATIONS)
        self.dir = os.path.join(ctx.work_dir, "migrations")
        corpus.write(self.migrations, self.dir)
        self.expected = corpus.expected_findings(self.migrations)
        self.steps = MIGRATIONS // 2
        self.passes = 0

    def ops(self) -> list[Op]:
        from database_migration_engine_spark.analyzer.analyze import (
            analyze, severity_rollup)
        from database_migration_engine_spark.executor.orchestrator import (
            CollectingRunner, Executor, ParquetLedger)
        from database_migration_engine_spark.sources.migrations import (
            load_from_dir)

        ctx, migs = self.ctx, self.migrations
        self.passes += 1
        ledger_path = os.path.join(ctx.work_dir, f"ledger-{self.passes}",
                                   "schema_migrations")
        shutil.rmtree(os.path.dirname(ledger_path), ignore_errors=True)
        os.makedirs(os.path.dirname(ledger_path))

        def executor():
            return Executor(ParquetLedger(ctx.spark, ledger_path),
                            CollectingRunner())

        def ledger_rows():
            return ParquetLedger(ctx.spark, ledger_path).df().collect()

        def load():
            with ctx.phase("exec.call"):
                return load_from_dir(ctx.spark, self.dir).count()

        def check_load(n):
            return None if n == len(migs) else f"{n} migrations loaded"

        def run_analyze():
            with ctx.phase("exec.call"):
                df = load_from_dir(ctx.spark, self.dir)
                findings = analyze(df)
                rollup = severity_rollup(df, findings=findings).collect()
                return rollup, findings.collect()

        def check_analyze(out):
            rollup, findings = out
            got = Counter((r.version, r.rule) for r in findings)
            if got != self.expected:
                return f"findings {sorted(got - self.expected)} extra, " \
                       f"{sorted(self.expected - got)} missing"
            return None if len(rollup) == len(migs) else "rollup rows"

        def apply():
            with ctx.phase("exec.call"):
                ex = executor()
                ex.apply(load_from_dir(ctx.spark, self.dir), force=True)
                return ex

        def check_apply(ex):
            if [sql for sql, _ in ex.runner.calls] != [m.up_sql for m in migs]:
                return "runner calls differ from the up-SQL in version order"
            got = {(r.version, r.checksum) for r in ledger_rows()
                   if r.status == "applied"}
            want = {(m.version, m.checksum) for m in migs}
            return None if got == want else "ledger applied rows/checksums"

        def check_reapply(ex):
            if ex.runner.calls:
                return f"{len(ex.runner.calls)} runner calls on reapply"
            skipped = sum(e.status == "skipped" for e in ex.events)
            return None if skipped == len(migs) else f"{skipped} skipped"

        def rollback():
            with ctx.phase("exec.call"):
                ex = executor()
                ex.rollback(load_from_dir(ctx.spark, self.dir),
                            steps=self.steps)
                return ex

        def check_rollback(ex):
            undone = migs[::-1][: self.steps]
            if [sql for sql, _ in ex.runner.calls] != [m.down_sql for m in undone]:
                return "rollback did not run the down-SQL in descending order"
            status = {r.version: r.status for r in ledger_rows()}
            want = {m.version: "applied" for m in migs}
            want.update({m.version: "rolled_back" for m in undone})
            return None if status == want else "ledger status after rollback"

        return [
            Op("load", load, check_load),
            Op("analyze", run_analyze, check_analyze, lambda out: len(out[1])),
            Op("apply", apply, check_apply),
            Op("reapply", apply, check_reapply),
            Op("rollback", rollback, check_rollback),
        ]


def golden_scope() -> dict[str, list[str]]:
    """Queries whose golden hashes are checked in, per fixture scale."""
    names = list(FAMILY_OF)
    return {SCALE: names, "sf0.001": names}


def breakdown(workload: str, records: list[dict]) -> dict[str, float]:
    """The BREAKDOWN metrics that apply to ``workload``."""
    steady = [r for r in records if r["pass"] > 0]
    if workload == "migrate":
        return {f"{c}_s": statistics.median(
            r["s"] for r in steady if r["op"] == c) for c in MIGRATE_COMMANDS}
    out = {}
    for fam in FAMILIES:
        totals: dict[int, float] = {}
        for r in records:
            if FAMILY_OF[r["op"]] == fam:
                totals[r["pass"]] = totals.get(r["pass"], 0.0) + r["s"]
        out[f"mix.{fam}.first_pass_s"] = totals[0]
        out[f"mix.{fam}.pass_s"] = statistics.median(
            v for k, v in totals.items() if k > 0)
    return out
