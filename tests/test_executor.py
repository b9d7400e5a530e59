"""Orchestrator lifecycle tests, mirroring the reference's integration
suite (reference integration/lifecycle_test.go:49-591 — apply-all-tracked,
re-apply-skips, checksum tamper, dry-run, rollback step/target/no-down,
danger gate) against a tmpdir parquet ledger and a collecting SQL runner."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from database_migration_engine_spark import fixtures
from database_migration_engine_spark.executor.orchestrator import (
    ChecksumMismatchError,
    CollectingRunner,
    DangerousMigrationsError,
    Executor,
    NoDownSQLError,
    NothingToRollbackError,
    ParquetLedger,
    TargetNotFoundError,
)


@pytest.fixture()
def ledger(spark, tmp_path):
    return ParquetLedger(spark, str(tmp_path / "schema_migrations"))


@pytest.fixture()
def runner():
    return CollectingRunner()


@pytest.fixture()
def executor(ledger, runner):
    return Executor(ledger=ledger, runner=runner)


def _safe_migrations(spark):
    """Corpus subset with no HIGH/CRITICAL findings at PG14 (001, 003, 011,
    012 are SAFE per FIXTURES.md)."""
    return fixtures.migrations_df(spark).filter(
        F.col("version").isin("001", "003", "011", "012")
    )


def test_apply_all_tracked(spark, executor, ledger, runner):
    executor.apply(_safe_migrations(spark))
    applied = {r.version for r in ledger.applied().collect()}
    assert applied == {"001", "003", "011", "012"}
    assert len(runner.calls) == 4
    statuses = [e.status for e in executor.events]
    assert statuses.count("completed") == 4


def test_concurrently_routed_outside_tx(spark, executor, runner):
    """V011 (CREATE INDEX CONCURRENTLY) must run with in_tx=False
    (reference internal/executor/executor.go:286-288); others in_tx=True."""
    executor.apply(_safe_migrations(spark))
    by_sql = {sql: in_tx for sql, in_tx in runner.calls}
    assert by_sql["CREATE INDEX CONCURRENTLY idx_users_status ON users (status);"] is False
    assert by_sql["ALTER TABLE users ADD COLUMN bio TEXT;"] is True


def test_reapply_skips(spark, executor, ledger, runner):
    migs = _safe_migrations(spark)
    executor.apply(migs)
    n_calls = len(runner.calls)
    executor.events.clear()
    executor.apply(migs)
    assert len(runner.calls) == n_calls  # nothing re-executed
    assert all(e.status == "skipped" for e in executor.events)


def test_checksum_tamper_detected(spark, executor, ledger):
    migs = _safe_migrations(spark)
    executor.apply(migs)
    tampered = migs.withColumn(
        "checksum",
        F.when(F.col("version") == "003", F.lit("0" * 64)).otherwise(
            F.col("checksum")
        ),
    )
    with pytest.raises(ChecksumMismatchError):
        executor.apply(tampered)


def test_dry_run_records_nothing(spark, executor, ledger, runner):
    executor.apply(_safe_migrations(spark), dry_run=True)
    assert runner.calls == []
    assert ledger.applied().count() == 0
    assert all(e.status == "skipped" for e in executor.events)


def test_danger_gate_blocks(spark, executor):
    with pytest.raises(DangerousMigrationsError) as exc:
        executor.apply(fixtures.migrations_df(spark))
    assert "007" in exc.value.versions  # DROP TABLE is CRITICAL
    assert "002" in exc.value.versions  # non-concurrent index is HIGH


def test_danger_gate_force_overrides(spark, executor, ledger):
    executor.apply(fixtures.migrations_df(spark), force=True)
    assert ledger.applied().count() == 12


def test_fail_fast_keeps_prior_recorded(spark, ledger):
    """First error aborts; prior migrations stay recorded
    (reference integration/lifecycle_test.go:312-349)."""
    runner = CollectingRunner(fail_on="ADD COLUMN status")
    ex = Executor(ledger=ledger, runner=runner)
    with pytest.raises(Exception):
        ex.apply(_safe_migrations(spark))
    applied = {r.version for r in ledger.applied().collect()}
    assert applied == {"001"}  # 001 done, 003 failed, 011/012 never ran
    assert [e.status for e in ex.events][-1] == "failed"


def test_rollback_steps_runs_down_in_reverse(spark, executor, ledger, runner):
    migs = fixtures.migrations_df(spark).filter(
        F.col("version").isin("001", "003", "011")
    )
    executor.apply(migs)
    runner.calls.clear()
    executor.rollback(migs, steps=2)
    down_sqls = [sql for sql, _ in runner.calls]
    assert down_sqls == [
        "DROP INDEX CONCURRENTLY IF EXISTS idx_users_status;",
        "ALTER TABLE users DROP COLUMN IF EXISTS status;",
    ]  # 011 first (desc), then 003
    applied = {r.version for r in ledger.applied().collect()}
    assert applied == {"001"}
    statuses = {r.version: r.status for r in ledger.df().collect()}
    assert statuses["003"] == "rolled_back"
    assert statuses["011"] == "rolled_back"


def test_rollback_steps_clamped(spark, executor, ledger):
    migs = fixtures.migrations_df(spark).filter(
        F.col("version").isin("001", "003")
    )
    executor.apply(migs)
    executor.rollback(migs, steps=99)  # clamp, not error
    assert ledger.applied().count() == 0


def test_rollback_zero_steps_noop(spark, executor, ledger):
    migs = _safe_migrations(spark)
    executor.apply(migs)
    executor.rollback(migs, steps=0)
    assert ledger.applied().count() == 4


def test_rollback_empty_ledger_errors(spark, executor):
    with pytest.raises(NothingToRollbackError):
        executor.rollback(_safe_migrations(spark), steps=1)


def test_rollback_no_down_errors(spark, executor, ledger):
    migs = fixtures.migrations_df(spark).filter(
        F.col("version").isin("001", "012")  # 012 has no down file
    )
    executor.apply(migs)
    with pytest.raises(NoDownSQLError):
        executor.rollback(migs, steps=1)


def test_rollback_to_version(spark, executor, ledger, runner):
    migs = fixtures.migrations_df(spark).filter(
        F.col("version").isin("001", "003", "011")
    )
    executor.apply(migs)
    runner.calls.clear()
    executor.rollback_to_version(migs, "001")  # 001 itself kept
    applied = {r.version for r in ledger.applied().collect()}
    assert applied == {"001"}


def test_rollback_to_missing_target_errors(spark, executor, ledger):
    migs = _safe_migrations(spark)
    executor.apply(migs)
    with pytest.raises(TargetNotFoundError):
        executor.rollback_to_version(migs, "999")


def test_reapply_after_rollback_upserts(spark, executor, ledger):
    """Upsert-after-rollback (reference integration/tracker_test.go:93):
    re-applying a rolled-back version replaces its ledger row."""
    migs = fixtures.migrations_df(spark).filter(
        F.col("version").isin("001", "003")
    )
    executor.apply(migs)
    executor.rollback(migs, steps=1)
    executor.apply(migs)
    rows = ledger.df().filter(F.col("version") == "003").collect()
    assert len(rows) == 1  # upsert, not duplicate insert
    assert rows[0].status == "applied"


def test_ledger_ensure_idempotent(spark, ledger):
    ledger.ensure()
    ledger.ensure()
    assert ledger.df().count() == 0


# --- fencing token (r02: E12 cross-process gap) ----------------------------


def test_fencing_token_two_writer_race_refused(spark, tmp_path):
    """Two writers on the same ledger path (simulating two hosts where the
    file lock can't exclude): the writer whose token observation went
    stale must be REFUSED at swap time, advisory-lock style."""
    from database_migration_engine_spark.executor.orchestrator import (
        LedgerFencedError,
        ParquetLedger,
    )

    path = str(tmp_path / "ledger")
    a = ParquetLedger(spark, path)
    b = ParquetLedger(spark, path)

    a.acquire_fence()
    a.ensure()
    b.acquire_fence()

    # A writes first: rotates the token B is still holding
    a.record_applied("001", "001_a.up.sql", "c" * 64, 5)
    with pytest.raises(LedgerFencedError):
        b.record_applied("002", "002_b.up.sql", "d" * 64, 5)

    # B's write must not have corrupted the ledger
    assert {r.version for r in a.applied().collect()} == {"001"}

    # B re-observes the fence and can proceed
    b.acquire_fence()
    b.record_applied("002", "002_b.up.sql", "d" * 64, 5)
    assert {r.version for r in a.applied().collect()} == {"001", "002"}


def test_pg_dialect_strings_are_pinned():
    """The exact session-init strings the reference sends
    (internal/executor/safety.go:14-36, defaults config.go:14-15). Any
    drift fails here, live server or not — the string seam both live
    runners (JdbcRunner, PsqlRunner) build from."""
    from database_migration_engine_spark.executor.orchestrator import (
        pg_session_init,
    )

    assert pg_session_init(5000, 30000) == [
        "SET lock_timeout = '5000ms'",
        "SET statement_timeout = '30000ms'",
    ]
    assert pg_session_init(1234, 9876) == [
        "SET lock_timeout = '1234ms'",
        "SET statement_timeout = '9876ms'",
    ]


def test_psql_runner_script_shapes():
    """PsqlRunner's tx routing: in_tx wraps BEGIN/session-init/COMMIT,
    outside-tx sends the bare autocommit statement (CONCURRENTLY path,
    reference internal/executor/concurrent.go:15-40)."""
    from database_migration_engine_spark.executor.orchestrator import (
        PsqlRunner,
    )

    r = PsqlRunner(["-d", "x"], lock_timeout_ms=100, statement_timeout_ms=200)
    scripts: list[str] = []
    r._psql = scripts.append  # type: ignore[method-assign]
    r.run("CREATE TABLE t (id INT)", in_tx=True)
    r.run("CREATE INDEX CONCURRENTLY i ON t (id)", in_tx=False)
    assert scripts[0] == (
        "BEGIN;\n"
        "SET lock_timeout = '100ms';\n"
        "SET statement_timeout = '200ms';\n"
        "CREATE TABLE t (id INT);\n"
        "COMMIT;"
    )
    assert scripts[1] == "CREATE INDEX CONCURRENTLY i ON t (id);"


def test_fence_critical_section_mutual_exclusion(spark, tmp_path):
    """check-fence → rename → rotate runs under a flock on a dedicated
    lock file (r03): two writers can no longer both pass _check_fence()
    before either rotates the token. Proven here by contending the
    critical section from two threads (flock is per open-file-description,
    so same-process threads contend exactly like two hosts on shared
    storage)."""
    import threading

    from database_migration_engine_spark.executor.orchestrator import (
        ParquetLedger,
    )

    led = ParquetLedger(spark, str(tmp_path / "ledger"))
    order: list[str] = []
    a_entered = threading.Event()
    release_a = threading.Event()

    def hold_a():
        with led._fence_critical_section():
            a_entered.set()
            release_a.wait(10)
            order.append("a")

    def try_b():
        assert a_entered.wait(10)
        with led._fence_critical_section():
            order.append("b")

    ta = threading.Thread(target=hold_a, daemon=True)
    tb = threading.Thread(target=try_b, daemon=True)
    ta.start()
    tb.start()
    assert a_entered.wait(10)
    tb.join(timeout=0.5)
    assert tb.is_alive() and order == []  # b is blocked behind a
    release_a.set()
    ta.join(10)
    tb.join(10)
    assert order == ["a", "b"]


def test_fence_swap_serialized_behind_held_section(spark, tmp_path):
    """A full ledger swap initiated while another writer holds the
    critical section completes only after the holder releases — the
    fence check itself is inside the serialized region, not before it."""
    import threading

    from database_migration_engine_spark.executor.orchestrator import (
        ParquetLedger,
    )

    path = str(tmp_path / "ledger")
    led = ParquetLedger(spark, path)
    led.acquire_fence()
    led.ensure()

    holder = ParquetLedger(spark, path)
    held = threading.Event()
    release = threading.Event()
    done = threading.Event()

    def hold():
        with holder._fence_critical_section():
            held.set()
            release.wait(20)

    t = threading.Thread(target=hold, daemon=True)
    t.start()
    assert held.wait(10)

    def write():
        led.record_applied("001", "001_a.up.sql", "a" * 64, 1)
        done.set()

    w = threading.Thread(target=write, daemon=True)
    w.start()
    # give the writer ample time to finish the parquet write and reach
    # the critical section; it must still be blocked there
    w.join(timeout=8)
    assert not done.is_set()
    release.set()
    w.join(20)
    assert done.is_set()
    assert {r.version for r in led.applied().collect()} == {"001"}


def test_fencing_unfenced_ledger_still_single_writer(spark, tmp_path):
    """Without acquire_fence() the ledger behaves exactly as before
    (single-writer contract, no token checks) — backwards compatible."""
    from database_migration_engine_spark.executor.orchestrator import (
        ParquetLedger,
    )

    led = ParquetLedger(spark, str(tmp_path / "ledger"))
    led.ensure()
    led.record_applied("001", "f.up.sql", "e" * 64, 1)
    assert {r.version for r in led.applied().collect()} == {"001"}


def test_executor_apply_acquires_fence(spark, tmp_path, runner):
    """The apply path itself must fence: a competing writer sneaking in
    between migrations forces the executor's next ledger write to refuse
    rather than clobber."""
    from database_migration_engine_spark.executor.orchestrator import (
        Executor,
        LedgerFencedError,
        ParquetLedger,
    )

    path = str(tmp_path / "ledger")
    executor = Executor(
        ledger=ParquetLedger(spark, path), runner=runner
    )
    executor.apply(_safe_migrations(spark).filter(F.col("version") == "001"))

    intruder = ParquetLedger(spark, path)
    intruder.acquire_fence()

    class RotatingRunner(CollectingRunner):
        """Simulates the cross-host race: the intruder writes while the
        executor is mid-apply (after its fence observation)."""

        def run(self, sql, in_tx):
            intruder.record_applied("999", "999_x.up.sql", "f" * 64, 1)
            super().run(sql, in_tx)

    executor.runner = RotatingRunner()
    with pytest.raises(LedgerFencedError):
        executor.apply(_safe_migrations(spark))


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` launches, counted through the status tracker
    under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _apply_jobs(spark, tmp_path, n: int, reapply: bool) -> int:
    """Spark jobs an apply of the first ``n`` fixture migrations
    launches: a fresh apply, or a re-apply after a first one."""
    migs = fixtures.migrations_df(spark).orderBy("version").limit(n)
    ex = Executor(
        ledger=ParquetLedger(spark, str(tmp_path / f"ledger_{n}_{reapply}")),
        runner=CollectingRunner(),
    )
    if reapply:
        ex.apply(migs, force=True)
    jobs = _jobs(spark, f"apply-{n}-{reapply}",
                 lambda: ex.apply(migs, force=True))
    want = "skipped" if reapply else "completed"
    assert [e.status for e in ex.events].count(want) == n
    return jobs


def test_reapply_reads_ledger_once_per_command(spark, tmp_path):
    """The skip check reads the ledger once per command, not once or
    twice per migration: a re-apply of 2 and of 6 migrations launches
    the same number of jobs."""
    assert _apply_jobs(spark, tmp_path, 2, True) == _apply_jobs(
        spark, tmp_path, 6, True
    )


def test_shared_version_second_file_mismatches(spark, executor, ledger,
                                               runner):
    """Two files sharing a version in one command: the first applies and
    is recorded, the second is checked against it and raises."""
    first = _safe_migrations(spark).filter(F.col("version") == "001")
    twin = first.withColumn("checksum", F.lit("f" * 64)).withColumn(
        "file_path", F.lit("001_twin.up.sql")
    )
    with pytest.raises(ChecksumMismatchError):
        executor.apply(first.unionByName(twin))
    assert len(runner.calls) == 1
    assert [r.version for r in ledger.applied().collect()] == ["001"]


# --- the driver-committed ledger -------------------------------------------


def test_ledger_writes_launch_no_spark_job(spark, tmp_path):
    """ensure, record_applied and record_rolled_back run on the driver."""
    led = ParquetLedger(spark, str(tmp_path / "ledger"))
    led.acquire_fence()
    assert _jobs(spark, "ledger-ensure", led.ensure) == 0
    assert _jobs(spark, "ledger-applied", lambda: led.record_applied(
        "001", "001_a.up.sql", "a" * 64, 1)) == 0
    assert _jobs(spark, "ledger-rolled-back",
                 lambda: led.record_rolled_back("001")) == 0
    assert [(r.version, r.status) for r in led.df().collect()] == [
        ("001", "rolled_back")]


def test_fresh_apply_jobs_do_not_grow_with_migrations(spark, tmp_path):
    """Recording a migration launches no job: a fresh apply of 2 and of
    6 migrations launches the same number of jobs."""
    assert _apply_jobs(spark, tmp_path, 2, False) == _apply_jobs(
        spark, tmp_path, 6, False
    )


def test_spark_written_ledger_still_works(spark, tmp_path):
    """A ledger Spark wrote (INT96 applied_at, _SUCCESS and .crc files)
    takes driver writes: untouched rows keep their applied_at, and Spark
    reads the result with the declared schema."""
    import datetime as dt

    import pyarrow.parquet as pq

    from database_migration_engine_spark import schemas

    path = str(tmp_path / "ledger")
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
    rows = [
        ("001", "001_a.up.sql", "a" * 64, t0, 5, "applied"),
        ("002", "002_b.up.sql", "b" * 64, t0 + dt.timedelta(hours=1), 7,
         "applied"),
    ]
    spark.createDataFrame(rows, schemas.SCHEMA_MIGRATIONS).coalesce(
        1).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    part = next(n for n in names if n.endswith(".parquet"))
    physical = pq.ParquetFile(os.path.join(path, part)).schema.column(3)
    assert physical.physical_type == "INT96"

    led = ParquetLedger(spark, path)
    before = {r.version: r.applied_at for r in led.df().collect()}
    led.record_applied("003", "003_c.up.sql", "c" * 64, 9)
    led.record_rolled_back("001")

    got = {r.version: (r.status, r.applied_at) for r in led.df().collect()}
    assert got["001"] == ("rolled_back", before["001"])
    assert got["002"] == ("applied", before["002"])
    assert got["003"][0] == "applied"
    read = spark.read.parquet(path).schema
    assert [(f.name, f.dataType) for f in read] == [
        (f.name, f.dataType) for f in schemas.SCHEMA_MIGRATIONS
    ]
