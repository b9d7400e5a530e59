"""Driver-side apply/rollback orchestrator (E1–E14, SURVEY.md §2.A).

Migrations apply strictly in version order with fail-fast semantics
(reference internal/executor/executor.go:120-138) — this loop is
*deliberately* sequential on the driver: ordering is the product contract,
so only the data movement inside one migration is distributed. The ledger
is a control-plane table with one row per migration, so the driver
commits it itself, the way a transaction log is committed: every write is
a MERGE done as a keyed read-modify-write of ONE parquet file with
pyarrow, followed by an atomic directory swap — no Spark job per ledger
write. Mutual exclusion is a single-writer contract — the reference's pg
advisory lock (internal/database/advisory_lock.go:12-65) has no Spark
equivalent, so concurrent drivers are serialized by a file lock and a
fencing token (SURVEY.md §7.4).

SQL execution is pluggable via ``SQLRunner``: ``CollectingRunner`` for
tests/dry runs, ``JdbcRunner`` for a live database via the JVM's
DriverManager with the reference's tx routing — CONCURRENTLY operations
run outside a transaction (internal/executor/executor.go:286-288), others
inside one with lock_timeout/statement_timeout set
(internal/executor/safety.go:14-36).
"""

from __future__ import annotations

import fcntl
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..analyzer.analyze import analyze
from ..analyzer.parse import contains_concurrent_op
from ..analyzer.rules import HIGH
from .lock import AdvisoryFileLock


# --- sentinel errors (reference internal/executor/executor.go:34-42) -------


class MigrationError(Exception):
    pass


class LedgerFencedError(MigrationError):
    """Another writer rotated the ledger's fencing token since this
    writer observed it — the swap is refused (E12 cross-process gap,
    VERDICT r01 item 6)."""


class ChecksumMismatchError(MigrationError):
    pass


class NothingToRollbackError(MigrationError):
    pass


class TargetNotFoundError(MigrationError):
    pass


class NoDownSQLError(MigrationError):
    pass


class MissingMigrationFileError(MigrationError):
    pass


class DangerousMigrationsError(MigrationError):
    def __init__(self, versions: list[str]):
        super().__init__(
            f"dangerous migrations blocked (use force to override): {versions}"
        )
        self.versions = versions


# --- progress events (reference internal/executor/executor.go:18-32) -------

STARTING, COMPLETED, FAILED, SKIPPED, ROLLING_BACK = (
    "starting", "completed", "failed", "skipped", "rolling_back",
)


@dataclass
class ProgressEvent:
    version: str
    name: str
    status: str
    duration_ms: int = 0
    error: str | None = None


ProgressCallback = Callable[[ProgressEvent], None]


# --- SQL runners ------------------------------------------------------------


class SQLRunner:
    """Executes migration SQL against a target. ``run(sql, in_tx)`` where
    ``in_tx=False`` means the statement must run outside a transaction
    (CONCURRENTLY routing, reference internal/executor/concurrent.go)."""

    def run(self, sql: str, in_tx: bool) -> None:  # pragma: no cover
        raise NotImplementedError


class CollectingRunner(SQLRunner):
    """Records every execution — the test seam (the analogue of the
    reference's runSQLFunc injection, internal/executor/executor.go:44-53)."""

    def __init__(self, fail_on: str | None = None):
        self.calls: list[tuple[str, bool]] = []
        self.fail_on = fail_on

    def run(self, sql: str, in_tx: bool) -> None:
        if self.fail_on and self.fail_on in sql:
            raise MigrationError(f"injected failure on: {self.fail_on}")
        self.calls.append((sql, in_tx))


def pg_session_init(
    lock_timeout_ms: int = 5000, statement_timeout_ms: int = 30000
) -> list[str]:
    """The reference's PostgreSQL safety pair, verbatim
    (internal/executor/safety.go:14-36, defaults config.go:14-15). The
    single source of the PG dialect strings — both live runners
    (JdbcRunner, PsqlRunner) and the dialect-matrix tests build from
    here, so a drift in either string fails a test."""
    return [
        f"SET lock_timeout = '{lock_timeout_ms}ms'",
        f"SET statement_timeout = '{statement_timeout_ms}ms'",
    ]


class JdbcRunner(SQLRunner):
    """Live-database runner over the JVM DriverManager (requires the JDBC
    driver jar on the Spark classpath). Transactional path sets the
    reference's safety timeouts per transaction
    (internal/executor/safety.go:14-36, defaults config.go:14-15)."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        lock_timeout_ms: int = 5000,
        statement_timeout_ms: int = 30000,
        session_init: list[str] | None = None,
    ):
        self._jvm = spark._jvm
        self.url = url
        self.lock_timeout_ms = lock_timeout_ms
        self.statement_timeout_ms = statement_timeout_ms
        # Per-transaction safety statements. The default is the reference's
        # PostgreSQL pair (internal/executor/safety.go:14-36); other
        # dialects (e.g. the embedded Derby target the live tests use)
        # pass their own list — Derby rejects PG's SET syntax.
        if session_init is None:
            session_init = pg_session_init(lock_timeout_ms, statement_timeout_ms)
        self.session_init = session_init

    def run(self, sql: str, in_tx: bool) -> None:
        conn = self._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            if in_tx:
                conn.setAutoCommit(False)
                for init_sql in self.session_init:
                    stmt.execute(init_sql)
                try:
                    stmt.execute(sql)
                    conn.commit()
                except Exception:
                    conn.rollback()
                    raise
            else:
                conn.setAutoCommit(True)
                stmt.execute(sql)
        finally:
            conn.close()


class PsqlRunner(SQLRunner):
    """Live PostgreSQL runner over the ``psql`` client binary — the
    JDBC-free path to a real PG server (the sandbox ships PostgreSQL 15
    but no JDBC driver jar). Semantics mirror JdbcRunner exactly:

    * ``in_tx=True`` → one psql invocation running
      ``BEGIN; <pg_session_init…>; <sql>; COMMIT;`` with ON_ERROR_STOP,
      so the reference's safety timeouts (internal/executor/safety.go:
      14-36) are set inside the transaction and any failure aborts the
      open transaction (the server rolls back on disconnect) —
      the same commit/rollback contract as JdbcRunner's autoCommit=False
      path (internal/executor/executor.go tx wrapper).
    * ``in_tx=False`` → the bare statement in autocommit mode, which is
      what ``CREATE INDEX CONCURRENTLY`` requires
      (internal/executor/concurrent.go:15-40).

    ``conn_args`` is the psql argument list (e.g. ``["-h", sockdir,
    "-U", "postgres", "-d", "mydb"]``)."""

    def __init__(
        self,
        conn_args: list[str],
        lock_timeout_ms: int = 5000,
        statement_timeout_ms: int = 30000,
        session_init: list[str] | None = None,
    ):
        self.conn_args = list(conn_args)
        self.lock_timeout_ms = lock_timeout_ms
        self.statement_timeout_ms = statement_timeout_ms
        if session_init is None:
            session_init = pg_session_init(lock_timeout_ms, statement_timeout_ms)
        self.session_init = session_init

    def _psql(self, script: str) -> None:
        import subprocess

        proc = subprocess.run(
            ["psql", "-X", "-q", "-v", "ON_ERROR_STOP=1", *self.conn_args,
             "-f", "-"],
            input=script.encode("utf-8"),
            capture_output=True,
        )
        if proc.returncode != 0:
            raise MigrationError(
                proc.stderr.decode("utf-8", "replace").strip()
                or f"psql exited {proc.returncode}"
            )

    @staticmethod
    def _terminated(sql: str) -> str:
        s = sql.rstrip()
        return s if s.endswith(";") else s + ";"

    def run(self, sql: str, in_tx: bool) -> None:
        if in_tx:
            script = "\n".join(
                ["BEGIN;"]
                + [self._terminated(s) for s in self.session_init]
                + [self._terminated(sql), "COMMIT;"]
            )
        else:
            script = self._terminated(sql)
        self._psql(script)


# --- parquet ledger ---------------------------------------------------------


class ParquetLedger:
    """schema_migrations as one parquet file that the driver commits.

    Every write is a MERGE keyed on ``version`` (new row wins): the
    driver reads the file with pyarrow, changes the rows and writes the
    replacement to a fresh directory, which then atomically swaps into
    place — the plain-parquet stand-in for the reference's
    INSERT … ON CONFLICT atomicity (internal/tracker/tracker.go:96-113).
    Nothing is cached between writes: each one re-reads the file, so a
    write always starts from what is on disk. ``df()``/``applied()``
    stay Spark views for callers that join the ledger.

    Cross-process mutual exclusion uses a FENCING TOKEN (r02, closing the
    E12 gap vs the reference's pg advisory lock,
    internal/database/advisory_lock.go:12-65, without new infrastructure):
    a writer observes the on-disk token via ``acquire_fence()``; every
    swap re-checks the token and REFUSES (LedgerFencedError) when another
    writer rotated it in between, then rotates it as part of its own
    swap. The file lock still serializes same-host writers cheaply; the
    token catches writers the lock can't see (other hosts on shared
    storage, lock-file deletion). Refusal-not-blocking matches advisory
    ``pg_try_advisory_lock`` semantics."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._held_token: str | None = None

    # --- fencing token ------------------------------------------------------

    @property
    def _token_path(self) -> str:
        return self.path + ".token"

    def _read_token(self) -> str | None:
        try:
            with open(self._token_path) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def _rotate_token(self) -> str:
        token = uuid.uuid4().hex
        tmp = self._token_path + f".tmp-{token}"
        with open(tmp, "w") as f:
            f.write(token)
        os.replace(tmp, self._token_path)
        return token

    @contextmanager
    def _fence_critical_section(self):
        """Serialize check-fence → rename-swap → rotate-token across
        writers with a blocking flock on a DEDICATED lock file that is
        never replaced (flock follows the inode, so locking the token
        file itself would race with its own os.replace rotation). This
        closes the read-compare-then-rename window ADVICE r02 flagged:
        two writers can no longer both pass _check_fence() before either
        rotates. On filesystems without flock (some NFS mounts) this
        degrades to the unserialized path — the fence then still detects
        the common lost-lock case, with the original residual window."""
        lock_path = self._token_path + ".lock"
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
        except OSError:
            yield
            return
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
            except OSError:
                yield
                return
            yield
        finally:
            os.close(fd)  # releases the flock if held

    def acquire_fence(self) -> str:
        """Observe (creating if absent) the current fencing token. Must be
        called after taking whatever lock the host offers and before the
        first ledger read a write decision is based on."""
        token = self._read_token()
        if token is None:
            token = self._rotate_token()
        self._held_token = token
        return token

    def release_fence(self) -> None:
        self._held_token = None

    def _check_fence(self) -> None:
        if self._held_token is None:
            return  # unfenced mode: single-writer contract as before
        current = self._read_token()
        if current != self._held_token:
            raise LedgerFencedError(
                f"ledger {self.path}: fencing token moved"
                f" (held {self._held_token[:8]}…, on disk"
                f" {(current or '<missing>')[:8]}…) — another writer holds"
                " the ledger; refusing to swap"
            )

    def ensure(self) -> None:
        """CREATE TABLE IF NOT EXISTS (reference internal/tracker/tracker.go:42-49)."""
        if not os.path.exists(self.path):
            self._swap_in(_arrow_schema().empty_table())

    def df(self) -> DataFrame:
        return self.spark.read.schema(schemas.SCHEMA_MIGRATIONS).parquet(self.path)

    def applied(self) -> DataFrame:
        """L2 filtered ordered scan (reference internal/tracker/tracker.go:67-92)."""
        return (
            self.df().filter(F.col("status") == "applied").orderBy("version")
        )

    def _rows(self):
        """Every ledger row as a pyarrow Table with the declared schema,
        read on the driver. Ledgers written by Spark (INT96 ``applied_at``,
        ``_SUCCESS``/``.crc`` files) read the same way."""
        import pyarrow.parquet as pq

        schema = _arrow_schema()
        return pq.read_table(self.path).select(schema.names).cast(schema)

    def _merge(self, new) -> None:
        """MERGE keyed on version: the rows of ``new`` (a pyarrow Table
        with the declared schema) replace any rows with their version."""
        import pyarrow as pa
        import pyarrow.compute as pc

        rows = self._rows()
        kept = rows.filter(
            pc.invert(pc.is_in(rows["version"], new["version"]))
        )
        self._swap_in(pa.concat_tables([kept, new.cast(rows.schema)]))

    def record_applied(
        self, version: str, filename: str, checksum: str, duration_ms: int
    ) -> None:
        """L3 upsert (reference internal/tracker/tracker.go:96-113)."""
        import pyarrow as pa

        row = {
            "version": [version],
            "filename": [filename],
            "checksum": [checksum],
            "applied_at": [datetime.now(timezone.utc)],
            "duration_ms": [int(duration_ms)],
            "status": ["applied"],
        }
        self._merge(pa.Table.from_pydict(row, schema=_arrow_schema()))

    def merge_batch(self, new_rows: DataFrame) -> None:
        """Multi-row MERGE keyed on version — the batch is authoritative
        for every version it carries (same new-wins semantics as the
        reference's ON CONFLICT DO UPDATE, tracker.go:96-113). Used by
        the streaming foreachBatch sink; rows must match
        SCHEMA_MIGRATIONS and carry each version once."""
        self._merge(
            new_rows.select(*schemas.SCHEMA_MIGRATIONS.names).toArrow()
        )

    def record_rolled_back(self, version: str) -> None:
        """L4 conditional update + affected-rows check
        (reference internal/tracker/tracker.go:116-130)."""
        import pyarrow.compute as pc

        rows = self._rows()
        hit = pc.equal(rows["version"], version)
        if not pc.any(hit).as_py():
            raise TargetNotFoundError(f"migration {version} not in ledger")
        status = rows.schema.get_field_index("status")
        self._swap_in(rows.set_column(
            status, rows.schema.field(status),
            pc.if_else(hit, "rolled_back", rows["status"]),
        ))

    def _swap_in(self, table) -> None:
        import pyarrow.parquet as pq

        parent = os.path.dirname(os.path.abspath(self.path)) or "."
        tmp = os.path.join(
            tempfile.mkdtemp(dir=parent), f"ledger-{uuid.uuid4().hex}"
        )
        # write the replacement BEFORE entering the critical section so
        # the serialized region is only check-fence → rename → rotate
        os.mkdir(tmp)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
        old = self.path + f".old-{uuid.uuid4().hex}"
        with self._fence_critical_section():
            self._check_fence()
            if os.path.exists(self.path):
                os.rename(self.path, old)
            os.rename(tmp, self.path)
            if self._held_token is not None:
                self._held_token = self._rotate_token()
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(os.path.dirname(tmp), ignore_errors=True)


def _arrow_schema():
    """SCHEMA_MIGRATIONS as pyarrow sees it: ``applied_at`` is
    ``timestamp[us, tz=UTC]`` and ``version`` is non-null."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schemas.SCHEMA_MIGRATIONS)


# --- the orchestrator -------------------------------------------------------


@dataclass
class Migration:
    version: str
    name: str
    up_sql: str
    down_sql: str | None
    checksum: str
    file_path: str


@dataclass
class Executor:
    """Ordered fail-fast apply / rollback state machine (E1/E8–E11)."""

    ledger: ParquetLedger
    runner: SQLRunner
    pg_version: int = 14
    progress: ProgressCallback | None = None
    events: list[ProgressEvent] = field(default_factory=list)

    def _emit(self, event: ProgressEvent) -> None:
        self.events.append(event)
        if self.progress:
            self.progress(event)

    @staticmethod
    def from_df(migrations: DataFrame) -> list[Migration]:
        """Materialize the (small) migration set for the driver loop —
        sorted lexicographically by version string (P1,
        reference internal/migration/sorter.go:7-16)."""
        rows = migrations.orderBy("version").collect()
        return [
            Migration(
                r.version, r.name, r.up_sql, r.down_sql, r.checksum, r.file_path
            )
            for r in rows
        ]

    # E14 danger gate (reference internal/cli/apply.go:71-77,180-194)
    def danger_gate(self, migrations: DataFrame) -> list[str]:
        blocked = (
            analyze(migrations, pg_version=self.pg_version)
            .filter(F.col("severity") >= HIGH)
            .select("version")
            .distinct()
            .collect()
        )
        return sorted(r.version for r in blocked)

    def apply(
        self,
        migrations: DataFrame,
        dry_run: bool = False,
        force: bool = False,
    ) -> list[ProgressEvent]:
        """E1 ordered fail-fast apply loop
        (reference internal/executor/executor.go:120-138)."""
        if not dry_run and not force:
            dangerous = self.danger_gate(migrations)
            if dangerous:
                raise DangerousMigrationsError(dangerous)
        # mutual exclusion before touching the ledger (E12; lock → ensure →
        # loop order mirrors reference internal/executor/executor.go:120-138)
        with AdvisoryFileLock(self.ledger.path):
            self.ledger.acquire_fence()
            self.ledger.ensure()
            # one ledger read per command, kept current as this loop
            # records migrations
            applied = self._applied()
            for mig in self.from_df(migrations):
                self._apply_one(mig, dry_run, applied)
        return self.events

    def _applied(self) -> dict[str, str]:
        """{version: checksum} of the applied ledger rows, read on the
        driver (no Spark job)."""
        rows = self.ledger._rows().to_pydict()
        return {
            version: checksum
            for version, checksum, status in zip(
                rows["version"], rows["checksum"], rows["status"]
            )
            if status == "applied"
        }

    def _apply_one(
        self, mig: Migration, dry_run: bool, applied: dict[str, str]
    ) -> None:
        """E3 (reference internal/executor/executor.go:313-362)."""
        if self._should_skip(mig, applied):
            self._emit(ProgressEvent(mig.version, mig.name, SKIPPED))
            return
        if dry_run:
            self._emit(ProgressEvent(mig.version, mig.name, SKIPPED))
            return
        self._emit(ProgressEvent(mig.version, mig.name, STARTING))
        start = time.monotonic()
        try:
            in_tx = not contains_concurrent_op(mig.up_sql)
            self.runner.run(mig.up_sql, in_tx=in_tx)
        except Exception as exc:
            self._emit(
                ProgressEvent(mig.version, mig.name, FAILED, error=str(exc))
            )
            raise
        duration_ms = int((time.monotonic() - start) * 1000)
        self.ledger.record_applied(
            mig.version,
            os.path.basename(mig.file_path),
            mig.checksum,
            duration_ms,
        )
        applied[mig.version] = mig.checksum
        self._emit(
            ProgressEvent(mig.version, mig.name, COMPLETED, duration_ms)
        )

    @staticmethod
    def _should_skip(mig: Migration, applied: dict[str, str]) -> bool:
        """E2 idempotent skip + tamper check against the command's
        {version: checksum} read of the applied ledger rows
        (reference internal/executor/executor.go:366-389)."""
        recorded = applied.get(mig.version)
        if recorded is None:
            return False
        if recorded != mig.checksum:
            raise ChecksumMismatchError(
                f"checksum mismatch for {mig.version}: ledger has {recorded},"
                f" file has {mig.checksum}"
            )
        return True

    # --- rollback (E8–E11) --------------------------------------------------

    def rollback(self, migrations: DataFrame, steps: int) -> list[ProgressEvent]:
        """Last-N rollback: applied sort desc + limit (E8,
        reference internal/executor/executor.go:143-160; steps<=0 no-op
        :144-146, clamp :154-156)."""
        if steps <= 0:
            return self.events
        with AdvisoryFileLock(self.ledger.path):  # withRollbackLock (E12)
            self.ledger.acquire_fence()
            self.ledger.ensure()
            targets = sorted(self._applied(), reverse=True)[:steps]
            if not targets:
                raise NothingToRollbackError("no applied migrations")
            self._rollback_targets(migrations, targets)
        return self.events

    def rollback_to_version(
        self, migrations: DataFrame, target: str
    ) -> list[ProgressEvent]:
        """Roll back everything strictly after `target` (target kept, E9,
        reference internal/executor/executor.go:162-177,
        rollback_helpers.go:24-51)."""
        with AdvisoryFileLock(self.ledger.path):  # withRollbackLock (E12)
            self.ledger.acquire_fence()
            self.ledger.ensure()
            applied = self._applied()
            if target not in applied:
                raise TargetNotFoundError(f"version {target} is not applied")
            targets = sorted(
                (v for v in applied if v > target), reverse=True
            )
            if not targets:
                raise NothingToRollbackError(f"nothing applied after {target}")
            self._rollback_targets(migrations, targets)
        return self.events

    def _rollback_targets(
        self, migrations: DataFrame, targets: list[str]
    ) -> None:
        # E10 version→migration lookup via broadcast join shape; driver-side
        # dict for the ordered loop (reference rollback_helpers.go:54-61)
        lookup = {m.version: m for m in self.from_df(migrations)}
        for version in targets:
            mig = lookup.get(version)
            if mig is None:
                raise MissingMigrationFileError(
                    f"no migration file for applied version {version}"
                )
            if not mig.down_sql:
                raise NoDownSQLError(f"migration {version} has no down SQL")
            self._rollback_one(mig)

    def _rollback_one(self, mig: Migration) -> None:
        """E11 (reference internal/executor/executor.go:228-275)."""
        self._emit(ProgressEvent(mig.version, mig.name, ROLLING_BACK))
        start = time.monotonic()
        in_tx = not contains_concurrent_op(mig.down_sql or "")
        self.runner.run(mig.down_sql or "", in_tx=in_tx)
        self.ledger.record_rolled_back(mig.version)
        self._emit(
            ProgressEvent(
                mig.version,
                mig.name,
                COMPLETED,
                int((time.monotonic() - start) * 1000),
            )
        )
