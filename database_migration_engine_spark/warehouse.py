"""Bucketed warehouse tables for shuffle-free co-located joins.

A join between two tables bucketed by the same key into the same bucket
count needs NO shuffle: each task reads matching buckets from both sides.
At 100 TB this converts the orders⋈lineitem fact-fact join — the dominant
shuffle in the TPC-H-shaped plans — into a scan-side merge, amortizing one
write-time shuffle across every subsequent join on that key.

Spark's bucketing requires ``saveAsTable`` (bucket metadata lives in the
catalog); tests point ``spark.sql.warehouse.dir`` at a tmpdir.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_WH_PREFIX = "dbmig_wh_"
_OWN_ROOTS: set[str] = set()
_PIDFILE = "_dbmig_owner_pid"


def write_owner_pidfile(root: str) -> None:
    """Stamp ``root`` with its owning process id so sweepers can gate
    deletion on owner LIVENESS, not just mtime (ADVICE r10: warehouse
    tables are written once at startup, so a >6 h-old root can belong
    to a perfectly live session — mtime alone rmtree'd it mid-run)."""
    try:
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, _PIDFILE), "w") as fh:
            fh.write(str(os.getpid()))
    except OSError:
        pass  # stamping is best-effort; the mtime rule still applies


def owner_alive(root: str) -> bool:
    """True when ``root``'s pidfile names a live process. Roots without
    a pidfile (pre-r11 leftovers) report not-alive and fall back to the
    mtime rule. A recycled pid can keep a dead root alive for one sweep
    cycle — the safe failure direction (a leaked root survives; a live
    session's tables are never deleted under it)."""
    try:
        with open(os.path.join(root, _PIDFILE)) as fh:
            pid = int(fh.read().strip())
    except (OSError, ValueError):
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # EPERM: the process exists under another user
    return True


def _sweep_wh_roots(base: str, keep: str) -> None:
    """tmpfs is RAM: remove warehouse roots left by dead sessions (r10
    optimization round — 14 leaked roots / 222 MB observed; same sweep
    discipline as streaming/dedup's work roots). A root is swept when
    its mtime is older than 6 h AND its owner process is dead (ADVICE
    r10 — mtime alone deleted live sessions' once-written tables);
    this session's own root is always kept."""
    try:
        sibs = os.listdir(base)
    except OSError:
        return
    for sib in sibs:
        if not sib.startswith(_WH_PREFIX) or sib == keep:
            continue
        p = os.path.join(base, sib)
        try:
            if (
                time.time() - os.path.getmtime(p) > 6 * 3600
                and not owner_alive(p)
            ):
                shutil.rmtree(p, True)
        except OSError:
            pass


def _cleanup_own_roots() -> None:
    for r in list(_OWN_ROOTS):
        shutil.rmtree(r, ignore_errors=True)


atexit.register(_cleanup_own_roots)


def _wh_root(spark: SparkSession) -> str:
    """This session's warehouse root. First touch per root sweeps stale
    sibling roots and registers this one for exit cleanup."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    root_name = f"{_WH_PREFIX}{spark.sparkContext.applicationId}"
    root = os.path.join(base, root_name)
    if root not in _OWN_ROOTS:
        _sweep_wh_roots(base, root_name)
        write_owner_pidfile(root)
        _OWN_ROOTS.add(root)
    return root


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 16,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_by)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)


def bucketed_join_ready(
    spark: SparkSession, left_table: str, right_table: str
) -> bool:
    """True when both catalog tables exist (bucket co-location is then
    decided by Catalyst from their metadata)."""
    return spark.catalog.tableExists(left_table) and spark.catalog.tableExists(
        right_table
    )


def ensure_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 8,
    sort_by: str | None = None,
) -> str:
    """Idempotent EXTERNAL bucketed table: written once per
    (application, table) under a tmpfs-backed path, skipped on every
    later call in the same session (catalog entry + ``_dbmig_stamp``
    both present — the underscore prefix keeps the stamp invisible to
    the file scan). This is the ingest-time half of the bucketed-join
    bargain: one write-time shuffle, then every subsequent join or
    aggregation on ``bucket_by`` runs exchange-free.

    The pre-write ``repartition(num_buckets, bucket_by)`` uses the same
    murmur3 ``pmod`` placement as the bucket spec, so each task holds
    exactly one bucket and each bucket lands in ONE file — the layout
    Spark requires before it will trust ``sortBy`` metadata to elide
    the join-side sort."""
    path = os.path.join(_wh_root(spark), table)
    stamp = os.path.join(path, "_dbmig_stamp")
    if spark.catalog.tableExists(table) and os.path.exists(stamp):
        return table
    writer = (
        df.repartition(num_buckets, F.col(bucket_by))
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)
    with open(stamp, "w") as fh:
        fh.write("ok\n")
    return table


def ensure_partitioned(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    partition_by: str,
) -> str:
    """Idempotent hive-style partitioned parquet dataset under a
    tmpfs-backed path keyed by (application, name): one directory per
    ``partition_by`` value, written once per session. The read-side
    payoff is PARTITION PRUNING — a filter on the partition column
    becomes a directory listing, not a data scan (the second of the
    three storage-layout levers next to bucketing and Z-ordering)."""
    path = os.path.join(_wh_root(spark), name)
    stamp = os.path.join(path, "_dbmig_stamp")
    if os.path.exists(stamp):
        return path
    df.write.mode("overwrite").partitionBy(partition_by).parquet(path)
    with open(stamp, "w") as fh:
        fh.write("ok\n")
    return path


def ensure_partitioned_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    partition_by: str,
    bucket_by: str,
    num_buckets: int = 8,
    sort_by: str | None = None,
) -> str:
    """Idempotent EXTERNAL table that composes BOTH ingest-time layout
    levers — hive partitioning (directory per ``partition_by`` value →
    partition pruning on time-range filters) AND bucketing on
    ``bucket_by`` (→ exchange-free joins/aggregations on the bucket
    key). This is the layout a production 100 TB fact table actually
    uses: partition by the time column queries range-filter on, bucket
    by the join key queries co-locate on; one write-time shuffle buys
    both a listing-level scan cut AND shuffle-free joins forever after.

    The pre-write ``repartition(num_buckets, bucket_by)`` mirrors the
    bucket spec's murmur3 pmod placement so each task holds exactly one
    bucket and each (partition dir, bucket) lands in one file."""
    path = os.path.join(_wh_root(spark), table)
    stamp = os.path.join(path, "_dbmig_stamp")
    if spark.catalog.tableExists(table) and os.path.exists(stamp):
        return table
    writer = (
        df.repartition(num_buckets, F.col(bucket_by))
        .write.mode("overwrite")
        .option("path", path)
        .partitionBy(partition_by)
        .bucketBy(num_buckets, bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)
    with open(stamp, "w") as fh:
        fh.write("ok\n")
    return table


def shuffle_free_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two co-bucketed catalog tables on their bucket key. With equal
    bucket counts the physical plan has no Exchange on either side
    (asserted in tests via the explain string)."""
    return spark.table(left_table).join(spark.table(right_table), key)
