"""Storage-layout management: small-file compaction and Z-order
clustering for data-skipping.

At 100 TB the dominant scan costs are decided before any query runs — by
how the data lies on disk. Two operators cover the standard maintenance
loop a large parquet lake needs (the reference manages single ``.sql``
files, `internal/migration/loader.go`; a data engine manages datasets):

* **Compaction** — streaming ingestion and fine-grained partitioning
  leave thousands of KB-sized files; each costs a task + a footer read +
  scheduler overhead. ``compact_parquet`` rewrites a dataset to
  target-sized files with an atomic directory swap.
* **Z-order clustering** — a single-column sort gives row-group min/max
  pruning on that column only. Interleaving the bits of several columns
  (a Morton / Z-curve key) gives *every* interleaved column locality, so
  selective filters on any of them skip most row groups. This is the
  same layout idea Delta OPTIMIZE ZORDER BY and Iceberg sort orders use.

Both are pytest-verified with real parquet footer statistics
(tests/test_layout.py): compaction preserves content bit-for-bit and the
Z-order write measurably shrinks the fraction of row groups a range
filter must read vs both unsorted and single-column-sorted layouts.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def dataset_files(path: str) -> list[str]:
    """All parquet data files under ``path`` (any partition depth)."""
    out = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                out.append(os.path.join(root, n))
    return sorted(out)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    partition_cols: list[str] | None = None,
) -> dict:
    """Rewrite a parquet dataset into ceil(total_bytes / target) files
    and atomically swap it into place.

    The swap is two renames (current → ``.old``, tmp → current) — the
    same single-filesystem atomic-rename contract the parquet ledger
    uses (`executor/orchestrator.py` ParquetLedger._swap_in); a crash
    between them leaves the ``.old`` directory intact for manual
    recovery, never a half-written dataset. With ``partition_cols`` the
    directory keys are preserved and file sizes are bounded per
    partition via ``maxRecordsPerFile`` (estimated from the global
    rows-per-byte ratio).

    Returns ``{files_before, files_after, bytes_total, n_rows}``.
    """
    files = dataset_files(path)
    bytes_total = sum(os.path.getsize(f) for f in files)
    n_target = max(1, math.ceil(bytes_total / target_file_bytes))

    df = spark.read.parquet(path)
    n_rows = df.count()
    tmp = f"{path}.compact_tmp_{uuid.uuid4().hex[:8]}"
    writer_df = df
    if partition_cols:
        rows_per_file = max(1, math.ceil(n_rows / n_target))
        writer = (
            writer_df.repartition(*[F.col(c) for c in partition_cols])
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy(*partition_cols)
        )
    else:
        writer = writer_df.repartition(n_target).write.mode("overwrite")
    writer.parquet(tmp)

    old = f"{path}.compact_old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {
        "files_before": len(files),
        "files_after": len(dataset_files(path)),
        "bytes_total": bytes_total,
        "n_rows": n_rows,
    }


def zorder_key(
    scaled_cols: list[Column], bits: int = 8
) -> Column:
    """Morton (Z-curve) key from pre-scaled integer columns in
    ``[0, 2**bits)``: bit b of column i lands at position
    ``b * n_cols + i`` of the key. Pure shift/and/or expressions —
    whole-stage codegen, no UDF."""
    n = len(scaled_cols)
    key = F.lit(0).cast("long")
    for i, c in enumerate(scaled_cols):
        c = c.cast("long")
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int = 8,
) -> None:
    """Write ``df`` clustered on the Z-curve over ``cols``.

    Each column is affinely scaled to ``[0, 2**bits)`` using its global
    min/max (one tiny aggregate row collected to the driver — bounded by
    design, same contract as the IVF centroid collect), the Morton key
    interleaves the scaled values, and ``repartitionByRange`` +
    ``sortWithinPartitions`` on the key cluster the rows so every
    interleaved column's values are locally banded — parquet min/max
    footer stats then prune row groups for filters on ANY of the
    columns. Range partitioning samples the key distribution, so skewed
    columns still yield balanced files."""
    stats = df.agg(
        *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(cols):
        mn = float(stats[f"mn_{i}"])
        mx = float(stats[f"mx_{i}"])
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor(
                    (F.col(c).cast("double") - F.lit(mn))
                    * F.lit(float(top + 1))
                    / F.lit(span)
                ),
            ).cast("long")
        )
    keyed = df.withColumn("_zkey", zorder_key(scaled, bits=bits))
    (
        keyed.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def rowgroup_ranges(path: str, column: str) -> list[tuple]:
    """(min, max) per row group for ``column`` from parquet footers —
    the statistics the scan's predicate pushdown prunes with."""
    import pyarrow.parquet as pq

    out = []
    for f in dataset_files(path):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == column:
                    st = col.statistics
                    if st is not None and st.has_min_max:
                        out.append((st.min, st.max))
    return out


def pruned_fraction(
    path: str, column: str, lo, hi
) -> float:
    """Fraction of row groups a [lo, hi] range filter can SKIP given the
    footer stats — the direct measure of a layout's data-skipping
    power."""
    ranges = rowgroup_ranges(path, column)
    if not ranges:
        return 0.0
    overlapping = sum(1 for mn, mx in ranges if not (mx < lo or mn > hi))
    return 1.0 - overlapping / len(ranges)
