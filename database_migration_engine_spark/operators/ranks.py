"""Distributed global ranking without a single-task sort.

A ``Window.orderBy(...)`` with no ``partitionBy`` funnels every row
through ONE task's sort — fine at sf0.1, fatal at 100 TB (the round-3
verdict flagged three reporting queries for exactly this). The classic
scalable rewrite is the two-pass ranked shuffle a distributed sort uses:

1. **Boundary pass** — sample approximate quantile boundaries of the
   primary sort column (balance only; correctness never depends on where
   a boundary lands).
2. **Bucket assignment** — each row's bucket is a *pure expression* over
   its own value against the broadcast boundary list. Unlike
   ``spark_partition_id()`` after ``repartitionByRange`` (whose sampling
   can differ between the count job and the rank job), a value-derived
   bucket is identical across re-executions by construction.
3. **Offset pass** — per-bucket row counts (a tiny aggregate, ≤ a few
   hundred rows) are collected and turned into exclusive prefix sums on
   the driver.
4. **Rank pass** — ``row_number``/``rank`` windows partitioned BY BUCKET
   (each ~N/buckets rows), plus the broadcast offset, give the exact
   global rank.

Rows with equal primary values always share a bucket (buckets split the
value space monotonically), so rank-with-ties and peer counts are exact;
tiebreak columns only ever order rows *within* one bucket's window.

Cost at scale: one narrow scan for boundaries + one shuffle on bucket —
the same shape as a distributed ORDER BY, with no task ever holding more
than ~1/buckets of the data.

Reference anchor: the reference engine has no window machinery at all
(its queries are ledger CRUD — SURVEY.md §2.A); this module exists for
the §2.B analytics surface's reporting queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def values_df(spark: SparkSession, rows: list[tuple], cols: list[str]) -> DataFrame:
    """Tiny driver-side frame as a SQL VALUES inline table — a
    LocalRelation the optimizer folds/broadcasts for free, unlike
    ``createDataFrame(list)`` whose Python-RDD plan costs seconds per
    evaluation (verify-skill gotcha)."""

    import math

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return repr(v)
        if isinstance(v, float):
            if not math.isfinite(v):
                raise TypeError(
                    f"values_df: non-finite float {v!r} has no SQL literal"
                )
            # A bare decimal literal (e.g. '0.1') parses as DECIMAL in
            # Spark SQL, silently changing type AND value vs the binary64
            # the caller held. CAST from the shortest repr string goes
            # through Double.parseDouble — exact round-trip by
            # construction.
            return f"CAST('{v!r}' AS DOUBLE)"
        raise TypeError(
            f"values_df: unsupported literal type {type(v).__name__} "
            "(accepted: None, str, bool, int, finite float)"
        )

    if not rows:
        raise ValueError(
            "values_df: need at least one row (VALUES () is invalid SQL)"
        )
    vals = ", ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in rows
    )
    return spark.sql(f"SELECT * FROM (VALUES {vals}) AS t({', '.join(cols)})")


def _bucket_expr(
    col: Column, boundaries: list[float], ascending: bool
) -> Column:
    """0-based bucket index: #boundaries strictly before ``col`` in sort
    order. A pure deterministic function of the row's own value.

    NULLs go where Spark's default null ordering puts them — first under
    ``asc`` (bucket 0, where ``asc_nulls_first`` then sorts them ahead
    of every value) and last under ``desc`` (the final bucket, where
    ``desc_nulls_last`` sorts them behind every value) — so global ranks
    of NULL rows agree with an unpartitioned ORDER BY."""
    b = F.lit(0)
    for v in boundaries:
        hit = (col > F.lit(v)) if ascending else (col < F.lit(v))
        b = b + F.when(hit, 1).otherwise(0)
    null_bucket = F.lit(0) if ascending else F.lit(len(boundaries))
    return F.when(col.isNull(), null_bucket).otherwise(b)


def bucket_boundaries(
    df: DataFrame, value_col: str, buckets: int
) -> list[float]:
    """Approximate interior quantile boundaries of ``value_col`` (for
    load balance only — any boundary placement yields the same ranks)."""
    if buckets <= 1:
        return []
    qs = [i / buckets for i in range(1, buckets)]
    # loose relative error: boundaries only balance the buckets, so a
    # cheap sketch beats a tight (and much slower) one
    return df.approxQuantile(value_col, qs, 0.02)


def with_global_ranks(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    ascending: bool = True,
    buckets: int = 32,
    partition_cols: list[str] | None = None,
    rn_col: str | None = "rn",
    rank_col: str | None = None,
    cume_cnt_col: str | None = None,
) -> tuple[DataFrame, int | dict]:
    """Attach exact global (or per-``partition_cols``-group) rank columns
    computed with bucket-partitioned windows — no unpartitioned Window.

    * ``rn_col``  — ``row_number`` under (value, *tiebreaks) total order.
    * ``rank_col`` — SQL ``rank()`` under the value order alone (ties
      share a rank).
    * ``cume_cnt_col`` — #rows with value ≤ current (peers inclusive;
      the ``cume_dist`` numerator).

    Returns ``(df, total)`` where ``total`` is the overall row count
    (int) or, with ``partition_cols``, a dict keyed by the group tuple.

    This is a two-pass physical algorithm: it runs two O(buckets)-row
    driver actions (boundaries + offsets) before returning the lazy
    ranked frame — the documented deviation from the plans' "no action
    inside a query" convention, same as the shared-pair-graph caches.
    """
    pcols = partition_cols or []
    # r10 optimization note: a gated spread-repartition of the input was
    # tried here (the single-file fixture scans serialize the boundary
    # sketch and count passes) and MEASURED SLOWER — at these row counts
    # (1e5-1.5e5) the per-action exchange + 32-task scheduling cost more
    # than the serial passes they replaced (mad_outliers 4.1 → 5.5 s,
    # customer_rfm 3.3 → 5.0 s). The win for this operator's callers
    # came from lineage truncation between passes instead (their eager
    # localCheckpoints); inputs with real volume arrive pre-partitioned.
    boundaries = bucket_boundaries(df, value_col, buckets)
    dfb = df.withColumn(
        "_bkt", _bucket_expr(F.col(value_col), boundaries, ascending)
    )
    counts = (
        dfb.groupBy(*pcols, "_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    # exclusive prefix sums per group, in bucket order
    offsets: dict = {}
    totals: dict = {}
    for row in sorted(counts, key=lambda r: (tuple(str(r[c]) for c in pcols), r["_bkt"])):
        g = tuple(row[c] for c in pcols)
        offsets[(g, row["_bkt"])] = totals.get(g, 0)
        totals[g] = totals.get(g, 0) + row["_n"]
    if not counts:  # empty input: no offsets to join; ranks are vacuous
        out = dfb.drop("_bkt")
        for c in (rn_col, rank_col, cume_cnt_col):
            if c:
                out = out.withColumn(c, F.lit(None).cast("int"))
        return out, (0 if not pcols else {})
    spark = df.sparkSession
    off_rows = [
        (*g, bkt, off) for (g, bkt), off in offsets.items()
    ]
    off_df = values_df(spark, off_rows, [*pcols, "_bkt", "_off"])
    order = (
        [F.col(value_col).asc()] if ascending else [F.col(value_col).desc()]
    )
    w_val = Window.partitionBy(*pcols, "_bkt").orderBy(*order)
    w_full = w_val.orderBy(
        *order, *[F.col(c).asc() for c in tiebreak_cols]
    )
    out = dfb.join(F.broadcast(off_df), [*pcols, "_bkt"])
    if rn_col:
        out = out.withColumn(
            rn_col, F.col("_off") + F.row_number().over(w_full)
        )
    if rank_col:
        out = out.withColumn(
            rank_col, F.col("_off") + F.rank().over(w_val)
        )
    if cume_cnt_col:
        out = out.withColumn(
            cume_cnt_col,
            F.col("_off")
            + F.count(F.lit(1)).over(
                w_val.rangeBetween(Window.unboundedPreceding, 0)
            ),
        )
    out = out.drop("_bkt", "_off")
    if not pcols:
        return out, totals.get((), 0)
    return out, {g: n for g, n in totals.items()}


def select_at_ranks(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    targets_fn,
    ascending: bool = True,
    buckets: int = 32,
    partition_cols: list[str] | None = None,
    boundaries: list[float] | None = None,
) -> tuple[DataFrame, int | dict]:
    """Rows at specific global ranks, touching ONLY the buckets that
    contain a target rank (r11 optimization round, guide §1.2).

    ``with_global_ranks`` + ``filter(rn == target)`` windows EVERY
    bucket to discard all but a handful of rows; when the caller only
    needs rank-selected rows (medians, quartile probes, percentile
    boundary rows), the bucket counts already say which bucket each
    target lives in — so the rank pass can prune to those buckets
    before the window sorts anything. Selected rows are identical by
    construction: global rn = bucket offset + within-bucket row_number,
    and pruning removes only buckets whose every row's rn misses every
    target.

    ``targets_fn(totals)`` maps the per-group totals dict (group tuple →
    row count; ``{(): n}`` without partition_cols) to ``{group_tuple:
    iterable of 1-based global ranks}``. ``boundaries`` skips the
    approxQuantile action when the caller derives a monotone boundary
    set itself (any placement is correct — boundaries only balance).

    Returns ``(selected, total)`` where ``selected`` carries the
    partition cols, ``value_col``, the tiebreaks, and ``rn`` (the global
    rank that matched), and ``total`` is what ``with_global_ranks``
    returns: the row count (int), or with ``partition_cols`` the dict
    keyed by the group tuple. Scale shape: same boundary + count passes as
    with_global_ranks, then one broadcast semi-filter and a window over
    ~targets/buckets of the data instead of all of it."""
    pcols = partition_cols or []
    if boundaries is None:
        boundaries = bucket_boundaries(df, value_col, buckets)
    dfb = df.withColumn(
        "_bkt", _bucket_expr(F.col(value_col), boundaries, ascending)
    )
    counts = (
        dfb.groupBy(*pcols, "_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    per_group: dict = {}
    totals: dict = {}
    for row in sorted(
        counts, key=lambda r: (tuple(str(r[c]) for c in pcols), r["_bkt"])
    ):
        g = tuple(row[c] for c in pcols)
        per_group.setdefault(g, []).append((row["_bkt"], totals.get(g, 0)))
        totals[g] = totals.get(g, 0) + row["_n"]
    if not counts:
        out = dfb.drop("_bkt").withColumn("rn", F.lit(None).cast("int"))
        return out.filter(F.lit(False)), (totals if pcols else 0)
    spark = df.sparkSession
    # resolve each target rank to (bucket, local rank within bucket)
    probe_rows = []
    bucket_spans = {}  # group -> list of (bkt, offset, next_offset)
    for g, entries in per_group.items():
        spans = []
        for i, (bkt, off) in enumerate(entries):
            nxt = (
                entries[i + 1][1] if i + 1 < len(entries) else totals[g]
            )
            spans.append((bkt, off, nxt))
        bucket_spans[g] = spans
    for g, ranks in targets_fn(totals).items():
        for rank in ranks:
            for bkt, off, nxt in bucket_spans.get(g, []):
                if off < rank <= nxt:
                    probe_rows.append((*g, bkt, rank - off, rank))
                    break
    if not probe_rows:
        out = dfb.drop("_bkt").withColumn("rn", F.lit(None).cast("int"))
        return out.filter(F.lit(False)), (
            totals if pcols else totals.get((), 0)
        )
    # NULL partition keys sort first (None does not compare with values)
    probe_df = values_df(
        spark,
        sorted(set(probe_rows),
               key=lambda r: tuple((v is not None, v) for v in r)),
        [*pcols, "_bkt", "_lrn", "rn"],
    )
    order = (
        [F.col(value_col).asc()] if ascending else [F.col(value_col).desc()]
    )
    w_full = Window.partitionBy(*pcols, "_bkt").orderBy(
        *order, *[F.col(c).asc() for c in tiebreak_cols]
    )
    hit_buckets = probe_df.select(*pcols, "_bkt").distinct()
    selected = (
        dfb.join(F.broadcast(hit_buckets), [*pcols, "_bkt"], "left_semi")
        .withColumn("_lrn", F.row_number().over(w_full))
        .join(F.broadcast(probe_df), [*pcols, "_bkt", "_lrn"])
        .drop("_bkt", "_lrn")
    )
    if not pcols:
        return selected, totals.get((), 0)
    return selected, dict(totals)


def ntile_from_rn(rn: Column, n_rows: int, tiles: int) -> Column:
    """Exact SQL ``NTILE(tiles)`` tile from a precomputed global
    row_number: the first ``n_rows % tiles`` tiles get ``n_rows//tiles
    + 1`` rows, the rest ``n_rows//tiles`` (both engines' semantics)."""
    q, r0 = divmod(n_rows, tiles)
    big = (q + 1) * r0  # rows living in the oversized tiles
    return F.when(
        rn <= F.lit(big), F.ceil(rn / F.lit(q + 1))
    ).otherwise(
        F.lit(r0) + F.ceil((rn - F.lit(big)) / F.lit(max(q, 1)))
    ).cast("int")
