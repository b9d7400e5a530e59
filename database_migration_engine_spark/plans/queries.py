"""Spark implementations of every registered query.

Conventions (shared with plans/oracles.py — read both together):

* Every callable takes ``(spark, sf_dir)`` and returns a DataFrame; no
  ``collect()`` inside a plan, so each stays a lazy logical plan Catalyst
  can optimize end-to-end (pushdown, pruning, broadcast selection, AQE).
* **Exact-decimal aggregation**: floating-point sums depend on reduction
  order, which differs between a 32-way Spark shuffle and DuckDB. Every
  SUM/AVG over doubles therefore casts the operand to a wide DECIMAL,
  aggregates exactly, and casts the final value back to DOUBLE — making the
  result bit-identical in both engines regardless of parallelism. At scale
  this costs one widening per row in exchange for deterministic results —
  the same trade Spark's own decimal aggregates make.
* **Timestamps out as strings**: the session timezone is pinned to UTC
  (session.ensure_deterministic) and emitted timestamps are formatted to
  strings so the driver's value-hash can never diverge on tz-awareness.
* Every computed column is aliased identically here and in the oracle.

Reference anchors are cited per query (SURVEY.md §2.B).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fixtures
from ..analyzer.analyze import analyze, severity_rollup
from ..functions import text as TX
from ..io import read_table
from ..operators import dedup as DD
from ..operators import graph as GR
from ..operators import joins as JN
from ..operators import ranks as RK
from ..operators import similarity as SIM
from ..operators import skew as SK
from ..session import ensure_deterministic

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def query(name: str) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        return fn

    return deco


# Exact-decimal aggregation helpers (see module docstring).
_DEC = "decimal(28,10)"

# Price arithmetic in exact decimals: the fixture monetary columns carry 2
# decimal digits, so casting the stored double to DECIMAL(18,2)/(4,2)
# recovers the intended value exactly in both engines, and all subsequent
# multiplication is exact decimal math — no double product ever has to be
# rounded to a decimal (where Spark's HALF_UP and DuckDB's HALF_EVEN can
# disagree by one ULP).
DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)
CHARGE = f"({DISC_PRICE}) * (1 + CAST(l_tax AS DECIMAL(4,2)))"


def dsum(col, alias: str):
    """Order-independent SUM over doubles: exact decimal sum → double."""
    return F.sum(col.cast(_DEC)).cast("double").alias(alias)


def davg(col, alias: str):
    """Order-independent AVG: exact decimal sum / count, in double."""
    return (
        (F.sum(col.cast(_DEC)).cast("double") / F.count(col))
        .alias(alias)
    )


def fmt_ts(col, alias: str, micros: bool = False):
    pattern = "yyyy-MM-dd HH:mm:ss.SSSSSS" if micros else "yyyy-MM-dd HH:mm:ss"
    return F.date_format(col, pattern).alias(alias)


# ---------------------------------------------------------------------------
# Relational analytics over the TPC-H-ish star schema (SURVEY.md §2.B).
# ---------------------------------------------------------------------------


@query("revenue_agg")
def revenue_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan→filter→hash-agg (TPC-H Q1 shape) on lineitem.

    Exercises predicate pushdown (l_shipdate filter reaches the parquet
    scan), column pruning, and two-phase hash aggregation. ETL extract
    anchor per SURVEY §7.1.
    """
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(F.expr(DISC_PRICE), "sum_disc_price"),
            dsum(F.expr(CHARGE), "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("topk_orders")
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi-join + agg + top-k (TPC-H Q3 shape).

    customer joins unhinted — Catalyst auto-broadcasts it while it fits
    the size threshold, and falls back to shuffle at SFs where it would
    not (a hard hint would pin an SF-scaled table onto every executor); orders⋈lineitem is the
    large shuffle join on l_orderkey (uniformly distributed → no salting
    needed; AQE would split a skewed key). Top-k ties broken by o_orderkey
    so the limit is deterministic.
    """
    ensure_deterministic(spark)
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-15").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.expr(DISC_PRICE), "revenue"))
        .select(
            "o_orderkey",
            "revenue",
            fmt_ts(F.col("o_orderdate"), "o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query("region_rollup")
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup with broadcast dimension joins (nation⋈region).

    Both dims are tiny at any scale factor → broadcast hash joins, so the
    only shuffle is the final aggregation. Anchor: E10 broadcast lookup
    (reference internal/executor/rollback_helpers.go:54-61) generalized.
    """
    ensure_deterministic(spark)
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), "total_acctbal"),
            davg(F.col("c_acctbal"), "avg_acctbal"),
        )
        .orderBy("r_name")
    )


@query("window_rank")
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 orders per customer by totalprice.

    Generalizes the reference's rollback top-k selection (E8,
    reference internal/executor/rollback_helpers.go:12-19) from a global
    sort+limit to a per-key windowed top-k — one shuffle on o_custkey.
    Deterministic tie-break on o_orderkey.
    """
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@query("set_ops_users")
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on user populations: (purchasers ∩ signups) ∖ errorers.

    Anchor: applied-set vs rolled-back-set version algebra (L2/L4,
    reference internal/tracker/tracker.go:67-92,116-130).
    """
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")

    def users(predicate) -> DataFrame:
        return ev.filter(predicate).select("user_id").distinct()

    return (
        users(F.col("event_type") == "purchase")
        .intersect(users(F.col("event_type") == "signup"))
        .subtract(
            users((F.col("event_type") == "error") & (F.col("value") > 180))
        )
        .orderBy("user_id")
    )


@query("distinct_counts")
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation: per return flag, distinct parts and
    suppliers plus total lines. COUNT(DISTINCT) expands to a two-level
    aggregation (partial distinct per partition → final) — the exact
    counterpart of the approx_count_distinct HLL path used when
    exactness isn't required at scale."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


@query("conditional_aggs")
def conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (count-if / sum-case): the generalized form
    of the reference's countMigrationsWithFindings
    (reference internal/cli/analyze.go:110-120)."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    big = F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(big).alias("n_big"),
            dsum(
                F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
                .otherwise(F.lit(0.0)),
                "finished_value",
            ),
        )
        .orderBy("o_orderpriority")
    )


@query("local_supplier_revenue")
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (customer⋈orders⋈lineitem⋈supplier with
    the local-supplier constraint c_nationkey = s_nationkey, plus the
    nation⋈region dimension chain) → revenue per nation.

    The big fact-fact join (orders⋈lineitem) shuffles on orderkey; nation/region
    are forced broadcasts (bounded); customer/supplier join unhinted so
    the size check stays in charge; Catalyst orders the joins from the
    pushed-down region filter outward."""
    ensure_deterministic(spark)
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.expr(DISC_PRICE), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query("customer_order_counts")
def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation — the
    distribution of customers by order count, including zero-order
    customers (the outer join's null side)."""
    ensure_deterministic(spark)
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    per_customer = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_customer.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


@query("orders_with_big_discount")
def orders_with_big_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS (left-semi join) — count orders per priority
    having at least one deeply discounted line item."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    discounted = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_discount") > 0.05
    )
    return (
        orders.join(
            discounted, orders.o_orderkey == discounted.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query("revenue_rollup")
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (grouping sets): per (returnflag, linestatus),
    per returnflag subtotal, and grand total in one pass — Spark expands
    to grouping sets with partial aggregation per set."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


@query("events_pivot")
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns. The explicit value
    list keeps the plan a single pass (no distinct-values pre-query) —
    the form that scales."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds],
        )
        .orderBy("user_id")
    )


@query("events_json")
def events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props column: histogram of the
    integer field k by event_type (get_json_object / json_extract)."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        # explicit floor: Spark's double→int cast truncates but DuckDB's
        # rounds — floor() makes the bucketing identical in both engines
        .withColumn("k_bucket", F.floor(F.col("k") / 10).cast("int"))
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "k_bucket")
    )


@query("orderdate_parts")
def orderdate_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part functions: orders histogram by (year, quarter) with
    month/day extremes — scalar date function coverage."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.month("o_orderdate").alias("mth"),
            F.dayofmonth("o_orderdate").alias("dom"),
        )
        .groupBy("yr", "qtr")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("mth").alias("first_month"),
            F.max("mth").alias("last_month"),
            F.max("dom").alias("max_day"),
        )
        .orderBy("yr", "qtr")
    )


@query("customer_name_funcs")
def customer_name_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions: upper/substring/length/concat/replace over
    customer names with a LIKE predicate."""
    ensure_deterministic(spark)
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.filter(F.col("c_name").like("%1%"))
        .select(
            "c_custkey",
            F.upper(F.col("c_name")).alias("upper_name"),
            F.substring(F.col("c_name"), 1, 8).alias("prefix8"),
            F.length(F.col("c_name")).alias("name_len"),
            F.concat_ws("|", F.col("c_mktsegment"), F.col("c_name")).alias(
                "tagged"
            ),
            F.regexp_replace(F.col("c_name"), "[0-9]", "#").alias("masked"),
        )
        .orderBy("c_custkey")
    )


@query("embedding_stats")
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function coverage over embeddings: per label, count plus
    min/max of the vector norm and first element (min/max select exact
    doubles — order-independent, unlike float sums)."""
    ensure_deterministic(spark)
    from ..functions.vectors import as_double_array, norm

    emb = read_table(spark, sf_dir, "embeddings").select(
        "label",
        as_double_array("embedding").alias("v"),
    )
    staged = emb.select(
        "label",
        norm("v").alias("nrm"),
        F.element_at("v", 1).alias("first_elem"),
        F.array_max("v").alias("vmax"),
    )
    return (
        staged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            F.min("first_elem").alias("min_first"),
            F.max("vmax").alias("max_elem"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Event-time windowing (batch forms; streaming twins in streaming/).
# ---------------------------------------------------------------------------


@query("events_tumbling")
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (streaming-ready agg)."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        .select(
            fmt_ts(F.col("bucket_ts"), "hour_bucket"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query("events_sessionize")
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) per user.

    Batch form of a session window: lag → new-session flag → running sum
    within the same user partition (one shuffle on user_id; both window
    functions reuse that partitioning) → per-session rollup.
    """
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(order_w))
    # strictly-greater gap starts a new session — session_window MERGES an
    # event arriving at exactly prev + gap (verified by the boundary test
    # in tests/test_streaming_multimodal.py), so > keeps batch and
    # streaming twins in exact agreement
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    session_seq = F.sum(new_session).over(
        order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("session_seq", session_seq)
        .groupBy("user_id", "session_seq")
        .agg(
            fmt_ts(F.min("ts"), "session_start", micros=True),
            fmt_ts(F.max("ts"), "session_end", micros=True),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("long").alias("session_seq"),
            "session_start",
            "session_end",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Ledger / migration-engine operators (reference semantics, SURVEY.md §2.A).
# The corpus is inlined identically on both engines via fixtures.py.
# ---------------------------------------------------------------------------


@query("ledger_status")
def ledger_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 filtered ordered scan (reference internal/tracker/tracker.go:67-92)."""
    ensure_deterministic(spark)
    ledger = fixtures.ledger_df(spark)
    return (
        ledger.filter(F.col("status") == "applied")
        .select(
            "version",
            "filename",
            "checksum",
            fmt_ts(F.col("applied_at"), "applied_at"),
            "duration_ms",
            "status",
        )
        .orderBy("version")
    )


@query("pending_migrations")
def pending_migrations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: migrations not yet applied (E2 inverted,
    reference internal/executor/executor.go:366-373). A rolled-back version
    is pending again (status filter mirrors IsApplied,
    reference internal/tracker/tracker.go:56-58)."""
    ensure_deterministic(spark)
    migrations = fixtures.migrations_df(spark)
    applied = fixtures.ledger_df(spark).filter(F.col("status") == "applied")
    return (
        migrations.join(applied, "version", "left_anti")
        .select("version", "name", "checksum")
        .orderBy("version")
    )


@query("applied_semi")
def applied_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: the batch form of the point-exists probe (L1,
    reference internal/tracker/tracker.go:52-64)."""
    ensure_deterministic(spark)
    migrations = fixtures.migrations_df(spark)
    applied = fixtures.ledger_df(spark).filter(F.col("status") == "applied")
    return (
        migrations.join(applied, "version", "left_semi")
        .select("version", "name")
        .orderBy("version")
    )


@query("checksum_verify")
def checksum_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join + sha2 tamper check (E2,
    reference internal/executor/executor.go:376-388). Runs against the
    tampered ledger fixture so exactly one version mismatches."""
    ensure_deterministic(spark)
    migrations = fixtures.migrations_df(spark)
    ledger = fixtures.ledger_df(spark, tampered=True).filter(
        F.col("status") == "applied"
    )
    return (
        migrations.alias("m")
        .join(ledger.alias("t"), "version")
        .select(
            "version",
            F.sha2(F.col("m.up_sql"), 256).alias("computed_checksum"),
            F.col("t.checksum").alias("recorded_checksum"),
            (F.sha2(F.col("m.up_sql"), 256) == F.col("t.checksum")).alias(
                "checksum_ok"
            ),
        )
        .orderBy("version")
    )


@query("rollback_topk")
def rollback_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback last-N target selection = sort desc + limit (E8,
    reference internal/executor/executor.go:143-160,
    rollback_helpers.go:12-19). Lexicographic string version order is the
    engine invariant (reference internal/migration/sorter.go:11-15)."""
    ensure_deterministic(spark)
    ledger = fixtures.ledger_df(spark)
    return (
        ledger.filter(F.col("status") == "applied")
        .orderBy(F.desc("version"))
        .limit(3)
        .select("version", "filename")
    )


@query("after_version")
def after_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback-to-version range predicate: applied rows with
    version strictly greater than the target (target itself kept,
    reference internal/executor/executor.go:162-164,
    rollback_helpers.go:24-51)."""
    ensure_deterministic(spark)
    ledger = fixtures.ledger_df(spark)
    return (
        ledger.filter((F.col("status") == "applied") & (F.col("version") > "003"))
        .select("version", fmt_ts(F.col("applied_at"), "applied_at"))
        .orderBy(F.desc("version"))
    )


@query("upsert_ledger")
def upsert_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics as anti-join + union (L3 upsert,
    reference internal/tracker/tracker.go:96-113): re-applying a
    rolled-back version replaces its row; a fresh version inserts.

    At scale this is the classic copy-on-write MERGE: the anti-join
    broadcasts the (small) batch of new rows against the big ledger, so no
    ledger-wide shuffle happens.
    """
    ensure_deterministic(spark)
    ledger = fixtures.ledger_df(spark)
    migrations = fixtures.migrations_df(spark)
    new_rows = (
        migrations.filter(F.col("version").isin("007", "008"))
        .select(
            "version",
            F.concat(
                F.lit("V"), F.col("version"), F.lit("_"), F.col("name"),
                F.lit(".up.sql"),
            ).alias("filename"),
            "checksum",
            F.lit("2024-02-01 00:00:00").cast("timestamp").alias("applied_at"),
            F.lit(99).alias("duration_ms"),
            F.lit("applied").alias("status"),
        )
    )
    merged = ledger.join(F.broadcast(new_rows), "version", "left_anti").unionByName(
        new_rows
    )
    return merged.select(
        "version",
        "filename",
        "checksum",
        fmt_ts(F.col("applied_at"), "applied_at"),
        F.col("duration_ms").cast("int").alias("duration_ms"),
        "status",
    ).orderBy("version")


# ---------------------------------------------------------------------------
# SQL danger analysis (the reference's core competency, SURVEY.md §2.A
# rules R1–R9). The oracle reimplements the rules independently in SQL
# (LIKE/regexp) over the same inlined corpus — a cross-implementation
# check, not a golden file.
# ---------------------------------------------------------------------------


@query("findings_explode")
def findings_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All rule findings over the migration corpus at PG 14: the
    migrations → statements (parse UDF + explode) → 9-rule union pipeline
    (reference internal/analyzer/analyzer.go:53-94). Message/suggestion
    prose is engine-specific and excluded from the compared projection."""
    ensure_deterministic(spark)
    findings = analyze(fixtures.migrations_df(spark), pg_version=14)
    return findings.select(
        "version",
        "rule",
        "severity",
        F.col("table").alias("table_name"),
        "lock_type",
        "stmt_index",
    ).orderBy("version", "rule")


@query("severity_rollup")
def severity_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-migration max severity + danger gate (AnalysisResult rollup,
    reference internal/analyzer/analyzer.go:80-82, result.go:25-27;
    gate threshold reference internal/cli/apply.go:180-194)."""
    ensure_deterministic(spark)
    migrations = fixtures.migrations_df(spark)
    return severity_rollup(migrations, pg_version=14).orderBy("version")


@query("rule_catalog")
def rule_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static rule catalog ⋈ findings (broadcast join): per registered rule,
    its default severity/lock plus how many corpus findings it produced —
    the E10 broadcast-lookup shape (reference rollback_helpers.go:54-61)
    over the analyzer output. Rules with no findings appear with 0."""
    ensure_deterministic(spark)
    catalog_rows = ",".join(
        f"('{rule}', {sev}, '{lock}')"
        for rule, sev, lock in [
            ("create-index-not-concurrent", 3, "SHARE"),
            ("add-column-volatile-default", 3, "ACCESS EXCLUSIVE"),
            ("add-constraint-without-not-valid", 3, "ACCESS EXCLUSIVE"),
            ("alter-column-type", 3, "ACCESS EXCLUSIVE"),
            ("set-not-null", 2, "ACCESS EXCLUSIVE"),
            ("drop-table", 4, "ACCESS EXCLUSIVE"),
            ("vacuum-full", 3, "ACCESS EXCLUSIVE"),
            ("lock-table", 3, "EXPLICIT"),
            ("rename", 2, "ACCESS EXCLUSIVE"),
        ]
    )
    catalog = spark.sql(
        f"SELECT * FROM (VALUES {catalog_rows}) AS "
        f"rule_catalog(rule, default_severity, lock_type)"
    )
    findings = analyze(fixtures.migrations_df(spark), pg_version=14)
    counts = findings.groupBy("rule").agg(F.count(F.lit(1)).alias("n_findings"))
    return (
        catalog.join(F.broadcast(counts), "rule", "left")
        .select(
            "rule",
            F.col("default_severity").cast("int").alias("default_severity"),
            "lock_type",
            F.coalesce(F.col("n_findings"), F.lit(0))
            .cast("long")
            .alias("n_findings"),
        )
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# Text analysis over `documents` (north-star LLM-pipeline operators).
# ---------------------------------------------------------------------------


@query("text_stats")
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics: tokenize + aggregate, all JVM-side."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tokens", TX.token_count())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
                "avg_chars"
            ),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@query("token_count")
def token_count_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/punctuation token counting rolled up per source."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tokens", TX.token_count())
        .withColumn("n_bpe", TX.bpe_ish_count())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias(
                "avg_tokens"
            ),
        )
        .orderBy("source")
    )


@query("quality_score")
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score. Components are
    integer ratios in double — bit-deterministic without any rounding.

    Staged selects materialize the token array and counts once; a single
    nested expression tree would re-split the text per component (codegen
    does not reliably CSE the regexp split)."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    stops = ",".join(f"'{w}'" for w in TX.STOPWORDS["en"])
    staged = (
        docs.select("doc_id", "text", TX.tokens().alias("toks"))
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.length("text").alias("n_chars"),
            F.expr(f"size(filter(toks, t -> t IN ({stops})))").alias("stop_hits"),
            TX.punct_count("text").alias("punct_cnt"),
        )
    )
    stop_ratio = F.when(
        F.col("n_tokens") > 0, F.col("stop_hits") / F.col("n_tokens")
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        F.col("n_chars") > 0, F.col("punct_cnt") / F.col("n_chars")
    ).otherwise(F.lit(0.0))
    len_score = F.least(F.col("n_chars"), F.lit(TX.LEN_NORM)) / F.lit(
        TX.LEN_NORM
    ).cast("double")
    return staged.select(
        "doc_id",
        "n_tokens",
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        len_score.alias("len_score"),
        (
            stop_ratio * F.lit(TX.W_STOP)
            + punct_ratio * F.lit(TX.W_PUNCT)
            + len_score * F.lit(TX.W_LEN)
        ).alias("score"),
    )


QF_RULE_COLS = [
    "f_word_count", "f_mean_word_len", "f_symbol_ratio",
    "f_bullet_lines", "f_ellipsis_lines", "f_alpha_words", "f_stopwords",
]


def _quality_doc_flags(docs: DataFrame) -> DataFrame:
    """Per-document Gopher-rule flags (doc_id, source, f_*, passes) —
    shared by quality_flags (per-source rollup) and clean_corpus (the
    end-to-end retention pipeline). The word and line arrays are staged
    once (codegen does not reliably CSE a regexp split), then every rule
    is a filter/size over the staged arrays — no Python, no shuffle."""
    stops = ",".join(f"'{w}'" for w in TX.STOPWORDS["en"])
    staged = docs.select(
        "doc_id",
        "source",
        F.expr(r"filter(split(text, '\\s+'), w -> w != '')").alias("words"),
        F.expr(r"split(text, '\n')").alias("lines"),
        F.expr(
            f"size(filter(filter(split(lower(text), '{TX.TOKEN_SPLIT_RE}'),"
            f" t -> t != ''), t -> t IN ({stops})))"
        ).alias("stop_hits"),
        F.regexp_count(F.col("text"), F.lit(r"#|\.\.\.|…")).alias("symbol_cnt"),
    ).select(
        "doc_id",
        "source",
        "stop_hits",
        "symbol_cnt",
        F.size("words").alias("n_words"),
        F.size("lines").alias("n_lines"),
        F.expr("aggregate(words, 0L, (acc, w) -> acc + length(w))").alias(
            "word_chars"
        ),
        F.expr(
            "size(filter(lines, l -> ltrim(l) RLIKE '^[-*•]'))"
        ).alias("bullet_cnt"),
        F.expr(
            r"size(filter(lines, l -> rtrim(l) RLIKE '(\\.\\.\\.|…)$'))"
        ).alias("ellipsis_cnt"),
        F.expr(
            "size(filter(words, w -> w RLIKE '[A-Za-z]'))"
        ).alias("alpha_cnt"),
    )
    nz = F.col("n_words") > 0
    mwl = F.when(nz, F.col("word_chars") / F.col("n_words")).otherwise(F.lit(0.0))
    sym = F.when(nz, F.col("symbol_cnt") / F.col("n_words")).otherwise(F.lit(0.0))
    bul = F.when(
        F.col("n_lines") > 0, F.col("bullet_cnt") / F.col("n_lines")
    ).otherwise(F.lit(0.0))
    ell = F.when(
        F.col("n_lines") > 0, F.col("ellipsis_cnt") / F.col("n_lines")
    ).otherwise(F.lit(0.0))
    alp = F.when(nz, F.col("alpha_cnt") / F.col("n_words")).otherwise(F.lit(0.0))

    def flag(cond):
        return F.when(cond, F.lit(1)).otherwise(F.lit(0))

    flags = staged.select(
        "doc_id",
        "source",
        flag(
            (F.col("n_words") >= TX.QF_MIN_WORDS)
            & (F.col("n_words") <= TX.QF_MAX_WORDS)
        ).alias("f_word_count"),
        flag((mwl >= TX.QF_MIN_MWL) & (mwl <= TX.QF_MAX_MWL)).alias(
            "f_mean_word_len"
        ),
        flag(sym <= TX.QF_MAX_SYMBOL_RATIO).alias("f_symbol_ratio"),
        flag(bul <= TX.QF_MAX_BULLET_FRAC).alias("f_bullet_lines"),
        flag(ell <= TX.QF_MAX_ELLIPSIS_FRAC).alias("f_ellipsis_lines"),
        flag(alp >= TX.QF_MIN_ALPHA_FRAC).alias("f_alpha_words"),
        flag(F.col("stop_hits") >= TX.QF_MIN_STOP_HITS).alias("f_stopwords"),
    )
    passes = F.lit(1)
    for c in QF_RULE_COLS:
        passes = passes * F.col(c)
    return flags.withColumn("passes", passes)


@query("quality_flags")
def quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style pre-training quality filter (r03): word-count and
    mean-word-length bounds, symbol-to-word ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, stop-word presence — the
    published rule set (Rae et al. 2021 table A1) as pure integer-ratio
    column arithmetic (see _quality_doc_flags), rolled up per source with
    the per-rule reject counts a pipeline operator actually monitors."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return (
        _quality_doc_flags(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("passes").alias("n_pass"),
            *[
                F.sum(F.lit(1) - F.col(c)).alias(c.replace("f_", "rej_"))
                for c in QF_RULE_COLS
            ],
        )
        .orderBy("source")
    )


@query("lang_id_confusion")
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID vs the labeled lang (confusion counts).

    Hit counts are materialized as columns before the argmax CASE chain —
    the nested form re-counts each language's stopwords ~3× per row."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select("lang", TX.tokens().alias("toks")).select(
        "lang",
        *[
            TX.stopword_hits("toks", lang).alias(f"hits_{lang}")
            for lang in TX.LANG_PRIORITY
        ],
    )
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in TX.LANG_PRIORITY])
    predicted = F.lit("unknown")
    for lang in reversed(TX.LANG_PRIORITY):
        predicted = F.when(
            (best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)
        ).otherwise(predicted)
    return (
        staged.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@query("text_normalize")
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text cleaning pipeline: lowercase, strip non-alphanumerics,
    collapse whitespace — then dedup-exact on the normalized form (the
    canonical pre-dedup normalization step of a corpus pipeline)."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return (
        docs.select("doc_id", normalized.alias("norm_text"))
        .groupBy(F.md5("norm_text").alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.length("norm_text")).alias("norm_len"),
        )
        .orderBy("norm_hash")
    )


@query("doc_fingerprint")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-normalized md5 content fingerprint per document."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint().alias("fp"))


# ---------------------------------------------------------------------------
# Deduplication family over `documents`.
# ---------------------------------------------------------------------------


@query("dedup_exact")
def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by sha2(text) hash-groupBy — the scale-out form of the
    reference's checksum identity (internal/migration/migration.go:19-23)."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return DD.dedup_exact(docs).select("text_hash", "keep_id", "n_dups")


@query("dedup_token_sig")
def dedup_token_sig_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive dedup: groups sharing a sorted-distinct-token
    signature (catches shuffled copies)."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return DD.dedup_token_sig(docs).select("sig", "keep_id", "n_docs")


@query("ngram_jaccard_pairs")
def ngram_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard ≥ 0.1 with document-frequency
    capping (see operators/dedup.py for the 100 TB shape)."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, threshold=0.1, max_df=50).orderBy(
        "doc_a", "doc_b"
    )


@query("dedup_near_minhash")
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs, oracle-certified since r02: the
    md5-derived hash family (functions/portable_hash.py) makes signatures
    AND band hashes reproducible in DuckDB, so the full banded pipeline
    hash-matches instead of the r01 rows-only check. To guarantee known
    near-dups exist at any scale factor, the corpus is unioned with a
    mirrored copy (doc_id + 1e6): every original must collide with its
    mirror, so output size ≥ corpus size; pytest asserts recall on the
    mirrored pairs."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    mirrored = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    return DD.minhash_lsh_pairs(
        docs.unionByName(mirrored), hash_fn="md5"
    ).orderBy("doc_a", "doc_b")


@query("dedup_incremental")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: the newest documents (doc_id >= 400)
    checked against the already-indexed corpus (doc_id < 400, plus a
    mirror of the new batch at +1e6 so every new doc has a guaranteed
    index hit at any scale factor). The banded join touches only
    new-bands x index-bands — per-batch cost scales with the batch, not
    the corpus. md5-portable hashes, so the full pipeline hash-matches
    the oracle."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE signature pass over the corpus; the index side is assembled
    # from stored signatures (the mirror shares its source text, so its
    # signature is the id-shifted copy) — the presigned interface is the
    # production shape AND halves the tokenize/hash work.
    sigs = DD.minhash_signatures(docs, hash_fn="md5").persist()
    new_sig = sigs.filter(F.col("doc") >= 400)
    idx_sig = sigs.filter(F.col("doc") < 400).unionByName(
        new_sig.withColumn("doc", F.col("doc") + F.lit(1_000_000))
    )
    return DD.lsh_join_presigned(new_sig, idx_sig, hash_fn="md5").orderBy(
        "new_doc", "index_doc"
    )


@query("dedup_incremental_stream")
def dedup_incremental_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dedup_incremental (r08): the new-arrival slice
    (doc_id >= 400) is staged to tmpfs parquet and re-read as a paced
    FILE STREAM (6 files, maxFilesPerTrigger=2 → multiple real
    micro-batches); a foreachBatch handler maintains the banded
    MinHash-LSH index as a parquet sink table — seeded with the corpus
    bands, appended with each batch's +1e6 mirror bands — and joins
    each arriving batch (plus the accumulated earlier arrivals against
    the batch's mirrors: the exact decomposition in streaming/dedup.py)
    so the drained pair set equals the batch query row-for-row against
    the SAME oracle. Per-batch writes land in batch_id partitions with
    per-partition overwrite (idempotent at-least-once replay, the
    streaming/sink.py design). This is the continuous-ingestion dedup
    shape: per-batch JOIN work ∝ batch collisions, per-batch index
    ACCESS ∝ index (static corpus side pinned in cache; amortized by
    batch size — the honest cost model in streaming/dedup.py), the
    index is a real maintained table, and at 100 TB the same handler
    runs unchanged against an object-store index path. Measured floor
    + target: SCALE.md "Streaming cost model"."""
    from ..streaming.dedup import run_incremental_dedup_stream

    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return run_incremental_dedup_stream(spark, docs).orderBy(
        "new_doc", "index_doc"
    )


@query("contamination_check")
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: for each held-out document (doc_id >=
    480), the fraction of its distinct 3-gram shingles that also appear
    anywhere in the training corpus (doc_id < 480) — the standard
    benchmark-leakage screen an LLM data pipeline runs before training.
    Shape at 100 TB: distinct corpus shingles via hash-groupBy, then one
    shingle equi-join against the (small) eval side — broadcast the eval
    shingles; a bloom filter over corpus shingles is the cheaper screen
    when only the rate matters."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    def doc_shingles(df):
        return df.select(
            "doc_id", TX.tokens("text").alias("toks")
        ).select(
            "doc_id", F.explode_outer(TX.shingles("toks", 3)).alias("shingle")
        )
    eval_sh = doc_shingles(docs.filter(F.col("doc_id") >= 480))
    corpus_sh = (
        doc_shingles(docs.filter(F.col("doc_id") < 480))
        .filter(F.col("shingle").isNotNull())
        .select("shingle").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        eval_sh.join(corpus_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("shingle").alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_rate",
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_contaminated") / F.col("n_shingles"),
            ).otherwise(F.lit(0.0)).cast("double"),
        )
        .orderBy("doc_id")
    )


@query("simhash_fingerprint")
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document, oracle-certified since r02 via the
    md5-derived token hash (functions/portable_hash.py) — the DuckDB
    oracle rebuilds every fingerprint bit-for-bit. Identical-doc /
    Hamming-distance behavior remains pytest-asserted."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return DD.simhash64(docs, hash_fn="md5").select(
        F.col("doc").alias("doc_id"), "simhash"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search over `embeddings`.
# ---------------------------------------------------------------------------


@query("similarity_topk")
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 50 vectors as queries.
    Bit-exact vs the oracle: both engines reduce the dot product
    sequentially in double."""
    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 50)
    return SIM.cosine_topk_arrow(emb, queries_df, k=5).orderBy("qid", "rnk")


@query("events_tumbling_stream")
def events_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of events_tumbling: watermarked tumbling
    window over a file-source readStream, drained with availableNow into a
    memory sink. Shares the batch oracle — the streaming plan must produce
    byte-identical aggregates."""
    from ..session import shuffle_width
    from ..streaming import events as SE

    ensure_deterministic(spark)
    # width 4 (r09 sweep, A/B-alternating at sf0.1): single-stateful
    # JVM-state drains pay per-partition store commits like the chained
    # query — w32 1.33-1.46 s vs w4 0.79-0.95 s; results identical.
    with shuffle_width(spark, min(4, spark.sparkContext.defaultParallelism)):
        stream = SE.read_events_stream(spark, sf_dir)
        return SE.run_to_memory(SE.tumbling_counts(stream))


@query("events_sessionize_stream")
def events_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap sessionization via the built-in session_window —
    must agree with the batch lag/cumsum sessionizer on session bounds,
    event counts and sums (oracle = batch definition without the seq)."""
    from ..session import shuffle_width
    from ..streaming import events as SE

    ensure_deterministic(spark)
    # width 4 (r09 sweep): w32 1.71-2.0 s vs w4 1.4-1.55 s at sf0.1
    with shuffle_width(spark, min(4, spark.sparkContext.defaultParallelism)):
        stream = SE.read_events_stream(spark, sf_dir)
        sessions = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
            .agg(
                fmt_ts(F.min("ts"), "session_start", micros=True),
                fmt_ts(F.max("ts"), "session_end", micros=True),
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value"), "sum_value"),
            )
            .select(
                "user_id", "session_start", "session_end", "n_events",
                "sum_value",
            )
        )
        return SE.run_to_memory(sessions)


@query("multimodal_decode")
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing demo: deterministic synthetic binary assets →
    Arrow-batched mapInPandas feature extraction (decode stubbed per
    environment constraints; batch shape and schema are real). Full value
    oracle since r03: the fingerprint is sha256-of-hex (see
    operators/multimodal.py:_payload_sha) so DuckDB rebuilds every column
    including the payload digest and fake-decode dimensions."""
    from ..operators import multimodal as MM

    ensure_deterministic(spark)
    return MM.decode_features(MM.synth_assets(spark, 200)).orderBy("asset_id")


@query("multimodal_pixel_stats")
def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL media decode with stdlib only (r05 item 5 + r07 JPEG/AVI):
    asset ids cycle 24bpp BMP (real pixel array) / 8-bit PCM WAV /
    8-bit grayscale PNG (zlib inflate + scanline unfilter) / palette
    GIF (real LZW decompression) / baseline JPEG (huffman entropy
    decode + dequant + IDCT, restart markers included — THREE genuinely
    COMPRESSED formats decoded end-to-end with no media library; the
    JPEG pattern is block-constant so the lossy codec's round trip is
    bit-exact at quant=1, and alternating assets re-encode the SAME
    coefficients as 5-scan progressive SOF2 streams — spectral
    selection + successive approximation, decoded through the T.81
    Annex G path with codec-invariant oracle values) / multi-frame
    uncompressed-DIB AVI (the movi LIST demuxed, every 00db frame's
    BGR rows decoded — video frames now decode for the uncompressed
    codec; compressed codecs remain the
    seam); the engine genuinely decodes bytes → per-channel integer
    sum/min/max (operators/multimodal.py: decode_bmp_pixels /
    decode_wav_samples / decode_png_pixels / decode_gif_pixels /
    decode_jpeg_pixels / decode_avi_frames, Arrow-batched mapInPandas).
    The oracle
    recomputes the same statistics analytically from the generative
    pixel/sample formulas — integer-exact, so the decode path is
    value-certified without any reference media library. Missing
    channels (WAV/gray-PNG are mono) are emitted as -1 sentinels to
    keep every stat column non-null BIGINT for hash stability."""
    from ..operators import multimodal as MM

    ensure_deterministic(spark)
    stats = MM.pixel_stats(MM.synth_pixel_assets(spark, 80))
    neg1 = F.lit(-1).cast("long")
    return stats.select(
        "asset_id", "kind", "n_units",
        "sum_b", "min_b", "max_b",
        F.coalesce("sum_g", neg1).alias("sum_g"),
        F.coalesce("min_g", neg1).alias("min_g"),
        F.coalesce("max_g", neg1).alias("max_g"),
        F.coalesce("sum_r", neg1).alias("sum_r"),
        F.coalesce("min_r", neg1).alias("min_r"),
        F.coalesce("max_r", neg1).alias("max_r"),
    ).orderBy("asset_id")


@query("multimodal_decode_stream")
def multimodal_decode_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multimodal ingestion (r07): the deterministic asset
    table is staged once per session to a tmpfs parquet directory (4
    files), re-read as a FILE STREAM paced at maxFilesPerTrigger=2 (so
    the drain runs multiple real micro-batches), decoded with the SAME
    Arrow-batched mapInPandas feature extractor inside Structured
    Streaming (a stateless streaming transform — binary payloads never
    leave executors), and drained with availableNow into a memory sink
    (streaming/events.run_to_memory). The oracle is byte-identical to
    multimodal_decode's: a drained stateless stream must equal the
    batch run row-for-row — certifying the 100 TB multimodal ingest
    shape (readStream → decode → sink) end to end."""
    import atexit
    import os
    import shutil
    import tempfile
    import time

    from ..operators import multimodal as MM
    from ..streaming import events as SE

    ensure_deterministic(spark)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    app = spark.sparkContext.applicationId
    path = os.path.join(base, f"dbmig_assets_{app}")
    stamp = os.path.join(path, "_dbmig_stamp")
    if not os.path.exists(stamp):
        # tmpfs is RAM: remove this session's staging dir at interpreter
        # exit, and sweep siblings left by crashed sessions (stamp older
        # than 6 h — a live session re-stages in seconds) (ADVICE r07).
        for sib in os.listdir(base):
            if not sib.startswith("dbmig_assets_") or sib == (
                f"dbmig_assets_{app}"
            ):
                continue
            old = os.path.join(base, sib, "_dbmig_stamp")
            try:
                if (
                    os.path.exists(old)
                    and time.time() - os.path.getmtime(old) > 6 * 3600
                ):
                    shutil.rmtree(os.path.join(base, sib), True)
            except OSError:
                pass
        MM.synth_assets(spark, 200).repartition(4).write.mode(
            "overwrite"
        ).parquet(path)
        with open(stamp, "w") as fh:
            fh.write("ok\n")
        atexit.register(shutil.rmtree, path, True)
    stream = (
        spark.readStream.schema(MM.ASSET_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    return SE.run_to_memory(
        MM.decode_features(stream), output_mode="append"
    ).orderBy("asset_id")


@query("video_frame_stats")
def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling with REAL pixel decode (r07): 40 synthetic
    multi-frame AVIs alternating codecs — even assets uncompressed-DIB
    (00db, bottom-up BGR rows), odd assets Motion-JPEG (00dc, every
    frame a genuine baseline JPEG decoded through the full huffman+IDCT
    path: a COMPRESSED video codec end to end) → demux each movi LIST,
    decode every 2nd frame, one row per (asset, sampled frame) with
    integer per-channel sum/min/max; grayscale MJPEG rides the
    positional b channel with -1 g/r sentinels
    (operators/multimodal.py: synth_video_assets / avi_frame_stats,
    Arrow-batched mapInPandas — the decoded-pixels upgrade of the
    frame_sample byte-offset plumbing). The oracle recomputes the same
    statistics analytically from the avi_pixel / mjpeg_pixel generative
    formulas (the MJPEG pattern is block-constant, so the lossy codec
    round-trips bit-exactly at quant=1) — both codec paths
    value-certified without ffmpeg."""
    from ..operators import multimodal as MM

    ensure_deterministic(spark)
    return MM.avi_frame_stats(
        MM.synth_video_assets(spark, 40), every_n=2
    ).orderBy("asset_id", "frame_idx")


@query("dedup_embedding")
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.4), scale-gated per
    VERDICT.md r01: candidates come from LSH sign-bucket equi-joins
    (multi-probe), exact cosine runs only on candidate pairs. Since r03
    the hyperplanes are md5-derived literals (portable_hash.lsh_component)
    so the DuckDB oracle rebuilds the identical buckets and candidate set
    — query and oracle are structurally identical, not recall-dependent
    (ADVICE r02). Exact recall vs the all-pairs kernel remains
    pytest-asserted at every fixture SF."""
    ensure_deterministic(spark)
    return _emb_pairs_shared(spark, sf_dir).orderBy("id_a", "id_b")


@query("similarity_ivf")
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (rows-only): corpus bucketed into centroid
    cells (deterministic seeding: the first 16 vectors), queries probe
    their 2 nearest cells. Recall vs brute force is pytest-asserted."""
    import numpy as np

    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    centroid_rows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    centroids = np.array([r.embedding for r in centroid_rows], dtype=np.float64)
    queries_df = emb.filter(F.col("vec_id") < 50)
    return SIM.ivf_topk(emb, queries_df, centroids, k=5, nprobe=2).orderBy(
        "qid", "rnk"
    )


@query("similarity_ann_lsh")
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-5, oracle-certified since r02: the
    hyperplane components are md5-derived literals
    (portable_hash.lsh_component) baked identically into the Spark
    expression and the DuckDB oracle, so bucketing, probing, and in-bucket
    ranking all hash-match. Recall vs brute force stays pytest-asserted."""
    from ..functions.portable_hash import lsh_component

    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 50)
    return SIM.ann_lsh_topk(
        emb, queries_df, k=5, num_bits=8, num_probes=1,
        components=lsh_component,
    ).orderBy("qid", "rnk")


@query("similarity_incremental")
def similarity_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion similarity: the newest vectors (vec_id >= 400)
    retrieve their top-5 neighbors from the already-indexed corpus
    (vec_id < 400, plus a mirror of the new batch at +1e6 so every new
    vector has a guaranteed exact hit). Same LSH sign-bucket machinery as
    similarity_ann_lsh with md5-literal hyperplanes, so the full pipeline
    hash-matches the oracle. The batch-vs-index shape means per-batch
    cost scales with the batch, not the corpus — the ANN twin of
    dedup_incremental."""
    from ..functions.portable_hash import lsh_component

    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    new = emb.filter(F.col("vec_id") >= 400)
    index = emb.filter(F.col("vec_id") < 400).unionByName(
        new.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    )
    return SIM.ann_lsh_topk(
        index, new, k=5, num_bits=8, num_probes=1, components=lsh_component
    ).orderBy("qid", "rnk")


# ---------------------------------------------------------------------------
# Temporal joins, distribution statistics, graph clustering (round 2).
# ---------------------------------------------------------------------------


@query("events_asof_purchase")
def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join inside the event stream: every non-purchase event is
    joined to the same user's most recent purchase at-or-before it
    (inclusive boundary; ties to the highest purchase event_id).

    Union+window formulation (operators/joins.py): one shuffle on
    user_id, no range-predicate explosion — generalizes the reference's
    "latest ledger row before a point" semantics
    (internal/executor/rollback_helpers.go:12-19) to temporal data.
    """
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    others = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    joined = JN.asof_join(
        others,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="purchase_ts",
        payload_cols=["purchase_id", "purchase_ts", "purchase_value"],
        left_seq="event_id",
        right_seq="purchase_id",
    )
    return (
        joined.filter(F.col("asof").isNotNull())
        .select(
            "event_id",
            "user_id",
            fmt_ts(F.col("ts"), "ts", micros=True),
            "event_type",
            "value",
            F.col("asof.purchase_id").alias("purchase_id"),
            fmt_ts(F.col("asof.purchase_ts"), "purchase_ts", micros=True),
            F.col("asof.purchase_value").alias("purchase_value"),
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.col("asof.purchase_ts"))
            ).alias("gap_us"),
        )
        .orderBy("event_id")
    )


@query("events_copair_60s")
def events_copair_60s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range self-join: ordered same-user event pairs at most 60 s
    apart. The interval predicate is decomposed into a two-bucket
    equi-join (operators/joins.py banded_pairs) so the shuffle keys on
    (user_id, minute-bucket) instead of exploding per-user cross
    products."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    pairs = JN.banded_pairs(
        ev, key="user_id", ts="ts", band_us=60_000_000,
        carry=["event_id", "event_type"],
    )
    return pairs.select(
        "user_id",
        F.col("a_event_id").alias("a_id"),
        F.col("b_event_id").alias("b_id"),
        F.col("a_event_type").alias("a_type"),
        F.col("b_event_type").alias("b_type"),
        "gap_us",
    ).orderBy("a_id", "b_id")


@query("price_band_join")
def price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-dimension join: parts binned into fixed price bands via a
    broadcast non-equi join (BroadcastNestedLoopJoin against a 10-row
    inline dimension), then per-band rollup."""
    ensure_deterministic(spark)
    part = read_table(spark, sf_dir, "part")
    bands = spark.sql(
        f"SELECT band_id, lo, hi FROM (VALUES\n    {fixtures.price_bands_values()})"
        " AS t(band_id, lo, hi)"
    )
    return (
        JN.interval_dim_join(part, bands, value_col="p_retailprice")
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            davg(F.col("p_retailprice"), "avg_price"),
            dsum(F.col("p_retailprice"), "sum_price"),
        )
        .orderBy("band_id")
    )


@query("supplier_stats")
def supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier variance / stddev / correlation computed from EXACT
    decimal power sums (n, Σx, Σx², Σy, Σy², Σxy), derived in double at
    the very end with the identical IEEE expression tree as the oracle —
    order-independent, bit-identical across engines. Built-in
    var_samp/corr reduce in shuffle order and cannot hash-match."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    q = "CAST(l_quantity AS DECIMAL(18,2))"
    p = "CAST(l_extendedprice AS DECIMAL(18,2))"
    sums = (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(q)).alias("_sq"),
            F.sum(F.expr(f"{q} * {q}")).alias("_sqq"),
            F.sum(F.expr(p)).alias("_sp"),
            F.sum(F.expr(f"{p} * {p}")).alias("_spp"),
            F.sum(F.expr(f"{q} * {p}")).alias("_spq"),
        )
        .filter(F.col("n") > 1)
        .select(
            "l_suppkey",
            "n",
            F.col("n").cast("double").alias("nd"),
            F.col("_sq").cast("double").alias("sq"),
            F.col("_sqq").cast("double").alias("sqq"),
            F.col("_sp").cast("double").alias("sp"),
            F.col("_spp").cast("double").alias("spp"),
            F.col("_spq").cast("double").alias("spq"),
        )
    )
    return sums.select(
        "l_suppkey",
        "n",
        F.expr("(nd * sqq - sq * sq) / (nd * (nd - 1))").alias("var_qty"),
        F.expr("sqrt((nd * sqq - sq * sq) / (nd * (nd - 1)))").alias("std_qty"),
        F.expr(
            "(nd * spq - sq * sp)"
            " / (sqrt(nd * sqq - sq * sq) * sqrt(nd * spp - sp * sp))"
        ).alias("corr_qty_price"),
    ).orderBy("l_suppkey")


@query("order_price_quartiles")
def order_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quartiles via rank arithmetic — no engine
    percentile interpolation (Spark and DuckDB disagree on continuous
    quantile FP evaluation). q1/q3 are lower discrete quantiles (actual
    row values); the median averages the two middle rows (one IEEE
    addition + halving, identical both engines).

    Scale shape (r04 verdict item 2): `o_orderpriority` has only 5
    distinct values, so `Window.partitionBy(priority)` would funnel
    ~20% of the fact table through ONE task's sort at 100×. The
    per-class row_number instead comes from the two-pass bucketed rank
    (operators/ranks.py) — every window is partitioned by (class,
    price bucket) — and the quartile row indices are computed
    driver-side from the tiny per-class totals, exactly as
    `price_percentiles_cont` does for the same key."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    # r11 (verdict item 7's program applied family-wide): only the ≤4
    # quartile rows per class are ever consumed, so the rank pass prunes
    # to the buckets holding them (ranks.select_at_ranks) — the window
    # sorts ~targets/buckets of the table instead of all of it. Selected
    # rows and rank arithmetic are unchanged.
    sel, totals = RK.select_at_ranks(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        "o_totalprice",
        ["o_orderkey"],
        lambda tot: {
            g: [(n + 3) // 4, (n + 1) // 2, (n + 2) // 2, (3 * n + 3) // 4]
            for g, n in tot.items()
        },
        partition_cols=["o_orderpriority"],
    )
    if not totals:  # empty input: VALUES () is invalid SQL (r05 advice)
        return spark.createDataFrame(
            [],
            "o_orderpriority string, n_orders bigint, q1_price double,"
            " median_price double, q3_price double",
        )
    probes = [
        (
            pri,
            n,
            (n + 3) // 4,
            (n + 1) // 2,
            (n + 2) // 2,
            (3 * n + 3) // 4,
        )
        for (pri,), n in totals.items()
    ]
    probe_df = RK.values_df(
        spark, probes,
        ["o_orderpriority", "n_orders", "q1_rn", "m1_rn", "m2_rn", "q3_rn"],
    )
    hit = (
        sel.select("o_orderpriority", "rn", "o_totalprice")
        .join(F.broadcast(probe_df), "o_orderpriority")
        .filter(
            (F.col("rn") == F.col("q1_rn"))
            | (F.col("rn") == F.col("m1_rn"))
            | (F.col("rn") == F.col("m2_rn"))
            | (F.col("rn") == F.col("q3_rn"))
        )
    )
    pick = lambda c: F.max(  # noqa: E731 — exactly one row matches
        F.when(F.col("rn") == F.col(c), F.col("o_totalprice"))
    )
    return (
        hit.groupBy("o_orderpriority", "n_orders")
        .agg(
            pick("q1_rn").alias("q1_price"),
            ((pick("m1_rn") + pick("m2_rn")) / 2).alias("median_price"),
            pick("q3_rn").alias("q3_price"),
        )
        .select(
            "o_orderpriority",
            F.col("n_orders").cast("long").alias("n_orders"),
            "q1_price",
            "median_price",
            "q3_price",
        )
        .orderBy("o_orderpriority")
    )


@query("events_hopping")
def events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: 10-minute width, 5-minute slide — every
    event lands in exactly two epoch-aligned windows. Batch twin of
    `window(ts, '10 minutes', '5 minutes')` streaming aggregation."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        .select(
            fmt_ts(F.col("w.start"), "win_start"),
            fmt_ts(F.col("w.end"), "win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


# The near-dup pair graph and its cluster labels are materialized once
# per (Spark application, sf_dir) and shared by dedup_clusters /
# dedup_clusters_star / cluster_representatives — the production shape:
# a pipeline builds the candidate-pair table once and every downstream
# clustering/representative job consumes it (VERDICT r02 item 7). The
# cached frames stay persisted for the session's lifetime by design
# (tiny: pairs and one (doc, label) row per doc).
_DEDUP_GRAPH_CACHE: dict = {}


def _ngram_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = ("pairs", spark.sparkContext.applicationId, sf_dir)
    df = _DEDUP_GRAPH_CACHE.get(key)
    if df is None:
        docs = read_table(spark, sf_dir, "documents")
        df = (
            DD.ngram_jaccard_pairs(docs, threshold=0.1, max_df=50)
            .select("doc_a", "doc_b")
            .persist()
        )
        df.count()
        _DEDUP_GRAPH_CACHE[key] = df
    return df


def _ngram_pairs_t0_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, common, u) capped-shingle EXACT pairs at threshold
    0 — the truth side both MinHash calibration queries roll up
    (jaccard_est_error calibrates the estimator, minhash_band_scurve the
    candidate recall; both join this same frame against the same banded
    candidate set). r10 optimization round: materialized once per
    (application, sf_dir) on the `_ngram_pairs_shared` contract — the
    threshold-0 self-join is the dominant marginal cost of both queries
    (~2 s each at sf0.1) and is an INTERMEDIATE both derive from, never
    a query result."""
    key = ("pairs_t0", spark.sparkContext.applicationId, sf_dir)
    df = _DEDUP_GRAPH_CACHE.get(key)
    if df is None:
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        df = (
            DD.ngram_jaccard_pairs(docs, threshold=0.0, keep_sizes=True)
            .select(
                "doc_a", "doc_b", "common",
                (F.col("n_a") + F.col("n_b") - F.col("common")).alias("u"),
            )
            .persist()
        )
        df.count()
        _DEDUP_GRAPH_CACHE[key] = df
    return df


def _mh_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) banded md5-MinHash candidate pairs
    over the plain corpus — the candidate side of both calibration
    queries, materialized once per (application, sf_dir) like the truth
    side above."""
    key = ("mh_pairs", spark.sparkContext.applicationId, sf_dir)
    df = _DEDUP_GRAPH_CACHE.get(key)
    if df is None:
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        df = DD.minhash_lsh_pairs(docs, hash_fn="md5").persist()
        df.count()
        _DEDUP_GRAPH_CACHE[key] = df
    return df


def _emb_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, cos) embedding near-dup pairs (threshold 0.4,
    md5-literal hyperplanes) — computed once per (application, sf_dir)
    and shared by dedup_embedding / dedup_consensus, the same
    materialize-once contract as the n-gram pair graph.

    num_bits is chosen from the input count at plan time
    (`adaptive_lsh_bits`: bits ≈ log2(5N/160), floor 6) — the r07 ×30
    octave proved a pinned 64-bucket grid saturates (16.9 B in-bucket
    scored pairs); the adaptive knob holds E[bucket] ≈ 160 so in-bucket
    work stays ∝ N. The oracle mirrors the same formula from the same
    count (plans/oracles.py `adaptive_oracle_overrides`), so query and
    oracle enumerate identical candidate sets at every scale. The
    count() is a bounded driver action (one long; parquet metadata
    scan) and is amortized by the shared-materialization contract."""
    from ..functions.portable_hash import lsh_component

    key = ("emb_pairs", spark.sparkContext.applicationId, sf_dir)
    df = _DEDUP_GRAPH_CACHE.get(key)
    if df is None:
        emb = read_table(spark, sf_dir, "embeddings")
        bits = SIM.adaptive_lsh_bits(emb.count())
        df = SIM.lsh_near_dup_pairs(
            emb, threshold=0.4, num_bits=bits, components=lsh_component
        ).persist()
        df.count()
        _DEDUP_GRAPH_CACHE[key] = df
    return df


def _dedup_labels_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) via min-label propagation over the shared
    pair graph; singletons label themselves."""
    key = ("labels", spark.sparkContext.applicationId, sf_dir)
    df = _DEDUP_GRAPH_CACHE.get(key)
    if df is None:
        docs = read_table(spark, sf_dir, "documents")
        pairs = _ngram_pairs_shared(spark, sf_dir)
        # Iterate ONLY over pair-participating nodes: at corpus scale the
        # candidate subgraph is a small fraction of all docs, and
        # shuffling every doc's label per propagation round would
        # dominate. Singletons join once, via one anti-join, after
        # convergence.
        pair_nodes = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        labels = GR.connected_components(
            pairs, src="doc_a", dst="doc_b",
            nodes=pair_nodes, node_col="doc_id",
            dedupe_edges=False,  # pairs come from a groupBy — already unique
            # the pair subgraph is a sliver of the corpus; size the
            # per-round shuffles to it, not the session default
            shuffle_partitions=min(
                16, spark.sparkContext.defaultParallelism
            ),
        )
        singletons = (
            docs.select("doc_id")
            .join(labels, docs["doc_id"] == labels["node"], "left_anti")
            .select(
                F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
            )
        )
        df = (
            labels.unionByName(singletons)
            .select(
                F.col("node").alias("doc_id"),
                F.col("label").alias("cluster_id"),
            )
            .persist()
        )
        df.count()
        _DEDUP_GRAPH_CACHE[key] = df
    return df


@query("session_paths")
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey PATHS: sessionize (the exact 30-min-gap lag/
    cumsum machinery of events_sessionize), assemble each session's
    ordered event-type sequence (deterministically: sort structs of
    (ts, event_id, type) inside the array — collect_list alone is
    partitioning-order-dependent and never hashable), truncate to the
    first 5 steps, and rank the 20 most common journeys — the
    product-analytics "what do users actually do" read that bigram
    transition matrices (event_transitions) cannot express. One user
    shuffle reused by both window functions, one path groupBy."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(order_w)
    )
    new_session = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    session_seq = F.sum(new_session).over(
        order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    steps = (
        ev.withColumn("session_seq", session_seq)
        .groupBy("user_id", "session_seq")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("us"),
                        F.col("event_id").alias("eid"),
                        F.col("event_type").alias("et"),
                    )
                )
            ).alias("seq"),
        )
    )
    paths = steps.select(
        F.concat_ws(
            ">",
            F.slice(F.transform(F.col("seq"), lambda s: s["et"]), 1, 5),
        ).alias("path"),
        (F.size("seq") > 5).cast("int").alias("truncated"),
    )
    return (
        paths.groupBy("path", "truncated")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path", "truncated")
        .limit(20)
    )


@query("events_streak_lengths")
def events_streak_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity STREAK per user, rolled into the
    engagement distribution (how many users peak at an L-day streak) —
    the retention metric behind DAU-quality dashboards, and the
    day-grain gaps-and-islands: distinct user-days → island key =
    day_number − row_number (consecutive days share it; both are
    integers, no date arithmetic ambiguity) → streak lengths → per-user
    max → distribution. Every window is user-partitioned; the final
    rollup is a ≤tens-of-groups aggregate."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct().withColumn("dn", F.datediff("d", F.lit("1970-01-01")))
    w = Window.partitionBy("user_id").orderBy("dn")
    islands = days.withColumn(
        "island", F.col("dn") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    per_user = streaks.groupBy("user_id").agg(
        F.max("len").cast("int").alias("max_streak")
    )
    return (
        per_user.groupBy("max_streak")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("max_streak")
    )


@query("order_backlog_monthly")
def order_backlog_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order BACKLOG reconstruction — cumulative state derived
    from two event streams, the event-sourcing read every ops dashboard
    needs: an order opens in its placement month and closes in the
    month of its LAST line-item shipment; backlog at month m is
    cumulative placements minus cumulative closures on the gap-filled
    month spine (months with no activity still carry the running
    state). The heavy work is two fact-grain hash aggregations (orders,
    and a per-order max-shipdate reduction over lineitem); the running
    sums are a lag-style window over the ~tens of MONTH rows — the
    accepted report-grain global window (monthly_revenue_growth
    precedent), never a fact-partition one."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    placed = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.count(F.lit(1)).alias("n_placed"))
    closed = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.max("l_shipdate").alias("last_ship"))
        .groupBy(F.date_format("last_ship", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    bounds = orders.crossJoin(
        li.agg(F.max("l_shipdate").alias("max_ship"))
    ).agg(
        F.date_trunc("MONTH", F.min("o_orderdate")).alias("d0"),
        F.date_trunc("MONTH", F.greatest(
            F.max("o_orderdate"), F.max("max_ship")
        )).alias("d1"),
    )
    spine = bounds.select(
        F.explode(
            F.expr("sequence(d0, d1, interval 1 month)")
        ).alias("m")
    ).select(F.date_format("m", "yyyy-MM").alias("month"))
    filled = (
        spine.join(placed, "month", "left")
        .join(closed, "month", "left")
        .select(
            "month",
            F.coalesce("n_placed", F.lit(0)).cast("long").alias("n_placed"),
            F.coalesce("n_closed", F.lit(0)).cast("long").alias("n_closed"),
        )
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        filled.select(
            "month",
            "n_placed",
            "n_closed",
            F.sum("n_placed").over(w).alias("cum_placed"),
            F.sum("n_closed").over(w).alias("cum_closed"),
            (F.sum("n_placed").over(w) - F.sum("n_closed").over(w)).alias(
                "backlog"
            ),
        )
        .orderBy("month")
    )


@query("customer_rfm")
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse scoring grid:
    per customer, Recency (days since last order vs. the corpus max
    date), Frequency (order count), Monetary (exact-decimal spend),
    each scored into exact NTILE(5) quintiles via the two-pass bucketed
    rank machinery (with_global_ranks + ntile_from_rn — NO unpartitioned
    window; three rank passes = six bounded O(buckets) driver actions,
    the documented mad_outliers-style deviation). R scores invert
    (5 = most recent); rfm_cell packs the three digits. Ties break on
    customer key so both engines order identically."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    ref = orders.agg(F.to_date(F.max("o_orderdate")).alias("maxd"))
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.to_date(F.max("o_orderdate")).alias("last_d"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("maxd", "last_d").cast("int").alias("recency_days"),
            "n_orders",
            "monetary",
        )
        # r10 optimization round: materialize the per-customer aggregate
        # once and truncate lineage between the three rank passes. Each
        # pass runs two driver actions (approxQuantile + bucket counts),
        # and without the checkpoints pass 3's actions re-planned and
        # re-ran passes 1-2's windows plus the orders scan+groupBy every
        # time (measured: 48 jobs / 3.3 s of build). The checkpointed
        # frame is customer-cardinality — the small side of this query
        # at any scale — and each pass now plans against a flat
        # LogicalRDD: 48 → ~12 jobs.
        .localCheckpoint(eager=True)
    )
    # r11 (the job-count program, continued): the three rank passes ran
    # 2 driver actions EACH (per-column approxQuantile + per-column
    # bucket counts) plus an eager checkpoint per pass — 8 actions
    # before the final collect. The three columns are independent, so
    # the passes fuse: ONE multi-column approxQuantile action, ONE
    # bucket-count job (a 3-way union over the checkpointed aggregate),
    # and all three bucket-partitioned rank windows in the SAME final
    # plan — no intermediate checkpoints. Per-column rn values are
    # unchanged: identical boundaries/bucket expressions, identical
    # (value, o_custkey) window order, offsets joined per column.
    rank_cols = [
        ("recency_days", "rn_r"),
        ("n_orders", "rn_f"),
        ("monetary", "rn_m"),
    ]
    qs = [i / 32 for i in range(1, 32)]
    bnds = cust.approxQuantile([c for c, _ in rank_cols], qs, 0.02)
    scored = cust
    for (col, rn_name), b in zip(rank_cols, bnds):
        scored = scored.withColumn(
            f"_bkt_{rn_name}", RK._bucket_expr(F.col(col), b, True)
        )
    cnt_parts = [
        scored.groupBy(
            F.lit(rn_name).alias("_rc"), F.col(f"_bkt_{rn_name}").alias("_bkt")
        ).agg(F.count(F.lit(1)).alias("_n"))
        for _, rn_name in rank_cols
    ]
    cnt_union = cnt_parts[0]
    for p in cnt_parts[1:]:
        cnt_union = cnt_union.unionByName(p)
    counts = cnt_union.collect()
    tiles = {}
    if counts:
        per_col: dict = {}
        for row in sorted(counts, key=lambda r: (r["_rc"], r["_bkt"])):
            per_col.setdefault(row["_rc"], []).append((row["_bkt"], row["_n"]))
        for _, rn_name in rank_cols:
            acc = 0
            offs = []
            for bkt, n in per_col.get(rn_name, []):
                offs.append((bkt, acc))
                acc += n
            tiles[rn_name] = acc
            off_df = RK.values_df(
                spark, offs, ["_bkt", f"_off_{rn_name}"]
            ).withColumnRenamed("_bkt", f"_bkt_{rn_name}")
            col = dict((r, c) for c, r in rank_cols)[rn_name]
            w = Window.partitionBy(f"_bkt_{rn_name}").orderBy(
                F.col(col).asc(), F.col("o_custkey").asc()
            )
            scored = scored.join(
                F.broadcast(off_df), f"_bkt_{rn_name}"
            ).withColumn(
                rn_name, F.col(f"_off_{rn_name}") + F.row_number().over(w)
            )
    else:  # empty input: vacuous ranks, zero rows out (pre-r11 behavior)
        for _, rn_name in rank_cols:
            scored = scored.withColumn(rn_name, F.lit(None).cast("int"))
            tiles[rn_name] = 0
    r_tile = RK.ntile_from_rn(F.col("rn_r"), tiles["rn_r"], 5)
    f_tile = RK.ntile_from_rn(F.col("rn_f"), tiles["rn_f"], 5)
    m_tile = RK.ntile_from_rn(F.col("rn_m"), tiles["rn_m"], 5)
    return scored.select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "monetary",
        (F.lit(6) - r_tile).cast("int").alias("r_score"),
        f_tile.cast("int").alias("f_score"),
        m_tile.cast("int").alias("m_score"),
        ((F.lit(6) - r_tile) * 100 + f_tile * 10 + m_tile)
        .cast("int")
        .alias("rfm_cell"),
    ).orderBy("o_custkey")


@query("events_twa")
def events_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average of the event value per (user, day) — the
    billing/sensor aggregate where each reading holds until the next
    one, so a value's weight is its holding time, not its row count
    (a plain AVG over-weights bursts). Weights are whole seconds from
    integer microsecond arithmetic (identical floor division in both
    engines); value×weight products stay in exact DECIMAL
    ((28,10)×(6,0) → (35,10), inside both engines' 38-digit ceiling
    because a day span caps the weight at 86,400); the final division
    is one IEEE op. The last reading of a day carries no weight (its
    holding time is unobserved) and single-event days emit NULL — both
    branches deterministic. One window + one groupBy, partitioned by
    (user, day): no global ordering anywhere."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    rows = (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("us", F.unix_micros("ts"))
        .withColumn("next_us", F.lead("us").over(w))
        .withColumn(
            "wgt_sec",
            F.expr("(next_us - us) div 1000000").cast("decimal(6,0)"),
        )
    )
    return (
        rows.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("wgt_sec").cast("long")).alias("span_sec"),
            F.sum(
                F.col("value").cast("decimal(28,10)") * F.col("wgt_sec")
            ).alias("_num"),
        )
        .select(
            "user_id",
            "day",
            "n_events",
            F.coalesce("span_sec", F.lit(0)).alias("span_sec"),
            F.when(
                F.col("span_sec") > 0,
                F.col("_num").cast("double")
                / F.col("span_sec").cast("double"),
            ).alias("twa"),
        )
        .orderBy("user_id", "day")
    )


@query("graph_bfs_hops")
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-hop BFS over the near-dup pair graph — the frontier
    -expansion primitive the graph family was missing next to connected
    components (global), PageRank (stationary), and triangles (local):
    from the 5 lowest-id docs that participate in any edge, expand 3
    hops and report each reached doc's minimum distance. Per hop: one
    frontier⋈edges equi-join + a distinct — the textbook distributed
    BFS round, cost proportional to the expanded frontier, never the
    whole graph. Edges are the session-shared certified Jaccard pairs
    (both directions); the oracle unrolls the same 3 bounded
    expansions, so no recursion is needed on either engine."""
    from ..session import shuffle_width

    ensure_deterministic(spark)
    pairs = _ngram_pairs_shared(spark, sf_dir)
    # the frontier is a sliver of the corpus: size the per-hop shuffles
    # to it (and pin the result eagerly inside the context — Spark is
    # lazy, so without the checkpoint the narrowed width would be gone
    # by the time the driver collects), same discipline as the CC and
    # PageRank loops
    with shuffle_width(spark, min(16, spark.sparkContext.defaultParallelism)):
        edges = (
            pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
            .unionByName(
                pairs.select(
                    F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
                )
            )
        )
        seeds = (
            edges.select(F.col("a").alias("node")).distinct()
            .orderBy("node").limit(5)
            # hop 1 and the dist-0 union branch both read the seeds
            .localCheckpoint(eager=False)
        )
        frontiers = [seeds.select("node", F.lit(0).alias("dist"))]
        frontier = seeds
        for hop in (1, 2, 3):
            # r11: each frontier is consumed TWICE (its union branch +
            # the next hop's expansion) and the union shares no common
            # subexpressions, so hop h re-ran hops 1..h-1 — 654 tasks
            # for a 3-hop expansion. A LAZY localCheckpoint per hop (the
            # ivf_probe_curve precedent) computes each frontier once and
            # keeps the per-hop stages concurrent inside the final
            # materialization.
            frontier = (
                frontier.join(edges, frontier["node"] == edges["a"])
                .select(F.col("b").alias("node"))
                .distinct()
                .localCheckpoint(eager=False)
            )
            frontiers.append(frontier.select("node", F.lit(hop).alias("dist")))
        allhops = frontiers[0]
        for fr in frontiers[1:]:
            allhops = allhops.unionByName(fr)
        result = (
            allhops.groupBy(F.col("node").alias("doc_id"))
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return result.orderBy("doc_id")


@query("dedup_clusters")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation: connected components over the 3-gram
    Jaccard pair graph (same pairs as `ngram_jaccard_pairs`). cluster_id
    is the min doc_id of the component — the canonical keep-one
    representative of corpus dedup; singletons cluster with themselves.
    Pair graph + labels come from the session-shared materialization
    (see _DEDUP_GRAPH_CACHE)."""
    ensure_deterministic(spark)
    return (
        _dedup_labels_shared(spark, sf_dir)
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .orderBy("doc_id")
    )


@query("top_terms")
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 terms by document frequency (stopwords of every
    language excluded; ties break lexicographically). Integer counts +
    window rank only — fully deterministic, no log/idf floats."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    stops = [w for words in TX.STOPWORDS.values() for w in words]
    tok = (
        docs.select(
            "source",
            F.explode(F.array_distinct(TX.tokens("text"))).alias("token"),
        )
        .filter(~F.col("token").isin(stops))
    )
    # Two-phase top-k (r04 verdict item 3): a per-source window over the
    # full (source, token) frame holds vocab-size rows in ONE task at
    # corpus scale. Instead each shuffle partition keeps its local top-5
    # per source (any global top-5 term is in its partition's local
    # top-5 under the same total order), then only ≤5×P candidate rows
    # per source merge. Sort key struct(-df, token) makes sort_array's
    # ascending order exactly (df DESC, token ASC); correctness never
    # depends on which partition a token hashes to.
    counts = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("df")
    )
    key = F.struct((-F.col("df")).alias("negdf"), F.col("token").alias("token"))
    local = (
        counts.withColumn("_pid", F.spark_partition_id())
        .groupBy("source", "_pid")
        .agg(F.slice(F.sort_array(F.collect_list(key)), 1, 5).alias("top"))
    )
    merged = (
        local.select("source", F.explode("top").alias("t"))
        .groupBy("source")
        .agg(F.slice(F.sort_array(F.collect_list("t")), 1, 5).alias("top"))
    )
    return (
        merged.select("source", F.posexplode("top").alias("pos", "t"))
        .select(
            "source",
            F.col("t.token").alias("token"),
            (-F.col("t.negdf")).alias("df"),
            (F.col("pos") + 1).cast("int").alias("rnk"),
        )
        .orderBy("source", "rnk")
    )


@query("events_hopping_stream")
def events_hopping_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of events_hopping: watermarked
    10-min/5-min hopping windows drained with availableNow. Shares the
    batch oracle — the sliding windows must align and sum identically."""
    from ..session import shuffle_width
    from ..streaming import events as SE

    ensure_deterministic(spark)
    # width 4 (r09 sweep): w32 1.45-1.82 s vs w4 1.06-1.41 s at sf0.1
    with shuffle_width(spark, min(4, spark.sparkContext.defaultParallelism)):
        stream = SE.read_events_stream(spark, sf_dir)
        return SE.run_to_memory(SE.hopping_counts(stream))


@query("events_copair_stream")
def events_copair_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of events_copair_60s: stream-stream
    self-join under a time-range condition with watermarked state expiry
    (append mode). Shares the batch range-join oracle.

    The join keeps TWO keyed state stores whose instance count equals
    the shuffle partition count — a per-micro-batch fixed cost (store
    open/commit per partition) that dwarfs the data volume here and that
    AQE never coalesces (state partitioning is pinned at query start).
    The query therefore runs at a narrow, state-sized shuffle width
    (r03, VERDICT item 8); on a real cluster this is the standard
    state-store sizing decision, made from key cardinality."""
    from ..session import shuffle_width
    from ..streaming import events as SE

    ensure_deterministic(spark)
    # width sweep at sf0.1: 32→9.7s, 16→4.6s, 8→3.7s, 4→3.8s
    with shuffle_width(spark, min(8, spark.sparkContext.defaultParallelism)):
        stream = SE.read_events_stream(spark, sf_dir)
        return SE.run_to_memory(
            SE.interval_join_pairs(stream), output_mode="append"
        )


# ---------------------------------------------------------------------------
# Relational wave 2: cube, correlated subquery, full outer, multiset set ops.
# ---------------------------------------------------------------------------


@query("cube_status_priority")
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with grouping_id — all four grouping
    sets in one two-phase aggregation pass."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "sum_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price")
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


@query("orders_above_cust_avg")
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery shape (TPC-H Q17 flavor): orders priced
    above 1.5× their customer's average. Expressed as the decorrelated
    plan Catalyst would produce anyway — aggregate once per customer,
    join back (one shuffle each) — while the oracle keeps the correlated
    SQL form."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    cust_avg = orders.groupBy("o_custkey").agg(
        davg(F.col("o_totalprice"), "cust_avg")
    )
    return (
        orders.join(cust_avg, "o_custkey")
        .filter(F.expr("o_totalprice > 1.5 * cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
        .orderBy("o_orderkey")
    )


@query("nation_balance_fullouter")
def nation_balance_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-nation customer vs supplier rollups —
    nations with customers but no suppliers (and vice versa) survive with
    zeroed counts (COALESCE keeps every output column non-null)."""
    ensure_deterministic(spark)
    cust = (
        read_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("_nc"),
            dsum(F.col("c_acctbal"), "_cb"),
        )
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("_ns"),
            dsum(F.col("s_acctbal"), "_sb"),
        )
    )
    return (
        cust.join(supp, cust["c_nationkey"] == supp["s_nationkey"], "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("_nc", F.lit(0)).alias("n_customers"),
            F.coalesce("_cb", F.lit(0.0)).alias("cust_bal"),
            F.coalesce("_ns", F.lit(0)).alias("n_suppliers"),
            F.coalesce("_sb", F.lit(0.0)).alias("supp_bal"),
        )
        .orderBy("nationkey")
    )


@query("set_ops_multiset")
def set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set algebra: EXCEPT ALL / INTERSECT ALL over per-user
    event occurrences (bag semantics — duplicates carry multiplicity,
    unlike the distinct-set set_ops_users query)."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    exc = clicks.exceptAll(errors).withColumn("op", F.lit("except_all"))
    its = clicks.intersectAll(errors).withColumn("op", F.lit("intersect_all"))
    return exc.unionByName(its).select("op", "user_id").orderBy("op", "user_id")


@query("big_orders_having")
def big_orders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-filter-join-back (TPC-H Q18 shape): orders whose total
    lineitem quantity exceeds 250, with customer attribution. The HAVING
    aggregate runs first so the join only sees qualifying keys."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "o_orderkey",
            "o_custkey",
            "c_name",
            fmt_ts(F.col("o_orderdate"), "o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy("o_orderkey")
    )


@query("promo_revenue_share")
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate ratio (TPC-H Q14 shape): PROMO parts' share
    of discounted revenue. Both sums stay exact decimal; the percentage
    is one shared double expression."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    joined = li.join(part, li["l_partkey"] == part["p_partkey"])
    return (
        joined.agg(
            dsum(
                F.when(F.col("p_type") == "PROMO", F.expr(DISC_PRICE)).otherwise(
                    F.lit(0)
                ),
                "promo_revenue",
            ),
            dsum(F.expr(DISC_PRICE), "total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            F.expr("100.0 * promo_revenue / total_revenue").alias("promo_share"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline primitives: deterministic sampling, splits,
# normalization, funnels.
# ---------------------------------------------------------------------------


@query("deterministic_sample")
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 25% sample: keep docs whose md5(doc_id) starts
    below hex '4'. Unlike rand()-based sampling this is reproducible
    across engines, runs, and partitionings — the property a training
    pipeline needs for auditable corpus subsets."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("h", F.md5(F.col("doc_id").cast("string")))
        .filter(F.substring("h", 1, 1) < "4")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@query("train_val_test_split")
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucketed train/val/test split (~80/10/10) on md5(doc_id)
    prefix ranges — deterministic, stable under corpus growth (a doc's
    split never changes when other docs arrive), and skew-free."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "1a", "test").when(h2 < "34", "val").otherwise("train")
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dsum(F.col("n_chars"), "sum_chars"),
            davg(F.col("n_chars"), "avg_chars"),
        )
        .orderBy("split")
    )


@query("zscore_events")
def zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization: z-score of event value within
    its event_type. Group moments come from exact decimal power sums
    (supplier_stats pattern), broadcast back to the rows; the z
    expression is the identical IEEE tree in both engines."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    v = "CAST(value AS DECIMAL(18,6))"
    moments = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(v)).alias("_s"),
            F.sum(F.expr(f"{v} * {v}")).alias("_ss"),
        )
        .select(
            "event_type",
            F.col("n").cast("double").alias("nd"),
            F.col("_s").cast("double").alias("s"),
            F.col("_ss").cast("double").alias("ss"),
        )
    )
    return (
        ev.join(F.broadcast(moments), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.expr(
                "(value - s / nd)"
                " / sqrt((nd * ss - s * s) / (nd * (nd - 1)))"
            ).alias("zvalue"),
        )
        .orderBy("event_id")
    )


@query("funnel_steps")
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who viewed, then clicked at or
    after their first view, then purchased at or after that first
    qualifying click. Three stage-wise min-aggregations, each joined
    forward — the standard sequential-event funnel."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        views.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(1).alias("stage"), F.lit("viewed").alias("step"), "n"
        )
        .unionByName(
            clicks.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(2).alias("stage"), F.lit("clicked_after_view").alias("step"), "n"
            )
        )
        .unionByName(
            purchases.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit(3).alias("stage"),
                F.lit("purchased_after_click").alias("step"),
                "n",
            )
        )
        .orderBy("stage")
    )


@query("top_supplier_per_part")
def top_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax (TPC-H Q2 flavor): for every part, the supplier
    that shipped the greatest quantity (ties to the lowest suppkey).
    Aggregate once on (part, supplier), then a rank-1 window — no
    correlated re-scan of lineitem."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    per_supp = li.groupBy("l_partkey", "l_suppkey").agg(
        dsum(F.col("l_quantity"), "supplied_qty")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.desc("supplied_qty"), F.asc("l_suppkey")
    )
    return (
        per_supp.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .join(part, F.col("l_partkey") == part["p_partkey"])
        .select(
            "p_partkey",
            "p_brand",
            F.col("l_suppkey").alias("top_suppkey"),
            "supplied_qty",
        )
        .orderBy("p_partkey")
    )


@query("orders_exists_notexists")
def orders_exists_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS combination (TPC-H Q21 flavor): orders with at
    least one deep-discount item and no high-tax item — a left-semi and a
    left-anti join against the same fact table, both on the join key."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    discounted = li.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    taxed = li.filter(F.col("l_tax") > 0.07).select("l_orderkey")
    return (
        orders.join(
            discounted, orders["o_orderkey"] == discounted["l_orderkey"], "left_semi"
        )
        .join(taxed, orders["o_orderkey"] == taxed["l_orderkey"], "left_anti")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query("suppliers_kept_waiting")
def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full TPC-H Q21 semantics on the fixture's columns: suppliers who
    were the SOLE late shipper (l_shipdate past the cutoff) on
    multi-supplier orders — per order, >= 2 distinct suppliers total and
    exactly 1 distinct late supplier; count such orders per supplier,
    top 10 by numwait. The per-order exists/not-exists pair collapses to
    one aggregation (two conditional COUNT DISTINCTs) instead of two
    correlated self-joins — same result, one shuffle on orderkey, then a
    supplier join Catalyst auto-broadcasts at this
    scale (unhinted — supplier grows with SF)."""
    ensure_deterministic(spark)
    cutoff = F.lit("1997-06-30").cast("timestamp")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", (F.col("l_shipdate") > cutoff).alias("late")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    target = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    ).select("l_orderkey")
    late_supp = (
        li.filter("late").select("l_orderkey", "l_suppkey").distinct()
    )
    supplier = read_table(spark, sf_dir, "supplier")
    return (
        target.join(late_supp, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            supplier.select("s_suppkey", "s_name"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query("rich_idle_customers")
def rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + anti-join (TPC-H Q22 shape): customers whose
    balance beats the positive-balance average but who placed no order
    since 1998, rolled up by market segment. The scalar average joins in
    as a broadcast single-row plan — no driver-side collect."""
    ensure_deterministic(spark)
    cust = read_table(spark, sf_dir, "customer")
    recent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal"), "thr")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("thr"))
        .join(recent, cust["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), "total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query("price_deciles")
def price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth binning: orders split into global price deciles
    (deterministic under the totalprice+orderkey total order), then
    per-decile stats — the histogram/binning primitive of feature
    engineering.

    NO unpartitioned window (r03 verdict item 2): the global row_number
    comes from bucket-partitioned two-pass ranking (operators/ranks.py)
    and the exact NTILE tile is computed arithmetically from it — same
    values as ``ntile(10).over(Window.orderBy(...))``, but no task ever
    sorts more than ~1/buckets of the table."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    ranked, n_rows = RK.with_global_ranks(
        orders.select("o_totalprice", "o_orderkey"),
        "o_totalprice",
        ["o_orderkey"],
    )
    return (
        ranked.withColumn(
            "decile", RK.ntile_from_rn(F.col("rn"), n_rows, 10)
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo_price"),
            F.max("o_totalprice").alias("hi_price"),
            davg(F.col("o_totalprice"), "avg_price"),
        )
        .orderBy("decile")
    )


@query("user_value_moving_avg")
def user_value_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling feature: per-user 5-row moving average of event value in
    time order. The frame sum stays exact decimal — engines disagree on
    windowed double accumulation (sliding recompute vs segment trees),
    decimal makes the frame order irrelevant."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "value",
            (
                F.sum(F.col("value").cast(_DEC)).over(w).cast("double")
                / F.count(F.lit(1)).over(w)
            ).alias("moving_avg"),
        )
        .orderBy("event_id")
    )


@query("stratified_sample")
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: each language keeps a
    different md5-bucket fraction (rebalancing a skewed corpus). The
    rate table broadcasts; the keep decision is a pure column predicate
    — no shuffle, reproducible under any partitioning."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    rates = spark.sql(
        "SELECT lang, cut FROM (VALUES"
        " ('en', '20'), ('de', '80'), ('es', '80'), ('fr', '80'),"
        " ('zh', 'c0'), ('unknown', 'ff')) AS t(lang, cut)"
    )
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        docs.join(F.broadcast(rates), "lang", "left")
        .filter(h2 < F.coalesce(F.col("cut"), F.lit("ff")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            dsum(F.col("n_chars"), "sum_chars"),
        )
        .orderBy("lang")
    )


@query("latest_event_per_user")
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax AGGREGATE (max_by/arg_max) — the groupBy-native alternative
    to a rank-1 window when only the winner is needed: one shuffle, no
    sort, partial-aggregable map-side. Deterministic because (user_id,
    ts) is unique in the fixture."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by("event_type", "ts").alias("last_type"),
            F.max_by("event_id", "ts").alias("last_event_id"),
            fmt_ts(F.max("ts"), "last_ts", micros=True),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@query("doc_chunks")
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context chunking with positional lateral explode: every document
    splits into fixed 20-token chunks (the LLM-pipeline segmentation
    step), posexplode keeps the chunk index, then per-index rollup.
    Tokens stage into a column first — Spark re-evaluates shared
    subexpressions inside nested HOFs otherwise."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", TX.tokens("text").alias("toks")).filter(
        F.size("toks") > 0  # empty docs produce no chunks (div/floor-div
        # disagree on -1/20, so the guard is also a cross-engine contract)
    )
    chunks = staged.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, CAST((size(toks) - 1) DIV 20 AS INT)),"
                " i -> size(slice(toks, i * 20 + 1, 20)))"
            )
        ).alias("chunk_idx", "chunk_tokens"),
    )
    return (
        chunks.groupBy("chunk_idx")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.min("chunk_tokens").alias("min_tokens"),
            F.max("chunk_tokens").alias("max_tokens"),
            F.sum(F.col("chunk_tokens").cast("long")).alias("sum_tokens"),
        )
        .orderBy("chunk_idx")
    )


@query("unpivot_balances")
def unpivot_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt: the per-nation customer/supplier balance rollup
    unpivoted into (nationkey, side, balance) rows via DataFrame.unpivot
    — the inverse of events_pivot."""
    ensure_deterministic(spark)
    wide = nation_balance_fullouter(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["nationkey"],
            values=["cust_bal", "supp_bal"],
            variableColumnName="side",
            valueColumnName="balance",
        )
        .orderBy("nationkey", "side")
    )


@query("priority_price_distribution")
def priority_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: percent_rank and cume_dist of each order's
    price within its priority class — rank-ratio doubles (integer
    divisions) are engine-identical, unlike value interpolation.

    The priority key has only 5 distinct values, so a per-class window
    would sort 20% of the fact table in one task at scale (r03 verdict
    item 3). Instead the per-class rank and peer count come from
    bucket-partitioned two-pass ranking (operators/ranks.py — each
    (class, price-bucket) window holds ~N/(5·buckets) rows) and the
    ratios divide by broadcast per-class totals: rank ties share a
    bucket by construction, so rank()/cume_dist peers are exact."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    ranked, totals = RK.with_global_ranks(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        "o_totalprice",
        [],
        partition_cols=["o_orderpriority"],
        rn_col=None,
        rank_col="_rank",
        cume_cnt_col="_cume_cnt",
    )
    if not totals:  # empty input: VALUES () is invalid SQL (r05 advice)
        return spark.createDataFrame(
            [],
            "o_orderpriority string, o_orderkey bigint,"
            " o_totalprice double, pct_rank double, cume double",
        )
    n_class = RK.values_df(
        spark,
        [(g[0], n) for g, n in totals.items()],
        ["o_orderpriority", "_n_class"],
    )
    return (
        ranked.join(F.broadcast(n_class), "o_orderpriority")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("_n_class") > 1,
                (F.col("_rank") - F.lit(1)).cast("double")
                / (F.col("_n_class") - F.lit(1)).cast("double")
            ).otherwise(F.lit(0.0)).alias("pct_rank"),
            (
                F.col("_cume_cnt").cast("double")
                / F.col("_n_class").cast("double")
            ).alias("cume"),
        )
        .orderBy("o_orderkey")
    )


@query("user_event_types")
def user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: collect_set is order-free only
    after array_sort; emitted as a canonical joined string (collect_list
    order would be partitioning-dependent — never hashable)."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
                "types_seen"
            ),
            F.size(F.collect_set("event_type")).alias("n_types"),
        )
        .orderBy("user_id")
    )


@query("sql_revenue_by_nation")
def sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw Spark SQL surface: the same engine serves SQL text over
    registered views (io.register_views) — users are not locked into the
    DataFrame API. Same exact-decimal discipline inside the SQL."""
    ensure_deterministic(spark)
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                   AS total_revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
        """
    )


@query("hourly_event_spine")
def hourly_event_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time spine: every (hour × event_type) slot between the
    stream's bounds, zero-filled where no events landed — the calendar
    densification step reports and ML feature windows need. sequence +
    explode generates the spine inside the plan (no driver loop)."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("HOUR", F.min("ts")).alias("d0"),
        F.date_trunc("HOUR", F.max("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 hour)")).alias("hour")
    ).crossJoin(ev.select("event_type").distinct())
    hourly = ev.groupBy(
        F.date_trunc("HOUR", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        dsum(F.col("value"), "_sv"),
    )
    return (
        spine.join(hourly, ["hour", "event_type"], "left")
        .select(
            fmt_ts(F.col("hour"), "hour"),
            "event_type",
            F.coalesce("_n", F.lit(0)).alias("n_events"),
            F.coalesce("_sv", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


@query("orders_profile")
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column null and distinct counts in ONE
    aggregation pass (12 aggregates, one shuffle), pivoted to rows with
    stack — the schema-quality report an ETL engine runs before load."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    ]
    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in cols:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"_nd_{c}"))
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _total - _nn_{c}, _nd_{c}" for c in cols
    )
    return (
        one.select(
            F.expr(
                f"stack({len(cols)}, {stack_args})"
                " AS (column_name, n_nulls, n_distinct)"
            )
        )
        .orderBy("column_name")
    )


@query("label_centroids")
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long format (label, dim, value) —
    the k-means E-step / class-prototype computation. posexplode to
    (label, dim) cells; each cell's mean reduces SEQUENTIALLY in vec_id
    order (sorted collect + HOF fold), because float inputs are not
    decimal-exact — the decimal trick would hit Spark-HALF_UP vs
    DuckDB-HALF_EVEN rounding. Sequential double addition in a fixed
    order is bit-identical across engines (the cosine-kernel rule)."""
    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).select("vec_id", "label", "dim", F.col("x").cast("double").alias("x"))
    cells = exploded.groupBy("label", "dim").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "x"))).alias("xs")
    )
    return (
        cells.select(
            "label",
            "dim",
            F.size("xs").cast("long").alias("n_vecs"),
            F.expr(
                "aggregate(xs, CAST(0.0 AS DOUBLE), (acc, s) -> acc + s.x)"
                " / size(xs)"
            ).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


@query("user_value_10min_sum")
def user_value_10min_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per event, the user's value sum over the
    trailing 10 minutes (rangeBetween on epoch-µs — a RANGE frame sizes
    by value distance, unlike the ROWS frame of user_value_moving_avg).
    Frame sums stay decimal for engine-order independence."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    staged = ev.select(
        "event_id", "user_id", "value", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return (
        staged.select(
            "event_id",
            "user_id",
            "value",
            F.sum(F.col("value").cast(_DEC)).over(w)
            .cast("double")
            .alias("sum_10min"),
            F.count(F.lit(1)).over(w).cast("long").alias("n_10min"),
        )
        .orderBy("event_id")
    )


@query("approx_events_profile")
def approx_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches as a registry query (rows-only: HLL++ and
    KLL-style quantile sketches are engine-specific by construction;
    pytest asserts the error bounds vs exact answers). These are THE
    100 TB substitutes for exact distinct/quantiles: single-pass,
    map-side-mergeable, bounded memory."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx(
                "value", [0.5, 0.9, 0.99], 10_000
            ).alias("value_quantiles"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "approx_users",
            F.col("value_quantiles")[0].alias("p50"),
            F.col("value_quantiles")[1].alias("p90"),
            F.col("value_quantiles")[2].alias("p99"),
            "n_events",
        )
        .orderBy("event_type")
    )


@query("weighted_sample")
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic sampling: keep each doc with probability
    min(n_chars, 500)/500 — longer docs kept preferentially. The md5
    prefix supplies a reproducible per-doc uniform (6 hex digits =
    1/16⁷ resolution); the threshold is the weight rendered in hex, so
    the comparison stays pure string/int ops on both engines."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    weight = F.least(F.col("n_chars"), F.lit(500)) / F.lit(500.0)
    thr_hex = F.lpad(
        F.lower(F.hex(F.floor(weight * F.lit(16777216.0)).cast("long"))),
        7,
        "0",
    )
    h = F.lpad(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 7, "0"
    )
    return (
        docs.filter(h < thr_hex)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars"),
            davg(F.col("n_chars"), "avg_chars"),
        )
        .orderBy("lang")
    )


@query("profit_by_nation_year")
def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep join tree (TPC-H Q9 shape): lineitem⋈orders fact-fact shuffle
    with nation forced-broadcast and part/supplier joined unhinted
    (size-based broadcast vs shuffle), year extraction, and exact
    decimal profit arithmetic (price·(1-disc) − cost·qty, all decimal —
    no double product ever rounds)."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("a")
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    profit = (
        f"({DISC_PRICE})"
        " - CAST(p_retailprice AS DECIMAL(18,2))"
        " * CAST(0.06 AS DECIMAL(4,2)) * CAST(l_quantity AS DECIMAL(18,2))"
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(F.expr(profit), "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query("market_share_by_year")
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional share-of-total per group (TPC-H Q8 shape): one
    nation's revenue share inside its region per order year. Numerator
    and denominator are exact decimal sums from the SAME aggregation
    pass; the share divides once in double."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    target = F.when(F.col("n_name") == "NATION_5", F.expr(DISC_PRICE)).otherwise(
        F.lit(0)
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .filter(F.col("n_regionkey") == 0)
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum(target, "target_revenue"),
            dsum(F.expr(DISC_PRICE), "region_revenue"),
        )
        .select(
            "o_year",
            "target_revenue",
            "region_revenue",
            F.expr("target_revenue / region_revenue").alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@query("grouping_sets_orders")
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the third grouping-set form next to
    revenue_rollup's ROLLUP and cube_status_priority's CUBE): per-status
    and per-priority marginals in one pass, no cross products."""
    ensure_deterministic(spark)
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT)
                   AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                   AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY gid, o_orderstatus, o_orderpriority
        """
    )


@query("user_profiles_stream")
def user_profiles_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): per-user
    running profiles held in GroupState across micro-batches. Fully
    oracle-checked since r03: the state carries the value sum as an
    exact scaled integer (streaming/stateful.py), so the running total
    is associative across batch boundaries and the final float is one
    deterministic division — identical to the batch decimal-sum SQL."""
    from ..session import shuffle_width
    from ..streaming import events as SE
    from ..streaming.stateful import user_profiles

    ensure_deterministic(spark)
    # width 8 (r09 sweep): w32 1.64-1.85 s, w8 1.39-1.45 s, w4 1.6-1.68 s
    # at sf0.1 — the applyInPandasWithState put path parallelizes Python
    # workers per partition, so its optimum sits ABOVE the JVM-state w4
    # (events_rate_limited_stream, same shape but heavier per-row Python,
    # stays at the session default: w16/w8 measured within noise of w32)
    with shuffle_width(spark, min(8, spark.sparkContext.defaultParallelism)):
        stream = SE.read_events_stream(spark, sf_dir)
        out = SE.run_to_memory(user_profiles(stream), output_mode="update")
    return out.orderBy("user_id")


@query("dedup_clusters_star")
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters computed by the alternating large-star/small-star
    algorithm (O(log n) rounds at any graph diameter — the 100 TB CC
    path). Same pair graph, same output, same oracle as the
    min-propagation form: the two implementations must agree exactly."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs_shared(spark, sf_dir)
    pair_nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    labels = GR.connected_components_star(
        pairs, src="doc_a", dst="doc_b",
        nodes=pair_nodes, node_col="doc_id",
        shuffle_partitions=min(16, spark.sparkContext.defaultParallelism),
    )
    singletons = (
        docs.select("doc_id")
        .join(labels, docs["doc_id"] == labels["node"], "left_anti")
        .select(F.col("doc_id").alias("node"), F.col("doc_id").alias("label"))
    )
    return (
        labels.unionByName(singletons)
        .select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        )
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .orderBy("doc_id")
    )


@query("scd2_user_status")
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 reconstruction: each event opens a validity interval
    for that user's 'current type', closed by the next event (open
    intervals get the sentinel high date) — the temporal-table form a
    migration/ETL engine builds from change streams."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("status"),
            fmt_ts(F.col("ts"), "effective_from", micros=True),
            F.coalesce(
                F.date_format(
                    F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss.SSSSSS"
                ),
                F.lit("9999-12-31 00:00:00.000000"),
            ).alias("effective_to"),
            (F.lead("ts").over(w).isNull()).alias("is_current"),
        )
        .orderBy("user_id", "effective_from")
    )


@query("cluster_representatives")
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual OUTPUT: one representative per
    near-dup cluster, chosen by quality score (ties to the lowest
    doc_id) — clusters from connected components (session-shared
    materialization), quality from the integer-ratio scorer, winner via
    one argmax window."""
    ensure_deterministic(spark)
    clusters = _dedup_labels_shared(spark, sf_dir)
    quality = quality_score(spark, sf_dir).select("doc_id", "score")
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("score").alias("rep_score"),
        )
        .orderBy("cluster_id")
    )


@query("disjunctive_revenue")
def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-clause predicate (TPC-H Q19 shape): an OR of
    conjunctive brand/size/quantity clauses across a join. Catalyst
    distributes the common join key through the disjunction; per-branch
    revenue is tagged so the oracle checks each clause's contribution."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    joined = li.join(part, li["l_partkey"] == part["p_partkey"])
    clause1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size") <= 10)
        & (F.col("l_quantity") <= 20)
    )
    clause2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(5, 25))
        & (F.col("l_quantity") > 20)
    )
    return (
        joined.filter(clause1 | clause2)
        .withColumn(
            "clause", F.when(clause1, "brand1_small").otherwise("brand2_big")
        )
        .groupBy("clause")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.expr(DISC_PRICE), "revenue"),
        )
        .orderBy("clause")
    )


@query("monthly_revenue_growth")
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report-style ratio-to-previous: monthly order revenue with
    month-over-month growth (lag window over the aggregate; the growth
    ratio divides two exact decimal sums in double — first month NULL)."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )
    w = Window.orderBy("month")
    return (
        monthly.select(
            "month",
            "n_orders",
            "revenue",
            (F.col("revenue") / F.lag("revenue").over(w) - 1.0).alias(
                "mom_growth"
            ),
        )
        .orderBy("month")
    )


@query("nation_pair_trade")
def nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension self-aliasing (TPC-H Q7 shape): revenue between
    (supplier nation, customer nation) pairs — the nation dim joins
    twice under different aliases, both broadcast."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), supp["s_nationkey"] == F.col("s_nkey"))
        .join(F.broadcast(n2), cust["c_nationkey"] == F.col("c_nkey"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.expr(DISC_PRICE), "revenue"),
        )
        .orderBy("supp_nation", "cust_nation")
    )


@query("null_semantics")
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling operator coverage over the migration corpus (the
    one fixture with real NULLs — down_sql): null-safe equality (<=>),
    NULLIF, COALESCE defaults, and null-aware counting."""
    ensure_deterministic(spark)
    mig = fixtures.migrations_df(spark)
    return mig.select(
        "version",
        F.col("down_sql").isNull().alias("no_down"),
        F.coalesce("down_sql", F.lit("-- irreversible")).alias("down_or_marker"),
        F.nullif(F.col("name"), F.lit("create_users")).alias("name_nullified"),
        F.col("down_sql").eqNullSafe(F.col("up_sql")).alias("down_equals_up"),
    ).orderBy("version")


@query("selective_distinct")
def selective_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional distinct aggregation: distinct big-spending customers
    per order status — count(DISTINCT CASE WHEN ...) evaluates the
    predicate before the distinct set forms (one pass)."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct(
                F.when(F.col("o_totalprice") > 150000, F.col("o_custkey"))
            ).alias("big_spenders"),
            F.countDistinct("o_custkey").alias("all_customers"),
        )
        .orderBy("o_orderstatus")
    )


@query("user_type_overlap")
def user_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra per group: event-type sets from each half of
    the month, intersected/unioned — sizes only, so the comparison
    stays scalar while exercising collect_set + array_intersect/union."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
    first_half = F.collect_set(
        F.when(F.col("ts") < mid, F.col("event_type"))
    )
    second_half = F.collect_set(
        F.when(F.col("ts") >= mid, F.col("event_type"))
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.size(first_half).alias("n_types_h1"),
            F.size(second_half).alias("n_types_h2"),
            F.size(F.array_intersect(first_half, second_half)).alias(
                "n_common"
            ),
            F.size(F.array_union(first_half, second_half)).alias("n_all"),
        )
        .orderBy("user_id")
    )


@query("skewed_join_salted")
def skewed_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted-join skew tool run through the correctness gate: a
    lineitem⋈orders join executed via fact-side salting + dim
    replication (operators/skew.py) must produce results identical to
    the plain join the oracle computes — salting redistributes
    partitions, never rows. Since r06 the factor is MEASURED, not
    guessed: suggest_salt_factor derives it from the log2 skew
    histogram (the key_skew_histogram read, as an operator). The
    fixture's uniform keys genuinely suggest 1; the floor of 2 keeps
    the salting machinery itself (explode-replicated dim + merge join)
    under oracle certification."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "okey"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    salts = max(
        2,
        SK.suggest_salt_factor(
            li, "okey", spark.sparkContext.defaultParallelism
        ),
    )
    joined = SK.salted_join(li, orders, key="okey", salts=salts)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.expr(DISC_PRICE), "revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query("typo_distance")
def typo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalar (the fuzzy-matching primitive of entity
    resolution): levenshtein from every nation name to a reference
    spelling — both engines implement the same integer DP."""
    ensure_deterministic(spark)
    nation = read_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        "n_name",
        F.levenshtein(F.lower("n_name"), F.lit("nation_1")).alias("edit_dist"),
    ).orderBy("n_nationkey")


@query("corpus_summary")
def corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: per-source corpus report combining volume,
    exact-dup rate (content fingerprints), language spread, token
    volume, and quality extrema — the summary a training pipeline
    publishes with every corpus release. One aggregation pass; the dup
    ratio divides two exact counts; quality extrema are comparisons
    (min/max), not sums, so weighted-double scores stay hash-safe."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    q = TX.quality_components("text")
    staged = docs.select(
        "source",
        "lang",
        TX.fingerprint("text").alias("fp"),
        F.size(TX.tokens("text")).alias("n_tokens"),
        q["score"].alias("score"),
    )
    return (
        staged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            (
                (F.count(F.lit(1)) - F.countDistinct("fp"))
                / F.count(F.lit(1))
            ).alias("dup_ratio"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
            F.min("score").alias("min_quality"),
            F.max("score").alias("max_quality"),
        )
        .orderBy("source")
    )


@query("source_drift")
def source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between corpus sources: pairwise L1 distance
    between language distributions. Computed ENTIRELY in integers —
    Σ|c1·n2 − c2·n1| over the lang grid, divided once by n1·n2 — so the
    result is order-free without any decimal staging (float p_i sums
    would accumulate in shuffle order). The drift monitor a continuously
    ingested corpus runs between snapshots."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        docs.select("source").distinct()
        .crossJoin(docs.select("lang").distinct())
        .join(counts, ["source", "lang"], "left")
        .select(
            "source", "lang", F.coalesce("c", F.lit(0)).alias("c")
        )
        .join(totals, "source")
    )
    g1 = grid.select(
        F.col("source").alias("source_a"), "lang",
        F.col("c").alias("c1"), F.col("n").alias("n1"),
    )
    g2 = grid.select(
        F.col("source").alias("source_b"), "lang",
        F.col("c").alias("c2"), F.col("n").alias("n2"),
    )
    return (
        g1.join(g2, "lang")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            ).alias("_num"),
            F.max("n1").alias("_n1"),
            F.max("n2").alias("_n2"),
        )
        .select(
            "source_a",
            "source_b",
            (
                F.col("_num").cast("double")
                / (F.col("_n1") * F.col("_n2")).cast("double")
            ).alias("l1_distance"),
        )
        .orderBy("source_a", "source_b")
    )


@query("corpus_diff")
def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot dataset-card delta (r03 verdict item 9): the release
    report a continuously-ingested corpus publishes between snapshots —
    adds/removes, token-volume delta, and per-source language-mix drift.
    Snapshots are deterministic id-slices of the corpus (prev = doc_id
    % 7 != 0, curr = doc_id % 5 != 0), so the diff machinery is exercised
    with both additions and removals at any scale factor. All counts are
    integers; the L1 drift uses source_drift's integer cross-product form
    (Σ|c_prev·n_curr − c_curr·n_prev| / (n_prev·n_curr)) — one division
    at the end, shuffle-order-free. Two aggregation passes over one scan
    (per-source and per-(source, lang)); no joins wider than the
    5-source card."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "source",
        "lang",
        F.size(TX.tokens("text")).alias("n_tokens"),
        (F.col("doc_id") % 7 != 0).cast("long").alias("in_prev"),
        (F.col("doc_id") % 5 != 0).cast("long").alias("in_curr"),
    )
    base = tagged.groupBy("source").agg(
        F.sum("in_prev").alias("n_prev"),
        F.sum("in_curr").alias("n_curr"),
        F.sum(
            ((F.col("in_curr") == 1) & (F.col("in_prev") == 0)).cast("long")
        ).alias("n_added"),
        F.sum(
            ((F.col("in_prev") == 1) & (F.col("in_curr") == 0)).cast("long")
        ).alias("n_removed"),
        F.sum(F.col("in_prev") * F.col("n_tokens")).alias("tokens_prev"),
        F.sum(F.col("in_curr") * F.col("n_tokens")).alias("tokens_curr"),
    )
    lang_counts = tagged.groupBy("source", "lang").agg(
        F.sum("in_prev").alias("c_prev"),
        F.sum("in_curr").alias("c_curr"),
    )
    drift = (
        lang_counts.join(
            F.broadcast(base.select("source", "n_prev", "n_curr")), "source"
        )
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(
                    F.col("c_prev") * F.col("n_curr")
                    - F.col("c_curr") * F.col("n_prev")
                )
            ).alias("_num")
        )
    )
    return (
        base.join(drift, "source")
        .select(
            "source",
            "n_prev",
            "n_curr",
            "n_added",
            "n_removed",
            (F.col("tokens_curr") - F.col("tokens_prev")).alias("token_delta"),
            # drift from/to an EMPTY snapshot is undefined — NULL, not a
            # division error (tiny sources can lose every doc to a slice)
            F.when(
                F.col("n_prev") * F.col("n_curr") > 0,
                F.col("_num").cast("double")
                / (F.col("n_prev") * F.col("n_curr")).cast("double"),
            ).alias("lang_l1"),
        )
        .orderBy("source")
    )


@query("kmeans_embeddings")
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative model TRAINING on the cluster: 2 Lloyd k-means
    iterations over the embedding corpus in fixed-point integer
    arithmetic (operators/kmeans.py) — k=4 centroids over the first 16
    components, the coarse-quantizer training step an IVF ANN index
    needs. Bit-exact by construction (integer distances, floored
    integer-mean updates, cid tiebreaks), so the full trajectory is
    verified by an unrolled SQL oracle — the same determinism discipline
    as the fixed-point PageRank. Per-iteration cost: one broadcast join
    (k·dims centroid rows) + two partial aggregations; no driver-side
    loop over data."""
    from ..operators import kmeans as KM

    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    asg, cent = KM.kmeans_fixed_point(emb, k=4, dims=16, iters=2)
    csums = cent.groupBy("cid").agg(F.sum("cval").alias("c_sum"))
    return (
        asg.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").alias("inertia"),
        )
        .join(csums, "cid")
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_members",
            "inertia",  # ≤ ~2e16 at sf0.1 — well inside BIGINT
            "c_sum",
        )
        .orderBy("cid")
    )


@query("embedding_norm_check")
def embedding_norm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector data-quality gate: per-label norm extrema and degenerate
    counts. Norms reduce sequentially over dimensions (HOF fold == the
    oracle's in-order list_sum), so the min/max comparisons see
    bit-identical doubles on both engines."""
    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    norm = F.expr(
        "sqrt(aggregate(transform(embedding,"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    staged = emb.select("label", norm.alias("nrm"))
    return (
        staged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_norm"),
        )
        .orderBy("label")
    )


@query("events_rate_limited")
def events_rate_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion throttle: keep only each user's FIRST event per 5-minute
    bucket (rank-1 per (user, bucket) — the dedup-throttle an event
    collector applies before expensive downstream work)."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    bucket = F.expr("unix_micros(ts) div 300000000")
    staged = ev.withColumn("bk", bucket).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "bk").orderBy("ts", "event_id")
        ),
    )
    return (
        staged.filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            fmt_ts(F.col("ts"), "ts", micros=True),
            "event_type",
        )
        .orderBy("event_id")
    )


@query("orders_pareto")
def orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / concentration analysis: top-100 orders by price with
    cumulative revenue share — running DECIMAL sum divided by the exact
    total (how top-heavy is revenue?).

    NO unpartitioned window over the fact table (r03 verdict item 2):
    the output is the top 100, so the top 100 come from a distributed
    sort+limit (TakeOrderedAndProject — per-partition top-k, tiny merge)
    and the running-sum/row_number windows then run over exactly 100
    rows. The exact denominator is a broadcast one-row aggregate."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    total = orders.agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("_t")
    )
    top = (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )
    w_order = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w_order).alias("rnk"),
            (
                F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double")
                / F.col("_t").cast("double")
            ).alias("cum_share"),
        )
        .orderBy("rnk")
    )


@query("event_transitions")
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: counts of consecutive event-type
    bigrams per user stream (lag window), with row-normalized
    probabilities — the Markov-chain estimate behind funnel and
    next-action models. Probabilities are integer-count divisions."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    counts = bigrams.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_total = Window.partitionBy("prev_type")
    return (
        counts.select(
            "prev_type",
            "next_type",
            "n",
            (
                F.col("n").cast("double")
                / F.sum("n").over(row_total).cast("double")
            ).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# TPC-H completion (round 3): the seven official query shapes the registry
# did not yet cover — Q6, Q10, Q11, Q12, Q15, Q16, Q20 — adapted to the
# fixture's columns (no partsupp table, no l_shipmode/commitdate; see
# TESTDATA.md). With these, all 22 TPC-H query shapes have a registered,
# oracle-checked counterpart.
# ---------------------------------------------------------------------------


@query("forecast_revenue")
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-table filtered revenue delta — the purest
    pushdown test (all three predicates must reach the parquet scan; the
    aggregate is a one-row global sum with map-side partials)."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(
                F.expr(
                    "CAST(l_extendedprice AS DECIMAL(18,2))"
                    " * CAST(l_discount AS DECIMAL(4,2))"
                ),
                "revenue",
            )
        )
    )


@query("returned_items")
def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns.
    nation is a forced broadcast, customer joins unhinted (SF-scaled);
    orders⋈lineitem is the one big
    shuffle; deterministic top-k tie-break on c_custkey."""
    ensure_deterministic(spark)
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.expr(DISC_PRICE), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query("important_parts_share")
def important_parts_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp-free adaptation): parts whose revenue
    exceeds 0.07% of GLOBAL revenue — aggregate + scalar-subquery
    threshold. The one-row global total is crossJoin-broadcast so the
    HAVING comparison stays fully distributed; both the per-part and the
    global sums use the exact-decimal pattern, and the threshold is one
    double multiply of identical inputs in both engines."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        dsum(F.expr(DISC_PRICE), "part_value")
    )
    total = li.agg(dsum(F.expr(DISC_PRICE), "total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("total_value") * 0.0007)
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


@query("priority_line_counts")
def priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode→linestatus adaptation): join + CASE-sum
    split of high- vs low-priority orders per line status over a one-year
    shipdate window."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query("top_revenue_supplier")
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: per-supplier quarterly revenue, keep the
    supplier(s) equal to the maximum — aggregate feeding a scalar-max
    subquery (the view + WHERE total_revenue = (SELECT MAX…) form)."""
    ensure_deterministic(spark)
    supp = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(dsum(F.expr(DISC_PRICE), "total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query("brand_supplier_counts")
def brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem stands in for partsupp): distinct
    supplier counts per (brand, type, size), excluding one brand and —
    via an anti-join, the NOT IN of the original — suppliers in bad
    standing (negative account balance stands in for complaint
    comments)."""
    ensure_deterministic(spark)
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    )
    bad_supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


@query("promotion_part_suppliers")
def promotion_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than a threshold
    quantity of promotable ('red …') parts in 1996 — the nested-IN /
    correlated-half-sum form flattened into semi-joins: parts filter →
    per-(supplier, part) quantity agg → threshold → distinct suppliers →
    semi-join supplier."""
    ensure_deterministic(spark)
    supp = read_table(spark, sf_dir, "supplier")
    red_parts = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    qualifying = (
        li.join(red_parts, li.l_partkey == red_parts.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum(F.col("l_quantity"), "ship_qty"))
        .filter(F.col("ship_qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# LLM-pipeline text operators, round 3 wave 2: repetition statistics and
# PII scanning (the remaining standard pre-training filter families).
# ---------------------------------------------------------------------------


@query("repetition_stats")
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (Rae et al. 2021 table A1's
    duplicate/top-n-gram family, adapted to the fixture's single-line
    docs): per document, the distinct-word fraction, the most-frequent
    word's share, and duplicate bigram/trigram fractions. All integer
    ratios in double — bit-deterministic. The word array stages once;
    the top-word share runs as explode → two-level aggregation (the
    same shape the oracle uses), everything else is array expressions."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    # the n_words >= 3 filter comes BEFORE the n-gram expressions so the
    # element_at(w, i+2) accesses are always in-bounds (ANSI mode throws
    # on out-of-bounds element_at; degenerate docs carry no signal anyway)
    staged = (
        docs.select(
            "doc_id",
            F.expr(r"filter(split(text, '\\s+'), w -> w != '')").alias("w"),
        )
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            "w",
            F.size("w").alias("n_words"),
            F.size(F.array_distinct("w")).alias("n_distinct"),
            F.expr(
                "size(array_distinct(transform(sequence(1, size(w) - 1),"
                " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))))"
            ).alias("n_distinct_2g"),
            F.expr(
                "size(array_distinct(transform(sequence(1, size(w) - 2),"
                " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),"
                " element_at(w, i + 2)))))"
            ).alias("n_distinct_3g"),
        )
    )
    top = (
        staged.select("doc_id", F.explode("w").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return (
        staged.join(top, "doc_id")
        .select(
            "doc_id",
            "n_words",
            (F.col("n_distinct") / F.col("n_words")).alias("distinct_word_frac"),
            (F.col("top_c") / F.col("n_words")).alias("top_word_frac"),
            (
                F.lit(1.0) - F.col("n_distinct_2g") / (F.col("n_words") - 1)
            ).alias("dup_bigram_frac"),
            (
                F.lit(1.0) - F.col("n_distinct_3g") / (F.col("n_words") - 2)
            ).alias("dup_trigram_frac"),
        )
        .orderBy("doc_id")
    )


@query("pii_scan")
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII screening rollup (standard pre-training compliance pass):
    per source, documents containing emails / IPv4s / phone-ish numbers
    / SSN-pattern strings, plus total match counts. Pure regexp_count
    column expressions (patterns in functions/text.PII_PATTERNS, chosen
    inside the Java-regex ∩ RE2 common subset so the oracle reproduces
    the same matches). The deterministic PII_FIXTURE_ROWS ride along so
    the match behavior is exercised, not just zero-counted."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    vals = ", ".join(
        f"({i}, '{t}', '{s}')" for i, t, s in TX.PII_FIXTURE_ROWS
    )
    synth = spark.sql(
        f"SELECT col1 AS doc_id, col2 AS text, col3 AS source"
        f" FROM (VALUES {vals})"
    )
    counted = docs.unionByName(synth).select(
        "source",
        *[
            F.regexp_count(F.col("text"), F.lit(pat)).alias(f"n_{name}")
            for name, pat in TX.PII_PATTERNS.items()
        ],
    )
    aggs = []
    for name in TX.PII_PATTERNS:
        aggs.append(
            F.sum(F.when(F.col(f"n_{name}") > 0, 1).otherwise(0)).alias(
                f"docs_with_{name}"
            )
        )
        aggs.append(F.sum(f"n_{name}").alias(f"total_{name}"))
    return (
        counted.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), *aggs)
        .orderBy("source")
    )


@query("clean_corpus")
def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup+filter pipeline's END-TO-END output (r03 capstone): per
    source, how much of the corpus survives (a) near-dup deduplication —
    keep only each cluster's best-quality representative — and (b) the
    Gopher quality filter. This is the number a pre-training data curator
    actually reports: documents in → documents retained.

    Composition of the already-certified stages (shared materializations,
    no recomputation): connected-component labels from
    _dedup_labels_shared, representative = rank-1 by quality score per
    cluster (ties to lowest doc_id), pass flags from _quality_doc_flags.
    retention_rate is a ratio of integers — deterministic double."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    labels = _dedup_labels_shared(spark, sf_dir)
    quality = quality_score(spark, sf_dir).select("doc_id", "score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    reps = (
        labels.join(quality, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("doc_id", F.lit(1).alias("is_rep"))
    )
    flags = _quality_doc_flags(docs).select("doc_id", "source", "passes")
    return (
        flags.join(reps, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_rep"), F.lit(0))).alias(
                "n_after_dedup"
            ),
            F.sum(
                F.coalesce(F.col("is_rep"), F.lit(0)) * F.col("passes")
            ).alias("n_retained"),
        )
        .withColumn(
            "retention_rate",
            F.col("n_retained") / F.col("n_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-3 additions: passage-level dedup, sequence packing, mixture
# sampling, streaming exact dedup (SURVEY.md §2.B, LLM-pipeline surface).
# ---------------------------------------------------------------------------


@query("duplicate_spans")
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplication (ExactSubstr-lite): per source, what
    fraction of tokens sit inside an 8-token shingle that also occurs in
    at least one OTHER document. Catches boilerplate paragraphs that
    whole-document dedup misses — the standard pre-training passage-dedup
    signal (cf. reference's whole-file checksum
    `internal/migration/migration.go:19-23`, generalized to sub-document
    granularity).

    Scale shape: positions explode linearly (one row per token), the
    duplicated-shingle set is a hash-groupBy over 32-char digests with a
    distinct-doc count (map-side partial), and the coverage union is a
    bounded ×8 explode over only the duplicated positions. No pair join
    anywhere — membership, not similarity — so it stays linear at 100 TB.
    """
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    cov = DD.span_coverage(docs, id_col="doc_id", content_col="text", n=8)
    return (
        docs.select("doc_id", "source")
        .join(cov, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_dup_tokens") > 0).cast("long")).alias(
                "docs_with_dup_spans"
            ),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_dup_tokens").alias("dup_tokens"),
        )
        .withColumn(
            "dup_token_rate",
            (F.col("dup_tokens") / F.col("total_tokens")).cast("double"),
        )
        .orderBy("source")
    )


@query("exact_substr_spans")
def exact_substr_spans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True ExactSubstr passage dedup (r03 verdict item 4, Lee et al.
    2022): per near-dup candidate pair (3-gram Jaccard screen ≥ 0.1),
    the longest common verbatim token run with its extents — the span
    evidence a duplication auditor wants, where `duplicate_spans` only
    reports coverage rates. Anchor-chained, exact, no Python
    (operators/dedup.exact_substr_spans)."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs_shared(spark, sf_dir)
    return DD.exact_substr_spans(docs, pairs, n=8).orderBy("doc_a", "doc_b")


@query("strip_dup_spans")
def strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL step of passage dedup (Lee et al. 2022 remove the
    duplicated spans, not the documents): for every doc that appears as
    the b-side of a candidate pair with a verbatim common run of ≥ 12
    tokens, cut its single longest such span (ties: smallest doc_a,
    then start) and emit the residual — token counts plus an md5
    fingerprint of the remaining token stream, rebuilt by pure array
    slicing (no explode, no Python). Composes `exact_substr_spans`'
    extents; `clean_corpus` stays the doc-level variant."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs_shared(spark, sf_dir)
    spans = DD.exact_substr_spans(docs, pairs, n=8).filter(
        F.col("run_len") >= 12
    )
    best = (
        spans.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_b").orderBy(
                    F.desc("run_len"), F.asc("doc_a"), F.asc("start_b")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("source_doc"),
            F.col("run_len").alias("span_len"),
            "start_b",
        )
    )
    toks = docs.select("doc_id", TX.tokens("text").alias("t"))
    return (
        best.join(toks, "doc_id")
        .select(
            "doc_id",
            "source_doc",
            "span_len",
            F.size("t").alias("n_tokens"),
            (F.size("t") - F.col("span_len")).alias("n_remaining"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.concat(
                        F.slice(F.col("t"), 1, F.col("start_b") - 1),
                        F.slice(
                            F.col("t"),
                            F.col("start_b") + F.col("span_len"),
                            F.size("t")
                            - (F.col("start_b") + F.col("span_len"))
                            + 1,
                        ),
                    ),
                )
            ).alias("residual_fp"),
        )
        .orderBy("doc_id")
    )


@query("pack_sequences")
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents stream in doc_id order
    within each source, and each doc lands in token-budget bin
    floor(tokens_before / 2048) — the deterministic document→training-
    sequence assignment a tokenize-and-pack pipeline materializes. Packing
    is per-source (partitionBy source), so at 100 TB the window sort is
    per-source-partition parallel, never a global sort; a curator shards
    further by (source, date) the same way."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", TX.token_count().alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        c.withColumn(
            "seq_bin", F.floor(F.col("cum_before") / F.lit(2048.0))
        )
        .groupBy("source", "seq_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .orderBy("source", "seq_bin")
    )


@query("source_mixture_sample")
def source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted mixture resampling: downsample every source toward a
    10-doc budget with rate min(1, 10/count), using the content-addressed
    md5 fraction (functions/portable_hash.uniform_frac_sql) as the
    Bernoulli coin — reproducible across engines, runs and partitionings,
    unlike rand(). This is the data-mixing step that rebalances a skewed
    crawl before training. Per-source counts are a tiny dim aggregated
    map-side and broadcast back onto the fact — no extra wide shuffle."""
    from ..functions.portable_hash import uniform_frac_sql

    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("src_n"))
    rated = counts.withColumn(
        "rate", F.least(F.lit(1.0), F.lit(10.0) / F.col("src_n"))
    )
    return (
        docs.join(F.broadcast(rated), "source")
        .withColumn("hx", F.md5(F.col("doc_id").cast("string")))
        .withColumn("u", F.expr(uniform_frac_sql("hx")))
        .filter(F.col("u") < F.col("rate"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@query("events_dedup_stream")
def events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the events file stream unioned with itself
    (every row a duplicate), keyed dropDuplicatesWithinWatermark on
    event_id with bounded state, drained append-mode into a memory sink,
    then rolled up per event_type. Must reproduce the batch DISTINCT
    aggregate exactly — the streaming-ingestion form of dedup_exact, with
    state bounded by the 1 h watermark rather than growing with the
    stream."""
    from ..session import shuffle_width
    from ..streaming import events as SE

    ensure_deterministic(spark)
    # width 4 (r09 sweep): w32 1.79-1.87 s vs w4 1.31-1.34 s at sf0.1
    with shuffle_width(spark, min(4, spark.sparkContext.defaultParallelism)):
        s1 = SE.read_events_stream(spark, sf_dir)
        s2 = SE.read_events_stream(spark, sf_dir)
        deduped = SE.dedup_within_watermark(s1.unionByName(s2))
        sink = SE.run_to_memory(deduped, output_mode="append")
    return (
        sink.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        .orderBy("event_type")
    )


@query("source_overlap")
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise corpus-lineage diagnostic: Jaccard overlap of the
    distinct 3-token shingle sets of every source pair — the signal that
    two crawl feeds are mirrors of each other BEFORE doc-level dedup ever
    runs. Shingles travel as md5 digests (never content); the self-join
    is an equi-join on the digest, and per-shingle fan-out is bounded by
    the number of sources sharing it (per-shingle source list, not doc
    pairs) — linear in corpus size, quadratic only in #sources, which is
    the cheap dimension. Zero-overlap pairs are kept via the tiny
    per-source-count grid (broadcast)."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select("source", TX.tokens().alias("toks"))
    sh = (
        t.select("source", F.explode(TX.shingles("toks", 3)).alias("shingle"))
        .select("source", F.md5("shingle").alias("h"))
        .distinct()
    )
    counts = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    grid = (
        counts.alias("x")
        .join(
            F.broadcast(counts.alias("y")),
            F.col("x.source") < F.col("y.source"),
        )
        .select(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
            F.col("x.n").alias("n_a"),
            F.col("y.n").alias("n_b"),
        )
    )
    return (
        grid.join(inter, ["source_a", "source_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .withColumn(
            "jaccard", (F.col("n_inter") / F.col("n_union")).cast("double")
        )
        .select("source_a", "source_b", "n_inter", "n_union", "jaccard")
        .orderBy("source_a", "source_b")
    )


@query("events_ks_drift")
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the value
    distributions of every event-type pair — the standard
    distribution-drift monitor for a feature pipeline. All CDF math is
    integer cross-multiplied (|cum_a·n_b − cum_b·n_a|, one final
    division), so the result is deterministic at any parallelism — the
    same exactness trick as source_drift's L1. The pair table is a tiny
    broadcast dim; the per-pair CDF window sorts only within each pair's
    partition."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    types = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        types.alias("a")
        .join(
            F.broadcast(types.alias("b")),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("a.n").alias("n_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("b.n").alias("n_b"),
        )
    )
    side_a = ev.join(
        F.broadcast(pairs), ev.event_type == F.col("type_a")
    ).select("type_a", "type_b", "n_a", "n_b", "value",
             F.lit(1).alias("ca"), F.lit(0).alias("cb"))
    side_b = ev.join(
        F.broadcast(pairs), ev.event_type == F.col("type_b")
    ).select("type_a", "type_b", "n_a", "n_b", "value",
             F.lit(0).alias("ca"), F.lit(1).alias("cb"))
    per_value = (
        side_a.unionByName(side_b)
        .groupBy("type_a", "type_b", "n_a", "n_b", "value")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    w = (
        Window.partitionBy("type_a", "type_b")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = per_value.withColumn("cum_a", F.sum("ca").over(w)).withColumn(
        "cum_b", F.sum("cb").over(w)
    )
    return (
        cdf.groupBy("type_a", "type_b", "n_a", "n_b")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_a") * F.col("n_b")
                    - F.col("cum_b") * F.col("n_a")
                )
            ).alias("d_int")
        )
        .withColumn(
            "ks_stat",
            (F.col("d_int") / (F.col("n_a") * F.col("n_b"))).cast("double"),
        )
        .select("type_a", "type_b", "n_a", "n_b", "ks_stat")
        .orderBy("type_a", "type_b")
    )


@query("pagerank_docs")
def pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-centrality weighting: 8 PageRank iterations over the
    3-gram Jaccard near-dup graph (same edge set as dedup_clusters) — a
    high rank marks documents sitting in dense duplication neighborhoods,
    the weight a curator uses to downweight boilerplate families.

    All arithmetic is FIXED-POINT INTEGER (rank mass scaled by 10^12,
    floor division for contributions and damping), so every iteration is
    bit-identical in Spark and DuckDB at any parallelism — the same
    exactness discipline as the integer cross-multiplied KS/L1 stats,
    extended to an ITERATIVE algorithm. Self-loop sentinel edges keep
    zero-degree docs in every iteration (they decay to the damping base).
    The driver-side `count()` fixes the scale constants — one scalar job,
    bounded by design (IVF-centroid precedent). Per-iteration shape is
    join + partial/final aggregate on the edge key; the edge list is
    persisted once and reused by all 8 iterations, and the rounds run at
    a rank-graph-sized shuffle width (graph._shuffle_width rationale:
    the iterating state is vastly smaller than the corpus, and AQE does
    not coalesce across the iteration boundary)."""
    ensure_deterministic(spark)
    SCALE = 10**12
    docs = read_table(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    # the pair list is consumed by edges (both directions) and degrees —
    # r10 optimization round: it IS the shared per-(app, sf) pair graph
    # (same threshold/max_df) every cluster query reads; the previous
    # per-invocation eager checkpoint re-ran the full shingle self-join
    # on every sample
    pairs = _ngram_pairs_shared(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    degs = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    alledges = (
        edges.join(degs, "src")
        .withColumn("self", F.lit(False))
        .unionByName(
            ids.select(
                F.col("doc_id").alias("src"),
                F.col("doc_id").alias("dst"),
                F.lit(1).cast("long").alias("deg"),
                F.lit(True).alias("self"),
            )
        )
        .persist()
    )
    n_docs = ids.count()
    # r11 (the connected_components width adaptation applied here): the
    # iterating rank graph is edge-bounded, and the persisted edge list's
    # row count is one cache-warming job away — size the 8 rounds'
    # shuffles to the MEASURED edge count (up to the old static cap)
    # instead of a constant 16, and re-layout the edge cache at that
    # width so each round's scan stops touching 32 near-empty cached
    # partitions (8 rounds × 32 scan tasks at fixture scale).
    n_edges_all = alledges.count()
    width = max(
        1,
        min(
            min(16, spark.sparkContext.defaultParallelism),
            -(-n_edges_all // 250_000),
        ),
    )
    alledges_w = alledges.repartition(width, F.col("src")).persist()
    alledges_w.count()
    alledges.unpersist()
    alledges = alledges_w
    r0 = SCALE // n_docs
    base = (15 * r0) // 100
    ranks = ids.select(
        F.col("doc_id").alias("doc"), F.lit(r0).cast("long").alias("r")
    )
    with GR._shuffle_width(spark, width):
        for _ in range(8):
            ranks = (
                alledges.join(ranks, alledges.src == ranks.doc)
                .select(
                    "dst",
                    F.when(F.col("self"), F.lit(0).cast("long"))
                    .otherwise(F.expr("r div deg"))
                    .alias("c"),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
                .select(
                    F.col("dst").alias("doc"),
                    (F.lit(base) + F.expr("(85 * s) div 100"))
                    .cast("long")
                    .alias("r"),
                )
            )
        # eager: the narrowed shuffle width only applies while THIS
        # context is active, and Spark executes lazily — checkpointing
        # here materializes all 8 rounds at the narrow width and hands
        # downstream consumers a lineage-free 5k-row result. AQE is
        # pinned off for the materialization: its per-stage re-planning
        # costs ~0.3 s on each of the 17 tiny iteration stages (measured
        # 2x slower overall at sf0.1) and buys nothing on a pre-sized
        # 16-partition loop
        aqe_key = "spark.sql.adaptive.enabled"
        aqe_old = spark.conf.get(aqe_key)
        spark.conf.set(aqe_key, "false")
        try:
            ranks = ranks.localCheckpoint(eager=True)
        finally:
            spark.conf.set(aqe_key, aqe_old)
    return ranks.select(
        F.col("doc").alias("doc_id"),
        F.col("r").alias("rank_int"),
        (F.col("r").cast("double") / F.lit(float(SCALE))).alias("rank"),
    ).orderBy("doc_id")


@query("events_rate_limited_stream")
def events_rate_limited_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-stateful streaming twin of events_rate_limited: an
    applyInPandasWithState token-gate admitting each user's first event
    per 5-minute bucket (streaming/stateful.rate_limit_first_per_bucket).
    Shares the batch oracle — under the availableNow single-batch drain
    the admitted set must hash-match the batch rank-1 plan exactly."""
    from ..streaming import events as SE
    from ..streaming import stateful as ST

    ensure_deterministic(spark)
    stream = SE.read_events_stream(spark, sf_dir)
    admitted = ST.rate_limit_first_per_bucket(stream)
    return SE.run_to_memory(admitted, output_mode="append").orderBy("event_id")


@query("approx_distinct_kmv")
def approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE cardinality sketch: K-minimum-values estimate of distinct
    users per event type (k = 64) built on the md5 uniform fraction.
    Engine-native sketches (HLL / approx_count_distinct) are
    implementation-specific, which is why approx_events_profile is
    rows-only — KMV over a portable hash gives the same
    sub-linear-memory estimate shape with a FULL cross-engine value
    oracle: estimate = (k-1) / u_k where u_k is the k-th smallest
    distinct hash fraction, exact count when the group has fewer than k
    distinct members. At 100 TB the distinct-pair reduction is the
    hash-groupBy; the per-group rank touches at most the distinct user
    set (and a production variant would cap it with a per-partition
    top-k combine)."""
    from ..functions.portable_hash import uniform_frac_sql

    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    pairs = (
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn(
            "u", F.expr(uniform_frac_sql("md5(CAST(user_id AS STRING))"))
        )
    )
    w = Window.partitionBy("event_type").orderBy("u", "user_id")
    ranked = pairs.withColumn("rn", F.row_number().over(w))
    kth = ranked.filter(F.col("rn") == 64).select(
        "event_type", F.col("u").alias("u_k")
    )
    exact = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return (
        exact.join(kth, "event_type", "left")
        .withColumn(
            "kmv_estimate",
            F.when(F.col("u_k").isNotNull(), F.lit(63.0) / F.col("u_k"))
            .otherwise(F.col("n_exact").cast("double")),
        )
        .withColumn(
            "rel_error",
            F.abs(F.col("kmv_estimate") - F.col("n_exact"))
            / F.col("n_exact"),
        )
        .select("event_type", "n_exact", "kmv_estimate", "rel_error")
        .orderBy("event_type")
    )


@query("hash_embed")
def hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free text embedding by FEATURE HASHING: each token lands in
    one of 16 buckets by an md5 nibble, per-doc bucket counts form the
    raw vector, L2-normalized to the unit sphere. This closes the
    text→vector seam of the pipeline deterministically (the embeddings
    table stands in for a learned model; this operator needs none), so
    raw documents can feed the ANN/near-dup operators end-to-end.

    Exactness: components are INTEGER counts (any aggregation order),
    the norm is sqrt of an integer sum of squares (IEEE sqrt is
    correctly rounded), and each normalized component is a single double
    division — bit-identical cross-engine, no decimal detour needed.
    Shape: one explode + hash-groupBy per (doc, bucket), then a 16-way
    conditional re-agg — linear, shuffles only small count rows."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens()).alias("tok")
    ).withColumn(
        "bucket",
        F.expr("CAST(instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1"
               " AS INT) % 16"),
    )
    counts = toks.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    dims = [
        F.sum(F.when(F.col("bucket") == d, F.col("c")).otherwise(F.lit(0)))
        .alias(f"d{d}")
        for d in range(16)
    ]
    vec = counts.groupBy("doc_id").agg(*dims)
    norm = F.sqrt(
        sum(F.col(f"d{d}") * F.col(f"d{d}") for d in range(16)).cast(
            "double"
        )
    )
    # 16 scalar columns, not an array: the driver's value-hash compares
    # flat columns (and a fixed-width embedding IS a flat schema)
    out = vec.withColumn("norm", norm).select(
        "doc_id",
        *[
            (F.col(f"d{d}").cast("double") / F.col("norm")).alias(f"e{d}")
            for d in range(16)
        ],
        F.col("norm").alias("raw_norm"),
    )
    # docs with zero tokens have no count rows: emit the zero vector
    empty = docs.select("doc_id").join(
        out.select("doc_id"), "doc_id", "left_anti"
    ).select(
        "doc_id",
        *[F.lit(0.0).alias(f"e{d}") for d in range(16)],
        F.lit(0.0).alias("raw_norm"),
    )
    return out.unionByName(empty).orderBy("doc_id")


@query("keyword_search")
def keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style keyword retrieval, exact at any parallelism: score a
    fixed query ('hash join stream') against every document as
    Σ_t tf(t,d) · idf_int(t), where idf_int = (10^9 · N) div df(t) is an
    INTEGER inverse-document-frequency (floor division — no logs, no
    per-term float rounding), so per-doc scores are exact integer sums in
    any order. Top-20 by score with doc_id tiebreak.

    Shape: term filter prunes the exploded token stream immediately (3
    terms), df is a tiny hash-groupBy broadcast back onto per-doc term
    counts — at 100 TB this is the standard posting-list aggregation."""
    ensure_deterministic(spark)
    TERMS = ["hash", "join", "stream"]
    SCALE = 10**9
    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(TX.tokens()).alias("tok")
    ).filter(F.col("tok").isin(TERMS))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.withColumn(
        "idf_int", F.expr(f"CAST({SCALE} AS BIGINT) * {n_docs} div df")
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("idf_int")).alias("score_int"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .withColumn(
            "score",
            (F.col("score_int").cast("double") / F.lit(float(SCALE))),
        )
    )
    return (
        scored.orderBy(F.desc("score_int"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "n_terms_hit", "score_int", "score")
    )


@query("similarity_ivf_trained")
def similarity_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED IVF retrieval pipeline end-to-end: the coarse
    quantizer comes from `kmeans_embeddings`' fixed-point Lloyd training
    (not hand-picked cells like `similarity_ivf`), queries multi-probe
    their 2 nearest trained cells by the same integer metric, and the
    exact 64-dim cosine re-rank runs only inside probed cells — the
    composition a production ANN index actually ships (train → assign →
    probe → re-rank). Everything up to the cosine is integer-exact, and
    the cosine matches the oracle's sequential list_dot_product, so the
    full composed pipeline is value-certified."""
    from ..functions.vectors import dot_unrolled
    from ..operators import kmeans as KM

    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    lists, cent = KM.kmeans_fixed_point(emb, k=4, dims=16, iters=2)
    qpts = KM.quantized_points(emb.filter(F.col("vec_id") < 10), 16)
    probes = KM._assign(qpts, cent, n_best=2).select(
        F.col("pid").alias("qid"), "cid"
    )
    cand = (
        probes.join(
            lists.select(F.col("pid").alias("nid"), "cid"), "cid"
        )
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    q = SIM._prepared(emb, "vec_id", "embedding", "q", 64)
    n = SIM._prepared(emb, "vec_id", "embedding", "n", 64)
    return (
        cand.join(q, "qid")
        .join(n, "nid")
        .withColumn(
            "cos_sim",
            dot_unrolled("qvec", "nvec", 64)
            / (F.col("qnorm") * F.col("nnorm")),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.desc("cos_sim"), F.asc("nid")
                )
            ),
        )
        .filter(F.col("rnk") <= 3)
        .select("qid", "nid", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("qid", "rnk")
    )


@query("label_propagation_lang")
def label_propagation_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the near-dup graph
    (operators/graph.py label_propagation): 20% of documents keep their
    `lang` as a seed (doc_id % 5 == 0), three frontier-frozen majority
    rounds spread labels along 3-gram-Jaccard edges — the
    weak-supervision pattern for labeling a corpus from a small
    annotated slice. Rolled up per propagated label; `accuracy`-style
    agreement with the held-out true lang is exact integer counting."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs_shared(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    seeds = docs.select(
        F.col("doc_id").alias("node"),
        F.when(F.col("doc_id") % 5 == 0, F.col("lang")).alias("lbl"),
    )
    labels = GR.label_propagation(edges, seeds, rounds=3)
    truth = docs.select(F.col("doc_id").alias("node"), "lang")
    return (
        labels.join(truth, "node")
        .groupBy(F.coalesce("lbl", F.lit("<unlabeled>")).alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("seeded").cast("long")).alias("n_seeds"),
            F.sum(
                ((~F.col("seeded")) & F.col("lbl").isNotNull()).cast("long")
            ).alias("n_propagated"),
            # NULL lbl makes the equality NULL — count it as 0, not
            # NULL (a sum over all-NULL conditions must be 0)
            F.sum(
                F.when(
                    (~F.col("seeded")) & (F.col("lbl") == F.col("lang")),
                    F.lit(1),
                ).otherwise(F.lit(0)).cast("long")
            ).alias("n_propagated_correct"),
        )
        .orderBy("label")
    )


@query("user_first_last_events")
def user_first_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame surface completeness: first_value / last_value /
    nth_value over full-partition frames — the per-entity
    journey-boundary features (acquisition event, latest event, second
    touch) sessionization reports need. One row per user via DISTINCT
    over the frame-constant columns; values pass through untouched (no
    float arithmetic), so the hash match is structural."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.select(
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w).alias("last_type"),
            F.nth_value("event_type", 2).over(w).alias("second_type"),
            F.first("value").over(w).alias("first_value"),
            F.last("value").over(w).alias("last_value"),
            F.count(F.lit(1)).over(w).alias("n_events"),
        )
        .distinct()
        .orderBy("user_id")
    )


@query("hourly_interpolate")
def hourly_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series REPAIR: the gap-filled hourly spine with missing
    hours linearly interpolated between the nearest observed neighbors
    per event_type (edges stay NULL) — the imputation step between raw
    telemetry and a model-ready series. Known values are exact-decimal
    hourly averages; the interpolation weights are integer hour-index
    deltas, so the double expression tree is fixed-order and
    engine-identical. The IGNORE-NULLS frame windows run over the
    AGGREGATED spine (hours × types), never the fact table — thousands
    of rows regardless of corpus size."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("HOUR", F.min("ts")).alias("d0"),
        F.date_trunc("HOUR", F.max("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 hour)")).alias("hour")
    ).crossJoin(ev.select("event_type").distinct())
    hourly = ev.groupBy(
        F.date_trunc("HOUR", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("_n"), davg(F.col("value"), "_v"))
    grid = (
        spine.join(hourly, ["hour", "event_type"], "left")
        .withColumn("idx", F.expr("unix_timestamp(hour) div 3600"))
    )
    w = Window.partitionBy("event_type").orderBy("idx")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    wn = w.rowsBetween(1, Window.unboundedFollowing)
    known_idx = F.when(F.col("_v").isNotNull(), F.col("idx"))
    known_v = F.when(F.col("_v").isNotNull(), F.col("_v"))
    filled = (
        grid.withColumn("p_idx", F.last(known_idx, ignorenulls=True).over(wp))
        .withColumn("p_v", F.last(known_v, ignorenulls=True).over(wp))
        .withColumn("n_idx", F.first(known_idx, ignorenulls=True).over(wn))
        .withColumn("n_v", F.first(known_v, ignorenulls=True).over(wn))
        .withColumn(
            "value_filled",
            F.when(F.col("_v").isNotNull(), F.col("_v")).otherwise(
                F.col("p_v")
                + (F.col("n_v") - F.col("p_v"))
                * (F.col("idx") - F.col("p_idx")).cast("double")
                / (F.col("n_idx") - F.col("p_idx")).cast("double")
            ),
        )
    )
    return filled.select(
        fmt_ts(F.col("hour"), "hour"),
        "event_type",
        F.coalesce("_n", F.lit(0)).alias("n_events"),
        F.col("_v").alias("avg_value"),
        "value_filled",
        (F.col("_v").isNull() & F.col("value_filled").isNotNull()).alias(
            "is_interpolated"
        ),
    ).orderBy("hour", "event_type")


@query("price_percentiles_cont")
def price_percentiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_CONT(0.25/0.5/0.75) per priority class WITHOUT a
    per-class single-task sort: the per-class global row_number comes
    from the two-pass bucket rank (operators/ranks.py), the interpolation
    positions pos = p·(n−1)+1 are computed driver-side from the tiny
    per-class totals (quarter fractions are exact binary doubles), and
    the answer touches only the ≤6 boundary rows per class. The final
    v_lo + (v_hi − v_lo)·frac is one fixed-order double expression —
    both engines interpolate identically, where built-in
    percentile_cont implementations are free to differ."""
    import math

    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")

    # r11: rank pass pruned to the ≤6 boundary rows' buckets per class
    # (ranks.select_at_ranks — same rank arithmetic, same rows out)
    def _cont_targets(tot: dict) -> dict:
        out = {}
        for g, n in tot.items():
            rns = set()
            for p in (0.25, 0.5, 0.75):
                pos = p * (n - 1) + 1
                lo = math.floor(pos)
                rns.update((lo, min(lo + 1, n)))
            out[g] = sorted(rns)
        return out

    sel, totals = RK.select_at_ranks(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        "o_totalprice",
        ["o_orderkey"],
        _cont_targets,
        partition_cols=["o_orderpriority"],
    )
    if not totals:  # empty input: VALUES () is invalid SQL (r05 advice)
        return spark.createDataFrame(
            [],
            "o_orderpriority string, p25 double, p50 double, p75 double",
        )
    probes = []
    for (pri,), n in totals.items():
        for label, p in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
            pos = p * (n - 1) + 1
            lo = math.floor(pos)
            probes.append(
                (pri, label, lo, min(lo + 1, n), pos - lo)
            )
    probe_df = RK.values_df(
        spark, probes,
        ["o_orderpriority", "p_label", "lo_rn", "hi_rn", "frac"],
    )
    hit = (
        probe_df.join(
            sel.select("o_orderpriority", "rn", "o_totalprice"),
            ["o_orderpriority"],
        )
        .filter(
            (F.col("rn") == F.col("lo_rn")) | (F.col("rn") == F.col("hi_rn"))
        )
        .groupBy("o_orderpriority", "p_label", "frac")
        .agg(
            F.min(
                F.when(F.col("rn") == F.col("lo_rn"), F.col("o_totalprice"))
            ).alias("v_lo"),
            F.min(
                F.when(F.col("rn") == F.col("hi_rn"), F.col("o_totalprice"))
            ).alias("v_hi"),
        )
        .withColumn(
            "v",
            F.col("v_lo")
            + (F.col("v_hi") - F.col("v_lo")) * F.col("frac").cast("double"),
        )
    )
    return (
        hit.groupBy("o_orderpriority")
        .pivot("p_label", ["p25", "p50", "p75"])
        .agg(F.min("v"))
        .orderBy("o_orderpriority")
    )


@query("events_chi2")
def events_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test (event_type × day-of-week) — the
    drift/association screen run before trusting a feature. Per-cell
    statistic exactly: (O·T − R·C)²/(R·C·T) with the numerator built
    from INTEGER cross-products (the KS/L1 trick), evaluated once per
    cell in double, then summed ORDER-FREE by casting each term to
    decimal(38,18) — summing the rounded doubles exactly instead of
    accumulating doubles in shuffle order. 35 cells at any scale; one
    aggregation pass plus two broadcast margins."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type"), F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("t"))
    terms = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "num",
            (F.col("o") * F.col("t") - F.col("r") * F.col("c")).cast(
                "double"
            ),
        )
        .withColumn(
            "term",
            (F.col("num") * F.col("num"))
            / (F.col("r") * F.col("c")).cast("double")
            / F.col("t").cast("double"),
        )
    )
    return terms.agg(
        F.sum(F.col("term").cast("decimal(38,18)"))
        .cast("double")
        .alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        ).alias("dof"),
        F.max("t").alias("n_events"),
    )


@query("revenue_trend_ols")
def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form least-squares trend over monthly revenue — the
    forecasting primitive behind capacity/quota dashboards, computed the
    way a 100 TB engine must: the five sufficient statistics (n, Σx,
    Σx², Σy, Σxy) come from ONE exact-decimal aggregation pass (x =
    absolute month number, y = monthly revenue), and slope/intercept/r²
    are a handful of driver-free scalar expressions on the single
    result row. Revenue is carried as integer CENTS in scale-0 decimals
    (a wide-decimal square would overflow precision 38; integers never
    round), so every sufficient statistic is exact and every double
    appears only in the final fixed-order expression tree — identical
    bits in both engines, no iterative solver, no float accumulation.
    Units: slope and intercept are cents/month and cents."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("decimal(18,0)")
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("x")
        )
        .agg(F.sum(cents).alias("y"))
    )
    stats = monthly.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    slope = (num / den_x).alias("slope")
    return stats.select(
        F.col("n").alias("n_months"),
        slope,
        (
            (
                F.col("sy").cast("double")
                - (num / den_x) * F.col("sx").cast("double")
            )
            / F.col("n")
        ).alias("intercept"),
        ((num * num) / (den_x * den_y)).alias("r2"),
    )


@query("hybrid_search_rrf")
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: Reciprocal Rank Fusion of the keyword leg
    (integer TF-IDF, same scoring as `keyword_search`) and the vector
    leg (exact cosine against doc 0's embedding — doc_id and vec_id are
    the same key space) — the standard fusion serving stacks run when
    neither lexical nor semantic recall alone suffices (Cormack et al.
    RRF, K=60). rrf = 1/(K+rank_kw) + 1/(K+rank_vec), absent legs
    contribute 0; the two-term double sum has a fixed addition order, so
    the score is engine-identical.

    Scale shape: each leg is a distributed top-50 (sort+limit —
    TakeOrderedAndProject, never a global window over the corpus), the
    50-row legs full-outer join on doc_id, and the final top-10 sorts 99
    rows. The deliberate contrast with `cosine_topk`'s per-qid window:
    a SINGLE-query retrieval must top-k first, rank after."""
    ensure_deterministic(spark)
    K = 60
    TERMS = ["hash", "join", "stream"]
    SCALE = 10**9
    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(TX.tokens()).alias("tok")
    ).filter(F.col("tok").isin(TERMS))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.withColumn(
        "idf_int", F.expr(f"CAST({SCALE} AS BIGINT) * {n_docs} div df")
    )
    kw_top = (
        tf.join(F.broadcast(idf), "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf_int")).alias("score_int"))
        .orderBy(F.desc("score_int"), F.asc("doc_id"))
        .limit(50)
    )
    kw = kw_top.withColumn(
        "kw_rank",
        F.row_number().over(
            Window.orderBy(F.desc("score_int"), F.asc("doc_id"))
        ),
    ).select("doc_id", "kw_rank")

    emb = read_table(spark, sf_dir, "embeddings")
    q = SIM._prepared(emb.filter(F.col("vec_id") == 0), "vec_id",
                      "embedding", "q", 64)
    c = SIM._prepared(emb.filter(F.col("vec_id") != 0), "vec_id",
                      "embedding", "n", 64)
    from ..functions.vectors import dot_unrolled

    vec_top = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "cos_sim",
            dot_unrolled("qvec", "nvec", 64)
            / (F.col("qnorm") * F.col("nnorm")),
        )
        .select(F.col("nid").alias("doc_id"), "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(50)
    )
    vec = vec_top.withColumn(
        "vec_rank",
        F.row_number().over(
            Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        ),
    ).select("doc_id", "vec_rank")

    fused = (
        kw.join(vec, "doc_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.coalesce(
                F.lit(1.0) / (F.lit(K) + F.col("kw_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(K) + F.col("vec_rank")), F.lit(0.0)
            ),
        )
    )
    return (
        fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            F.col("kw_rank").cast("int").alias("kw_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
            "rrf_score",
        )
    )


# ---------------------------------------------------------------------------
# Round-3 continuation wave: CDC compaction, graph metrics, stream-static
# enrichment, containment dedup, PQ codes, robust outlier screen.
# ---------------------------------------------------------------------------


@query("cdc_snapshot")
def cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (CDC apply): events as a keyed change stream —
    every row an upsert for its user except ``error`` events, which are
    tombstones. Last-writer-wins by (ts, event_id); users whose final op
    is a delete vanish from the snapshot. Generalizes the reference
    ledger's applied/rolled_back state machine
    (internal/tracker/tracker.go:99,118) to arbitrary keyed CDC. One
    hash-shuffle on the key, no joins (operators/cdc.py)."""
    from ..operators import cdc as CDC

    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    changes = ev.withColumn(
        "op", F.when(F.col("event_type") == "error", "D").otherwise("U")
    )
    snap = CDC.compact_changelog(
        changes, key_cols=["user_id"], order_cols=["ts", "event_id"]
    )
    return snap.select(
        "user_id",
        fmt_ts(F.col("ts"), "last_ts", micros=True),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        "n_changes",
    ).orderBy("user_id")


@query("triangle_count")
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts over the near-dup pair graph — the
    graph-quality signal that distinguishes tight duplicate cliques from
    chains of borderline pairs (a doc in many triangles sits in a dense
    mirror cluster; a bridge doc sits in none). Edges come from the
    session-shared 3-gram Jaccard pair graph (same candidates as
    dedup_clusters). The join is the oriented edge-iterator: edges stored
    a<b only, wedges b→c extended from a→b, closed by an a→c equi-join —
    each triangle counted exactly once, work bounded by Σ d(v)² on the
    capped graph, never N²."""
    ensure_deterministic(spark)
    e = _ngram_pairs_shared(spark, sf_dir)
    e1 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return (
        nodes.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("doc_id")
    )


@query("events_enrich_stream")
def events_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical streaming-ETL shape
    Structured Streaming executes without state: each micro-batch of the
    event stream broadcast-joins the static customer→nation dimension
    (rebuilt per batch, so dim updates are picked up), then feeds a
    running revenue-by-nation aggregate. Drained with availableNow into a
    complete-mode sink, the result must equal the batch join+agg exactly
    — which is the oracle."""
    from ..session import shuffle_width
    from ..streaming import events as SE

    ensure_deterministic(spark)
    # width 4 (r09 sweep): w32 1.23-1.39 s vs w4 0.79-0.96 s at sf0.1
    with shuffle_width(spark, min(4, spark.sparkContext.defaultParallelism)):
        stream = SE.read_events_stream(spark, sf_dir)
        cust = read_table(spark, sf_dir, "customer")
        nat = read_table(spark, sf_dir, "nation")
        dim = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
            "c_custkey", "n_name"
        )
        joined = stream.join(
            F.broadcast(dim), stream.user_id == dim.c_custkey
        )
        agg = joined.groupBy("n_name").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        out = SE.run_to_memory(agg, output_mode="complete")
    return out.orderBy("n_name")


@query("containment_pairs")
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric doc-in-doc near-dup screen: shingle CONTAINMENT
    c(A,B) = |A∩B|/|A| over the capped 3-gram space — catches a page
    that fully embeds another doc where symmetric Jaccard stays below
    every threshold (operators/dedup.py:containment_pairs). Same
    sub-quadratic shingle equi-join shape as ngram_jaccard_pairs."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return DD.containment_pairs(docs, threshold=0.5).orderBy(
        "doc_a", "doc_b"
    )


@query("pq_codes")
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jégou IVF-ADC building block): every
    64-dim embedding → 8 hex sub-codes + distortion, codebook = the first
    16 corpus vectors (same deterministic seeding as similarity_ivf).
    256 B/vector becomes 8 half-bytes — the compression that lets a
    100 TB ANN index live in executor memory. All column expressions
    with explicit add chains, so the oracle is bit-exact."""
    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    codebook = emb.filter(F.col("vec_id") < 16)
    return SIM.pq_encode(emb, codebook).orderBy("vec_id")


@query("value_outliers")
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (IQR-fence) outlier screen per event type — the standard
    data-quality gate before metric aggregation. Quartiles by the
    nearest-rank definition (value at row ceil(p·n) of the sorted group)
    rather than interpolation: rank selection is engine-portable where
    interpolated percentile arithmetic is not. Two passes: a rank-1
    window computes the per-type fences, then a broadcast join + count
    classifies every event against them."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type", "value",
        F.row_number().over(w.orderBy("value", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    q = (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("n") + 3) / 4))
            | (F.col("rn") == F.floor((F.col("n") * 3 + 3) / 4))
        )
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rn") == F.floor((F.col("n") + 3) / 4),
                         F.col("value"))).alias("q1"),
            F.min(F.when(F.col("rn") == F.floor((F.col("n") * 3 + 3) / 4),
                         F.col("value"))).alias("q3"),
        )
        .withColumn("lo", F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
        .withColumn("hi", F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("q1").alias("q1"),
            F.min("q3").alias("q3"),
            F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_low"),
            F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_high"),
        )
        .orderBy("event_type")
    )


@query("events_attribution_stream")
def events_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT-OUTER interval join: every purchase attributed
    to the same user's clicks in the 10 minutes before it — zero-click
    purchases included, which is the part only a watermarked OUTER join
    can stream (unmatched state must expire before it can emit).
    End-of-stream flush is driven by the heartbeat/punctuation pattern
    (streaming/events.py:heartbeat_stream_dir): a far-future heartbeat
    row pushes the watermark past every real event and the trailing
    no-data batch emits the flushed state; the per-side type filters
    deliberately keep the heartbeat alive through the pushed parquet
    scan so the watermark node sees it. Drained append-mode, then a
    batch rollup per purchase — which is exactly the batch left-join
    oracle."""
    from ..session import shuffle_width
    from ..streaming import events as SE

    ensure_deterministic(spark)
    # state-sized width, same rationale as events_copair_stream: the two
    # join state stores cost open/commit per partition per micro-batch
    # (width 4 measured fastest at sf0.1 — r04 streaming trim)
    with shuffle_width(spark, min(4, spark.sparkContext.defaultParallelism)):
        with_clicks = SE.run_to_memory(
            SE.attribution_join(spark, sf_dir), output_mode="append"
        )
    return (
        with_clicks.filter(F.col("purchase_id") >= 0)
        .groupBy("purchase_id", "user_id")
        .agg(F.count("click_id").alias("n_clicks"))
        .orderBy("purchase_id")
    )


@query("count_min_users")
def count_min_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE Count-Min frequency sketch: per-user event counts
    estimated from a 4×64-cell CM sketch built on md5 bucket indices
    (operators/approx.py:count_min_sketch) next to the exact counts —
    the one-sided-error guarantee est ≥ exact is thereby IN the result
    and oracle-checked. Companion to approx_distinct_kmv: the two
    classic streaming sketches (cardinality, frequency) both carried
    with full cross-engine value oracles where engine-native sketches
    (HLL, Spark's count_min_sketch) can never have one. At 100 TB the
    sketch is a 256-cell mergeable combine instead of a per-key
    shuffle."""
    from ..operators import approx as AP

    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    cells = AP.count_min_sketch(ev, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = AP.count_min_estimate(exact, cells, "user_id")
    return (
        exact.join(est, "user_id")
        .select("user_id", "exact_n", "cm_est")
        .orderBy("user_id")
    )


@query("sampled_quantiles")
def sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation by deterministic bottom-k hash
    sampling: each event type keeps the 200 rows with the smallest
    md5(event_id) (a uniform, engine-portable coin), and the p50/p90 are
    read off the sample by nearest rank, next to the exact nearest-rank
    values so the estimation error is part of the oracle-checked result.
    Bottom-k samples merge by union+re-rank (the KMV trick applied to
    quantiles), so at 100 TB each partition contributes its local
    bottom-k and only d×k rows ever cross the wire — against a full
    per-group sort for the exact path."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value",
        F.md5(F.col("event_id").cast("string")).alias("coin"),
    )
    wq = Window.partitionBy("event_type")

    # sample: bottom-200 by the hash coin, per type
    sample = (
        ev.withColumn(
            "srn", F.row_number().over(wq.orderBy("coin", "event_id"))
        )
        .filter(F.col("srn") <= 200)
        .select("event_type", "event_id", "value")
    )

    def q_at(df, label):
        ranked = df.select(
            "event_type", "value",
            F.row_number().over(wq.orderBy("value", "event_id")).alias("rn"),
            F.count(F.lit(1)).over(wq).alias("n"),
        )
        p50 = F.ceil(F.col("n") * 0.5)
        p90 = F.ceil(F.col("n") * 0.9)
        return ranked.groupBy("event_type").agg(
            F.min(F.when(F.col("rn") == p50, F.col("value"))).alias(
                f"p50_{label}"
            ),
            F.min(F.when(F.col("rn") == p90, F.col("value"))).alias(
                f"p90_{label}"
            ),
            F.max("n").alias(f"n_{label}"),
        )

    exact = q_at(ev, "exact")
    est = q_at(sample, "sample")
    return (
        exact.join(est, "event_type")
        .select(
            "event_type", "n_exact", "n_sample",
            "p50_exact", "p50_sample", "p90_exact", "p90_sample",
        )
        .orderBy("event_type")
    )


@query("bloom_screen")
def bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE Bloom-filter pre-join screen — the third classic sketch
    next to KMV (cardinality) and Count-Min (frequency), again with a
    full cross-engine oracle. The filter (k=3, m=1024) is built over the
    users who ever emitted an error event; every event then probes it.
    The result carries bloom hits AND exact membership per event type,
    so the one-sided guarantee (no false negatives; measured false
    positives) is itself oracle-checked. At 100 TB this is the
    shuffle-avoidance pattern: the ≤1024-row bit table broadcasts to
    every scan task and non-members drop before the join; Spark's
    runtime-filter bloom does this adaptively, this operator is the
    explicit, engine-portable form."""
    from ..operators import approx as AP

    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    flagged = ev.filter(F.col("event_type") == "error").select("user_id")
    bits = AP.bloom_build(flagged, "user_id")
    probed = AP.bloom_probe(ev, bits, "user_id")
    member = flagged.distinct().withColumn("is_member", F.lit(True))
    return (
        probed.join(member, "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
            F.sum(
                F.coalesce(F.col("is_member"), F.lit(False)).cast("long")
            ).alias("n_true_members"),
            F.sum(
                (
                    F.col("bloom_hit")
                    & ~F.coalesce(F.col("is_member"), F.lit(False))
                ).cast("long")
            ).alias("n_false_positives"),
        )
        .orderBy("event_type")
    )


@query("similarity_ivfpq")
def similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC retrieval — the billion-scale ANN serving pipeline
    composed from this repo's own parts: IVF coarse cells
    (similarity_ivf's assignment) prune candidates, PQ codes (pq_codes'
    assignment) replace the index-side floats, and ranking runs on
    asymmetric distance (exact query subvectors vs candidate codewords).
    Deterministic seeding throughout (centroids and codebook = the first
    16 corpus vectors), explicit add chains, (adc_dist, nid) total order
    — fully oracle-checked. Recall vs exact cosine is pytest-asserted."""
    import numpy as np

    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    centroid_rows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    centroids = np.array([r.embedding for r in centroid_rows], dtype=np.float64)
    codebook = emb.filter(F.col("vec_id") < 16)
    queries_df = emb.filter(F.col("vec_id") < 50)
    return SIM.ivfpq_topk(
        emb, queries_df, centroids, codebook, k=5, nprobe=2
    ).orderBy("qid", "rnk")


@query("ledger_asof")
def ledger_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal AS-OF reconstruction of the migration ledger: the
    current-state table is exploded into its implied event history (an
    'applied' event at applied_at; rolled-back versions add a
    'rolled_back' event 5 minutes later — the reference mutates status
    in place, internal/tracker/tracker.go:99,118, so the history is the
    state machine's trajectory) and the ledger AS OF a past instant is
    the last event per version at or before it. This is the time-travel
    read every audited migration pipeline needs and the reference's
    schema cannot answer; one key-shuffle rank-1 window, the same CDC
    shape as cdc_snapshot."""
    ensure_deterministic(spark)
    ledger = fixtures.ledger_df(spark)
    applied_ev = ledger.select(
        "version", F.col("applied_at").alias("ev_ts"),
        F.lit("applied").alias("ev_status"),
    )
    rb_ev = (
        ledger.filter(F.col("status") == "rolled_back")
        .select(
            "version",
            (F.col("applied_at") + F.expr("INTERVAL 5 MINUTES")).alias("ev_ts"),
            F.lit("rolled_back").alias("ev_status"),
        )
    )
    events = applied_ev.unionByName(rb_ev)
    asof = F.lit("2024-01-01 00:06:30").cast("timestamp")
    w = Window.partitionBy("version")
    return (
        events.filter(F.col("ev_ts") <= asof)
        .withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.desc("ev_ts"), "ev_status")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "version",
            F.col("ev_status").alias("status_asof"),
            fmt_ts(F.col("ev_ts"), "as_of_ts"),
        )
        .orderBy("version")
    )


@query("hierarchical_rollup")
def hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup-tree correctness: the daily aggregate is computed FROM the
    hourly aggregate (partials of partials), never from raw — the
    materialized-view / hypertable continuous-aggregate pattern. Because
    every aggregate here is algebraic over exact decimals, re-aggregating
    hourly partials is bit-identical to aggregating raw, which is
    exactly what the oracle asserts (it computes the daily rollup
    directly from the events table). At 100 TB the tree turns a
    full-history scan into an incremental merge of per-hour partials."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).alias("sum_dec"),
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour_ts")).alias("day_ts"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
            F.count(F.lit(1)).alias("n_hours"),
        )
    )
    return daily.select(
        fmt_ts(F.col("day_ts"), "day"),
        "event_type", "n_events", "sum_value", "n_hours",
    ).orderBy("day", "event_type")


@query("user_retention_cohorts")
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics read:
    users are cohorted by the week of their FIRST event; each (cohort
    week, weeks-since) cell counts the distinct users active that many
    weeks later. Two shuffles total: the first-event argmin (map-side
    combinable min) and the distinct-count aggregate over the
    cohort-joined activity; the cohort frame joins back on user_id unhinted —
    auto-broadcast while it fits, a key shuffle at real user
    cardinality. Weeks are epoch-aligned 7-day buckets (UTC), so
    bucketing is pure integer arithmetic — portable and
    partition-prunable at 100 TB."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_micros(F.col("ts")) / (7 * 86400 * 1_000_000)).alias("wk"),
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("weeks_since"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_wk", "weeks_since")
    )


@query("dedup_consensus")
def dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble near-dup screen: the three independent candidate
    generators — MinHash-LSH bands (token shingles), exact n-gram
    Jaccard (threshold 0.1), and embedding-cosine LSH (threshold 0.4) —
    run over the same corpus and their pair sets merge with per-method
    flags. Production dedup pipelines vote across signals exactly like
    this: lexical screens miss paraphrases, embedding screens miss
    verbatim-but-short overlaps, and the union with provenance flags is
    what a reviewer or a downstream keep-one pass consumes. Each
    generator keeps its own sub-quadratic shape; the merge is a flagged
    union + ONE pair-keyed max-aggregate — no joins. (The first form
    left-joined each pair set back onto the union, which evaluated the
    MinHash subtree twice and dragged three pair-sized sort-merge
    joins behind it; at the ×10 sweep those joins spilled tens of GB
    before the aggregate form replaced them. Provenance merging is an
    OR per method — an aggregation, not a join.)"""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    mh = (
        DD.minhash_lsh_pairs(docs, hash_fn="md5")
        .select("doc_a", "doc_b").distinct()
    )
    # the n-gram and embedding pair sets come from the session-shared
    # materializations (built once, reused by the cluster/CC queries and
    # dedup_embedding — the production pattern: one candidate table,
    # many consumers)
    ng = _ngram_pairs_shared(spark, sf_dir)
    em = _emb_pairs_shared(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )

    def tagged(df: DataFrame, which: str) -> DataFrame:
        return df.select(
            "doc_a", "doc_b",
            F.lit(which == "mh").alias("by_minhash"),
            F.lit(which == "ng").alias("by_ngram"),
            F.lit(which == "em").alias("by_embedding"),
        )

    out = (
        tagged(mh, "mh")
        .unionByName(tagged(ng, "ng"))
        .unionByName(tagged(em, "em"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("by_minhash").alias("by_minhash"),
            F.max("by_ngram").alias("by_ngram"),
            F.max("by_embedding").alias("by_embedding"),
        )
        .withColumn(
            "n_methods",
            F.col("by_minhash").cast("int")
            + F.col("by_ngram").cast("int")
            + F.col("by_embedding").cast("int"),
        )
    )
    return out.orderBy("doc_a", "doc_b")


@query("orders_nested")
def orders_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type round trip: line items denormalized into an array of
    structs per order (the document/training-example shape a feature
    store or LLM-sample builder emits), serialized to canonical JSON for
    the cross-engine hash. Nesting is collect_list(struct) after an
    in-array sort (deterministic element order); the scalar rollups ride
    the same aggregation. At 100 TB this is one key-shuffle — the
    denormalize-for-serving pattern that replaces N downstream joins
    with one wide read."""
    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 5000
    )
    lines = li.select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("ln"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.col("l_partkey").alias("pk"),
        ).alias("line"),
    )
    return (
        lines.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("line.qty")).alias("total_qty"),
            F.to_json(F.array_sort(F.collect_list("line"))).alias(
                "lines_json"
            ),
        )
        .orderBy("l_orderkey")
    )


@query("events_copair_hourly_stream")
def events_copair_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED multi-stateful streaming: interval self-join → tumbling
    hourly aggregation inside ONE continuous query (join state + window
    state back to back — the multiple-stateful-operator pipeline shape).
    Append mode only emits finalized windows, so the heartbeat staging
    (streaming/events.py:heartbeat_stream_dir) pushes the watermark past
    end-of-stream exactly as in the outer-join query; heartbeat rows can
    never pair (singleton far-future user -1), so the aggregate is
    untouched. Oracle: the batch interval join grouped by hour."""
    from ..session import shuffle_width
    from ..streaming import events as SE

    ensure_deterministic(spark)
    staged = SE.heartbeat_stream_dir(
        sf_dir, app_id=spark.sparkContext.applicationId
    )
    # width 4: the r06 width sweep (w2 4.7-6.0, w3 3.8-3.9, w4 3.35-3.5,
    # w6 3.5, w8 3.6-4.0, w16 5.4 s quiet-box) moved the optimum down
    # from r05's w8 — per-partition store-commit overhead falls faster
    # than put-path parallelism pays past 4 state partitions. The r04
    # <3 s target is RE-BASELINED to <=4.5 s (r07): an sf0.001 drain of
    # the same plan (2k rows) measures 3.19 s — the fixed cost of two
    # trigger cycles x ~20 state-store commits + chained-stateful
    # incremental planning exceeds the old target at ZERO data volume,
    # so no data-path lever could ever close it. Full arithmetic in
    # SCALE.md "Chained-stateful floor" (r07 re-measure: pre-watermark
    # projection re-tested A/B-alternating and confirmed a no-op,
    # matching the r06 audit).
    with shuffle_width(spark, min(4, spark.sparkContext.defaultParallelism)):
        stream = SE.read_events_stream(
            spark, staged, max_files_per_trigger=2, glob="*.parquet"
        )
        out = SE.run_to_memory(
            SE.copair_hourly(stream), output_mode="append"
        )
    return out.orderBy("hour_bucket", "a_type", "b_type")


@query("augment_dropout")
def augment_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-dropout augmentation — the contrastive /
    denoising variant generator of a training pipeline, with the
    reproducibility constraint production augmentation needs: the
    per-position coin is md5(doc:pos), so a re-run (or the oracle)
    regenerates the identical variant. ~10% of positions drop; the
    augmented text travels as an md5 fingerprint, never as content.
    One explode + one groupBy, embarrassingly parallel."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(TX.tokens()).alias("pos", "tok"),
    )
    kept = toks.filter(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("pos"))), 1, 1
        ).isin(*"123456789abcdef")  # drop when first nibble = '0' (1/16)
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("aug_hash"),
        )
        .join(
            docs.select(
                "doc_id", F.size(TX.tokens()).alias("n_tokens")
            ),
            "doc_id",
        )
        .select("doc_id", "n_tokens", "n_kept", "aug_hash")
        .orderBy("doc_id")
    )


@query("bpe_first_merges")
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's inner loop, one iteration, corpus-wide: count
    every adjacent character pair inside every token occurrence and rank
    the top-20 merge candidates — exactly the statistic byte-pair
    encoding maximizes per merge step. Shape: token explode → in-token
    position explode (arrays of substrings, all JVM expressions) → one
    hash-groupBy; at 100 TB the pair count is a map-side-combinable sum
    over 2-char keys, and successive merge iterations re-run the same
    plan over the rewritten token stream."""
    ensure_deterministic(spark)
    # r10: spread the single-task scan (see bpe_apply_merge)
    docs = DD.spread_input(read_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(F.explode(TX.tokens()).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substr(tok, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


@query("bpe_apply_merge")
def bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE trainer iteration TWO — proof the loop actually closes:
    take the argmax merge from the corpus-wide pair count
    (bpe_first_merges' statistic, (count desc, pair) tiebreak), APPLY
    it to every token occurrence (symbols as a space-joined string;
    non-overlapping left-to-right replace == greedy BPE merge order in
    both engines), and recount adjacent SYMBOL pairs in the rewritten
    stream — the statistic the third merge would maximize. The merge
    choice is a bounded 1-row driver action (the documented
    centroid-style pattern); everything else is the same
    map-side-combinable hash-groupBy as iteration one. Output: the
    applied merge + the post-merge top-20 pair counts."""
    ensure_deterministic(spark)
    # r10 optimization round: the per-char regexp/transform chains run
    # BEFORE any exchange, i.e. inside the single-task fixture scan —
    # spread it (operators/dedup.spread_input rationale; no-op on
    # naturally partitioned inputs)
    docs = DD.spread_input(read_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(F.explode(TX.tokens()).alias("tok")).filter(
        F.length("tok") >= 2
    )
    first = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1),"
                    " i -> substr(tok, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(1)
        .collect()
    )
    top = first[0]["pair"]
    pat, rep = f"{top[0]} {top[1]}", top
    spaced = F.trim(F.regexp_replace(F.col("tok"), "(.)", "$1 "))
    merged = F.split(F.replace(spaced, F.lit(pat), F.lit(rep)), " ")
    sym_pairs = docs.select(
        F.explode(TX.tokens()).alias("tok")
    ).select(merged.alias("syms")).filter(F.size("syms") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("pair")
    )
    return (
        sym_pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
        .select(F.lit(rep).alias("applied_merge"), "pair", "n")
    )


@query("unigram_score")
def unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable unigram language-model scoring WITHOUT logarithms: a
    doc's commonness score is the integer sum of its tokens' corpus
    frequencies, normalized by (doc length × corpus tokens) in a single
    final division. Log-probability scoring is the standard quality /
    domain-fit signal, but libm logs are not bit-portable — the rational
    form keeps every aggregate in exact integers so the oracle matches
    bit-for-bit at any parallelism, same trick as keyword_search's
    integer TF-IDF. Two hash-groupBys + one broadcast-back join."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens()).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    n_total = toks.count()
    scored = (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cf").alias("cf_sum"),
        )
        .withColumn(
            "avg_unigram_p",
            F.col("cf_sum").cast("double")
            / (F.col("n_tokens") * F.lit(n_total)).cast("double"),
        )
    )
    return scored.select(
        "doc_id", "n_tokens", "cf_sum", "avg_unigram_p"
    ).orderBy("doc_id")


@query("jaccard_est_error")
def jaccard_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: MinHash's estimated Jaccard (k equal
    components out of 32) joined against the EXACT shingle Jaccard for
    the same pairs, rolled up into error statistics per estimate decile.
    This is the measurement that justifies a banding config in
    production. All error arithmetic stays rational — |k·u − 32·c| over
    32·u with integer numerators — so the only floats are final
    divisions and the exact-decimal error sum, oracle-checked
    bit-for-bit."""
    ensure_deterministic(spark)
    # r10 optimization round: both calibration queries (this and
    # minhash_band_scurve) derive from the SAME two pair sets — the
    # threshold-0 exact pairs and the banded candidates — now shared
    # per (app, sf) like the other dedup-graph intermediates.
    mh = _mh_pairs_shared(spark, sf_dir).select(
        "doc_a", "doc_b",
        F.round(F.col("est_jaccard") * 32).cast("long").alias("k"),
    )
    exact = _ngram_pairs_t0_shared(spark, sf_dir)
    joined = mh.join(exact, ["doc_a", "doc_b"], "inner")
    per_pair = joined.select(
        F.expr("CAST((10 * k) div 32 AS INT)").alias("est_decile"),
        F.abs(F.col("k") * F.col("u") - 32 * F.col("common")).alias("num"),
        (32 * F.col("u")).alias("den"),
    ).withColumn("abs_err", F.col("num").cast("double") / F.col("den"))
    return (
        per_pair.groupBy("est_decile")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dsum(F.col("abs_err"), "sum_abs_err"),
            (
                F.sum(F.col("abs_err").cast(_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_abs_err"),
        )
        .orderBy("est_decile")
    )


@query("mmr_rerank")
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity re-ranking (Maximal Marginal Relevance): the first 10
    vectors, as queries, pick 5 of their top-20 cosine candidates by the
    greedy λ·rel − (1−λ)·max-sim-to-selected rule (λ=0.7) — the standard
    RAG retrieval refinement that plain top-k cannot express. Greedy
    steps unroll into 5 plan stages over ≤20 candidates per query; the
    oracle unrolls the identical stages in SQL
    (operators/similarity.py:mmr_rerank)."""
    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return SIM.mmr_rerank(emb, queries_df, k=5, pool=20).orderBy(
        "qid", "mmr_rank"
    )


@query("winnowing_fingerprints")
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style robust winnowing (Schleimer/Wilkerson/Aiken SIGMOD'03)
    over the corpus: per document, select the min-hash of every window
    of w=4 consecutive 4-gram hashes (rightmost tie-break) and report
    the fingerprint profile — count, density vs total grams, and exact
    value digests (mod-sum / min / max of the selected signed-64 md5
    heads) the oracle replays bit-for-bit. Generalizes the reference's
    whole-file SHA-256 identity (internal/migration/migration.go:19-23)
    to position-robust content fingerprints. Everything is per-document
    (operators/dedup.py:winnow_fingerprints — hash shuffle on doc_id,
    bounded ×w explode, no global sort), so the shape is
    embarrassingly parallel at corpus scale."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    fps = DD.winnow_fingerprints(docs, k=4, w=4)
    agg = fps.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.sum(F.col("hval") % F.lit(1000000007)).alias("fp_modsum"),
        F.min("hval").alias("fp_min"),
        F.max("hval").alias("fp_max"),
    )
    ngrams = docs.select(
        "doc_id",
        F.greatest(F.size(TX.tokens("text")) - F.lit(3), F.lit(0))
        .cast("long")
        .alias("n_grams"),
    )
    return (
        ngrams.join(agg.withColumnRenamed("doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
            F.when(
                F.col("n_grams") > 0,
                F.coalesce("n_fps", F.lit(0)) / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("fp_density"),
            F.coalesce("fp_modsum", F.lit(0)).cast("long").alias("fp_modsum"),
            F.coalesce("fp_min", F.lit(0)).cast("long").alias("fp_min"),
            F.coalesce("fp_max", F.lit(0)).cast("long").alias("fp_max"),
        )
        .orderBy("doc_id")
    )


@query("semdedup_embeddings")
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup = fixed-point k-means
    clustering + exact 64-dim cosine pruning WITHIN clusters only — the
    clusters bound the quadratic pair blow-up, which is why this scales
    where dedup_embedding's LSH buckets trade recall for speed. Keeps
    the smallest-id representative of every semantic duplicate set
    (cosine ≥ τ=0.3 to a smaller-id cluster-mate → removed). The whole
    trajectory (Lloyd iterations in integer arithmetic + sequential-fold
    cosine) is bit-exact, so the oracle replays clustering AND pruning
    (operators/similarity.py:semdedup_flags).

    r06 growth fix: k SCALES with the corpus — k = max(4, ceil(N/500))
    — which is SemDeDup's own prescription (k ~ N/target_cluster_size).
    The r06 growth sweep measured the fixed-k form super-linear
    (exponent 2.18 on the x3→x10 leg: clusters grow linearly, so the
    within-cluster n² does the quadratic work the clustering exists to
    bound); with scaled k, per-cluster pair counts stay ~constant and
    the chain is output-linear. Every certified fixture has ≤2000
    vectors, so k resolves to 4 there and all recorded hashes stand;
    the oracle computes the identical k from COUNT(*). The count() is
    one O(1)-row driver action, same documented class as the two-pass
    rank offsets."""
    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    k = max(4, -(-emb.count() // 500))
    return SIM.semdedup_flags(
        emb, k=k, dims=16, iters=2, tau=0.3, dim=64
    ).orderBy("vec_id")


@query("moss_matches")
def moss_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS match step over the corpus: top-25 document pairs by
    shared winnowed fingerprints (k=4, w=4, hot-fingerprint cap 50) with
    containment ratio against the smaller fingerprint set. This is what
    the winnowing_fingerprints profile exists FOR — ranking
    partial-overlap pairs the way the plagiarism-detection service does
    (Schleimer/Wilkerson/Aiken SIGMOD'03 §4). Candidate generation is an
    equi-join on the 8-byte fingerprint value after the df cap — the same
    sub-quadratic shape as ngram_jaccard_pairs, never all-pairs."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    return (
        DD.moss_match_pairs(docs, k=4, w=4, max_df=50)
        .orderBy(
            F.desc("shared"), F.asc("doc_a"), F.asc("doc_b")
        )
        .limit(25)
    )


@query("fuzzy_name_pairs")
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 fuzzy SELF-JOIN via the FastSS deletion
    neighborhood (operators/dedup.fastss_pairs): candidate duplicate
    customer records whose names are ONE keystroke apart — the classic
    entity-resolution reconciliation (typo_distance is the scalar; this
    is the join). Candidates come from a delete-1 signature equi-join
    (O(Σ len) signature rows, NO all-pairs anywhere), verification is
    exact levenshtein == 1 — the same integer DP in both engines. Each
    pair carries both balances and a same-segment flag (same-segment
    near-identical names are the merge candidates). The query scopes to
    the c_custkey < 1000 reconciliation batch for a bounded, sf-stable
    result; the operator itself runs uncapped at corpus scale — at 10⁹
    names it is still one hash join on 8-40-byte signature strings."""
    ensure_deterministic(spark)
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 1000
    )
    pairs = DD.fastss_pairs(
        cust.select(F.col("c_name").alias("term")), term_col="term",
        min_len=4,
    )
    a = cust.select(
        F.col("c_name").alias("term_a"),
        F.col("c_acctbal").alias("bal_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    b = cust.select(
        F.col("c_name").alias("term_b"),
        F.col("c_acctbal").alias("bal_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    return (
        pairs.join(a, "term_a")
        .join(b, "term_b")
        .select(
            F.col("term_a").alias("name_a"),
            F.col("term_b").alias("name_b"),
            "bal_a",
            "bal_b",
            (F.col("seg_a") == F.col("seg_b")).cast("int").alias(
                "same_segment"
            ),
        )
        .orderBy("name_a", "name_b")
    )


@query("bm25_search")
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson/Walker, Okapi TREC-3) for the fixed
    query ('hash', 'join', 'stream') with k1=1.2, b=0.75: adds the two
    things keyword_search's raw TF-IDF lacks — tf saturation and document
    -length normalization. Log-free idf (the unigram_score discipline):
    idf = ((10^9·N) div df) / 10^9, an exact integer ratio, so no
    engine's ln() is in the pipeline; every remaining double op (the
    per-term saturation ratio, the fixed-order 3-term sum) is written
    with identical literals and left-to-right order in Spark and the
    oracle, keeping scores bit-identical. Shape: term filter prunes the
    token stream to 3 terms immediately; df and the (N, avgdl) scalars
    are 1-row broadcasts; one hash aggregation per doc — the standard
    posting-list scan at 100 TB."""
    ensure_deterministic(spark)
    TERMS = ["hash", "join", "stream"]
    SCALE = 10**9
    K1, B = 1.2, 0.75
    docs = read_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(TX.tokens("text")).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    toks = docs.select(
        "doc_id", F.explode(TX.tokens("text")).alias("tok")
    ).filter(F.col("tok").isin(TERMS))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # per-doc term columns in FIXED order so the 3-term sum is
    # left-to-right identical on both engines
    wide = tf.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tok") == t, F.col("tf")).otherwise(0)).alias(
                f"tf_{t}"
            )
            for t in TERMS
        ]
    )
    # 3 rows (one per query term) — a bounded driver-side lookup, same
    # contract as keyword_search's n_docs scalar
    idf = {
        r["tok"]: r["idf_int"]
        for r in df_t.join(F.broadcast(stats.select("n_docs")))
        .select(
            "tok",
            F.expr(f"CAST({SCALE} AS BIGINT) * n_docs div df").alias(
                "idf_int"
            ),
        )
        .collect()
    }
    scored = wide.join(dl, "doc_id").join(F.broadcast(stats))

    def term_score(t: str):
        tfc = F.col(f"tf_{t}").cast("double")
        norm = F.lit(K1) * (
            F.lit(1.0)
            - F.lit(B)
            + F.lit(B)
            * F.col("dl").cast("double")
            / (
                F.col("total_dl").cast("double")
                / F.col("n_docs").cast("double")
            )
        )
        idf_d = F.lit(int(idf.get(t, 0))).cast("double") / F.lit(
            float(SCALE)
        )
        return F.when(
            F.col(f"tf_{t}") > 0,
            idf_d * (tfc * F.lit(K1 + 1.0)) / (tfc + norm),
        ).otherwise(F.lit(0.0))

    s = term_score(TERMS[0])
    for t in TERMS[1:]:
        s = s + term_score(t)
    return (
        scored.withColumn("bm25", s)
        .select(
            "doc_id",
            "dl",
            *[F.col(f"tf_{t}").cast("long").alias(f"tf_{t}") for t in TERMS],
            "bm25",
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@query("ann_recall_curve")
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k calibration of the LSH ANN index against exact search —
    the "measure, don't guess" loop for the similarity family (the ANN
    twin of jaccard_est_error's MinHash calibration): for the same 50
    queries and the same index parameters as similarity_ann_lsh (8 bits,
    2 tables, 1 probe), what fraction of the TRUE top-k does the index
    return at k = 1, 5, 10? Both legs are bit-exact (Arrow kernel
    sequential-fold cosine on the exact leg, md5-literal hyperplanes on
    the ANN leg), so even this meta-query has a full value oracle. Exact
    integer hit counts; one double division at the end."""
    from ..functions.portable_hash import lsh_component

    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 50)
    exact = SIM.cosine_topk_arrow(emb, queries_df, k=10).select(
        "qid", "nid", F.col("rnk").alias("e_rnk")
    )
    ann = SIM.ann_lsh_topk(
        emb, queries_df, k=10, num_bits=8, num_probes=1,
        components=lsh_component,
    ).select("qid", "nid", F.col("rnk").alias("a_rnk"))
    nq = queries_df.agg(
        F.countDistinct("vec_id").alias("n_queries")
    )
    hits = exact.join(ann, ["qid", "nid"]).agg(
        *[
            F.sum(
                F.when(
                    (F.col("e_rnk") <= kk) & (F.col("a_rnk") <= kk), 1
                ).otherwise(0)
            ).alias(f"h{kk}")
            for kk in (1, 5, 10)
        ]
    )
    curve = hits.join(F.broadcast(nq)).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(kk).alias("k"),
                        F.col(f"h{kk}").cast("long").alias("hits"),
                    )
                    for kk in (1, 5, 10)
                ]
            )
        ).alias("s"),
        "n_queries",
    )
    return curve.select(
        F.col("s.k").alias("k"),
        F.col("s.hits").alias("hits"),
        F.col("n_queries").cast("long").alias("n_queries"),
        (
            F.col("s.hits").cast("double")
            / (F.col("n_queries") * F.col("s.k")).cast("double")
        ).alias("recall"),
    ).orderBy("k")


@query("retrieval_eval")
def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR / NDCG@10 of the three lexical-side retrieval systems —
    keyword (integer TF-IDF), BM25, hybrid RRF — against the exact
    -cosine ranking as graded relevance (gain = 11 − cos_rank for the
    top-10, 0 otherwise). The lexical twin of `ann_recall_curve`'s
    vector-side calibration: "measure, don't guess" for the retrieval
    family.

    Determinism: NDCG discounts are frozen driver-side integers
    (functions/retrieval_metrics.py), so DCG is an exact integer sum
    and every emitted float is ONE division of exactly representable
    integers. Scale shape: each system ranking is a distributed
    top-k (TakeOrderedAndProject) with the rank window applied only
    after the limit; gains/discounts join by broadcast; the metric
    aggregation touches ≤30 rows."""
    from ..functions.retrieval_metrics import DISCOUNTS_INT, IDCG_INT, K_EVAL
    from ..functions.vectors import dot_unrolled

    ensure_deterministic(spark)
    TERMS = ["hash", "join", "stream"]
    SCALE = 10**9
    K1, B = 1.2, 0.75
    RRF_K = 60
    docs = read_table(spark, sf_dir, "documents")

    # --- shared lexical statistics (keyword_search / bm25_search shapes)
    # r11 (verdict item 5): the tf posting list feeds the keyword leg,
    # the bm25 wide pivot AND the df/idf statistics; dl feeds stats and
    # the bm25 norm. Both are LAZY-localCheckpointed (the ivf_probe_curve
    # precedent — one RDD shared by every consumer, branch parallelism
    # intact), and the three driver actions the query ran up front
    # (docs.count, idf collect — plus stats' distributed agg later) fuse
    # into ONE ≤3-row collect of df_t × stats, from which n_docs,
    # total_dl and the exact integer idf table are derived driver-side.
    dl = docs.select(
        "doc_id", F.size(TX.tokens("text")).cast("long").alias("dl")
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    toks = docs.select(
        "doc_id", F.explode(TX.tokens("text")).alias("tok")
    ).filter(F.col("tok").isin(TERMS))
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    lex = df_t.crossJoin(F.broadcast(stats)).collect()
    if lex:
        n_docs = int(lex[0]["n_docs"])
        total_dl = int(lex[0]["total_dl"])
    else:  # no term matched: stats still needed for the bm25 norm
        srow = stats.collect()[0]
        n_docs = int(srow["n_docs"])
        total_dl = int(srow["total_dl"] or 0)
    # exact integer idf, computed driver-side from the same values the
    # old per-row `CAST(SCALE AS BIGINT) * n_docs div df` produced
    idf_rows = [
        (r["tok"], (SCALE * n_docs) // int(r["df"])) for r in lex
    ]
    idf = (
        RK.values_df(spark, idf_rows, ["tok", "idf_int"])
        if idf_rows
        else spark.createDataFrame([], "tok string, idf_int bigint")
    )

    # --- keyword leg: integer TF-IDF, ranked top-50 (top-10 is a filter)
    kw_scored = (
        tf.join(F.broadcast(idf), "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf_int")).alias("score_int"))
    )
    kw50 = (
        kw_scored.orderBy(F.desc("score_int"), F.asc("doc_id"))
        .limit(50)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("score_int"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "rnk")
        # consumed twice (systems + RRF fusion): share one RDD (r11)
        .localCheckpoint(eager=False)
    )

    # --- vector leg: exact cosine vs doc 0 (also defines relevance)
    emb = read_table(spark, sf_dir, "embeddings")
    q = SIM._prepared(
        emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", "q", 64
    )
    c = SIM._prepared(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", "n", 64
    )
    cos = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "cos_sim",
            dot_unrolled("qvec", "nvec", 64)
            / (F.col("qnorm") * F.col("nnorm")),
        )
        .select(F.col("nid").alias("doc_id"), "cos_sim")
    )
    vec50 = (
        cos.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(50)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "rnk")
        # consumed twice (relevance gains + RRF fusion): share one RDD
        .localCheckpoint(eager=False)
    )
    rel = vec50.filter(F.col("rnk") <= K_EVAL).select(
        "doc_id", (F.lit(K_EVAL + 1) - F.col("rnk")).alias("gain")
    )

    # --- bm25 leg (bm25_search scoring, ranked top-10)
    wide = tf.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tok") == t, F.col("tf")).otherwise(0)).alias(
                f"tf_{t}"
            )
            for t in TERMS
        ]
    )
    # idf_map comes from the same fused collect — no extra action; the
    # bm25 norm's corpus constants become literals of the SAME long
    # values the broadcast stats row carried (identical IEEE division)
    idf_map = {tok: v for tok, v in idf_rows}
    bscored = wide.join(dl, "doc_id")

    def term_score(t: str):
        tfc = F.col(f"tf_{t}").cast("double")
        norm = F.lit(K1) * (
            F.lit(1.0)
            - F.lit(B)
            + F.lit(B)
            * F.col("dl").cast("double")
            / (
                F.lit(total_dl).cast("double")
                / F.lit(n_docs).cast("double")
            )
        )
        idf_d = F.lit(int(idf_map.get(t, 0))).cast("double") / F.lit(
            float(SCALE)
        )
        return F.when(
            F.col(f"tf_{t}") > 0,
            idf_d * (tfc * F.lit(K1 + 1.0)) / (tfc + norm),
        ).otherwise(F.lit(0.0))

    s = term_score(TERMS[0])
    for t in TERMS[1:]:
        s = s + term_score(t)
    bm10 = (
        bscored.withColumn("bm25", s)
        .select("doc_id", "bm25")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(K_EVAL)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "rnk")
    )

    # --- hybrid leg: RRF fusion of the two 50-deep legs, top-10
    fused = (
        kw50.withColumnRenamed("rnk", "kw_rank")
        .join(
            vec50.withColumnRenamed("rnk", "vec_rank"), "doc_id", "full_outer"
        )
        .withColumn(
            "rrf_score",
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("kw_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)
            ),
        )
    )
    hy10 = (
        fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(K_EVAL)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "rnk")
    )

    systems = (
        kw50.filter(F.col("rnk") <= K_EVAL)
        .select(F.lit("keyword").alias("system"), "doc_id", "rnk")
        .unionByName(
            bm10.select(F.lit("bm25").alias("system"), "doc_id", "rnk")
        )
        .unionByName(
            hy10.select(F.lit("hybrid_rrf").alias("system"), "doc_id", "rnk")
        )
    )
    disc_df = RK.values_df(
        spark,
        [(pos, DISCOUNTS_INT[pos - 1]) for pos in range(1, K_EVAL + 1)],
        ["rnk", "disc_int"],
    )
    per = (
        systems.join(F.broadcast(disc_df), "rnk")
        .join(F.broadcast(rel), "doc_id", "left")
        .groupBy("system")
        .agg(
            F.sum(
                F.when(
                    F.col("gain").isNotNull(),
                    F.col("gain") * F.col("disc_int"),
                ).otherwise(F.lit(0))
            ).alias("dcg_int"),
            F.min(
                F.when(F.col("gain").isNotNull(), F.col("rnk"))
            ).alias("first_rel"),
            F.sum(F.col("gain").isNotNull().cast("int")).alias("hits"),
        )
    )
    return (
        per.select(
            "system",
            F.coalesce(F.col("first_rel"), F.lit(0))
            .cast("int")
            .alias("first_rel_rank"),
            F.col("hits").cast("long").alias("hits_at_k"),
            F.when(
                F.col("first_rel").isNotNull(),
                F.lit(1.0) / F.col("first_rel"),
            )
            .otherwise(F.lit(0.0))
            .alias("mrr"),
            F.col("dcg_int").cast("long").alias("dcg_int"),
            (
                F.col("dcg_int").cast("double")
                / F.lit(IDCG_INT).cast("double")
            ).alias("ndcg"),
        )
        .orderBy("system")
    )


@query("dedup_aware_split")
def dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/val/test split: the split key is the
    near-dup CLUSTER, not the document, so verbatim/near copies of one
    text can never straddle train and eval (the leakage
    `contamination_check` measures after the fact, prevented by
    construction). Clusters come from the session-shared connected
    components over the n-gram Jaccard pair graph; the assignment is
    the same md5-prefix bucketing as `train_val_test_split` applied to
    the cluster id — deterministic, stable under corpus growth, and
    shuffle-free past the cluster labels themselves (the hash is a
    narrow projection). At 100 TB the pair graph + CC already run at
    dedup scale; this query adds one md5 per doc."""
    ensure_deterministic(spark)
    labels = _dedup_labels_shared(spark, sf_dir)
    h2 = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "1a", "test").when(h2 < "34", "val").otherwise("train")
    )
    return labels.select(
        "doc_id", "cluster_id", split.alias("split")
    ).orderBy("doc_id")


@query("entity_canonicalize")
def entity_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution, closed loop: FastSS delete-1 candidate pairs
    (`fuzzy_name_pairs`'s join) → connected components over the
    distance-1 name graph → every variant maps to its cluster's
    canonical form (min name) with the cluster size — the
    merge-and-survivorship step that turns pairwise matches into a
    usable crosswalk table. Same scale shape as the dedup clusters:
    signature equi-join candidates (O(Σ len) rows), min-label
    propagation over pair participants only, singletons attached by one
    anti-join. Labels propagate as the 8-byte c_custkey, never the
    18-char name — CC rounds shuffle ints, and the crosswalk
    re-attaches both names once at the end."""
    ensure_deterministic(spark)
    cust = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 1000)
        .select(F.col("c_custkey").alias("k"), F.col("c_name").alias("term"))
        .filter(F.length("term") >= 4)
    )
    pairs = DD.fastss_pairs(cust, term_col="term", min_len=4)
    keyed = (
        pairs.join(
            cust.select(F.col("term").alias("term_a"), F.col("k").alias("ka")),
            "term_a",
        )
        .join(
            cust.select(F.col("term").alias("term_b"), F.col("k").alias("kb")),
            "term_b",
        )
        .select("ka", "kb")
    )
    participants = (
        keyed.select(F.col("ka").alias("k"))
        .unionByName(keyed.select(F.col("kb").alias("k")))
        .distinct()
    )
    labels = GR.connected_components(
        keyed, src="ka", dst="kb",
        nodes=participants, node_col="k",
        dedupe_edges=False,  # fastss_pairs is already distinct
        shuffle_partitions=min(16, spark.sparkContext.defaultParallelism),
    )
    singles = cust.select("k").join(
        labels, cust["k"] == labels["node"], "left_anti"
    ).select(F.col("k").alias("node"), F.col("k").alias("label"))
    return (
        labels.unionByName(singles)
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("label")),
        )
        .join(
            cust.select(F.col("k").alias("node"), F.col("term").alias("name")),
            "node",
        )
        .join(
            cust.select(
                F.col("k").alias("label"), F.col("term").alias("canon_name")
            ),
            "label",
        )
        .select("name", "canon_name", "cluster_size")
        .orderBy("name")
    )


@query("mad_outliers")
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier screen: median / MAD (median absolute
    deviation) per event_type by exact nearest-rank selection — the
    heavy-tail-safe alternative to the z-score screen (`value_outliers`
    is the IQR cousin). Both medians come from the two-pass bucketed
    rank machinery (operators/ranks.py), so no window ever sees more
    than ~1/buckets of a group — the 5-value partition key never
    becomes a single-task sort. Selected values are exact row values
    (no interpolation), so |x − med|, the MAD pick, and the 3×MAD fence
    are the identical IEEE trees in both engines."""
    ensure_deterministic(spark)
    # r10 optimization round: the two rank passes run four driver
    # actions between them, and the second pass's actions (plus the
    # final aggregate) re-ran the FIRST pass's bucketed window chain on
    # every action — the recompute multiplier, not data volume. The two
    # 5-row median frames are checkpointed below, which truncates every
    # downstream plan to (scan ⋈ broadcast 5 rows); the raw scan itself
    # is deliberately NOT checkpointed — re-scanning a projected parquet
    # column is cheaper than materializing events-cardinality rows into
    # executor storage (which also evicted the session's shared dedup
    # caches at bench time).
    # r11 (verdict item 7): both medians now come from
    # ranks.select_at_ranks — the rank window sorts ONLY the bucket
    # holding each group's median row (~N/buckets rows) instead of the
    # whole table, and pass 2's boundary sketch action is gone: its
    # boundaries derive driver-side from pass 1's (|b − med| is monotone
    # piecewise in the dev space; ANY monotone boundary set yields the
    # same ranks — placement only balances buckets).
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    boundaries1 = RK.bucket_boundaries(ev, "value", 32)

    def _median_targets(totals: dict) -> dict:
        return {g: [(n + 1) // 2] for g, n in totals.items()}

    sel1, totals = RK.select_at_ranks(
        ev, "value", ["event_id"], _median_targets,
        partition_cols=["event_type"], boundaries=boundaries1,
    )
    if not totals:  # empty input: VALUES () is invalid SQL (r05 advice)
        return spark.createDataFrame(
            [],
            "event_type string, n_events bigint, median_value double,"
            " mad double, n_outliers bigint",
        )
    med = (
        sel1.select("event_type", F.col("value").alias("med"))
        .localCheckpoint(eager=True)  # ≤5 rows; cuts pass-1 re-runs
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    # ≤5 checkpointed rows — a ~ms action. A group whose median row
    # holds a NULL value has a NULL median; it places no boundary.
    meds = sorted(r["med"] for r in med.collect() if r["med"] is not None)
    med_mid = meds[len(meds) // 2] if meds else 0.0
    boundaries2 = sorted({abs(b - med_mid) for b in boundaries1})
    sel2, _totals2 = RK.select_at_ranks(
        dev.select("event_id", "event_type", "dev"),
        "dev", ["event_id"], _median_targets,
        partition_cols=["event_type"], boundaries=boundaries2,
    )
    mad = (
        sel2.select("event_type", F.col("dev").alias("mad"))
        .localCheckpoint(eager=True)  # ≤5 rows; cuts pass-2 re-runs
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("med").alias("median_value"),
            F.max("mad").alias("mad"),
            F.sum(
                (F.col("dev") > F.lit(3.0) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query("minhash_band_scurve")
def minhash_band_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding calibration: the measured detection probability of
    the 32-perm / 8-band / 4-row MinHash index per TRUE-Jaccard decile,
    next to the analytic S-curve 1 − (1 − j⁴)⁸ at the decile midpoint.
    This is THE graph that justifies a banding configuration before
    pointing it at 100 TB (Leskovec/Rajaraman/Ullman, MMDS §3.4) —
    `jaccard_est_error` calibrates the ESTIMATOR, this calibrates the
    CANDIDATE RECALL. Truth = the capped-shingle exact pair graph
    (threshold 0, so every co-shingled pair counts); candidates = the
    banded index (md5 permutations, oracle-reproducible). Decile from
    integer division (10·common div u, clamped to 9); the analytic curve
    is built from the midpoint by explicit squarings (m²·m², three
    squarings of 1−m⁴) so both engines evaluate the identical IEEE tree.
    Scale shape: two already-certified sub-quadratic chains + one
    pair-keyed merge join + a 10-group aggregate."""
    ensure_deterministic(spark)
    # r10 optimization round: truth + candidates shared with
    # jaccard_est_error (see _ngram_pairs_t0_shared)
    truth = _ngram_pairs_t0_shared(spark, sf_dir)
    cand = _mh_pairs_shared(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    per_pair = JN.corpus_join(truth, cand, ["doc_a", "doc_b"], "left").select(
        F.least(
            F.lit(9), F.expr("CAST((10 * common) div u AS INT)")
        ).alias("bucket"),
        F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
    )
    agg = per_pair.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("hit").alias("n_detected"),
    )
    m = (F.col("bucket").cast("double") + F.lit(0.5)) / F.lit(10.0)
    m2 = m * m
    m4 = m2 * m2
    q = F.lit(1.0) - m4
    q2 = q * q
    q4 = q2 * q2
    return agg.select(
        "bucket", "n_pairs", "n_detected",
        (F.col("n_detected").cast("double") / F.col("n_pairs")).alias(
            "detection_rate"
        ),
        (F.lit(1.0) - q4 * q4).alias("analytic_rate"),
    ).orderBy("bucket")


@query("vocab_coverage")
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage curve: what fraction of all corpus
    token OCCURRENCES the top-k most frequent token types cover, at
    k = 5 / 10 / 25. The dataset-card number every tokenizer and
    vocab-size decision starts from (Zipf coverage). Scale shape: one
    token-count shuffle, then a DISTRIBUTED top-1000 (orderBy + limit =
    per-partition partial top-k, merged on one reducer); the rank +
    running-sum window runs strictly AFTER the limit, over ≤1000 rows —
    never over the full vocabulary (the r04-verdict `top_terms` lesson,
    applied by construction). Ties break on the token string for
    cross-engine determinism; the grand total rides in on a 1-row
    broadcast."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TX.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total_tokens"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(1000)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    ranked = top.select(
        F.row_number().over(w).alias("k"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("covered_tokens"),
    )
    return (
        ranked.filter(F.col("k").isin(5, 10, 25))
        .crossJoin(F.broadcast(total))
        .select(
            "k", "covered_tokens", "total_tokens",
            (
                F.col("covered_tokens").cast("double")
                / F.col("total_tokens")
            ).alias("coverage"),
        )
        .orderBy("k")
    )


@query("dedup_rate_by_source")
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card dedup statistics: document count, exact
    duplicates (SHA-256 text identity appearing >1×, the reference's
    checksum semantic — internal/migration/migration.go:19-23 — turned
    into a corpus metric), near-duplicates (membership in the capped
    3-gram Jaccard ≥ 0.1 pair graph), and both as rates. The first table
    any 100 TB ingest review asks for. Scale shape: hash-groupBy for the
    exact leg, the certified sub-quadratic pair graph for the near leg,
    pair→id projection, then merge joins back to docs and ONE per-source
    aggregate (groupBy on a low-cardinality key is map-side combinable —
    unlike a window, it never serializes a source into one task)."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    hx = docs.select(
        "doc_id", "source", F.sha2(F.col("text"), 256).alias("h")
    )
    hn = hx.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    # r10 optimization round: the near leg IS the shared 3-gram ≥0.1
    # pair graph (same threshold/max_df) that dedup_clusters and the
    # split queries already materialize once per (app, sf) — this query
    # previously re-ran the full shingle self-join per invocation.
    near_ids = (
        _ngram_pairs_shared(spark, sf_dir)
        .select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(1))
    )
    flagged = JN.corpus_join(
        JN.corpus_join(hx, hn, "h"), near_ids, "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n") > 1).cast("long")).alias("n_exact_dup"),
            F.sum(F.coalesce(F.col("is_near"), F.lit(0)).cast("long")).alias(
                "n_near_dup"
            ),
        )
        .select(
            "source", "n_docs", "n_exact_dup", "n_near_dup",
            (F.col("n_exact_dup").cast("double") / F.col("n_docs")).alias(
                "exact_dup_rate"
            ),
            (F.col("n_near_dup").cast("double") / F.col("n_docs")).alias(
                "near_dup_rate"
            ),
        )
        .orderBy("source")
    )


@query("bigram_novelty")
def bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 LM scoring without logarithms (the bigram twin of
    `unigram_score`, same rational-arithmetic trick): per document, the
    integer sum of its positional bigrams' corpus frequencies normalized
    once at the end, PLUS the novelty signal an LLM-data pipeline
    actually filters on — the share of bigram positions whose corpus
    count is exactly 1 (this occurrence is the only one anywhere: high
    novel_rate = fresh text, low = boilerplate/memorized). libm logs are
    not bit-portable, so every aggregate stays in exact integers and the
    only floats are two final divisions. Two hash-groupBys + one
    corpus-scaled equi-join on the bigram — embarrassingly parallel."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokens().alias("t"))
    big = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN transform("
                "  sequence(0, size(t) - 2),"
                "  i -> concat(t[i], ' ', t[i + 1])"
                ") ELSE array() END"
            )
        ).alias("bigram"),
    )
    freq = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("cf"))
    n_total = big.count()
    return (
        JN.corpus_join(big, freq, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("cf").alias("cf_sum"),
            F.sum((F.col("cf") == 1).cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id", "n_bigrams", "cf_sum", "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_bigrams")).alias(
                "novel_rate"
            ),
            (
                F.col("cf_sum").cast("double")
                / (F.col("n_bigrams") * F.lit(n_total)).cast("double")
            ).alias("avg_bigram_p"),
        )
        .orderBy("doc_id")
    )


@query("key_skew_histogram")
def key_skew_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostic: the log2 histogram of per-key
    row counts for events.user_id — how many keys sit in each
    2^b ≤ count < 2^(b+1) bucket and what share of ALL rows they carry.
    THE table to read before picking salting factors or AQE skew
    thresholds at 100 TB (a key in bucket 20 holds ~1M rows in one
    shuffle partition). floor(log2 n) is computed exactly in the integer
    domain as length(bin(n)) − 1 — identical in both engines, no libm.
    One count aggregate + one 30-ish-group aggregate; nothing global."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    total = ev.count()
    return (
        per_key.withColumn(
            "log2_bucket", (F.length(F.bin(F.col("cnt"))) - 1).cast("int")
        )
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_key_rows"),
        )
        .withColumn(
            "pct_rows",
            F.col("n_rows").cast("double") / F.lit(float(total)),
        )
        .orderBy("log2_bucket")
    )


@query("events_late_audit")
def events_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DROP semantics, evidenced: the events fixture is
    staged as a deterministic out-of-order arrival
    (streaming/events.py:late_stream_dir — batch 1 = even users across
    the full time range, batch 2 = odd users, so most of batch 2 is late
    behind the batch-1 watermark, batch 3 = the flush heartbeat), and a
    tumbling hourly aggregate with a 1801-second watermark must DROP
    every batch-2 row whose window already closed. Every other streaming
    query here drains with the watermark only ever advancing past
    end-of-stream (nothing late by construction); this is the missing
    half of the watermark contract. The oracle replays the drop rule
    relationally: watermark = max(batch-1 ts) − 1801 s; a batch-2 row
    counts iff its hour window's END is strictly after that watermark
    (1801 not 1800 so the comparison can never land exactly on an hour
    boundary). Append mode; heartbeat group filtered post-sink."""
    from ..session import shuffle_width
    from ..streaming import events as SE

    ensure_deterministic(spark)
    staged = SE.late_stream_dir(
        sf_dir, app_id=spark.sparkContext.applicationId
    )
    # 5 micro-batches (the most of any drain here) × one state-store
    # commit per shuffle partition: pin the state width like every other
    # single-stateful drain (session.shuffle_width rationale)
    with shuffle_width(spark, min(4, spark.sparkContext.defaultParallelism)):
        stream = SE.read_events_stream(
            spark, staged, max_files_per_trigger=1, glob="*.parquet"
        )
        out = SE.run_to_memory(
            SE.tumbling_counts(stream, watermark="1801 seconds"),
            output_mode="append",
        )
    return out.filter(F.col("event_type") != "heartbeat").orderBy(
        "hour_bucket", "event_type"
    )


@query("zorder_locality")
def zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-curve (Morton) clustering locality audit — the registry face of
    sources/layout.py's zorder machinery (the layout Delta's OPTIMIZE
    ZORDER builds; here pure shift/and/or expressions, no UDF). Orders
    are keyed on the bit-interleave of (o_custkey, days-since-epoch),
    both affinely scaled to 8 bits off a 1-row min/max broadcast (no
    driver collect), then grouped by the key's top byte — each of the
    ≤256 coarse Z-buckets reports how TIGHT both dimensions are inside
    it (min/max per dim). Banded spans on BOTH columns at once is the
    property that makes parquet footer stats prune scans for filters on
    EITHER column at 100 TB. All arithmetic is exact-integer or single
    correctly-rounded double ops — bit-identical in DuckDB."""
    from ..sources.layout import zorder_key

    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    stats = orders.agg(
        F.min("o_custkey").alias("mn_c"), F.max("o_custkey").alias("mx_c"),
        F.min("day").alias("mn_d"), F.max("day").alias("mx_d"),
    )
    top = F.lit(255).cast("long")

    def scaled(c, mn, mx):
        span = (F.col(mx) - F.col(mn)).cast("double")
        span = F.when(span == 0.0, F.lit(1.0)).otherwise(span)
        return F.least(
            top,
            F.floor(
                (F.col(c) - F.col(mn)).cast("double")
                * F.lit(256.0) / span
            ).cast("long"),
        )

    keyed = orders.crossJoin(F.broadcast(stats)).select(
        "o_custkey", "day",
        zorder_key(
            [scaled("o_custkey", "mn_c", "mx_c"),
             scaled("day", "mn_d", "mx_d")],
            bits=8,
        ).alias("zkey"),
    )
    return (
        keyed.groupBy(F.shiftright(F.col("zkey"), 8).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_custkey").alias("cust_min"),
            F.max("o_custkey").alias("cust_max"),
            F.min("day").alias("day_min"),
            F.max("day").alias("day_max"),
        )
        .orderBy("zbucket")
    )


@query("corpus_capstone")
def corpus_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus pipeline capstone (r05 verdict stretch item):
    the four certified stages COMPOSED in one plan, the way a production
    training-data build actually runs them —

      1. quality gate  — Gopher flags (`_quality_doc_flags`), keep
         documents passing all seven rules;
      2. dedup keep-one — near-dup cluster labels from the session-
         shared connected components; keep the min-doc_id
         quality-passing member per cluster (clusters whose every
         member fails quality drop entirely);
      3. contamination-safe split — md5(cluster_id) prefix bucketing,
         identical to `dedup_aware_split` (split keyed on the CLUSTER,
         so near-copies can never straddle train/eval);
      4. packing — per-(split, source) 2048-token greedy bins
         (`pack_sequences` shape; the window sorts per split×source
         partition, never globally).

    Output: the per-(split, source) packed-token report a curation run
    hands to the trainer. Certifying the composition catches the
    cross-stage contracts (column handoffs, null paths, keep-one-on-
    survivors ordering) that per-stage oracles cannot see. Scale shape:
    every stage is the already-certified sub-quadratic plan; the
    composition adds one broadcast-sized join and one narrow window."""
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    qual = (
        _quality_doc_flags(docs)
        .filter(F.col("passes") == 1)
        .select("doc_id")
    )
    survivors = _dedup_labels_shared(spark, sf_dir).join(qual, "doc_id")
    keep = survivors.groupBy("cluster_id").agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = keep.join(
        docs.select("doc_id", "source", TX.token_count().alias("n_tokens")),
        "doc_id",
    )
    h2 = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "1a", "test").when(h2 < "34", "val").otherwise("train")
    )
    kd = kept.withColumn("split", split)
    w = (
        Window.partitionBy("split", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = kd.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("seq_bin", F.floor(F.col("cum_before") / F.lit(2048.0)))
    return (
        binned.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.max("seq_bin") + 1).cast("long").alias("n_bins"),
        )
        .orderBy("split", "source")
    )


# ---------------------------------------------------------------------------
# Round-6 second-wave additions: storage co-location, incremental view
# maintenance, time-series correlation, sketch-based join cardinality.
# ---------------------------------------------------------------------------


@query("bucketed_join_revenue")
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located fact-fact join, driver-certified: orders and
    lineitem are written ONCE as external bucketed tables (8 buckets on
    the order key, warehouse.ensure_bucketed — the amortized ingest-time
    shuffle), after which the per-order revenue rollup runs with ZERO
    exchanges end to end: both bucketed scans already satisfy the
    sort-merge join's required distribution, the orderkey groupBy rides
    the join's output partitioning (group keys ⊇ partition key), and the
    top-20 is a TakeOrderedAndProject. The no-Exchange plan shape is
    pinned by tests/test_plan_quality.py. At 100 TB this is THE pattern
    for the dominant repeated join: pay the shuffle once at ingest,
    never again at query time (the reference's engine has no storage
    layer to express this; it is pure Spark-first surface). Oracle: the
    plain join + rollup SQL — bucketing must be invisible to values."""
    import hashlib

    from .. import warehouse as WH

    ensure_deterministic(spark)
    sfx = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:6]
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    t_o = WH.ensure_bucketed(
        spark, orders, f"b_orders_{sfx}", "o_orderkey",
        num_buckets=8, sort_by="o_orderkey",
    )
    t_l = WH.ensure_bucketed(
        spark, li, f"b_lineitem_{sfx}", "o_orderkey",
        num_buckets=8, sort_by="o_orderkey",
    )
    joined = spark.table(t_o).hint("MERGE").join(
        spark.table(t_l), "o_orderkey"
    )
    return (
        joined.groupBy("o_orderkey", "o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.expr(DISC_PRICE), "revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query("ivf_probe_curve")
def ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-nprobe calibration of the IVF index against exact
    search — the IVF twin of ann_recall_curve's LSH curve and the
    number that justifies an nprobe setting at 100 TB (probe more
    cells → more candidates → higher recall, linearly more work): for
    the same 50 queries and the similarity_ivf index (16 seeded cells),
    recall@{1,5,10} at nprobe = 1, 2, 4. Both legs are the certified
    plans (Arrow sequential-fold cosine exact leg, cell-bounded IVF
    leg), so the meta-query keeps a full value oracle; hit counts are
    exact integers, one double division at the end."""
    import numpy as np

    ensure_deterministic(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    centroid_rows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    centroids = np.array([r.embedding for r in centroid_rows], dtype=np.float64)
    queries_df = emb.filter(F.col("vec_id") < 50)
    # r10 optimization round: the exact leg and the corpus-side IVF
    # index are IDENTICAL across the three nprobe branches, but the
    # union plan carried three copies of each — the final collect ran
    # the all-pairs Arrow kernel and the corpus cell-assignment kernel
    # three times. LAZY localCheckpoint: all three branches then share
    # ONE RDD (computed once inside the final collect), while the
    # independent per-branch stages keep running concurrently — an
    # EAGER checkpoint here serialized that scheduler parallelism into
    # two up-front jobs and measured slower (3.45 → 6.0 s).
    exact = SIM.cosine_topk_arrow(emb, queries_df, k=10).select(
        "qid", "nid", F.col("rnk").alias("e_rnk")
    ).localCheckpoint(eager=False)
    index = SIM.ivf_index(emb, centroids).localCheckpoint(eager=False)
    nq = queries_df.agg(F.countDistinct("vec_id").alias("n_queries"))
    curves = []
    for nprobe in (1, 2, 4):
        ann = SIM.ivf_topk(
            emb, queries_df, centroids, k=10, nprobe=nprobe,
            indexed_corpus=index,
        ).select("qid", "nid", F.col("rnk").alias("a_rnk"))
        hits = exact.join(ann, ["qid", "nid"]).agg(
            *[
                F.sum(
                    F.when(
                        (F.col("e_rnk") <= kk) & (F.col("a_rnk") <= kk), 1
                    ).otherwise(0)
                ).alias(f"h{kk}")
                for kk in (1, 5, 10)
            ]
        )
        curve = hits.join(F.broadcast(nq)).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(kk).alias("k"),
                            F.col(f"h{kk}").cast("long").alias("hits"),
                        )
                        for kk in (1, 5, 10)
                    ]
                )
            ).alias("s"),
            "n_queries",
        )
        curves.append(
            curve.select(
                F.lit(nprobe).alias("nprobe"),
                F.col("s.k").alias("k"),
                F.col("s.hits").alias("hits"),
                F.col("n_queries").cast("long").alias("n_queries"),
                (
                    F.col("s.hits").cast("double")
                    / (F.col("n_queries") * F.col("s.k")).cast("double")
                ).alias("recall"),
            )
        )
    out = curves[0]
    for c in curves[1:]:
        out = out.unionByName(c)
    return out.orderBy("nprobe", "k")


@query("tfidf_doc_pairs")
def tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF doc-doc cosine near-dup pairs — the weighted
    lexical similarity that needs NO embeddings (the tf-idf complement
    of ngram_jaccard's set overlap and dedup_embedding's dense cosine).
    Terms are token BIGRAMS (the fixture corpus draws from a ~31-word
    pool, so unigram document frequency is degenerate; bigrams recover
    a ~900-term discriminative vocabulary — the same reason shingling
    exists), capped at df ≤ 50 (hot-term cap: keeps the posting join
    sub-quadratic, Σdf² bounded by cap·Σdf). Weights are INTEGER tf·idf
    with keyword_search's log-free floor-division idf; dot products and
    norms are exact DECIMAL sums; the cosine is assembled from them in
    IEEE ops both engines round identically (oracle routes its
    DECIMAL→DOUBLE through VARCHAR). Pairs at cos ≥ 0.5, doc_a < doc_b
    canonical order, via corpus_join (merge-pinned at corpus scale)."""
    CAP = 50
    SCALE = 10
    ensure_deterministic(spark)
    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select("doc_id", TX.tokens().alias("toks"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("term"),
    )
    tf = bigrams.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CAP)
    )
    idf = dft.withColumn(
        "idf_int",
        F.expr(f"CAST({SCALE} AS BIGINT) * {n_docs} div df"),
    )
    w = JN.corpus_join(tf, idf, "term").select(
        "doc_id",
        "term",
        "df",
        (F.col("tf") * F.col("idf_int")).cast("decimal(19,0)").alias("wt"),
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("wt") * F.col("wt")).alias("n2"))
    pairable = w.filter(F.col("df") >= 2)
    a = pairable.select(
        "term", F.col("doc_id").alias("doc_a"), F.col("wt").alias("wa")
    )
    b = pairable.select(
        "term", F.col("doc_id").alias("doc_b"), F.col("wt").alias("wb")
    )
    num = (
        JN.corpus_join(a, b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("num"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b"))
    cos = F.col("num").cast("double") / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        JN.corpus_join(JN.corpus_join(num, na, "doc_a"), nb, "doc_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            "cos",
        )
        .orderBy("doc_a", "doc_b")
    )


@query("partition_pruned_revenue")
def partition_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan, driver-certified — the third storage-layout
    lever alongside bucketing (bucketed_join_revenue) and Z-ordering
    (zorder_locality): orders are written ONCE as a hive-partitioned
    dataset keyed by order year (warehouse.ensure_partitioned), and the
    1997 monthly rollup then reads ONLY the o_year=1997 directory — the
    filter becomes a PartitionFilter resolved against the listing, never
    against row data (PartitionCount: 1 is pinned by a plan test). At
    100 TB this is the difference between scanning one day and scanning
    the lake. Oracle: the same rollup filtered on year(o_orderdate) over
    the unpartitioned table — layout must be invisible to values."""
    import hashlib

    from .. import warehouse as WH

    ensure_deterministic(spark)
    sfx = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:6]
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = WH.ensure_partitioned(spark, orders, f"p_orders_{sfx}", "o_year")
    part = spark.read.parquet(path).filter(F.col("o_year") == 1997)
    return (
        part.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_revenue"),
        )
        .orderBy("month")
    )


@query("incremental_mv_revenue")
def incremental_mv_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the monthly revenue MV
    is REFRESHED from a delta instead of recomputed. Base partials
    (orders before the cutoff) merge with delta partials through the
    decimal partial-aggregate algebra — exact associative sums, so the
    merge cannot drift — and the oracle is the FULL recompute, making
    the certificate precisely "incremental refresh ≡ full refresh". At
    100 TB this converts the daily metrics rebuild from a full fact
    scan into a delta-sized merge against the stored partials; the
    partials stay DECIMAL until the final emit (the same trick the
    registry's dsum uses to beat reduction-order nondeterminism)."""
    ensure_deterministic(spark)
    orders = read_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.sum(F.col("o_totalprice").cast(_DEC)).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("_s").alias("_merged"),
            F.sum("_n").alias("n_orders"),
        )
        .select(
            "month",
            "n_orders",
            F.col("_merged").cast("double").alias("total_revenue"),
        )
        .orderBy("month")
    )


@query("events_corr_hourly")
def events_corr_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series Pearson correlation between event types on the
    gap-filled hourly spine: per-(hour, type) counts with zero fill
    (absent hours MUST contribute zeros — dropping them biases the
    correlation), self-joined into unordered type pairs, then the five
    correlation moments as EXACT integer sums. corr itself is assembled
    from those integers in IEEE double ops both engines round
    identically (int64→double and sqrt are correctly rounded;
    mult/div are single IEEE roundings). The self-join is bounded by
    (hours × types) — at 100 TB the hourly series is microscopic next
    to the fact scan that produced it, and the moment sums would widen
    to DECIMAL the same way dsum does."""
    ensure_deterministic(spark)
    ev = read_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("HOUR", F.min("ts")).alias("d0"),
        F.date_trunc("HOUR", F.max("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 hour)")).alias("hour")
    ).crossJoin(ev.select("event_type").distinct())
    hourly = ev.groupBy(
        F.date_trunc("HOUR", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("_n"))
    filled = spine.join(hourly, ["hour", "event_type"], "left").select(
        "hour",
        "event_type",
        F.coalesce("_n", F.lit(0)).cast("long").alias("n"),
    )
    fa = filled.select(
        "hour", F.col("event_type").alias("type_a"), F.col("n").alias("x")
    )
    fb = filled.select(
        "hour", F.col("event_type").alias("type_b"), F.col("n").alias("y")
    )
    moments = (
        fa.join(fb, "hour")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sx2"),
            F.sum(F.col("y") * F.col("y")).alias("sy2"),
        )
    )
    num = F.col("n_hours") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n_hours") * F.col("sx2") - F.col("sx") * F.col("sx")
    deny = F.col("n_hours") * F.col("sy2") - F.col("sy") * F.col("sy")
    corr = F.when(
        (denx > 0) & (deny > 0),
        num.cast("double")
        / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
    )
    return moments.select(
        "type_a", "type_b", "n_hours", "sx", "sy", "sxy", "sx2", "sy2",
        corr.alias("corr"),
    ).orderBy("type_a", "type_b")


@query("approx_join_size")
def approx_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-grade join-cardinality estimation WITHOUT running the
    join: |lineitem ⋈ orders| = Σ_k a_k·b_k, estimated from a KMV
    sketch of the key domain — the k = 128 minimum md5 fractions form a
    uniform sample of the distinct keys, D̂ = (k−1)/u_k estimates the
    domain size, and (D̂/k)·Σ_sample a_k·b_k estimates the join size
    (the bottom-k sum estimator). The exact join size rides along (two
    per-key groupBys, no join materialized) so the certificate pins the
    estimator AND its ground truth; rel_error is the planner's
    calibration number. The min-k selection is a distributed
    TakeOrderedAndProject top-k, not a global window, and the portable
    md5 hash gives the full cross-engine value oracle an engine-native
    sketch cannot."""
    from ..functions.portable_hash import uniform_frac_sql

    ensure_deterministic(spark)
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    a = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.count(F.lit(1)).alias("a_k")
    )
    b = orders.groupBy(F.col("o_orderkey").alias("okey")).agg(
        F.count(F.lit(1)).alias("b_k")
    )
    keys = (
        a.join(b, "okey", "full_outer")
        .select(
            "okey",
            F.coalesce("a_k", F.lit(0)).alias("a_k"),
            F.coalesce("b_k", F.lit(0)).alias("b_k"),
        )
        .withColumn(
            "u", F.expr(uniform_frac_sql("md5(CAST(okey AS STRING))"))
        )
    )
    samp = keys.orderBy("u", "okey").limit(128)
    est = samp.agg(
        F.count(F.lit(1)).alias("n_samp"),
        F.max("u").alias("u_k"),
        F.sum(F.col("a_k") * F.col("b_k")).alias("s_samp"),
    )
    totals = keys.agg(
        F.count(F.lit(1)).alias("n_keys_union"),
        F.sum(F.col("a_k") * F.col("b_k")).alias("exact_join_rows"),
    )
    d_hat = F.when(
        F.col("n_samp") == 128,
        F.lit(127).cast("double") / F.col("u_k"),
    ).otherwise(F.col("n_keys_union").cast("double"))
    est_join = F.when(
        F.col("n_samp") == 128,
        (F.col("_d_hat") / F.lit(128).cast("double"))
        * F.col("s_samp").cast("double"),
    ).otherwise(F.col("exact_join_rows").cast("double"))
    return (
        est.crossJoin(totals)
        .withColumn("_d_hat", d_hat)
        .withColumn("_est_join", est_join)
        .select(
            "n_keys_union",
            F.col("_d_hat").alias("kmv_distinct_keys"),
            "exact_join_rows",
            F.col("_est_join").alias("est_join_rows"),
            (
                F.abs(
                    F.col("_est_join")
                    - F.col("exact_join_rows").cast("double")
                )
                / F.col("exact_join_rows").cast("double")
            ).alias("rel_error"),
        )
    )


@query("layout_composed_revenue")
def layout_composed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED storage layout, driver-certified: lineitem is written
    ONCE as a table that is BOTH hive-partitioned by ship year AND
    bucketed by order key (warehouse.ensure_partitioned_bucketed) —
    the layout a real 100 TB fact table uses, where the two certified
    single-lever queries (partition_pruned_revenue, bucketed_join_revenue)
    compose in ONE physical plan: the 1997 ship-year filter resolves as
    a PartitionFilter against the directory listing (no data-side year
    predicate), and the join to the co-bucketed orders table runs with
    ZERO exchanges (both scans satisfy the SMJ distribution; the
    per-order groupBy rides the join's partitioning because its keys
    contain the bucket key). Both properties are pinned together by
    tests/test_plan_quality.py::test_layout_composed_prunes_and_zero_exchange.
    Oracle: the plain join + rollup filtered on year(l_shipdate) —
    layout must be invisible to values."""
    import hashlib

    from .. import warehouse as WH

    ensure_deterministic(spark)
    sfx = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:6]
    li = (
        read_table(spark, sf_dir, "lineitem")
        .withColumn("l_shipyear", F.year("l_shipdate"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    orders = read_table(spark, sf_dir, "orders")
    t_l = WH.ensure_partitioned_bucketed(
        spark, li, f"pb_lineitem_{sfx}", "l_shipyear", "o_orderkey",
        num_buckets=8, sort_by="o_orderkey",
    )
    t_o = WH.ensure_bucketed(
        spark, orders, f"b_orders_{sfx}", "o_orderkey",
        num_buckets=8, sort_by="o_orderkey",
    )
    joined = (
        spark.table(t_l)
        .filter(F.col("l_shipyear") == 1997)
        .hint("MERGE")
        .join(spark.table(t_o), "o_orderkey")
    )
    return (
        joined.groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.expr(DISC_PRICE), "revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query("bpe_merge_table")
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training as a certified ARTIFACT: the first 10 BPE
    merges learned from the corpus, emitted as an oracle-checked merge
    table (the thing a real tokenizer ships). Closes the loop that
    bpe_first_merges (statistic) and bpe_apply_merge (one iteration)
    opened, on the pagerank/kmeans unrolled-oracle precedent.

    Exact greedy semantics via a double-delimiter encoding: a token's
    symbols live in a string as ``||s1||s2||...||`` and applying merge
    (l, r) is the plain non-overlapping left-to-right replacement of
    ``|l||r|`` with ``|lr|`` — the double delimiter means adjacent
    matches never share a boundary character (both of ``a b a b``'s
    pairs merge) and a pattern can never match mid-symbol (``|ab||c|``
    cannot match inside ``dab c``). Plain string replace has identical
    left-to-right semantics in the JVM and DuckDB, so the 10-step
    unrolled oracle mirrors exactly; tests replay the merges with an
    independent pure-Python list-greedy BPE. Tiebreak is (count desc,
    left, right) — two COLUMNS, not the joined string, so both engines
    order identically.

    Scale shape — the one real BPE trainers use at any corpus size: the
    working state is the VOCABULARY (distinct token encodings weighted
    by occurrence count), not the token stream. One corpus pass builds
    (encoding, cnt); every trainer step then runs over vocab-sized
    data: pair counts are sum(cnt) per adjacent symbol pair, the merge
    rewrites the distinct encodings and re-groups (two types CAN
    collapse post-merge: 'a b c' and 'ab c' meet once (a,b) merges).
    The vocab is materialized per step (eager localCheckpoint — the
    CC/mmr iterative-state pattern: materialize AND truncate lineage in
    one job, keeping per-step planning cost constant); the argmax is
    the documented bounded 1-row driver action. Measured at sf0.1:
    35.8 s as a token-stream chain, ~4 s over the weighted vocab."""
    ensure_deterministic(spark)
    n_steps = 10
    docs = read_table(spark, sf_dir, "documents")
    # localCheckpoint (r10 optimization round), not persist+count: the
    # persisted chain kept the FULL logical lineage, so every step's
    # argmax paid Catalyst analysis of all previous steps' regexp/
    # zip_with forests (measured: 65 jobs, ~4 s of the 5.5 s wall was
    # driver-side planning between sub-0.05 s jobs). The eager
    # checkpoint both materializes the vocab (replacing the per-step
    # count() job) and truncates the plan, so each trainer step plans
    # against a flat LogicalRDD — constant planning cost per step.
    cur = (
        DD.spread_input(docs, "doc_id")
        .select(F.explode(TX.tokens()).alias("tok"))
        .filter(F.length("tok") >= 2)
        .select(
            F.concat(
                F.lit("||"),
                F.regexp_replace(F.col("tok"), "(.)", "$1||"),
            ).alias("enc")
        )
        .groupBy("enc")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_steps + 1):
        syms = F.filter(
            F.split(F.col("enc"), r"\|\|"), lambda x: x != F.lit("")
        )
        pairs = cur.select(
            F.col("cnt"),
            F.explode(
                F.zip_with(
                    F.slice(syms, 1, F.size(syms) - 1),
                    F.slice(syms, 2, F.size(syms) - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("pr"),
        )
        best = (
            pairs.groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((step, l, r, n))
        cur = (
            cur.select(
                F.replace(
                    F.col("enc"), F.lit(f"|{l}||{r}|"), F.lit(f"|{l}{r}|")
                ).alias("enc"),
                "cnt",
            )
            .groupBy("enc")
            .agg(F.sum("cnt").alias("cnt"))
            .localCheckpoint(eager=True)
        )
    rows = ", ".join(
        f"({s}, '{l}', '{r}', CAST({n} AS BIGINT))" for s, l, r, n in merges
    )
    return spark.sql(
        "SELECT step, left_sym, right_sym, pair_count "
        f"FROM (VALUES {rows}) AS t(step, left_sym, right_sym, pair_count) "
        "ORDER BY step"
    )


# ---------------------------------------------------------------------------
# Round 10: the >2.1 M-vector sharded near-dup path, made code.
# ---------------------------------------------------------------------------


@query("dedup_embedding_sharded")
def dedup_embedding_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS computed through the SHARDED pair
    path (r09 verdict item 1 — the prescribed escape past the
    `adaptive_lsh_bits` bits=16 ceiling, previously SCALE.md prose):
    hash-range shard assignment (md5(id) mod 4) → per-shard-pair LSH
    jobs whose bit-width is sized to the JOB (`adaptive_lsh_bits(
    ceil(2N/S))`, so E[group] ≈ 160 holds for ANY corpus size) → union
    of the shard-local and cross-shard pair sets → connected components
    merge clusters across shards; singletons label themselves. Output
    is (vec_id, cluster_id, cluster_size) with cluster_id = min member,
    the dedup_clusters shape on the embedding graph.

    The shard-pair partitioning scores every same-bucket pair in
    exactly one job, so the pair graph equals the UNSHARDED
    `dedup_embedding` graph at the same bit-width pair-for-pair
    (pytest-asserted), and the oracle is the recursive closure over the
    unsharded candidate SQL — the merge across shards is exercised for
    real (S=4 at every fixture SF). At fixture scale the job formula
    clamps to the same floor 6 as the unsharded query, so both paths
    enumerate byte-identical candidates; the scale sweeps rebuild the
    oracle at the job bit-width (`adaptive_oracle_overrides`)."""
    import math

    from ..functions.portable_hash import lsh_component

    ensure_deterministic(spark)
    num_shards = 4
    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    bits = SIM.adaptive_lsh_bits(math.ceil(2 * n / num_shards))
    # materialize the pair graph ONCE: both the CC edge set and the
    # participating-node set consume it, and the sharded-LSH chain is
    # the expensive leg — an eager checkpoint truncates the lineage so
    # neither consumer re-runs it
    pairs = SIM.lsh_near_dup_pairs_sharded(
        emb,
        num_shards=num_shards,
        threshold=0.4,
        num_bits=bits,
        components=lsh_component,
    ).localCheckpoint(eager=True)
    pair_nodes = (
        pairs.select(F.col("id_a").alias("vec_id"))
        .unionByName(pairs.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    labels = GR.connected_components(
        pairs, src="id_a", dst="id_b",
        nodes=pair_nodes, node_col="vec_id",
        dedupe_edges=False,
        shuffle_partitions=min(16, spark.sparkContext.defaultParallelism),
    )
    singletons = (
        emb.select("vec_id")
        .join(labels, emb["vec_id"] == labels["node"], "left_anti")
        .select(F.col("vec_id").alias("node"), F.col("vec_id").alias("label"))
    )
    return (
        labels.unionByName(singletons)
        .select(
            F.col("node").alias("vec_id"),
            F.col("label").alias("cluster_id"),
        )
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .orderBy("vec_id")
    )
