"""operators/ranks.py semantics: the bucket-partitioned two-pass ranks
must equal the single-window reference EXACTLY — including duplicate
values (rank ties, cume peers), skew (everything in one bucket), and
per-group partitioning — since three registry queries derive exact
NTILE/percent_rank/cume_dist arithmetic from them."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from database_migration_engine_spark.operators import ranks as RK


def _ref(rows):
    """Sequential reference: (value, tie) sorted; rank/cume with peers."""
    by_full = sorted(rows, key=lambda r: (r[0], r[1]))
    out = {}
    for i, (v, t) in enumerate(by_full, start=1):
        rank = 1 + sum(1 for (v2, _) in rows if v2 < v)
        cume = sum(1 for (v2, _) in rows if v2 <= v)
        out[(v, t)] = (i, rank, cume)
    return out


def _check(spark, values):
    rows = [(float(v), i) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "val double, tie long")
    ranked, total = RK.with_global_ranks(
        df, "val", ["tie"], buckets=4,
        rn_col="rn", rank_col="rk", cume_cnt_col="cc",
    )
    got = {
        (r.val, r.tie): (r.rn, r.rk, r.cc) for r in ranked.collect()
    }
    assert total == len(rows)
    assert got == _ref(rows)


def test_random_values_with_heavy_ties(spark):
    rng = random.Random(11)
    _check(spark, [rng.choice([1.0, 2.0, 2.0, 3.5, 7.25]) for _ in range(60)])


def test_all_equal_single_bucket_skew(spark):
    _check(spark, [5.0] * 40)


def test_distinct_values(spark):
    rng = random.Random(13)
    vals = rng.sample(range(1000), 50)
    _check(spark, [float(v) for v in vals])


def test_descending_matches_reference(spark):
    rows = [(float(v), i) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6])]
    df = spark.createDataFrame(rows, "val double, tie long")
    ranked, _ = RK.with_global_ranks(
        df, "val", ["tie"], ascending=False, buckets=3, rn_col="rn"
    )
    got = sorted(
        ((r.rn, r.val, r.tie) for r in ranked.collect())
    )
    want = sorted(
        (i + 1, v, t)
        for i, (v, t) in enumerate(
            sorted(rows, key=lambda r: (-r[0], r[1]))
        )
    )
    assert got == want


def test_partitioned_groups_rank_independently(spark):
    rows = [
        ("a", 1.0, 0), ("a", 1.0, 1), ("a", 2.0, 2),
        ("b", 5.0, 3), ("b", 4.0, 4),
    ]
    df = spark.createDataFrame(rows, "g string, val double, tie long")
    ranked, totals = RK.with_global_ranks(
        df, "val", ["tie"], buckets=2, partition_cols=["g"],
        rn_col="rn", rank_col="rk", cume_cnt_col="cc",
    )
    assert totals == {("a",): 3, ("b",): 2}
    got = {(r.g, r.val, r.tie): (r.rn, r.rk, r.cc) for r in ranked.collect()}
    w = Window.partitionBy("g").orderBy("val")
    ref = {
        (r.g, r.val, r.tie): (r.rn, r.rk, r.cc)
        for r in df.select(
            "g", "val", "tie",
            F.row_number().over(w.orderBy("val", "tie")).alias("rn"),
            F.rank().over(w).alias("rk"),
            F.count(F.lit(1)).over(
                w.rangeBetween(Window.unboundedPreceding, 0)
            ).alias("cc"),
        ).collect()
    }
    assert got == ref


def test_null_values_rank_like_spark_null_ordering(spark):
    """r04 advice item: NULLs must land where Spark's default null
    ordering puts them — first under asc, last under desc — in both
    the bucket assignment AND the in-bucket window sort."""
    rows = [(3.0, 0), (None, 1), (1.0, 2), (None, 3), (2.0, 4)]
    df = spark.createDataFrame(rows, "val double, tie long")
    asc, _ = RK.with_global_ranks(df, "val", ["tie"], buckets=2, rn_col="rn")
    got_asc = {r.tie: r.rn for r in asc.collect()}
    # asc_nulls_first: the two NULL rows (ties 1, 3) take rn 1-2
    assert got_asc == {1: 1, 3: 2, 2: 3, 4: 4, 0: 5}
    desc, _ = RK.with_global_ranks(
        df, "val", ["tie"], ascending=False, buckets=2, rn_col="rn"
    )
    got_desc = {r.tie: r.rn for r in desc.collect()}
    # desc_nulls_last: NULLs take the final ranks
    assert got_desc == {0: 1, 4: 2, 2: 3, 1: 4, 3: 5}


def test_empty_input_returns_empty_with_rank_columns(spark):
    """r04 advice item: zero input rows used to render invalid
    'VALUES ' SQL; now the helper short-circuits."""
    df = spark.createDataFrame([], "val double, tie long")
    out, total = RK.with_global_ranks(
        df, "val", ["tie"], rn_col="rn", rank_col="rk"
    )
    assert total == 0
    assert out.count() == 0
    assert {"rn", "rk"} <= set(out.columns)
    grouped, gtotals = RK.with_global_ranks(
        df.withColumn("g", F.lit("x")), "val", ["tie"],
        partition_cols=["g"], rn_col="rn",
    )
    assert gtotals == {}
    assert grouped.count() == 0


def test_values_df_rejects_unrenderable_literals(spark):
    """r04 advice item: types repr() would render as invalid SQL must
    raise a clear TypeError instead of failing at parse time."""
    import datetime

    import pytest

    ok = RK.values_df(
        spark, [(1, "a", 1.5, True, None)], ["i", "s", "f", "b", "n"]
    )
    row = ok.collect()[0]
    assert (row.i, row.s, row.f, row.b, row.n) == (1, "a", 1.5, True, None)
    with pytest.raises(ValueError):
        RK.values_df(spark, [], ["x"])
    with pytest.raises(TypeError):
        RK.values_df(spark, [(datetime.date(2024, 1, 1),)], ["d"])
    with pytest.raises(TypeError):
        RK.values_df(spark, [(float("inf"),)], ["f"])


def test_select_at_ranks_empty_input_total_is_int(spark):
    """Without partition_cols the total is the row count, as in
    with_global_ranks — 0 on empty input, not a dict."""
    df = spark.createDataFrame([], "val double, tie long")
    sel, total = RK.select_at_ranks(
        df, "val", ["tie"], lambda tot: {(): [1]}, buckets=4
    )
    assert total == 0 and isinstance(total, int)
    assert sel.count() == 0


def test_select_at_ranks_null_partition_key(spark):
    """A NULL partition key does not break the driver-side probe sort;
    the other groups still get their exact median rows."""
    rows = [("a", float(v), i) for i, v in enumerate([5, 1, 3])]
    rows += [("b", float(v), 10 + i) for i, v in enumerate([9, 7])]
    rows += [(None, float(v), 20 + i) for i, v in enumerate([2, 4, 6])]
    df = spark.createDataFrame(rows, "g string, val double, tie long")
    sel, totals = RK.select_at_ranks(
        df, "val", ["tie"],
        lambda tot: {g: [(n + 1) // 2] for g, n in tot.items()},
        buckets=4, partition_cols=["g"],
    )
    assert totals == {("a",): 3, ("b",): 2, (None,): 3}
    got = {r.g: r.val for r in sel.collect() if r.g is not None}
    assert got == {"a": 3.0, "b": 7.0}
