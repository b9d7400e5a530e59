"""Round-3 continuation wave: changelog compaction, containment dedup,
triangle counts, PQ encode, IQR outliers, stream-static enrichment.

Each operator gets semantic edge-case tests on crafted inputs (the
sf-fixture oracle equivalence is covered by test_queries_oracle /
driver_sim; here we pin the behaviors a fixture can miss)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from database_migration_engine_spark.io import read_table
from database_migration_engine_spark.operators.cdc import compact_changelog
from database_migration_engine_spark.operators.dedup import containment_pairs
from database_migration_engine_spark.operators.similarity import pq_encode

SF_DIR = "/root/testdata/sf0.001"

CHG_SCHEMA = "k long, seq long, op string, val string"


def _chg(spark, rows):
    return spark.createDataFrame(rows, CHG_SCHEMA)


class TestCompactChangelog:
    def test_last_writer_wins(self, spark):
        out = compact_changelog(
            _chg(spark, [(1, 1, "U", "a"), (1, 2, "U", "b"), (2, 1, "U", "x")]),
            key_cols=["k"], order_cols=["seq"],
        )
        got = {r.k: (r.val, r.n_changes) for r in out.collect()}
        assert got == {1: ("b", 2), 2: ("x", 1)}

    def test_delete_tombstone_removes_key(self, spark):
        out = compact_changelog(
            _chg(spark, [(1, 1, "U", "a"), (1, 2, "D", None), (2, 1, "U", "x")]),
            key_cols=["k"], order_cols=["seq"],
        )
        assert {r.k for r in out.collect()} == {2}

    def test_resurrection_after_delete(self, spark):
        # delete then re-insert: key survives with the newest value
        out = compact_changelog(
            _chg(spark, [(1, 1, "U", "a"), (1, 2, "D", None), (1, 3, "U", "c")]),
            key_cols=["k"], order_cols=["seq"],
        )
        got = out.collect()
        assert len(got) == 1 and got[0].val == "c" and got[0].n_changes == 3

    def test_tie_break_by_secondary_order(self, spark):
        # same seq → second order col decides
        out = compact_changelog(
            spark.createDataFrame(
                [(1, 1, 10, "U", "lo"), (1, 1, 20, "U", "hi")],
                "k long, seq long, sub long, op string, val string",
            ),
            key_cols=["k"], order_cols=["seq", "sub"],
        )
        assert out.collect()[0].val == "hi"


DOCS_SCHEMA = "doc_id long, text string"


class TestContainmentPairs:
    def test_doc_fully_inside_larger(self, spark):
        small = "alpha beta gamma delta epsilon"
        big = small + " zeta eta theta iota kappa " + "x y z w v u t s r q"
        docs = spark.createDataFrame(
            [(1, small), (2, big), (3, "completely different words here now")],
            DOCS_SCHEMA,
        )
        out = containment_pairs(docs, threshold=0.5).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.doc_a, r.doc_b) == (1, 2)
        # every shingle of the small doc appears in the big one
        assert r.cont_a == pytest.approx(1.0)
        assert r.subsumed
        # asymmetry: big side's containment is well below the small side's
        assert r.cont_b < r.cont_a

    def test_jaccard_blind_spot(self, spark):
        # the pair above has Jaccard well under 0.5 — containment is the
        # only screen that fires
        small = "alpha beta gamma delta epsilon"
        filler = (
            "zeta eta theta iota kappa lam mu nu xi omi pi rho sigma tau "
            "ups phi chi psi omega aleph beth gimel daleth he waw zayin "
            "heth teth yodh kaph lamedh mem nun samekh ayin pe sadhe qoph"
        )
        big = small + " " + filler
        docs = spark.createDataFrame([(1, small), (2, big)], DOCS_SCHEMA)
        r = containment_pairs(docs, threshold=0.5).collect()[0]
        jacc = r.common / (r.n_a + r.n_b - r.common)
        assert jacc < 0.5 < r.cont_a

    def test_no_pairs_below_threshold(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "u v w x y z")], DOCS_SCHEMA
        )
        assert containment_pairs(docs, threshold=0.5).count() == 0


class TestPQEncode:
    def test_codebook_vectors_zero_distortion(self, spark):
        emb = read_table(spark, SF_DIR, "embeddings")
        cb = emb.filter(F.col("vec_id") < 16)
        out = pq_encode(emb, cb)
        rows = {r.vec_id: r for r in out.collect()}
        assert len(rows) == emb.count()
        for j in range(16):
            r = rows[j]
            assert r.distortion == 0.0
            # each subspace picks the vector's own codeword
            assert r.code == f"{j:x}" * 8
        # codes are 8 hex chars, distortion non-negative
        assert all(len(r.code) == 8 for r in rows.values())
        assert all(r.distortion >= 0 for r in rows.values())

    def test_compression_ratio_and_grouping(self, spark):
        # nearby vectors (same label cell) should share more code digits
        # than the global average — weak but deterministic sanity check
        emb = read_table(spark, SF_DIR, "embeddings")
        cb = emb.filter(F.col("vec_id") < 16)
        out = pq_encode(emb, cb)
        n_distinct = out.select("code").distinct().count()
        assert n_distinct > 1  # not collapsing everything to one code


class TestValueOutliersQuery:
    def test_fences_classify_extremes(self, spark):
        from database_migration_engine_spark.plans import QUERIES

        out = {
            r.event_type: r
            for r in QUERIES["value_outliers"](spark, SF_DIR).collect()
        }
        ev = read_table(spark, SF_DIR, "events")
        counts = {
            r.event_type: r.n
            for r in ev.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert set(out) == set(counts)
        for t, r in out.items():
            assert r.n_events == counts[t]
            assert r.q1 <= r.q3
            assert r.n_low >= 0 and r.n_high >= 0
            # fences at 1.5 IQR must not flag more than a small tail
            assert (r.n_low + r.n_high) < 0.2 * r.n_events


class TestTriangleCount:
    def test_triangles_on_crafted_graph(self, spark):
        # monkeypatch the shared pair cache with a known graph:
        # 1-2-3 triangle + dangling edge 3-4
        from database_migration_engine_spark.plans import queries as Q

        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (3, 4)], "doc_a long, doc_b long"
        )
        key = ("pairs", spark.sparkContext.applicationId, "/tmp/_tc_test")
        Q._DEDUP_GRAPH_CACHE[key] = edges
        try:
            out = {
                r.doc_id: r.n_triangles
                for r in Q.QUERIES["triangle_count"](
                    spark, "/tmp/_tc_test"
                ).collect()
            }
        finally:
            del Q._DEDUP_GRAPH_CACHE[key]
        assert out == {1: 1, 2: 1, 3: 1}


class TestAttributionStream:
    def test_outer_flush_matches_batch(self, spark):
        """The heartbeat-driven watermark flush must emit EVERY purchase,
        including the end-of-stream tail an outer join would otherwise
        hold in state forever (without the heartbeats the sf0.001 run
        demonstrably loses 3 purchases)."""
        from database_migration_engine_spark.plans import QUERIES

        got = QUERIES["events_attribution_stream"](spark, SF_DIR).toPandas()
        ev = read_table(spark, SF_DIR, "events")
        p = ev.filter("event_type='purchase'").alias("p")
        c = ev.filter("event_type='click'").alias("c")
        want = (
            p.join(
                c,
                F.expr(
                    "p.user_id = c.user_id AND c.ts >= p.ts - INTERVAL 10"
                    " MINUTES AND c.ts < p.ts"
                ),
                "left_outer",
            )
            .groupBy(
                F.col("p.event_id").alias("purchase_id"),
                F.col("p.user_id").alias("user_id"),
            )
            .agg(F.count("c.event_id").alias("n_clicks"))
            .toPandas()
        )
        got = got.sort_values("purchase_id", ignore_index=True)
        want = want.sort_values("purchase_id", ignore_index=True)
        assert len(got) == len(want)
        assert (got["n_clicks"] == want["n_clicks"]).all()
        # the zero-click tail is present (the part inner joins can't do)
        assert (got["n_clicks"] == 0).any()


    def test_single_heartbeat_two_batches_no_data_flush(self, spark):
        """r04 staging contract: ONE heartbeat file co-read with the data
        (one file batch), and the trailing no-data batch carries the
        outer-state flush. Pins the Spark behavior the single-heartbeat
        design depends on: if an upgrade stopped running the no-data
        batch, this test loses its zero-click tail and fails loudly."""
        import uuid

        from pyspark.sql import functions as SF

        from database_migration_engine_spark.session import shuffle_width
        from database_migration_engine_spark.streaming import events as SE

        staged = SE.heartbeat_stream_dir(
            SF_DIR, app_id=spark.sparkContext.applicationId
        )
        import os

        files = sorted(os.listdir(staged))
        assert files == [".src_stamp", "events.parquet", "zz_heartbeat_1.parquet"]
        with shuffle_width(spark, 4):
            sdf = SE.attribution_join(spark, SF_DIR)
            name = "hbprobe_" + uuid.uuid4().hex[:6]
            q = (
                sdf.writeStream.format("memory").queryName(name)
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination()
        progress = q.recentProgress
        # one file batch (data + heartbeat) + one no-data flush batch
        assert len(progress) == 2, [p["batchId"] for p in progress]
        assert progress[-1]["numInputRows"] == 0
        tail = (
            spark.table(name)
            .filter("purchase_id >= 0 AND click_id IS NULL")
            .count()
        )
        assert tail > 0  # the flush-only rows arrived in the no-data batch

    def test_heartbeat_staging_int64_ns_fixture(self, spark, tmp_path):
        """ADVICE r03: fixtures whose parquet ts column is raw epoch-ns
        int64 (the EVENTS_RAW shape) must stage a heartbeat in the same
        unit instead of crashing on a timestamp-into-int64 pa.array."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from database_migration_engine_spark.streaming import events as SE

        d = tmp_path / "nsfix"
        d.mkdir()
        base_ns = 1_600_000_000_000_000_000
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2], type=pa.int64()),
                "ts": pa.array(
                    [base_ns, base_ns + 60_000_000_000], type=pa.int64()
                ),
                "user_id": pa.array([7, 7], type=pa.int64()),
                "event_type": pa.array(["click", "purchase"]),
                "value": pa.array([1.0, 2.0]),
                "props": pa.array(["{}", "{}"]),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        staged = SE.heartbeat_stream_dir(str(d), app_id="ncitest")
        hb = pq.read_table(os.path.join(staged, "zz_heartbeat_1.parquet"))
        assert hb.schema.field("ts").type == pa.int64()
        ns = hb.column("ts")[0].as_py()
        # 2100-01-01 in epoch-ns, beyond every real row
        assert ns > base_ns and ns == 4102444800 * 10**9
        assert hb.column("event_type")[0].as_py() == "heartbeat"


class TestCompactChangelogProperties:
    def test_random_changelogs_match_reference(self, spark):
        """Property sweep: arbitrary keyed changelogs (random ops, random
        interleavings) must compact to exactly the Python-reference
        last-writer-wins state. Batched into one Spark round-trip so the
        sweep stays fast."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        op = st.sampled_from(["U", "D"])
        row = st.tuples(
            st.integers(0, 5),  # key
            op,
            st.text(alphabet="abc", min_size=0, max_size=2),
        )
        cases = st.lists(row, min_size=1, max_size=25)
        collected = []

        @settings(max_examples=30, deadline=None)
        @given(cases)
        def gather(rows):
            collected.append(list(rows))

        gather()
        for case_id, rows in enumerate(collected):
            # reference: last row per key wins (seq = position)
            ref = {}
            counts = {}
            for seq, (k, op_, val) in enumerate(rows):
                ref[k] = (op_, val, seq)
                counts[k] = counts.get(k, 0) + 1
            expect = {
                k: (v[1], counts[k])
                for k, v in ref.items()
                if v[0] != "D"
            }
            df = spark.createDataFrame(
                [(k, seq, op_, val) for seq, (k, op_, val) in enumerate(rows)],
                CHG_SCHEMA.replace("seq long", "seq long"),
            )
            got = {
                r.k: (r.val, r.n_changes)
                for r in compact_changelog(
                    df, key_cols=["k"], order_cols=["seq"]
                ).collect()
            }
            assert got == expect, f"case {case_id}: {rows}"


def test_mad_outliers_null_median_group(spark, tmp_path):
    """A group whose median row holds a NULL value has a NULL median;
    the other groups' medians and MADs are unaffected."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_migration_engine_spark.plans.queries import QUERIES

    types = ["click"] * 5 + ["view"] * 3
    values = [1.0, 2.0, 3.0, 4.0, 100.0, None, None, None]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(types)), type=pa.int64()),
            "ts": pa.array([0] * len(types), type=pa.timestamp("us")),
            "user_id": pa.array([1] * len(types), type=pa.int64()),
            "event_type": pa.array(types),
            "value": pa.array(values, type=pa.float64()),
            "props": pa.array(["{}"] * len(types)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    got = {r.event_type: r for r in
           QUERIES["mad_outliers"](spark, str(tmp_path)).collect()}
    assert (got["click"].median_value, got["click"].mad) == (3.0, 1.0)
    assert got["click"].n_outliers == 1
    assert got["view"].median_value is None
