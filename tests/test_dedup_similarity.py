"""Self-consistency tests for the non-oracle-expressible operators:
MinHash-LSH recall on known duplicates, SimHash fingerprint properties,
ANN-LSH recall against the brute-force baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_migration_engine_spark import schemas
from database_migration_engine_spark.io import read_table
from database_migration_engine_spark.operators import dedup as DD
from database_migration_engine_spark.operators import similarity as SIM

from .conftest import SF_DIR


def _docs(spark, n=100):
    return (
        read_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < n)
        .select("doc_id", "text")
    )


def test_minhash_lsh_finds_exact_duplicates(spark):
    """Every doc unioned with an identical mirror must produce its
    (doc, mirror) candidate pair with est_jaccard == 1.0 — identical
    shingle sets give identical signatures in every band."""
    docs = _docs(spark)
    n = docs.count()
    mirrored = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    pairs = DD.minhash_lsh_pairs(docs.unionByName(mirrored))
    mirror_hits = pairs.filter(
        (F.col("doc_b") == F.col("doc_a") + 1_000_000)
        & (F.col("est_jaccard") == 1.0)
    )
    assert mirror_hits.count() == n


def test_minhash_est_similarity_tracks_jaccard(spark):
    """LSH candidates that are true near-dups (trigram jaccard ≥ 0.5)
    should carry high estimated similarity."""
    docs = _docs(spark, 200)
    true_pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in DD.minhash_lsh_pairs(docs).collect()
    }
    for pair, true_j in true_pairs.items():
        assert pair in est, f"LSH missed high-similarity pair {pair} (j={true_j})"
        assert est[pair] >= 0.25


def test_simhash_identical_docs_same_fingerprint(spark):
    docs = _docs(spark, 50)
    mirrored = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    fp = DD.simhash64(docs.unionByName(mirrored))
    joined = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            F.col("b.doc") == F.col("a.doc") + 1_000_000,
        )
        .withColumn("ham", DD.hamming64("a.simhash", "b.simhash"))
    )
    assert joined.filter(F.col("ham") != 0).count() == 0


def test_dedup_exact_partitions_input(spark):
    """Exact-dedup groups partition the input: sum of group sizes equals
    the corpus size, keep_id is a member of each group."""
    docs = read_table(spark, SF_DIR, "documents")
    groups = DD.dedup_exact(docs)
    total = groups.agg(F.sum("n_dups")).first()[0]
    assert total == docs.count()


def test_ann_lsh_recall_vs_brute_force(spark):
    """Bucketed ANN returns a subset of true neighbors; recall@5 over the
    query set should be non-trivial (same-bucket collision of similar
    vectors) and every returned pair must be in the brute-force ranking
    order (cos values match exactly for shared pairs)."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r.qid, r.nid): r.cos_sim
        for r in SIM.cosine_topk(emb, queries, k=5).collect()
    }
    approx = SIM.ann_lsh_topk(emb, queries, k=5, num_bits=4).collect()
    assert len(approx) > 0
    hits = sum(1 for r in approx if (r.qid, r.nid) in brute)
    for r in approx:
        if (r.qid, r.nid) in brute:
            assert r.cos_sim == brute[(r.qid, r.nid)]
    assert hits >= 1


def test_ngram_jaccard_bounds(spark):
    docs = _docs(spark, 200)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.1)
    bad = pairs.filter((F.col("jaccard") < 0.1) | (F.col("jaccard") > 1.0))
    assert bad.count() == 0


def test_ann_lsh_more_tables_no_worse_recall(spark):
    """Recall@5 is monotone in the number of hash tables (every 1-table
    candidate pair is also a 2-table candidate pair)."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r.qid, r.nid) for r in SIM.cosine_topk(emb, queries, k=5).collect()
    }

    def recall(num_tables):
        approx = SIM.ann_lsh_topk(
            emb, queries, k=5, num_bits=4, num_tables=num_tables
        ).collect()
        return sum(1 for r in approx if (r.qid, r.nid) in brute)

    assert recall(2) >= recall(1)


def test_ivf_recall_and_exactness(spark):
    """IVF results are a subset of true cosine values (exact within probed
    cells) with non-trivial recall at nprobe=2."""
    import numpy as np

    emb = read_table(spark, SF_DIR, "embeddings")
    centroids = np.array(
        [r.embedding for r in emb.filter(F.col("vec_id") < 16)
         .orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r.qid, r.nid): r.cos_sim
        for r in SIM.cosine_topk(emb, queries, k=5).collect()
    }
    ivf = SIM.ivf_topk(emb, queries, centroids, k=5, nprobe=2).collect()
    assert len(ivf) > 0
    for r in ivf:
        if (r.qid, r.nid) in brute:
            assert r.cos_sim == brute[(r.qid, r.nid)]
    hits = sum(1 for r in ivf if (r.qid, r.nid) in brute)
    assert hits >= 1


def test_rolling_hashes_detect_shared_chunks(spark):
    """Rabin-Karp property: a document sharing a 32-byte substring with
    another produces at least one identical (rhash) value; per-doc hash
    count is len(utf8)-window+1."""
    from database_migration_engine_spark import schemas as S
    from pyspark.sql import types as T

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, "PREFIX-" + base[10:40] + "-SUFFIX padding padding"),  # shares 30 bytes? use 40
        (3, "completely different content with no overlap at all here"),
    ]
    # make doc2 share a full 32-byte window with doc1
    rows[1] = (2, "XX" + base[5:45] + "YYYY more tail")
    df = spark.createDataFrame(
        rows,
        schema=T.StructType(
            [T.StructField("doc_id", T.LongType()),
             T.StructField("text", T.StringType())]
        ),
    )
    hashes = DD.rolling_hashes(df, window=32).collect()
    by_doc = {}
    for r in hashes:
        by_doc.setdefault(r.doc, set()).add(r.rhash)
    for doc_id, text in rows:
        expected = len(text.encode()) - 32 + 1
        assert len([r for r in hashes if r.doc == doc_id]) == expected
    assert by_doc[1] & by_doc[2], "shared 32-byte chunk not detected"
    assert not (by_doc[1] & by_doc[3])


def test_ann_lsh_multiprobe_no_worse_recall(spark):
    """Multi-probe (bucket XOR one sign bit, query side only) must not
    lose recall vs single-probe at the same table count, and typically
    gains it — the cheap recall lever when more tables would inflate
    the corpus index."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 30)
    truth = {
        (r.qid, r.nid)
        for r in SIM.cosine_topk(emb, queries_df, k=5).collect()
    }

    def recall(num_probes: int) -> float:
        got = {
            (r.qid, r.nid)
            for r in SIM.ann_lsh_topk(
                emb, queries_df, k=5, num_bits=4, num_tables=1,
                num_probes=num_probes,
            ).collect()
        }
        return len(got & truth) / len(truth)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0
    assert r2 > 0.3


def test_lsh_near_dup_exact_recall_vs_all_pairs(spark):
    """The scale-gated dedup_embedding path (LSH-bucketed candidates +
    exact in-bucket cosine) must reproduce the all-pairs kernel's
    threshold-pair set EXACTLY at fixture scale — ids and cosine values
    bit-identical (VERDICT.md r01 item 2)."""
    from database_migration_engine_spark.operators.similarity import (
        cosine_pairs_arrow,
        lsh_near_dup_pairs,
    )

    for sf_dir in (SF_DIR, "/root/testdata/sf0.01"):
        emb = read_table(spark, sf_dir, "embeddings")
        truth = {
            (r.qid, r.nid): r.cos_sim
            for r in cosine_pairs_arrow(emb, emb, threshold=0.4).collect()
            if r.qid < r.nid
        }
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in lsh_near_dup_pairs(emb, threshold=0.4).collect()
        }
        assert set(got) == set(truth), (
            f"{sf_dir}: LSH pair set != all-pairs set "
            f"(missed {set(truth) - set(got)}, extra {set(got) - set(truth)})"
        )
        for k, v in truth.items():
            assert got[k] == v, f"{sf_dir}: cos mismatch at {k}"


def test_adaptive_lsh_bits_anchors():
    """The scaling knob's measured anchors (r07 ×30 octave + probe):
    fixture scales clamp to the historical pin (6 — every existing
    certification hash unchanged), ×10 → 10, ×30 → 11 (the probe's
    measured full-recall point), and the cap bounds oracle SQL size."""
    from database_migration_engine_spark.operators.similarity import (
        adaptive_lsh_bits,
    )

    assert adaptive_lsh_bits(63) == 6  # sf0.001
    assert adaptive_lsh_bits(200) == 6  # sf0.01
    assert adaptive_lsh_bits(2000) == 6  # sf0.1 — the historical pin
    assert adaptive_lsh_bits(6000) == 8  # ×3
    assert adaptive_lsh_bits(20000) == 10  # ×10
    assert adaptive_lsh_bits(60000) == 11  # ×30 — probe-measured
    assert adaptive_lsh_bits(10**9) == 16  # capped
    assert adaptive_lsh_bits(0) == 6


def test_lsh_parametric_bits_oracle_parity(spark, duck):
    """The parametric machinery itself, proven OFF the default width:
    Spark `lsh_near_dup_pairs(num_bits=7)` must enumerate the exact
    pair set of `build_dedup_embedding_oracle(7)` — same buckets, same
    probes, same cosines — so the scale sweeps' rebuilt-oracle
    comparison is structural equality at ANY adaptive width, not just
    the fixture pin (r08, the dedup_consensus scale fix)."""
    from database_migration_engine_spark.functions.portable_hash import (
        lsh_component,
    )
    from database_migration_engine_spark.plans.oracles import (
        build_dedup_embedding_oracle,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in SIM.lsh_near_dup_pairs(
            emb, threshold=0.4, num_bits=7, components=lsh_component
        ).collect()
    }
    want = {
        (a, b): c
        for a, b, c in duck.execute(
            build_dedup_embedding_oracle(7)
        ).fetchall()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == v, f"cos mismatch at {k}"


def test_lsh_near_dup_plan_has_no_cartesian(spark):
    """PLANS.md requirement from the round-1 verdict: the registered
    dedup_embedding plan must be the bucketed equi-join, not the N×N."""
    from database_migration_engine_spark.plans import QUERIES

    plan = QUERIES["dedup_embedding"](
        spark, SF_DIR
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_portable_hash_three_way_parity(spark, duck):
    """functions/portable_hash SQL must evaluate identically in Spark,
    DuckDB, and pure-Python hashlib — it is the foundation of the r02
    oracle promotion for simhash_fingerprint / dedup_near_minhash."""
    import hashlib

    from database_migration_engine_spark.functions.portable_hash import (
        hex_bit_sql,
        signed64_from_hex_sql,
    )

    samples = ["hello", "world", "", "a", "x:y", "0:deadbeef", "ümlaut"]
    for s in samples:
        lit = "'" + s.replace("'", "''") + "'"
        expr = signed64_from_hex_sql(f"md5({lit})")
        spark_v = spark.sql(f"SELECT {expr} AS v").collect()[0].v
        duck_v = duck.execute(f"SELECT {expr}").fetchone()[0]
        raw = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16)
        py_v = raw - (1 << 64) if raw >= (1 << 63) else raw
        assert spark_v == duck_v == py_v, s
        for b in (0, 3, 17, 31, 32, 62, 63):
            bexpr = hex_bit_sql(f"md5({lit})", b)
            sb = spark.sql(f"SELECT {bexpr} AS v").collect()[0].v
            db = duck.execute(f"SELECT {bexpr}").fetchone()[0]
            assert sb == db == ((raw >> b) & 1), (s, b)


def test_incremental_dedup_finds_all_mirrors(spark):
    """Every new doc must collide with its exact mirror in the index
    (identical text → identical signatures → all bands collide), and no
    index×index pair may appear."""
    from database_migration_engine_spark.operators.dedup import (
        lsh_join_presigned,
        minhash_signatures,
    )

    docs = read_table(spark, SF_DIR, "documents").select("doc_id", "text")
    new = docs.filter("doc_id >= 450")
    index = docs.filter("doc_id < 450").unionByName(
        new.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    pairs = lsh_join_presigned(
        minhash_signatures(new), minhash_signatures(index)
    ).collect()
    mirror_pairs = {
        (r.new_doc, r.index_doc): r.est_jaccard
        for r in pairs
        if r.index_doc == r.new_doc + 1_000_000
    }
    new_ids = {r.doc_id for r in new.collect()}
    assert set(k[0] for k in mirror_pairs) == new_ids
    assert all(v == 1.0 for v in mirror_pairs.values())
    assert all(r.new_doc < 1_000_000 for r in pairs)


def test_similarity_incremental_top1_is_mirror(spark):
    """Each new vector's rank-1 neighbor in the index must be its exact
    mirror (identical vector → maximal cosine)."""
    from database_migration_engine_spark.plans import QUERIES

    rows = QUERIES["similarity_incremental"](spark, SF_DIR).collect()
    top1 = {r.qid: r for r in rows if r.rnk == 1}
    assert top1, "no results"
    for qid, r in top1.items():
        assert r.nid == qid + 1_000_000, (qid, r.nid)
        assert r.cos_sim > 0.999999


def test_portable_hash_property_random_strings(duck):
    """Property check (hypothesis): for arbitrary text, the dialect-
    neutral signed-64 parse equals Python's int(md5[:16], 16) reinterpret
    — DuckDB evaluates the same SQL Spark would, so one engine suffices
    for the property sweep (the three-way test pins Spark on samples)."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from database_migration_engine_spark.functions.portable_hash import (
        signed64_from_hex_sql,
    )

    # NUL cannot ride inside a SQL string literal (the parser stops at
    # the C-string terminator) — a harness limitation only: production
    # md5 runs over column values, which carry NULs fine. Surrogates
    # (category Cs) are excluded because they are unencodable in UTF-8,
    # so they cannot occur in a parquet string column at all.
    @settings(max_examples=60, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                blacklist_characters="\x00", blacklist_categories=("Cs",)
            ),
            min_size=0,
            max_size=40,
        )
    )
    def check(s):
        lit = "'" + s.replace("'", "''") + "'"
        duck_v = duck.execute(
            f"SELECT {signed64_from_hex_sql(f'md5({lit})')}"
        ).fetchone()[0]
        raw = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16)
        assert duck_v == (raw - (1 << 64) if raw >= (1 << 63) else raw)

    check()


def test_contamination_self_is_total(spark):
    """A document screened against a corpus that contains it verbatim
    must read 100% contaminated; against a disjoint corpus, ~0%."""
    from database_migration_engine_spark.plans import QUERIES

    rows = QUERIES["contamination_check"](spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 <= r.contamination_rate <= 1.0
        assert r.n_contaminated <= r.n_shingles


def test_cosine_pairs_arrow_refuses_corpus_scale_query_side(spark, monkeypatch):
    """cosine_pairs_arrow collects its query side to the driver; a
    corpus-sized query input must be refused, not silently collected
    (r03 verdict item 5)."""
    import pytest

    from database_migration_engine_spark.operators import similarity as SIM

    emb = spark.range(10).selectExpr(
        "id AS vec_id", "array(double(id), double(id + 1)) AS embedding"
    )
    monkeypatch.setattr(SIM, "MAX_COLLECTED_QUERIES", 5)
    with pytest.raises(ValueError, match="query side exceeds"):
        SIM.cosine_pairs_arrow(emb, emb)


def test_sharded_lsh_pairs_equal_unsharded(spark):
    """The shard-pair partitioning (r09 verdict item 1) is execution
    layout only: at the same bit-width the sharded operator's pair set
    equals the unsharded one pair-for-pair — ids AND cosine values
    bit-identical — for shard counts 2 and 4 (both group shapes:
    within-shard all-pairs and cross-shard rectangles)."""
    from database_migration_engine_spark.functions.portable_hash import (
        lsh_component,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    base = {
        (r.id_a, r.id_b): r.cos_sim
        for r in SIM.lsh_near_dup_pairs(
            emb, threshold=0.4, num_bits=6, components=lsh_component
        ).collect()
    }
    assert base, "fixture must produce pairs for the test to mean anything"
    for s in (2, 4):
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in SIM.lsh_near_dup_pairs_sharded(
                emb,
                num_shards=s,
                threshold=0.4,
                num_bits=6,
                components=lsh_component,
            ).collect()
        }
        # dict equality compares values too — cosines must be bit-exact
        assert got == base, (
            f"S={s}: sharded pair graph != unsharded "
            f"(missed {set(base) - set(got)}, extra {set(got) - set(base)})"
        )


def test_sharded_clusters_merge_across_shards(spark):
    """The registry query's labels equal min-label connected components
    over the unsharded pair graph, and at least one cluster's members
    span >= 2 hash-range shards — the cross-shard merge is exercised
    for real, not vacuously."""
    from database_migration_engine_spark.operators import graph as GR
    from database_migration_engine_spark.plans.queries import QUERIES

    sf_dir = "/root/testdata/sf0.01"
    labels = QUERIES["dedup_embedding_sharded"](spark, sf_dir)
    got = {r.vec_id: r.cluster_id for r in labels.collect()}

    emb = read_table(spark, sf_dir, "embeddings")
    from database_migration_engine_spark.functions.portable_hash import (
        lsh_component,
    )

    pairs = SIM.lsh_near_dup_pairs(
        emb, threshold=0.4, num_bits=6, components=lsh_component
    )
    nodes = (
        pairs.select(F.col("id_a").alias("vec_id"))
        .unionByName(pairs.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    cc = GR.connected_components(
        pairs, src="id_a", dst="id_b", nodes=nodes, node_col="vec_id",
        dedupe_edges=False,
    )
    want = {r.node: r.label for r in cc.collect()}
    for v in (r.vec_id for r in emb.select("vec_id").collect()):
        want.setdefault(v, v)
    assert got == want

    # cross-shard merge actually exercised: some cluster spans >= 2 shards
    spans = (
        labels.withColumn("shard", SIM.shard_of("vec_id", 4))
        .groupBy("cluster_id")
        .agg(F.countDistinct("shard").alias("n_shards"))
        .agg(F.max("n_shards").alias("mx"))
        .collect()[0]["mx"]
    )
    assert spans >= 2
