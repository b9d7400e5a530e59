"""Deduplication operators for large-scale corpus curation.

Generalizes the reference's identity-by-checksum (SHA-256 of content,
reference internal/migration/migration.go:19-23) into the dedup family a
training-data pipeline needs:

* exact          — hash-groupBy on sha2(content)
* token-set      — bag/set-signature dedup (order-insensitive exact)
* n-gram Jaccard — shingle-overlap near-dup with frequency capping
* MinHash-LSH    — banded signatures for sub-quadratic candidate pairs
* SimHash        — 64-bit similarity fingerprint

All are pure DataFrame expressions (no Python UDFs): hashing uses Spark's
built-in ``hash``/``xxhash64``/``sha2``/``md5`` (JVM, codegen). Scale
notes per operator: the quadratic shingle self-join is the *verify* step;
at 100 TB candidate generation must go through LSH banding (that's the
point of ``minhash_lsh_pairs``) and hot shingles are dropped by document
frequency before any join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.portable_hash import hex_bit_sql
from ..functions.text import shingles, tokens
from ..session import persist_bounded
from .joins import corpus_join


def dedup_exact(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via hash-groupBy: shuffle on the 64-hex sha2 digest,
    never on the (arbitrarily wide) content itself."""
    return (
        df.select(
            F.col(id_col), F.sha2(F.col(content_col), 256).alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def token_set_signature(df: DataFrame, content_col: str = "text") -> DataFrame:
    """Order-insensitive signature: md5 of the sorted distinct token set.
    Catches shuffled/reordered copies that byte-hashing misses."""
    toks = tokens(content_col)
    return df.withColumn(
        "sig",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))),
    )


def dedup_token_sig(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of documents sharing a token-set signature (>1 member)."""
    return (
        token_set_signature(df, content_col)
        .groupBy("sig")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


# Above this many backing bytes an input scan splits into enough tasks
# on its own (row groups permitting) and the spread exchange would move
# real volume — spread_input then passes through untouched. 256 MiB =
# twice the default maxPartitionBytes: anything smaller is at most a
# couple of scan tasks' worth of data, so the exchange it pays for full
# parallelism is itself tiny.
SPREAD_SMALL_BYTES = 256 << 20


def spread_input(df: DataFrame, id_col: str | None = None) -> DataFrame:
    """Give a narrow input scan the session's full parallelism before a
    CPU-heavy pre-shuffle chain (r10 optimization round, guide §2.5
    "input skew"). Every fixture table is a single one-row-group parquet
    file, so a scan is ONE task — and the tokenize → shingle → hash
    forest that precedes the first aggregation then runs single-threaded
    (measured: the 32-hash md5 MinHash pass over docs+mirror spent ~13 s
    in one task at sf0.1). A deterministic hash repartition on the id
    spreads that work; the exchange moves only the raw rows once.

    Gated on the exact BACKING-FILE size (ADVICE r10 — the previous
    ``df.rdd.getNumPartitions()`` gate forced physical planning on every
    invocation and would exchange a large-but-few-partition input): the
    spread fires only when every file leaf is local and the total is
    under ``SPREAD_SMALL_BYTES``. Large or unknown-size inputs (remote
    storage, streams, cached subtrees) pass through untouched — at
    100 TB this is a no-op, not a corpus-wide exchange."""
    from .joins import _backing_bytes

    b = _backing_bytes(df)
    if b is None or b > SPREAD_SMALL_BYTES:
        return df
    sc = df.sparkSession.sparkContext
    if id_col is not None:
        return df.repartition(sc.defaultParallelism, F.col(id_col))
    return df.repartition(sc.defaultParallelism)


def _doc_shingles(
    df: DataFrame, content_col: str, id_col: str, n: int
) -> DataFrame:
    """One row per (doc, distinct shingle), with the shingle carried as an
    xxhash64 — every downstream shuffle/join moves 8 bytes instead of the
    shingle string. Counting semantics are unchanged (a 64-bit collision
    across a corpus' distinct shingles is ~birthday(2^64) — negligible,
    and the standard trade in shingle-based dedup)."""
    return (
        spread_input(df, id_col)
        .select(F.col(id_col).alias("doc"), tokens(content_col).alias("toks"))
        .select("doc", F.explode(shingles("toks", n)).alias("shingle_str"))
        .select("doc", F.xxhash64("shingle_str").alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.1,
    max_df: int = 50,
    keep_sizes: bool = False,
) -> DataFrame:
    """Near-dup pairs by n-gram (token shingle) Jaccard similarity.

    Pipeline: distinct shingles per doc → drop shingles appearing in more
    than ``max_df`` docs (hot-shingle cap: a stop-phrase shared by 10⁶ docs
    would otherwise produce a 10¹²-row self-join at scale) → self-join on
    shingle (da < db) → common counts → jaccard = common/(|A|+|B|-common).

    The doc sizes |A|,|B| are counted AFTER the frequency cap so both the
    numerator and denominator live in the same filtered space (and so the
    oracle SQL can reproduce the numbers exactly).
    """
    sh = _doc_shingles(df, content_col, id_col, n)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") <= max_df)
        .select("shingle")
    )
    # bounded persist: consumed three times (sizes + both self-join
    # sides) — the tokenize→shingle→hash subtree would otherwise
    # recompute per consumer; the helper unpersists the previous
    # invocation's frame so the cache never grows past one dataset
    # (r03 advice leak, without localCheckpoint's eager-job cost)
    sh = persist_bounded("dedup.ngram_sh", corpus_join(sh, rare, "shingle"))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        corpus_join(sh.alias("a"), sh.alias("b"), "shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        corpus_join(
            corpus_join(pairs, sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a"),
            sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "doc_a", "doc_b", "common", "jaccard",
            *(["n_a", "n_b"] if keep_sizes else []),
        )
    )


def minhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
    hash_fn: str = "murmur3",
    spread: bool = True,
) -> DataFrame:
    """MinHash signatures as ``num_hashes`` columns h0..h{k-1}.

    ``hash_fn="murmur3"`` (default, fastest): each family member is
    Spark's Murmur3 ``hash(shingle, seed_i)`` (seeding by mixing in a
    literal — JVM-side, codegen-friendly). ``hash_fn="md5"``: family
    member i is the signed-64 head of ``md5(i || ':' || md5(shingle))`` —
    ~2-3× the hashing cost, but bit-reproducible by the DuckDB oracle
    (functions/portable_hash.py). Either way the signature is one groupBy
    over the exploded shingles computing all mins in a single pass
    (partial aggregation map-side, one shuffle on doc id).
    """
    if hash_fn == "md5":
        # ``spread=False`` for callers whose input is already tiny AND
        # width-sensitive (the streaming drain's per-micro-batch frames:
        # a 32-wide exchange per batch is pure floor cost there)
        sh = (
            (spread_input(df, id_col) if spread else df)
            .select(
                F.col(id_col).alias("doc"), tokens(content_col).alias("toks")
            )
            .select("doc", F.explode(shingles("toks", n)).alias("shingle_str"))
            .select("doc", F.md5("shingle_str").alias("shex"))
        )
        seeded = sh.select(
            "doc",
            *[
                F.md5(F.concat_ws(":", F.lit(i), F.col("shex"))).alias(f"hx{i}")
                for i in range(num_hashes)
            ],
        )
        # components stay 16-char hex STRINGS: lexicographic MIN over
        # lowercase hex is exactly unsigned-numeric MIN in both engines,
        # and skipping the per-shingle signed-64 nibble parse cut the
        # sf0.1 signature time ~2x (parses now happen only per band digest)
        aggs = [
            F.min(F.substring(f"hx{i}", 1, 16)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
        return seeded.groupBy("doc").agg(*aggs)
    sh = _doc_shingles(df, content_col, id_col, n)
    aggs = [
        F.min(F.hash(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    hash_fn: str = "murmur3",
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    The signature (num_hashes mins) is split into ``bands`` bands of
    ``num_hashes//bands`` rows; docs colliding on any band's hash become a
    candidate pair. Sub-quadratic: the only join is an equi-join on
    (band_id, band_hash) — the classic LSH bucketing that replaces the
    all-pairs comparison at 100 TB. Estimated similarity = fraction of
    equal signature components. ``hash_fn="md5"`` makes signatures AND
    band hashes oracle-reproducible (see minhash_signatures).
    """
    # bounded persist (see persist_bounded): both self-join sides read
    # it; signatures compute once; previous invocation's cache released
    banded = persist_bounded(
        "dedup.lsh_banded",
        _banded_signatures(
            minhash_signatures(df, content_col, id_col, num_hashes, n,
                               hash_fn),
            num_hashes, bands, hash_fn,
        ),
    )

    return (
        _band_join(banded, banded)
        .filter(F.col("new_doc") < F.col("index_doc"))
        .select(
            F.col("new_doc").alias("doc_a"),
            F.col("index_doc").alias("doc_b"),
            "est_jaccard",
        )
    )


def _banded_signatures(
    sig: DataFrame, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """(doc, band_id, band_hash, hs) rows: the signature packed into ONE
    array column and one band-key row per band. Deliberately compact
    expression trees — an earlier form carried 32 h-columns plus 16-nibble
    signed-64 parses per band key, and the resulting generated classes
    thrashed Spark's 100-entry codegen cache (observed: 14 s first-run
    compile, 0.3 s warm). Band keys stay md5-hex strings on the portable
    path; the DuckDB oracle joins on the same full hex digests, so both
    engines select identical candidate sets by construction (r03: the
    oracle previously parsed a signed-64 prefix of the digest, which was
    equivalent only up to 64-bit prefix collisions — ADVICE r02)."""
    rows = num_hashes // bands

    def band_key(b: int):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        if hash_fn == "md5":
            return F.md5(F.concat_ws(",", *[c.cast("string") for c in cols]))
        return F.hash(*cols).cast("string")

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), band_key(b).alias("band_hash"))
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc",
        F.explode(band_structs).alias("band"),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("hs"),
    ).select("doc", "band.band_id", "band.band_hash", "hs")


def _band_join(new_bands: DataFrame, idx_bands: DataFrame) -> DataFrame:
    """The banded-LSH join: (doc, band_id, band_hash, hs) bands of a new
    side ⋈ an index side on (band_id, band_hash), deduped across band
    collisions → (new_doc, index_doc, est_jaccard). The join goes through
    ``corpus_join``, whose backing-size gate picks the strategy. The
    streaming drain keeps its plain join (streaming/dedup._pairs): its
    checkpointed micro-batch sides have no backing files, so the gate
    would pin sort-merge there, which measured slower than letting Spark
    broadcast."""
    pairs = corpus_join(
        new_bands.toDF("new_doc", "band_id", "band_hash", "hs_a"),
        idx_bands.toDF("index_doc", "band_id", "band_hash", "hs_b"),
        ["band_id", "band_hash"],
    ).dropDuplicates(["new_doc", "index_doc"])
    return pairs.select("new_doc", "index_doc", _est_jaccard())


def _est_jaccard():
    """Fraction of equal signature components from the packed arrays —
    one zip_with instead of one comparison column per hash."""
    return F.expr(
        "size(filter(zip_with(hs_a, hs_b, (x, y) -> x = y), v -> v))"
        " / size(hs_a)"
    ).cast("double").alias("est_jaccard")


def lsh_join_presigned(
    sig_new: DataFrame,
    sig_idx: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "murmur3",
) -> DataFrame:
    """Banded LSH join over PRE-COMPUTED signatures (doc, h0..h{k-1}) —
    the true production interface: the index side's signatures live in a
    stored dedup index and are read, never recomputed per batch. Callers
    that maintain such an index (or can derive one, e.g. mirrored ids
    share their source text's signature) skip an entire
    tokenize→shingle→hash pass."""
    return _band_join(
        _banded_signatures(sig_new, num_hashes, bands, hash_fn),
        _banded_signatures(sig_idx, num_hashes, bands, hash_fn),
    )


def simhash64(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    One 64-bit hash per token; for each bit position, sum +1/-1 weighted
    by the bit; fingerprint bit b = sign of the sum. One explode + one
    groupBy with 64 conditional-sum aggregates — all JVM-side, single
    shuffle. Near-duplicate docs differ in few bits (Hamming distance).

    ``hash_fn="xxhash64"`` (default) is the fast engine-local path;
    ``hash_fn="md5"`` derives the token hash from the md5 hex digest so
    the DuckDB oracle reproduces fingerprints bit-for-bit — each bit
    probe reads a single nibble of the materialized digest
    (functions/portable_hash.hex_bit_sql).
    """
    tok = spread_input(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(tokens(content_col)).alias("tok")
    )
    if hash_fn == "md5":
        # The md5-derived 64-bit value materializes as ONE signed long
        # (two conv'd 32-bit halves; the high half recentred before the
        # 2^32 scale-up so no product leaves the signed-64 range even
        # under ANSI overflow checks). Each bit probe is then a shift +
        # mask on a register — same shape as the xxhash64 fast path.
        # Earlier forms kept 16 nibble columns (r04) or re-parsed the
        # nibble inside all 64 aggregates (r03); this is ~8× less string
        # work per token and much smaller generated code.
        hi = "cast(conv(substr(thx, 1, 8), 16, 10) as bigint)"
        lo = "cast(conv(substr(thx, 9, 8), 16, 10) as bigint)"
        tok = tok.withColumn("thx", F.md5("tok")).select(
            "doc",
            F.expr(
                f"(CASE WHEN {hi} >= 2147483648 THEN {hi} - 4294967296 "
                f"ELSE {hi} END) * 4294967296 + {lo}"
            ).alias("th"),
        )
    else:
        tok = tok.withColumn("th", F.xxhash64("tok")).select("doc", "th")
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(th >> {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    sums = tok.groupBy("doc").agg(*bit_sums)
    fingerprint = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        shifted = F.shiftleft(bit, b)
        fingerprint = shifted if fingerprint is None else fingerprint + shifted
    return sums.select("doc", fingerprint.alias("simhash"))


def hamming64(a: str, b: str):
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(F.expr(f"{a} ^ {b}"))


def rolling_hashes(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    base: int = 257,
    modulus: int = (1 << 61) - 1,
) -> DataFrame:
    """Rabin-Karp rolling hashes: one hash per `window`-byte sliding
    window, computed in O(n) per document (each step removes the outgoing
    byte's term and appends the incoming one). The content-defined
    fingerprint set behind chunk-level dedup: two documents sharing any
    window produce colliding hashes without any alignment assumption.

    Arrow-batched pandas UDF: per-character arithmetic has no efficient
    column-expression form, and Python ints make the modular math exact.
    Output: (doc, pos, rhash) — downstream groupBy(rhash) finds shared
    chunks exactly like the shingle pipeline."""
    from ..session import ensure_worker_imports

    ensure_worker_imports(df.sparkSession)
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("rhash", T.LongType()),
        ]
    )
    pow_out = pow(base, window - 1, modulus)

    def kernel(batches):
        for pdf in batches:
            docs, positions, hashes = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[content_col]):
                data = text.encode("utf-8")
                if len(data) < window:
                    continue
                h = 0
                for ch in data[:window]:
                    h = (h * base + ch) % modulus
                docs.append(doc_id)
                positions.append(0)
                hashes.append(h - (1 << 63) if h >= (1 << 63) else h)
                for i in range(window, len(data)):
                    h = (
                        (h - data[i - window] * pow_out) * base + data[i]
                    ) % modulus
                    docs.append(doc_id)
                    positions.append(i - window + 1)
                    hashes.append(h - (1 << 63) if h >= (1 << 63) else h)
            yield pd.DataFrame(
                {"doc": docs, "pos": positions, "rhash": hashes}
            )

    return df.select(id_col, content_col).mapInPandas(kernel, out_schema)


def positioned_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """``(doc, pos, h)``: md5 of every ``n``-token shingle with its
    1-based start position.

    Shingles via posexplode + window leads, NOT a transform() lambda:
    higher-order-function bodies are interpreted per element (~33 µs per
    shingle measured at sf0.1), while lead/concat_ws/md5 in a top-level
    projection stay inside whole-stage codegen (~10× faster). The window
    sort is per-document (local per-key sort after a hash shuffle on
    id_col), never a global sort — the shape that survives 100 TB."""
    from pyspark.sql import Window

    from ..functions import text as TX

    toks_row = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(TX.tokens(content_col)).alias("pos0", "tok"),
    )
    # r11 (guide §2.5, the spread_input discipline applied to the WINDOW
    # exchange): the per-doc window requires hashpartitioning(doc), and
    # AQE sizes that exchange by BYTES — a fixture corpus' token rows
    # are a few MB, so every downstream gram-md5 / ×w-window / explode
    # consumer ran in 1-2 coalesced tasks (measured: winnowing 3.2 s of
    # collect in ≤8 tasks). When the backing files are provably small,
    # an explicit full-width repartition on the SAME key pre-empts the
    # identical exchange (AQE respects explicit repartitions — no second
    # exchange, the window and everything after it runs wide). Large or
    # unknown-size inputs keep the AQE-sized exchange: at 100 TB its
    # byte-proportional width is the right answer.
    from .joins import _backing_bytes

    b = _backing_bytes(df)
    if b is not None and b <= SPREAD_SMALL_BYTES:
        sc = df.sparkSession.sparkContext
        toks_row = toks_row.repartition(
            sc.defaultParallelism, F.col("doc")
        )
    w = Window.partitionBy("doc").orderBy("pos0")
    lead_cols = [F.lead("tok", k).over(w).alias(f"t{k}") for k in range(1, n)]
    return (
        toks_row.select("doc", "pos0", "tok", *lead_cols)
        .filter(F.col(f"t{n - 1}").isNotNull())
        .select(
            "doc",
            (F.col("pos0") + 1).alias("pos"),
            F.md5(
                F.concat_ws(" ", "tok", *[f"t{k}" for k in range(1, n)])
            ).alias("h"),
        )
    )


def exact_substr_spans(
    df: DataFrame,
    pairs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Longest common VERBATIM token run per candidate pair — the
    ExactSubstr signal (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): long verbatim spans that shingle
    Jaccard dilutes (a 60-token quote inside two large unrelated pages).

    Instead of per-pair suffix automata in Python, the runs come from
    relational ANCHOR CHAINING, exact and fully SQL-oracle-checkable:
    equal ``n``-token shingles between the pair are anchors ``(pa, pb)``;
    a maximal common substring of length L ≥ n corresponds 1:1 to a
    maximal run of L−n+1 consecutive anchors on the diagonal
    ``pb − pa``. Runs fall out of gaps-and-islands (``pa − row_number``
    per (pair, diagonal) partition — small bounded windows, never
    global), and ``run_len = n_anchors + n − 1`` is the exact span
    length; start_a/start_b are its extents (1-based token positions).

    Sub-quadratic: ``pairs`` comes from an upstream candidate screen
    (shingle Jaccard / MinHash-LSH), and the anchor join is an equi-join
    on (doc, shingle-hash) restricted to those pairs. One row per pair:
    the longest run (ties: min start_a, then start_b) plus ``n_runs``,
    the count of maximal duplicated spans ≥ n tokens."""
    from pyspark.sql import Window

    sh = positioned_shingles(df, id_col, content_col, n)
    a = sh.select(
        F.col("doc").alias("doc_a"), F.col("pos").alias("pa"), "h"
    )
    b = sh.select(
        F.col("doc").alias("doc_b"), F.col("pos").alias("pb"), "h"
    )
    anchors = (
        corpus_join(
            corpus_join(pairs.select("doc_a", "doc_b"), a, "doc_a"),
            b,
            ["doc_b", "h"],
        )
        .withColumn("diag", F.col("pb") - F.col("pa"))
    )
    w_diag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        anchors.withColumn(
            "isl", F.col("pa") - F.row_number().over(w_diag)
        )
        .groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(n - 1)).alias("run_len"),
        )
    )
    w_pair = Window.partitionBy("doc_a", "doc_b")
    return (
        runs.withColumn("n_runs", F.count(F.lit(1)).over(w_pair))
        .withColumn(
            "rn",
            F.row_number().over(
                w_pair.orderBy(
                    F.desc("run_len"), F.asc("start_a"), F.asc("start_b")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "doc_a",
            "doc_b",
            F.col("run_len").cast("long").alias("run_len"),
            F.col("start_a").cast("long").alias("start_a"),
            F.col("start_b").cast("long").alias("start_b"),
            F.col("n_runs").cast("long").alias("n_runs"),
        )
    )


def span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document duplicated-passage coverage (ExactSubstr-lite): for
    each document, how many of its token positions fall inside an
    ``n``-token shingle that also occurs in at least one OTHER document.

    Returns one row per input row: ``(id_col, n_tokens, n_dup_tokens)``.
    Membership, not similarity — the duplicated-shingle set is a linear
    hash-groupBy on md5 digests (map-side partial distinct-doc count) and
    the coverage union is a bounded ×n explode over duplicated positions
    only, so the whole plan stays linear in corpus size at 100 TB.
    Generalizes the reference's whole-file checksum dedup
    (`internal/migration/migration.go:19-23`) to sub-document spans."""
    from ..functions import text as TX

    sh = positioned_shingles(df, id_col, content_col, n)
    sh = sh.withColumnRenamed("doc", id_col)
    base = df.select(
        F.col(id_col), F.size(TX.tokens(content_col)).alias("n_tokens")
    )
    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    covered = (
        corpus_join(sh, dup, "h")
        .select(
            id_col,
            F.explode(F.expr(f"sequence(pos, pos + {n - 1})")).alias("idx"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_tokens"))
    )
    return (
        corpus_join(base.select(id_col, "n_tokens"), covered, id_col, "left")
        .withColumn("n_dup_tokens", F.coalesce("n_dup_tokens", F.lit(0)))
    )


def containment_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    subsume_at: float = 0.8,
    max_df: int = 50,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT.

    Jaccard misses doc-in-doc duplication: a paragraph fully quoted
    inside a 100× larger page has tiny Jaccard but containment ≈ 1 from
    the small side. Broder's containment c(A,B) = |A∩B|/|A| is the
    standard screen for that case in crawl dedup. Same sub-quadratic
    shape as ngram_jaccard_pairs (shingle equi-join + hot-shingle cap,
    sizes counted in the capped space so the oracle reproduces exactly);
    a pair surfaces when either direction's containment ≥ ``threshold``
    and is flagged ``subsumed`` when one side ≥ ``subsume_at``.
    """
    sh = _doc_shingles(df, content_col, id_col, n)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") <= max_df)
        .select("shingle")
    )
    # bounded persist (see persist_bounded) — r03 advice item: a plain
    # persist here leaked one cached dataset per invocation
    sh = persist_bounded("dedup.containment_sh", corpus_join(sh, rare, "shingle"))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        corpus_join(sh.alias("a"), sh.alias("b"), "shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        corpus_join(
            corpus_join(
                pairs,
                sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"),
                "doc_a",
            ),
            sizes
            .withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"),
            "doc_b",
        )
        .withColumn("cont_a", F.col("common") / F.col("n_a"))
        .withColumn("cont_b", F.col("common") / F.col("n_b"))
        .filter(F.greatest("cont_a", "cont_b") >= threshold)
        .withColumn(
            "subsumed", F.greatest("cont_a", "cont_b") >= F.lit(subsume_at)
        )
        .select("doc_a", "doc_b", "common", "n_a", "n_b",
                "cont_a", "cont_b", "subsumed")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Robust winnowing document fingerprints (Schleimer, Wilkerson,
    Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS algorithm).

    From every window of ``w`` consecutive k-gram hashes, select the
    minimum hash, breaking ties by the RIGHTMOST position; the distinct
    selected (position, hash) set is the document's fingerprint. The
    guarantee: any shared substring of ``w + k - 1`` tokens or longer is
    caught by at least one shared fingerprint, while storing only
    ~2/(w+1) of all gram hashes — the storage/recall dial the
    plagiarism-detection and near-dup literature standardized on.

    Hashes are the portable signed-64 md5 head so a SQL oracle replays
    the identical selection (same discipline as minhash_lsh_pairs'
    hash_fn="md5" mode). Shape at scale: everything is per-document —
    grams via positioned_shingles (per-doc window sort after a hash
    shuffle on the doc id), window membership via a bounded ×w explode,
    selection via row_number partitioned by (doc, window-start). No
    global sort, no cross-doc join; a 10^9-doc corpus winnows
    embarrassingly parallel. Docs shorter than ``k`` tokens produce no
    grams and therefore no fingerprints (callers emit zero rows for
    them, matching the paper's definition).

    Returns (doc, pos, hval): 1-based gram start positions of the
    selected fingerprints.
    """
    from ..functions.portable_hash import signed64_from_hex_sql

    grams = positioned_shingles(df, id_col, content_col, n=k).select(
        "doc", "pos", F.expr(signed64_from_hex_sql("h")).alias("hval")
    )
    ng = grams.groupBy("doc").agg(F.max("pos").alias("max_pos"))
    members = corpus_join(grams, ng, "doc").select(
        "doc",
        "pos",
        "hval",
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - F.lit(w - 1), F.lit(1)),
                F.least(
                    F.col("pos"),
                    F.greatest(F.col("max_pos") - F.lit(w - 1), F.lit(1)),
                ),
            )
        ).alias("s"),
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("doc", "s").orderBy(
            F.col("hval").asc(), F.col("pos").desc()
        )
    )
    return (
        members.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("doc", "pos", "hval")
        .distinct()
    )


def moss_match_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    k: int = 4,
    w: int = 4,
    max_df: int = 50,
) -> DataFrame:
    """The MOSS *match* step (Schleimer/Wilkerson/Aiken SIGMOD'03 §4) on
    top of :func:`winnow_fingerprints`: document pairs ranked by how many
    winnowed fingerprints they share.

    Pipeline: winnow → distinct (doc, hval) → drop fingerprints appearing
    in more than ``max_df`` docs (the hot-fingerprint cap — same
    sub-quadratic discipline as ngram_jaccard_pairs: a boilerplate
    passage shared by 10⁶ docs must never reach the self-join) →
    self-join on hval (doc_a < doc_b) → shared counts + containment
    ratios against each doc's capped fingerprint-set size.

    Winnowing's guarantee makes this strictly stronger than uniform
    sampling at the same storage: any shared run of ``w + k - 1`` tokens
    is caught by at least one shared fingerprint. Sizes are counted
    AFTER the cap so numerator and denominator live in the same filtered
    space (the oracle replays the identical numbers). Generalizes the
    reference's whole-file checksum identity
    (internal/migration/migration.go:19-23) to partial-overlap ranking.
    """
    fp = (
        winnow_fingerprints(df, id_col, content_col, k=k, w=w)
        .select("doc", "hval")
        .distinct()
    )
    rare = (
        fp.groupBy("hval")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") <= max_df)
        .select("hval")
    )
    fp = persist_bounded("dedup.moss_fp", corpus_join(fp, rare, "hval"))
    sizes = fp.groupBy("doc").agg(F.count(F.lit(1)).alias("n_fp"))
    pairs = (
        corpus_join(fp.alias("a"), fp.alias("b"), "hval")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        corpus_join(
            corpus_join(
                pairs,
                sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed(
                    "n_fp", "n_a"
                ),
                "doc_a",
            ),
            sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed(
                "n_fp", "n_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "n_a",
            "n_b",
            (F.col("shared") / F.least("n_a", "n_b")).alias("match_ratio"),
        )
    )


def fastss_pairs(
    vocab: DataFrame,
    term_col: str = "term",
    min_len: int = 4,
) -> DataFrame:
    """Edit-distance-1 term pairs via the FastSS deletion neighborhood
    (Bocek/Hunt/Stiller 2007; the SymSpell candidate scheme): two strings
    are within Levenshtein distance 1 only if their delete-1
    neighborhoods (each string plus every single-character deletion of
    it) intersect — substitution meets at the shared deletion position,
    insert/delete meets at the shorter string itself. Candidates come
    from an equi-join on the signature, then exact ``levenshtein`` (the
    same integer DP in Spark and DuckDB) verifies, discarding the
    overgenerated transposition-style collisions.

    Scale shape: O(Σ len) signature rows — each term emits len+1
    signatures — hash-partitioned by signature string; NO all-pairs
    join anywhere. ``min_len`` drops short tokens whose tiny signatures
    would both flood the join (hot keys) and pair semantically unrelated
    words. This is the fuzzy-join primitive entity resolution needs
    (typo_distance is the scalar; this is the join).

    Returns (term_a, term_b) with term_a < term_b and
    levenshtein(term_a, term_b) == 1 (identical terms are impossible:
    vocab is distinct).
    """
    t = (
        vocab.select(F.col(term_col).alias("term"))
        .filter(F.length("term") >= min_len)
        .distinct()
    )
    sigs = t.select(
        "term",
        F.explode(F.sequence(F.lit(0), F.length("term"))).alias("i"),
    ).select(
        "term",
        F.when(F.col("i") == 0, F.col("term"))
        .otherwise(
            F.concat(
                F.expr("substring(term, 1, i - 1)"),
                F.expr("substring(term, i + 1, length(term))"),
            )
        )
        .alias("sig"),
    )
    return (
        corpus_join(sigs.alias("a"), sigs.alias("b"), "sig")
        .filter(F.col("a.term") < F.col("b.term"))
        .select(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .distinct()
        .filter(F.levenshtein("term_a", "term_b") == 1)
    )
