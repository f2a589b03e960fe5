"""Deduplication operator family for training-data pipelines:
exact (hash), MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Every operator is expressed as DataFrame transformations with deterministic
md5-based hashing (see :mod:`flink_1_12_2_spark.llm.hashing`) so the DuckDB
oracle can replicate results bit-for-bit.

Scale design (100 TB):
- MinHash signatures: ONE narrow shuffle — explode distinct shingles, then
  ``groupBy(doc).agg(min(h_0)..min(h_K))`` computes all K permutations in a
  single partial-aggregated pass (no K× row explosion, map-side combine).
- LSH candidates: band hashes explode K/r rows per doc; the self-join on
  (band_idx, band_hash) shuffles only (doc_id, band) pairs, never text.
- n-gram Jaccard: inverted-index join (docs sharing ≥1 shingle) — never a
  cross join; count-common → Jaccard arithmetic from per-doc shingle counts.
- SimHash: banded Hamming join via the pigeonhole principle (dist ≤ d with
  d+1 bands ⇒ ≥1 band equal) — exact recall without O(n²) pairs.
- Embedding near-dup: normalized vectors + (block) join; the ANN/LSH variant
  for the truly large case lives in :mod:`flink_1_12_2_spark.llm.similarity`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from flink_1_12_2_spark.llm.hashing import md5int60, seeded_hash
from flink_1_12_2_spark.llm.text import tokens


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy per-row stages use all cores.

    Small inputs (one parquet file → one partition) would otherwise run
    expensive expression trees (shingling, 16× seeded hashing, simhash bit
    votes) single-threaded. Delegates to
    :func:`flink_1_12_2_spark.session.rebalance_scan` (r10: the same
    widening now also feeds the BPE trainer/encoder and the chunk dedup)
    — a no-op whenever the scan already has enough splits.
    """
    from flink_1_12_2_spark.session import rebalance_scan

    return rebalance_scan(df)


#: Minimum SOURCE split count at which :func:`is_multisplit` reports real
#: data volume (the proxy rebalance_scan uses: real corpora arrive as many
#: splits, local test files as one). It no longer gates any barrier in the
#: engine: every dedup cache fills lazily, since on Spark 4.1 the
#: consumers of one persisted frame share a single fill
#: (``tests/test_llm.py::test_persisted_frame_fills_once_for_all_consumers``).
#: Only the ``eager=`` switch of :func:`lsh_candidate_pairs` still reads it,
#: for callers that stage the pipeline themselves.
EAGER_FILL_MIN_SPLITS = 8


def is_multisplit(df: DataFrame) -> bool:
    """True when ``df``'s SOURCE SCAN arrives as enough splits to mark
    real data volume (the rebalance_scan discriminator).

    Reads the file index (``df.inputFiles()`` + driver-side stat via
    :func:`flink_1_12_2_spark.session._scan_splits`), never ``df.rdd`` —
    with AQE on, instantiating the RDD of a post-shuffle frame executes
    upstream query stages as a side effect and reports the
    shuffle-partition count, not data volume (r10 ADVICE). Inputs with
    no file scan (streaming, in-memory) have no volume signal and
    return False."""
    from flink_1_12_2_spark.session import _scan_splits

    n = _scan_splits(df)
    if n >= (1 << 30):  # no file scan behind this frame
        return False
    return n >= EAGER_FILL_MIN_SPLITS


NUM_PERM = 16  # minhash permutations
LSH_ROWS = 2  # rows per band  → 8 bands
NUM_BANDS = NUM_PERM // LSH_ROWS
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # pigeonhole: hamming ≤ 3 ⇒ one 8-bit band equal

# Doc-frequency cap for inverted-index self-joins: a key (shingle / LSH band
# hash / simhash band) shared by k docs emits k(k-1)/2 join rows, so one
# boilerplate shingle shared by 10⁶ docs would emit 5·10¹¹ pairs. Keys with
# df > the cap are dropped from CANDIDATE GENERATION only (verification stays
# exact on the surviving candidates); at 100 TB such keys are boilerplate
# (headers, licenses) that near-dup pairs of real content never depend on
# exclusively. See SCALE.md. Inert at test scale (sf0.1 has 5k docs < cap).
DF_CAP = 1000


def _df_capped(df: DataFrame, key_cols: list[str], df_cap: int) -> DataFrame:
    """Drop rows whose ``key_cols`` group has more than ``df_cap`` members.

    One window count over the same hash partitioning the downstream
    self-equijoin needs — the exchange is shared, not added."""
    w = Window.partitionBy(*key_cols)
    return (
        df.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= df_cap)
        .drop("__df")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (empty array when < n tokens)."""
    toks = tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest id per md5(text). Returns keeper rows
    with ``n_copies``. Flink parity: Deduplicate keep-first
    (RowTimeDeduplicateFunction.java:31), key = content hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_exact_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup — the recurring-crawl shape: dedup an
    INCOMING batch within itself (keep-first) AND against the
    already-ingested EXISTING corpus, returning only the batch's
    surviving keeper rows ``(content_hash, keeper_id, n_copies)``.

    Scale: the existing side reduces to a distinct content-hash
    fingerprint INDEX before any join (in production this index is
    maintained incrementally between runs rather than recomputed — the
    corpus is never rescanned per batch); the batch combines map-side to
    one row per hash; the anti-join shuffles both sides by hash, and when
    the index is small relative to the batch AQE broadcasts it. The full
    corpus never joins the batch row-for-row. Flink parity: Deduplicate
    keep-first (RowTimeDeduplicateFunction.java:31) applied cross-batch,
    the streaming operator's state being the hash index here."""
    idx = existing.select(
        F.md5(F.col(text_col)).alias("content_hash")
    ).distinct()
    batch = (
        incoming.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    return batch.join(idx, "content_hash", "left_anti")


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-doc distinct shingle array ``(id_col, sh_arr)``, **persisted**.

    Shingling (tokenize → slice → concat per n-gram) is the CPU-heaviest
    subtree of every text-dedup pipeline; MinHash+LSH needs it in three
    places (signatures, verify side 1, verify side 2). Materializing it once
    keeps the plan from re-running the expression tree per consumer. At real
    scale the same role is played by checkpointing signatures to the object
    store between pipeline stages — memory-and-disk persist is the
    single-job equivalent.
    """
    # filled lazily: the signature aggregate and both verify sides read
    # one fill (no count() barrier needed)
    return fan_out(df).select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("sh_arr")
    ).persist()


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = NUM_PERM, n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature as ``num_perm`` columns ``mh0..mh{K-1}``.

    Single shuffle: explode distinct shingles → groupBy(doc) with K min-aggs
    (each a seeded md5) — partial aggregation happens map-side.
    """
    sh = fan_out(df).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    )
    aggs = [
        F.min(seeded_hash(F.col("sh"), k)).alias(f"mh{k}") for k in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures_from_sets(
    sets_: DataFrame, id_col: str, num_perm: int = NUM_PERM
) -> DataFrame:
    """:func:`minhash_signatures` over a precomputed :func:`shingle_sets`
    frame — explode the persisted arrays instead of re-shingling the text."""
    sh = sets_.select(F.col(id_col), F.explode("sh_arr").alias("sh"))
    aggs = [
        F.min(seeded_hash(F.col("sh"), k)).alias(f"mh{k}") for k in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    num_perm: int = NUM_PERM,
    rows_per_band: int = LSH_ROWS,
    band_df_cap: int = DF_CAP,
    eager: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs
    (id_1 < id_2, distinct). Band hashes shared by more than ``band_df_cap``
    docs are dropped before the self-join (quadratic hot-band guard; exact
    verification downstream is unaffected for surviving candidates).

    ``eager=True`` fills the band cache with a ``count()`` before the join
    is built, for callers that time each stage; the engine's own pipelines
    leave the fill to the join."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                md5int60(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bh"),
            )
            for b in range(num_perm // rows_per_band)
        ]
    )
    # persisted: both self-join sides consume the capped band table — without
    # the boundary each side re-runs the explode + df-window exchange+sort
    # (measured 1.4× on the full query at sf0.1). Tiny cache: (id, band, bh).
    banded = _df_capped(
        sigs.select(F.col(id_col), F.explode(bands).alias("b")).select(
            id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
        ),
        ["band", "bh"],
        band_df_cap,
    ).persist()
    if eager:  # corpus-derived flag: sigs is post-shuffle, no volume signal
        banded.count()  # both self-join map stages read this cache
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_1"), F.col(f"b.{id_col}").alias("id_2")
        )
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """Attach exact n-gram Jaccard to candidate pairs (id_1, id_2).

    Pass ``sets_df`` (a :func:`shingle_sets` frame) to reuse already-computed
    shingle arrays instead of re-shingling ``df`` on both join sides."""
    if sets_df is not None:
        sets_ = sets_df.select(
            F.col(id_col).alias("__id"), F.col("sh_arr").alias("__sh")
        )
    else:
        sets_ = fan_out(df).select(
            F.col(id_col).alias("__id"),
            word_shingles(F.col(text_col), n).alias("__sh"),
        )
    out = (
        candidates.join(sets_, candidates.id_1 == sets_.__id)
        .withColumnRenamed("__sh", "__sh1")
        .drop("__id")
        .join(sets_, candidates.id_2 == sets_.__id)
        .withColumnRenamed("__sh", "__sh2")
        .drop("__id")
    )
    inter = F.size(F.array_intersect("__sh1", "__sh2"))
    union = F.size(F.array_union("__sh1", "__sh2"))
    return out.select(
        "id_1",
        "id_2",
        (inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")).alias(
            "jaccard"
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingle_df_cap: int = DF_CAP,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via inverted-index join (only docs
    sharing ≥1 sub-cap shingle are ever paired — no cross join).

    Shingles are 60-bit-hashed before the join so the shuffle moves
    fixed-width ints, not strings (collision odds ~n²/2^61 — negligible even
    at 100 TB shingle counts per partition). Shingles with doc-frequency >
    ``shingle_df_cap`` are dropped from the self-join (a shingle shared by k
    docs emits k²/2 join rows — the r1/r2 hot-shingle flag; join volume is
    thereby ≤ cap·|postings|, linear in corpus size). The df window count
    partitions on the shingle hash, the same key the self-equijoin shuffles
    on, so the exchange is shared.

    Capping the join undercounts ``common`` only for pairs involving a doc
    that CONTAINS a hot shingle — so those pairs (none at test scale, the
    boilerplate-bearing fraction at 100 TB) are re-verified exactly against
    the persisted full shingle arrays, while every cold-doc pair keeps the
    one-pass count-aggregated Jaccard (no array materialization in the hot
    path). Recall is lost only for pairs whose EVERY common shingle is
    hot — docs that are pure boilerplate.

    A metadata probe (``limit(1).count()`` over the hot filtrate of the
    cached posting list) prunes the plan when NO shingle exceeds the cap:
    the hot-id broadcasts, exact/verify branch split and union are then
    provably identity operations and are dropped (r13: −25 % on the bench
    row; in the no-hot case the probe scan also fills the posting cache).

    .. warning:: **Constructing this DataFrame runs a Spark job** (the
       plan-pruning probe is an eager action). Callers composing lazily
       should expect work at build time, and the pattern must NOT be
       copied into builders used inside streaming micro-batches (it would
       re-probe on every batch) — r13 verdict hygiene note.

    The hashed array is **persisted**: without the cache boundary Catalyst
    infers a non-empty filter from the explode and pushes the whole shingle
    expression below the exchange, then re-evaluates it on both self-join
    sides and both verify sides. With it, shingling runs once and every
    consumer reads the columnar cache (at real scale: checkpoint the shingle
    table between stages — same shape)."""
    # persisted: when a hot shingle exists, three consumers read these
    # arrays (the posting list below and both verify sides)
    docs = fan_out(df).select(
        F.col(id_col).alias("__id"),
        F.transform(word_shingles(F.col(text_col), n), md5int60).alias("sh_arr"),
    ).persist()
    # persist the WINDOWED posting list (one explode + one df-window pass).
    # r13 profile: persisting only the capped filtrate left `sh` itself
    # unpersisted, and its explode + exchange + window subtree re-ran in
    # every OTHER consumer — the hot_ids distinct and BOTH broadcast
    # branches (broadcast exchanges of differently-aliased projections are
    # not deduped by ReuseExchange) — three extra full posting passes,
    # ~2 s of the 3.6 s sf0.1 query. One cache, every consumer reads it;
    # filters preserve the cached hashpartitioning(sh), so the self-join
    # still needs no new exchange.
    sh = (
        docs.select(
            "__id", F.size("sh_arr").alias("n_sh"), F.explode("sh_arr").alias("sh")
        )
        .withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .persist()
    )
    cold = sh.filter(F.col("__df") <= shingle_df_cap).drop("__df")
    # Data-adaptive plan pruning (AQE-style, recomputed every invocation):
    # probe whether ANY shingle exceeds the cap. When none does — every
    # test SF, and any boilerplate-free corpus — the hot-id broadcast
    # joins, the exact/verify split, the union and the second cache
    # boundary are all provably no-ops (``__h1``/``__h2`` would be NULL on
    # every row), so the plan collapses to self-join → agg → jaccard.
    # The probe's limit(1) scan FULLY fills the ``sh`` cache only in the
    # no-hot case (CollectLimit escalates through every partition before
    # concluding emptiness); when a hot shingle exists the limit
    # short-circuits after the first matching partition and downstream
    # consumers fill the rest — bounded by the ``docs`` cache either way
    # (r13 ADVICE wording fix).
    # NOTE bench.py: this action runs inside fn(), so the row is timed
    # around fn()+write (TIMED_INSIDE_FN) to keep the measured region
    # honest at single-split SFs too.
    any_hot = (
        sh.filter(F.col("__df") > shingle_df_cap).limit(1).count() > 0
    )
    a, b = cold.alias("a"), cold.alias("b")
    counted_raw = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_1"), F.col("b.__id").alias("id_2"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.min(F.col("a.n_sh")).alias("n1"),
            F.min(F.col("b.n_sh")).alias("n2"),
        )
    )
    if not any_hot:
        return (
            counted_raw.select(
                "id_1",
                "id_2",
                (
                    F.col("common").cast("double")
                    / (F.col("n1") + F.col("n2") - F.col("common")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_1", "id_2", "jaccard")
        )
    # docs touching ≥1 hot shingle: tiny (boilerplate carriers only);
    # persisted so the two broadcast branches below don't each re-run the
    # distinct over the posting cache
    hot_ids = (
        sh.filter(F.col("__df") > shingle_df_cap).select("__id").distinct().persist()
    )
    counted = (
        counted_raw
        .join(
            F.broadcast(hot_ids.select(F.col("__id").alias("id_1"), F.lit(True).alias("__h1"))),
            "id_1",
            "left",
        )
        .join(
            F.broadcast(hot_ids.select(F.col("__id").alias("id_2"), F.lit(True).alias("__h2"))),
            "id_2",
            "left",
        )
        # persisted: both output branches (exact / hot-verify) consume this
        # candidate-pair frame — without the boundary the self-join + count
        # aggregation would execute once per branch
        .persist()
    )
    exact_part = counted.filter(F.col("__h1").isNull() & F.col("__h2").isNull()).select(
        "id_1",
        "id_2",
        (
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common")).cast("double")
        ).alias("jaccard"),
    )
    s1 = docs.select(F.col("__id").alias("id_1"), F.col("sh_arr").alias("__sh1"))
    s2 = docs.select(F.col("__id").alias("id_2"), F.col("sh_arr").alias("__sh2"))
    inter = F.size(F.array_intersect("__sh1", "__sh2"))
    union = F.size("__sh1") + F.size("__sh2") - inter
    verify_part = (
        counted.filter(F.col("__h1").isNotNull() | F.col("__h2").isNotNull())
        .select("id_1", "id_2")
        .join(s1, "id_1")
        .join(s2, "id_2")
        .select(
            "id_1",
            "id_2",
            (inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")).alias(
                "jaccard"
            ),
        )
    )
    return (
        exact_part.unionByName(verify_part)
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def simhash32(text: Column) -> Column:
    """32-bit SimHash over (non-distinct) tokens, md5-based bit votes."""
    toks = tokens(text)
    th = F.transform(toks, lambda t: md5int60(t))

    def _vote(b: int):
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return merge

    bit_sums = [
        F.aggregate(th, F.lit(0), _vote(b)) for b in range(SIMHASH_BITS)
    ]
    out = F.lit(0).cast("bigint")
    for b, s in enumerate(bit_sums):
        out = out + F.when(s > 0, F.lit(1 << b).cast("bigint")).otherwise(0)
    return out


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    band_df_cap: int = DF_CAP,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_distance via banded join.

    Pigeonhole: with ``SIMHASH_BANDS`` = max_distance + 1 bands, any pair
    within distance ≤ max_distance agrees on ≥1 full band — **exact recall**
    without O(n²). Hot (band, value) buckets with df > ``band_df_cap`` are
    NOT dropped (each 8-bit band has only 256 values, so at >~cap·256 docs
    the pigeonhole *guarantees* hot buckets — dropping them would silently
    lose true pairs): they are instead REFINED by a second pigeonhole level —
    inside a hot bucket all docs already agree on that band's 8 bits, so a
    qualifying pair's ≤ max_distance differing bits all lie in the
    complementary 24 bits, and re-banding those into ``max_distance + 1``
    sub-bands guarantees ≥1 equal sub-band. The hot-bucket join runs on
    (band, bv, sband, sbv) — expected bucket volume drops 2^6× per level.
    Exact recall is preserved at every corpus size; the only residual
    quadratic is a sub-bucket of mutually near-identical hashes, whose
    OUTPUT is itself quadratic (every pair qualifies), so join volume is
    output-bound. (Recurse the same refinement once more if a profile ever
    shows a hot sub-bucket.)
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    comp_bits = SIMHASH_BITS - width  # complementary bits inside a hot bucket
    n_sub = max_distance + 1
    sub_width = -(-comp_bits // n_sub)  # ceil: 24 bits → 4 × 6-bit sub-bands
    sub_mask = (1 << sub_width) - 1
    with_sh = fan_out(df).select(
        F.col(id_col).alias("__id"), simhash32(F.col(text_col)).alias("simhash")
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    # one window count on (band, bv) — the same hash partitioning the
    # downstream self-equijoin needs, so the exchange is shared — then split
    # into the cold direct join and the hot sub-band-refined join. persist:
    # both the cold and hot branches (and both self-join sides of each)
    # consume this frame, so simhash32 (32 bit-vote aggregates per row)
    # runs once.
    banded = (
        with_sh.select("__id", "simhash", F.explode(bands).alias("b"))
        .select(
            "__id", "simhash", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
        )
        .withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("band", "bv")))
        .persist()
    )
    cold = banded.filter(F.col("__df") <= band_df_cap).drop("__df")
    # complementary 24 bits for band b: low 8b bits ∪ bits above (b+1)·8,
    # packed into one 24-bit value, then re-banded into n_sub sub-bands
    comp = F.when(F.lit(False), F.lit(0))
    for b in range(SIMHASH_BANDS):
        low = F.col("simhash").bitwiseAND(F.lit((1 << (b * width)) - 1))
        high = F.shiftright(F.col("simhash"), (b + 1) * width)
        comp = F.when(
            F.col("band") == b, low + F.shiftleft(high, b * width)
        ).otherwise(comp)
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sband"),
                F.shiftright(F.col("__comp"), s * sub_width)
                .bitwiseAND(F.lit(sub_mask))
                .alias("sbv"),
            )
            for s in range(n_sub)
        ]
    )
    hot = (
        banded.filter(F.col("__df") > band_df_cap)
        .drop("__df")
        .withColumn("__comp", comp)
        .select("__id", "simhash", "band", "bv", F.explode(subs).alias("s"))
        .select(
            "__id",
            "simhash",
            "band",
            "bv",
            F.col("s.sband").alias("sband"),
            F.col("s.sbv").alias("sbv"),
        )
    )
    def _self_join(side: DataFrame, keys: list[str]) -> DataFrame:
        a, b = side.alias("a"), side.alias("b")
        cond = F.col("a.__id") < F.col("b.__id")
        for k in keys:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        return a.join(b, cond).select(
            F.col("a.__id").alias("id_1"),
            F.col("b.__id").alias("id_2"),
            F.col("a.simhash").alias("sh1"),
            F.col("b.simhash").alias("sh2"),
        )

    pairs = (
        _self_join(cold, ["band", "bv"])
        .unionByName(_self_join(hot, ["band", "bv", "sband", "sbv"]))
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    ).filter(F.col("hamming") <= max_distance).select("id_1", "id_2", "hamming")


def normalize_embeddings(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """L2-normalize an array<float> column into array<double> ``vec_n``."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return fan_out(df).select(
        F.col(id_col),
        F.transform(v, lambda x: x / norm).alias("vec_n"),
    )


# banded hyperplane LSH for cosine_pairs: 8 bands × 2 planes (16 planes).
# Candidate pairs agree on both sign bits of ≥1 band; recall for a pair at
# angle θ is 1-(1-p²)⁸ with p = 1-θ/π (≈0.98 at cosine 0.35, →1 as cos→1).
COSINE_BANDS = 8
COSINE_ROWS = 2

# Auto mode (exact=None): corpora at or below this size run the exact
# brute-force block join (recall 1.0, trivially affordable — ≤ ~5·10⁹
# comparisons of pre-normalized vectors); above it the banded-LSH path with
# its documented ~97%+ recall takes over. Chosen so the crossover happens
# long before the all-pairs join could dominate a cluster.
COSINE_EXACT_MAX_DOCS = 100_000


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    exact: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_1 < id_2, cosine ≥ threshold).

    ``exact=None`` (default) auto-selects: exact brute force when the corpus
    has ≤ ``COSINE_EXACT_MAX_DOCS`` rows (recall 1.0 where it is cheap),
    banded LSH above (recall is then approximate — ~97% at τ=0.35 with the
    default R=2/B=8 banding, → 1 as τ → 1). Pass ``exact=False`` to pin the
    LSH plan shape regardless of size (the registered gate query does, so
    engine and oracle stay bit-identical), ``exact=True`` to force brute
    force.

    The LSH path is banded hyperplane LSH: per-row sign bits against
    ``bands × rows_per_band`` deterministic planes (literal coefficients —
    zero shuffle to compute), exploded into bands; the self-equijoin on
    (band, band_value) shuffles only (id, band) pairs, and exact cosine is
    verified inside each bucket — no corpus×corpus nested-loop join ever
    materializes.

    Band width tunes pruning vs recall: expected bucket size is n/2^R for R
    bits per band, candidate volume B·Σ|bucket|², and recall for a pair with
    per-plane agreement p is 1-(1-p^R)^B. The registered query's τ=0.35 is a
    weak-similarity regime (p≈0.62) where no LSH prunes deeply, so the
    default R=2, B=8 is recall-tuned (~97% on the test corpus); for true
    near-dup thresholds (τ ≥ 0.8 ⇒ p ≥ 0.9) widen to R=8..16, B=8..32 —
    same plan shape, deep pruning, recall stays ≥ 1-(1-0.9^16)^32 ≈ 0.998.
    ``exact=True`` keeps the brute-force block join as the exact-recall
    reference for small inputs.
    """
    from flink_1_12_2_spark.llm.similarity import _dot_lit, lsh_planes

    if exact is None:
        # one cheap count job (column-pruned scan) decides the path; at real
        # scale the catalog row-count statistic answers this without a job
        exact = df.count() <= COSINE_EXACT_MAX_DOCS

    n = normalize_embeddings(df, id_col, vec_col)
    dot = F.aggregate(
        F.zip_with("v1", "v2", lambda x, y: x * y), F.lit(0.0), lambda a_, x: a_ + x
    )
    if exact:
        a = n.select(F.col(id_col).alias("id_1"), F.col("vec_n").alias("v1"))
        b = n.select(F.col(id_col).alias("id_2"), F.col("vec_n").alias("v2"))
        return (
            a.join(b, F.col("id_1") < F.col("id_2"))
            .withColumn("cosine", F.round(dot, 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_1", "id_2", "cosine")
        )
    planes = lsh_planes(COSINE_BANDS * COSINE_ROWS)
    signs = [
        F.when(_dot_lit(F.col("vec_n"), p) >= 0, F.lit(1)).otherwise(F.lit(0))
        for p in planes
    ]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    signs[b * COSINE_ROWS + r] * F.lit(1 << r)
                    for r in range(COSINE_ROWS)
                ).alias("bv"),
            )
            for b in range(COSINE_BANDS)
        ]
    )
    # persist: sign bits are 16 literal-dot aggregates per row — compute once,
    # not once per self-join side
    banded = (
        n.select(F.col(id_col).alias("__id"), F.col("vec_n"), F.explode(bands).alias("b"))
        .select("__id", "vec_n", F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
        .persist()
    )
    a = banded.select("__id", "band", "bv", F.col("vec_n").alias("v1"))
    b = banded.select(
        F.col("__id").alias("__id2"), "band", "bv", F.col("vec_n").alias("v2")
    )
    return (
        a.join(
            b,
            (a.band == b.band) & (a.bv == b.bv) & (F.col("__id") < F.col("__id2")),
        )
        .select(
            F.col("__id").alias("id_1"),
            F.col("__id2").alias("id_2"),
            "v1",
            "v2",
        )
        .distinct()
        .withColumn("cosine", F.round(dot, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_1", "id_2", "cosine")
    )


def exact_substring_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 15,
    max_bucket: int = 100,
) -> DataFrame:
    """Exact-substring dedup, the windowed-hash variant of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better" — their
    suffix-array ExactSubstr, re-expressed as a bucketed MapReduce):
    every ``window``-token span of every document hashes to a bucket;
    documents sharing a bucket share an exact ``window``-token substring;
    shared spans at consecutive positions EXTEND along the (pos_a - pos_b)
    diagonal into the longest exact match.

    Returns one row per document pair sharing at least one window:
    (id_1, id_2, n_shared_windows, match_tokens) where ``match_tokens`` =
    longest exact common token run = max diagonal run length + window - 1.

    Scale design (never all-pairs):
    - the span→hash expansion is pure Catalyst (sequence/slice/md5 in the
      scan stage) — one row per token position, linear in corpus size;
    - the candidate join is an equi-join on the window hash — high
      cardinality, map-combinable counts;
    - boilerplate guard: hashes appearing in more than ``max_bucket``
      distinct docs are EXCLUDED before the self-join (deterministic,
      mirrored in the oracle) — a viral snippet cannot create a quadratic
      bucket; singleton hashes (nd < 2) are dropped for free by the same
      aggregate;
    - run extension windows partition by (pair, diagonal) — bounded by
      document length, never by corpus size.

    Cache contract: the corpus-scale intermediates are persisted only for
    the duration of this call — the final pair-grain aggregate is
    materialized eagerly (it is the small output of the dedup), the
    intermediates are unpersisted before returning, and the RETURNED frame
    is the only thing left cached; ``.unpersist()`` it when done (the
    registry harness clears caches between queries)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    spans = F.transform(
        F.sequence(F.lit(1), n - (window - 1)),
        lambda i: F.md5(F.array_join(F.slice(toks, i, window), " ")),
    )
    spans = F.when(n >= window, spans).otherwise(
        F.array().cast("array<string>")
    )
    wins = fan_out(df).select(
        F.col(id_col).alias("__id"), F.posexplode(spans).alias("pos", "wh")
    )
    # Distinct-doc frequency per window hash as a WINDOW over the same
    # hash partitioning the self-join needs (max(dense_rank by __id) ==
    # COUNT(DISTINCT __id) — a doc can repeat a hash at several
    # positions). r14: the former groupBy(wh)+join-back shape ran the
    # span-explode+md5 subtree TWICE (once under the aggregate, once on
    # the join's probe side — Catalyst does not share subtrees across
    # join inputs) and left w2 round-robin-partitioned, forcing the
    # self-join to shuffle both sides by wh. One explode pass, one
    # exchange, and the cached partitioning feeds the self-join —
    # the same architecture ngram_jaccard_pairs adopted in r13
    # (phase profile: w2_fill 1.66 s of the 3.4 s query; plan
    # 17 Exchange + 4 Generate).
    w_wh = Window.partitionBy("wh")
    w2 = (
        wins.withColumn(
            "__dr", F.dense_rank().over(w_wh.orderBy("__id"))
        )
        .withColumn("__nd", F.max("__dr").over(w_wh))
        .filter((F.col("__nd") >= 2) & (F.col("__nd") <= max_bucket))
        .drop("__dr", "__nd")
        # persisted: both self-join sides consume the capped posting list
        .persist()
    )
    a = w2.select("wh", F.col("__id").alias("id_1"), F.col("pos").alias("pa"))
    b = w2.select("wh", F.col("__id").alias("id_2"), F.col("pos").alias("pb"))
    # persisted: the pair stream feeds BOTH the run-extension windows and
    # the shared-window count
    pr = a.join(b, "wh").filter(F.col("id_1") < F.col("id_2")).persist()
    cells = pr.select(
        "id_1", "id_2", (F.col("pa") - F.col("pb")).alias("diag"), "pa"
    ).distinct()
    order = Window.partitionBy("id_1", "id_2", "diag").orderBy("pa")
    grouped = (
        cells.withColumn(
            "brk",
            F.when(F.col("pa") - F.lag("pa").over(order) == 1, 0).otherwise(1),
        )
        .withColumn(
            "grp",
            F.sum("brk").over(
                order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    runs = grouped.groupBy("id_1", "id_2", "diag", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    best = runs.groupBy("id_1", "id_2").agg(F.max("run_len").alias("max_run"))
    shared = pr.groupBy("id_1", "id_2").agg(
        F.count_distinct("wh").alias("n_shared_windows")
    )
    out = (
        shared.join(best, ["id_1", "id_2"])
        .select(
            "id_1",
            "id_2",
            "n_shared_windows",
            (F.col("max_run") + F.lit(window - 1)).cast("bigint").alias(
                "match_tokens"
            ),
        )
        .persist()
    )
    out.count()  # materialize the pair-grain result off the cached inputs
    w2.unpersist()
    pr.unpersist()
    return out


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_centroids: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings with k-means, then inside each
    cluster drop all but one member of every cosine-≥-τ neighborhood.
    Clustering bounds the candidate set — pairs are only scored WITHIN a
    cell, never across the corpus.

    Spark-first decomposition:
    - cell assignment reuses the IVF build (llm/similarity.ivf_cells):
      centroids are driver-side metadata inlined as literal
      coefficients, so assignment is a pure scan-stage projection —
      zero shuffle, exactly like production k-means scoring;
    - the within-cell self-join shuffles on the cell id only; per-cell
      work is |cell|², bounded by the cluster granularity (SemDeDup's
      own control: k scales with corpus size, keeping cells ~constant;
      at 100 TB use k ≈ √n so cells stay ~10⁴ docs);
    - the keeper rule is DETERMINISTIC (the paper keeps a random
      representative; random would be oracle-hostile): a doc is dropped
      iff a SMALLER-id doc in its cell has cosine ≥ τ with it — one
      distinct over pair targets, no iteration.

    Returns (id, cell, kept) — one row per input doc.
    """
    from flink_1_12_2_spark.llm.similarity import ivf_cells

    n = normalize_embeddings(df, id_col, vec_col)
    _, cells = ivf_cells(n, id_col, num_centroids)
    dot = F.aggregate(
        F.zip_with("v1", "v2", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cc = cells.persist()  # pair sides + the final join-back read this cache
    a = cc.select(
        F.col("cell"), F.col(id_col).alias("id_1"), F.col("vec_n").alias("v1")
    )
    b = cc.select(
        F.col("cell"), F.col(id_col).alias("id_2"), F.col("vec_n").alias("v2")
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_1") < F.col("id_2"))
        .withColumn("cosine", F.round(dot, 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_2").alias(id_col))
        .distinct()
    )
    # one outer join derives the flag for every doc — a kept/dropped
    # union would run the pair self-join twice
    return cc.join(
        dropped.withColumn("__dropped", F.lit(1)), id_col, "left"
    ).select(
        id_col, "cell", F.col("__dropped").isNull().alias("kept")
    )
