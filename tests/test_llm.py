

"""LLM-pipeline operator unit tests on crafted fixtures (algorithm
arithmetic that the corpus-level DuckDB oracles can't pin one case at a
time)."""

from __future__ import annotations


def test_exact_substring_extension_math(spark):
    """Two docs sharing an exact 20-token run (and nothing else aligned):
    with window=15 the run yields 6 consecutive shared spans on one
    diagonal -> match_tokens = 6 + 15 - 1 = 20. A third doc with no
    15-token overlap never pairs."""
    from flink_1_12_2_spark.llm.dedup import exact_substring_pairs

    run = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, "alpha beta " + run + " gamma"),
        (2, run + " delta epsilon"),
        (3, " ".join(f"x{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        tuple(r)
        for r in exact_substring_pairs(df, window=15).orderBy("id_1").collect()
    ]
    assert got == [(1, 2, 6, 20)]


def test_exact_substring_boilerplate_cap(spark):
    """A window shared by MORE than max_bucket docs is excluded before the
    self-join (the quadratic-bucket guard), so viral boilerplate produces
    zero pairs."""
    from flink_1_12_2_spark.llm.dedup import exact_substring_pairs

    run = " ".join(f"b{i}" for i in range(15))
    df = spark.createDataFrame(
        [(i, run) for i in range(5)], "doc_id long, text string"
    )
    assert exact_substring_pairs(df, window=15, max_bucket=3).count() == 0
    assert exact_substring_pairs(df, window=15, max_bucket=10).count() == 10


def test_sequence_packing_invariants(spark):
    """Concat-then-chunk packing: per source, every window except the last
    holds exactly ctx tokens; total packed tokens equal the corpus total;
    a doc longer than ctx spans multiple windows."""
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.llm.text import pack_concat_chunks

    rows = [
        (0, "s1", " ".join(f"a{i}" for i in range(7))),
        (1, "s1", " ".join(f"b{i}" for i in range(10))),  # straddles ctx=8
        (2, "s2", " ".join(f"c{i}" for i in range(3))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    per = pack_concat_chunks(df, ctx=8)
    bins = (
        per.groupBy("source", "bin_id")
        .agg(F.sum("toks_in_bin").alias("toks"))
        .collect()
    )
    by_src = {}
    for r in bins:
        by_src.setdefault(r.source, {})[r.bin_id] = r.toks
    # s1: 17 tokens -> bins of 8, 8, 1; s2: 3 tokens -> one partial bin
    assert by_src["s1"] == {0: 8, 1: 8, 2: 1}
    assert by_src["s2"] == {0: 3}
    # doc 1 (10 tokens starting at offset 7) spans bins 0,1,2
    spans = {
        r.bin_id: r.toks_in_bin
        for r in per.filter("doc_id = 1").collect()
    }
    assert spans == {0: 1, 1: 8, 2: 1}



def test_pq_codes_and_recall(spark, sf_dir):
    """PQ: codes are within [0, PQ_K); ADC top-k overlaps the exact
    brute-force top-k (codebooks are untrained lowest-id samples, so we
    assert a floor, not parity); every ADC distance is >= 0."""
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.llm import similarity as S
    from flink_1_12_2_spark.llm.dedup import normalize_embeddings
    from flink_1_12_2_spark.registry import load

    e = load(spark, sf_dir, "embeddings")
    n = normalize_embeddings(e, "vec_id", "embedding")
    cb = S.pq_codebook(n, "vec_id")
    enc = S.pq_encode(n, "vec_id", cb).collect()
    assert enc
    for r in enc:
        for s in range(S.PQ_M):
            assert 0 <= r[f"code_{s}"] < S.PQ_K
    # the codebook vectors themselves must encode to their own id
    # (distance 0 to their own codeword in every subspace)
    for r in enc:
        if r["vec_id"] < S.PQ_K:
            assert all(r[f"code_{s}"] == r["vec_id"] for s in range(S.PQ_M))

    qids = list(range(10))
    pq = S.ann_pq_topk(e, "vec_id", "embedding", qids, 5).collect()
    assert all(r["adc_dist_micro"] >= 0 for r in pq)
    bf = S.ann_bruteforce_topk(e, "vec_id", "embedding", qids, 5).collect()
    pq_set = {(r["query_id"], r["neighbor_id"]) for r in pq}
    bf_set = {(r["query_id"], r["neighbor_id"]) for r in bf}
    assert len(pq_set & bf_set) / len(bf_set) > 0.1

    # the ADC distance is an exact bigint sum of micro-quantized LUT terms:
    # bit-identical under any input partitioning (the r6 float-sum hazard)
    base = sorted(tuple(r) for r in pq)
    for parts in (3, 17):
        again = S.ann_pq_topk(
            e.repartition(parts), "vec_id", "embedding", qids, 5
        ).collect()
        assert sorted(tuple(r) for r in again) == base, parts


def test_rebalance_scan_widens_narrow_and_leaves_wide(spark):
    # one-partition input (the local single-row-group parquet shape) is
    # widened to the session parallelism; an already-wide frame passes
    # through without an added shuffle
    from flink_1_12_2_spark.session import rebalance_scan

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    widened = rebalance_scan(narrow)
    assert widened.rdd.getNumPartitions() == target
    assert widened.count() == 1000
    wide = spark.range(1000).repartition(target)
    assert rebalance_scan(wide) is wide


def test_is_multisplit_reads_file_index_not_rdd(spark, sf_dir):
    """The volume discriminator must derive volume from the SOURCE
    scan's file index: single small local files are never multi-split,
    frames with no file scan (in-memory, post-shuffle synthetic) have no
    volume signal, and a derived/aggregated frame reports its source
    scan's volume without instantiating .rdd (which under AQE would
    execute upstream stages as a side effect — r10 ADVICE)."""
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.llm.dedup import is_multisplit
    from flink_1_12_2_spark.registry import load

    docs = load(spark, sf_dir, "documents")
    assert is_multisplit(docs) is False  # one small parquet file
    assert is_multisplit(spark.range(1000)) is False  # no file scan
    # post-shuffle derived frame: signal still comes from the file index
    agg = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    assert is_multisplit(agg) is False


def test_persisted_frame_fills_once_for_all_consumers(spark):
    """The dedup pipelines persist frames that two or more independent
    stages read and leave the fill to the query itself (no count()
    barrier). That holds only while every consumer of a lazily persisted
    frame reads one fill: Python must see each row once. A Spark whose
    consumers each recomputed the cold cache would double the Python work
    silently; this fails loudly instead."""
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.session import pinned_repartition

    n = 20_000
    seen = spark.sparkContext.accumulator(0)

    def double(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf.assign(v=pdf["id"] * 2)

    src = spark.range(n).withColumn("k", F.col("id") % 97)
    cached = (
        pinned_repartition(src, "k")
        .mapInPandas(double, "id long, k long, v long")
        .persist()
    )
    try:
        per_k = cached.groupBy("k").agg(F.sum("v").alias("sv"))
        per_m = cached.groupBy((F.col("id") % 13).alias("m")).agg(
            F.count(F.lit(1)).alias("c")
        )
        out = (
            cached.select("id", "k", (F.col("id") % 13).alias("m"))
            .join(per_k, "k")
            .join(per_m, "m")
        )
        assert out.count() == n
        assert seen.value == n
    finally:
        cached.unpersist()


def test_near_dup_pipelines_on_multisplit_source(spark, sf_dir, tmp_path):
    """Real corpora arrive as many files, local test tables as one. The
    near-dup pipelines must return the same rows from the sf0.01
    documents written as 8 parquet files (no rebalance_scan widening;
    every cache fills from 8 scan splits) as from the single-file table."""
    import os

    from flink_1_12_2_spark.llm.dedup import is_multisplit
    from flink_1_12_2_spark.registry import QUERIES, load, load_all_query_modules

    base = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    split = str(tmp_path)
    load(spark, base, "documents").repartition(8).write.parquet(
        f"{split}/documents.parquet"
    )
    assert is_multisplit(load(spark, split, "documents")) is True
    load_all_query_modules()
    for name in (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "text_chunk_dedup",
        "dedup_exact_substring",
        "dedup_simhash",
    ):
        rows = []
        for sf in (base, split):
            spark.catalog.clearCache()
            rows.append(sorted(QUERIES[name].fn(spark, sf).collect(), key=repr))
        spark.catalog.clearCache()
        assert rows[0], name
        assert rows[1] == rows[0], name
