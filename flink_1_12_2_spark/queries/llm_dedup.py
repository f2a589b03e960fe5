"""Deduplication pipeline queries over ``documents``/``embeddings`` — exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine (BASELINE.json
north-star operators).

The DuckDB oracles replicate the *full algorithm* (same md5-based hashes,
same banding) — so they verify the implementation, including LSH's sampling
behavior, not an idealized answer.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_1_12_2_spark.llm import dedup as D
from flink_1_12_2_spark.llm.hashing import md5int60_sql, seeded_hash_sql
from flink_1_12_2_spark.registry import load, query

JACCARD_T = 0.5
COSINE_T = 0.35

# ---- shared DuckDB CTE fragments (lockstep with llm/dedup.py) --------------

_TOKS_CTE = (
    "toks AS (SELECT doc_id, "
    r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t "
    "FROM documents)"
)
_SH_CTE = (
    "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN "
    "list_distinct(list_transform(generate_series(1, len(t) - 2), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) "
    "ELSE [] END AS s FROM toks)"
)


@query(
    "dedup_exact",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_removed
    FROM documents
    """,
    tags=("llm", "dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (hash-groupBy) dedup summary: docs kept vs removed."""
    d = load(spark, sf_dir, "documents")
    groups = D.exact_dedup(d, "text", "doc_id")
    return groups.agg(
        F.sum("n_copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique_texts"),
        (F.sum("n_copies") - F.count(F.lit(1))).alias("n_removed"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SH_CTE},
    pairs AS (
      SELECT a.doc_id AS id_1, b.doc_id AS id_2,
             ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / GREATEST(len(list_distinct(a.s || b.s)), 1), 6) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id_1, id_2, jaccard FROM pairs
    WHERE jaccard >= {JACCARD_T} ORDER BY id_1, id_2
    """,
    tags=("llm", "dedup", "jaccard", "headline"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted-index join (full
    recall, no cross join — the oracle brute-forces the same answer)."""
    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=JACCARD_T)
    # persist below the global sort: the range sampler otherwise re-runs
    # the final pair aggregation segment (r13 A/B: 2.56 -> 1.48 s)
    return pairs.select(
        "id_1", "id_2", F.round("jaccard", 6).alias("jaccard")
    ).persist().orderBy("id_1", "id_2")


def _minhash_oracle() -> str:
    mh_cols = ", ".join(
        f"list_min(list_transform(s, x -> {seeded_hash_sql('x', str(k))})) AS mh{k}"
        for k in range(D.NUM_PERM)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + md5int60_sql(
            " || ',' || ".join(
                f"CAST(mh{b * D.LSH_ROWS + r} AS VARCHAR)" for r in range(D.LSH_ROWS)
            )
        )
        + " AS bh FROM mh"
        for b in range(D.NUM_BANDS)
    )
    return f"""
    WITH {_TOKS_CTE}, {_SH_CTE},
    mh AS (SELECT doc_id, {mh_cols} FROM sh WHERE len(s) > 0),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                               AND a.doc_id < b.doc_id),
    ver AS (
      SELECT c.id_1, c.id_2,
             ROUND(CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
                   / GREATEST(len(list_distinct(s1.s || s2.s)), 1), 6) AS jaccard
      FROM cand c JOIN sh s1 ON c.id_1 = s1.doc_id
                  JOIN sh s2 ON c.id_2 = s2.doc_id)
    SELECT id_1, id_2, jaccard FROM ver
    WHERE jaccard >= {JACCARD_T} ORDER BY id_1, id_2
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("llm", "dedup", "minhash", "headline"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) → LSH(8 bands × 2 rows) candidates → exact-Jaccard
    verify. The oracle replicates signatures + banding, so recall behavior is
    verified too — not just the final pair set."""
    d = load(spark, sf_dir, "documents")
    sets_ = D.shingle_sets(d, "doc_id", "text")
    sigs = D.minhash_signatures_from_sets(sets_, "doc_id")
    cand = D.lsh_candidate_pairs(sigs, "doc_id")
    ver = D.jaccard_verify(cand, d, "doc_id", "text", sets_df=sets_)
    return (
        ver.filter(F.col("jaccard") >= JACCARD_T)
        .select("id_1", "id_2", F.round("jaccard", 6).alias("jaccard"))
        # persist below the global sort: the range sampler otherwise
        # re-runs the candidate+verify segment (r13 A/B: 2.23 -> 1.82 s)
        .persist()
        .orderBy("id_1", "id_2")
    )


def _simhash_oracle() -> str:
    h = md5int60_sql("x")
    bit_sums = ", ".join(
        f"CASE WHEN len(t) = 0 THEN 0 ELSE list_reduce(list_transform(t, "
        f"x -> CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END), "
        f"(p, q) -> p + q) END AS bs{b}"
        for b in range(D.SIMHASH_BITS)
    )
    sh_expr = " + ".join(
        f"CASE WHEN bs{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(D.SIMHASH_BITS)
    )
    return f"""
    WITH {_TOKS_CTE},
    bits AS (SELECT doc_id, {bit_sums} FROM toks),
    sh AS (SELECT doc_id, CAST({sh_expr} AS BIGINT) AS simhash FROM bits)
    SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_1, id_2
    """


@query("dedup_simhash", oracle=_simhash_oracle(), tags=("llm", "dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) near-dup pairs, Hamming ≤ 3, via pigeonhole-banded
    join (4 × 8-bit bands ⇒ exact recall; oracle brute-forces all pairs).
    Hot bands (df > cap) are sub-band-refined, not dropped, so recall stays
    exact at every corpus size and the brute-force oracle stays valid
    (llm/dedup.py:simhash_pairs)."""
    d = load(spark, sf_dir, "documents")
    pairs = D.simhash_pairs(d, "doc_id", "text", max_distance=3)
    return pairs.select(
        "id_1", "id_2", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("id_1", "id_2")


def _cosine_oracle() -> str:
    from flink_1_12_2_spark.llm.similarity import lsh_planes

    planes = lsh_planes(D.COSINE_BANDS * D.COSINE_ROWS)
    sign_cols = ", ".join(
        "CASE WHEN list_dot_product(v, ["
        + ", ".join(f"{c!r}" for c in plane)
        + f"]) >= 0 THEN 1 ELSE 0 END AS s{p}"
        for p, plane in enumerate(planes)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " + ".join(
            f"s{b * D.COSINE_ROWS + r} * {1 << r}" for r in range(D.COSINE_ROWS)
        )
        + " AS bv FROM signs"
        for b in range(D.COSINE_BANDS)
    )
    return f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))) AS v
      FROM embeddings),
    signs AS (SELECT vec_id, v, {sign_cols} FROM n),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
      FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
                               AND a.vec_id < b.vec_id)
    SELECT c.id_1, c.id_2, ROUND(list_dot_product(n1.v, n2.v), 6) AS cosine
    FROM cand c JOIN n n1 ON c.id_1 = n1.vec_id
                JOIN n n2 ON c.id_2 = n2.vec_id
    WHERE ROUND(list_dot_product(n1.v, n2.v), 6) >= {COSINE_T}
    ORDER BY id_1, id_2
    """


@query(
    "dedup_embedding_cosine",
    oracle=_cosine_oracle(),
    tags=("llm", "dedup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (normalized dot ≥ τ) via banded
    hyperplane LSH (8 bands × 2 sign bits) + exact in-bucket verify — the
    oracle replicates planes and banding, so bucket recall is verified, not
    just the surviving pairs. No corpus×corpus nested-loop join (the r1/r2
    scale flag). APPROXIMATE RECALL (~97% at τ=0.35, → 1 as τ → 1):
    ``exact=False`` pins the LSH plan so engine and banding-replicating
    oracle stay bit-identical at any sf; the library default (exact=None)
    auto-selects brute force below COSINE_EXACT_MAX_DOCS rows."""
    e = load(spark, sf_dir, "embeddings")
    return D.cosine_pairs(e, "vec_id", "embedding", COSINE_T, exact=False).orderBy(
        "id_1", "id_2"
    )


def _cluster_oracle() -> str:
    # minhash-pair CTEs (identical to _minhash_oracle) + recursive min-label
    # propagation = connected components over the duplicate-pair graph
    mh_cols = ", ".join(
        f"list_min(list_transform(s, x -> {seeded_hash_sql('x', str(k))})) AS mh{k}"
        for k in range(D.NUM_PERM)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + md5int60_sql(
            " || ',' || ".join(
                f"CAST(mh{b * D.LSH_ROWS + r} AS VARCHAR)" for r in range(D.LSH_ROWS)
            )
        )
        + " AS bh FROM mh"
        for b in range(D.NUM_BANDS)
    )
    return f"""
    WITH RECURSIVE {_TOKS_CTE}, {_SH_CTE},
    mh AS (SELECT doc_id, {mh_cols} FROM sh WHERE len(s) > 0),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                               AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT c.id_1, c.id_2
      FROM cand c JOIN sh s1 ON c.id_1 = s1.doc_id
                  JOIN sh s2 ON c.id_2 = s2.doc_id
      WHERE CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE)
            / GREATEST(len(list_distinct(s1.s || s2.s)), 1) >= {JACCARD_T}),
    edges AS (SELECT id_1 AS src, id_2 AS dst FROM pairs
              UNION ALL SELECT id_2, id_1 FROM pairs),
    lab(node, comp) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, l.comp FROM lab l JOIN edges e ON e.src = l.node
      WHERE l.comp < e.dst)
    SELECT node AS doc_id, CAST(MIN(comp) AS BIGINT) AS canonical_id
    FROM lab GROUP BY node ORDER BY doc_id
    """


@query(
    "dedup_cluster_canonical",
    oracle=_cluster_oracle(),
    tags=("llm", "dedup", "minhash", "cluster", "graph"),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: MinHash+LSH pairs → connected components over
    the duplicate graph (delta iteration, graph.Graph) → canonical id =
    min doc_id per cluster. The end-to-end dedup pipeline shape a training
    corpus actually needs (drop all non-canonical members); the oracle
    replicates banding AND the transitive closure (recursive CTE), so
    cluster boundaries are verified, not just pairs."""
    d = load(spark, sf_dir, "documents")
    sets_ = D.shingle_sets(d, "doc_id", "text")
    sigs = D.minhash_signatures_from_sets(sets_, "doc_id")
    cand = D.lsh_candidate_pairs(sigs, "doc_id")
    pairs = D.jaccard_verify(cand, d, "doc_id", "text", sets_df=sets_).filter(
        F.col("jaccard") >= JACCARD_T
    )
    from flink_1_12_2_spark.graph import Graph

    g = Graph.from_edges(
        pairs.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
    )
    comp = g.run_connected_components()
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
    ).orderBy("doc_id")


EXSUB_W = 15  # window length in tokens (Lee et al. use 50; driver docs avg ~54)
EXSUB_MAXB = 100  # boilerplate guard: max distinct docs per window hash


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH {_TOKS_CTE},
    wins AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(t[i:i+{EXSUB_W - 1}], ' ')) AS wh
      FROM toks, UNNEST(generate_series(1, len(t) - {EXSUB_W} + 1)) AS u(i)),
    elig AS (
      SELECT wh FROM wins GROUP BY wh
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {EXSUB_MAXB}),
    w2 AS (SELECT w.* FROM wins w JOIN elig USING (wh)),
    pr AS (
      SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.wh,
             a.pos AS pa, b.pos AS pb
      FROM w2 a JOIN w2 b ON a.wh = b.wh AND a.doc_id < b.doc_id),
    cells AS (SELECT DISTINCT id_1, id_2, pa - pb AS diag, pa FROM pr),
    flagged AS (
      SELECT *, CASE WHEN pa - lag(pa) OVER w = 1 THEN 0 ELSE 1 END AS brk
      FROM cells WINDOW w AS (PARTITION BY id_1, id_2, diag ORDER BY pa)),
    grp AS (
      SELECT *, SUM(brk) OVER (PARTITION BY id_1, id_2, diag
                               ORDER BY pa) AS g
      FROM flagged),
    runs AS (SELECT id_1, id_2, diag, g, COUNT(*) AS run_len
             FROM grp GROUP BY 1, 2, 3, 4),
    best AS (SELECT id_1, id_2, MAX(run_len) AS max_run
             FROM runs GROUP BY 1, 2),
    shared AS (SELECT id_1, id_2, COUNT(DISTINCT wh) AS n_shared_windows
               FROM pr GROUP BY 1, 2)
    SELECT s.id_1 AS id_1, s.id_2 AS id_2,
           s.n_shared_windows AS n_shared_windows,
           CAST(b.max_run + {EXSUB_W} - 1 AS BIGINT) AS match_tokens
    FROM shared s JOIN best b USING (id_1, id_2)
    ORDER BY id_1, id_2
    """,
    tags=("llm", "dedup", "exact-substring"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2021 ExactSubstr, windowed-hash
    variant): overlapping 15-token spans hash to buckets; docs sharing a
    bucket share an exact 15-token substring; consecutive shared spans
    extend along the (pos_a - pos_b) diagonal into ``match_tokens``, the
    longest exact common token run. Bucketed equi-join with a boilerplate
    frequency cap — never all-pairs (plan-asserted); the oracle replicates
    the full algorithm including the cap."""
    d = load(spark, sf_dir, "documents")
    return D.exact_substring_pairs(
        d, "doc_id", "text", window=EXSUB_W, max_bucket=EXSUB_MAXB
    ).orderBy("id_1", "id_2")


@query(
    "dedup_incremental_snapshot",
    oracle="""
    WITH existing AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8),
    incoming AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id % 10 < 8 AND doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 10 < 8 AND doc_id % 25 = 0),
    batch AS (
      SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
             COUNT(*) AS n_copies
      FROM incoming GROUP BY md5(text))
    SELECT content_hash, keeper_id, n_copies
    FROM batch
    WHERE content_hash NOT IN (SELECT h FROM existing)
    ORDER BY keeper_id
    """,
    tags=("llm", "dedup", "incremental"),
)
def dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup across ingestion snapshots — the shape a
    recurring 100 TB crawl actually runs. The corpus slice doc_id%10 < 8
    plays the already-ingested snapshot (reduced to a distinct
    content-hash fingerprint index, never rescanned row-for-row); the
    incoming batch is the remaining 20% PLUS a simulated re-crawl (every
    %25==0 existing doc re-observed TWICE under new doc_ids), so both
    filters demonstrably fire: the duplicate re-crawl copies collapse
    keep-first within the batch, then the whole re-crawled set is
    anti-joined away by the index, leaving only genuinely-new content.
    Survivors emit (content_hash, keeper_id, n_copies) — STRING/BIGINT.
    See :func:`flink_1_12_2_spark.llm.dedup.incremental_exact_dedup` for
    the index-maintenance scale argument; Flink parity: keep-first
    Deduplicate (RowTimeDeduplicateFunction.java:31) with the hash index
    as the operator state."""
    d = load(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") % 10 < 8)
    recrawled = existing.filter(F.col("doc_id") % 25 == 0).select(
        "doc_id", "text"
    )
    incoming = (
        d.filter(F.col("doc_id") % 10 >= 8)
        .select("doc_id", "text")
        .unionByName(
            recrawled.select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            recrawled.select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return D.incremental_exact_dedup(existing, incoming).orderBy("keeper_id")


@query(
    "dedup_semantic_semdedup",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[]))))
               AS v
      FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, v AS cvec FROM n WHERE vec_id < 16),
    assigned AS (
      SELECT vec_id, cell, v FROM (
        SELECT n.vec_id, c.cent_id AS cell, n.v,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                 ORDER BY ROUND(list_dot_product(n.v, c.cvec), 6) DESC,
                          c.cent_id) AS crank
        FROM n CROSS JOIN cents c)
      WHERE crank = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v), 6) >= 0.30)
    SELECT s.vec_id, CAST(s.cell AS INT) AS cell,
           d.vec_id IS NULL AS kept
    FROM assigned s LEFT JOIN dropped d ON d.vec_id = s.vec_id
    ORDER BY s.vec_id
    """,
    tags=("llm", "dedup", "semantic", "embedding"),
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023) over the embeddings
    table: k-means-style cells (deterministic lowest-id centroids, the
    same init stand-in as ann_ivf_topk) bound the candidate space;
    within each cell, a doc is dropped iff a smaller-id doc sits at
    cosine ≥ 0.30 (deterministic keeper standing in for the paper's
    random representative). Assignment is a scan-stage projection over
    broadcast centroid literals — the only shuffle is the within-cell
    self-join on the cell id."""
    e = load(spark, sf_dir, "embeddings")
    out = D.semantic_dedup(e, "vec_id", "embedding", 0.30, num_centroids=16)
    return out.withColumn("cell", F.col("cell").cast("int")).orderBy(
        "vec_id"
    )
