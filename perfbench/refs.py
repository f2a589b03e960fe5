"""Reference results for ``llm_dedup``, computed with DuckDB over the same
parquet the engine reads.

MinHash-LSH and chunk dedup use the registry's own oracles. The registry's
3-gram Jaccard oracle compares every pair of documents (12.5 M pairs here,
minutes per run), so ``NGRAM_JACCARD`` computes the same pairs through a
shingle self-join: both shingle lists are distinct, so the union size is
``n1 + n2 - shared``. Its shingling CTEs are the registry's, and the unit
tests hold it equal to the registry oracle.
"""

from __future__ import annotations

from flink_1_12_2_spark.queries.llm_dedup import (
    _SH_CTE,
    _TOKS_CTE,
    JACCARD_T,
)

NGRAM_JACCARD = f"""
    WITH {_TOKS_CTE}, {_SH_CTE},
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sz AS (SELECT doc_id, len(s) AS n FROM sh),
    shared AS (
      SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS k
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_1, id_2,
             ROUND(CAST(k AS DOUBLE) / GREATEST(s1.n + s2.n - k, 1), 6) AS jaccard
      FROM shared JOIN sz s1 ON s1.doc_id = id_1 JOIN sz s2 ON s2.doc_id = id_2)
    SELECT id_1, id_2, jaccard FROM pairs
    WHERE jaccard >= {JACCARD_T} ORDER BY id_1, id_2
    """


def connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{data_dir}/documents.parquet'"
    )
    return con


def dedup_references(data_dir: str) -> dict[str, list[tuple]]:
    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules

    load_all_query_modules()
    con = connect(data_dir)
    out = {
        "dedup_minhash_lsh": con.execute(
            QUERIES["dedup_minhash_lsh"].oracle).fetchall(),
        "dedup_ngram_jaccard": con.execute(NGRAM_JACCARD).fetchall(),
        "text_chunk_dedup": con.execute(
            QUERIES["text_chunk_dedup"].oracle).fetchall(),
    }
    con.close()
    return out
