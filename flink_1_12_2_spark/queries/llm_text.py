"""Text-analysis pipeline queries over ``documents`` — token stats, quality
scoring, language ID, fingerprinting (BASELINE.json north-star operators).

Oracle SQL is generated from the same constants (marker-word lists, modulus)
as the Spark implementation in :mod:`flink_1_12_2_spark.llm.text`, so the
DuckDB twin exercises the identical arithmetic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_1_12_2_spark.llm import text as T
from flink_1_12_2_spark.llm.dedup import fan_out
from flink_1_12_2_spark.llm.hashing import FINGERPRINT_MOD
from flink_1_12_2_spark.registry import load, query

# ---- shared DuckDB fragments (kept in lockstep with llm/text.py) -----------

_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"
_TOKS_LOWER = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')"


def _sw_ratio_sql(words: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return (
        f"CAST(len(list_filter({_TOKS_LOWER}, t -> list_contains({lst}, t))) AS DOUBLE)"
        f" / GREATEST(len({_TOKS}), 1)"
    )


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
              + len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INT) AS n_pieces,
           CAST(length(text) AS INT) AS n_chars_m,
           CASE WHEN len({_TOKS}) = 0 THEN 0.0
                ELSE CAST(list_reduce(list_transform({_TOKS}, t -> length(t)),
                          (a, b) -> a + b) AS DOUBLE) / len({_TOKS})
           END AS mean_tok_len
    FROM documents ORDER BY doc_id
    """,
    tags=("llm", "text", "tokens", "headline"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword estimate.

    Sort FIRST, project after: a global orderBy's range exchange runs a
    sampling pass over its child, so sorting the projected frame executes
    the regex/split expression pipeline twice (r13: 1.09 → 0.65 s by
    reordering). Sorting the raw scan samples only (doc_id, text); the
    projection above the sort computes each expression once, in the
    range-partitioned (still parallel) stage, and row order is untouched."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    return d.orderBy("doc_id").select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        T.bpe_ish_piece_count(t).alias("n_pieces"),
        T.char_count(t).alias("n_chars_m"),
        T.mean_token_length(t).alias("mean_tok_len"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CASE WHEN len({_TOKS}) = 0 THEN 0.0
                  ELSE CAST(list_reduce(list_transform({_TOKS}, t -> length(t)),
                            (a, b) -> a + b) AS DOUBLE) / len({_TOKS}) END AS mwl,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
               / GREATEST(length(text), 1) AS punct_r,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
               / GREATEST(length(text), 1) AS digit_r,
             {_sw_ratio_sql(T.LANG_MARKERS["en"])} AS sw_r
      FROM documents)
    SELECT doc_id, punct_r AS punct_ratio, digit_r AS digit_ratio,
           sw_r AS stopword_ratio_en,
           ROUND(LEAST(n_tok / 20.0, 1.0) * 0.3
                 + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.25
                 + GREATEST(1.0 - (punct_r + digit_r) * 2.0, 0.0) * 0.25
                 + LEAST(sw_r * 5.0, 1.0) * 0.2, 4) AS quality
    FROM f ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/digit/stopword composite in [0,1]."""
    d = fan_out(load(spark, sf_dir, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        T.punct_ratio(t).alias("punct_ratio"),
        T.digit_ratio(t).alias("digit_ratio"),
        T.stopword_ratio(t, T.LANG_MARKERS["en"]).alias("stopword_ratio_en"),
        T.quality_score(t).alias("quality"),
    ).orderBy("doc_id")


def _lang_case_sql() -> str:
    """CASE replicating array_max-over-struct tie semantics: greatest score
    wins; ties go to the lexicographically largest language code."""
    score_cols = {lang: f"s_{lang}" for lang in sorted(T.LANG_MARKERS)}
    g = "GREATEST(" + ", ".join(score_cols.values()) + ")"
    branches = "".join(
        f" WHEN {score_cols[lang]} = g THEN '{lang}'"
        for lang in sorted(T.LANG_MARKERS, reverse=True)
    )
    return f"CASE WHEN g = 0.0 THEN 'und'{branches} END", g


@query(
    "text_lang_id",
    oracle=(
        lambda: f"""
    WITH s AS (
      SELECT doc_id, lang,
             {_sw_ratio_sql(T.LANG_MARKERS["de"])} AS s_de,
             {_sw_ratio_sql(T.LANG_MARKERS["en"])} AS s_en,
             {_sw_ratio_sql(T.LANG_MARKERS["es"])} AS s_es,
             {_sw_ratio_sql(T.LANG_MARKERS["fr"])} AS s_fr
      FROM documents),
    g AS (SELECT doc_id, lang, GREATEST(s_de, s_en, s_es, s_fr) AS g,
                 s_de, s_en, s_es, s_fr FROM s)
    SELECT lang AS labeled_lang, {_lang_case_sql()[0]} AS predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS docs
    FROM g GROUP BY 1, 2 ORDER BY 1, 2
    """
    )(),
    tags=("llm", "text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-word argmax) vs. the labeled lang."""
    d = fan_out(load(spark, sf_dir, "documents"))
    return (
        d.select("lang", T.lang_id(F.col("text")).alias("predicted_lang"))
        .groupBy(F.col("lang").alias("labeled_lang"), "predicted_lang")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("labeled_lang", "predicted_lang")
    )


@query(
    "text_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             CASE WHEN len({_TOKS}) = 0 THEN 0
                  ELSE list_reduce(
                         list_transform({_TOKS},
                           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {FINGERPRINT_MOD}),
                         (a, b) -> (a * 31 + b) % {FINGERPRINT_MOD})
             END AS fingerprint
      FROM documents)
    SELECT doc_id, fingerprint FROM fp ORDER BY doc_id
    """,
    tags=("llm", "text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (mod 2^31-1)."""
    d = fan_out(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", T.doc_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


@query(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text
    FROM documents ORDER BY doc_id
    """,
    tags=("batch", "llm", "text", "normalize"),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization (lowercase + whitespace collapse + trim) —
    pure JVM expression chain over every document."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", T.normalize_text(F.col("text")).alias("norm_text")
    ).orderBy("doc_id")


def _pii_oracle() -> str:
    inject = (
        "substr(text, 1, 40) || ' mail u' || CAST(doc_id AS VARCHAR) || "
        "'@ex.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || "
        "CAST(doc_id % 100 AS VARCHAR) || ' call 555-123-4567 ssn 123-45-6789'"
    )
    expr = inject
    for pat, repl in T.PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"SELECT doc_id, {expr} AS scrubbed FROM documents ORDER BY doc_id"


@query(
    "text_pii_scrub",
    oracle=_pii_oracle(),
    tags=("batch", "llm", "text", "pii"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (email/SSN/phone/IP → typed placeholders): documents
    are salted with synthetic PII derived from doc_id (the raw corpus has
    none), then scrubbed with the shared ``PII_PATTERNS`` — oracle applies
    the identical patterns in the identical order."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    injected = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.lit(" mail u"), F.col("doc_id").cast("string"),
        F.lit("@ex.com ip 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), (F.col("doc_id") % 100).cast("string"),
        F.lit(" call 555-123-4567 ssn 123-45-6789"),
    )
    return docs.select(
        "doc_id", T.scrub_pii(injected).alias("scrubbed")
    ).orderBy("doc_id")


def _corpus_clean_oracle() -> str:
    lang_case, _g = _lang_case_sql()
    return f"""
    WITH s AS (
      SELECT doc_id, text,
             {_sw_ratio_sql(T.LANG_MARKERS["de"])} AS s_de,
             {_sw_ratio_sql(T.LANG_MARKERS["en"])} AS s_en,
             {_sw_ratio_sql(T.LANG_MARKERS["es"])} AS s_es,
             {_sw_ratio_sql(T.LANG_MARKERS["fr"])} AS s_fr
      FROM documents),
    g AS (SELECT doc_id, text, GREATEST(s_de, s_en, s_es, s_fr) AS g,
                 s_de, s_en, s_es, s_fr FROM s),
    langp AS (SELECT doc_id, text, {lang_case} AS predicted_lang FROM g),
    q AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CASE WHEN len({_TOKS}) = 0 THEN 0.0
                  ELSE CAST(list_reduce(list_transform({_TOKS}, t -> length(t)),
                            (a, b) -> a + b) AS DOUBLE) / len({_TOKS}) END AS mwl,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
               / GREATEST(length(text), 1) AS punct_r,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
               / GREATEST(length(text), 1) AS digit_r,
             {_sw_ratio_sql(T.LANG_MARKERS["en"])} AS sw_r
      FROM documents),
    qs AS (
      SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
             ROUND(LEAST(n_tok / 20.0, 1.0) * 0.3
               + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.25
               + GREATEST(1.0 - (punct_r + digit_r) * 2.0, 0.0) * 0.25
               + LEAST(sw_r * 5.0, 1.0) * 0.2, 4) AS quality
      FROM q),
    dd AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents)
    SELECT l.doc_id, l.predicted_lang, qs.quality, qs.n_tokens
    FROM langp l JOIN qs USING (doc_id) JOIN dd ON dd.doc_id = l.doc_id
    WHERE l.predicted_lang = 'en' AND qs.quality >= 0.5
      AND qs.n_tokens >= 10 AND dd.rn = 1
    ORDER BY l.doc_id
    """


@query(
    "pipeline_corpus_clean",
    oracle=_corpus_clean_oracle(),
    tags=("llm", "text", "pipeline", "dedup"),
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning pipeline a pre-training run actually
    ships: language filter (lang_id = en) → quality gate (≥ 0.5) → length
    gate (≥ 10 tokens) → exact-dup removal (keep min doc_id per md5).
    Every stage is one of the verified operators; the composition stays a
    single Catalyst plan (one shuffle for the dedup window, everything
    else scan-local) — at 100 TB this whole filter chain is pushed into
    one pass over the corpus."""
    from pyspark.sql import Window as W

    d = fan_out(load(spark, sf_dir, "documents"))
    t = F.col("text")
    scored = d.select(
        "doc_id",
        "text",
        T.lang_id(t).alias("predicted_lang"),
        T.quality_score(t).alias("quality"),
        T.token_count(t).alias("n_tokens"),
    )
    rn = F.row_number().over(
        W.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(
            (F.col("predicted_lang") == "en")
            & (F.col("quality") >= 0.5)
            & (F.col("n_tokens") >= 10)
            & (F.col("rn") == 1)
        )
        .select("doc_id", "predicted_lang", "quality", "n_tokens")
        .orderBy("doc_id")
    )


# ---- deterministic sampling / data mixing (llm/sampling.py) ---------------

_DRAW = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{salt}'), 1, 15))::BIGINT"
    " / CAST(1152921504606846976 AS DOUBLE))"
)


@query(
    "sample_stratified_fraction",
    oracle=f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_DRAW.format(salt='')} <
          CASE lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 0.6 ELSE 0.4 END
    ORDER BY doc_id
    """,
    tags=("llm", "sampling", "stratified"),
)
def sample_stratified_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (language rebalancing — the
    canonical training-mix operation): each row's keep decision is the md5
    draw of its OWN key against its stratum's fraction, so the sample is
    reproducible across runs/partitionings and the oracle reproduces the
    exact row set, not a count. Pure scan-stage filter — zero shuffle."""
    from flink_1_12_2_spark.llm.sampling import stratified_sample_fraction

    d = load(spark, sf_dir, "documents")
    out = stratified_sample_fraction(
        d, "doc_id", "lang", {"en": 0.25, "zh": 0.6}, default_fraction=0.4
    )
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


@query(
    "sample_stratified_exact",
    oracle=f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'q'),
                         1, 15))::BIGINT, doc_id) AS rn
      FROM documents) WHERE rn <= 5
    ORDER BY doc_id
    """,
    tags=("llm", "sampling", "quota"),
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-stratum quotas (5 docs per source): rows ranked inside each
    stratum by their deterministic draw — a content-addressed reservoir
    whose result is independent of partitioning and arrival order. One hash
    exchange on the stratum; per-group state is a rank counter."""
    from flink_1_12_2_spark.llm.sampling import stratified_sample_exact

    d = load(spark, sf_dir, "documents")
    out = stratified_sample_exact(
        d, "doc_id", "source", {f"src{i}": 5 for i in range(20)}, salt="q"
    )
    return out.select("doc_id", "source").orderBy("doc_id")


@query(
    "sample_train_val_split",
    oracle=f"""
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS docs
    FROM (SELECT lang,
                 CASE WHEN {_DRAW.format(salt='tv')} < 0.8 THEN 'train'
                      WHEN {_DRAW.format(salt='tv')} < 0.9 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
    GROUP BY split, lang ORDER BY split, lang
    """,
    tags=("llm", "sampling", "split"),
)
def sample_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test partitioning (80/10/10): disjoint,
    exhaustive, content-addressed split labels — a document keeps its
    split across re-runs and corpus growth, the property that prevents
    silent train/val leakage when the corpus is rebuilt. The draw and the
    cumulative boundaries are exact doubles in both engines, so the
    label assignment is reproducible row-for-row; compared here at the
    (split, lang) census grain."""
    from flink_1_12_2_spark.llm.sampling import split_corpus

    d = load(spark, sf_dir, "documents")
    out = split_corpus(
        d, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)],
        salt="tv",
    )
    return (
        out.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("split", "lang")
    )



@query(
    "pipeline_data_mixture",
    oracle=f"""
    WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
    rest AS (SELECT * FROM documents WHERE lang <> 'en'),
    mixed AS (
      SELECT doc_id, lang FROM en
      WHERE {_DRAW.format(salt='|src0')} < 0.3
      UNION ALL
      SELECT doc_id, lang FROM rest
      WHERE {_DRAW.format(salt='|src1')} < 0.8)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM mixed GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "sampling", "mixture"),
)
def pipeline_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: compose a training corpus from per-source keep rates
    (downweight English 0.3×, upweight the rest 0.8×) — each source is a
    deterministic scan-stage filter, the mixture a shuffle-free UNION ALL;
    per-source salts decorrelate the draws."""
    from flink_1_12_2_spark.llm.sampling import weighted_mixture

    d = load(spark, sf_dir, "documents")
    out = weighted_mixture(
        [
            (d.filter(F.col("lang") == "en"), 0.3),
            (d.filter(F.col("lang") != "en"), 0.8),
        ],
        "doc_id",
    )
    return (
        out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).orderBy("lang")
    )


_CHUNK, _OVL = 32, 8
_STRIDE = _CHUNK - _OVL


@query(
    "text_chunking",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, GREATEST(len(toks) - 1, 0), {_STRIDE}))
               AS start
      FROM d)
    SELECT doc_id,
           CAST(start // {_STRIDE} AS BIGINT) AS chunk_id,
           CAST(LEAST(len(toks) - start, {_CHUNK}) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, start + 1, start + {_CHUNK}), ' ')
             AS chunk_text
    FROM s ORDER BY doc_id, chunk_id
    """,
    tags=("llm", "text", "chunking"),
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training/RAG pipelines: token windows of
    {chunk} with {ovl}-token overlap (trailing chunk shorter). The whole
    pass is Catalyst array expressions (tokens → sequence of starts →
    slice → join) + posexplode — JVM-side, no Python, no shuffle until a
    downstream consumer groups; at 100 TB this is a pure map stage whose
    output partitioning follows the scan."""
    d = fan_out(load(spark, sf_dir, "documents"))
    chunks = T.chunk_tokens_expr(F.col("text"), _CHUNK, _OVL)
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            (F.col("c.start") / _STRIDE).cast("bigint").alias("chunk_id"),
            F.col("c.n_tokens").cast("bigint").alias("n_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


_CONTAM_N = 4  # n-gram order for contamination checks
_PROBE_MOD = 20  # every 20th doc plays the "benchmark" probe set


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, GREATEST(len(toks) - {_CONTAM_N - 1}, 0)),
               i -> array_to_string(list_slice(toks, i, i + {_CONTAM_N - 1}), ' ')))
               AS ng
      FROM d),
    probe AS (SELECT DISTINCT ng FROM g WHERE doc_id % {_PROBE_MOD} = 0)
    SELECT g.doc_id AS doc_id,
           CAST(COUNT(DISTINCT g.ng) AS BIGINT) AS n_hits
    FROM g JOIN probe USING (ng)
    WHERE g.doc_id % {_PROBE_MOD} <> 0
    GROUP BY 1 ORDER BY doc_id
    """,
    tags=("llm", "text", "contamination"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: corpus documents sharing any
    word {n}-gram with a probe ("benchmark") set, with the distinct-hit
    count per contaminated document — the standard decontamination pass
    before training.

    Scale: the probe set is tiny relative to the corpus, so its distinct
    n-gram set BROADCASTS; the corpus side explodes n-grams map-side and
    inner-joins against the broadcast (no corpus shuffle — only the final
    per-doc count aggregates). A probe too large to broadcast falls back
    to a bucketed equijoin on the n-gram hash — same plan as the LSH band
    join in llm/dedup."""
    d = fan_out(load(spark, sf_dir, "documents"))
    grams = d.select(
        "doc_id", F.explode(T.ngrams_expr(F.col("text"), _CONTAM_N)).alias("ng")
    )
    probe = (
        grams.filter(F.col("doc_id") % _PROBE_MOD == 0).select("ng").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % _PROBE_MOD != 0)
        .join(F.broadcast(probe), "ng")
        .groupBy("doc_id")
        .agg(F.count_distinct("ng").alias("n_hits"))
        .orderBy("doc_id")
    )


_REPETITION_SQL = f"""
    WITH d AS (
      SELECT doc_id, {_TOKS_LOWER} AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> regexp_matches(l, '\\S')) AS lns
      FROM documents),
    lf AS (
      SELECT doc_id,
             CASE WHEN len(lns) = 0 THEN 0.0
                  ELSE CAST(len(lns) - len(list_distinct(lns)) AS DOUBLE)
                       / len(lns) END AS dlf
      FROM d),
    grams AS (
      SELECT doc_id, 'tok' AS kind, unnest(toks) AS gram FROM d
      UNION ALL
      SELECT doc_id, 'big' AS kind,
             unnest(CASE WHEN len(toks) >= 2
                    THEN list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i + 1])
                    ELSE []::VARCHAR[] END) AS gram
      FROM d),
    counts AS (SELECT doc_id, kind, gram, COUNT(*) AS c
               FROM grams GROUP BY 1, 2, 3),
    fr AS (SELECT doc_id, kind, CAST(MAX(c) AS DOUBLE) / SUM(c) AS frac
           FROM counts GROUP BY 1, 2),
    piv AS (SELECT doc_id,
                   MAX(CASE WHEN kind = 'tok' THEN frac END) AS ttf,
                   MAX(CASE WHEN kind = 'big' THEN frac END) AS tbf
            FROM fr GROUP BY 1)
    SELECT l.doc_id AS doc_id,
           ROUND(l.dlf, 4) AS dup_line_frac,
           ROUND(COALESCE(p.ttf, 0.0), 4) AS top_token_frac,
           ROUND(COALESCE(p.tbf, 0.0), 4) AS top_bigram_frac,
           (l.dlf < 0.3 AND COALESCE(p.ttf, 0.0) < 0.2
            AND COALESCE(p.tbf, 0.0) < 0.18) AS keep
    FROM lf l LEFT JOIN piv p USING (doc_id)
    ORDER BY doc_id
"""


@query(
    "text_repetition_filter",
    oracle=_REPETITION_SQL,
    tags=("llm", "text", "quality", "repetition"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter (Rae et al. 2021, table A1): reject
    documents dominated by repeated lines, a single token, or a single
    2-gram. Three signals per doc:

    - ``dup_line_frac`` — duplicate non-blank lines / lines; a pure array
      expression evaluated in the scan stage (no shuffle).
    - ``top_token_frac`` / ``top_bigram_frac`` — occurrence share of the
      most frequent token / adjacent 2-gram. Both computed in ONE pass:
      tokens and bigrams explode into a shared (doc_id, kind, gram)
      stream → count → per-(doc, kind) max/total → conditional-agg pivot.
      Two map-combinable shuffles keyed by high-cardinality doc_id —
      linear and skew-free at 100 TB.

    ``keep`` applies the thresholds (0.3 / 0.2 / 0.18) to the UNROUNDED
    fractions; each fraction is a single integer division so both engines
    compare bit-identical doubles."""
    d = fan_out(load(spark, sf_dir, "documents")).select("doc_id", "text")
    t = F.col("text")
    base = d.select(
        "doc_id", T.dup_line_fraction(t).alias("dlf")
    )
    tok_grams = d.select(
        "doc_id",
        F.lit("tok").alias("kind"),
        F.explode(T.tokens(F.lower(t))).alias("gram"),
    )
    big_grams = d.select(
        "doc_id",
        F.lit("big").alias("kind"),
        F.explode(T.token_bigrams(F.lower(t))).alias("gram"),
    )
    fr = (
        tok_grams.unionAll(big_grams)
        .groupBy("doc_id", "kind", "gram")
        .count()
        .groupBy("doc_id", "kind")
        .agg((F.max("count").cast("double") / F.sum("count")).alias("frac"))
    )
    piv = fr.groupBy("doc_id").agg(
        F.max(F.when(F.col("kind") == "tok", F.col("frac"))).alias("ttf"),
        F.max(F.when(F.col("kind") == "big", F.col("frac"))).alias("tbf"),
    )
    ttf = F.coalesce(F.col("ttf"), F.lit(0.0))
    tbf = F.coalesce(F.col("tbf"), F.lit(0.0))
    return (
        base.join(piv, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.col("dlf"), 4).alias("dup_line_frac"),
            F.round(ttf, 4).alias("top_token_frac"),
            F.round(tbf, 4).alias("top_bigram_frac"),
            (
                (F.col("dlf") < 0.3) & (ttf < 0.2) & (tbf < 0.18)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


# quality-score expression shared by the quantile gate (lockstep with
# text_quality_score's oracle above)
_QUALITY_SQL = f"""
      SELECT doc_id, source,
             ROUND(LEAST(CAST(len({_TOKS}) AS DOUBLE) / 20.0, 1.0) * 0.3
               + (CASE WHEN (CASE WHEN len({_TOKS}) = 0 THEN 0.0
                        ELSE CAST(list_reduce(list_transform({_TOKS},
                                  t -> length(t)), (a, b) -> a + b) AS DOUBLE)
                             / len({_TOKS}) END) >= 3.0
                   AND (CASE WHEN len({_TOKS}) = 0 THEN 0.0
                        ELSE CAST(list_reduce(list_transform({_TOKS},
                                  t -> length(t)), (a, b) -> a + b) AS DOUBLE)
                             / len({_TOKS}) END) <= 10.0
                   THEN 1.0 ELSE 0.5 END) * 0.25
               + GREATEST(1.0
                   - (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                           AS DOUBLE) / GREATEST(length(text), 1)
                      + CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                        / GREATEST(length(text), 1)) * 2.0, 0.0) * 0.25
               + LEAST({_sw_ratio_sql(T.LANG_MARKERS["en"])} * 5.0, 1.0) * 0.2,
               4) AS qs
      FROM documents
"""


@query(
    "text_quality_quantile_gate",
    oracle=f"""
    WITH q AS ({_QUALITY_SQL}),
    s AS (
      SELECT source, COUNT(*) AS n_docs,
             quantile_disc(qs, 0.5) AS p50,
             quantile_disc(qs, 0.9) AS p90
      FROM q GROUP BY 1)
    SELECT s.source AS source,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           s.p50 AS p50, s.p90 AS p90,
           CAST(COUNT(CASE WHEN q.qs > s.p90 THEN 1 END) AS BIGINT)
             AS n_above_p90
    FROM s JOIN q ON q.source = s.source
    GROUP BY 1, 2, 3, 4
    ORDER BY source
    """,
    tags=("llm", "text", "quality", "quantile"),
)
def text_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality distribution gate: exact p50/p90 of the quality
    score plus how many docs clear their own source's p90 — the building
    block of "keep the top decile per domain" curation policies.

    Percentiles are DISCRETE order statistics (``percentile_disc`` /
    ``quantile_disc``): the returned thresholds are actual data values, so
    the cross-engine comparison and the strict ``qs > p90`` count are
    bit-exact — no interpolation arithmetic whose last bit could differ.
    Scale: one partial-aggregating shuffle on high-cardinality-safe
    ``source`` for the stats, then the tiny stats table BROADCASTS back for
    the threshold count — no per-source window, no single-task sort (the
    stratified-exact lesson from r4 applied)."""
    d = fan_out(load(spark, sf_dir, "documents"))
    t = F.col("text")
    q = d.select("doc_id", "source", T.quality_score(t).alias("qs"))
    stats = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY qs)").alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY qs)").alias("p90"),
    )
    return (
        q.join(F.broadcast(stats), "source")
        .groupBy("source", "n_docs", "p50", "p90")
        .agg(
            F.count(F.when(F.col("qs") > F.col("p90"), 1)).alias("n_above_p90")
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "p50",
            "p90",
            F.col("n_above_p90").cast("bigint").alias("n_above_p90"),
        )
        .orderBy("source")
    )


@query(
    "pipeline_quality_curation",
    oracle=f"""
    WITH rep AS (SELECT doc_id, keep FROM ({_REPETITION_SQL})),
    q AS ({_QUALITY_SQL}),
    s AS (SELECT source, quantile_disc(qs, 0.5) AS p50 FROM q GROUP BY 1)
    SELECT q.doc_id AS doc_id, q.source AS source, q.qs AS quality
    FROM q JOIN rep USING (doc_id) JOIN s USING (source)
    WHERE rep.keep AND q.qs >= s.p50
    ORDER BY doc_id
    """,
    tags=("llm", "text", "pipeline", "curation"),
)
def pipeline_quality_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline: drop repetition-dominated docs (Gopher
    rules), then keep only docs at or above their OWN SOURCE's median
    quality — the "better half of every domain" policy. Chains the
    repetition filter with a per-source percentile_disc threshold; the
    median is an actual data value, so the >= comparison is bit-exact
    cross-engine. The per-source stats broadcast; the repetition join is
    doc_id-keyed — no global sorts, no per-source windows."""
    d = fan_out(load(spark, sf_dir, "documents"))
    t = F.col("text")
    rep = text_repetition_filter(spark, sf_dir).select("doc_id", "keep")
    q = d.select("doc_id", "source", T.quality_score(t).alias("qs"))
    s = q.groupBy("source").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY qs)").alias("p50")
    )
    return (
        q.join(rep, "doc_id")
        .join(F.broadcast(s), "source")
        .filter(F.col("keep") & (F.col("qs") >= F.col("p50")))
        .select("doc_id", "source", F.col("qs").alias("quality"))
        .orderBy("doc_id")
    )


_PACK_CTX = 256  # context-window length in tokens


@query(
    "pipeline_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT source, doc_id, len({_TOKS}) AS n_toks
      FROM documents WHERE len({_TOKS}) > 0),
    s AS (
      SELECT *, SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id)
                  - n_toks AS strt
      FROM d),
    b AS (
      SELECT source, doc_id, n_toks, strt,
             UNNEST(generate_series(CAST(strt // {_PACK_CTX} AS BIGINT),
                                    CAST((strt + n_toks - 1) // {_PACK_CTX}
                                         AS BIGINT)))
               AS bin_id
      FROM s),
    per AS (
      SELECT source, bin_id, doc_id,
             LEAST((bin_id + 1) * {_PACK_CTX}, strt + n_toks)
               - GREATEST(bin_id * {_PACK_CTX}, strt) AS tib
      FROM b)
    SELECT source, bin_id, COUNT(*) AS n_docs,
           SUM(tib) AS bin_tokens
    FROM per GROUP BY 1, 2 ORDER BY source, bin_id
    """,
    tags=("llm", "text", "packing", "pipeline"),
)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concat-then-chunk): per source shard,
    documents concatenate in doc_id order into one token stream split
    into fixed 256-token context windows; docs straddle boundaries. Emits
    the per-window composition (doc count, token count — every window
    except each shard's last must hold exactly 256 tokens). Exact integer
    arithmetic (exclusive running sum + interval intersection) keeps both
    engines bit-identical. The per-shard running sum is the serial prefix
    sequential packing inherently needs — shards are the parallelism
    unit, exactly how a 100 TB corpus packs per file."""
    d = fan_out(load(spark, sf_dir, "documents"))
    per = T.pack_concat_chunks(d, ctx=_PACK_CTX)
    return (
        per.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks_in_bin").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


_MIX_ALPHA = 0.5  # mixing temperature (Gopher/Pile-style root-scaled weights)
_MIX_BUDGET = 200  # total documents to draw across sources


@query(
    "mixing_temperature_weights",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    wts AS (
      SELECT source, n_docs,
             CAST(ROUND(SQRT(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS s_micro
      FROM counts),
    quota AS (
      SELECT source, n_docs, s_micro,
             SUM(s_micro) OVER () AS denom
      FROM wts),
    ranked AS (
      SELECT source, n_docs,
             CAST((s_micro * 1000000) // denom AS BIGINT) AS weight_ppm,
             CAST((s_micro * {_MIX_BUDGET}) // denom AS BIGINT) AS base,
             (s_micro * {_MIX_BUDGET}) % denom AS rem,
             ROW_NUMBER() OVER (
               ORDER BY (s_micro * {_MIX_BUDGET}) % denom DESC, source) AS rk,
             {_MIX_BUDGET} - SUM(CAST((s_micro * {_MIX_BUDGET}) // denom
                                      AS BIGINT)) OVER () AS leftover
      FROM quota)
    SELECT source, n_docs, weight_ppm,
           base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS n_sampled
    FROM ranked ORDER BY source
    """,
    tags=("llm", "text", "mixing", "pipeline"),
)
def mixing_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the Pile/Gopher data-mixing rule):
    per-source sampling weight ∝ n_docs^alpha (alpha = 0.5 flattens the
    source distribution toward small domains), then an exact
    largest-remainder apportionment of a fixed document budget.

    Engine-proof arithmetic (the r6 lesson, applied before it reaches a
    gate): alpha = 0.5 means the scaled mass is SQRT — the one power IEEE
    754 requires to be CORRECTLY ROUNDED (unlike libm ``pow``) — and the
    per-source mass is quantized to integer micro-units BEFORE any sum, so
    the normalization denominator, the displayed ``weight_ppm``, and the
    largest-remainder apportionment (integer quotient, integer remainder
    rank, ties by source) are exact bigint arithmetic that both engines
    reproduce bit-for-bit; no double is compared. Two tiny aggregates over
    source cardinality — a metadata-scale computation at any corpus
    size."""
    from pyspark.sql import Window as W

    counts = (
        fan_out(load(spark, sf_dir, "documents"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = W.partitionBy()
    s = counts.withColumn(
        "s_micro",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1000000.0).cast(
            "bigint"
        ),
    ).withColumn("denom", F.sum("s_micro").over(tot))
    quota = (
        s.withColumn("weight_ppm", F.expr("(s_micro * 1000000) DIV denom"))
        .withColumn("base", F.expr(f"(s_micro * {_MIX_BUDGET}) DIV denom"))
        .withColumn("rem", F.expr(f"(s_micro * {_MIX_BUDGET}) % denom"))
    )
    ranked = quota.withColumn(
        "rk", F.row_number().over(W.orderBy(F.desc("rem"), F.asc("source")))
    ).withColumn("leftover", F.lit(_MIX_BUDGET) - F.sum("base").over(tot))
    return ranked.select(
        "source",
        "n_docs",
        "weight_ppm",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("n_sampled"),
    ).orderBy("source")


def _dsir_terms_cte() -> str:
    """The per-bucket quantized log-ratio table, rendered from the SAME
    engine-portable stage generator the Spark implementation applies
    (:func:`flink_1_12_2_spark.llm.sampling.dsir_term_stages`) — both
    engines evaluate an identical correctly-rounded operation sequence, no
    libm ``ln`` anywhere (the r6 driver-red lesson)."""
    from flink_1_12_2_spark.llm.sampling import (
        dsir_term_stages,
        staged_select_sql,
    )

    stages = dsir_term_stages(1024)
    last = f"dls{len(stages) - 1}"
    return (
        "dsrc AS (SELECT b, raw_c, tgt_c, t_tot, r_tot FROM stats, tot),\n    "
        + staged_select_sql("dsrc", stages, "dls")
        + f",\n    terms AS (SELECT b, term_micro FROM {last})"
    )


@query(
    "sample_dsir_weights",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, lang = 'en' AS tgt,
             (('0x' || substr(md5(tok), 1, 15))::BIGINT) % 1024 AS b
      FROM (SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents)
    ),
    stats AS (
      SELECT b, COUNT(*) AS raw_c,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt_c
      FROM ex GROUP BY b
    ),
    tot AS (SELECT SUM(raw_c) AS r_tot, SUM(tgt_c) AS t_tot FROM stats),
    {_dsir_terms_cte()},
    w AS (
      SELECT doc_id, lang, source, COUNT(*) AS n_feat,
             CAST(SUM(term_micro) AS BIGINT) AS logweight_micro
      FROM (SELECT e.doc_id, d.lang, d.source, e.b
            FROM ex e JOIN documents d USING (doc_id)) je
      JOIN terms USING (b) GROUP BY doc_id, lang, source
    )
    SELECT doc_id, lang, source, logweight_micro,
           CAST(CASE WHEN logweight_micro >= 0
                     THEN logweight_micro // n_feat
                     ELSE -((-logweight_micro + n_feat - 1) // n_feat) END
                AS BIGINT) AS logweight_micro_per_tok
    FROM w
    ORDER BY logweight_micro_per_tok DESC, doc_id
    LIMIT 200
    """,
    tags=("llm", "sampling", "dsir"),
)
def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): per-doc importance
    log-weights from hashed unigram LMs (target = lang='en' docs vs the
    raw corpus), top-200 selection by LENGTH-NORMALIZED weight (the raw
    sum is dominated by doc length through the smoothing bias; per-token
    weight ranks the target language's docs to ~58% of the top-200 vs a
    ~46% base rate on this corpus). Weights are exact integer micronats
    and the normalization is EXACT INTEGER floor division (the r8-verdict
    fix: both branches feed DIV/``//`` only non-negative operands, where
    truncation and floor coincide in every engine — no integer ``/``,
    whose semantics changed across DuckDB versions, and no FLOOR over an
    IEEE quotient). See
    :func:`flink_1_12_2_spark.llm.sampling.dsir_logweight` for the
    quantization argument and the 100-TB shuffle story."""
    from flink_1_12_2_spark.llm.sampling import dsir_logweight, floor_div_sql

    d = load(spark, sf_dir, "documents")
    w = dsir_logweight(
        d, is_target=F.col("lang") == "en", carry_cols=("lang", "source")
    )
    return (
        w.withColumn(
            "logweight_micro_per_tok",
            F.expr(floor_div_sql("logweight_micro", "n_feat")).cast("bigint"),
        )
        .select(
            "doc_id", "lang", "source", "logweight_micro",
            "logweight_micro_per_tok",
        )
        .orderBy(F.desc("logweight_micro_per_tok"), "doc_id")
        .limit(200)
    )


@query(
    "dsir_term_table",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, lang = 'en' AS tgt,
             (('0x' || substr(md5(tok), 1, 15))::BIGINT) % 1024 AS b
      FROM (SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents)
    ),
    stats AS (
      SELECT b, COUNT(*) AS raw_c,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt_c
      FROM ex GROUP BY b
    ),
    tot AS (SELECT SUM(raw_c) AS r_tot, SUM(tgt_c) AS t_tot FROM stats),
    {_dsir_terms_cte()}
    SELECT b AS bucket, term_micro FROM terms ORDER BY bucket
    """,
    tags=("llm", "sampling", "dsir"),
)
def dsir_term_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR per-bucket quantized log-ratio table ALONE — the r8
    verdict's gate split: ``sample_dsir_weights`` = this table ⨝ the
    exploded corpus, so running both as separate gate rows localizes a
    driver-side divergence to either the portable-ln term table (this row)
    or the downstream join/aggregation/floor-division (the weights row).
    Spark side emits the exact rows the engine broadcasts (driver-computed
    via :func:`flink_1_12_2_spark.llm.sampling.dsir_term_table_py`); the
    oracle evaluates the SAME correctly-rounded staged operation sequence
    in DuckDB SQL. Output is (bucket BIGINT, term_micro BIGINT) — two
    exact-integer columns, canonicalization-proof. O(1024) rows: the
    table is driver metadata at any corpus scale (Xie et al. 2023;
    reference parity: the hashed-LM side of SURVEY §2's DSIR row)."""
    from flink_1_12_2_spark.llm.sampling import (
        dsir_bucket_stats,
        dsir_term_table_py,
    )

    d = load(spark, sf_dir, "documents")
    _ex, stats_rows = dsir_bucket_stats(d, is_target=F.col("lang") == "en")
    return (
        spark.createDataFrame(
            dsir_term_table_py(stats_rows, 1024),
            schema="bucket BIGINT, term_micro BIGINT",
        )
        .orderBy("bucket")
    )


def _unigram_lp_cte() -> str:
    """The per-bucket quantized log-prob table over ALL 1024 bucket ids,
    rendered from the SAME engine-portable stage generator the engine's
    driver-side table uses (:func:`flink_1_12_2_spark.llm.sampling.
    unigram_lp_stages`) — DuckDB evaluates the staged correctly-rounded
    sequence, bit-identical to ``portable_ln_py`` (the 210-input bit-sweep
    in tests/test_llm_text.py pins that), which is the value the engine
    broadcasts."""
    from flink_1_12_2_spark.llm.sampling import (
        staged_select_sql,
        unigram_lp_stages,
    )

    stages = unigram_lp_stages(1024)
    last = f"uls{len(stages) - 1}"
    return (
        "usrc AS (SELECT bk.b, COALESCE(rstats.ref_c, 0) AS ref_c, ref_tot\n"
        "            FROM (SELECT range AS b FROM range(1024)) bk\n"
        "            LEFT JOIN rstats USING (b), rtot),\n    "
        + staged_select_sql("usrc", stages, "uls")
        + f",\n    lpt AS (SELECT b, lp_micro FROM {last})"
    )


@query(
    "text_perplexity_filter",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, lang = 'en' AS ref,
             (('0x' || substr(md5(tok), 1, 15))::BIGINT) % 1024 AS b
      FROM (SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents)
    ),
    rstats AS (SELECT b, COUNT(*) AS ref_c FROM ex WHERE ref GROUP BY b),
    rtot AS (SELECT SUM(ref_c) AS ref_tot FROM rstats),
    {_unigram_lp_cte()},
    w AS (
      SELECT doc_id, lang, source, COUNT(*) AS n_tok,
             SUM(lp_micro) AS logprob_micro
      FROM (SELECT e.doc_id, d.lang, d.source, e.b
            FROM ex e JOIN documents d USING (doc_id)) je
      JOIN lpt USING (b) GROUP BY doc_id, lang, source
    )
    SELECT doc_id, lang, source, n_tok, logprob_micro,
           CAST(FLOOR(-logprob_micro / n_tok) AS BIGINT)
             AS ppl_micro_per_tok
    FROM w
    WHERE logprob_micro >= -3484000 * n_tok
    ORDER BY ppl_micro_per_tok, doc_id
    LIMIT 200
    """,
    tags=("llm", "sampling", "perplexity"),
)
def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter (Wenzek et al. 2020): a hashed-unigram
    LM fits on the English slice, every document scores by total
    log-probability under it, and the filter keeps documents whose
    LENGTH-NORMALIZED score clears 3.484 nats/token (the corpus median) —
    "keep reference-like text". The keep predicate is the exact integer
    inequality ``logprob_micro >= -3484000 * n_tok`` (no division), the
    scores are exact micronat sums from a driver-computed broadcast table,
    and the tie-broken ordering is total — deterministic in both engines
    by the same construction as ``sample_dsir_weights``. See
    :func:`flink_1_12_2_spark.llm.sampling.perplexity_score` for the
    100-TB shuffle story (O(1024) stats, broadcast model, no corpus
    join-back)."""
    from flink_1_12_2_spark.llm.sampling import perplexity_score

    d = load(spark, sf_dir, "documents")
    w = perplexity_score(
        d, is_ref=F.col("lang") == "en", carry_cols=("lang", "source")
    )
    return (
        w.filter(F.col("logprob_micro") >= F.lit(-3484000) * F.col("n_tok"))
        .withColumn(
            "ppl_micro_per_tok",
            F.floor(-F.col("logprob_micro") / F.col("n_tok")).cast("bigint"),
        )
        .select(
            "doc_id", "lang", "source", "n_tok", "logprob_micro",
            "ppl_micro_per_tok",
        )
        .orderBy("ppl_micro_per_tok", "doc_id")
        .limit(200)
    )


def _bpe_oracle_parts(rounds: int) -> list[str]:
    """The unrolled training CTEs (w0..w{rounds}, c*, b*) shared by the
    train and encode oracles — every round's argmax and replace computed
    inside DuckDB, so the oracles encode the algorithm, not precomputed
    literals."""
    from flink_1_12_2_spark.llm.bpe import merge_pair_sql

    parts = [
        f"""w0 AS (
      SELECT ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g'))
               || ' </w> ' AS sp, cnt
      FROM (SELECT tok AS word, COUNT(*) AS cnt
            FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
            GROUP BY tok))"""
    ]
    for k in range(1, rounds + 1):
        i = k - 1
        parts.append(f"""c{i} AS (
      SELECT p[1] AS l, p[2] AS r, SUM(cnt) AS pair_cnt
      FROM (SELECT cnt,
                   unnest(list_zip(syms[1:len(syms) - 1], syms[2:len(syms)]))
                     AS p
            FROM (SELECT cnt,
                         list_filter(string_split(trim(sp), ' '),
                                     x -> x <> '') AS syms
                  FROM w{i}))
      GROUP BY 1, 2)""")
        parts.append(f"""b{i} AS (
      SELECT {k} AS rank, l AS lhs, r AS rhs, pair_cnt
      FROM c{i} ORDER BY pair_cnt DESC, l, r LIMIT 1)""")
        parts.append(f"""w{k} AS (
      SELECT {merge_pair_sql("sp", "b.lhs", "b.rhs")} AS sp, cnt
      FROM w{i}, b{i} b)""")
    return parts


def _bpe_oracle(rounds: int) -> str:
    """Mirror of llm/bpe.bpe_train: the merge application renders through
    :func:`flink_1_12_2_spark.llm.bpe.merge_pair_sql` — the identical
    greedy-left space-doubling replace the engine applies (a full recount
    per round here; the engine maintains the pair table incrementally —
    same result by construction)."""
    union = "\n    UNION ALL ".join(
        f"SELECT CAST(rank AS INT) AS rank, lhs, rhs, pair_cnt FROM b{i}"
        for i in range(rounds)
    )
    return (
        "WITH " + ",\n    ".join(_bpe_oracle_parts(rounds))
        + f"\n    {union}\n    ORDER BY rank"
    )


def _bpe_chain_sql(rounds: int) -> str:
    """The spaced-symbol replace chain over rule columns l1..l{rounds} /
    r1..r{rounds} (shared by the encode and tokenize-pack oracles)."""
    from flink_1_12_2_spark.llm.bpe import merge_pair_sql

    chain = "' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w> '"
    for k in range(1, rounds + 1):
        chain = merge_pair_sql(chain, f"l{k}", f"r{k}")
    return chain


def _bpe_encode_oracle(rounds: int) -> str:
    """Encode oracle: re-derives the SAME merge rules via the shared
    training CTEs, pivots them into one rules row, and applies the
    identical greedy-left replace chain to every document word inside a
    list_transform lambda (order-preserving array semantics, mirroring
    the engine's transform+flatten)."""
    from flink_1_12_2_spark.llm.bpe import merge_pair_sql

    rules = ", ".join(
        f"(SELECT lhs FROM b{i}) AS l{i + 1}, "
        f"(SELECT rhs FROM b{i}) AS r{i + 1}"
        for i in range(rounds)
    )
    chain = "' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w> '"
    for k in range(1, rounds + 1):
        chain = merge_pair_sql(chain, f"l{k}", f"r{k}")
    return (
        "WITH "
        + ",\n    ".join(_bpe_oracle_parts(rounds))
        + f""",
    rules AS (SELECT {rules}),
    enc AS (
      SELECT doc_id, lang, toks,
             flatten(list_transform(toks, w ->
               list_filter(string_split(trim({chain}), ' '),
                           x -> x <> ''))) AS tokens
      FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents), rules)
    SELECT doc_id, lang, len(toks) AS n_words, len(tokens) AS n_tokens,
           array_to_string(tokens[1:32], ' ') AS tokens_head
    FROM enc
    ORDER BY doc_id
    LIMIT 100"""
    )


@query(
    "bpe_encode_docs",
    oracle=_bpe_encode_oracle(8),
    tags=("llm", "tokenizer", "bpe"),
)
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the scan-stage half of the tokenizer
    (train once, encode petabytes): the 8 trained merge rules collect to
    the driver (O(vocab) rows) and compile into a whole-stage-codegen
    transform+flatten replace chain per document — no explode, no
    shuffle, no Python, document token order preserved by array
    semantics. The oracle re-derives the same rules inside DuckDB and
    applies the identical chain in a list_transform lambda. Output is
    the token-count pair plus the first 32 tokens per document joined on
    a single space (tokens derive from whitespace-split words, so the
    join is injective; a flat STRING keeps the row inside the gate's
    portable type surface — r10 rotation readiness); doc_id keys the
    order. See :func:`flink_1_12_2_spark.llm.bpe.bpe_encode` for the
    100-TB trade (broadcast-trie pandas UDF / word-dedup pre-pass once
    merges number in the thousands)."""
    from flink_1_12_2_spark.llm.bpe import bpe_encode, bpe_train

    d = load(spark, sf_dir, "documents")
    rules = bpe_train(d, "text", rounds=8).collect()  # bounded: 8 rows
    merges = [(r["lhs"], r["rhs"]) for r in rules]
    enc = bpe_encode(d, merges, carry_cols=("lang",))
    return (
        enc.withColumn(
            "tokens_head",
            F.concat_ws(" ", F.slice(F.col("tokens"), 1, 32)),
        )
        .select("doc_id", "lang", "n_words", "n_tokens", "tokens_head")
        .orderBy("doc_id")
        .limit(100)
    )


@query(
    "bpe_train_merges",
    oracle=_bpe_oracle(8),
    tags=("llm", "tokenizer", "bpe"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016): the first 8 merge
    rules learned from the corpus — exact integer pair counts over the
    distinct-word grain, deterministic lexicographic tie-breaks, merges
    applied by literal replace. Vocabulary-grain rounds with 1-row merge
    collects (see llm/bpe.py for the cache-handoff design); the oracle
    re-derives every round's argmax inside DuckDB."""
    from flink_1_12_2_spark.llm.bpe import bpe_train

    return bpe_train(load(spark, sf_dir, "documents"), "text", rounds=8)


@query(
    "pipeline_tokenize_pack",
    oracle=(lambda: (
        "WITH "
        + ",\n    ".join(_bpe_oracle_parts(8))
        + f""",
    rules AS (SELECT {", ".join(
        f"(SELECT lhs FROM b{i}) AS l{i + 1}, "
        f"(SELECT rhs FROM b{i}) AS r{i + 1}"
        for i in range(8))}),
    d AS (
      SELECT source, doc_id,
             len(flatten(list_transform(toks, w ->
               list_filter(string_split(trim({_bpe_chain_sql(8)}), ' '),
                           x -> x <> '')))) AS n_toks
      FROM (SELECT source, doc_id, {_TOKS} AS toks FROM documents), rules),
    s AS (
      SELECT *, SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id)
                  - n_toks AS strt
      FROM d WHERE n_toks > 0),
    b AS (
      SELECT source, doc_id, n_toks, strt,
             UNNEST(generate_series(CAST(strt // 512 AS BIGINT),
                                    CAST((strt + n_toks - 1) // 512
                                         AS BIGINT))) AS bin_id
      FROM s),
    per AS (
      SELECT source, bin_id, doc_id,
             LEAST((bin_id + 1) * 512, strt + n_toks)
               - GREATEST(bin_id * 512, strt) AS tib
      FROM b)
    SELECT source, bin_id, COUNT(*) AS n_docs, SUM(tib) AS bin_tokens
    FROM per GROUP BY 1, 2 ORDER BY source, bin_id"""))(),
    tags=("llm", "tokenizer", "packing", "pipeline"),
)
def pipeline_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenize-then-pack composite — the two halves of a real
    pretraining data job chained: BPE merges train on the corpus (bounded
    collect), every document encodes through the codegen replace chain,
    and the resulting TRUE token counts (subwords + </w> markers, not
    whitespace words) drive GPT-style concat-then-chunk packing into
    512-token windows per source shard. Exact integers end to end; the
    oracle re-derives the merges, the encoded counts, AND the window
    intersections inside DuckDB."""
    from flink_1_12_2_spark.llm.bpe import bpe_encode, bpe_train

    d = load(spark, sf_dir, "documents")
    rules = bpe_train(d, "text", rounds=8).collect()  # bounded: 8 rows
    merges = [(r["lhs"], r["rhs"]) for r in rules]
    counts = bpe_encode(d, merges, carry_cols=("source",)).select(
        "source", "doc_id", F.col("n_tokens").alias("n_toks")
    )
    per = T.pack_concat_chunks(counts, ctx=512, precounted=True)
    return (
        per.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks_in_bin").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


@query(
    "text_chunk_dedup",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    chunks AS (
      SELECT doc_id, CAST(u.g AS INT) AS pos,
             array_to_string(w[(g*4+1):(g*4+4)], ' ') AS chunk
      FROM t, UNNEST(range((len(w) + 3) // 4)) AS u(g)),
    first AS (
      SELECT chunk, MIN(ROW(doc_id, pos)) AS f FROM chunks GROUP BY chunk),
    kept AS (
      SELECT c.doc_id, c.pos, c.chunk
      FROM chunks c JOIN first ON first.chunk = c.chunk
      WHERE ROW(c.doc_id, c.pos) = first.f),
    totals AS (
      SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id)
    SELECT k.doc_id, t2.n_chunks, COUNT(*) AS n_kept,
           string_agg(k.chunk, ' ' ORDER BY k.pos) AS new_text
    FROM kept k JOIN totals t2 ON t2.doc_id = k.doc_id
    GROUP BY k.doc_id, t2.n_chunks
    ORDER BY k.doc_id
    """,
    # headline: the explode→min-agg→join-back→ordered-reassembly shape is
    # new this round; a regression in it should be bench-visible
    tags=("llm", "text", "dedup", "ccnet", "headline"),
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet corpus-level paragraph dedup (Wenzek et al. 2020): every
    4-word chunk keeps only its FIRST corpus-wide occurrence (min
    (doc_id, pos)); documents reassemble from surviving chunks in
    original order. ~11% of this corpus's chunk occurrences are
    cross-document duplicates, so the drop path is demonstrably
    exercised. Exact integer counts + reassembled STRING text — the
    order-preserving reassembly (sort_array over collected (pos, chunk)
    structs, no window) is the part worth gating. See
    :func:`flink_1_12_2_spark.llm.text.cross_doc_chunk_dedup`."""
    d = load(spark, sf_dir, "documents")
    # persist below the global sort: the range exchange's sampling pass
    # otherwise re-executes the whole narrow dedup segment (r13 interleaved
    # A/B: 1.19 -> 0.98 s; the sampler fills this small per-doc cache and
    # the shuffle pass reads it)
    return T.cross_doc_chunk_dedup(d, chunk_words=4).persist().orderBy("doc_id")
