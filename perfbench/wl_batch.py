"""``batch_mix``: one client in a closed loop over the engine's batch paths.

Each cycle runs eleven operations in a seed-shuffled order: the eight
Flink-dialect statements of ``sqlmix.STATEMENTS`` through
``EngineSession.sql`` over the sf0.1 corpus, and the three registered
near-dup pipelines (MinHash-LSH, 3-gram Jaccard, cross-document chunk dedup)
over the corpus's first ``N_DOCS`` documents. The next operation starts when
the previous result is collected, and cached intermediates are dropped
between operations. Results are kept and checked against DuckDB after the
timed loop.

The traced run alternates plain and traced operations. A traced statement
times the rewriter, ``EngineSession.sql`` and the terminal action apart; a
traced pipeline runs the composition its registry builder uses one stage at a
time and materializes each stage boundary inside that stage's span.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import refs
import sparkenv
import sqlmix
from common import min_samples, reported_percentile

PIPELINES = ("dedup_minhash_lsh", "dedup_ngram_jaccard", "text_chunk_dedup")
# The first 500 of the corpus's 5,000 documents: the three pipelines take
# ~14 s over all 5,000 on 4 cores, and a run must fit two cycles of the mix
# (the operations a median needs) next to the JVM start and warm-up cycle.
N_DOCS = 500
# The warm-up cycle runs the pipelines over the first WARM_DOCS documents:
# code generation and JIT do not depend on the data size, and a full-size
# warm-up doubled the set-up time.
WARM_DOCS = 50
# Whole cycles run until the median rests on enough samples for the
# percentile rule, even when --seconds has passed.
MIN_OPS = min_samples(0.5)
DEDUP_STAGES = (
    "llm.dedup.shingle_sets", "llm.dedup.minhash_signatures_from_sets",
    "llm.dedup.lsh_candidate_pairs", "llm.dedup.jaccard_verify",
    "llm.dedup.ngram_jaccard_pairs", "llm.text.cross_doc_chunk_dedup",
)


def prepare(ctx) -> dict:
    """Write the document subset and compute every reference answer; runs
    before the JVM starts, so neither counts as set-up."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(ctx.corpus, "documents.parquet"))
    for d, n in ((ctx.data, N_DOCS), (_warm_dir(ctx), WARM_DOCS)):
        os.makedirs(d)
        pq.write_table(docs.filter(pc.less(docs["doc_id"], n)),
                       os.path.join(d, "documents.parquet"))
    want = sqlmix.oracles(ctx.corpus)
    want.update(refs.dedup_references(ctx.data))
    return want


def _warm_dir(ctx) -> str:
    return os.path.join(ctx.work, "warm")


def setup(ctx) -> dict:
    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules
    from flink_1_12_2_spark.session import EngineSession, TableMeta

    load_all_query_modules()
    spark = sparkenv.start(ctx.work, ctx.cores)
    es = EngineSession(spark)
    for t in sqlmix.TABLES:
        es.register_table(
            t, TableMeta(path=os.path.join(ctx.corpus, f"{t}.parquet")))
    return {"spark": spark, "es": es,
            "pipelines": {p: QUERIES[p].fn for p in PIPELINES}}


def _staged(tr, spark, data: str, name: str) -> list[tuple]:
    """Pipeline ``name`` stage by stage, each stage materialized inside its
    span; returns the rows the registered pipeline returns."""
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.llm import dedup as D
    from flink_1_12_2_spark.llm import text as T
    from flink_1_12_2_spark.queries.llm_dedup import JACCARD_T
    from flink_1_12_2_spark.registry import load

    d = load(spark, data, "documents")
    if name == "dedup_minhash_lsh":
        with tr.span("llm.dedup.shingle_sets"):
            sets_ = D.shingle_sets(d, "doc_id", "text").persist()
            sets_.count()
        with tr.span("llm.dedup.minhash_signatures_from_sets"):
            sigs = D.minhash_signatures_from_sets(sets_, "doc_id").persist()
            sigs.count()
        with tr.span("llm.dedup.lsh_candidate_pairs"):
            cand = D.lsh_candidate_pairs(
                sigs, "doc_id", eager=D.is_multisplit(d)).persist()
            n_cand = cand.count()
        with tr.span("llm.dedup.jaccard_verify"):
            rows = D.jaccard_verify(
                cand, d, "doc_id", "text", sets_df=sets_
            ).filter(F.col("jaccard") >= JACCARD_T).select(
                "id_1", "id_2", F.round("jaccard", 6).alias("jaccard")
            ).collect()
        tr.count("llm.dedup.candidate_pairs", n_cand)
        tr.count("llm.dedup.verified_pairs", len(rows))
        tr.count("llm.dedup.minhash_runs")
    elif name == "dedup_ngram_jaccard":
        with tr.span("llm.dedup.ngram_jaccard_pairs"):
            rows = D.ngram_jaccard_pairs(
                d, "doc_id", "text", n=3, threshold=JACCARD_T
            ).select("id_1", "id_2",
                     F.round("jaccard", 6).alias("jaccard")).collect()
    else:
        with tr.span("llm.text.cross_doc_chunk_dedup"):
            rows = T.cross_doc_chunk_dedup(d, chunk_words=4).collect()
    return [tuple(r) for r in rows]


def run(ctx, env) -> dict:
    spark, es, pipelines = env["spark"], env["es"], env["pipelines"]
    want = env["want"]
    sc = spark.sparkContext
    tr = ctx.tracer
    rng = random.Random(ctx.seed)
    names = [*sqlmix.STATEMENTS, *PIPELINES]
    import flink_1_12_2_spark.sql.rewriter as rw

    plain_rewrite = rw.rewrite
    traced_rewrite = tr.wrap("sql.rewriter.rewrite", plain_rewrite)

    lat: dict[str, list[float]] = {n: [] for n in names}
    traced_lat: dict[str, list[float]] = {n: [] for n in names}
    got: list[tuple[str, list[tuple]]] = []
    plain_groups: set[str] = set()
    failed = attempted = 0

    def one(name: str, op_id: str, traced: bool,
            data: str = ctx.data) -> tuple[float, list]:
        spark.catalog.clearCache()
        sc.setJobGroup(op_id, name)
        t0 = time.perf_counter()
        if name in pipelines:
            if traced:
                with tr.span("op", stmt=name, op=op_id):
                    rows = _staged(tr, spark, data, name)
            else:
                rows = pipelines[name](spark, data).collect()
            return time.perf_counter() - t0, rows
        q = sqlmix.STATEMENTS[name][0]
        if not traced:
            rows = es.sql(q).collect()
            return time.perf_counter() - t0, rows
        rw.rewrite = traced_rewrite
        try:
            with tr.span("op", stmt=name, op=op_id):
                with tr.span("session.sql"):
                    df = es.sql(q)
                with tr.span("sql.execute"):
                    rows = df.collect()
        finally:
            rw.rewrite = plain_rewrite
        return time.perf_counter() - t0, rows

    # warm-up cycle: part of set-up, excluded from the statistics
    warm = {}
    for i, n in enumerate(names):
        warm[n] = one(n, f"warm{i}", False, _warm_dir(ctx))[0]
    ctx.setup_done()

    t_start = time.perf_counter()
    cycle = 0
    while (len(got) < MIN_OPS
           or time.perf_counter() - t_start < ctx.seconds):
        order = names[:]
        rng.shuffle(order)
        for j, n in enumerate(order):
            op_id = f"c{cycle}s{j}"
            # each operation alternates: plain, traced, plain, ...
            traced = ctx.trace and len(lat[n]) > len(traced_lat[n])
            attempted += 1
            try:
                dt, rows = one(n, op_id, traced)
            except Exception as e:  # a failed operation is counted, not fatal
                failed += 1
                ctx.log(f"{n} failed: {e!r}")
                continue
            got.append((n, [tuple(r) for r in rows]))
            (traced_lat if traced else lat)[n].append(dt)
            if not traced:
                plain_groups.add(op_id)
        cycle += 1
    elapsed = time.perf_counter() - t_start

    # correctness, after timing: every execution against its reference
    bad = [n for n, rows in got if not sqlmix.same_rows(rows, want[n])]
    failed += len(bad)
    wrong = sorted(set(bad))
    samples = [v for n in names for v in lat[n] + traced_lat[n]]
    rss = sparkenv.peak_rss_mb()
    p50 = reported_percentile(samples, 0.5)
    e2e = {"ops_per_s": len(got) / elapsed}
    layer = {}
    if ctx.trace:
        layer = _layers(ctx, spark, lat, traced_lat, plain_groups)
        layer["mem.peak_rss_mb"] = sum(rss.values())
        layer["batch.latency_p50_s"] = p50
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": not wrong and failed == 0,
        "e2e": e2e,
        "layer": layer,
        "telemetry": {
            "latency_p50_s": p50, "rss_mb": rss, "ops": len(got), "cycles": cycle, "measure_s": elapsed,
            "warmup_s": warm, "wrong": wrong,
            "op_p50_s": {n: statistics.median(v + traced_lat[n])
                         for n, v in lat.items() if v + traced_lat[n]},
        },
    }


def _layers(ctx, spark, lat, traced_lat, plain_groups) -> dict:
    tr = ctx.tracer

    def med(name):
        v = [s.end - s.start for s in tr.spans if s.name == name]
        return statistics.median(v) if v else 0.0

    layer = {
        "sql.rewriter.rewrite_s": med("sql.rewriter.rewrite"),
        "session.sql_s": med("session.sql"),
        "sql.execute_s": med("sql.execute"),
    }
    for n in sqlmix.STATEMENTS:
        v = lat[n] + traced_lat[n]
        layer[f"sql.stmt.{n}_s"] = statistics.median(v) if v else 0.0
    for name in DEDUP_STAGES:
        layer[name + "_s"] = med(name)
    runs = tr.counts.get("llm.dedup.minhash_runs", 0)
    cand = tr.counts.get("llm.dedup.candidate_pairs", 0) / max(runs, 1)
    ver = tr.counts.get("llm.dedup.verified_pairs", 0) / max(runs, 1)
    layer["llm.dedup.candidate_pairs"] = cand
    layer["llm.dedup.verified_pairs"] = ver
    layer["llm.dedup.candidate_yield"] = ver / cand if cand else 0.0
    # Spark's own numbers come from the plain operations, so the traced
    # pipelines' extra stage materializations do not count
    tot = sparkenv.StageMetrics(spark).totals(plain_groups)
    layer.update({k: v / max(len(plain_groups), 1) for k, v in tot.items()})
    # overhead: summed per-statement medians, traced against plain, over the
    # statements that ran both ways. Pipelines are left out: a traced pipeline
    # runs its stages one at a time, which is other work than the plain run.
    both = [n for n in sqlmix.STATEMENTS if lat[n] and traced_lat[n]]
    plain = sum(statistics.median(lat[n]) for n in both)
    traced = sum(statistics.median(traced_lat[n]) for n in both)
    layer["tracing_overhead_pct"] = 100.0 * (traced / plain - 1) if plain else 0.0
    return layer
