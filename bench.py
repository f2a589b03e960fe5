"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed as the MIN OF THREE full executions (noop sink;
$SPARK_GRAFT_BENCH_ATTEMPTS overrides), with the
cache cleared between attempts so run 2 re-does real work instead of reading
run 1's persisted intermediates. The first attempt absorbs JIT/codegen
warm-up for that query's operator mix; min-of-2 also shrugs off transient
machine contention (the r2 bench recorded 2.7-3.0x "regressions" in
unchanged code purely from warm-up landing inside the first timed slots).
Headline set = the flagship relational queries + the heaviest LLM-pipeline
operators, which is what a 100 TB deployment would actually run.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

HEADLINE = [
    "q1_pricing_summary",
    "join_star_broadcast",
    "join_fact_fact_smj",
    "agg_rollup",
    "topn_per_group",
    "over_running_sum",
    "window_tumble",
    "interval_join",
    "asof_join_event_time",
    "sort_limit",
    "text_token_stats",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
]

# Stateful / CEP headliners — the engine's only non-JVM hot paths (Python
# NFA, applyInPandasWithState). These execute their work inside fn() (real
# Structured Streaming runs materialize there), so the timed region wraps
# fn() + write instead of write alone. Tracked so an NFA or state-codec
# regression shows up in BENCH_r*.json instead of shipping invisibly.
STATEFUL_HEADLINE = [
    "stream_cep_overlap_threshold",  # SS micro-batches -> keyed Python NFA
    "stream_topn",                   # applyInPandasWithState bounded heap
    "match_recognize_agg_measures",  # batch NFA + measures join-back
]

# r6 LLM-pipeline headliners: the hashed-LM importance weights (two
# map-combinable shuffles + broadcast stats) and the BPE trainer
# (8 unrolled vocabulary-grain rounds); r8 adds the scan-stage tokenizer
# APPLICATION (train + whole-stage-codegen replace-chain encode) and the
# CCNet-style perplexity filter (broadcast lp table, exact bigint sums) —
# new-shape plans whose regressions should be bench-visible.
LLM_HEADLINE = [
    "sample_dsir_weights",
    "bpe_train_merges",
    "bpe_encode_docs",
    "text_perplexity_filter",
]

# Queries whose work executes inside fn() (streaming materialization,
# BPE's per-round 1-row merge collects, or ngram dedup's hot-shingle
# plan-pruning probe, which fills the posting cache as a side effect —
# r13: timing write-only would let that fill escape the measured region
# at single-split SFs) — the timed region must wrap fn() + write, not
# write alone.
TIMED_INSIDE_FN = set(STATEFUL_HEADLINE) | {
    "bpe_train_merges",
    "dedup_ngram_jaccard",
}

def _bpe_encode_fixture(spark, sf_dir):
    """Pre-trained-merges fixture (r8 verdict item: the bpe_encode_docs
    slot conflated ~3.8 s of training with the encode, masking encode
    regressions behind training variance). Trains the 8 merge rules ONCE,
    outside every timed region, and returns a builder that times the
    encode replace-chain alone — the slot bpe_train_merges already times
    training."""
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.llm.bpe import bpe_encode, bpe_train
    from flink_1_12_2_spark.registry import load

    rules = bpe_train(
        load(spark, sf_dir, "documents"), "text", rounds=8
    ).collect()
    merges = [(r["lhs"], r["rhs"]) for r in rules]

    def encode_only(spark, sf_dir):
        enc = bpe_encode(
            load(spark, sf_dir, "documents"), merges, carry_cols=("lang",)
        )
        return (
            enc.withColumn("tokens_head", F.slice(F.col("tokens"), 1, 32))
            .select("doc_id", "lang", "n_words", "n_tokens", "tokens_head")
            .orderBy("doc_id")
            .limit(100)
        )

    return encode_only


def _read_proc_stat():
    """(busy_jiffies, steal_jiffies, total_jiffies) from /proc/stat's
    aggregate cpu line; None if unreadable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        total = sum(vals)
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        steal = vals[7] if len(vals) > 7 else 0
        return total - idle, steal, total
    except (OSError, ValueError, IndexError):
        return None


def _env_snapshot():
    """Machine-contention telemetry (r8 verdict: the r7→r8 uniform 1.55x
    core drift on untouched code was environmental; capture enough here
    that the next round can tell contention from regression)."""
    snap = {}
    try:
        la1, la5, la15 = os.getloadavg()
        snap["loadavg"] = [round(la1, 2), round(la5, 2), round(la15, 2)]
    except OSError:
        pass
    snap["ncpu"] = os.cpu_count()
    return snap


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules
    from flink_1_12_2_spark.session import get_spark

    load_all_query_modules()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # shuffle partitions sized to the core count — Spark's default of 200
    # just makes tiny tasks at bench scale; AQE coalesces further at runtime
    spark = get_spark(app_name="bench", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in QUERIES]
    # extend with any registered query tagged "headline"
    names += [
        n for n, s in QUERIES.items() if "headline" in s.tags and n not in names
    ]
    names += [n for n in STATEFUL_HEADLINE if n in QUERIES and n not in names]
    names += [n for n in LLM_HEADLINE if n in QUERIES and n not in names]

    # warm-up: pay JVM/codegen/scan-listing startup cost outside the timings
    from flink_1_12_2_spark.registry import load

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        load(spark, sf_dir, t).count()

    env_start = _env_snapshot()
    stat0 = _read_proc_stat()

    timings: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name].fn
        if name == "bpe_encode_docs":
            fn = _bpe_encode_fixture(spark, sf_dir)  # train outside timings
        stateful = name in TIMED_INSIDE_FN
        best: float | None = None
        # min-of-3 by default (r11): the r10/r11 telemetry shows bursty
        # hypervisor steal inflating individual attempts 2x+; a third
        # attempt materially improves the odds that one lands in a quiet
        # window, and min-of-N semantics keep rounds comparable
        for _attempt in range(
            int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3"))
        ):
            # drop persisted intermediates: Spark's cache manager matches by
            # analyzed-plan equality, so attempt 2 would otherwise read
            # attempt 1's cache and measure nothing
            spark.catalog.clearCache()
            if stateful:
                # streaming queries do their work inside fn() (run_to_memory
                # materializes the micro-batches) — time the whole thing
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            else:
                df = fn(spark, sf_dir)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    # continuity across rounds: the pre-r6 headline set's subtotal, so the
    # r1-r5 baseline comparison stays like-for-like after the stateful
    # queries joined the bench
    core = round(sum(timings.get(n, 0.0) for n in HEADLINE), 3)

    env = {"start": env_start, "end": _env_snapshot()}
    stat1 = _read_proc_stat()
    if stat0 and stat1 and stat1[2] > stat0[2]:
        dtotal = stat1[2] - stat0[2]
        env["cpu_busy_pct"] = round(100.0 * (stat1[0] - stat0[0]) / dtotal, 1)
        env["cpu_steal_pct"] = round(100.0 * (stat1[1] - stat0[1]) / dtotal, 2)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "core_sec": core,
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "env": env,
            }
        )
    )


if __name__ == "__main__":
    main()
