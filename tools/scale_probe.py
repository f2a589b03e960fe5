"""Empirical linearity probe: replicate the documents table N× with a
copy-salted vocabulary and compare query wall-times against the base SF.

The salt (every word suffixed ``_{copy}`` for copies ≥ 1) makes content
growth honest: no cross-copy near-duplicates, so candidate structure
replicates per copy and a linear algorithm should scale ≈ N× (minus
fixed overhead), while an accidental all-pairs or cache-race pathology
shows up as a superlinear ratio. See SCALE.md "Round-10: the 10× scaling
experiment" and its dated correction.

Each query runs in its OWN subprocess/JVM: long-lived local sessions
degrade order-dependently under the scaled corpus' allocation pattern
(G1 humongous-allocation churn — the same pathology behind the one 212 s
outlier in the original experiment), so in-session sequencing would
measure JVM history, not the operator.

Usage: python tools/scale_probe.py [base_sf_dir] [copies] [query ...]
Defaults: /root/testdata/sf0.1, 10 copies, the four near-dup headliners
plus the two Python-NFA rows (events scale by per-copy key shifts).
Prints one line per query: base seconds, scaled seconds, ratio. The
timed region is fn() + write on cold caches — the production path: the
work of any action a query runs inside fn() (ngram's plan-pruning probe,
exact-substring's result fill, the streaming rows) is timed with it.
Absolute seconds are NOT bench-comparable; only the base/scaled RATIO
is the signal. Exit 1 if any ratio is clearly superlinear (> 2 × copies).

Every JVM takes the engine's host-derived defaults: master
``local[$SPARK_GRAFT_CPUS]`` (else the CPUs this process may run on) and
``session._default_driver_memory`` as the driver heap (half of physical
RAM, at most 6g), so the scaled runs fit the host they run on.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

DEFAULT_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_chunk_dedup",
    "dedup_exact_substring",
    # r11 (r10 verdict item 5): the Python NFA hot paths — events scale
    # by key replication, so these prove the keyed NFA + Catalyst
    # pre-gate stay linear when total match count grows 10x
    "stream_cep_overlap_threshold",
    "match_recognize_agg_measures",
]

LINK_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "embeddings",
]


_CHILD = """
import sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master({master!r})
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.driver.memory", {heap!r})
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as m
fn = m.queries()[{name!r}]
# warm codegen/JIT at base scale; noop sink like bench.py — a collect()
# would time py4j row shipping (tens of MB for reassembly queries, high
# variance), not the engine
fn(spark, {base!r}).write.format("noop").mode("overwrite").save()
out = []
for sf in ({base!r}, {scaled!r}):
    # timed region = fn() + write, cold caches: the operator's PRODUCTION
    # path, including any action fn() itself runs
    spark.catalog.clearCache()
    t0 = time.time()
    df = fn(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    n = df.count()
    out.append((dt, n))
print("RESULT", out[0][0], out[1][0], out[0][1], out[1][1])
"""


def _host_conf() -> tuple[str, str]:
    """(master, driver heap) from the engine's host-derived defaults."""
    from flink_1_12_2_spark.session import (
        _default_driver_memory,
        _mem_total_bytes,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]", _default_driver_memory(_mem_total_bytes())


def build_scaled_dir(base: str, copies: int) -> str:
    # _v2: the original salt lambda took (element, index) — PySpark's
    # binary transform form — so the "copy" suffix was the stringified
    # array-index Column, identical for every copy, and copies 1..N-1
    # were exact duplicates of each other (r10 ADVICE). The v2 suffix in
    # the cache-dir name forces regeneration of any stale corpus.
    out_dir = os.path.join(
        tempfile.gettempdir(), f"scale_probe_v2_{copies}x_{Path(base).name}"
    )
    docs_path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(docs_path):
        return out_dir

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    master, heap = _host_conf()
    spark = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", heap)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    d = spark.read.parquet(os.path.join(base, "documents.parquet"))
    parts = []
    for c in range(copies):
        p = d.withColumn("doc_id", F.col("doc_id") + F.lit(c * 10_000_000))
        if c:
            # one-arg lambda only: a second parameter would select
            # F.transform's (element, index) binary form and bind the
            # array-index Column instead of the copy number. transform()
            # evaluates the lambda eagerly, so the loop-scoped `suf`
            # closure is captured correctly per copy.
            suf = F.lit(f"_{c}")
            p = p.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(w, suf),
                    ),
                    " ",
                ),
            )
        parts.append(p)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # many splits: the scaled dir must look like a real corpus, which
    # arrives as many files (llm/dedup.is_multisplit reads True)
    u.repartition(32).write.mode("overwrite").parquet(docs_path)

    # events scale the same way for the CEP/MATCH_RECOGNIZE probes (r10
    # verdict item 5): keys shift per copy so every keyed NFA state
    # machine replicates with identical per-key match structure —
    # timestamps unchanged, match density per key constant, total keys
    # ×N. A keyed-linear NFA then scales ≈ N×; cross-key leakage or a
    # pre-gate that stops pruning shows up superlinear.
    from flink_1_12_2_spark.registry import load as _load

    ev = _load(spark, base, "events")
    ev_parts = []
    for c in range(copies):
        ev_parts.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(c * 100_000_000))
            .withColumn("user_id", F.col("user_id") + F.lit(c * 10_000_000))
        )
    ue = ev_parts[0]
    for p in ev_parts[1:]:
        ue = ue.unionByName(p)
    ue.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )
    for t in LINK_TABLES:
        src = os.path.join(base, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)
    spark.stop()
    return out_dir


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    names = sys.argv[3:] or DEFAULT_QUERIES
    scaled = build_scaled_dir(base, copies)

    master, heap = _host_conf()
    worst = 0.0
    for name in names:
        child = _CHILD.format(
            repo=_REPO, name=name, base=base, scaled=scaled,
            master=master, heap=heap,
        )
        r = subprocess.run(
            [sys.executable, "-c", child],
            capture_output=True,
            text=True,
            timeout=1200,
        )
        line = next(
            (l for l in r.stdout.splitlines() if l.startswith("RESULT")), None
        )
        if line is None:
            print(f"{name}: FAILED\n{r.stdout[-500:]}\n{r.stderr[-500:]}")
            return 1
        tb, ts, nb, ns = line.split()[1:]
        tb, ts = float(tb), float(ts)
        ratio = ts / max(tb, 1e-9)
        worst = max(worst, ratio)
        print(
            f"{name}: base={tb:.2f}s ({nb} rows) scaled({copies}x)="
            f"{ts:.2f}s ({ns} rows) ratio={ratio:.1f}x"
        )
    # a linear op at N x data on fixed cores may legitimately reach ~N x
    # wall; flag only clearly superlinear behavior
    limit = copies * 2
    print(f"worst ratio {worst:.1f}x (superlinear flag at >{limit}x)")
    return 1 if worst > limit else 0


if __name__ == "__main__":
    raise SystemExit(main())
