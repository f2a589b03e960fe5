"""Structured-Streaming core: watermarked stream scans and a run-to-memory
harness for verifying streaming operators against batch oracles.

Flink parity: the stream side of every SURVEY §2 operator — scans
(StreamExecTableSourceScan), watermark assignment
(WatermarkAssignerOperator.java:41), windowed aggregation
(WindowOperator.java:93), stream-stream joins. Spark's micro-batch engine
replaces Flink's per-record pipeline; `Trigger.AvailableNow` bounds a run for
deterministic verification (the driver's oracle is batch SQL over the same
rows, which is exactly Flink's stream⇄table duality argument).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ltz_to_ntz_utc(col) -> F.Column:
    """TIMESTAMP (LTZ) → TIMESTAMP_NTZ holding the UTC wall clock, independent
    of the session timezone (for oracle-comparable output columns)."""
    c = F.col(col) if isinstance(col, str) else col
    epoch_ntz = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_add("MICROSECOND", F.unix_micros(c), epoch_ntz)


# (path, mtime_ns, size, newest part-file mtime_ns) -> StructType. Schema
# inference for the stream scan is a driver-side batch read (listing +
# parquet footer) re-paid on EVERY streaming-query build — ~0.1-0.2 s of
# each stateful bench row's fixed cost (its query-build segment). The
# schema is plan METADATA derived from the file identity, not query
# results, and the key invalidates it whenever the file changes. A part
# file rewritten in place leaves its directory's mtime and size alone, so
# the key also holds the newest part-file mtime.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _static_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
        newest = 0
        if os.path.isdir(path):
            with os.scandir(path) as it:
                newest = max((e.stat().st_mtime_ns for e in it), default=0)
        key = (path, st.st_mtime_ns, st.st_size, newest)
    except OSError:
        key = None
    if key is not None and key in _SCHEMA_CACHE:
        return _SCHEMA_CACHE[key]
    schema = spark.read.parquet(path).schema
    if key is not None:
        _SCHEMA_CACHE[key] = schema
    return schema


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Read the events table as a file-source stream with event-time watermark.

    The nanos→micros conversion mirrors ``registry.load`` (parquet
    TIMESTAMP(NANOS) is unrepresentable in Spark). ``ts`` is TIMESTAMP (LTZ,
    the instant at the stored micros — watermarks require LTZ); ``ts_us`` is
    the timezone-independent microsecond value for stateful pandas operators.
    """
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _static_schema(spark, path)
    if os.path.isdir(path):
        # engine-written table: a parquet DIRECTORY — stream it directly
        # (a name glob on sf_dir would filter out its part-files and
        # silently read nothing; found by the r11 10x events probe)
        sdf = spark.readStream.schema(schema).parquet(path)
    else:
        # driver-generated single file: the file stream source requires a
        # directory, so stream sf_dir with a glob selecting just this file
        sdf = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts_us", F.expr("ts div 1000"))
    else:
        # NTZ micros: session tz is UTC so NTZ→LTZ keeps the wall clock
        sdf = sdf.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    # watermarks require TIMESTAMP (LTZ) — rebuild ts from the micros value
    sdf = sdf.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    if watermark:
        sdf = sdf.withWatermark("ts", watermark)
    return sdf


def set_idleness_policy(spark: SparkSession, policy: str = "max") -> None:
    """Flink ``WatermarkStrategy.withIdleness`` analogue
    (flink-core .../eventtime/WatermarkStrategy.java:133).

    Flink marks a stalled source idle so it stops holding back the combined
    watermark (which is otherwise the MIN across inputs). Spark's knob is
    query-global rather than per-source: with
    ``spark.sql.streaming.multipleWatermarkPolicy=max`` the combined
    watermark follows the fastest input, so an idle (empty) source cannot
    stall event-time progress — the same unblocking effect, at coarser
    granularity (a genuinely *late* slow source is also overridden, which
    Flink's per-source idleness would not do; documented trade).
    ``policy="min"`` restores the default strict behavior."""
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)


# Far-future event time used by sentinel flush batches (2030-01-01 UTC, µs).
SENTINEL_TS_US = 1_893_456_000_000_000


def _tag_ntile_chunks(
    static: DataFrame, n_files: int
) -> tuple[DataFrame, DataFrame]:
    """Tag each row with its ntile(n_files)-equivalent chunk (0-based) over
    the global (ts_us, event_id) order — WITHOUT a global window.

    Plan: ``repartitionByRange`` on the sort key gives non-overlapping
    ascending ranges per partition id; a per-partition row_number (parallel —
    every window has a partition key) plus broadcast cumulative offsets
    yields the exact global rank; the chunk index applies SQL ntile's
    bucket-size rule (N = q·n + r → first r buckets get q+1 rows). Returns
    the tagged frame PERSISTED (the offsets job and the chunk writes must
    see identical range partitions — range sampling is not re-run)."""
    from pyspark.sql import Window as _W

    n_parts = max(static.sparkSession.sparkContext.defaultParallelism, n_files)
    ranged = static.repartitionByRange(n_parts, "ts_us", "event_id").withColumn(
        "__pid", F.spark_partition_id()
    )
    local = ranged.withColumn(
        "__lrn",
        F.row_number().over(
            _W.partitionBy("__pid").orderBy("ts_us", "event_id")
        ),
    ).persist()
    # tiny: one row per partition
    counts = dict(
        (r["__pid"], r["c"])
        for r in local.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    # NOTE: `local` stays persisted while the caller writes the chunks (the
    # range sampling must not re-run between the offsets job and the
    # writes); the caller unpersists the returned base handle
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    total = acc
    off_expr = F.lit(0)
    for pid, off in offsets.items():
        off_expr = F.when(F.col("__pid") == pid, F.lit(off)).otherwise(off_expr)
    q, r = divmod(total, n_files)
    rank = (off_expr + F.col("__lrn") - 1).alias("__rank")  # 0-based
    big = r * (q + 1)  # rows in the first r (larger) buckets
    if q > 0:
        chunk = F.when(
            F.col("__rank") < big, F.floor(F.col("__rank") / (q + 1))
        ).otherwise(r + F.floor((F.col("__rank") - big) / q))
    else:  # fewer rows than chunks: one row per leading chunk
        chunk = F.col("__rank")
    out = (
        local.withColumn("__rank", rank)
        .withColumn("__file", chunk.cast("int"))
        .drop("__pid", "__lrn")
    )
    return out, local  # (tagged frame, persisted base to unpersist)


def stream_events_multibatch(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    watermark: str | None = "10 minutes",
    flush_sentinels: bool = False,
) -> DataFrame:
    """Events as a MULTI-micro-batch stream: the table is split into
    ``n_files`` time-ordered parquet files in a temp dir and streamed with
    ``maxFilesPerTrigger=1`` — so stateful operators genuinely carry state
    across micro-batches (the single-file source yields one batch, which
    can't distinguish per-batch from cross-batch correctness).

    ``flush_sentinels=True`` appends two trailing files holding one
    far-future row per user (``event_id = -1``, filtered out by operators):
    the first raises the watermark past every real row, the second delivers a
    batch to every key under that watermark — the bounded-input analogue of
    Flink emitting ``MAX_WATERMARK`` at end of input so event-time timers
    flush (StreamSourceContexts / Watermark.MAX_WATERMARK semantics).
    """
    import glob
    import hashlib as _hl

    from pyspark.sql import functions as F2

    # materialize the static table with ts converted, split in time order
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    raw_ts_type = dict(static.dtypes).get("ts", "?")
    if raw_ts_type == "bigint":
        static = static.withColumn("ts_us", F2.expr("ts div 1000"))
    else:
        static = static.withColumn(
            "ts_us", F2.unix_micros(F2.col("ts").cast("timestamp"))
        )
    # watermarks require TIMESTAMP (LTZ) — rebuild ts from the micros value
    static = static.withColumn("ts", F2.timestamp_micros(F2.col("ts_us")))
    key = _hl.md5(
        f"{sf_dir}|{n_files}|{flush_sentinels}|{raw_ts_type}|v3".encode()
    ).hexdigest()[:8]
    split_dir = os.path.join(tempfile.gettempdir(), f"events_split_{key}_{n_files}")
    if not glob.glob(os.path.join(split_dir, "part_*")):
        os.makedirs(split_dir, exist_ok=True)
        # executor-PARALLEL ordered split (the r3 flag: an unpartitioned
        # ntile window funneled every row through one task). Exact global
        # ranks without a global window: range-repartition on the sort key,
        # rank locally per partition (parallel windows), then add the
        # broadcast per-partition offsets — the classic scalable global-rank
        # pattern. The chunk assignment replicates ntile()'s equal-size
        # buckets EXACTLY (big buckets first), so per-batch state tests keep
        # their pinned chunk contents.
        tagged, split_base = _tag_ntile_chunks(static, n_files)
        # one write per chunk, in order: the file stream source triggers
        # files by (modification time, path), so sequential writes keep the
        # micro-batch order aligned with event time. Each chunk's
        # coalesce(1) serializes ONE file from 1/n of the data (a streaming
        # copy, no window state) — the harness needs exactly one file per
        # micro-batch; a production splitter would write chunk DIRECTORIES
        # with per-range parallel files instead.
        for i in range(n_files):
            tagged.filter(F2.col("__file") == i).drop(
                "__file", "__rank"
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(split_dir, f"part_{i}")
            )
        split_base.unpersist()
        if flush_sentinels:
            other = [c for c in static.columns if c not in ("event_id", "ts", "user_id", "ts_us")]
            sent = static.select("user_id").distinct().select(
                F2.lit(-1).alias("event_id"),
                F2.timestamp_micros(F2.lit(SENTINEL_TS_US)).alias("ts"),
                "user_id",
                *[F2.lit(None).cast(dict(static.dtypes)[c]).alias(c) for c in other],
                F2.lit(SENTINEL_TS_US).alias("ts_us"),
            ).select(*static.columns)
            for j in range(2):
                sent.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(split_dir, f"part_{n_files + j}_sentinel")
                )
    sdf = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(split_dir)
    )
    if watermark:
        sdf = sdf.withWatermark("ts", watermark)
    return sdf


def stream_events_interleaved(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 2,
    watermark: str = "30 days",
) -> DataFrame:
    """Events as a DISORDERED multi-batch stream: files split by
    ``event_id % n_files`` — every micro-batch spans the full time range, so
    cross-batch arrival order maximally violates event-time order (the
    adversarial fixture for watermark-buffered operators). Two sentinel
    flush files (far-future rows, ``event_id = -1``) raise the final
    watermark past every real row — Flink's end-of-input MAX_WATERMARK —
    so buffered rows flush. The default 30-day watermark delay keeps every
    real row inside the lateness allowance (nothing is dropped; ordering is
    entirely the operator's job)."""
    import glob
    import hashlib as _hl

    from pyspark.sql import functions as F2

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    raw_ts_type = dict(static.dtypes).get("ts", "?")
    if raw_ts_type == "bigint":
        static = static.withColumn("ts_us", F2.expr("ts div 1000"))
    else:
        static = static.withColumn(
            "ts_us", F2.unix_micros(F2.col("ts").cast("timestamp"))
        )
    static = static.withColumn("ts", F2.timestamp_micros(F2.col("ts_us")))
    key = _hl.md5(
        f"{sf_dir}|interleave|{n_files}|{raw_ts_type}|v1".encode()
    ).hexdigest()[:8]
    split_dir = os.path.join(tempfile.gettempdir(), f"events_ileave_{key}")
    if not glob.glob(os.path.join(split_dir, "part_*")):
        os.makedirs(split_dir, exist_ok=True)
        for i in range(n_files):
            static.filter(F2.col("event_id") % n_files == i).coalesce(
                1
            ).write.mode("overwrite").parquet(
                os.path.join(split_dir, f"part_{i}")
            )
        other = [
            c for c in static.columns if c not in ("event_id", "ts", "user_id", "ts_us")
        ]
        sent = static.select("user_id").distinct().select(
            F2.lit(-1).alias("event_id"),
            F2.timestamp_micros(F2.lit(SENTINEL_TS_US)).alias("ts"),
            "user_id",
            *[F2.lit(None).cast(dict(static.dtypes)[c]).alias(c) for c in other],
            F2.lit(SENTINEL_TS_US).alias("ts_us"),
        ).select(*static.columns)
        for j in range(2):
            sent.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(split_dir, f"part_{n_files + j}_sentinel")
            )
    sdf = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(split_dir)
    )
    return sdf.withWatermark("ts", watermark)


def run_update_batches(
    sdf: DataFrame, timeout_sec: int = 300
) -> DataFrame:
    """Execute an UPDATE-mode streaming aggregate to completion
    (AvailableNow), capturing every per-micro-batch emission tagged with its
    ``__batch_id`` — the harness for early/late-firing semantics
    (EventTimeTriggers.java:36-71 ``afterEndOfWindow().withEarlyFirings``):
    each batch's update rows are Flink's EARLY records for still-open
    windows; a group's LAST emission is the final (watermark-close) firing.

    Uses ``foreachBatch`` appending to a temp parquet dir (the memory sink
    drops batch identity); empty batches append nothing."""
    spark = sdf.sparkSession
    from flink_1_12_2_spark.session import scratch_dir

    out_dir = scratch_dir("ss_updates_")
    ckpt = scratch_dir("ss_ckpt_")

    def fb(bdf: DataFrame, bid: int) -> None:
        bdf.withColumn("__batch_id", F.lit(int(bid))).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        sdf.writeStream.foreachBatch(fb)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    if not finished:
        raise TimeoutError(f"update-mode query did not finish in {timeout_sec}s")
    return spark.read.parquet(out_dir)


def tag_final_firings(
    emissions: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Mark each group's LAST emission ``is_final=true`` (the
    watermark-close firing); earlier rows are the early firings."""
    from pyspark.sql import Window as _W

    w = _W.partitionBy(*group_cols).orderBy(F.col("__batch_id").desc())
    return emissions.withColumn(
        "is_final", F.row_number().over(w) == 1
    )


def run_to_memory(
    sdf: DataFrame, output_mode: str = "append", timeout_sec: int = 300
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink; return the batch DataFrame of results.

    Raises on timeout rather than returning a partially-filled sink — a
    partial table would silently fail the correctness gate downstream.
    """
    from flink_1_12_2_spark.session import scratch_dir

    spark = sdf.sparkSession
    name = "mem_" + uuid.uuid4().hex[:12]
    ckpt = scratch_dir("ss_ckpt_")
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming query {name} did not finish within {timeout_sec}s"
        )
    return spark.table(name)
