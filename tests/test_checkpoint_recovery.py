"""Checkpoint recovery — the engine's analogue of the reference's
checkpoint/savepoint restore contract: a stateful streaming query STOPPED
mid-stream and RESTARTED from the same checkpoint location must resume
exactly where it left off (no double counting, no gaps), and its final
state must equal the one-shot batch result.

Mechanics: a file-source stream over N files processed one file per
trigger; run 1 stops after the first trigger, run 2 starts a NEW query
from the same checkpoint + sink dir and drains the rest (AvailableNow).
The parquet sink makes the output inspectable across the restart (memory
sinks die with their query)."""

import os
import tempfile

import pyspark.sql.functions as F


def _write_source(spark, tmp, n_files=4, rows_per=50):
    src = os.path.join(tmp, "src")
    for i in range(n_files):
        spark.range(i * rows_per, (i + 1) * rows_per).select(
            F.col("id"), (F.col("id") % 7).alias("k")
        ).coalesce(1).write.mode("append").parquet(src)
    return src


def test_streaming_restart_from_checkpoint_is_exactly_once(spark):
    tmp = tempfile.mkdtemp(prefix="ckpt_recovery_")
    src = _write_source(spark, tmp)
    ckpt = os.path.join(tmp, "ckpt")
    out = os.path.join(tmp, "out")
    schema = "id bigint, k bigint"

    def start():
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="50 milliseconds")
            .start()
        )

    # run 1: let at least one micro-batch commit, then hard-stop
    q1 = start()
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        if q1.lastProgress and q1.lastProgress["numInputRows"] > 0:
            break
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination(30)
    n_after_run1 = spark.read.parquet(out).count()
    assert 0 < n_after_run1 <= 200

    # run 2: NEW query object, SAME checkpoint — must resume, not replay
    sdf2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = (
        sdf2.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)

    got = spark.read.parquet(out)
    # exactly-once across the restart: every source row exactly once
    assert got.count() == 200
    assert got.select("id").distinct().count() == 200
    # and the derived aggregate equals the batch ground truth
    batch = (
        spark.read.parquet(src).groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    )
    streamed = got.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_cep_restart_from_checkpoint_is_exactly_once(spark, sf_dir):
    """Keyed CEP stopped after its first micro-batch commits and restarted
    from the same checkpoint: partial matches carried in keyed state resume,
    and the matches equal a one-shot run over the same four batches,
    each exactly once."""
    import time

    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules
    from flink_1_12_2_spark.streaming.cep import Pattern, cep_pattern_matches
    from flink_1_12_2_spark.streaming.core import stream_events_multibatch

    load_all_query_modules()
    one_shot = sorted(
        map(tuple, QUERIES["stream_cep_multibatch"].fn(spark, sf_dir).collect())
    )
    pattern = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .bound("event_type = 'purchase'")
        .within(6 * 3600 * 1_000_000)
    )
    tmp = tempfile.mkdtemp(prefix="cep_recovery_")
    ckpt, out = os.path.join(tmp, "ckpt"), os.path.join(tmp, "out")

    def start(trigger):
        ev = stream_events_multibatch(spark, sf_dir, n_files=4)
        ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts")))
        return (
            cep_pattern_matches(ev, pattern)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    # run 1: the first micro-batch runs at once, the next one an hour later
    q1 = start({"processingTime": "1 hour"})
    deadline = time.time() + 120
    while time.time() < deadline and not q1.lastProgress:
        time.sleep(0.2)
    progress = q1.lastProgress
    q1.stop()
    q1.awaitTermination(30)
    assert progress and progress["batchId"] == 0 and progress["numInputRows"] > 0
    n_run1 = spark.read.parquet(out).count()
    assert n_run1 < len(one_shot)

    # run 2: the rest of the stream from the same checkpoint
    q2 = start({"availableNow": True})
    assert q2.awaitTermination(300)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == one_shot
    assert len(set(got)) == len(got)
