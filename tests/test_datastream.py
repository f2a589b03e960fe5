"""DataStream fluent surface: physical partitioning, connected streams,
side outputs, rolling keyed aggregates (DataStream.java:455-520,
ConnectedStreams.java, KeyedStream rolling aggs)."""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_1_12_2_spark.datastream import DataStream, StreamExecutionEnvironment


def _events(spark, sf_dir):
    from flink_1_12_2_spark.registry import load

    return load(spark, sf_dir, "events")


def test_side_output_partitions_rows(spark, sf_dir):
    ds = DataStream(_events(spark, sf_dir))
    main, side = ds.side_output(F.col("event_type") == "error")
    total = ds.df.count()
    assert main.df.count() + side.df.count() == total
    assert side.df.filter(F.col("event_type") != "error").count() == 0


def test_connect_co_map(spark, sf_dir):
    ev = _events(spark, sf_dir)
    clicks = DataStream(ev.filter(F.col("event_type") == "click"))
    buys = DataStream(ev.filter(F.col("event_type") == "purchase"))
    out = clicks.connect(buys).co_map(
        map1={"kind": F.lit("c"), "weight": F.col("value") * 1.0},
        map2={"kind": F.lit("p"), "weight": F.col("value") * 10.0},
        output_cols=["event_id", "kind", "weight"],
    )
    rows = out.df.groupBy("kind").count().collect()
    got = {r["kind"]: r["count"] for r in rows}
    assert got["c"] == clicks.df.count() and got["p"] == buys.df.count()


def test_partitioning_ops(spark, sf_dir):
    ds = DataStream(_events(spark, sf_dir))
    n0 = ds.df.count()
    reb = ds.rebalance()
    assert reb.df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert reb.df.count() == n0
    assert ds.rescale(2).df.rdd.getNumPartitions() == 2
    assert ds.partition_custom("user_id").df.count() == n0
    assert ds.forward() is ds


def test_broadcast_hint_changes_join_strategy(spark, sf_dir):
    from flink_1_12_2_spark.registry import load

    big = _events(spark, sf_dir)
    dim = DataStream(load(spark, sf_dir, "nation")).broadcast()
    joined = big.join(dim.df, big.user_id % 25 == dim.df.n_nationkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_rolling_min_by_max_by(spark):
    data = [
        # user, ts-ordinal, event_id, value
        (1, 1, 10, 5.0),
        (1, 2, 11, 3.0),
        (1, 3, 12, 7.0),
        (2, 1, 20, 1.0),
        (2, 2, 21, 2.0),
    ]
    df = spark.createDataFrame(
        data, "user_id int, ts int, event_id int, value double"
    )
    ks = DataStream(df).key_by("user_id")
    got = {
        (r.user_id, r.event_id): r.min_by_value
        for r in ks.min_by("value").df.collect()
    }
    # running argmin event_id per user in (ts, event_id) order
    assert got[(1, 10)] == 10  # only row so far
    assert got[(1, 11)] == 11  # 3.0 < 5.0
    assert got[(1, 12)] == 11  # 3.0 still the min
    assert got[(2, 21)] == 20  # 1.0 < 2.0
    got_max = {
        (r.user_id, r.event_id): r.max_by_value
        for r in ks.max_by("value").df.collect()
    }
    assert got_max[(1, 12)] == 12 and got_max[(2, 21)] == 21


def test_datastream_extended_surface(spark, sf_dir):
    """Round-3 additions: global_/project, count_window aggregate,
    co_flat_map (DataStream.java / ConnectedStreams.java parity)."""
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.datastream import StreamExecutionEnvironment
    from flink_1_12_2_spark.registry import load

    env = StreamExecutionEnvironment(spark)
    n = env.from_table(load(spark, sf_dir, "nation"))

    assert n.global_().df.rdd.getNumPartitions() == 1
    assert n.project(1, 0).df.columns == ["n_name", "n_nationkey"]

    # count_window: 25 nations / windows of 10 -> sizes 10, 10, 5
    cw = (
        n.map(grp=F.lit(1))
        .key_by("grp")
        .count_window(10, order_cols=["n_nationkey"])
        .aggregate(cnt=F.count(F.lit(1)))
        .df.orderBy("win_id")
        .collect()
    )
    assert [r.cnt for r in cw] == [10, 10, 5]

    a = env.from_collection([(1, ["x", "y"])], "id int, toks array<string>")
    b = env.from_collection([(2, ["z"])], "id int, toks array<string>")
    out = a.connect(b).co_flat_map(
        (F.col("toks"), "tok"), (F.col("toks"), "tok"), ["id", "tok"]
    )
    assert sorted((r.id, r.tok) for r in out.df.collect()) == [
        (1, "x"), (1, "y"), (2, "z"),
    ]


def test_streaming_iterate_cross_batch_feedback():
    """Pure-function check of the feedback semantics: one body application
    per micro-batch (an element with v=60.00 and step 25.00 lives THREE
    batches: 6000 -> 3500 -> 1000 -> -1500), and the MAX_WATERMARK
    sentinel drains in-flight elements to their fixpoint in one call."""
    import json

    from flink_1_12_2_spark.streaming.stateful import _iterate_fold

    fold = _iterate_fold(2500)

    def batch(rows):
        return [{"event_id": e, "value": v} for e, v in rows]

    def step(rows, st):
        # state crosses micro-batches as JSON, as in keyed_state_apply
        out, new, _ = fold((1,), batch(rows), st, None)
        return out, None if new is None else json.loads(json.dumps(new))

    # batch 1: element enters, one application, stays in flight
    out1, st = step([(10, 60.0)], None)
    assert len(out1) == 0 and st == [[10, 3500, 1]]
    # batch 2: second application, still in flight
    out2, st = step([], st)
    assert len(out2) == 0 and st == [[10, 1000, 2]]
    # batch 3: third application fires the exit condition; nothing left in
    # flight, so the key's state is deleted
    out3, st = step([], st)
    assert out3 == [(1, 10, 3, -1500)]
    assert st is None
    # drain: a fresh big element + the sentinel in the same batch finishes
    # at its fixpoint immediately (end-of-input flush)
    out4, st = step([(11, 100.0), (-1, 0.0)], st)
    assert out4 == [(1, 11, 4, 0)]
    assert st is None


def test_keyed_process_running_count(spark, tmp_path):
    """KeyedStream.process: a fold keeps a running count per key across two
    micro-batches (one source file per trigger)."""
    from pyspark.sql.types import LongType, StructField, StructType

    src = str(tmp_path / "src")
    for i, rows in enumerate([[(1,), (1,), (2,)], [(1,), (3,)]]):
        spark.createDataFrame(rows, "k long").coalesce(1).write.parquet(
            f"{src}/b{i}"
        )

    def count_fold(key, rows, state, watermark_us):
        cnt = (state or 0) + len(rows)
        return [(key[0], cnt)], cnt, None

    sdf = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    schema = StructType(
        [StructField("k", LongType()), StructField("cnt", LongType())]
    )
    out = DataStream(sdf).key_by("k").process(count_fold, schema, "update")
    q = (
        out.df.writeStream.format("memory")
        .queryName("keyed_process_count")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = sorted(map(tuple, spark.table("keyed_process_count").collect()))
    # batch 1 emits (1, 2), (2, 1); batch 2 emits (1, 3), (3, 1)
    assert rows == [(1, 2), (1, 3), (2, 1), (3, 1)]
