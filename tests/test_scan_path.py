"""One scan path for registry tables: the plain view, the OPTIONS-hinted
view, the stream, a LIKE clone and the view re-exposed after INSERT all
come from ``sql.ddl.scan_frame``, so they agree on computed columns,
declared column order, csv header handling and declared types."""

from __future__ import annotations

import pytest


@pytest.fixture()
def eng(spark):
    from flink_1_12_2_spark.session import EngineSession

    e = EngineSession(spark)
    e.sql("SET 'table.dynamic-table-options.enabled' = 'true'")
    return e


def _publish_json(spark, topic: str, *values: str) -> None:
    from flink_1_12_2_spark.sources.kafka_emu import publish

    publish(spark.createDataFrame([(v,) for v in values], "value string"),
            topic)


def _csv_table(eng, tmp_path, name: str) -> None:
    d = tmp_path / name
    d.mkdir()
    (d / "a.csv").write_text("k,v\n1,2\n3,4\n")
    eng.sql(
        f"""CREATE TABLE {name} (k BIGINT, v2 AS v * 2, v BIGINT) WITH (
            'connector'='filesystem', 'path'='{d}', 'format'='csv')"""
    )


def test_stream_table_applies_kafka_computed_column(eng, spark, tmp_path):
    """A kafka table's computed column exists on the stream, so a
    WATERMARK declared on it resolves."""
    topic = str(tmp_path / "t_epoch")
    _publish_json(spark, topic, '{"epoch": 60}')
    eng.sql(
        f"""CREATE TABLE kep (
            epoch BIGINT,
            ts AS TO_TIMESTAMP(FROM_UNIXTIME(epoch)),
            WATERMARK FOR ts AS ts - INTERVAL '1' SECOND
        ) WITH ('connector'='kafka', 'topic'='{topic}', 'format'='json')"""
    )
    sdf = eng.stream_table("kep")
    assert sdf.isStreaming
    assert sdf.columns == ["epoch", "ts"]
    assert dict(sdf.dtypes)["ts"] == "timestamp"


def test_stream_table_kafka_declared_column_order(eng, spark, tmp_path):
    """The kafka stream presents the DDL's column order, computed and
    metadata columns included, like the batch view."""
    topic = str(tmp_path / "t_order")
    _publish_json(spark, topic, '{"k": 1, "v": "a"}')
    eng.sql(
        f"""CREATE TABLE kord (
            k BIGINT, c AS k * 2, topic STRING METADATA VIRTUAL, v STRING
        ) WITH ('connector'='kafka', 'topic'='{topic}', 'format'='json')"""
    )
    assert eng.sql("SELECT * FROM kord").columns == ["k", "c", "topic", "v"]
    assert eng.stream_table("kord").columns == ["k", "c", "topic", "v"]


def test_filesystem_declared_column_order(eng, tmp_path):
    """A csv table with a computed column in mid position keeps the
    declared order on the plain view and on the stream."""
    _csv_table(eng, tmp_path, "fco")
    df = eng.sql("SELECT * FROM fco")
    assert df.columns == ["k", "v2", "v"]
    assert [tuple(r) for r in df.orderBy("k").collect()] == [
        (1, 4, 2), (3, 8, 4)
    ]
    assert eng.stream_table("fco").columns == ["k", "v2", "v"]


def test_create_table_like_csv_keeps_header_types_and_computed(eng, tmp_path):
    """CREATE TABLE ... LIKE a csv table scans like the base: the header
    is not a row, the declared types hold and computed columns stay."""
    _csv_table(eng, tmp_path, "fcl")
    eng.sql("CREATE TABLE fcl2 LIKE fcl")
    df = eng.sql("SELECT * FROM fcl2")
    assert df.dtypes == [("k", "bigint"), ("v2", "bigint"), ("v", "bigint")]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 4, 2), (3, 8, 4)]


def test_insert_reexposes_computed_column(eng, tmp_path):
    """The view re-exposed after INSERT is the table's full scan, computed
    column and declared order included."""
    _csv_table(eng, tmp_path, "fci")
    eng.sql("INSERT INTO fci VALUES (5, 6)")
    df = eng.sql("SELECT * FROM fci")
    assert df.columns == ["k", "v2", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, 4, 2), (3, 8, 4), (5, 12, 6)
    ]


def test_plain_hinted_and_streamed_scans_agree(eng, spark, tmp_path):
    """Parity: for a csv table with a mid-position computed column and a
    kafka json table with computed and metadata columns, the plain,
    hinted and streamed scans expose the same columns in the same order."""
    _csv_table(eng, tmp_path, "fpar")
    topic = str(tmp_path / "t_par")
    _publish_json(spark, topic, '{"k": 1, "v": "a"}')
    eng.sql(
        f"""CREATE TABLE kpar (
            k BIGINT, c AS k * 2, part INT METADATA FROM 'partition',
            v STRING
        ) WITH ('connector'='kafka', 'topic'='{topic}', 'format'='json')"""
    )
    for name, hint in (
        ("fpar", "'csv.ignore-parse-errors'='true'"),
        ("kpar", "'scan.startup.mode'='earliest-offset'"),
    ):
        plain = eng.sql(f"SELECT * FROM {name}").dtypes
        hinted = eng.sql(
            f"SELECT * FROM {name} /*+ OPTIONS({hint}) */"
        ).dtypes
        streamed = eng.stream_table(name).dtypes
        assert plain == hinted == streamed, name


def test_insert_writes_declared_types_to_file_sinks(eng, tmp_path):
    """INSERT casts the query to the sink's declared types, so the
    re-exposed parquet view (read with the declared schema) holds them."""
    p = tmp_path / "pq_sink"
    eng.sql(
        f"""CREATE TABLE pqs (k INT, v BIGINT) WITH (
            'connector'='filesystem', 'path'='{p}', 'format'='parquet')"""
    )
    eng.sql("INSERT INTO pqs SELECT CAST(1 AS BIGINT), 2")
    df = eng.sql("SELECT * FROM pqs")
    assert df.dtypes == [("k", "int"), ("v", "bigint")]
    assert [tuple(r) for r in df.collect()] == [(1, 2)]


def _producer_batches(topic, n: int, files: int = 1) -> None:
    """``n`` producer batches of ``files`` one-record part files each, in
    ``publish``'s layout but without a Spark write per batch. Each batch
    directory appears whole (renamed into the topic), as a producer's
    commit does."""
    import os
    import uuid

    os.makedirs(topic, exist_ok=True)
    for _ in range(n):
        name = f"batch_{uuid.uuid4().hex[:12]}"
        staged = os.path.join(os.path.dirname(topic), "_staged_" + name)
        os.makedirs(staged)
        for f in range(files):
            with open(os.path.join(staged, f"part-{f:05d}.txt"), "w") as fh:
                fh.write('{"k": %d}\n' % f)
        os.rename(staged, os.path.join(topic, name))


def _group_jobs(spark, group: str) -> int:
    """Jobs the status tracker holds for ``group``, once the listener bus
    has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_topic_reads_list_files_without_a_spark_job(spark, tmp_path):
    """File listing runs in the driver, never as a Spark job of one task
    per path (Spark's default above 32 paths): a bounded read of a topic
    of 40 producer batches launches the jobs a 2-batch read launches, and
    every job of a stream's run is a micro-batch's write, both when one
    micro-batch reads a producer batch of 40 part files and when triggers
    run on a topic of more than 32 batch directories."""
    from flink_1_12_2_spark.sources.kafka_emu import (
        read_topic_batch,
        read_topic_stream,
    )

    sc = spark.sparkContext
    jobs = {}
    for n in (2, 40):
        topic = str(tmp_path / f"bounded_{n}")
        _producer_batches(topic, n)
        group = f"bounded_read_{n}_{tmp_path.name}"
        sc.setJobGroup(group, f"bounded read of {n} producer batches")
        try:
            rows = read_topic_batch(spark, topic, "json", "k BIGINT").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == n
        jobs[n] = _group_jobs(spark, group)
    assert jobs[40] == jobs[2], jobs

    topic = str(tmp_path / "streamed")
    _producer_batches(topic, 1, files=40)
    query = (
        read_topic_stream(spark, topic, "json", "k BIGINT")
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        # 33 batch directories, then 34: every trigger from here on lists
        # more than 32 of them, while each micro-batch reads at most 32 files
        _producer_batches(topic, 32)
        query.processAllAvailable()
        _producer_batches(topic, 1)
        query.processAllAvailable()
        progress = query.recentProgress
    finally:
        query.stop()
    read = [p["numInputRows"] for p in progress if p["numInputRows"]]
    assert sum(read) == 40 + 32 + 1
    assert _group_jobs(spark, str(query.runId)) == len(read)
