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
