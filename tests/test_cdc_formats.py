"""Unit tests for the CDC changelog-format decoders (debezium/canal/maxwell
JSON) — op mapping, partial-column overlay, unknown-op tolerance."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from flink_1_12_2_spark.operators.cdc_formats import (
    parse_canal_json,
    parse_debezium_json,
    parse_maxwell_json,
)

SCHEMA = "id bigint, v double"


def _src(spark, payloads):
    return spark.createDataFrame([(i, p) for i, p in enumerate(payloads)], ["seq", "j"])


def test_debezium_ops(spark):
    src = _src(
        spark,
        [
            '{"before": null, "after": {"id": 1, "v": 1.5}, "op": "c"}',
            '{"before": null, "after": {"id": 2, "v": 2.5}, "op": "r"}',
            '{"before": {"id": 1, "v": 1.5}, "after": {"id": 1, "v": 9.0}, "op": "u"}',
            '{"before": {"id": 2, "v": 2.5}, "after": null, "op": "d"}',
            '{"before": null, "after": null, "op": "??"}',
        ],
    )
    rows = sorted(
        (r._row_kind, r.id, r.v)
        for r in parse_debezium_json(src, "j", SCHEMA).collect()
    )
    assert rows == [
        ("+I", 1, 1.5),
        ("+I", 2, 2.5),
        ("+U", 1, 9.0),
        ("-D", 2, 2.5),
        ("-U", 1, 1.5),
    ]


def test_canal_batched_and_overlay(spark):
    src = _src(
        spark,
        [
            '{"data": [{"id": 1, "v": 1.0}, {"id": 2, "v": 2.0}], "old": null,'
            ' "type": "INSERT"}',
            # old carries only v: the -U pre-image must take id from data
            '{"data": [{"id": 1, "v": 5.0}], "old": [{"v": 1.0}], "type": "UPDATE"}',
            '{"data": [{"id": 2, "v": 2.0}], "old": null, "type": "DELETE"}',
        ],
    )
    rows = sorted(
        (r._row_kind, r.id, r.v)
        for r in parse_canal_json(src, "j", SCHEMA).collect()
    )
    assert rows == [
        ("+I", 1, 1.0),
        ("+I", 2, 2.0),
        ("+U", 1, 5.0),
        ("-D", 2, 2.0),
        ("-U", 1, 1.0),
    ]


def test_maxwell_single_row(spark):
    src = _src(
        spark,
        [
            '{"data": {"id": 3, "v": 3.0}, "old": null, "type": "insert"}',
            '{"data": {"id": 3, "v": 7.0}, "old": {"v": 3.0}, "type": "update"}',
            '{"data": {"id": 3, "v": 7.0}, "old": null, "type": "delete"}',
        ],
    )
    rows = sorted(
        (r._row_kind, r.id, r.v)
        for r in parse_maxwell_json(src, "j", SCHEMA).collect()
    )
    assert rows == [
        ("+I", 3, 3.0),
        ("+U", 3, 7.0),
        ("-D", 3, 7.0),
        ("-U", 3, 3.0),
    ]


def test_passthrough_columns_survive(spark):
    src = _src(
        spark, ['{"before": null, "after": {"id": 1, "v": 1.0}, "op": "c"}']
    )
    out = parse_debezium_json(src, "j", SCHEMA).collect()
    assert out[0].seq == 0  # non-JSON columns ride along


# ---- group_agg_retract: the changelog-consuming aggregate -----------------
# (GroupAggFunction.java:43 retract path via signed aggregation)


def test_group_agg_retract_folds_updates_and_deletes(spark):
    from flink_1_12_2_spark.operators.changelog import group_agg_retract

    rows = [
        # key g=1: insert 10, update 10→25 (net 25), insert 5 → sum 30, n 2
        ("+I", 1, 10.0), ("-U", 1, 10.0), ("+U", 1, 25.0), ("+I", 1, 5.0),
        # key g=2: insert 7 then delete it → group vanishes
        ("+I", 2, 7.0), ("-D", 2, 7.0),
    ]
    df = spark.createDataFrame(rows, ["_row_kind", "g", "v"])
    out = {
        r.g: (r.s, r.n, r.a)
        for r in group_agg_retract(
            df, ["g"], [("sum", "v", "s"), ("count", None, "n"), ("avg", "v", "a")]
        ).collect()
    }
    assert out == {1: (30.0, 2, 15.0)}  # group 2 reached net 0 and vanished


def test_group_agg_retract_min_max_multiset(spark):
    """MIN/MAX with retract (Min/MaxWithRetractAggFunction parity): the
    value→count multiset lets the extremum FALL BACK when the current
    min/max is retracted — the case a naive running min cannot handle."""
    import pytest

    from flink_1_12_2_spark.operators.changelog import group_agg_retract

    df = spark.createDataFrame(
        [
            ("+I", 1, 1.0), ("+I", 1, 5.0), ("+I", 1, 9.0),
            ("-D", 1, 1.0),                    # retract the current MIN
            ("-U", 1, 9.0), ("+U", 1, 4.0),    # update the current MAX down
            ("+I", 2, 7.0), ("-D", 2, 7.0),    # group vanishes at net 0
        ],
        ["_row_kind", "g", "v"],
    )
    out = group_agg_retract(
        df, ["g"], [("min", "v", "mn"), ("max", "v", "mx"), ("count", None, "c")]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["g"], r["mn"], r["mx"], r["c"]) == (1, 4.0, 5.0, 2)

    with pytest.raises(ValueError, match="unsupported"):
        group_agg_retract(df, ["g"], [("median", "v", "m")])


def test_changelog_join_product_rule(spark):
    """changelog ⋈ changelog: net effect equals joining the final states —
    including an update crossing a delete (sign products cancel)."""
    from flink_1_12_2_spark.operators.changelog import (
        changelog_join,
        group_agg_retract,
    )

    l = spark.createDataFrame(
        [
            ("+I", 1, 10.0), ("-U", 1, 10.0), ("+U", 1, 30.0),  # k1: 30
            ("+I", 2, 5.0),                                      # k2: 5
        ],
        ["_row_kind", "k", "v"],
    )
    r = spark.createDataFrame(
        [
            ("+I", 1, "x"), ("+I", 2, "y"), ("-D", 2, "y"),  # k2 deleted
        ],
        ["_row_kind", "k", "tag"],
    )
    import pyspark.sql.functions as F2

    joined = changelog_join(l, r, on=["k"])
    out = {
        row.k: (row.s, row.n)
        for row in group_agg_retract(
            joined, ["k"], [("sum", "v", "s"), ("count", None, "n")]
        ).collect()
    }
    # final states: l = {1: 30, 2: 5}; r = {1: x} -> join keeps only k=1
    assert out == {1: (30.0, 1)}


def test_cdc_sink_roundtrip_all_formats(spark, tmp_path):
    """CDC format SERIALIZATION (new in 1.12): a changelog INSERTed into
    a debezium/canal/maxwell kafka table publishes insert/delete
    envelopes (updates become delete+insert pairs per the reference's
    rowKindToOp), and reading the topic back yields the changelog."""
    from flink_1_12_2_spark.session import EngineSession

    for fmt, reg_opt in (
        ("debezium-json", ""),
        ("canal-json", ""),
        ("maxwell-json", ""),
        (
            "debezium-avro-confluent",
            ", 'avro-confluent.schema-registry.url'='file:{reg}'",
        ),
    ):
        eng = EngineSession(spark)
        short = fmt.replace("-", "_")
        topic = str(tmp_path / f"t_{short}")
        reg = str(tmp_path / f"reg_{short}.json")
        extra = reg_opt.format(reg=reg)
        eng.sql(
            f"""CREATE TABLE snk_{short} (id BIGINT, v STRING) WITH (
                'connector'='kafka', 'topic'='{topic}',
                'format'='{fmt}'{extra})"""
        )
        ch = spark.createDataFrame(
            [("+I", 1, "a"), ("+I", 2, "b"), ("-D", 2, "b")],
            "_row_kind string, id bigint, v string",
        )
        ch.createOrReplaceTempView(f"src_{short}")
        eng.sql(f"INSERT INTO snk_{short} SELECT * FROM src_{short}")
        got = sorted(
            (r["_row_kind"], r["id"])
            for r in spark.table(f"snk_{short}").collect()
        )
        # CDC serialization writes -D as op=delete; the read-back decode
        # surfaces it as -D again
        assert got == [("+I", 1), ("+I", 2), ("-D", 2)], (fmt, got)


def test_cdc_metadata_columns_survive_parse(spark, tmp_path):
    """FLIP-107 METADATA columns on a CDC-format kafka table flow through
    the changelog parse (the _emit passthrough keeps non-value columns) —
    regression pin for the advisor's r12 claim that the _CDC_PARSERS
    branch dropped them. Batch AND stream scans, all three json CDC
    formats."""
    import json

    from flink_1_12_2_spark.session import EngineSession
    from flink_1_12_2_spark.sources import kafka_emu

    payloads = {
        "debezium-json": json.dumps(
            {"before": None, "after": {"id": 1, "v": "a"},
             "op": "c", "ts_ms": 7}
        ),
        "canal-json": json.dumps(
            {"data": [{"id": 1, "v": "a"}], "old": None, "type": "INSERT"}
        ),
        "maxwell-json": json.dumps(
            {"data": {"id": 1, "v": "a"}, "old": None, "type": "insert"}
        ),
    }
    for fmt, line in payloads.items():
        short = fmt.replace("-", "_")
        topic = str(tmp_path / f"t_{short}")
        os.makedirs(os.path.join(topic, "batch-0"))
        with open(os.path.join(topic, "batch-0", "part-0.txt"), "w") as f:
            f.write(line + "\n")
        eng = EngineSession(spark)
        eng.sql(
            f"""CREATE TABLE md_{short} (
                  id BIGINT, v STRING,
                  mtopic STRING METADATA FROM 'topic' VIRTUAL
                ) WITH ('connector'='kafka', 'topic'='{topic}',
                        'format'='{fmt}')"""
        )
        row = eng.sql(
            f"SELECT id, v, mtopic, _row_kind FROM md_{short}"
        ).collect()
        assert [(r["id"], r["v"], r["_row_kind"]) for r in row] == [
            (1, "a", "+I")
        ], (fmt, row)
        assert row[0]["mtopic"].endswith(f"t_{short}"), (fmt, row)
        # stream path attaches metadata identically
        sdf = kafka_emu.read_topic_stream(
            spark, topic, fmt, "id bigint, v string",
            metadata_cols=(("mtopic", "string", "topic"),),
        )
        assert "mtopic" in sdf.columns, (fmt, sdf.columns)


def test_jdbc_lookup_uncached_never_forces_broadcast(tmp_path):
    """No lookup.cache.* → no size bound is known, so the snapshot must
    NOT carry the force-broadcast flag (a hint would override
    autoBroadcastJoinThreshold and OOM on a big dimension); Catalyst/AQE
    picks the strategy (advisor r12 medium finding)."""
    import tempfile

    from flink_1_12_2_spark.operators.lookup import jdbc_lookup_snapshot
    from flink_1_12_2_spark.session import get_spark
    from flink_1_12_2_spark.sources.jdbc import derby_url, jdbc_write

    spark = get_spark()
    url = derby_url(tempfile.mkdtemp(prefix="derby_nc_") + "/db")
    jdbc_write(spark.range(5).selectExpr("id AS k"), url, "dim_nc")
    _, bc = jdbc_lookup_snapshot(spark, url, "dim_nc")
    assert bc is False


def test_unknown_value_format_same_error_stream_and_batch(spark, tmp_path):
    """Stream and batch topic reads share one value decoder: an unknown
    format raises the same message from both, listing every supported
    format."""
    import pytest

    from flink_1_12_2_spark.sources import kafka_emu

    topic = str(tmp_path / "t_fmt")
    os.makedirs(os.path.join(topic, "batch-0"))
    with open(os.path.join(topic, "batch-0", "part-0.txt"), "w") as f:
        f.write('{"id": 1}\n')
    msgs = []
    for read in (kafka_emu.read_topic_batch, kafka_emu.read_topic_stream):
        with pytest.raises(ValueError) as exc:
            read(spark, topic, "protobuf", "id bigint")
        msgs.append(str(exc.value))
    assert msgs[0] == msgs[1]
    assert "(raw, json, debezium-json, canal-json, maxwell-json)" in msgs[0]
