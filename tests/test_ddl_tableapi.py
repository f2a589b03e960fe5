"""DDL front door + Table API unit tests (WATERMARK clause, type mapping,
error paths, fluent set ops)."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from flink_1_12_2_spark.sql.ddl import parse_create_table
from flink_1_12_2_spark.table_api import Table


def test_parse_create_table_with_watermark():
    def parse(interval: str):
        return parse_create_table(
            f"""CREATE TABLE ev (
                 event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT, value DOUBLE,
                 WATERMARK FOR ts AS ts - INTERVAL {interval}
               ) PARTITIONED BY (user_id)
               WITH ('connector'='filesystem', 'path'='/x', 'format'='parquet')"""
        )

    name, schema, meta, part, _comp = parse("'10' MINUTE")
    assert name == "ev"
    assert meta.event_time_col == "ts"
    assert meta.watermark_delay == "10 minutes"
    assert meta.path == "/x" and meta.fmt == "parquet"
    assert part == ("user_id",)
    assert "ts timestamp_ntz" in schema  # Flink TIMESTAMP = no time zone
    # the INTERVAL units the SQL rewriter takes, singular or plural in any
    # case; any other unit is a ValueError naming it
    for interval, delay in [
        ("'5' SECONDS", "5 seconds"),
        ("'2' hours", "2 hours"),
        ("'1' Day", "1 days"),
    ]:
        assert parse(interval)[2].watermark_delay == delay, interval
    with pytest.raises(ValueError, match="'MILLISECOND'.*SECOND, MINUTE"):
        parse("'5' MILLISECOND")


def test_parse_create_table_decimal_and_errors():
    _, schema, _, _, _ = parse_create_table(
        "CREATE TABLE t (a DECIMAL(12,2), b STRING) "
        "WITH ('connector'='filesystem','path'='/x')"
    )
    assert "a decimal(12,2)" in schema
    # kafka is supported since r11 — a missing required option is a
    # descriptive error naming the option (FactoryUtil.validate parity),
    # never a raw KeyError.
    with pytest.raises(ValueError, match="'kafka' requires a 'topic'"):
        parse_create_table(
            "CREATE TABLE t (a INT) WITH ('connector'='kafka','path'='/x')"
        )
    with pytest.raises(ValueError, match="'upsert-kafka' requires a 'topic'"):
        parse_create_table(
            "CREATE TABLE t (a INT, PRIMARY KEY (a) NOT ENFORCED) "
            "WITH ('connector'='upsert-kafka')"
        )
    with pytest.raises(ValueError, match="'jdbc' requires a 'url'"):
        parse_create_table(
            "CREATE TABLE t (a INT) WITH ('connector'='jdbc','table-name'='t')"
        )
    with pytest.raises(ValueError, match="'filesystem' requires a 'path'"):
        parse_create_table(
            "CREATE TABLE t (a INT) WITH ('format'='parquet')"
        )
    with pytest.raises(ValueError, match="not available"):
        parse_create_table(
            "CREATE TABLE t (a INT) WITH ('connector'='kinesis','stream'='s')"
        )
    with pytest.raises(ValueError):
        parse_create_table("CREATE VIEW nope AS SELECT 1")


def test_ddl_watermark_reaches_stream(spark, sf_dir):
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    # register events via DDL with a watermark, then open it as a stream
    eng.sql(
        f"""CREATE TABLE ev_ddl (
              event_id BIGINT, ts TIMESTAMP_LTZ, user_id BIGINT,
              event_type STRING, value DOUBLE, props STRING,
              WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE
            ) WITH ('connector'='filesystem',
                    'path'='{sf_dir}/events.parquet', 'format'='parquet')"""
    )
    meta = eng.meta("ev_ddl")
    assert meta.event_time_col == "ts" and meta.watermark_delay == "5 minutes"


def test_table_api_set_ops_and_joins(spark, sf_dir):
    from flink_1_12_2_spark.registry import load

    c = Table(load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")))
    s = Table(load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")))
    u = c.union(s).to_data_frame().count()
    i = c.intersect(s).to_data_frame().count()
    assert u >= i
    joined = (
        Table(load(spark, sf_dir, "nation"))
        .join(
            Table(load(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_name", "r_name")
        .order_by("n_name")
        .fetch(5)
        .to_data_frame()
    )
    assert joined.count() == 5


def test_table_api_window(spark, sf_dir):
    from flink_1_12_2_spark.registry import load

    t = Table(load(spark, sf_dir, "events"))
    out = (
        t.window_tumble("ts", "1 hour", "event_type")
        .select(F.count(F.lit(1)).alias("cnt"))
        .to_data_frame()
    )
    assert {"window_start", "window_end", "event_type", "cnt"} <= set(out.columns)
    assert out.count() > 0


def test_ddl_computed_column(spark, sf_dir):
    """Computed columns (SqlCreateTable.java:248): applied at view-definition
    time, PROCTIME() included."""
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    df = eng.sql(
        f"""CREATE TABLE ev_comp (
                event_id BIGINT, user_id BIGINT, value DOUBLE,
                value_cents AS value * 100,
                proc AS PROCTIME()
            ) WITH ('connector'='filesystem',
                    'path'='{sf_dir}/events.parquet', 'format'='parquet')"""
    )
    assert "value_cents" in df.columns and "proc" in df.columns
    row = spark.sql(
        "SELECT value, value_cents FROM ev_comp WHERE value IS NOT NULL LIMIT 1"
    ).collect()[0]
    assert abs(row.value * 100 - row.value_cents) < 1e-9
    assert dict(df.dtypes)["proc"].startswith("timestamp")


def test_catalog_statements(spark, sf_dir):
    """SHOW TABLES / DESCRIBE / ALTER RENAME / DROP (ddl+dql inventory)."""
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    eng.sql(
        f"""CREATE TABLE cat_t (event_id BIGINT, value DOUBLE)
            WITH ('connector'='filesystem',
                  'path'='{sf_dir}/events.parquet', 'format'='parquet')"""
    )
    names = [r.table_name for r in eng.sql("SHOW TABLES").collect()]
    assert "cat_t" in names
    desc = eng.sql("DESCRIBE cat_t").collect()
    # r12: registry tables return Flink's six-column DESCRIBE shape
    assert {r.name for r in desc} >= {"event_id", "value"}
    eng.sql("ALTER TABLE cat_t RENAME TO cat_u")
    names2 = [r.table_name for r in eng.sql("SHOW TABLES").collect()]
    assert "cat_u" in names2 and "cat_t" not in names2
    assert eng.meta("cat_u") is not None
    eng.sql("CREATE VIEW cat_v AS SELECT event_id FROM cat_u LIMIT 10")
    assert eng.sql("SELECT COUNT(*) AS c FROM cat_v").collect()[0].c == 10
    eng.sql("DROP VIEW cat_v")
    eng.sql("DROP TABLE cat_u")
    names3 = [r.table_name for r in eng.sql("SHOW TABLES").collect()]
    assert "cat_u" not in names3


def test_explain_statement(spark, sf_dir):
    from flink_1_12_2_spark.registry import load
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation_ex")
    out = eng.sql(
        "EXPLAIN PLAN FOR SELECT n_regionkey, COUNT(*) AS c "
        "FROM nation_ex GROUP BY n_regionkey"
    )
    txt = out.collect()[0]["plan"]
    for section in (
        "Parsed Logical Plan",
        "Analyzed Logical Plan",
        "Optimized Logical Plan",
        "Physical Plan",
    ):
        assert section in txt
    # the rewrite pass must apply before explaining (Flink-dialect input)
    txt2 = eng.sql(
        "EXPLAIN SELECT SPLIT_INDEX(n_name, 'A', 0) AS p FROM nation_ex"
    ).collect()[0]["plan"]
    assert "Physical Plan" in txt2


def test_database_and_show_statements(spark, sf_dir):
    from flink_1_12_2_spark.registry import load
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    assert eng.sql("CREATE DATABASE dbx").collect()[0].result == "OK"
    dbs = {r.database_name for r in eng.sql("SHOW DATABASES").collect()}
    assert "dbx" in dbs and "default" in dbs
    assert eng.sql("USE dbx").collect()[0].result == "OK"
    cur = eng.sql("SHOW CURRENT DATABASE").collect()[0].database_name
    assert cur == "dbx"
    eng.sql("USE default")
    assert eng.sql("DROP DATABASE dbx").collect()[0].result == "OK"
    cats = {r.catalog_name for r in eng.sql("SHOW CATALOGS").collect()}
    assert "spark_catalog" in cats

    load(spark, sf_dir, "nation").createOrReplaceTempView("nation_sv")
    eng.sql("CREATE VIEW v_sv AS SELECT n_name FROM nation_sv")
    views = {r.view_name for r in eng.sql("SHOW VIEWS").collect()}
    assert "v_sv" in views
    eng.sql("DROP VIEW v_sv")

    fns = {r.function_name for r in eng.sql("SHOW FUNCTIONS").collect()}
    assert {"SPLIT_INDEX", "SUM0", "LISTAGG"} <= fns


def test_create_table_like(spark, sf_dir):
    """CREATE TABLE ... LIKE (SqlTableLike.java): metadata clone with
    OVERWRITING OPTIONS merge."""
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    eng.sql(
        f"""CREATE TABLE like_base (
              event_id BIGINT, ts TIMESTAMP_LTZ, user_id BIGINT,
              event_type STRING, value DOUBLE, props STRING,
              WATERMARK FOR ts AS ts - INTERVAL '7' MINUTE
            ) WITH ('connector'='filesystem',
                    'path'='{sf_dir}/events.parquet', 'format'='parquet')"""
    )
    eng.sql("CREATE TABLE like_clone LIKE like_base")
    meta = eng.meta("like_clone")
    assert meta.event_time_col == "ts" and meta.watermark_delay == "7 minutes"
    assert meta.path.endswith("events.parquet")
    assert spark.table("like_clone").count() == spark.table("like_base").count()
    # option override: new path that doesn't exist yet → sink registration
    eng.sql(
        "CREATE TABLE like_sink WITH ('path'='/tmp/like_sink_nope') "
        "LIKE like_base"
    )
    meta2 = eng.meta("like_sink")
    assert meta2.path == "/tmp/like_sink_nope"
    assert meta2.watermark_delay == "7 minutes"


def test_table_api_over_window(spark, sf_dir):
    from flink_1_12_2_spark.registry import load

    t = Table(load(spark, sf_dir, "customer"))
    out = (
        t.over_window(
            partition_by=["c_nationkey"],
            order_by=["c_custkey"],
            preceding="unbounded",
        )
        .select(run_total=F.sum("c_acctbal"), rn=F.row_number())
        .to_data_frame()
    )
    rows = (
        out.filter(F.col("c_nationkey") == 0)
        .orderBy("c_custkey")
        .select("c_acctbal", "run_total", "rn")
        .collect()
    )
    acc = 0.0
    for i, r in enumerate(rows, start=1):
        acc += r.c_acctbal
        assert abs(r.run_total - acc) < 1e-6 and r.rn == i


def test_create_drop_alter_function(spark, sf_dir):
    """CREATE/ALTER/DROP FUNCTION DDL (SqlCreateFunction parity): register a
    dotted-path pandas UDF, call it from SQL, swap its body, drop it."""
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    eng.register_testdata(sf_dir)
    eng.sql(
        "CREATE TEMPORARY FUNCTION wc AS "
        "'flink_1_12_2_spark.functions.examples.word_count' LANGUAGE PYTHON"
    )
    row = eng.sql(
        "SELECT wc('one two  three') AS n FROM region LIMIT 1"
    ).collect()[0]
    assert row.n == 3
    # IF NOT EXISTS is a no-op; bare re-create raises
    eng.sql("CREATE FUNCTION IF NOT EXISTS wc AS 'x.y'")
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE FUNCTION wc AS 'x.y'")
    # SHOW USER FUNCTIONS lists only DDL-registered names
    user_fns = [r.function_name for r in eng.sql("SHOW USER FUNCTIONS").collect()]
    assert user_fns == ["wc"]
    # ALTER points the name at a different body
    eng.sql(
        "ALTER FUNCTION wc AS "
        "'flink_1_12_2_spark.functions.examples.signum_scaled'"
    )
    row = eng.sql("SELECT wc(-9.0) AS v FROM region LIMIT 1").collect()[0]
    assert row.v == -3.0
    eng.sql("DROP FUNCTION wc")
    assert eng.sql("SHOW USER FUNCTIONS").count() == 0
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("DROP FUNCTION wc")
    eng.sql("DROP FUNCTION IF EXISTS wc")  # silent


def test_create_function_error_paths(spark):
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    # LANGUAGE JAVA is supported (Hive/Spark JVM classes, r10) — a class
    # that isn't on the classpath fails loudly at registration
    with pytest.raises(ValueError, match="classpath"):
        eng.sql("CREATE FUNCTION j AS 'com.acme.F' LANGUAGE JAVA")
    with pytest.raises(ValueError, match="LANGUAGE RUST"):
        eng.sql("CREATE FUNCTION j AS 'com.acme.F' LANGUAGE RUST")
    with pytest.raises(ValueError, match="cannot import"):
        eng.sql("CREATE FUNCTION f AS 'no_such_module.fn'")
    with pytest.raises(ValueError, match="no attribute"):
        eng.sql(
            "CREATE FUNCTION f AS 'flink_1_12_2_spark.functions.examples.nope'"
        )


def test_create_use_drop_catalog(spark, sf_dir):
    """CREATE/USE/DROP CATALOG (SqlCreateCatalog / GenericInMemoryCatalog
    parity): tables registered while a catalog is current belong to it;
    dropping a non-current catalog drops its tables; the current catalog
    cannot be dropped (Flink raises the same way)."""
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    eng.sql("CREATE CATALOG side WITH ('type'='generic_in_memory')")
    cats = [r.catalog_name for r in eng.sql("SHOW CATALOGS").collect()]
    assert "side" in cats and "default_catalog" in cats
    assert (
        eng.sql("SHOW CURRENT CATALOG").collect()[0].catalog_name
        == "default_catalog"
    )
    eng.sql("USE CATALOG side")
    eng.sql(
        f"""CREATE TABLE side_nation (
              n_nationkey INT, n_name STRING, n_regionkey INT
            ) WITH ('connector'='filesystem',
                    'path'='{sf_dir}/nation.parquet', 'format'='parquet')"""
    )
    tables = [r.table_name for r in eng.sql("SHOW TABLES").collect()]
    assert tables == ["side_nation"]
    with pytest.raises(ValueError, match="current catalog"):
        eng.sql("DROP CATALOG side")
    eng.sql("USE CATALOG default_catalog")
    eng.sql("DROP CATALOG side")
    assert eng.meta("side_nation") is None
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("USE CATALOG side")
    # 'hive' is supported since r9 (persistent Spark-catalog-database
    # shim, tests/test_hive_catalog.py); truly external types still refuse
    with pytest.raises(ValueError, match="external services"):
        eng.sql("CREATE CATALOG h WITH ('type'='iceberg')")
    eng.sql("DROP CATALOG IF EXISTS nope")  # silent


def test_table_api_extended_surface(spark, sf_dir):
    """Round-3 Table API additions: right/lateral joins, offset/limit,
    intersect_all/minus_all, alias, map/flat_map (TableImpl.java parity)."""
    import pandas as pd

    from flink_1_12_2_spark.registry import load
    from flink_1_12_2_spark.table_api import Table

    n = Table(load(spark, sf_dir, "nation"))
    r = Table(load(spark, sf_dir, "region"))

    # right outer: every nation row survives from the right side
    ro = r.right_outer_join(
        n, F.col("n_regionkey") == F.col("r_regionkey")
    ).to_data_frame()
    assert ro.count() == 25

    # offset/limit after order_by
    got = (
        n.order_by("n_nationkey").offset(5).limit(3).to_data_frame().collect()
    )
    assert [x.n_nationkey for x in got] == [5, 6, 7]

    # set-op _all variants
    a = Table(spark.createDataFrame([(1,), (1,), (2,)], ["x"]))
    b = Table(spark.createDataFrame([(1,), (3,)], ["x"]))
    assert sorted(
        x.x for x in a.intersect_all(b).to_data_frame().collect()
    ) == [1]
    assert sorted(x.x for x in a.minus_all(b).to_data_frame().collect()) == [1, 2]

    # alias (positional as())
    al = n.alias(*[f"c{i}" for i in range(len(n.to_data_frame().columns))])
    assert al.to_data_frame().columns[0] == "c0"

    # map / flat_map (Arrow-batched)
    def double_key(batches):
        for pdf in batches:
            yield pd.DataFrame({"k2": pdf["n_nationkey"] * 2})

    assert (
        Table(load(spark, sf_dir, "nation")).map(double_key, "k2 bigint")
        .to_data_frame().agg(F.max("k2")).collect()[0][0] == 48
    )

    # lateral join over a udtf-style array column
    arr = Table(
        spark.createDataFrame([(1, ["a", "b"]), (2, [])], ["id", "toks"])
    )
    lat = arr.join_lateral(
        F.transform(F.col("toks"), lambda t: F.struct(t.alias("tok"))), "tok"
    ).to_data_frame()
    assert sorted((x.id, x.tok) for x in lat.collect()) == [(1, "a"), (1, "b")]
    lat_outer = arr.left_outer_join_lateral(
        F.transform(F.col("toks"), lambda t: F.struct(t.alias("tok"))), "tok"
    ).to_data_frame()
    assert sorted((x.id, x.tok) for x in lat_outer.collect()) == [
        (1, "a"), (1, "b"), (2, None),
    ]


def test_create_function_udaf(spark, sf_dir):
    """CREATE FUNCTION registers AGGREGATE pandas UDFs too (Flink
    AggregateFunction via SqlCreateFunction): usable inside GROUP BY SQL."""
    import math

    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    eng.register_testdata(sf_dir)
    eng.sql(
        "CREATE TEMPORARY FUNCTION geo_mean AS "
        "'flink_1_12_2_spark.functions.examples.geo_mean' LANGUAGE PYTHON"
    )
    rows = eng.sql(
        "SELECT s_nationkey, geo_mean(s_acctbal) AS g FROM supplier "
        "WHERE s_acctbal > 0 GROUP BY s_nationkey ORDER BY s_nationkey"
    ).collect()
    assert rows and all(r.g > 0 for r in rows)
    # cross-check one group by hand
    nk = rows[0].s_nationkey
    vals = [
        r.s_acctbal
        for r in spark.table("supplier")
        .filter(f"s_nationkey = {nk} AND s_acctbal > 0")
        .collect()
    ]
    expected = math.exp(sum(math.log(v) for v in vals) / len(vals))
    assert abs(rows[0].g - expected) < 1e-9
    eng.sql("DROP FUNCTION geo_mean")


def test_catalog_statement_long_tail(spark, sf_dir, tmp_path):
    """SHOW PARTITIONS / DESCRIBE DATABASE / DESCRIBE CATALOG / ALTER VIEW /
    ALTER TABLE SET (the remaining flink-sql-parser ddl+dql inventory)."""
    from flink_1_12_2_spark.session import EngineSession

    eng = EngineSession(spark)
    # partitioned table on disk -> SHOW PARTITIONS lists hive-style dirs
    src = spark.table  # noqa: F841  (readability)
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], ["id", "part_col"]
    )
    path = str(tmp_path / "part_tbl")
    df.write.partitionBy("part_col").parquet(path)
    eng.sql(
        f"""CREATE TABLE part_tbl (id BIGINT, part_col STRING)
            WITH ('connector'='filesystem', 'path'='{path}',
                  'format'='parquet')"""
    )
    parts = [r.partition for r in eng.sql("SHOW PARTITIONS part_tbl").collect()]
    assert parts == ["part_col=a", "part_col=b"]

    assert eng.sql("DESCRIBE DATABASE default").count() >= 1
    eng.sql("CREATE CATALOG side2 WITH ('type'='generic_in_memory')")
    info = {
        r.info_name: r.info_value
        for r in eng.sql("DESCRIBE CATALOG side2").collect()
    }
    assert info["type"] == "generic_in_memory"

    eng.sql("CREATE VIEW v_one AS SELECT 1 AS x")
    eng.sql("ALTER VIEW v_one RENAME TO v_two")
    assert spark.table("v_two").collect()[0].x == 1
    eng.sql("ALTER VIEW v_two AS SELECT 2 AS x")
    assert spark.table("v_two").collect()[0].x == 2

    eng.sql("ALTER TABLE part_tbl SET ('custom.opt'='42')")
    assert eng.meta("part_tbl").options["custom.opt"] == "42"
    eng.sql("DROP CATALOG side2")


def test_drop_table_clears_kafka_computed_columns(spark, tmp_path):
    """Re-creating a dropped kafka table with a DIFFERENT schema must not
    inherit the old table's computed columns on refresh."""
    from flink_1_12_2_spark.session import EngineSession
    from flink_1_12_2_spark.sources.kafka_emu import publish

    eng = EngineSession(spark)
    topic = str(tmp_path / "t_drop")
    publish(spark.createDataFrame([('{"x": 2}',)], "value string"), topic)
    eng.sql(
        f"""CREATE TABLE tdrop (x BIGINT, c AS x * 2) WITH (
            'connector'='kafka', 'topic'='{topic}', 'format'='json')"""
    )
    assert spark.table("tdrop").collect()[0]["c"] == 4
    eng.sql("DROP TABLE tdrop")
    topic2 = str(tmp_path / "t_drop2")
    publish(spark.createDataFrame([('{"y": 9}',)], "value string"), topic2)
    eng.sql(
        f"""CREATE TABLE tdrop (y STRING) WITH (
            'connector'='kafka', 'topic'='{topic2}', 'format'='json')"""
    )
    rows = eng.sql("SELECT * FROM tdrop").collect()
    assert [r["y"] for r in rows] == ["9"]
    assert "c" not in spark.table("tdrop").columns


def test_describe_flink_shape(spark, tmp_path):
    """DESCRIBE a registry table returns Flink's six-column shape
    (TableEnvironmentImpl.buildDescribeResult): PRI(...) on key columns,
    AS-expression extras on computed columns, the watermark on the
    rowtime column."""
    from flink_1_12_2_spark.session import EngineSession
    from flink_1_12_2_spark.sources.kafka_emu import publish

    eng = EngineSession(spark)
    topic = str(tmp_path / "t_desc")
    publish(
        spark.createDataFrame(
            [('{"k": 1, "ts": "2020-01-01 00:00:00"}',)], "value string"
        ),
        topic,
    )
    eng.sql(
        f"""CREATE TABLE tdesc (
              k BIGINT,
              ts TIMESTAMP_LTZ,
              c AS k * 2,
              WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
            ) WITH ('connector'='kafka', 'topic'='{topic}',
                    'format'='json')"""
    )
    rows = {r["name"]: r for r in eng.sql("DESCRIBE tdesc").collect()}
    assert set(rows) == {"k", "ts", "c"}
    assert rows["c"]["extras"] == "AS k * 2"
    assert rows["ts"]["watermark"] and "INTERVAL" in rows["ts"]["watermark"]
    assert rows["k"]["type"] == "BIGINT"
    cols = [r["name"] for r in eng.sql("DESCRIBE tdesc").collect()]
    assert cols == ["k", "ts", "c"]  # declared order
