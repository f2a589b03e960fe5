"""DDL front door — Flink's CREATE TABLE dialect on the engine's registry.

Flink parity: SqlCreateTable.java:55 (physical columns, WATERMARK clause at
:70/:282 via SqlWatermark.java, PARTITIONED BY, WITH options) and the
catalog statements in flink-sql-parser/.../ddl + dql (SHOW/DESCRIBE).

Supported subset:

    CREATE TABLE <name> (
        col1 TYPE, col2 TYPE, ...,
        computed AS <expr>,                  -- SqlCreateTable.java:248
        WATERMARK FOR <col> AS <col> - INTERVAL '<n>' <unit>
    ) [PARTITIONED BY (col, ...)]
    WITH ('connector'='filesystem', 'path'='...', 'format'='parquet', ...)

Catalog statements (flink-sql-parser ddl/dql inventory): SHOW TABLES ·
DESCRIBE [TABLE] t · DROP TABLE [IF EXISTS] t · ALTER TABLE t RENAME TO u ·
CREATE [TEMPORARY] VIEW v AS <query> · DROP VIEW [IF EXISTS] v — dispatched
by :func:`execute_statement`.

Every view of a registry table is built by :func:`scan_frame`, the one
``TableMeta`` → DataFrame path: it applies the declared schema on read,
the computed columns and the declared column order; the WATERMARK clause
becomes ``TableMeta.event_time_col/watermark_delay``, which it turns into
``withWatermark`` when ``EngineSession.stream_table`` asks for the stream —
exactly Flink's split between DDL-declared watermarks and runtime
assignment (WatermarkAssignerOperator).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from flink_1_12_2_spark.session import EngineSession, TableMeta
from flink_1_12_2_spark.sql.rewriter import interval_unit

_TYPE_MAP = {
    "STRING": "string",
    "VARCHAR": "string",
    "CHAR": "string",
    "BOOLEAN": "boolean",
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INT": "int",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "DATE": "date",
    "TIMESTAMP": "timestamp_ntz",  # Flink TIMESTAMP = without time zone
    "TIMESTAMP_LTZ": "timestamp",
    "BYTES": "binary",
    "VARBINARY": "binary",
    "BINARY": "binary",
}

_CREATE_HEAD = re.compile(
    r"(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s*\("
)
_PARTITIONED = re.compile(r"(?is)PARTITIONED\s+BY\s*\(([^)]*)\)")
_WITH = re.compile(r"(?is)WITH\s*\((.*)\)\s*$")
_WATERMARK = re.compile(
    r"(?is)WATERMARK\s+FOR\s+(?P<col>\w+)\s+AS\s+\w+\s*-\s*"
    r"INTERVAL\s+'(?P<n>[\d.]+)'\s+(?P<unit>\w+)"
)
_OPT = re.compile(r"'([^']+)'\s*=\s*'([^']*)'")


def parse_create_table(
    ddl: str,
) -> tuple[str, str | None, TableMeta, tuple[str, ...], list[tuple[str, str]]]:
    """Parse the DDL → (name, spark_schema_ddl|None, TableMeta,
    partition_cols, computed_columns)."""
    text = ddl.strip().rstrip(";")
    head = _CREATE_HEAD.search(text)
    if not head:
        raise ValueError("unsupported CREATE TABLE syntax (see sql/ddl.py doc)")
    # scan to the matching close paren of the column block
    depth, i = 1, head.end()
    start = i
    while i < len(text) and depth:
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise ValueError("unbalanced parentheses in CREATE TABLE")
    cols_raw, tail = text[start : i - 1], text[i:]
    wm_with = _WITH.search(tail)
    if not wm_with:
        raise ValueError("CREATE TABLE requires a WITH (...) options clause")
    part_m = _PARTITIONED.search(tail)
    opts = dict(_OPT.findall(wm_with.group(1)))
    connector = opts.pop("connector", "filesystem")

    def _required(key: str) -> str:
        # FactoryUtil.createTableFactoryHelper().validate() parity: a
        # missing required option is a descriptive ValidationException
        # naming the option, never a raw KeyError.
        try:
            return opts.pop(key)
        except KeyError:
            raise ValueError(
                f"connector {connector!r} requires a {key!r} option"
            ) from None

    if connector == "upsert-kafka":
        # UpsertKafkaDynamicTableFactory.java:68 — topic + json value
        # format; records are per-key upserts, tombstone = null value.
        # The emulation stores an explicit (batch, key, value) envelope
        # (sources/kafka_emu.publish_upsert) since the text transport has
        # no kafka record key/offset to ride on.
        path = _required("topic")
        fmt = opts.pop("value.format", opts.pop("format", "json"))
        if fmt not in ("json", "avro-confluent"):
            raise ValueError(
                "the upsert-kafka emulation supports 'json' and "
                "'avro-confluent' values (UpsertKafkaDynamicTableFactory"
                ".java:68 accepts the pluggable format stack; these are "
                "the two wired here)"
            )
        key_fmt = opts.pop("key.format", "json")
        if key_fmt != "json":
            raise ValueError(
                "the upsert-kafka emulation carries keys as 'json' "
                f"(got key.format={key_fmt!r})"
            )
        if "scan.startup.mode" in opts:
            # UpsertKafkaDynamicTableFactory has no startup mode: an
            # upsert source must always read from earliest to rebuild
            # the full per-key state
            raise ValueError(
                "'upsert-kafka' does not support 'scan.startup.mode' "
                "(state must be rebuilt from the earliest offset)"
            )
        vfi = opts.get("value.fields-include", "ALL").upper()
        if vfi not in ("ALL", "EXCEPT_KEY"):
            raise ValueError(
                "value.fields-include must be ALL or EXCEPT_KEY, "
                f"got {vfi!r}"
            )
    elif connector == "kafka":
        # KafkaDynamicTableFactory.java:95 option surface: 'topic' maps
        # to the emulated topic DIRECTORY (sources/kafka_emu.py — no
        # broker in this environment) and, for sources, accepts the
        # factory's semicolon-separated topic LIST; 'topic-pattern' is
        # the regex alternative (a filesystem glob here), exclusive with
        # 'topic' like the factory's validation. 'format' is the value
        # format (json/raw/CDC/avro-confluent); 'properties.*' and
        # 'scan.*' options are accepted and carried as metadata, like a
        # factory passing client properties through.
        if "topic" in opts and "topic-pattern" in opts:
            raise ValueError(
                "options 'topic' and 'topic-pattern' are exclusive"
            )
        if "topic-pattern" in opts:
            path = opts.pop("topic-pattern")
            opts["__topic-pattern"] = "true"  # source-only marker
        else:
            path = _required("topic")
        fmt = opts.pop("format", "json")
        _KAFKA_FORMATS = (
            "json", "raw", "debezium-json", "canal-json", "maxwell-json",
            "avro-confluent", "debezium-avro-confluent",
        )
        if fmt not in _KAFKA_FORMATS:
            raise ValueError(
                f"kafka value format {fmt!r} not supported "
                f"({', '.join(_KAFKA_FORMATS)})"
            )
    elif connector == "jdbc":
        # JdbcDynamicTableFactory option surface: url + table-name (+
        # driver/username/password/scan.partition.*) — embedded Derby
        # works live in this environment; server drivers drop in via
        # url/driver. meta.path carries the url; the rest stay options.
        path = _required("url")
        fmt = "jdbc"
        if "table-name" not in opts:
            raise ValueError("connector 'jdbc' requires 'table-name'")
    elif connector == "datagen":
        # DataGenTableSourceFactory.java:48 (sources/devgen.py): the
        # per-field kind/min/max/length/start/end options stay in the
        # option bag; there is no backing path
        path = "(datagen)"
        fmt = "datagen"
    elif connector in ("print", "blackhole"):
        # PrintTableSinkFactory / BlackHoleTableSinkFactory: sink-only
        path = f"({connector})"
        fmt = connector
    elif connector != "filesystem":
        raise ValueError(
            f"connector {connector!r} not available in this environment "
            "(filesystem, the kafka emulations, jdbc, and the "
            "datagen/print/blackhole dev connectors)"
        )
    else:
        path = _required("path")
        fmt = opts.pop("format", "parquet")

    cols_block = cols_raw
    wm = _WATERMARK.search(cols_block)
    event_time_col = delay = None
    if wm:
        event_time_col = wm.group("col")
        delay = f"{wm.group('n')} {interval_unit(wm.group('unit'))[0]}"
        cols_block = _WATERMARK.sub("", cols_block)

    def _split_top_level(s: str) -> list[str]:
        out, depth, cur = [], 0, []
        for ch in s:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        out.append("".join(cur))
        return out

    fields = []
    computed: list[tuple[str, str]] = []
    metadata_cols: list[tuple[str, str, str]] = []
    declared: list[str] = []
    primary_key: tuple[str, ...] = ()

    def _spark_type(ctype: str, carg: str | None, part: str) -> str:
        if ctype == "DECIMAL":
            return f"decimal({carg})" if carg else "decimal(10,0)"
        if ctype not in _TYPE_MAP:
            raise ValueError(f"unsupported type {ctype!r} in {part!r}")
        return _TYPE_MAP[ctype]

    for part in _split_top_level(cols_block):
        part = part.strip().rstrip(",")
        if not part:
            continue
        # inline PRIMARY KEY constraint (SqlTableConstraint — NOT
        # ENFORCED metadata like Flink: drives upsert/changelog
        # semantics, never a scan-time check)
        pk_m = re.match(
            r"(?is)^(?:CONSTRAINT\s+\w+\s+)?PRIMARY\s+KEY\s*"
            r"\(([^)]*)\)\s*(?:NOT\s+ENFORCED)?$",
            part,
        )
        if pk_m:
            primary_key = tuple(
                c.strip() for c in pk_m.group(1).split(",") if c.strip()
            )
            continue
        # computed column: `name AS <expr>` (SqlCreateTable.java:248);
        # applied as withColumn at view-definition time (SURVEY §1.4)
        comp = re.match(r"(?is)^(\w+)\s+AS\s+(.+)$", part)
        if comp:
            computed.append((comp.group(1), comp.group(2).strip()))
            declared.append(comp.group(1))
            continue
        # FLIP-107 metadata column (SqlMetadataColumn, new in Flink 1.12):
        # `name TYPE METADATA [FROM 'key'] [VIRTUAL]` — read from the
        # connector, not the value payload. All metadata is treated as
        # read-only here (excluded from INSERT's positional mapping),
        # which is Flink's VIRTUAL semantics; writable metadata sinks
        # are not wired.
        md = re.match(
            r"(?is)^(\w+)\s+(\w+)(?:\((\d+(?:,\s*\d+)?)\))?\s+METADATA"
            r"(?:\s+FROM\s+'([^']+)')?(\s+VIRTUAL)?$",
            part,
        )
        if md:
            cname, ctype, carg, key = (
                md.group(1), md.group(2).upper(), md.group(3), md.group(4),
            )
            metadata_cols.append(
                (cname, _spark_type(ctype, carg, part), key or cname)
            )
            declared.append(cname)
            continue
        cm = re.match(r"(?is)^(\w+)\s+(\w+)(?:\((\d+(?:,\s*\d+)?)\))?$", part)
        if not cm:
            raise ValueError(f"unsupported column definition: {part!r}")
        cname, ctype, carg = cm.group(1), cm.group(2).upper(), cm.group(3)
        spark_t = _spark_type(ctype, carg, part)
        fields.append(f"{cname} {spark_t}")
        declared.append(cname)
    schema = ", ".join(fields) if fields else None

    partition_cols = tuple(
        c.strip()
        for c in (part_m.group(1) if part_m else "").split(",")
        if c.strip()
    )
    meta = TableMeta(
        path=path,
        fmt=fmt,
        connector=connector,
        event_time_col=event_time_col,
        watermark_delay=delay,
        primary_key=primary_key,
        options=opts,
        columns=tuple(f.split()[0] for f in fields),
        schema_ddl=schema,
        metadata_cols=tuple(metadata_cols),
        declared_columns=tuple(declared),
        partition_cols=partition_cols,
        computed_cols=tuple(computed),
    )
    if metadata_cols and connector != "kafka":
        raise ValueError(
            "METADATA columns are wired for the 'kafka' connector "
            f"(got connector {connector!r})"
        )
    if connector == "upsert-kafka" and not primary_key:
        # UpsertKafkaDynamicTableFactory.java:68 validatePKConstraints
        raise ValueError("'upsert-kafka' requires a PRIMARY KEY")
    return head.group("name"), schema, meta, partition_cols, computed


_CREATE_LIKE = re.compile(
    r"(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
    r"(?:\(\s*\))?\s*"
    r"(?:WITH\s*\((?P<opts>.*?)\)\s*)?"
    r"LIKE\s+(\w+)\s*"
    r"(?:\(\s*(?P<likeopts>[^)]*)\)\s*)?;?\s*$"
)
_OPT_PAIR = re.compile(r"'([^']+)'\s*=\s*'([^']*)'")


_LIKE_STRATEGY = re.compile(
    r"(?i)\b(INCLUDING|EXCLUDING|OVERWRITING)\s+"
    r"(ALL|CONSTRAINTS|GENERATED|METADATA|OPTIONS|PARTITIONS|WATERMARKS)\b"
)


def _create_table_like(engine: EngineSession, m: "re.Match"):
    """CREATE TABLE new [WITH (...)] LIKE base (SqlTableLike.java): clone the
    base table's registry metadata (path/format/watermark/PK), with WITH
    options overriding — Flink's OVERWRITING OPTIONS merge strategy — and
    the reference's per-feature merge strategies honored where the
    registry carries the feature: ``EXCLUDING OPTIONS`` starts from an
    empty option map, ``EXCLUDING WATERMARKS`` drops the watermark clause,
    ``EXCLUDING CONSTRAINTS`` drops the PK, ``EXCLUDING ALL`` all three
    (SqlTableLike.MergingStrategy / FeatureOption). The new table is
    immediately queryable (same view definition)."""
    import dataclasses

    new, base = m.group(1), m.group(3)
    base_meta = engine.meta(base)
    if base_meta is None:
        raise ValueError(f"LIKE source table {base!r} is not registered")
    likeopts = m.group("likeopts") or ""
    strategies = {
        feat.upper(): strat.upper()
        for strat, feat in _LIKE_STRATEGY.findall(likeopts)
    }
    if "ALL" in strategies:
        for feat in ("OPTIONS", "WATERMARKS", "CONSTRAINTS"):
            strategies.setdefault(feat, strategies["ALL"])
    overrides = dict(
        _OPT_PAIR.findall((m.group("opts") or "") + likeopts)
    )
    base_opts = (
        {} if strategies.get("OPTIONS") == "EXCLUDING" else base_meta.options
    )
    meta = dataclasses.replace(
        base_meta,
        path=overrides.get("path", base_meta.path),
        fmt=overrides.get("format", base_meta.fmt),
        options={
            **base_opts,
            **{
                k: v
                for k, v in overrides.items()
                if k not in ("connector", "path", "format")
            },
        },
    )
    if strategies.get("WATERMARKS") == "EXCLUDING":
        meta = dataclasses.replace(
            meta, event_time_col=None, watermark_delay=None
        )
    if strategies.get("CONSTRAINTS") == "EXCLUDING":
        meta = dataclasses.replace(meta, primary_key=())
    if strategies.get("PARTITIONS") == "EXCLUDING":
        # SqlTableLike FeatureOption.PARTITIONS: the clone loses the
        # base's PARTITIONED BY keys (writes go unpartitioned)
        meta = dataclasses.replace(meta, partition_cols=())
    if strategies.get("GENERATED") == "EXCLUDING":
        # FeatureOption.GENERATED: computed columns don't clone
        meta = dataclasses.replace(meta, computed_cols=())
    if os.path.exists(meta.path):
        engine.register_table(new, meta)
    else:
        engine.register_sink(new, meta)
    return engine.spark.createDataFrame([("OK",)], "result string")


def scan_frame(engine, meta, streaming: bool = False) -> "DataFrame":
    """The one place a registry ``TableMeta`` becomes a DataFrame (Flink's
    one table source per table, FactoryUtil.createTableSource, scanned by
    the batch and the streaming planner alike). Every view of a table —
    ``register_table``'s plain view, OPTIONS-hinted scans, LIKE clones,
    the view re-exposed after INSERT, kafka refreshes and
    ``stream_table`` — is built here, in four steps:

    1. connector dispatch: filesystem (Flink format options mapped, csv
       header, the declared schema), kafka, upsert-kafka, jdbc, datagen;
       print/blackhole are sink-only and raise;
    2. computed columns;
    3. the DDL's declared column order — only when the scan exposes
       exactly the declared columns, so engine columns of a CDC scan
       (``_row_kind``) survive;
    4. the WATERMARK, when ``streaming``."""
    spark = engine.spark
    c = meta.connector
    if c in ("print", "blackhole"):
        raise ValueError(f"{c!r} is a sink-only connector")
    if c == "jdbc":
        if streaming:
            raise ValueError(
                "jdbc tables are bounded scans (+ lookup joins) — Flink's "
                "jdbc source has no unbounded mode either"
            )
        df = _jdbc_frame(spark, meta)
    elif c == "upsert-kafka":
        from flink_1_12_2_spark.sources import kafka_emu

        args = (spark, meta.path, meta.schema_ddl or "",
                list(meta.primary_key))
        kw = {"value_format": meta.fmt, "options": meta.options}
        if streaming:
            # the stream is the source's changelog; the bounded scan is
            # its normalized latest state
            df = kafka_emu.read_upsert_topic_changelog(
                *args, streaming=True, **kw
            )
        else:
            df = kafka_emu.read_upsert_topic_batch(*args, **kw)
    elif c == "kafka":
        from flink_1_12_2_spark.sources.kafka_emu import topic_table

        df = topic_table(
            spark, meta.path, meta.fmt,
            payload_schema=meta.schema_ddl or "",
            options=meta.options,
            metadata_cols=meta.metadata_cols,
            streaming=streaming,
        )
    elif c == "datagen":
        from flink_1_12_2_spark.sources.devgen import (
            datagen_frame,
            datagen_stream,
        )

        gen = datagen_stream if streaming else datagen_frame
        df = gen(spark, meta.schema_ddl or "", meta.options)
    else:
        opts = _format_scan_options(meta.fmt, meta.options)
        if meta.fmt == "csv":
            opts["header"] = "true"
        schema = meta.schema_ddl
        if streaming and not schema:
            # a file stream needs its physical schema up front: take the
            # bounded scan's
            schema = spark.read.format(meta.fmt).options(**opts).load(
                meta.path
            ).schema
        reader = (spark.readStream if streaming else spark.read).format(
            meta.fmt
        ).options(**opts)
        if schema:
            reader = reader.schema(schema)
        df = reader.load(meta.path)
    if meta.computed_cols:
        # PROCTIME() is the canonical Flink computed column; any other
        # Flink-name expression goes through the engine's rewrite pass
        from flink_1_12_2_spark.sql.rewriter import rewrite_expr

        for cname, cexpr in meta.computed_cols:
            df = df.withColumn(cname, F.expr(rewrite_expr(cexpr)))
    if meta.declared_columns and set(meta.declared_columns) == set(
        df.columns
    ):
        df = df.select(*meta.declared_columns)
    if streaming and meta.event_time_col and meta.watermark_delay:
        df = df.withWatermark(meta.event_time_col, meta.watermark_delay)
    return df


def _format_scan_options(fmt: str, opts: dict) -> dict:
    """Map Flink format options (flink-formats/flink-csv CsvOptions,
    flink-json JsonOptions) onto Spark reader options; unmapped keys
    pass through (Spark ignores unknown reader options).

    - csv.field-delimiter → sep; csv.null-literal → nullValue;
      csv.quote-character → quote; csv.escape-character → escape;
      csv.allow-comments → comment '#'
    - {csv,json}.ignore-parse-errors: Flink SKIPS the bad record →
      DROPMALFORMED; absent/false = fail on malformed → FAILFAST
      (Spark's silent-null PERMISSIVE default matches neither).
    """
    mapped = dict(opts)
    ipe = mapped.pop(f"{fmt}.ignore-parse-errors", None)
    if fmt in ("csv", "json"):
        mapped["mode"] = (
            "DROPMALFORMED"
            if (ipe or "").lower() == "true"
            else "FAILFAST"
        )
    renames = {
        "csv.field-delimiter": "sep",
        "csv.null-literal": "nullValue",
        "csv.quote-character": "quote",
        "csv.escape-character": "escape",
    }
    for flink_key, spark_key in renames.items():
        if flink_key in mapped:
            mapped[spark_key] = mapped.pop(flink_key)
    if (mapped.pop("csv.allow-comments", "") or "").lower() == "true":
        mapped["comment"] = "#"
    return mapped


def _jdbc_frame(spark, meta):
    """Scan a jdbc-connector table from its registry metadata
    (JdbcDynamicTableSource: scan.partition.* → Spark's range options)."""
    from flink_1_12_2_spark.sources.jdbc import DERBY_DRIVER, jdbc_read

    o = meta.options
    extra = {
        k: v
        for k, v in o.items()
        if k in ("user", "username", "password")
    }
    if "username" in extra:  # Flink name → JDBC property name
        extra["user"] = extra.pop("username")
    if "scan.fetch-size" in o:
        # JdbcDynamicTableFactory SCAN_FETCH_SIZE → Spark's fetchsize
        # (rows per remote-cursor round trip, 1:1 semantics)
        extra["fetchsize"] = str(int(o["scan.fetch-size"]))
    # scan.auto-commit needs no mapping: Spark's jdbc reader manages the
    # connection's commit mode itself (disabling auto-commit is exactly
    # what the option exists for on postgres-style cursored fetches)
    pc = o.get("scan.partition.column")
    return jdbc_read(
        spark,
        meta.path,
        o["table-name"],
        driver=o.get("driver", DERBY_DRIVER),
        partition_column=pc,
        num_partitions=(
            int(o["scan.partition.num"]) if "scan.partition.num" in o else None
        ),
        lower_bound=(
            int(o["scan.partition.lower-bound"])
            if "scan.partition.lower-bound" in o
            else None
        ),
        upper_bound=(
            int(o["scan.partition.upper-bound"])
            if "scan.partition.upper-bound" in o
            else None
        ),
        options=extra,
    )


def execute_ddl(engine: EngineSession, ddl: str):
    """Execute a CREATE TABLE statement against the engine's registry: a
    table whose source exists gets its scan view (``register_table`` →
    :func:`scan_frame`), any other is registered as a sink."""
    like = _CREATE_LIKE.match(ddl)
    if like:
        return _create_table_like(engine, like)
    name, schema, meta, _part, _computed = parse_create_table(ddl)
    if engine._catalog_types.get(engine._current_catalog) == "hive":
        # hive-catalog shim: the table persists in the Spark session
        # catalog (external table over the declared path) instead of a
        # temp view — HiveCatalog.java's defining behavior. WATERMARK /
        # computed-column metadata stays registry-level (exactly Flink:
        # the metastore stores them as table properties the planner, not
        # Hive, interprets); stream_table() still applies them.
        cat = engine._current_catalog
        cols = f" ({schema})" if schema else ""
        part = f" PARTITIONED BY ({', '.join(_part)})" if _part else ""
        engine.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {cat}.{name}{cols} "
            f"USING {meta.fmt}{part} LOCATION '{meta.path}'"
        )
        engine._tables[name] = meta
        engine._catalogs.setdefault(cat, set()).add(name)
        return engine.spark.createDataFrame([("OK",)], "result string")
    if meta.connector == "datagen":
        from flink_1_12_2_spark.sources.devgen import _bounded_rows

        # unbounded: meta only — stream_table() reads it; a batch scan
        # fails in datagen_frame with the bound-it-or-stream-it error
        scannable = (
            _bounded_rows(meta.schema_ddl or "", meta.options) is not None
        )
    elif meta.connector in ("print", "blackhole"):
        scannable = False
    elif meta.connector == "jdbc":
        scannable = True  # the store answers below
    elif meta.connector in ("kafka", "upsert-kafka"):
        from flink_1_12_2_spark.sources.kafka_emu import _topic_paths

        scannable = any(os.path.exists(p) for p in _topic_paths(meta.path))
    else:
        scannable = os.path.exists(meta.path)
    if scannable:
        # kafka views re-scan whenever the topic fingerprint changes —
        # they resolve at query time like Flink's, not at CREATE time
        try:
            engine.register_table(name, meta)
            return engine.spark.table(name)
        except Exception as e:  # noqa: BLE001 — see filter below
            # Flink's CREATE TABLE never contacts a jdbc store; here the
            # view materializes eagerly, so ONLY a missing remote table
            # means "sink-first" (INSERT creates it, then re-exposes the
            # scan). Connection/driver/auth failures must surface AT DDL
            # TIME — a silent sink would defer them to a confusing
            # missing-view error later (r11 advice).
            from flink_1_12_2_spark.sources.jdbc import table_missing_error

            if meta.connector != "jdbc" or not table_missing_error(e):
                raise
    # sink table: the path doesn't exist yet (Flink's CREATE TABLE for a
    # filesystem sink, or a kafka topic nothing has produced to) —
    # register metadata only, INSERT/publish will create it (for kafka
    # topics the first query-time refresh then builds the scan view)
    engine.register_sink(name, meta)
    return engine.spark.createDataFrame([("OK",)], "result string")


# ---- catalog statements (ddl/dql inventory) --------------------------------

_SHOW_TABLES = re.compile(r"(?is)^\s*SHOW\s+TABLES\s*;?\s*$")
_DESCRIBE = re.compile(r"(?is)^\s*DESCRIBE\s+(?:TABLE\s+)?(\w+)\s*;?\s*$")
_DROP_TABLE = re.compile(
    r"(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$"
)
_ALTER_RENAME = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+TO\s+(\w+)\s*;?\s*$"
)
_CREATE_VIEW = re.compile(
    r"(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(\w+)\s+AS\s+(.*)$"
)
_DROP_VIEW = re.compile(r"(?is)^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$")
_SHOW_DATABASES = re.compile(r"(?is)^\s*SHOW\s+DATABASES\s*;?\s*$")
_SHOW_CURRENT_DB = re.compile(r"(?is)^\s*SHOW\s+CURRENT\s+DATABASE\s*;?\s*$")
_SHOW_CATALOGS = re.compile(r"(?is)^\s*SHOW\s+CATALOGS\s*;?\s*$")
_SHOW_VIEWS = re.compile(r"(?is)^\s*SHOW\s+VIEWS\s*;?\s*$")
_SHOW_FUNCTIONS = re.compile(r"(?is)^\s*SHOW\s+(?P<user>USER\s+)?FUNCTIONS\s*;?\s*$")
# CREATE [TEMPORARY] [SYSTEM] FUNCTION [IF NOT EXISTS] f AS '<dotted.path>'
# [LANGUAGE PYTHON] — SqlCreateFunction.java (the JVM dialect points AS at a
# classpath class; the Python engine's analogue is a module attribute path)
_CREATE_FUNCTION = re.compile(
    r"(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s+AS\s+"
    r"'(?P<path>[\w.]+)'\s*(?:LANGUAGE\s+(?P<lang>\w+))?\s*;?\s*$"
)
_DROP_FUNCTION = re.compile(
    r"(?is)^\s*DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
    r"(?P<ie>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$"
)
_ALTER_FUNCTION = re.compile(
    r"(?is)^\s*ALTER\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
    r"(?P<name>\w+)\s+AS\s+'(?P<path>[\w.]+)'\s*"
    r"(?:LANGUAGE\s+(?P<lang>\w+))?\s*;?\s*$"
)


def _import_function(path: str):
    """Resolve a dotted ``module.attr`` path to the callable it names."""
    import importlib

    mod_path, _, attr = path.rpartition(".")
    if not mod_path:
        raise ValueError(
            f"function path {path!r} must be a dotted module.attribute path"
        )
    try:
        mod = importlib.import_module(mod_path)
    except ImportError as e:
        raise ValueError(f"cannot import module {mod_path!r}: {e}") from e
    try:
        return getattr(mod, attr)
    except AttributeError as e:
        raise ValueError(f"module {mod_path!r} has no attribute {attr!r}") from e


def _register_function(engine: EngineSession, name: str, path: str) -> None:
    """Register the callable at ``path`` (typically a ``functions.udf``-
    decorated pandas UDF) under ``name`` for SQL use."""
    engine.spark.udf.register(name, _import_function(path))
    engine._functions[name] = path


def _register_jvm_function(
    engine: EngineSession, name: str, cls: str
) -> None:
    """Register a JVM function class (``LANGUAGE JAVA``/``SCALA``) —
    SqlCreateFunction's default dialect, where AS names a classpath class
    (reference: flink-sql-parser/.../SqlCreateFunction.java:98, and
    flink-connector-hive's HiveFunctionDefinitionFactory for Hive UDF
    classes). Delegates to Spark's ``CREATE OR REPLACE TEMPORARY
    FUNCTION``: Spark-native ``UDF0..22``/``Aggregator`` classes work on
    any session; Hive ``UDF``/``GenericUDF``/``UDAF`` classes additionally
    need a hive-enabled session (``session.get_spark(hive=True)``), which
    this sandbox's bundled spark-hive jars support — surfaced as a clear
    error otherwise."""
    try:
        engine.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name} AS '{cls}'"
        )
    except Exception as e:
        if "CANNOT_LOAD_FUNCTION_CLASS" in str(e):
            raise ValueError(
                f"cannot load JVM class {cls!r}: not on the classpath"
            ) from e
        raise
    # Registration is LAZY — the expression builder (which is where a
    # vanilla session rejects Hive classes) only runs when an expression
    # references the function. Probe with a 0-arg analysis: NO_HANDLER /
    # CANNOT_LOAD fire before arity checking, so any OTHER analysis error
    # (wrong arg count, type mismatch) proves the handler was built.
    try:
        engine.spark.sql(f"SELECT {name}()")
    except Exception as e:
        msg = str(e)
        if "NO_HANDLER_FOR_UDAF" in msg or "CANNOT_LOAD_FUNCTION_CLASS" in msg:
            engine.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
            raise ValueError(
                f"JVM function class {cls!r} could not be wrapped on this "
                "session: Hive UDF/GenericUDF/UDAF classes require a "
                "hive-enabled SparkSession "
                "(flink_1_12_2_spark.session.get_spark(hive=True) — a "
                "static conf, set before the first session of the JVM); "
                "Spark-native UDF0..22/Aggregator classes work on any "
                "session"
            ) from e
        # arity/type errors: the class resolved and wrapped fine
    engine._functions[name] = cls
_CREATE_DATABASE = re.compile(
    r"(?is)^\s*CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*;?\s*$"
)
_DROP_DATABASE = re.compile(
    r"(?is)^\s*DROP\s+DATABASE\s+(?:IF\s+EXISTS\s+)?(\w+)(\s+CASCADE)?\s*;?\s*$"
)
_USE_DB = re.compile(r"(?is)^\s*USE\s+(\w+)\s*;?\s*$")
_SHOW_PARTITIONS = re.compile(
    r"(?is)^\s*SHOW\s+PARTITIONS\s+(\w+)\s*;?\s*$"
)
_DESCRIBE_DATABASE = re.compile(
    r"(?is)^\s*DESCRIBE\s+DATABASE\s+(?:EXTENDED\s+)?(\w+)\s*;?\s*$"
)
_DESCRIBE_CATALOG = re.compile(
    r"(?is)^\s*DESCRIBE\s+CATALOG\s+(\w+)\s*;?\s*$"
)
_ALTER_VIEW_RENAME = re.compile(
    r"(?is)^\s*ALTER\s+VIEW\s+(\w+)\s+RENAME\s+TO\s+(\w+)\s*;?\s*$"
)
_ALTER_VIEW_AS = re.compile(
    r"(?is)^\s*ALTER\s+VIEW\s+(\w+)\s+AS\s+(.+?)\s*;?\s*$"
)
_ALTER_TABLE_SET = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+SET\s*\((.*)\)\s*;?\s*$"
)
# SqlAddPartitions.java / SqlDropPartitions.java — hive-style partition
# lifecycle for path-backed tables (one or more PARTITION (k=v,...) specs)
_ADD_PARTITIONS = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ADD\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<specs>(?:PARTITION\s*\([^)]*\)\s*)+)"
    r";?\s*$"
)
_DROP_PARTITIONS = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+DROP\s+"
    r"(?P<ie>IF\s+EXISTS\s+)?(?P<specs>(?:PARTITION\s*\([^)]*\)\s*,?\s*)+)"
    r";?\s*$"
)
_PART_SPEC = re.compile(r"(?is)PARTITION\s*\(([^)]*)\)")
# SqlAlterTableAddConstraint / SqlAlterTableDropConstraint — PK metadata
# (NOT ENFORCED, like Flink: drives upsert/changelog semantics, no scan)
_ADD_CONSTRAINT = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ADD\s+CONSTRAINT\s+"
    r"(?P<cname>\w+)\s+PRIMARY\s+KEY\s*\((?P<cols>[^)]*)\)\s*"
    r"(?:NOT\s+ENFORCED)?\s*;?\s*$"
)
_DROP_CONSTRAINT = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+DROP\s+CONSTRAINT\s+"
    r"(?P<cname>\w+)\s*;?\s*$"
)
# SqlAlterDatabase.java / SqlAlterViewProperties.java — property bags
# (GenericInMemoryCatalog stores them in a map; same here)
_ALTER_DATABASE_SET = re.compile(
    r"(?is)^\s*ALTER\s+DATABASE\s+(\w+)\s+SET\s*\((.*)\)\s*;?\s*$"
)
_ALTER_VIEW_SET = re.compile(
    r"(?is)^\s*ALTER\s+VIEW\s+(\w+)\s+SET\s*\((.*)\)\s*;?\s*$"
)
# SqlAddReplaceColumns.java / SqlChangeColumn.java — schema evolution on
# the READ path (view layer): parquet/orc resolve columns by name, so
# renames/addition/type changes re-shape the registered view, never the files
_ADD_COLUMNS = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+ADD\s+COLUMNS\s*"
    r"\((?P<cols>.*)\)\s*;?\s*$"  # greedy: types may carry (p,s) parens
)
_REPLACE_COLUMNS = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+REPLACE\s+COLUMNS\s*"
    r"\((?P<cols>.*)\)\s*;?\s*$"
)
_CHANGE_COLUMN = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(?P<name>\w+)\s+CHANGE\s+(?:COLUMN\s+)?"
    r"(?P<old>\w+)\s+(?P<new>\w+)\s+(?P<type>\w+(?:\([^)]*\))?)\s*;?\s*$"
)


def _parse_part_specs(specs: str) -> list[dict[str, str]]:
    out = []
    for g in _PART_SPEC.findall(specs):
        spec: dict[str, str] = {}
        for kv in g.split(","):
            if not kv.strip():
                continue
            k, _, v = kv.partition("=")
            spec[k.strip()] = v.strip().strip("'\"")
        out.append(spec)
    return out


def _part_dir(meta, spec: dict[str, str]) -> str:
    return os.path.join(
        meta.path, *[f"{k}={v}" for k, v in spec.items()]
    )


def _parse_col_list(cols: str) -> list[tuple[str, str]]:
    """Split ``a INT, b DECIMAL(10,2)`` into (name, type) pairs —
    comma-split at paren depth 0 so parameterized types stay whole."""
    out, depth, cur = [], 0, []
    for ch in cols:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        out.append("".join(cur))
    pairs = []
    for item in out:
        parts = item.strip().split(None, 1)
        if len(parts) != 2:
            raise ValueError(f"bad column definition: {item.strip()!r}")
        pairs.append((parts[0], parts[1]))
    return pairs
# CREATE CATALOG c WITH ('type'='generic_in_memory') — SqlCreateCatalog.java;
# only the in-memory catalog type has a live analogue here (hive/jdbc
# catalogs need external services)
_CREATE_CATALOG = re.compile(
    r"(?is)^\s*CREATE\s+CATALOG\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)\s*"
    r"(?:WITH\s*\((?P<opts>.*?)\))?\s*;?\s*$"
)
_DROP_CATALOG = re.compile(
    r"(?is)^\s*DROP\s+CATALOG\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$"
)
_USE_CATALOG = re.compile(r"(?is)^\s*USE\s+CATALOG\s+(?P<name>\w+)\s*;?\s*$")
# module statements (ModuleManager state; SHOW MODULES lists the USED
# modules in resolution order, FULL adds the used flag per loaded module)
_SHOW_MODULES = re.compile(
    r"(?is)^\s*SHOW\s+(?P<full>FULL\s+)?MODULES\s*;?\s*$"
)
_LOAD_MODULE = re.compile(
    r"(?is)^\s*LOAD\s+MODULE\s+(?P<name>\w+)"
    r"(?:\s+WITH\s*\((?P<opts>.*?)\))?\s*;?\s*$"
)
_UNLOAD_MODULE = re.compile(
    r"(?is)^\s*UNLOAD\s+MODULE\s+(?P<name>\w+)\s*;?\s*$"
)
_USE_MODULES = re.compile(
    r"(?is)^\s*USE\s+MODULES\s+(?P<names>\w+(?:\s*,\s*\w+)*)\s*;?\s*$"
)
_SHOW_CURRENT_CATALOG = re.compile(
    r"(?is)^\s*SHOW\s+CURRENT\s+CATALOG\s*;?\s*$"
)


def execute_statement(engine: EngineSession, stmt: str):
    """Dispatch a catalog statement; returns a result DataFrame (Flink's
    ``TableResult`` shape: SHOW/DESCRIBE return rows, mutations return OK).
    Returns None when the statement is not a catalog statement."""
    spark = engine.spark

    def _ok() -> "DataFrame":
        return spark.createDataFrame([("OK",)], "result string")

    m = _SHOW_MODULES.match(stmt)
    if m:
        if m.group("full"):
            return spark.createDataFrame(
                engine.modules.list_full_modules() or [],
                "module_name string, used boolean",
            )
        return spark.createDataFrame(
            [(n,) for n in engine.modules.list_modules()] or [],
            "module_name string",
        )
    m = _LOAD_MODULE.match(stmt)
    if m:
        from flink_1_12_2_spark.modules import CoreModule, HiveModule

        name = m.group("name").lower()
        if name == "core":
            module = CoreModule.INSTANCE
        elif name == "hive":
            module = HiveModule(spark)
        else:
            raise ValueError(
                f"Could not find a module factory for identifier "
                f"{name!r} (available: core, hive)"
            )
        engine.modules.load_module(name, module)
        return _ok()
    m = _UNLOAD_MODULE.match(stmt)
    if m:
        engine.modules.unload_module(m.group("name").lower())
        return _ok()
    m = _USE_MODULES.match(stmt)
    if m:
        engine.modules.use_modules(
            *[n.strip() for n in m.group("names").split(",")]
        )
        return _ok()
    if _SHOW_TABLES.match(stmt):
        if engine._catalog_types.get(engine._current_catalog) == "hive":
            # hive catalogs are Spark databases: list from the session
            # catalog so tables created by OTHER sessions appear too (the
            # persistence property the shim exists for)
            names = sorted(
                t.name
                for t in spark.catalog.listTables(engine._current_catalog)
                if not t.isTemporary
            )
        elif engine._current_catalog != "default_catalog":
            # non-default catalog: only the tables registered under it
            names = sorted(engine._catalogs.get(engine._current_catalog, ()))
        else:
            names = sorted(
                set(engine._tables)
                | {v.name for v in spark.catalog.listTables() if v.isTemporary}
            )
        return spark.createDataFrame(
            [(n,) for n in names] or [], "table_name string"
        )
    m = _DESCRIBE_DATABASE.match(stmt)
    if m:
        return spark.sql(f"DESCRIBE DATABASE {m.group(1)}")
    m = _DESCRIBE_CATALOG.match(stmt)
    if m:
        name = m.group(1)
        if name not in engine._catalogs:
            raise ValueError(f"catalog {name!r} does not exist")
        return spark.createDataFrame(
            [("name", name), ("type", "generic_in_memory"),
             ("tables", str(len(engine._catalogs[name])))],
            "info_name string, info_value string",
        )
    m = _SHOW_PARTITIONS.match(stmt)
    if m:
        # SqlShowPartitions: list hive-style partition dirs of the table's
        # path (Spark's SHOW PARTITIONS needs a metastore table; registry
        # tables are path-backed, so enumerate partition directories)
        name = m.group(1)
        meta = engine._tables.get(name)
        if meta is None:
            raise ValueError(f"table {name!r} is not registered")
        parts = sorted(
            d
            for d in os.listdir(meta.path)
            if "=" in d and os.path.isdir(os.path.join(meta.path, d))
        )
        return spark.createDataFrame(
            [(p,) for p in parts] or [], "partition string"
        )
    m = _DESCRIBE.match(stmt)
    if m:
        meta = engine._tables.get(m.group(1))
        if meta is not None:
            return _describe_registry_table(engine, m.group(1), meta)
        return spark.sql(f"DESCRIBE {m.group(1)}")
    m = _DROP_TABLE.match(stmt)
    if m:
        spark.catalog.dropTempView(m.group(1))
        engine._tables.pop(m.group(1), None)
        # a later CREATE TABLE with the same name must not inherit the
        # dropped table's topic fingerprint (computed columns travel on
        # TableMeta and die with it)
        engine._kafka_fps.pop(m.group(1), None)
        return _ok()
    m = _ALTER_VIEW_RENAME.match(stmt)
    if m:
        old, new = m.group(1), m.group(2)
        spark.table(old).createOrReplaceTempView(new)
        spark.catalog.dropTempView(old)
        return _ok()
    m = _ALTER_VIEW_AS.match(stmt)
    if m:
        engine.sql(m.group(2)).createOrReplaceTempView(m.group(1))
        return _ok()
    m = _ALTER_TABLE_SET.match(stmt)
    if m:
        # SqlAlterTableProperties: merge WITH-style options into the
        # registry metadata (applied on the next read/stream of the table)
        name = m.group(1)
        meta = engine._tables.get(name)
        if meta is None:
            raise ValueError(f"table {name!r} is not registered")
        meta.options.update(dict(_OPT.findall(m.group(2))))
        return _ok()
    m = _ADD_CONSTRAINT.match(stmt)
    if m:
        # SqlAlterTableAddConstraint: PRIMARY KEY ... NOT ENFORCED is
        # metadata (Flink never validates it with a scan either) — it
        # drives changelog-normalize / upsert-sink key derivation
        name = m.group("name")
        meta = engine._tables.get(name)
        if meta is None:
            raise ValueError(f"table {name!r} is not registered")
        meta.primary_key = tuple(
            c.strip() for c in m.group("cols").split(",") if c.strip()
        )
        return _ok()
    m = _DROP_CONSTRAINT.match(stmt)
    if m:
        name = m.group("name")
        meta = engine._tables.get(name)
        if meta is None:
            raise ValueError(f"table {name!r} is not registered")
        meta.primary_key = ()
        return _ok()
    m = _ADD_PARTITIONS.match(stmt)
    if m:
        # SqlAddPartitions: create the hive-style partition directories
        # under the table path (an empty partition is a real, listable
        # partition — SHOW PARTITIONS sees it; scans see it once data
        # lands, exactly like a hive ADD PARTITION without location data)
        name = m.group("name")
        meta = engine._tables.get(name)
        if meta is None:
            raise ValueError(f"table {name!r} is not registered")
        for spec in _parse_part_specs(m.group("specs")):
            d = _part_dir(meta, spec)
            if os.path.isdir(d):
                if not m.group("ine"):
                    raise ValueError(f"partition {spec} already exists")
                continue
            os.makedirs(d, exist_ok=True)
        return _ok()
    m = _DROP_PARTITIONS.match(stmt)
    if m:
        # SqlDropPartitions: remove the partition's directory and refresh
        # the view so subsequent scans stop seeing its rows
        import shutil

        name = m.group("name")
        meta = engine._tables.get(name)
        if meta is None:
            raise ValueError(f"table {name!r} is not registered")
        for spec in _parse_part_specs(m.group("specs")):
            d = _part_dir(meta, spec)
            if not os.path.isdir(d):
                if not m.group("ie"):
                    raise ValueError(f"partition {spec} does not exist")
                continue
            shutil.rmtree(d)
        spark.sql(f"REFRESH TABLE {name}")
        return _ok()
    m = _ADD_COLUMNS.match(stmt)
    if m:
        # SqlAddReplaceColumns (ADD): extend the view with NULL-typed
        # columns — parquet/orc files without them read as NULL, the
        # standard by-name schema-evolution contract
        name = m.group("name")
        if name not in engine._tables:
            raise ValueError(f"table {name!r} is not registered")
        df = spark.table(name)
        for cname, ctype in _parse_col_list(m.group("cols")):
            df = df.withColumn(cname, F.lit(None).cast(ctype))
        df.createOrReplaceTempView(name)
        return _ok()
    m = _REPLACE_COLUMNS.match(stmt)
    if m:
        # SqlAddReplaceColumns (REPLACE): hive semantics — the new list
        # replaces the schema POSITIONALLY (existing physical columns map
        # by position, renamed/retyped on read; extra new columns NULL)
        name = m.group("name")
        if name not in engine._tables:
            raise ValueError(f"table {name!r} is not registered")
        df = spark.table(name)
        old_cols = df.columns
        sel = []
        for i, (cname, ctype) in enumerate(_parse_col_list(m.group("cols"))):
            if i < len(old_cols):
                sel.append(F.col(old_cols[i]).cast(ctype).alias(cname))
            else:
                sel.append(F.lit(None).cast(ctype).alias(cname))
        df.select(*sel).createOrReplaceTempView(name)
        return _ok()
    m = _CHANGE_COLUMN.match(stmt)
    if m:
        # SqlChangeColumn: rename + retype one column on the read path
        name = m.group("name")
        if name not in engine._tables:
            raise ValueError(f"table {name!r} is not registered")
        df = spark.table(name)
        if m.group("old") not in df.columns:
            raise ValueError(
                f"column {m.group('old')!r} not in table {name!r}"
            )
        df = df.withColumn(
            m.group("old"), F.col(m.group("old")).cast(m.group("type"))
        ).withColumnRenamed(m.group("old"), m.group("new"))
        df.createOrReplaceTempView(name)
        return _ok()
    m = _ALTER_DATABASE_SET.match(stmt)
    if m:
        # SqlAlterDatabase: property bag on the database, like
        # GenericInMemoryCatalog.alterDatabase (a map update). The
        # reference throws DatabaseNotExistException for unknown names
        # (GenericInMemoryCatalog.alterDatabase) — a silent setdefault
        # would swallow typos (r10 ADVICE).
        name = m.group(1)
        if not spark.catalog.databaseExists(name):
            raise ValueError(f"database {name!r} does not exist")
        engine._db_props.setdefault(name, {}).update(
            dict(_OPT.findall(m.group(2)))
        )
        return _ok()
    m = _ALTER_VIEW_SET.match(stmt)
    if m:
        # ViewNotExistException parity: the view must be registered
        name = m.group(1)
        if not spark.catalog.tableExists(name):
            raise ValueError(f"view {name!r} does not exist")
        engine._view_props.setdefault(name, {}).update(
            dict(_OPT.findall(m.group(2)))
        )
        return _ok()
    m = _ALTER_RENAME.match(stmt)
    if m:
        old, new = m.group(1), m.group(2)
        df = spark.table(old)
        df.createOrReplaceTempView(new)
        spark.catalog.dropTempView(old)
        if old in engine._tables:
            engine._tables[new] = engine._tables.pop(old)
        # fingerprint state follows the rename (computed columns ride
        # the moved TableMeta itself)
        if old in engine._kafka_fps:
            engine._kafka_fps[new] = engine._kafka_fps.pop(old)
        return _ok()
    m = _CREATE_VIEW.match(stmt)
    if m:
        engine.sql(m.group(2)).createOrReplaceTempView(m.group(1))
        return _ok()
    m = _DROP_VIEW.match(stmt)
    if m:
        spark.catalog.dropTempView(m.group(1))
        return _ok()
    # -- database / catalog statements (SqlCreateDatabase / dql/SqlShow*) ---
    if _SHOW_DATABASES.match(stmt):
        return spark.sql("SHOW DATABASES").withColumnRenamed(
            "namespace", "database_name"
        )
    if _SHOW_CURRENT_DB.match(stmt):
        return spark.createDataFrame(
            [(spark.catalog.currentDatabase(),)], "database_name string"
        )
    if _SHOW_CATALOGS.match(stmt):
        spark_cats = {r[0] for r in spark.sql("SHOW CATALOGS").collect()}
        names = sorted(spark_cats | set(engine._catalogs))
        return spark.createDataFrame(
            [(n,) for n in names], "catalog_name string"
        )
    if _SHOW_CURRENT_CATALOG.match(stmt):
        return spark.createDataFrame(
            [(engine._current_catalog,)], "catalog_name string"
        )
    m = _CREATE_CATALOG.match(stmt)
    if m:
        opts = dict(_OPT.findall(m.group("opts") or ""))
        ctype = opts.get("type", "generic_in_memory")
        name = m.group("name")
        if ctype == "hive":
            # HiveCatalog shim (flink-connectors/flink-connector-hive
            # HiveCatalog.java): the defining feature is PERSISTENCE —
            # tables registered under it outlive the TableEnvironment.
            # Mapped onto a Spark-session-catalog database: CREATE TABLE
            # under this catalog becomes a metastore table (USING fmt
            # LOCATION path), queryable by any session sharing the
            # catalog. 'warehouse' option pins the database location.
            loc = opts.get("warehouse")
            engine.spark.sql(
                f"CREATE DATABASE IF NOT EXISTS {name}"
                + (f" LOCATION '{loc}'" if loc else "")
            )
        elif ctype != "generic_in_memory":
            raise ValueError(
                f"catalog type {ctype!r} needs external services; "
                "'generic_in_memory' (GenericInMemoryCatalog parity) and "
                "'hive' (persistent Spark-catalog-database shim) are "
                "available in this environment"
            )
        engine._catalogs.setdefault(name, set())
        engine._catalog_types[name] = ctype
        return _ok()
    m = _USE_CATALOG.match(stmt)
    if m:
        name = m.group("name")
        if name not in engine._catalogs:
            raise ValueError(f"catalog {name!r} does not exist")
        engine._current_catalog = name
        # hive-typed catalogs are Spark databases: make unqualified table
        # names resolve there (and restore 'default' otherwise)
        if engine._catalog_types.get(name) == "hive":
            engine.spark.catalog.setCurrentDatabase(name)
        else:
            engine.spark.catalog.setCurrentDatabase("default")
        return _ok()
    m = _DROP_CATALOG.match(stmt)
    if m:
        name = m.group("name")
        if name not in engine._catalogs:
            if m.group("ie"):
                return _ok()
            raise ValueError(f"catalog {name!r} does not exist")
        if name == engine._current_catalog:
            # Flink: "Cannot drop a catalog which is currently in use"
            raise ValueError(f"cannot drop the current catalog {name!r}")
        for t in engine._catalogs.pop(name):
            spark.catalog.dropTempView(t)
            engine._tables.pop(t, None)
            engine._kafka_fps.pop(t, None)
        return _ok()
    if _SHOW_VIEWS.match(stmt):
        views = sorted(
            v.name
            for v in spark.catalog.listTables()
            if v.isTemporary and v.name not in engine._tables
        )
        return spark.createDataFrame(
            [(v,) for v in views] or [], "view_name string"
        )
    m = _SHOW_FUNCTIONS.match(stmt)
    if m:
        names = set(engine._functions)
        if not m.group("user"):  # SHOW FUNCTIONS = system + user
            # system names resolve through the module chain (Flink's
            # TableEnvironment.listFunctions → ModuleManager.listFunctions)
            names |= engine.modules.list_functions()
        return spark.createDataFrame(
            [(n,) for n in sorted(names)] or [], "function_name string"
        )
    m = _CREATE_FUNCTION.match(stmt)
    if m:
        name = m.group("name")
        lang = (m.group("lang") or "PYTHON").upper()
        if lang not in ("PYTHON", "JAVA", "SCALA"):
            raise ValueError(
                f"LANGUAGE {lang} is not available in this engine "
                "(PYTHON, JAVA, or SCALA)"
            )
        if m.group("ine") and name in engine._functions:
            return _ok()
        if name in engine._functions:
            raise ValueError(f"function {name!r} already exists")
        if lang == "PYTHON":
            _register_function(engine, name, m.group("path"))
        else:
            _register_jvm_function(engine, name, m.group("path"))
        return _ok()
    m = _ALTER_FUNCTION.match(stmt)
    if m:
        name = m.group("name")
        lang = (m.group("lang") or "PYTHON").upper()
        if name not in engine._functions:
            raise ValueError(f"function {name!r} does not exist")
        if lang in ("JAVA", "SCALA"):
            _register_jvm_function(engine, name, m.group("path"))
        else:
            _register_function(engine, name, m.group("path"))
        return _ok()
    m = _DROP_FUNCTION.match(stmt)
    if m:
        name = m.group("name")
        if name not in engine._functions:
            if m.group("ie"):
                return _ok()
            raise ValueError(f"function {name!r} does not exist")
        engine._functions.pop(name)
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
        return _ok()
    m = _CREATE_DATABASE.match(stmt)
    if m:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {m.group(1)}")
        return _ok()
    m = _DROP_DATABASE.match(stmt)
    if m:
        spark.sql(
            f"DROP DATABASE IF EXISTS {m.group(1)}{m.group(2) or ''}"
        )
        return _ok()
    m = _USE_DB.match(stmt)
    if m:
        spark.sql(f"USE {m.group(1)}")
        return _ok()
    return None


def _describe_registry_table(engine: EngineSession, name: str, meta):
    """Flink-shaped DESCRIBE for a registry table
    (TableEnvironmentImpl.buildDescribeResult:1136 — columns name / type /
    null / key / extras / watermark): PK columns show ``PRI(cols)``,
    computed columns ``AS <expr>``, metadata columns ``METADATA FROM
    '<key>'``, and the rowtime column its watermark expression."""
    spark = engine.spark
    try:
        schema = {f.name: f for f in spark.table(name).schema.fields}
    except Exception:  # noqa: BLE001 — sink with no view yet
        schema = {}
    if meta.schema_ddl:
        from pyspark.sql.types import _parse_datatype_string

        for f in _parse_datatype_string(f"struct<{meta.schema_ddl}>").fields:
            schema.setdefault(f.name, f)
    pk = ", ".join(meta.primary_key)
    computed = dict(meta.computed_cols)
    md = {c[0]: c[2] for c in meta.metadata_cols}
    wm = (
        f"`{meta.event_time_col}` - INTERVAL '{meta.watermark_delay}'"
        if meta.event_time_col and meta.watermark_delay
        else None
    )
    names = list(meta.declared_columns) or list(schema)
    rows = []
    for c in names:
        f = schema.get(c)
        if c in computed:
            extras = f"AS {computed[c]}"
        elif c in md:
            extras = f"METADATA FROM '{md[c]}'"
        else:
            extras = None
        rows.append(
            (
                c,
                f.dataType.simpleString().upper() if f else None,
                bool(f.nullable) if f else True,
                f"PRI({pk})" if c in meta.primary_key else None,
                extras,
                wm if c == meta.event_time_col else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "name string, type string, null boolean, key string, "
        "extras string, watermark string",
    )
