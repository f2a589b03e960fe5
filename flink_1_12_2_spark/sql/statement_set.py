"""StatementSet — Flink 1.12's multi-sink execution API.

Flink parity: ``TableEnvironment.createStatementSet()`` →
``StatementSetImpl`` (flink-table/flink-table-api-java/src/main/java/org/
apache/flink/table/api/internal/StatementSetImpl.java): buffer N
``addInsertSql``/``addInsert`` statements, then ``execute()`` plans them as
ONE job with common subgraphs shared across sinks
(StreamCommonSubGraphBasedOptimizer.doOptimize splits the DAG into reusable
blocks — SURVEY §3.1 step 3).

Spark-first translation: each INSERT becomes a DataFrame write action. Spark
actions don't share work across jobs by themselves, so the common-subgraph
reuse is realized through the CacheManager: any temp view referenced by two
or more buffered statements is persisted before the first write and
unpersisted after the last — every write's plan then reads the shared
``InMemoryRelation`` instead of recomputing the subtree (this is exactly the
multi-sink pattern Flink pipelines use: one CREATE VIEW, N INSERTs).

Scale: the shared view materializes once (MEMORY_AND_DISK, spills instead of
OOM); each sink write is a separate cluster-parallel job over the cached
partitions, so total source-scan cost is 1× regardless of sink count.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_INSERT = re.compile(
    r"(?is)^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?P<sink>\w+)\s+"
    r"(?:PARTITION\s*\((?P<pspec>[^)]*)\)\s+)?"
    r"(?P<select>(?:SELECT|VALUES|WITH|TABLE)\b.*)$"
)
# one static assignment inside PARTITION (k='v', ...) — SqlPartitionSpec
_PSPEC_ITEM = re.compile(r"(\w+)\s*=\s*(?:'([^']*)'|(\S+))")


def _reexpose(engine, sink: str, meta, out_df: DataFrame) -> None:
    """A Flink registered table is source AND sink: (re)register the
    sink's scan view so follow-up SELECTs in the same session read what
    was just inserted (CREATE TABLE for a not-yet-existing path or topic
    could not). A csv/json file sink with no declared schema reads back with
    the written frame's schema: text formats lose types, and inferSchema
    would hand follow-up SELECTs DIFFERENT types than were written (STRING
    '007' re-inferred as INT 7; r9 advice)."""
    if (
        meta.connector == "filesystem"
        and meta.fmt in ("csv", "json")
        and meta.schema_ddl is None
    ):
        import dataclasses

        meta = dataclasses.replace(
            meta, schema_ddl=out_df.schema.toDDL()
        )
    engine.register_table(sink, meta)


def _commit_partitions(meta, out_df: DataFrame) -> None:
    """``sink.partition-commit.policy.kind`` containing ``success-file``
    (filesystem sink partition commit, new in Flink 1.12 —
    flink-table-runtime-blink/.../filesystem/stream/PartitionCommitter +
    SuccessFileCommitPolicy): drop the marker file into every partition
    directory this INSERT wrote, named by
    ``sink.partition-commit.success-file.name`` (default ``_SUCCESS``).
    The batch INSERT is its own commit trigger — everything written is
    final when the job ends, Flink's batch-mode commit semantics. The
    'metastore' policy belongs to hive-catalog tables (Spark's saveAsTable
    registers partitions in the metastore natively)."""
    kinds = meta.options.get("sink.partition-commit.policy.kind", "")
    if "success-file" not in kinds or not meta.partition_cols:
        return
    import os

    from flink_1_12_2_spark.sources.filesystem import find_partition_dir

    fname = meta.options.get(
        "sink.partition-commit.success-file.name", "_SUCCESS"
    )
    # the committed partitions = this batch's distinct key tuples —
    # partition-count-bounded metadata, not data; the dir lookup honors
    # Spark's partition-path escaping
    for row in out_df.select(*meta.partition_cols).distinct().collect():
        d = find_partition_dir(
            meta.path,
            meta.partition_cols,
            [row[c] for c in meta.partition_cols],
        )
        if d is not None:
            open(os.path.join(d, fname), "a").close()


@dataclass
class _BufferedInsert:
    sink: str
    overwrite: bool
    df: DataFrame
    referenced_views: set[str]


@dataclass
class StatementSet:
    engine: "object"  # EngineSession (no import cycle)
    _buffer: list[_BufferedInsert] = field(default_factory=list)

    def add_insert_sql(self, stmt: str) -> "StatementSet":
        """Buffer an ``INSERT INTO|OVERWRITE <sink> [PARTITION (k='v')]
        SELECT ...`` statement. A static PARTITION spec (SqlPartitionSpec,
        FileSystemTableSink static partitions) appends the literal
        partition-key columns to the SELECT's rows — the SELECT provides
        the remaining declared columns positionally, like Flink."""
        m = _INSERT.match(stmt)
        if not m:
            raise ValueError(f"not an INSERT statement: {stmt!r}")
        select = m.group("select")
        df = self.engine.sql(select)
        if m.group("pspec"):
            from pyspark.sql import functions as F
            from pyspark.sql.types import _parse_datatype_string

            meta = self.engine.meta(m.group("sink"))
            part_cols = set(meta.partition_cols if meta else ())
            statics: dict[str, str] = {}
            for key, quoted, bare in _PSPEC_ITEM.findall(m.group("pspec")):
                if part_cols and key not in part_cols:
                    raise ValueError(
                        f"PARTITION key {key!r} is not a partition column "
                        f"of {m.group('sink')!r} ({sorted(part_cols)})"
                    )
                statics[key] = bare if bare else quoted
            if meta is not None and meta.columns:
                # the SELECT supplies the declared columns MINUS the
                # static keys, positionally (Flink static-partition
                # INSERT); append the statics cast to their declared
                # types and restore declared column order
                non_static = [c for c in meta.columns if c not in statics]
                if len(df.columns) != len(non_static):
                    raise ValueError(
                        f"INSERT PARTITION: the query supplies "
                        f"{len(df.columns)} columns but "
                        f"{m.group('sink')!r} needs {len(non_static)} "
                        "non-static columns"
                    )
                df = df.toDF(*non_static)
                types = {
                    f.name: f.dataType
                    for f in _parse_datatype_string(
                        f"struct<{meta.schema_ddl}>"
                    ).fields
                }
                for key, val in statics.items():
                    df = df.withColumn(
                        key, F.lit(val).cast(types.get(key, "string"))
                    )
                df = df.select(*meta.columns)
            else:
                for key, val in statics.items():
                    df = df.withColumn(key, F.lit(val))
        views = self._referenced_views(select)
        self._buffer.append(
            _BufferedInsert(
                sink=m.group("sink"),
                overwrite=m.group("mode").upper() == "OVERWRITE",
                df=df,
                referenced_views=views,
            )
        )
        return self

    def add_insert(
        self, sink: str, df: DataFrame, overwrite: bool = False
    ) -> "StatementSet":
        """Buffer a Table-API insert (StatementSet.addInsert)."""
        self._buffer.append(_BufferedInsert(sink, overwrite, df, set()))
        return self

    def _referenced_views(self, sql: str) -> set[str]:
        """Temp views whose names appear as table tokens in the statement."""
        catalog = {
            t.name
            for t in self.engine.spark.catalog.listTables()
            if t.isTemporary
        }
        tokens = set(re.findall(r"(?i)\b(?:FROM|JOIN)\s+(\w+)", sql))
        return catalog & tokens

    def execute(self) -> DataFrame:
        """Run every buffered insert; shared views are computed once.

        Returns a TableResult-shaped DataFrame: one row per sink with the
        row count written (Flink prints -1 for async inserts; we are
        synchronous so the true count is available for free from the cached
        plan).
        """
        from collections import Counter

        spark = self.engine.spark
        use_counts = Counter(
            v for b in self._buffer for v in b.referenced_views
        )
        shared = [
            spark.table(v) for v, n in use_counts.items() if n >= 2
        ]
        for df in shared:
            df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            results = []
            for b in self._buffer:
                meta = self.engine.meta(b.sink)
                if meta is None or not meta.path or meta.path == "(view)":
                    raise ValueError(
                        f"sink {b.sink!r} is not a registered path-backed table"
                    )
                out_df = b.df
                if meta.columns and len(meta.columns) == len(out_df.columns):
                    # positional column mapping to the sink's declared
                    # schema (Flink INSERT INTO semantics — VALUES rows
                    # arrive as col1..colN)
                    out_df = out_df.toDF(*meta.columns)
                if "sink.parallelism" in meta.options:
                    # FLIP-95 sink.parallelism (1.12: filesystem/kafka
                    # factories): the writer's parallelism = the frame's
                    # partition count feeding the write
                    out_df = out_df.repartition(
                        int(meta.options["sink.parallelism"])
                    )
                if meta.connector == "print":
                    # PrintTableSinkFactory: dev sink — rows to stdout/
                    # stderr in Flink's +I[..] changelog row format
                    from flink_1_12_2_spark.operators.changelog import (
                        ROW_KIND,
                    )
                    from flink_1_12_2_spark.sources.devgen import print_sink

                    rk = ROW_KIND if ROW_KIND in out_df.columns else None
                    n_out = print_sink(
                        out_df, options=meta.options, row_kind_col=rk
                    )
                    results.append((b.sink, n_out))
                    continue
                if meta.connector == "blackhole":
                    from flink_1_12_2_spark.sources.filesystem import (
                        blackhole,
                    )

                    n_out = out_df.count()
                    blackhole(out_df)
                    results.append((b.sink, n_out))
                    continue
                if meta.connector == "jdbc":
                    from flink_1_12_2_spark.operators.changelog import (
                        ROW_KIND,
                    )
                    from flink_1_12_2_spark.sources.jdbc import (
                        DERBY_DRIVER,
                        jdbc_upsert_write,
                        jdbc_write,
                    )

                    n_out = out_df.count()
                    rk = ROW_KIND if ROW_KIND in out_df.columns else None
                    if meta.primary_key:
                        # PK declared → the key-aware executor stack
                        # (JdbcDynamicOutputFormatBuilder): reduce per
                        # key, upsert/delete against the store
                        jdbc_upsert_write(
                            out_df,
                            meta.path,
                            meta.options["table-name"],
                            list(meta.primary_key),
                            driver=meta.options.get("driver", DERBY_DRIVER),
                            row_kind_col=rk,
                            truncate_first=b.overwrite,
                        )
                    elif rk is not None:
                        # JdbcDynamicTableSink.getChangelogMode: update/
                        # delete rows need a PRIMARY KEY to address —
                        # an append sink cannot consume them
                        raise ValueError(
                            f"INSERT of an updating stream into jdbc "
                            f"table {b.sink!r} requires a PRIMARY KEY "
                            "(append-only jdbc sinks cannot consume "
                            "UPDATE/DELETE rows)"
                        )
                    else:
                        jdbc_write(
                            out_df,
                            meta.path,
                            meta.options["table-name"],
                            driver=meta.options.get("driver", DERBY_DRIVER),
                            mode="overwrite" if b.overwrite else "append",
                        )
                    _reexpose(self.engine, b.sink, meta, out_df)
                    results.append((b.sink, n_out))
                    continue
                if meta.connector == "upsert-kafka":
                    # per-key upsert batch (tombstones ride a _row_kind
                    # column when the SELECT produces a changelog)
                    from flink_1_12_2_spark.operators.changelog import (
                        ROW_KIND,
                    )
                    from flink_1_12_2_spark.sources.kafka_emu import (
                        publish_upsert,
                    )

                    n_out = out_df.count()
                    rk = ROW_KIND if ROW_KIND in out_df.columns else None
                    publish_upsert(
                        out_df, meta.path, list(meta.primary_key),
                        row_kind_col=rk,
                        value_format=meta.fmt, options=meta.options,
                    )
                    _reexpose(self.engine, b.sink, meta, out_df)
                    results.append((b.sink, n_out))
                    continue
                if meta.connector == "kafka":
                    if (
                        meta.options.get("__topic-pattern")
                        or ";" in meta.path
                    ):
                        # KafkaDynamicTableFactory sink validation: a
                        # producer needs ONE concrete topic — pattern /
                        # list subscriptions are source-only
                        raise ValueError(
                            "INSERT INTO a kafka table defined with "
                            "'topic-pattern' or a topic list is not "
                            "supported — a sink needs a single 'topic'"
                        )
                    # producer sink (FlinkKafkaProducer through the table
                    # factory): publish one batch to the emulated topic.
                    # json encodes the row payload; raw expects a single
                    # binary column (base64 over the text transport);
                    # avro-confluent frames rows against the registry.
                    n_out = _publish_to_topic(meta, out_df)
                    # re-expose: the CREATE-time view snapshot predates
                    # this batch's files (and a sink-registered topic has
                    # no view yet) — follow-up SELECTs must see the batch
                    _reexpose(self.engine, b.sink, meta, out_df)
                    results.append((b.sink, n_out))
                    continue
                from flink_1_12_2_spark.sql.ddl import _format_scan_options

                if meta.schema_ddl and tuple(out_df.columns) == meta.columns:
                    # Flink's INSERT casts the query to the sink's
                    # declared types; the re-exposed view reads the
                    # files back with them
                    from pyspark.sql.types import _parse_datatype_string

                    declared = _parse_datatype_string(
                        f"struct<{meta.schema_ddl}>"
                    )
                    out_df = out_df.select(
                        *[out_df[f.name].cast(f.dataType)
                          for f in declared.fields]
                    )
                fmt_opts = _format_scan_options(meta.fmt, meta.options)
                if (
                    meta.options.get("auto-compaction", "false").lower()
                    == "true"
                    and not b.overwrite
                ):
                    # FileSystemOptions AUTO_COMPACTION (new in 1.12):
                    # stage → size-coalesce → commit, one INSERT = one
                    # checkpoint grain (sources/filesystem.compacted_write)
                    from flink_1_12_2_spark.sources.filesystem import (
                        compacted_write,
                    )

                    wopts = {
                        k: v for k, v in fmt_opts.items() if k != "mode"
                    }
                    if meta.fmt == "csv":
                        wopts["header"] = "true"
                    compacted_write(
                        out_df,
                        meta.path,
                        fmt=meta.fmt,
                        target_file_size=meta.options.get(
                            "compaction.file-size", "128MB"
                        ),
                        partition_cols=meta.partition_cols,
                        options=wopts,
                    )
                    _commit_partitions(meta, out_df)
                    _reexpose(self.engine, b.sink, meta, out_df)
                    results.append((b.sink, b.df.count()))
                    continue
                writer = out_df.write.format(meta.fmt).mode(
                    "overwrite" if b.overwrite else "append"
                )
                if meta.partition_cols:
                    # FileSystemTableSink: PARTITIONED BY columns become
                    # hive-style partition directories. INSERT OVERWRITE
                    # on a partitioned table replaces ONLY the written
                    # partitions (FileSystemTableSink's overwrite +
                    # partition semantics) — Spark's STATIC overwrite
                    # default would wipe every partition
                    writer = writer.partitionBy(*meta.partition_cols)
                    if b.overwrite:
                        writer = writer.option(
                            "partitionOverwriteMode", "dynamic"
                        )
                for k, v in fmt_opts.items():
                    if k != "mode":  # reader-only: parse-error handling
                        writer = writer.option(k, v)
                if meta.fmt == "csv":
                    writer = writer.option("header", "true")
                writer.save(meta.path)
                _commit_partitions(meta, out_df)
                _reexpose(self.engine, b.sink, meta, out_df)
                results.append((b.sink, b.df.count()))
        finally:
            for df in shared:
                df.unpersist()
        self._buffer.clear()
        return spark.createDataFrame(
            results, "sink_table string, rows_written bigint"
        )


def _publish_to_topic(meta, out_df) -> int:
    """INSERT INTO a kafka-connector table = one producer batch
    (kafka_emu.publish). Returns the row count written.

    ``'sink.semantic' = 'exactly-once'`` (FlinkKafkaProducer
    Semantic.EXACTLY_ONCE through the table factory) routes the batch
    through the emulation's two-phase-commit producer: staged invisible
    under a dot-dir, one atomic rename publishes, any failure aborts the
    staged batch so consumers never see a torn write. 'at-least-once'
    and 'none' use the plain producer."""
    import pyspark.sql.functions as F

    from flink_1_12_2_spark.sources.kafka_emu import publish

    n = out_df.count()
    if meta.fmt == "json":
        framed = out_df.select(
            F.to_json(F.struct(*out_df.columns)).alias("value")
        )
    elif meta.fmt == "raw":
        if len(out_df.columns) != 1:
            raise ValueError(
                "format 'raw' sink expects exactly one (binary) column"
            )
        framed = out_df.select(
            F.base64(F.col(out_df.columns[0]).cast("binary")).alias("value")
        )
    elif meta.fmt == "avro-confluent":
        from flink_1_12_2_spark.sources.kafka_emu import _registry_opts
        from flink_1_12_2_spark.sources.schema_registry import (
            avro_registry_encode,
        )

        reg, subject = _registry_opts(meta.path, meta.options)
        framed = avro_registry_encode(out_df, reg, subject).select(
            F.base64("value").alias("value")
        )
    elif meta.fmt in (
        "debezium-json",
        "canal-json",
        "maxwell-json",
        "debezium-avro-confluent",
    ):
        # CDC format SERIALIZATION (new in 1.12 — Debezium/Canal/Maxwell
        # JsonSerializationSchema, all three mapping +I/+U → insert-op
        # with the row as post-image and -U/-D → delete-op with the row
        # as pre-image; updates therefore publish as delete+insert
        # pairs, exactly the reference's rowKindToOp switch). An
        # append-only SELECT (no _row_kind) publishes pure inserts.
        from flink_1_12_2_spark.operators.changelog import ROW_KIND

        rk = ROW_KIND if ROW_KIND in out_df.columns else None
        payload_cols = [c for c in out_df.columns if c != rk]
        if meta.columns and len(payload_cols) == len(meta.columns):
            # positional mapping to the sink's DECLARED column names —
            # a changelog input skipped the generic toDF above (its
            # extra _row_kind column broke the length match), but the
            # envelope's payload must serialize under the declared
            # names or the read-back decodes all-null
            renamed = dict(zip(payload_cols, meta.columns))
            for old_name, new_name in renamed.items():
                if old_name != new_name:
                    out_df = out_df.withColumnRenamed(old_name, new_name)
            payload_cols = list(meta.columns)
        row = F.struct(*[F.col(c) for c in payload_cols])
        is_del = (
            F.col(rk).isin("-U", "-D") if rk is not None else F.lit(False)
        )
        if meta.fmt.startswith("debezium"):
            env = out_df.select(
                F.when(is_del, row).alias("before"),
                F.when(~is_del, row).alias("after"),
                F.when(is_del, F.lit("d")).otherwise(F.lit("c")).alias("op"),
            )
            if meta.fmt == "debezium-json":
                framed = env.select(
                    F.to_json(
                        F.struct("before", "after", "op")
                    ).alias("value")
                )
            else:
                from flink_1_12_2_spark.sources.kafka_emu import (
                    _registry_opts,
                )
                from flink_1_12_2_spark.sources.schema_registry import (
                    avro_registry_encode,
                )

                reg, subject = _registry_opts(meta.path, meta.options)
                framed = avro_registry_encode(
                    env, reg, subject,
                    payload_cols=["before", "after", "op"],
                ).select(F.base64("value").alias("value"))
        elif meta.fmt == "canal-json":
            framed = out_df.select(
                F.to_json(
                    F.struct(
                        F.array(row).alias("data"),
                        F.when(is_del, F.lit("DELETE"))
                        .otherwise(F.lit("INSERT"))
                        .alias("type"),
                    )
                ).alias("value")
            )
        else:  # maxwell-json: single-row data, lowercase type
            framed = out_df.select(
                F.to_json(
                    F.struct(
                        row.alias("data"),
                        F.when(is_del, F.lit("delete"))
                        .otherwise(F.lit("insert"))
                        .alias("type"),
                    )
                ).alias("value")
            )
    else:
        raise ValueError(
            f"kafka sink format {meta.fmt!r} not supported "
            "(json, raw, avro-confluent, debezium-json, canal-json, "
            "maxwell-json, debezium-avro-confluent)"
        )
    semantic = meta.options.get("sink.semantic", "at-least-once")
    if semantic == "exactly-once":
        from flink_1_12_2_spark.sources.kafka_emu import (
            abort_transaction,
            begin_transaction,
            commit_transaction,
            publish_transactional,
        )

        txn = begin_transaction(meta.path)
        try:
            publish_transactional(framed, meta.path, txn)
            commit_transaction(meta.path, txn)
        except BaseException:
            abort_transaction(meta.path, txn)
            raise
    elif semantic in ("at-least-once", "none"):
        publish(framed, meta.path)
    else:
        raise ValueError(
            f"sink.semantic {semantic!r} not supported "
            "(at-least-once, exactly-once, none)"
        )
    return n
