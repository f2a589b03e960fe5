"""File-backed Kafka topic emulation — the ``connector=kafka`` front door
without a broker.

Flink parity: flink-connectors/flink-connector-kafka
(table/KafkaDynamicTableFactory.java:95 — topic + value format; the value
format is pluggable: json / debezium-json / canal-json / maxwell-json via
flink-formats/flink-json). No broker exists in this environment, so the
topic is a DIRECTORY OF JSON-LINES FILES: ``publish`` appends a file (one
record per line, like a producer batch), ``read_topic_stream`` tails the
directory through Spark's file stream source — genuine Structured Streaming
micro-batches, watermarks and stateful operators downstream all behave as
they would on ``format("kafka")``. Swapping in a real broker changes ONLY
the source/sink format strings; every downstream operator (CDC decode,
changelog normalize, upsert) is identical.

Scale note: the file-stream source checkpoints consumed files exactly as the
kafka source checkpoints offsets. Where the kafka source reads offsets, this
one lists files, in the driver, at two points: every trigger's
``latestOffset`` lists the topic's batch directories, and ``getBatch``
hands the new part files to a file index as root paths. Above 32 paths
(or child directories) Spark's default would list them with a Spark job
of one task per path, ~10 ms of wall time per path on ``local[N]``: 0.9 s
of a 100-file catch-up batch, and 0.3-0.4 s per trigger once a topic holds
40 batches. ``session.get_spark`` therefore raises
``spark.sql.sources.parallelPartitionDiscovery.threshold`` so both stay
serial (~30 ms for 100 files); the driver's listing grows with the topic's
batch count, and a cluster deployment over an object-store prefix can
restore the parallel listing through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_12_2_spark.operators.cdc_formats import (
    _payload_fields,
    parse_canal_json,
    parse_debezium_json,
    parse_maxwell_json,
)

_CDC_PARSERS = {
    "debezium-json": parse_debezium_json,
    "canal-json": parse_canal_json,
    "maxwell-json": parse_maxwell_json,
}


def publish(df: DataFrame, topic_dir: str, value_col: str = "value") -> None:
    """Produce one batch: append the string column as a JSON-lines file."""
    os.makedirs(topic_dir, exist_ok=True)
    batch_dir = os.path.join(topic_dir, f"batch_{uuid.uuid4().hex[:12]}")
    df.select(F.col(value_col).cast("string").alias("value")).write.mode(
        "overwrite"
    ).text(batch_dir)




# FLIP-107 metadata columns (new in Flink 1.12; the kafka connector's
# readable metadata — KafkaDynamicSource.listReadableMetadata). The
# emulation's mappings, per key:
#   topic          → the topic directory's NAME, passed per source frame
#                    as a literal (deriving it from the file path breaks
#                    on transactional batches, which nest one level
#                    deeper: topic/txnbatch_<txn>/part_*/file)
#   partition      → 0 (the emulated topic is single-partition)
#   timestamp      → the producer batch's file modification time (the
#                    same record-timestamp stand-in scan.startup.mode
#                    'timestamp' positions against)
#   timestamp-type → 'CreateTime' (what a producer-stamped record has)
# offset / headers / leader-epoch have no per-row analogue on the text
# transport and are rejected descriptively.
_META_EXPRS = {
    "topic": lambda topic: F.lit(topic),
    "partition": lambda topic: F.lit(0),
    "timestamp": lambda topic: F.col("_metadata.file_modification_time"),
    "timestamp-type": lambda topic: F.lit("CreateTime"),
}


def _with_metadata(raw: DataFrame, metadata_cols, topic_path: str) -> DataFrame:
    """Attach the requested metadata columns to the raw (value string)
    scan frame — must run directly on ONE file-source frame (Spark's
    hidden `_metadata` struct does not resolve over a Union), with that
    frame's topic directory for the 'topic' key."""
    if not metadata_cols:
        return raw
    topic_name = os.path.basename(topic_path.rstrip("/"))
    exprs = []
    for name, spark_type, key in metadata_cols:
        if key not in _META_EXPRS:
            raise ValueError(
                f"metadata key {key!r} not available on the kafka "
                f"emulation ({', '.join(sorted(_META_EXPRS))}; "
                "offset/headers/leader-epoch have no analogue on the "
                "text transport)"
            )
        exprs.append(
            _META_EXPRS[key](topic_name).cast(spark_type).alias(name)
        )
    return raw.select("value", *exprs)


def _per_path_union(frame_of, paths, metadata_cols) -> DataFrame:
    """One file-source frame per topic path, unioned — metadata columns
    attach PER FRAME, before the union, because Spark's hidden
    ``_metadata`` struct does not resolve on top of a Union and each
    frame carries its own topic name."""
    raw = _with_metadata(frame_of(paths[0]), metadata_cols, paths[0])
    for extra in paths[1:]:
        raw = raw.unionByName(
            _with_metadata(frame_of(extra), metadata_cols, extra)
        )
    return raw


def _topic_paths(topic_dir: str) -> list[str]:
    """Resolve a source topic spec to concrete read paths. The 1.12
    factory's 'topic' accepts a semicolon-separated LIST for sources and
    'topic-pattern' a regex — the emulation's analogues are ';'-joined
    directories and a filesystem glob (both resolve to directories of
    producer batches). A plain single topic passes through unchanged."""
    parts = [p for p in topic_dir.split(";") if p]
    out: list[str] = []
    for part in parts:
        if any(ch in part for ch in "*?["):
            import glob as _glob

            out.extend(sorted(_glob.glob(part)) or [part])
        else:
            out.append(part)
    return out or [topic_dir]


def read_topic_stream(
    spark: SparkSession,
    topic_dir: str,
    value_format: str,
    payload_schema: str,
    max_files_per_trigger: int | None = None,
    options: dict | None = None,
    metadata_cols=(),
) -> DataFrame:
    """Consume the topic as a Structured Stream and decode the value format.

    ``json`` → one row per record with the payload columns;
    ``debezium-json``/``canal-json``/``maxwell-json`` → changelog rows with
    the engine's ``_row_kind`` column (operators/cdc_formats.py).
    ``options['scan.startup.mode']`` positions the consumer (see
    :func:`_startup_excluded`)."""
    return _read_topic(
        spark, topic_dir, value_format, payload_schema, options,
        metadata_cols, streaming=True,
        max_files_per_trigger=max_files_per_trigger,
    )


def read_topic_batch(
    spark: SparkSession,
    topic_dir: str,
    value_format: str,
    payload_schema: str,
    options: dict | None = None,
    metadata_cols=(),
) -> DataFrame:
    """Bounded read of the topic from the startup position to the current
    end (Flink's kafka source consuming to the latest offset)."""
    return _read_topic(
        spark, topic_dir, value_format, payload_schema, options,
        metadata_cols, streaming=False,
    )


def _read_topic(
    spark: SparkSession,
    topic_dir: str,
    value_format: str,
    payload_schema: str,
    options: dict | None,
    metadata_cols,
    streaming: bool,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The one topic read behind :func:`read_topic_stream` and
    :func:`read_topic_batch`: raw value lines from the startup position,
    decoded per the value format."""
    if streaming:
        r = spark.readStream.schema("value string")
    else:
        r = spark.read
    r = r.option("recursiveFileLookup", "true")
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    paths = _topic_paths(topic_dir)
    if streaming or metadata_cols:
        # Spark's file stream source takes ONE path (globs count as one),
        # and metadata columns attach per file-source frame: a semicolon
        # topic list becomes a union of per-topic frames — exactly a
        # consumer subscribed to several topics
        raw = _per_path_union(r.text, paths, metadata_cols)
    else:
        raw = r.text(paths)
    raw = _apply_startup(raw, topic_dir, options)
    return _decode_value(raw, value_format, payload_schema, metadata_cols)


def _decode_value(
    raw: DataFrame, value_format: str, payload_schema: str, metadata_cols
) -> DataFrame:
    """Decode the ``value`` text column of a raw topic read (stream or
    batch) per the table's value format, keeping the metadata columns."""
    md_names = [m[0] for m in metadata_cols]
    if value_format == "raw":
        # Flink's 'format' = 'raw': the value bytes, undecoded. The
        # text-transport emulation carries binary payloads base64-coded
        # (a real broker delivers value: binary directly).
        return raw.select(
            F.unbase64(F.col("value")).alias("value"), *md_names
        )
    if value_format == "json":
        env = F.from_json(F.col("value"), f"struct<{payload_schema}>")
        # real DDL parse (handles nested struct<...>/decimal(p,s)/map<...>
        # field types that a naive comma split would break on)
        fields = _payload_fields(payload_schema)
        return raw.select(*[env[f].alias(f) for f in fields], *md_names)
    if value_format in _CDC_PARSERS:
        return _CDC_PARSERS[value_format](raw, "value", payload_schema)
    raise ValueError(
        f"value format {value_format!r} not supported by the kafka emulation "
        f"(raw, json, {', '.join(_CDC_PARSERS)})"
    )



# ---------------------------------------------------------------------------
# scan.startup.mode (KafkaOptions.java in the 1.12 kafka table factory:
# earliest-offset | latest-offset | group-offsets | specific-offsets |
# timestamp). The emulation's offset axis is the producer-batch directory,
# so startup position = an EXCLUSION SNAPSHOT of the batch dirs that
# predate the start point:
#   latest-offset  → exclude every dir present when the table is created;
#   timestamp      → exclude dirs whose mtime < scan.startup.timestamp-millis
#                    (batch mtime is the record-timestamp stand-in);
#   earliest-offset (default) → exclude nothing.
# The snapshot is pinned ONCE (at CREATE TABLE via the
# 'scan.startup.__excluded' materialized option, or at first build for
# direct API callers) so later re-resolutions of the scan keep the same
# start position while new batches flow through — exactly a consumer
# whose starting offsets were resolved at job start. Rows are pruned by
# input_file_name() against the snapshot, which works identically on
# bounded scans and file streams. group-offsets/specific-offsets have no
# consumer-group/partition-offset analogue in the emulation and are
# rejected descriptively.


def _startup_excluded(topic_dir: str, options: dict | None) -> list[str]:
    """Resolve (or recall) the startup exclusion snapshot for a topic."""
    opts = options if options is not None else {}
    if "scan.startup.__excluded" in opts:
        return [d for d in opts["scan.startup.__excluded"].split(",") if d]
    mode = opts.get("scan.startup.mode", "earliest-offset")
    if mode == "earliest-offset":
        return []
    if mode in ("group-offsets", "specific-offsets"):
        raise ValueError(
            f"scan.startup.mode {mode!r} has no analogue in the emulation "
            "(no consumer-group state / partition offsets without a "
            "broker); use earliest-offset, latest-offset or timestamp"
        )
    def _entries():
        for root in _topic_paths(topic_dir):
            try:
                for d in os.listdir(root):
                    yield root, d
            except OSError:
                continue

    if mode == "latest-offset":
        excluded = sorted(d for _, d in _entries())
    elif mode == "timestamp":
        if "scan.startup.timestamp-millis" not in opts:
            raise ValueError(
                "scan.startup.mode 'timestamp' requires "
                "'scan.startup.timestamp-millis' (KafkaOptions "
                "validateScanStartupMode)"
            )
        ts_ms = int(opts["scan.startup.timestamp-millis"])
        excluded = sorted(
            d
            for root, d in _entries()
            if os.path.getmtime(os.path.join(root, d)) * 1000 < ts_ms
        )
    else:
        raise ValueError(f"unknown scan.startup.mode {mode!r}")
    # pin the snapshot on the caller's option bag so re-resolving the
    # scan (query-time refresh) keeps the same start position
    if options is not None:
        options["scan.startup.__excluded"] = ",".join(excluded)
    return excluded


def _apply_startup(
    raw: DataFrame, topic_dir: str, options: dict | None
) -> DataFrame:
    excluded = _startup_excluded(topic_dir, options)
    if not excluded:
        return raw
    import re as _re

    pat = "/(?:" + "|".join(_re.escape(d) for d in excluded) + ")/"
    return raw.filter(~F.input_file_name().rlike(pat))


# ---------------------------------------------------------------------------
# Exactly-once transactional producer (two-phase commit).
#
# Flink parity: FlinkKafkaProducer.java:100 Semantic.EXACTLY_ONCE via
# TwoPhaseCommitSinkFunction (beginTransaction → preCommit flush → commit /
# abort). Kafka implements it with transaction markers that read-committed
# consumers honor; the file-backed emulation implements the same protocol
# with the filesystem's native primitives: records stage under a
# dot-prefixed directory — which Spark's file index NEVER lists (paths
# starting with '.'/'_' are filtered), so consumers cannot observe an
# in-flight transaction — and commit is a single atomic rename into the
# consumer-visible namespace. A crash between stage and commit leaves only
# an invisible staging dir (= an aborted transaction), never a torn read.


def begin_transaction(topic_dir: str) -> str:
    """Open a producer transaction; returns the transaction id."""
    txn = uuid.uuid4().hex[:12]
    os.makedirs(os.path.join(topic_dir, f".txn_{txn}"), exist_ok=True)
    return txn


def publish_transactional(
    df: DataFrame, topic_dir: str, txn: str, value_col: str = "value"
) -> None:
    """Stage one batch inside an open transaction (the preCommit flush);
    invisible to every consumer until :func:`commit_transaction`."""
    staging = os.path.join(topic_dir, f".txn_{txn}")
    if not os.path.isdir(staging):
        raise ValueError(f"transaction {txn!r} is not open")
    part = os.path.join(staging, f"part_{uuid.uuid4().hex[:12]}")
    df.select(F.col(value_col).cast("string").alias("value")).write.mode(
        "overwrite"
    ).text(part)


def commit_transaction(topic_dir: str, txn: str) -> None:
    """Atomically publish the staged batches (the 2PC commit): one rename
    moves the whole transaction into the consumer-visible namespace."""
    staging = os.path.join(topic_dir, f".txn_{txn}")
    if not os.path.isdir(staging):
        raise ValueError(f"transaction {txn!r} is not open")
    os.rename(staging, os.path.join(topic_dir, f"txnbatch_{txn}"))


def abort_transaction(topic_dir: str, txn: str) -> None:
    """Discard the staged batches (the 2PC abort)."""
    import shutil

    staging = os.path.join(topic_dir, f".txn_{txn}")
    if os.path.isdir(staging):
        shutil.rmtree(staging)


def _registry_opts(topic_dir: str, options: dict | None) -> tuple[str, str]:
    """(registry path, subject) from KafkaDynamicTableFactory-style
    options — ``avro-confluent.schema-registry.url`` (file: URLs accepted)
    and ``avro-confluent.subject`` (default: Flink's ``<topic>-value``)."""
    opts = options or {}
    reg = opts.get("avro-confluent.schema-registry.url", "")
    if reg.startswith("file://"):
        reg = reg[7:]
    elif reg.startswith("file:"):
        reg = reg[5:]
    if not reg:
        raise ValueError(
            "format 'avro-confluent' requires "
            "'avro-confluent.schema-registry.url'"
        )
    subject = opts.get("avro-confluent.subject") or (
        os.path.basename(topic_dir.rstrip("/")) + "-value"
    )
    return reg, subject


def topic_table(
    spark: SparkSession,
    topic_dir: str,
    value_format: str,
    payload_schema: str = "",
    options: dict | None = None,
    metadata_cols=(),
    streaming: bool = False,
) -> DataFrame:
    """Table over a topic — the DDL front door's scan path
    (KafkaDynamicTableFactory.java:95 createDynamicTableSource), bounded
    or, with ``streaming``, as a Structured Stream (mapInPandas decode
    works on streaming frames, so avro-confluent streams too). Formats:
    json / raw / the three CDC formats (:func:`_read_topic`) plus
    ``avro-confluent`` (registry-framed messages decoded against the
    subject's latest reader schema — RegistryAvroDeserializationSchema).
    ``metadata_cols`` attach FLIP-107 readable metadata beside the
    payload columns."""

    def read(fmt: str, schema: str) -> DataFrame:
        return _read_topic(
            spark, topic_dir, fmt, schema, options, metadata_cols, streaming
        )

    if value_format == "avro-confluent":
        reg, subject = _registry_opts(topic_dir, options)
        return _avro_decode_keep(read("raw", ""), reg, subject, metadata_cols)
    if value_format == "debezium-avro-confluent":
        # DebeziumAvroFormatFactory: the debezium envelope, Avro-coded
        # against the registry — registry-decode to the JSON envelope,
        # then the json debezium parser unchanged
        from flink_1_12_2_spark.sources.schema_registry import (
            avro_registry_to_json,
        )

        reg, subject = _registry_opts(topic_dir, options)
        jsoned = avro_registry_to_json(read("raw", ""), reg, subject)
        return parse_debezium_json(jsoned, "value", payload_schema)
    return read(value_format, payload_schema)


def _avro_decode_keep(raw, reg, subject, metadata_cols):
    """Registry-decode the value column, carrying metadata columns
    through the Arrow stage when present."""
    from flink_1_12_2_spark.sources.schema_registry import (
        avro_registry_decode,
        avro_registry_struct_decode,
    )

    if not metadata_cols:
        return avro_registry_decode(raw, reg, subject)
    out = avro_registry_struct_decode(
        raw, reg, subject, value_col="value", out_col="__v"
    )
    md_names = [m[0] for m in metadata_cols]
    return out.select("__v.*", *md_names)


# ---------------------------------------------------------------------------
# upsert-kafka (UpsertKafkaDynamicTableFactory.java:68): records are per-key
# UPSERTS; a null value is a tombstone (delete). A real topic carries the key
# in the kafka record key and order in the partition offset; the text
# transport has neither, so the emulation stores an explicit envelope per
# line — {"b": <batch seq>, "s": <sub-seq>, "k": {pk fields},
# "v": {payload}|null} — with a monotone batch sequence assigned at publish
# time (max existing + 1) and a per-row sub-sequence standing in for the
# partition offset, so readers resolve intra-batch order deterministically
# (ORDER BY b, s), never by a tied-seq coin flip. UPDATE_BEFORE rows are
# DROPPED at publish — the upsert-kafka sink's changelog mode has no
# UPDATE_BEFORE (the planner removes -U before the sink; the +U that
# follows carries the full new value), so only -D becomes a tombstone.
#
# Value formats: 'json' (payload as a JSON object) and 'avro-confluent'
# (payload as a base64-coded registry-framed Avro message —
# sources/schema_registry.py; the key stays 'json', Flink's 'key.format'
# default pairing). Tombstones are format-independent: v is JSON null.
#
# 'value.fields-include' (UpsertKafkaDynamicTableFactory VALUE_FIELDS_
# INCLUDE): ALL (default) serializes every physical column into the
# value; EXCEPT_KEY serializes only the non-key columns — readers then
# reconstruct the key columns from the record key for EVERY row, not
# just tombstones.


def _buffer_flush_enabled(options: dict | None) -> bool:
    """``sink.buffer-flush.max-rows`` > 0 turns on the per-key reduce
    before produce. The reduce-in-buffer semantic is 1.12.2's jdbc/hbase
    sink contract (flink-connector-jdbc/.../internal/executor/
    TableBufferReducedStatementExecutor.java:63-104 — a HashMap keyed by
    PK, last change wins); upsert-kafka itself gained the same
    ``sink.buffer-flush.*`` options in a later Flink, so the emulation
    accepts them here as a documented forward-port of the identical
    semantics. ``sink.buffer-flush.interval`` is accepted and ignored —
    the emulation's produce is synchronous per batch, so every INSERT is
    its own flush."""
    opts = options or {}
    try:
        return int(opts.get("sink.buffer-flush.max-rows", "0")) > 0
    except ValueError:
        raise ValueError(
            "sink.buffer-flush.max-rows must be an integer, got "
            f"{opts.get('sink.buffer-flush.max-rows')!r}"
        ) from None


def _value_fields_include(options: dict | None) -> str:
    inc = (options or {}).get("value.fields-include", "ALL").upper()
    if inc not in ("ALL", "EXCEPT_KEY"):
        raise ValueError(
            f"value.fields-include must be ALL or EXCEPT_KEY, got {inc!r}"
        )
    return inc


def _next_batch_seq(topic_dir: str) -> int:
    if not os.path.isdir(topic_dir):
        return 0
    seqs = [
        int(d.split("_")[1])
        for d in os.listdir(topic_dir)
        if d.startswith("ub_") and d.split("_")[1].isdigit()
    ]
    return max(seqs, default=-1) + 1


def publish_upsert(
    df: DataFrame,
    topic_dir: str,
    pk_cols: list[str],
    row_kind_col: str | None = None,
    value_format: str = "json",
    options: dict | None = None,
) -> None:
    """Produce one upsert batch: every row becomes an upsert envelope;
    rows whose ``row_kind_col`` is ``-D`` publish ``v: null`` (a kafka
    tombstone); ``-U`` rows are dropped — the sink's changelog mode has
    no UPDATE_BEFORE (the planner's DropUpdateBefore runs before upsert
    sinks; the matching ``+U`` carries the full new value), so an
    update's -U/+U pair can never race inside one batch. Remaining rows
    get a per-row sub-sequence (the partition-offset stand-in) so
    readers resolve any other intra-batch tie deterministically."""
    os.makedirs(topic_dir, exist_ok=True)
    seq = _next_batch_seq(topic_dir)
    if row_kind_col is not None:
        df = df.filter(F.col(row_kind_col) != "-U")
    # the per-row sub-sequence (partition-offset stand-in) is assigned
    # ONCE, up front, so every later branch — including the avro path's
    # live/tombstone split and re-union, whose union ordering would
    # otherwise stamp tombstones after all live rows — carries the
    # original arrival order
    df = df.withColumn("__s", F.monotonically_increasing_id())
    if _buffer_flush_enabled(options):
        # sink.buffer-flush.*: reduce the batch to the LAST change per
        # key before producing — fewer messages on the wire, same
        # normalized state (operators/changelog.last_change_per_key,
        # the shared TableBufferReducedStatementExecutor reduce).
        from flink_1_12_2_spark.operators.changelog import (
            last_change_per_key,
        )

        df = last_change_per_key(df, pk_cols, order_col="__s")
    skip = {row_kind_col, "__s"} if row_kind_col is not None else {"__s"}
    if _value_fields_include(options) == "EXCEPT_KEY":
        skip |= set(pk_cols)
    payload_cols = [c for c in df.columns if c not in skip]
    key = F.to_json(F.struct(*[F.col(c) for c in pk_cols]))
    if value_format == "avro-confluent":
        from flink_1_12_2_spark.sources.schema_registry import (
            avro_registry_encode,
        )

        reg, subject = _registry_opts(topic_dir, options)
        is_del = (
            (F.col(row_kind_col) == "-D")
            if row_kind_col is not None
            else F.lit(False)
        )
        live = df.filter(~is_del).select(
            key.alias("__key"), F.col("__s"),
            *[F.col(c) for c in payload_cols],
        )
        framed = avro_registry_encode(
            live, reg, subject,
            payload_cols=payload_cols, keep_cols=("__key", "__s"),
        )
        # tombstones never pass the encoder — a kafka tombstone HAS no
        # value; only its key survives. Both sides keep the original
        # __s so the union does not reorder tombstones after live rows.
        dead = df.filter(is_del).select(
            key.alias("__key"), F.col("__s"),
            F.lit(None).cast("binary").alias("value"),
        )
        df = framed.unionByName(dead)
        key = F.col("__key")
        # base64 body as a JSON string literal (the alphabet is
        # JSON-safe); tombstones publish v: null like the json path
        val = F.when(
            F.col("value").isNull(), F.lit(None)
        ).otherwise(F.concat(F.lit('"'), F.base64("value"), F.lit('"')))
    elif value_format == "json":
        val = F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
        if row_kind_col is not None:
            val = F.when(
                F.col(row_kind_col) == "-D", F.lit(None)
            ).otherwise(val)
    else:
        raise ValueError(
            f"upsert-kafka value format {value_format!r} not supported "
            "(json, avro-confluent)"
        )
    env = df.select(
        F.concat(
            F.lit('{"b": %d, "s": ' % seq),
            F.col("__s").cast("string"),
            F.lit(', "k": '),
            key,
            F.lit(', "v": '),
            F.coalesce(val, F.lit("null")),
            F.lit("}"),
        ).alias("value")
    )
    batch_dir = os.path.join(topic_dir, f"ub_{seq}_{uuid.uuid4().hex[:8]}")
    env.write.mode("overwrite").text(batch_dir)


def read_upsert_topic_batch(
    spark: SparkSession,
    topic_dir: str,
    payload_schema: str,
    pk_cols: list[str],
    value_format: str = "json",
    options: dict | None = None,
) -> DataFrame:
    """Bounded scan of an upsert topic = the normalized LATEST state:
    last envelope per key wins (batch seq, then intra-batch sub-seq —
    the partition-offset stand-in), tombstones evict — exactly what
    ChangelogNormalize leaves of an upsert stream. For avro-confluent
    values the normalize runs on the UNDECODED envelope (key + seq only)
    so only the surviving per-key latest rows pay the Avro decode."""
    from pyspark.sql import Window

    env = _upsert_envelopes(spark, topic_dir, streaming=False)
    w = Window.partitionBy("__k").orderBy(
        F.col("__seq").desc(), F.col("__sub").desc()
    )
    latest = (
        env.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(~_is_tombstone())
    )
    latest, v = _upsert_value(
        latest, payload_schema, pk_cols, value_format, options, topic_dir
    )
    if value_format == "avro-confluent" and (
        _value_fields_include(options) == "ALL"
    ):
        # the subject's latest reader schema, as registered
        return latest.select("__v.*")
    return latest.select(
        *[
            _upsert_field(f, pk_cols, v, payload_schema, options)
            for f in _payload_fields(payload_schema)
        ]
    )


def read_upsert_topic_changelog(
    spark: SparkSession,
    topic_dir: str,
    payload_schema: str,
    pk_cols: list[str],
    value_format: str = "json",
    options: dict | None = None,
    streaming: bool = False,
) -> DataFrame:
    """The source's CHANGELOG view (what the Flink planner sees before
    ChangelogNormalize): +U per upsert envelope, -D per tombstone, with
    the batch sequence for downstream ordering. Tombstones carry the KEY
    fields (payload columns null) — all a kafka tombstone has. With
    ``streaming`` it is a Structured Stream (the shape Flink's
    upsert-kafka source hands the planner)."""
    from flink_1_12_2_spark.operators.changelog import ROW_KIND

    env, v = _upsert_value(
        _upsert_envelopes(spark, topic_dir, streaming),
        payload_schema, pk_cols, value_format, options, topic_dir,
    )
    is_del = _is_tombstone()
    return env.select(
        F.when(is_del, F.lit("-D")).otherwise(F.lit("+U")).alias(ROW_KIND),
        *[
            _upsert_field(f, pk_cols, v, payload_schema, options, is_del)
            for f in _payload_fields(payload_schema)
        ],
        F.col("__seq"),
        F.col("__sub"),
    )


def _upsert_envelopes(
    spark: SparkSession, topic_dir: str, streaming: bool
) -> DataFrame:
    """Parse every upsert envelope line of the topic into (__seq batch
    sequence, __sub sub-sequence, __k key json, __vraw value text)."""
    if streaming:
        r = spark.readStream.schema("value string")
    else:
        r = spark.read
    raw = r.option("recursiveFileLookup", "true").text(topic_dir)
    return raw.select(
        F.get_json_object("value", "$.b").cast("bigint").alias("__seq"),
        F.coalesce(
            F.get_json_object("value", "$.s").cast("bigint"), F.lit(0)
        ).alias("__sub"),
        F.get_json_object("value", "$.k").alias("__k"),
        F.get_json_object("value", "$.v").alias("__vraw"),
    )


def _is_tombstone():
    return F.col("__vraw").isNull() | (F.col("__vraw") == "null")


def _upsert_value(
    env: DataFrame,
    payload_schema: str,
    pk_cols: list[str],
    value_format: str,
    options: dict | None,
    topic_dir: str,
):
    """Decode the envelopes' value → (frame, value struct column).
    avro-confluent bodies decode into ``__v`` via the registry (readers
    see the subject's latest schema; older writer ids resolve by name);
    tombstones decode to a null struct."""
    if value_format == "avro-confluent":
        from flink_1_12_2_spark.sources.schema_registry import (
            avro_registry_struct_decode,
        )

        reg, subject = _registry_opts(topic_dir, options)
        env = avro_registry_struct_decode(
            env.withColumn("__vbin", F.unbase64("__vraw")),
            reg, subject, value_col="__vbin", out_col="__v",
        )
        return env, F.col("__v")
    if _value_fields_include(options) == "EXCEPT_KEY":
        schema = _schema_without(payload_schema, pk_cols)
    else:
        schema = f"struct<{payload_schema}>"
    return env, F.from_json(F.col("__vraw"), schema)


def _upsert_field(f, pk_cols, v, payload_schema, options, is_del=None):
    """Payload column ``f`` of an envelope: key columns ride the record
    key on every row under EXCEPT_KEY, and on tombstones (``is_del``)
    otherwise."""
    if f not in pk_cols:
        return v[f].alias(f)
    k = F.from_json(F.col("__k"), _key_struct(payload_schema, pk_cols))
    if _value_fields_include(options) == "EXCEPT_KEY":
        return k[f].alias(f)
    if is_del is None:
        return v[f].alias(f)
    return F.when(is_del, k[f]).otherwise(v[f]).alias(f)


def _key_struct(payload_schema: str, pk_cols: list[str]):
    """PK-projected StructType via the real DDL parser — a raw ','-split
    corrupts parameterized types (DECIMAL(10,2)) and nested fields."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    full = _parse_datatype_string(f"struct<{payload_schema}>")
    return StructType([f for f in full.fields if f.name in pk_cols])


def _schema_without(payload_schema: str, pk_cols: list[str]):
    """The value struct under EXCEPT_KEY: the declared schema minus the
    key columns."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    full = _parse_datatype_string(f"struct<{payload_schema}>")
    return StructType([f for f in full.fields if f.name not in pk_cols])
