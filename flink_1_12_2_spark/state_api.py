"""State Processor API analogue — read and bootstrap operator state as
DataFrames.

Reference surface (flink-libraries/flink-state-processing-api):
``Savepoint.java`` (load/create entry points), ``ExistingSavepoint.java:249``
(readKeyedState → DataSet), ``:105``/``:146`` (readListState/readUnionState),
``:191`` (readBroadcastState), ``WritableSavepoint.java:83`` (withOperator)
``:70`` (removeOperator) ``:93`` (write), ``OperatorTransformation.java:66``
(bootstrapWith), ``NewSavepoint.java``. The library's value proposition —
query, migrate, or seed a running job's state with BATCH jobs — maps
Spark-first onto the engine's existing state representation instead of a
binary savepoint format:

* A **savepoint** here is a directory of per-operator state TABLES
  (``<path>/<uid>/`` parquet) plus one tiny ``_metadata.json`` naming each
  operator's uid, state kind, primary key, and bucket count. Keyed state
  uses the exact bucketed layout the engine's upsert sinks maintain
  (``operators/changelog.upsert_foreach_batch``: hash-partitioned
  ``__bucket=NN/`` dirs on ``crc32(pk) % num_buckets``), so a bootstrapped
  savepoint is directly resumable by those sinks and, conversely, any
  upsert state store mounts as an operator of an existing savepoint.
* **Reading** keyed state is a partition-pruned parquet scan — point
  lookups compute the bucket driver-side (zlib.crc32 == java.util.zip.CRC32
  == Spark's ``crc32``) and touch only the matching ``__bucket=`` dirs,
  O(|keys| · bucket size) I/O, never O(|state|).
* **Bootstrapping** is one bucketed parquet write per operator: the hash
  repartition on ``__bucket`` is the only shuffle, identical to what a
  keyed operator's state distribution needs at any parallelism. Flink
  rescales keyed state through key groups bounded by maxParallelism;
  ``num_buckets`` plays that role here (readers prune by bucket whatever
  the executor count, so a bootstrapped table serves any parallelism).

At 100 TB: state tables are read and written through ordinary parquet
scans/writes, so pushdown, pruning and AQE apply; nothing round-trips the
driver except the metadata json and point-lookup bucket ids.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_1_12_2_spark.operators.changelog import BUCKET_COL, bucket_expr, bucket_of

_METADATA = "_metadata.json"

#: State kinds (ExistingSavepoint read* families). UNION state reads the
#: same stored rows as LIST state — the union/redistribute split only
#: matters at restore-time parallelism, which a table reader doesn't have.
KEYED = "keyed"
LIST = "list"
BROADCAST = "broadcast"
#: Window state (ExistingSavepoint.window(...) → WindowReader.java):
#: keyed state whose key includes the window start — Flink keys window
#: state by (key, namespace=window). Physically identical to KEYED
#: (bucketed on the full primary key); the reader adds the window
#: metadata a WindowReaderFunction.Context exposes (window bounds + the
#: registered cleanup timer).
WINDOW = "window"


@dataclass
class OperatorStateSpec:
    """One operator's state table descriptor (OperatorState analogue)."""

    uid: str
    kind: str = KEYED
    primary_key: tuple[str, ...] = field(default_factory=tuple)
    num_buckets: int = 64
    #: WINDOW kind only: (start, end) column names of the window bounds.
    window_cols: tuple[str, ...] = field(default_factory=tuple)

    def validate(self) -> None:
        if self.kind not in (KEYED, LIST, BROADCAST, WINDOW):
            raise ValueError(f"unknown state kind {self.kind!r}")
        if self.kind in (KEYED, WINDOW) and not self.primary_key:
            raise ValueError(f"keyed state {self.uid!r} needs a primary key")
        if self.kind == WINDOW:
            if len(self.window_cols) != 2:
                raise ValueError(
                    f"window state {self.uid!r} needs window_cols="
                    "(start, end)"
                )
            if self.window_cols[0] not in self.primary_key:
                raise ValueError(
                    f"window state {self.uid!r}: the window start "
                    f"{self.window_cols[0]!r} must be part of the primary "
                    "key (Flink keys window state by (key, window))"
                )


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath


def _write_text(spark: SparkSession, path: str, content: str) -> None:
    """FS-agnostic tiny-file write (hdfs://, s3a://, file:// alike)."""
    fs, jpath = _hadoop_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _hadoop_path(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(path)
    jvm = spark._jvm
    stream = fs.open(jpath)
    # py4j passes byte arrays by VALUE, so stream.read(buf) cannot fill a
    # Python bytearray — copy JVM-side and ship the result back once
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 64 * 1024, True)
    return bytes(baos.toByteArray()).decode("utf-8")


class ExistingSavepoint:
    """Read side (ExistingSavepoint.java). Obtain via :func:`load`."""

    def __init__(self, spark: SparkSession, path: str,
                 specs: dict[str, OperatorStateSpec]):
        self._spark = spark
        self._path = path.rstrip("/")
        self._specs = specs

    def operators(self) -> list[str]:
        return sorted(self._specs)

    def spec(self, uid: str) -> OperatorStateSpec:
        if uid not in self._specs:
            # NonExistentOperatorException parity
            raise ValueError(
                f"savepoint {self._path!r} has no operator {uid!r}; "
                f"present: {self.operators()}"
            )
        return self._specs[uid]

    def _table(self, uid: str) -> DataFrame:
        return self._spark.read.parquet(f"{self._path}/{uid}")

    def read_keyed_state(
        self, uid: str, keys: list[tuple] | None = None
    ) -> DataFrame:
        """ExistingSavepoint.readKeyedState:249 — the operator's keyed
        state as a DataFrame (one row per live key). ``keys``: optional
        point-lookup key tuples; their buckets are computed driver-side
        so the scan partition-prunes to the matching ``__bucket=`` dirs
        before the exact key filter."""
        spec = self.spec(uid)
        if spec.kind != KEYED:
            raise ValueError(f"operator {uid!r} holds {spec.kind} state")
        return self._keyed_frame(spec, uid, keys)

    def _keyed_frame(
        self, spec: OperatorStateSpec, uid: str, keys: list[tuple] | None
    ) -> DataFrame:
        """Shared scan for the bucket-partitioned state kinds (KEYED and
        WINDOW): optional driver-side bucket pruning + exact key filter."""
        df = self._table(uid)
        if keys:
            # bucket pruning only when Python str(v) provably matches
            # Spark's string cast (integer/string keys) — for other key
            # types a driver-side hash could prune the WRONG bucket and
            # silently drop rows, so those fall back to a full scan with
            # the exact filter below (still correct, just unpruned)
            dtypes = dict(df.dtypes)
            parity = all(
                dtypes.get(c) in
                ("tinyint", "smallint", "int", "bigint", "string")
                for c in spec.primary_key
            )
            # a None key part breaks parity too: Spark's concat_ws SKIPS
            # nulls while str(None) is "None", so the driver-side hash
            # would prune the WRONG bucket (r11 advice) — fall back to
            # the exact-filter full scan for those tuples
            if parity and not any(
                any(v is None for v in k) for k in keys
            ):
                buckets = sorted(
                    {bucket_of(k, spec.num_buckets) for k in keys}
                )
                df = df.filter(F.col(BUCKET_COL).isin(buckets))
            # exact key match with TYPED literals (no string round-trip);
            # a None component must match via isNull — `col = NULL` is
            # never true under SQL null semantics
            from functools import reduce

            preds = [
                reduce(
                    lambda a, b: a & b,
                    [
                        F.col(c).isNull() if v is None
                        else F.col(c) == F.lit(v)
                        for c, v in zip(spec.primary_key, k)
                    ],
                )
                for k in keys
            ]
            df = df.filter(reduce(lambda a, b: a | b, preds))
        return df.drop(BUCKET_COL)

    def read_list_state(self, uid: str) -> DataFrame:
        """ExistingSavepoint.readListState:105 — non-keyed operator list
        state, one row per stored element."""
        spec = self.spec(uid)
        if spec.kind != LIST:
            raise ValueError(f"operator {uid!r} holds {spec.kind} state")
        return self._table(uid)

    # readUnionState:146 — the union/redistribute distinction is a
    # restore-parallelism concern; the stored rows are the same table.
    read_union_state = read_list_state

    def to_writable(self) -> "WritableSavepoint":
        """Read-modify-write seed (the library's ExistingSavepoint also
        implements WritableSavepoint): a builder pre-loaded with every
        operator's current table. Replace one with remove_operator +
        with_operator, then write() to a NEW path."""
        w = WritableSavepoint()
        for uid, spec in self._specs.items():
            df = self._table(uid)
            if spec.kind in (KEYED, WINDOW):
                df = df.drop(BUCKET_COL)
            w._ops[uid] = (spec, df)
        return w

    def read_broadcast_state(self, uid: str) -> DataFrame:
        """ExistingSavepoint.readBroadcastState:191 — broadcast state is
        identical on every task, so it is stored (and read) once."""
        spec = self.spec(uid)
        if spec.kind != BROADCAST:
            raise ValueError(f"operator {uid!r} holds {spec.kind} state")
        return self._table(uid)

    def read_window_state(
        self, uid: str, keys: list[tuple] | None = None
    ) -> DataFrame:
        """ExistingSavepoint.window(...) → WindowReader.aggregate/reduce
        (flink-libraries/flink-state-processing-api/.../state/api/input/
        WindowReaderFunction.java surface): one row per (key, window)
        holding the window's accumulated contents, plus the metadata a
        WindowReaderFunction.Context exposes — the window bounds (the
        spec's ``window_cols``) and ``__timer``, the registered
        event-time cleanup timer = window.maxTimestamp() = end − 1 ms
        (WindowOperator registers exactly this timer at allowedLateness
        0). ``keys`` point-lookups prune buckets like read_keyed_state —
        each tuple spans the FULL primary key, i.e. (key..., window
        start)."""
        spec = self.spec(uid)
        if spec.kind != WINDOW:
            raise ValueError(f"operator {uid!r} holds {spec.kind} state")
        df = self._keyed_frame(spec, uid, keys)
        end = F.col(spec.window_cols[1])
        return df.withColumn(
            "__timer", end - F.expr("INTERVAL 1 MILLISECOND")
        )


class WritableSavepoint:
    """Write side (WritableSavepoint.java / NewSavepoint). Obtain via
    :func:`create` (empty) or :func:`load` + :meth:`ExistingSavepoint
    .to_writable` (read-modify-write)."""

    def __init__(self) -> None:
        self._ops: dict[str, tuple[OperatorStateSpec, DataFrame]] = {}

    def with_operator(
        self,
        uid: str,
        df: DataFrame,
        primary_key: tuple[str, ...] | list[str] = (),
        kind: str = KEYED,
        num_buckets: int = 64,
        window_cols: tuple[str, str] | list[str] = (),
    ) -> "WritableSavepoint":
        """WritableSavepoint.withOperator:83 + OperatorTransformation
        .bootstrapWith:66 — register ``df`` as operator ``uid``'s state.
        Keyed state must have ≤1 row per key (the keyed-state contract);
        violations fail at write() with the duplicate keys named."""
        if uid in self._ops:
            raise ValueError(f"duplicate operator uid {uid!r}")
        spec = OperatorStateSpec(
            uid=uid,
            kind=kind,
            primary_key=tuple(primary_key),
            num_buckets=num_buckets,
            window_cols=tuple(window_cols),
        )
        spec.validate()
        self._ops[uid] = (spec, df)
        return self

    def remove_operator(self, uid: str) -> "WritableSavepoint":
        """WritableSavepoint.removeOperator:70."""
        self._ops.pop(uid, None)
        return self

    def write(self, path: str) -> None:
        """WritableSavepoint.write:93 — materialize every operator's
        state table + the savepoint metadata. Keyed tables land in the
        upsert-store bucket layout, so the engine's sinks resume on them
        directly."""
        if not self._ops:
            raise ValueError("savepoint has no operators")
        path = path.rstrip("/")
        spark = None
        for uid, (spec, df) in self._ops.items():
            spark = df.sparkSession
            target = f"{path}/{uid}"
            if spec.kind in (KEYED, WINDOW):
                missing = [k for k in spec.primary_key
                           if k not in df.columns]
                if missing:
                    raise ValueError(
                        f"operator {uid!r}: key columns {missing} not in "
                        f"frame columns {df.columns}"
                    )
                dupes = (
                    df.groupBy(*spec.primary_key)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .filter(F.col("__n") > 1)
                    .limit(5)
                    .collect()
                )
                if dupes:
                    raise ValueError(
                        f"operator {uid!r}: keyed state needs one row per "
                        f"key; duplicates e.g. {[tuple(r)[:-1] for r in dupes]}"
                    )
                out = df.withColumn(
                    BUCKET_COL,
                    bucket_expr(spec.primary_key, spec.num_buckets),
                )
                (
                    out.repartition(
                        min(spec.num_buckets, 64), BUCKET_COL
                    )
                    .write.mode("overwrite")
                    .partitionBy(BUCKET_COL)
                    .parquet(target)
                )
            else:
                df.write.mode("overwrite").parquet(target)
        meta = {
            "format_version": 1,
            "operators": [asdict(spec) for spec, _ in self._ops.values()],
        }
        _write_text(spark, f"{path}/{_METADATA}", json.dumps(meta, indent=1))


def create() -> WritableSavepoint:
    """Savepoint.create — a new empty savepoint builder."""
    return WritableSavepoint()


def load(spark: SparkSession, path: str) -> ExistingSavepoint:
    """Savepoint.load — open an existing savepoint directory."""
    raw = json.loads(_read_text(spark, f"{path.rstrip('/')}/{_METADATA}"))
    specs = {}
    for op in raw["operators"]:
        spec = OperatorStateSpec(
            uid=op["uid"],
            kind=op["kind"],
            primary_key=tuple(op["primary_key"]),
            num_buckets=int(op["num_buckets"]),
            window_cols=tuple(op.get("window_cols", ())),
        )
        spec.validate()
        specs[spec.uid] = spec
    return ExistingSavepoint(spark, path, specs)


def mount_upsert_store(
    spark: SparkSession,
    state_dir: str,
    uid: str,
    primary_key: tuple[str, ...] | list[str],
    num_buckets: int = 64,
) -> ExistingSavepoint:
    """Adapter: expose a live ``upsert_foreach_batch`` state directory
    (an engine upsert/ES sink's backing table) as a single-operator
    savepoint — the "query a running job's state" half of the library
    without requiring the sink to have written savepoint metadata."""
    spec = OperatorStateSpec(
        uid=uid,
        kind=KEYED,
        primary_key=tuple(primary_key),
        num_buckets=num_buckets,
    )
    spec.validate()
    # state_dir IS the operator dir: present a parent view whose single
    # operator resolves to it
    parent, _, leaf = state_dir.rstrip("/").rpartition("/")
    if leaf != uid:
        # keep the path contract (<savepoint>/<uid>) without copying data
        class _Mounted(ExistingSavepoint):
            def _table(self, _uid: str) -> DataFrame:
                return self._spark.read.parquet(state_dir)

        return _Mounted(spark, state_dir, {uid: spec})
    return ExistingSavepoint(spark, parent, {uid: spec})
