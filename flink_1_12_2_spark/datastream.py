"""DataStream-style fluent API — the reference's third user surface.

Flink parity: DataStream / KeyedStream / WindowedStream
(flink-streaming-java/.../datastream/DataStream.java — map :666, keyBy :318,
union, filter; KeyedStream.window :725; WindowedStream.aggregate). A user of
the reference's DataStream API can express the same pipelines fluently; every
call lowers to DataFrame operations immediately (lazy, Catalyst-planned), so
this surface costs nothing at runtime.

Works identically over batch DataFrames and streaming DataFrames (the
stream⇄table duality that Flink 1.12 was converging toward).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from flink_1_12_2_spark.streaming.keyed_state import keyed_state_apply


class Tumble:
    def __init__(self, size: str):
        self.size = size


class Slide:
    def __init__(self, size: str, slide: str):
        self.size = size
        self.slide = slide


class Session:
    def __init__(self, gap: str):
        self.gap = gap


class StreamExecutionEnvironment:
    """Entry point (StreamExecutionEnvironment parity)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def from_table(self, df: DataFrame) -> "DataStream":
        return DataStream(df)

    def from_collection(self, data, schema) -> "DataStream":
        return DataStream(self.spark.createDataFrame(data, schema))


class DataStream:
    def __init__(self, df: DataFrame):
        self.df = df

    # -- row-level ----------------------------------------------------------
    def map(self, **exprs: Column) -> "DataStream":
        """``.map(total=col('a')+col('b'))`` — add/replace columns."""
        out = self.df
        for name, col in exprs.items():
            out = out.withColumn(name, col)
        return DataStream(out)

    def select(self, *cols) -> "DataStream":
        return DataStream(self.df.select(*cols))

    def filter(self, cond: Column) -> "DataStream":
        return DataStream(self.df.filter(cond))

    def flat_map(self, col: Column, alias: str) -> "DataStream":
        """Explode an array expression (DataStream.flatMap parity)."""
        return DataStream(self.df.select("*", F.explode(col).alias(alias)))

    def union(self, *others: "DataStream") -> "DataStream":
        out = self.df
        for o in others:
            out = out.unionByName(o.df)
        return DataStream(out)

    def side_output(self, cond: Column) -> tuple["DataStream", "DataStream"]:
        """Split into (main, side) by predicate — OutputTag/side-output
        parity (ProcessFunction side outputs). Two filtered views of one
        lineage; Catalyst shares the scan."""
        return DataStream(self.df.filter(~cond)), DataStream(self.df.filter(cond))

    def connect(self, other: "DataStream") -> "ConnectedStreams":
        """Two-input stream pairing (ConnectedStreams / CoMapFunction)."""
        return ConnectedStreams(self, other)

    # -- physical partitioning (DataStream.java:455-520) --------------------
    def rebalance(self) -> "DataStream":
        """Round-robin redistribution (DataStream.rebalance)."""
        sc = self.df.sparkSession.sparkContext
        return DataStream(self.df.repartition(sc.defaultParallelism))

    def shuffle(self) -> "DataStream":
        """Random redistribution — same physical op as rebalance in Spark
        (round-robin exchange)."""
        return self.rebalance()

    def rescale(self, n: int) -> "DataStream":
        """Scale partition count without a full shuffle where possible
        (coalesce when shrinking, repartition when growing)."""
        cur = self.df.rdd.getNumPartitions()
        return DataStream(
            self.df.coalesce(n) if n < cur else self.df.repartition(n)
        )

    def partition_custom(self, *cols: str) -> "DataStream":
        """Hash-partition by columns (DataStream.partitionCustom)."""
        return DataStream(self.df.repartition(*[F.col(c) for c in cols]))

    def broadcast(self) -> "DataStream":
        """Mark this (small) stream for broadcast in subsequent joins —
        Flink's broadcast partitioning maps to Spark's broadcast hint."""
        return DataStream(F.broadcast(self.df))

    def forward(self) -> "DataStream":
        """Chained forward pass-through — a no-op: Spark pipelines
        narrow stages within a task automatically."""
        return self

    def global_(self) -> "DataStream":
        """All rows to one downstream instance (DataStream.global) —
        coalesce(1); like Flink, a deliberate parallelism-1 bottleneck."""
        return DataStream(self.df.coalesce(1))

    def project(self, *field_indexes: int) -> "DataStream":
        """Positional tuple projection (DataStream.project(int...))."""
        cols = self.df.columns
        return DataStream(self.df.select(*[cols[i] for i in field_indexes]))

    # -- keying -------------------------------------------------------------
    def key_by(self, *keys: str) -> "KeyedStream":
        return KeyedStream(self.df, list(keys))

    def assign_timestamps_and_watermarks(
        self, ts_col: str, delay: str
    ) -> "DataStream":
        return DataStream(self.df.withWatermark(ts_col, delay))

    # -- sinks / escape hatch ----------------------------------------------
    def to_table(self) -> DataFrame:
        return self.df


class ConnectedStreams:
    """Two-input streams sharing downstream operators (ConnectedStreams,
    flink-streaming-java/.../datastream/ConnectedStreams.java). The Spark
    lowering is a tagged union: ``co_map`` applies one expression set per
    input then unions by name — the dataflow equivalent of CoMapFunction's
    map1/map2."""

    def __init__(self, first: DataStream, second: DataStream):
        self.first = first
        self.second = second

    def co_map(
        self,
        map1: dict[str, Column],
        map2: dict[str, Column],
        output_cols: list[str],
    ) -> DataStream:
        a = self.first.df
        for name, col in map1.items():
            a = a.withColumn(name, col)
        b = self.second.df
        for name, col in map2.items():
            b = b.withColumn(name, col)
        return DataStream(
            a.select(*output_cols).unionByName(b.select(*output_cols))
        )

    def co_flat_map(
        self,
        flat1: tuple[Column, str],
        flat2: tuple[Column, str],
        output_cols: list[str],
    ) -> DataStream:
        """CoFlatMapFunction parity: per-input array expression exploded
        (flatMap1/flatMap2), outputs unioned by name."""
        col1, alias1 = flat1
        col2, alias2 = flat2
        a = self.first.df.select("*", F.explode(col1).alias(alias1))
        b = self.second.df.select("*", F.explode(col2).alias(alias2))
        return DataStream(
            a.select(*output_cols).unionByName(b.select(*output_cols))
        )


class KeyedStream:
    def __init__(self, df: DataFrame, keys: list[str]):
        self.df = df
        self.keys = keys

    def window(self, assigner, time_col: str = "ts") -> "WindowedStream":
        return WindowedStream(self.df, self.keys, assigner, time_col)

    def count_window(
        self, size: int, order_cols: list[str] | None = None
    ) -> "CountWindowedStream":
        """Tumbling count window (DataStream.countWindow): every ``size``
        rows per key form a window; assignment follows ``order_cols``
        (deterministic stand-in for arrival order)."""
        return CountWindowedStream(
            self.df, self.keys, size, order_cols or self.keys
        )

    def aggregate(self, **aggs: Column) -> DataStream:
        """``.aggregate(total=F.sum('value'))`` — keyed global aggregate."""
        return DataStream(
            self.df.groupBy(*self.keys).agg(
                *[c.alias(n) for n, c in aggs.items()]
            )
        )

    def reduce(self, col_name: str, fn: str) -> DataStream:
        """Keyed reduce with a named builtin ('sum'/'min'/'max') —
        DataStream.reduce restricted to associative builtins (arbitrary
        Python reduce would be the slow path; use process() instead)."""
        agg = getattr(F, fn)(col_name).alias(col_name)
        return DataStream(self.df.groupBy(*self.keys).agg(agg))

    def _rolling(self, col_name: str, fn: str, order_by: list[str]) -> DataStream:
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*self.keys)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = self.df.withColumn(
            f"{fn}_{col_name}", getattr(F, fn)(col_name).over(w)
        )
        return DataStream(out)

    def sum(self, col_name: str, order_by: list[str] | None = None) -> DataStream:
        """Per-record rolling sum (KeyedStream.sum emits a running aggregate
        per input record; the batch-verifiable form is the cumulative
        over-window in event order)."""
        return self._rolling(col_name, "sum", order_by or ["ts", "event_id"])

    def min(self, col_name: str, order_by: list[str] | None = None) -> DataStream:
        return self._rolling(col_name, "min", order_by or ["ts", "event_id"])

    def max(self, col_name: str, order_by: list[str] | None = None) -> DataStream:
        return self._rolling(col_name, "max", order_by or ["ts", "event_id"])

    def min_by(
        self, col_name: str, order_by: list[str] | None = None
    ) -> DataStream:
        """Running argmin row id (KeyedStream.minBy keeps the record that
        attains the minimum so far)."""
        return self._argminmax(col_name, asc=True, order_by=order_by)

    def max_by(
        self, col_name: str, order_by: list[str] | None = None
    ) -> DataStream:
        return self._argminmax(col_name, asc=False, order_by=order_by)

    def _argminmax(
        self, col_name: str, asc: bool, order_by: list[str] | None
    ) -> DataStream:
        from pyspark.sql import Window

        ob = order_by or ["ts", "event_id"]
        w = (
            Window.partitionBy(*self.keys)
            .orderBy(*ob)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        val = F.col(col_name) if asc else -F.col(col_name)
        # struct ordering: (value, tie-break order cols) → min_by semantics
        packed = F.struct(val.alias("v"), *[F.col(c) for c in ob])
        best = F.min(packed).over(w)
        out = self.df.withColumn(
            f"{'min' if asc else 'max'}_by_{col_name}",
            best[ob[-1]],
        )
        return DataStream(out)

    def process(
        self, fold: Callable, output_schema: StructType, output_mode="update"
    ) -> DataStream:
        """Keyed process function with state (KeyedProcessOperator parity):
        ``fold(key, rows, state, watermark_us) -> (out, new_state,
        newest_event_us)`` runs once per key and micro-batch over JSON value
        state. ``rows`` is the key's rows of the micro-batch as a list of
        dicts (column -> plain Python value, None for NULL) and ``out`` a
        list of tuples in ``output_schema`` column order (see
        :mod:`flink_1_12_2_spark.streaming.keyed_state`)."""
        return DataStream(
            keyed_state_apply(self.df, self.keys, fold, output_schema, output_mode)
        )


class CountWindowedStream:
    """Result of :meth:`KeyedStream.count_window` — aggregate per
    (key, win_id) chunk of ``size`` rows (operators/advanced.count_window)."""

    def __init__(self, df: DataFrame, keys: list[str], size: int, order: list[str]):
        self._df = df
        self._keys = keys
        self._size = size
        self._order = order

    def aggregate(self, **aggs: Column) -> DataStream:
        from flink_1_12_2_spark.operators.advanced import count_window

        tagged = count_window(self._df, self._keys, self._order, self._size)
        return DataStream(
            tagged.groupBy(*self._keys, "win_id").agg(
                *[c.alias(n) for n, c in aggs.items()]
            )
        )


class WindowedStream:
    def __init__(self, df: DataFrame, keys: list[str], assigner, time_col: str):
        self.df = df
        self.keys = keys
        self.assigner = assigner
        self.time_col = time_col

    def _window_col(self) -> Column:
        a = self.assigner
        if isinstance(a, Tumble):
            return F.window(self.time_col, a.size)
        if isinstance(a, Slide):
            return F.window(self.time_col, a.size, a.slide)
        if isinstance(a, Session):
            return F.session_window(self.time_col, a.gap)
        raise TypeError(f"unknown window assigner: {a!r}")

    def aggregate(self, **aggs: Column) -> DataStream:
        out = (
            self.df.groupBy(self._window_col().alias("win"), *self.keys)
            .agg(*[c.alias(n) for n, c in aggs.items()])
            .withColumn("win_start", F.col("win.start"))
            .withColumn("win_end", F.col("win.end"))
            .drop("win")
        )
        return DataStream(out)
