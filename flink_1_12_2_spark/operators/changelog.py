"""Changelog / RowKind handling — Flink's retraction model on Spark.

Flink parity: ``RowKind`` (+I/-U/+U/-D, flink-core/.../types/RowKind.java:25-52)
travels on every ``RowData``; operators negotiate changelog modes via
FlinkChangelogModeInferenceProgram.scala:39. Spark has no per-row kind —
per SURVEY §1.1 the engine models it as an explicit ``_row_kind`` string
column plus these operators:

- ``changelog_normalize``  → StreamExecChangelogNormalize.scala:46 — collapse
  an upsert/changelog stream to current state by primary key (keep the last
  change per key; a trailing ``-D`` deletes the key).
- ``drop_update_before``   → DropUpdateBeforeFunction.java (37 J).
- ``snapshot_diff``        → produce a changelog from two table snapshots
  (the ``foreachBatch`` incremental-merge building block for upsert sinks).
- ``upsert_foreach_batch`` → upsert-kafka-style sink: per micro-batch MERGE
  of the batch's last-change-per-key into a keyed state table
  (UpsertKafkaDynamicTableFactory.java:68 semantics).
"""

from __future__ import annotations

import zlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

ROW_KIND = "_row_kind"
INSERT, UPDATE_BEFORE, UPDATE_AFTER, DELETE = "+I", "-U", "+U", "-D"

#: The upsert store's bucket layout (``upsert_foreach_batch``): each row
#: lives under ``__bucket=NN/``, NN = ``pmod(crc32(concat_ws(_KEY_SEP, pk
#: as string)), num_buckets)``. ``state_api`` reads and bootstraps the
#: same layout through :func:`bucket_expr` and :func:`bucket_of`.
BUCKET_COL = "__bucket"
_KEY_SEP = "\x1f"


def bucket_expr(pks, num_buckets: int):
    """The bucket id of each row keyed by the ``pks`` columns."""
    return F.pmod(
        F.crc32(F.concat_ws(_KEY_SEP, *[F.col(k).cast("string") for k in pks])),
        F.lit(num_buckets),
    ).cast("int")


def bucket_of(key_values: tuple, num_buckets: int) -> int:
    """Driver-side bucket id for one key tuple — matches
    :func:`bucket_expr` (zlib.crc32 and java.util.zip.CRC32 share the IEEE
    polynomial). Parity holds when ``str(v)`` equals Spark's string cast —
    integer and string keys; for other types read_keyed_state skips bucket
    pruning rather than risk pruning the wrong directory."""
    raw = _KEY_SEP.join(str(v) for v in key_values).encode("utf-8")
    return zlib.crc32(raw) % num_buckets


def last_change_per_key(
    df: DataFrame, pk_cols: list[str], order_col: str | None = None
) -> DataFrame:
    """Reduce a batch to the LAST change per key — the reduce-in-buffer
    contract shared by the jdbc/hbase sinks and upsert-kafka's
    sink.buffer-flush (flink-connector-jdbc/.../internal/executor/
    TableBufferReducedStatementExecutor.java:63-104: a map keyed by PK,
    addToBatch overwrites, tombstones included). "Last" is arrival
    order; ``order_col`` names an existing monotone column, otherwise a
    per-partition monotone id stands in (the same partition-offset
    analogue the upsert envelope uses)."""
    drop_order = order_col is None
    if drop_order:
        order_col = "__lcpk_ord"
        df = df.withColumn(order_col, F.monotonically_increasing_id())
    out = (
        df.withColumn(
            "__lcpk_rn",
            F.row_number().over(
                Window.partitionBy(*pk_cols).orderBy(F.col(order_col).desc())
            ),
        )
        .filter(F.col("__lcpk_rn") == 1)
        .drop("__lcpk_rn")
    )
    return out.drop(order_col) if drop_order else out


def drop_update_before(df: DataFrame) -> DataFrame:
    """Filter out -U rows (sinks that key by PK don't need them). A frame
    without the row-kind column is insert/upsert-only — nothing to drop
    (Flink's planner likewise skips DropUpdateBefore on insert-only
    inputs)."""
    if ROW_KIND not in df.columns:
        return df
    return df.filter(F.col(ROW_KIND) != UPDATE_BEFORE)


def changelog_normalize(
    df: DataFrame, pks: list[str], order_cols: list[str]
) -> DataFrame:
    """Collapse a changelog to current state: last change per PK wins;
    keys whose last change is -D disappear. Deterministic given
    ``order_cols`` totally order changes within a key."""
    w = Window.partitionBy(*pks).orderBy(*[F.col(c).desc() for c in order_cols])
    last = (
        drop_update_before(df)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return last.filter(F.col(ROW_KIND) != DELETE).drop(ROW_KIND)


def snapshot_diff(old: DataFrame, new: DataFrame, pks: list[str]) -> DataFrame:
    """Diff two snapshots into a changelog (+I / -U,+U pairs / -D)."""
    val_cols = [c for c in new.columns if c not in pks]
    o = old.alias("o")
    n = new.alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in pks]
    joined = o.join(n, cond, "full_outer")
    o_pk = F.col(f"o.{pks[0]}")
    n_pk = F.col(f"n.{pks[0]}")
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))

    inserts = joined.filter(o_pk.isNull()).select(
        F.lit(INSERT).alias(ROW_KIND), *[F.col(f"n.{c}").alias(c) for c in new.columns]
    )
    deletes = joined.filter(n_pk.isNull()).select(
        F.lit(DELETE).alias(ROW_KIND), *[F.col(f"o.{c}").alias(c) for c in new.columns]
    )
    updated = joined.filter(o_pk.isNotNull() & n_pk.isNotNull() & changed)
    upd_before = updated.select(
        F.lit(UPDATE_BEFORE).alias(ROW_KIND),
        *[F.col(f"o.{c}").alias(c) for c in new.columns],
    )
    upd_after = updated.select(
        F.lit(UPDATE_AFTER).alias(ROW_KIND),
        *[F.col(f"n.{c}").alias(c) for c in new.columns],
    )
    return inserts.unionByName(upd_before).unionByName(upd_after).unionByName(deletes)


def group_agg_retract(
    df: DataFrame,
    group_cols: list[str],
    aggs: list[tuple[str, str | None, str]],
) -> DataFrame:
    """Group aggregate that CONSUMES a retracting changelog input — the
    downstream half of Flink's changelog-mode inference
    (FlinkChangelogModeInferenceProgram.scala:39 marks the agg's input
    ``UPDATE_BEFORE``-bearing; GroupAggFunction.java:43 then routes -U/-D
    rows through each aggregator's ``retract()``).

    Spark shape: the retract path is a SIGNED aggregation — +I/+U weigh +1,
    -U/-D weigh −1 — so SUM/COUNT/AVG fold both directions in one
    map-side-combinable pass (no per-row state). Groups whose net row count
    reaches 0 vanish, matching Flink's recordCounter.recordCountIsZero()
    state cleanup (GroupAggFunction.java:150).

    ``aggs``: (kind, column, alias) with kind ∈ {sum, count, avg, min,
    max}. MIN/MAX over a retracting input need a value MULTISET (Flink's
    Min/MaxWithRetractAggFunction keep a sorted MapState<value, count> —
    flink-table-planner-blink .../aggfunctions/MinWithRetractAggFunction):
    the Spark analogue is a two-level aggregation — ``groupBy(keys, value)
    → Σ sign`` materializes exactly that value→count map (dropping counts
    ≤ 0), then ``groupBy(keys) → MIN/MAX`` reads its extremum. One extra
    map-combinable shuffle per distinct extremal COLUMN (shared across
    min+max on the same column), same shape as the distinct-agg split;
    nulls are ignored as in Flink's accumulator.

    Scale: signed aggregates are one hash shuffle on ``group_cols``;
    each extremal column adds a (keys, value)-keyed shuffle whose state is
    the distinct-value multiset — never a per-PK window over the changelog.
    """
    for kind, _, _ in aggs:
        if kind not in ("sum", "count", "avg", "min", "max"):
            raise ValueError(f"group_agg_retract: unsupported agg {kind!r}")
    sign = F.when(
        F.col(ROW_KIND).isin(INSERT, UPDATE_AFTER), F.lit(1)
    ).otherwise(F.lit(-1))
    signed = [a for a in aggs if a[0] in ("sum", "count", "avg")]
    extremal = [a for a in aggs if a[0] in ("min", "max")]
    exprs = [F.sum(sign).alias("__net_rows")]
    for kind, col, alias in signed:
        if kind == "sum":
            exprs.append(F.sum(sign * F.col(col)).alias(alias))
        elif kind == "count":
            exprs.append(F.sum(sign).cast("bigint").alias(alias))
        else:  # avg = retractable sum / retractable count
            exprs.append(
                (F.sum(sign * F.col(col)) / F.sum(sign)).alias(alias)
            )
    base = (
        df.groupBy(*group_cols)
        .agg(*exprs)
        .filter(F.col("__net_rows") > 0)
    )
    for col in sorted({c for _, c, _ in extremal}):
        specs = [(k, a) for k, c, a in extremal if c == col]
        multiset = (
            df.filter(F.col(col).isNotNull())
            .groupBy(*group_cols, col)
            .agg(F.sum(sign).alias("__cnt"))
            .filter(F.col("__cnt") > 0)
        )
        ext = multiset.groupBy(*group_cols).agg(
            *[
                (F.min(col) if k == "min" else F.max(col)).alias(a)
                for k, a in specs
            ]
        )
        base = base.join(ext, group_cols, "left")
    return base.drop("__net_rows")


def changelog_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | None = None,
    condition=None,
) -> DataFrame:
    """Inner-join two RETRACTING changelogs into a changelog — the
    incremental-view-maintenance product rule that Flink's
    StreamingJoinOperator implements record-at-a-time
    (StreamingJoinOperator.java:36: an input's -U/-D probes the other
    side's state and emits retractions for every joined pair).

    Set semantics: the net multiplicity of an output row is the product of
    the input multiplicities, and over complete changelog histories
    Σ (w_l · w_r) = (Σ w_l)(Σ w_r) per joined pair — so tagging every
    joined row with ``sign(l)·sign(r)`` (+I when +1, -D when −1) yields a
    changelog whose net effect equals joining the two FINAL states. A
    downstream :func:`group_agg_retract` (or changelog_normalize keyed on
    the pair) consumes it directly; no normalization between the operators.

    Scale: one key-partitioned join of the two changelogs (both sides
    shuffle on the join key once, exactly Flink's two-input keyed wiring);
    signs are column arithmetic, no extra pass.
    """
    lk = F.when(
        F.col(f"l.{ROW_KIND}").isin(INSERT, UPDATE_AFTER), F.lit(1)
    ).otherwise(F.lit(-1))
    rk = F.when(
        F.col(f"r.{ROW_KIND}").isin(INSERT, UPDATE_AFTER), F.lit(1)
    ).otherwise(F.lit(-1))
    l = left.alias("l")
    r = right.alias("r")
    if on is not None:
        cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in on]
    else:
        cond = condition
        # theta-join keeps ALL right columns — a shared name would produce
        # duplicate output columns and ambiguous downstream references
        clash = sorted(
            set(left.columns) & set(right.columns) - {ROW_KIND}
        )
        if clash:
            raise ValueError(
                "changelog_join with `condition` requires disjoint column "
                f"names; rename right-side columns {clash} before joining"
            )
    sign = lk * rk
    r_cols = [
        F.col(f"r.{c}") for c in right.columns if c != ROW_KIND and c not in (on or [])
    ]
    l_cols = [F.col(f"l.{c}") for c in left.columns if c != ROW_KIND]
    return l.join(r, cond).select(
        F.when(sign == 1, F.lit(INSERT)).otherwise(F.lit(DELETE)).alias(ROW_KIND),
        *l_cols,
        *r_cols,
    )


def upsert_foreach_batch(
    state_dir: str,
    pks: list[str],
    order_cols: list[str],
    num_buckets: int = 64,
):
    """Build a ``foreachBatch`` function maintaining a keyed state table at
    ``state_dir`` (parquet): per batch, last-change-per-key is MERGEd in.
    This is the upsert-sink pattern for engines without MERGE INTO.

    Scale — BUCKETED state: the table is hash-partitioned into
    ``num_buckets`` directories on ``crc32(pk) % num_buckets``
    (``__bucket=NN/``), and each micro-batch rewrites ONLY the buckets
    containing touched keys (Spark dynamic partition overwrite). Per-batch
    I/O is O(touched buckets · bucket size), not O(|state|) — the r4
    full-table rewrite is gone. Reading existing state filters on the
    touched bucket ids, so partition pruning skips untouched directories
    entirely. Readers of the state table see an extra ``__bucket`` column
    (select your payload columns). On a MERGE-capable table format
    (Delta/Iceberg) replace this whole function with ``MERGE INTO``."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # last change per key INCLUDING -D (a delete must evict existing state)
        w = Window.partitionBy(*pks).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        last = (
            drop_update_before(batch_df)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn(BUCKET_COL, bucket_expr(pks, num_buckets))
        )
        touched_keys = last.select(*pks, BUCKET_COL)
        if ROW_KIND in last.columns:
            survivors = last.filter(F.col(ROW_KIND) != DELETE).drop(ROW_KIND)
        else:  # insert/upsert-only batch: every row survives
            survivors = last
        touched_buckets = [
            r[BUCKET_COL]
            for r in touched_keys.select(BUCKET_COL).distinct().collect()
        ]
        if not touched_buckets:
            return
        from pyspark.errors import AnalysisException

        try:
            existing = spark.read.parquet(state_dir)
        except AnalysisException as e:  # first batch — no state yet
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise  # a real read error must not masquerade as empty state
            existing = None
        if existing is not None:
            if BUCKET_COL not in existing.columns:
                raise ValueError(
                    f"state table at {state_dir} is not bucketed (pre-r5 "
                    "layout?) — migrate it by rewriting with partitionBy "
                    "__bucket before resuming this sink"
                )
            existing = existing.filter(
                F.col(BUCKET_COL).isin(touched_buckets)  # partition pruning
            )
        if existing is not None:
            untouched = existing.join(
                touched_keys.drop(BUCKET_COL), pks, "left_anti"
            )
            merged = untouched.unionByName(survivors)
        else:
            merged = survivors
        # truncate lineage so the write target isn't also a read path
        merged = merged.repartition(
            max(1, min(8, len(touched_buckets))), BUCKET_COL
        ).localCheckpoint(eager=True)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                state_dir
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        # a touched bucket whose merged output is EMPTY (every key in it
        # deleted, none untouched) writes no partition, so dynamic
        # overwrite would leave its stale files — drop those directories
        # explicitly through the Hadoop FS API (works for hdfs://, s3a://,
        # file:// alike; a table format would use delete vectors instead)
        surviving = {
            r[BUCKET_COL]
            for r in merged.select(BUCKET_COL).distinct().collect()
        }
        doomed = set(touched_buckets) - surviving
        if doomed:
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            for b in doomed:
                jpath = jvm.org.apache.hadoop.fs.Path(
                    f"{state_dir}/__bucket={b}"
                )
                fs = jpath.getFileSystem(hconf)
                if fs.exists(jpath):
                    fs.delete(jpath, True)

    return apply
