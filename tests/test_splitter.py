"""streaming/core.py helpers. The multibatch harness splitter must be
executor-parallel (no global window) while reproducing ntile()'s chunk
assignment bit-for-bit — the chunk contents pin every per-batch state
test. The streaming schema cache must notice a rewritten part file."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Window as W

from flink_1_12_2_spark.streaming.core import _static_schema, _tag_ntile_chunks


def _static_events(spark, sf_dir):
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts_us", F.expr("ts div 1000"))
    else:
        df = df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    return df


def test_parallel_split_equals_ntile(spark, sf_dir):
    for n in (4, 3, 7):
        df = _static_events(spark, sf_dir)
        got, base = _tag_ntile_chunks(df, n)
        got = got.select("event_id", "__file")
        ref = df.withColumn(
            "__ref", F.ntile(n).over(W.orderBy("ts_us", "event_id")) - 1
        ).select("event_id", "__ref")
        bad = (
            got.join(ref, "event_id")
            .filter(F.col("__file") != F.col("__ref"))
            .count()
        )
        assert bad == 0, f"n={n}: chunk assignment diverges from ntile"
        base.unpersist()


def test_split_has_no_global_window(spark, sf_dir):
    """The tagging plan must contain no empty-partition-spec window (the
    r3 single-task funnel): every Window node partitions by __pid, and the
    only single-partition exchange allowed is none at all."""
    df = _static_events(spark, sf_dir)
    tagged, base = _tag_ntile_chunks(df, 4)
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    tagged.count()
    assert "ntile" not in plan
    # every Window partitions on __pid — no global ordering exchange
    assert "Exchange SinglePartition" not in plan
    base.unpersist()


def test_split_chunks_deterministic_hash(spark, sf_dir):
    """Two independent taggings produce identical per-chunk row sets
    (range-sampling nondeterminism must not leak into chunk contents)."""

    def chunk_sets(n):
        df = _static_events(spark, sf_dir)
        t, base = _tag_ntile_chunks(df, n)
        out = {
            r["__file"]: r["h"]
            for r in t.groupBy("__file")
            .agg(
                F.sha2(
                    F.concat_ws(
                        ",", F.sort_array(F.collect_list("event_id"))
                    ),
                    256,
                ).alias("h")
            )
            .collect()
        }
        base.unpersist()
        return out

    assert chunk_sets(4) == chunk_sets(4)


def test_static_schema_cache_sees_part_file_rewritten_in_place(spark, tmp_path):
    """A part file rewritten in place leaves its directory's mtime and size
    alone; the streaming schema cache must still notice the new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    part = table_dir / "part-0.parquet"
    pq.write_table(pa.table({"a": [1]}), part)
    os.utime(part, ns=(1_000_000_000, 1_000_000_000))
    assert _static_schema(spark, str(table_dir)).fieldNames() == ["a"]

    dir_stat = os.stat(table_dir)
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), part)  # same inode
    assert os.stat(table_dir).st_mtime_ns == dir_stat.st_mtime_ns
    assert os.stat(table_dir).st_size == dir_stat.st_size
    assert _static_schema(spark, str(table_dir)).fieldNames() == ["a", "b"]
