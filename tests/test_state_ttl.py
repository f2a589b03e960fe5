"""State TTL (StateTtlConfig / table.exec.state.ttl parity) on the keep-last
dedup operator: a key idle past the TTL is EVICTED from the state store once
the watermark passes (event-time timeout). Emitted rows are provably
unchanged — any row surviving the late-row filter is newer than the expired
state — so the assertions target the state store: its row count (one row
per hash bucket; keys 1, 2 and 3 hash to different buckets) and the exact
set of live keys, which is the whole point of a TTL: bounded state on
unbounded key spaces.

Three micro-batches (maxFilesPerTrigger=1):
  b1: key 1 @ t0          -> state {1}
  b2: key 2 @ t0+3h       -> watermark advances past t0 + ttl(30min)
  b3: key 3 @ t0+3h+1s    -> timeout fires for key 1 -> state {2, 3}
Without TTL the final state holds all three keys.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyspark.sql.functions as F
from conftest import keyed_state_buckets, live_keys

from flink_1_12_2_spark.streaming.stateful import streaming_dedup_keep_last

T0 = 1_700_000_000_000_000  # µs
H3 = 3 * 3600 * 1_000_000


_BATCHES = [
    [(100, T0, 1, "click", 1.0)],
    [(200, T0 + H3, 2, "click", 2.0)],
    [(300, T0 + H3 + 1_000_000, 3, "click", 3.0)],
]


def _topic(spark, batches=_BATCHES):
    d = tempfile.mkdtemp(prefix="ttl_src_")
    schema = "event_id long, ts_us long, user_id long, event_type string, value double"
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"b{i}"))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(d)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "1 minute")
    )


def _run(spark, sdf, output_mode="update"):
    """Run ``sdf`` to completion; return (query, emitted rows, checkpoint)."""
    name = "ttl_" + uuid.uuid4().hex[:10]
    ckpt = tempfile.mkdtemp(prefix="ttl_ckpt_")
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    return q, spark.table(name).collect(), ckpt


def _run_and_count_state(
    spark, sdf, output_mode="update"
) -> tuple[int, set[int], set[tuple]]:
    q, rows, ckpt = _run(spark, sdf, output_mode)
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    return state_rows, {r.user_id for r in rows}, live_keys(spark, ckpt)


def test_ttl_bounds_state_rows(spark):
    out = streaming_dedup_keep_last(_topic(spark), state_ttl_seconds=1800)
    state_rows, keys, live = _run_and_count_state(spark, out)
    assert keys == {1, 2, 3}  # emissions unchanged by TTL
    assert state_rows == 2  # key 1 evicted when the watermark passed t0+ttl
    assert live == {(2,), (3,)}


def test_no_ttl_retains_all_keys(spark):
    out = streaming_dedup_keep_last(_topic(spark))
    state_rows, keys, live = _run_and_count_state(spark, out)
    assert keys == {1, 2, 3}
    assert state_rows == 3
    assert live == {(1,), (2,), (3,)}


def test_topn_ttl_bounds_state(spark):
    from flink_1_12_2_spark.streaming.stateful import streaming_topn

    with_ttl = streaming_topn(_topic(spark), n=3, state_ttl_seconds=1800)
    state_rows, keys, live = _run_and_count_state(spark, with_ttl)
    assert keys == {1, 2, 3}
    assert state_rows == 2  # key 1's rank state evicted
    assert live == {(2,), (3,)}

    without = streaming_topn(_topic(spark), n=3)
    state_rows, keys, live = _run_and_count_state(spark, without)
    assert keys == {1, 2, 3}
    assert state_rows == 3
    assert live == {(1,), (2,), (3,)}


def test_over_agg_ttl_bounds_state(spark):
    """table.exec.state.ttl on the streaming over-agg
    (AbstractRowTimeUnboundedPrecedingOver cleanup-timer parity): key 1's
    accumulator is evicted once the watermark passes t0+ttl; emissions are
    unchanged on this fixture (each key's rows arrive within its TTL)."""
    from flink_1_12_2_spark.streaming.stateful import streaming_over_agg

    with_ttl = streaming_over_agg(_topic(spark), state_ttl_seconds=1800)
    state_rows, keys, live = _run_and_count_state(spark, with_ttl, "append")
    assert keys == {1, 2, 3}
    assert state_rows == 2
    assert live == {(2,), (3,)}

    without = streaming_over_agg(_topic(spark))
    state_rows, keys, live = _run_and_count_state(spark, without, "append")
    assert keys == {1, 2, 3}
    assert state_rows == 3
    assert live == {(1,), (2,), (3,)}


def _tagged_topic(spark):
    """The TTL fixture reshaped for the outer-join operator: every event is
    a left row (no right matches → each emits one +I padding row)."""
    sdf = _topic(spark)
    return sdf.select(
        F.lit("L").alias("side"), "user_id", "event_id", "ts_us", "ts"
    )


def test_outer_join_changelog_ttl_bounds_state(spark):
    """Idle-state retention on the streaming outer join
    (StreamingJoinOperator minRetentionTime parity): key 1's join state is
    evicted after the TTL; the emitted changelog is identical."""
    from flink_1_12_2_spark.streaming.stateful import (
        streaming_outer_join_changelog,
    )

    def run(ttl):
        out = streaming_outer_join_changelog(
            _tagged_topic(spark), state_ttl_seconds=ttl
        )
        return _run_and_count_state(spark, out)

    state_rows, keys, live = run(1800)
    assert keys == {1, 2, 3}
    assert state_rows == 2
    assert live == {(2,), (3,)}

    state_rows, keys, live = run(None)
    assert keys == {1, 2, 3}
    assert state_rows == 3
    assert live == {(1,), (2,), (3,)}


def _keys_by_bucket(spark) -> dict[int, list[int]]:
    """Keys 1..999 grouped by their stored keyed-state bucket."""
    from flink_1_12_2_spark.streaming.keyed_state import bucket_column

    rows = spark.range(1, 1000).select("id", bucket_column("id").alias("b")).collect()
    by_bucket: dict[int, list[int]] = {}
    for r in rows:
        by_bucket.setdefault(r.b, []).append(r.id)
    return by_bucket


def test_ttl_evicts_idle_key_beside_active_key_in_one_bucket(spark):
    """Per-key TTL inside one hash bucket. Keys A and B share a bucket, C is
    alone in another. After the watermark passes t0+ttl, A is idle while B
    gets rows in the same micro-batch: A is evicted and emits nothing, B
    folds with its carried state, and the bucket's timer is B's expiry.
    C's bucket loses its last key and leaves no state row behind."""
    from flink_1_12_2_spark.streaming.stateful import streaming_over_agg

    by_bucket = _keys_by_bucket(spark)
    shared, (a, b) = next(
        (bk, ids[:2]) for bk, ids in by_bucket.items() if len(ids) >= 2
    )
    c = next(ids[0] for bk, ids in by_bucket.items() if bk != shared)
    batches = [
        [(1, T0, a, "click", 1.0), (2, T0, b, "click", 2.0),
         (3, T0, c, "click", 3.0)],
        [(4, T0 + H3, b, "click", 4.0)],
        [(5, T0 + H3 + 1_000_000, b, "click", 5.0)],
    ]
    out = streaming_over_agg(_topic(spark, batches), state_ttl_seconds=1800)
    q, rows, ckpt = _run(spark, out, "append")
    assert sorted((r.user_id, r.event_id, r.running_cnt) for r in rows) == sorted(
        [(a, 1, 1), (c, 3, 1), (b, 2, 1), (b, 4, 2), (b, 5, 3)]
    )
    buckets = keyed_state_buckets(spark, ckpt)
    assert set(buckets) == {shared}  # C's emptied bucket is removed
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1
    keys, timeout = buckets[shared]
    b_expiry = (T0 + H3 + 1_000_000 + 1800 * 1_000_000) // 1000
    assert keys == {(b,): [[11.0, 3], b_expiry]}
    assert timeout == b_expiry


def test_null_key_is_one_group(spark):
    """A NULL ``user_id`` is one streaming key: its rows fold together and
    carry state across micro-batches. Key K shares the NULL key's hash
    bucket; its state carries across a batch where the bucket holds a NULL
    (the key column arrives as float) and one where it does not."""
    from flink_1_12_2_spark.streaming.keyed_state import bucket_column
    from flink_1_12_2_spark.streaming.stateful import streaming_topn

    null_bucket = spark.sql("SELECT CAST(NULL AS BIGINT) AS id").select(
        bucket_column("id").alias("b")
    ).first().b
    k = _keys_by_bucket(spark)[null_bucket][0]
    batches = [
        [(1, T0, None, "click", 5.0), (2, T0, None, "click", 1.0),
         (3, T0, k, "click", 2.0)],
        [(4, T0 + 1_000_000, None, "click", 9.0),
         (5, T0 + 1_000_000, k, "click", 3.0)],
        [(6, T0 + 2_000_000, k, "click", 1.5)],
    ]
    q, rows, _ = _run(spark, streaming_topn(_topic(spark, batches), n=3))
    got = sorted(
        (tuple(r) for r in rows), key=lambda t: (t[0] is None, t[0] or 0, t[4], t[3])
    )
    assert got == [
        (k, 3, 2.0, 1, 1),
        (k, 5, 3.0, 1, 2), (k, 3, 2.0, 2, 2),
        (k, 5, 3.0, 1, 3), (k, 3, 2.0, 2, 3), (k, 6, 1.5, 3, 3),
        (None, 1, 5.0, 1, 1), (None, 2, 1.0, 2, 1),
        (None, 4, 9.0, 1, 2), (None, 1, 5.0, 2, 2), (None, 2, 1.0, 3, 2),
    ]


def test_infinite_values_survive_keyed_state(spark):
    """Fold state is stdlib JSON, so +inf carried in keyed state across
    micro-batches comes back as +inf: in the top-n ranking, the over-agg
    running sum, the keep-last row and buffered CEP rows fed to a
    predicate."""
    from flink_1_12_2_spark.streaming.cep import Pattern, cep_pattern_matches
    from flink_1_12_2_spark.streaming.stateful import (
        streaming_over_agg,
        streaming_topn,
    )

    inf = float("inf")
    batches = [
        [(1, T0 + 10_000_000, 1, "click", inf), (2, T0, 1, "click", 1.0)],
        [(3, T0 + 5_000_000, 1, "purchase", 2.0)],
    ]

    _, rows, _ = _run(spark, streaming_topn(_topic(spark, batches), n=3))
    assert sorted(tuple(r) for r in rows if r.seq == 2) == [
        (1, 1, inf, 1, 2), (1, 2, 1.0, 3, 2), (1, 3, 2.0, 2, 2),
    ]

    _, rows, _ = _run(spark, streaming_over_agg(_topic(spark, batches)), "append")
    assert sorted((r.event_id, r.running_sum, r.running_cnt) for r in rows) == [
        (1, inf, 2), (2, 1.0, 1), (3, inf, 3),
    ]

    _, rows, _ = _run(spark, streaming_dedup_keep_last(_topic(spark, batches)))
    assert [(r.event_id, r.value) for r in rows] == [(1, inf), (1, inf)]

    # buffered until the watermark passes: the inf row waits in state and
    # meets the predicate after the two sentinel batches advance it
    pattern = Pattern.begin("big", lambda r: r["value"] > 50).followed_by(
        "buy", lambda r: r["event_type"] == "purchase"
    )
    cep_batches = [
        [(1, T0, 1, "click", inf)],
        [(3, T0 + 5_000_000, 1, "purchase", 2.0)],
        [(-1, T0 + H3, 1, "click", 0.0)],
        [(-2, T0 + H3 + 1_000_000, 1, "click", 0.0)],
    ]
    cep = cep_pattern_matches(
        _topic(spark, cep_batches), pattern, buffer_to_watermark=True
    )
    _, rows, _ = _run(spark, cep, "append")
    assert [(r.first_event_id, r.last_event_id) for r in rows] == [(1, 3)]


# ---- skewed streaming Top-N: local/global split (MiniBatch rank parity) ---


def _skewed_topic(spark, hot_rows=400):
    """One HOT key (1000 rows across 2 batches) + two cold keys."""
    d = tempfile.mkdtemp(prefix="skew_src_")
    schema = "event_id long, ts_us long, user_id long, event_type string, value double"
    for b in range(2):
        rows = [
            (b * 10_000 + i, T0 + b * 60_000_000 + i * 1000, 1, "click",
             float((i * 37 + b * 11) % 997))
            for i in range(hot_rows)
        ] + [
            (90_000 + b * 10 + k, T0 + b * 60_000_000, 2 + k, "click", float(k))
            for k in range(2)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"b{b}"))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(d)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "1 minute")
    )


def test_skewed_topn_pre_aggregate_identical_output(spark):
    """Under a hot key, the local top-n combiner must leave the emitted
    ranking byte-identical while bounding what crosses the shuffle; state
    stays at ≤ n rows per key either way."""
    from flink_1_12_2_spark.streaming.stateful import streaming_topn

    def final_ranking(pre):
        out = streaming_topn(
            _skewed_topic(spark), n=3, state_ttl_seconds=1800,
            pre_aggregate=pre,
        )
        q, rows, ckpt = _run(spark, out)
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        tops = {
            k: len(v[0]["top"])
            for keys, _ in keyed_state_buckets(spark, ckpt).values()
            for k, v in keys.items()
        }
        last_seq = max(r.seq for r in rows)
        final = sorted(
            (r.user_id, r.rn, r.event_id, r.value)
            for r in rows
            if r.seq == last_seq or r.user_id != 1
        )
        return state_rows, tops, final

    s1, tops1, plain = final_ranking(False)
    s2, tops2, combined = final_ranking(True)
    assert plain == combined
    # bounded state regardless of skew: top-3 per key, 3 keys (one bucket
    # each)
    assert s1 == 3 and s2 == 3
    assert tops1 == tops2 == {(1,): 3, (2,): 2, (3,): 2}


def test_local_topn_combiner_bounds_rows(spark):
    """The combiner emits ≤ n rows per key per partition and they are the
    partition-local maxima."""
    from flink_1_12_2_spark.streaming.stateful import local_topn_combiner

    rows = [(i, T0 + i, 1, "click", float(i % 50)) for i in range(200)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, value double",
    ).repartition(4)
    out = local_topn_combiner(df, 3).collect()
    assert len(out) <= 3 * 4
    assert max(r.value for r in out) == 49.0
