"""Streaming operators executed through the REAL Structured Streaming engine
(file stream → watermark → stateful op → AvailableNow → memory sink), then
compared to batch oracles — Flink's stream⇄table duality as a test strategy.

Each query here runs a genuine streaming job inside the (spark, sf_dir) →
DataFrame contract; the returned DataFrame is the materialized sink table.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_1_12_2_spark.registry import query
from flink_1_12_2_spark.streaming.cep import Pattern, cep_pattern_matches
from flink_1_12_2_spark.streaming.core import ltz_to_ntz_utc, run_to_memory, stream_events
from flink_1_12_2_spark.streaming.stateful import (
    streaming_dedup_keep_last,
    streaming_over_agg,
    streaming_topn,
)

_EV_CTE = "WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"

_6H_US = 6 * 3600 * 1_000_000


def _cep_oracle(error_kill: bool, final: str | None = None) -> str:
    """Recursive-CTE oracle for the branch-exploring NFA with AFTER MATCH
    SKIP PAST LAST ROW (streaming/cep.py:_match_events — Flink NFA.java:86
    simultaneous-branch semantics).

    Every click starts a live branch; a purchase completes every branch
    within its 6 h window (for the quantified pattern, branches with an
    intervening error are killed first). Under SKIP PAST LAST ROW the
    earliest-started completing branch wins and all live branches are
    discarded. That makes the match set a recursion over the resume position
    alone:

      from position ``pos``: the next match's last row is the EARLIEST
      purchase ``p`` after ``pos`` for which a valid start exists — a click
      ``c`` with ``pos < c < p``, ``p.ts < c.ts + 6h`` (branch not expired; strict — NFA.java:301)
      [and no error strictly between ``c`` and ``p`` — branch not killed];
      the winner start is the earliest such ``c``; resume at ``p``.

    Validated cell-for-cell against the engine NFA on sf0.01 (197 matches
    for click→purchase — 10 more than the r1-r3 single-run determinization
    found, the starts that NFA abandoned; 184 for the quantified pattern)."""
    err = (
        """
        AND NOT EXISTS (
          SELECT 1 FROM ev e WHERE e.user_id = p.user_id
            AND e.event_type = 'error'
            AND (e.ts_us, e.event_id) > (c2.ts_us, c2.event_id)
            AND (e.ts_us, e.event_id) < (p.ts_us, p.event_id))"""
        if error_kill
        else ""
    )
    return f"""
    WITH RECURSIVE
    ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                  event_type FROM events),
    state AS (
      SELECT DISTINCT user_id,
             CAST(-9223372036854775808 AS BIGINT) AS pos_ts,
             CAST(-1 AS BIGINT) AS pos_eid,
             CAST(NULL AS BIGINT) AS m_first, CAST(NULL AS BIGINT) AS m_last,
             CAST(NULL AS BIGINT) AS m_first_ts,
             CAST(NULL AS BIGINT) AS m_last_ts
      FROM ev
      UNION ALL
      SELECT s.user_id, x.p_ts, x.p_eid,
             x.c_eid, x.p_eid, x.c_ts, x.p_ts
      FROM state s
      JOIN LATERAL (
        SELECT p.event_id AS p_eid, p.ts_us AS p_ts, c.event_id AS c_eid,
               c.ts_us AS c_ts
        FROM ev p
        JOIN LATERAL (
          SELECT c2.event_id AS event_id, c2.ts_us AS ts_us FROM ev c2
          WHERE c2.user_id = p.user_id AND c2.event_type = 'click'
            AND (c2.ts_us, c2.event_id) > (s.pos_ts, s.pos_eid)
            AND (c2.ts_us, c2.event_id) < (p.ts_us, p.event_id)
            AND p.ts_us < c2.ts_us + {_6H_US}{err}
          ORDER BY c2.ts_us, c2.event_id LIMIT 1) c ON true
        WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
          AND (p.ts_us, p.event_id) > (s.pos_ts, s.pos_eid)
        ORDER BY p.ts_us, p.event_id LIMIT 1) x ON true)
    {final or '''
    SELECT user_id, m_first AS first_event_id, m_last AS last_event_id,
           m_first_ts AS first_ts_us, m_last_ts AS last_ts_us
    FROM state WHERE m_first IS NOT NULL
    ORDER BY user_id, first_event_id
    '''}
    """


# click →(6h)→ purchase, skip past last row: every click is a live branch.
_CEP_CLICK_PURCHASE_ORACLE = _cep_oracle(error_kill=False)
# clicks+ greedy · notFollowedBy(error) · purchase: error kills its branches.
_CEP_QUANTIFIED_ORACLE = _cep_oracle(error_kill=True)


@query(
    "stream_tumble_agg",
    oracle=f"""
    {_EV_CTE}
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(value) AS DOUBLE) AS total_value
    FROM ev GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("streaming", "window", "tumble"),
)
def stream_tumble_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window agg on a real stream (complete mode ⇒ all
    windows present at end-of-stream; append mode would hold back unclosed
    windows — Flink fires them at final watermark, SS at query end)."""
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total_value")
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        ltz_to_ntz_utc(F.col("win.start")).alias("win_start"),
        "event_type",
        "cnt",
        "total_value",
    ).orderBy("win_start", "event_type")


@query(
    "stream_session_window",
    oracle=f"""
    {_EV_CTE},
    o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sid FROM o)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(value) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
    """,
    tags=("streaming", "window", "session"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user on a real stream
    (SessionWindowAssigner.java:36 parity; oracle = gaps-and-islands SQL)."""
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("win"), "user_id"
    ).agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total_value"))
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        ltz_to_ntz_utc(F.col("win.start")).alias("session_start"),
        ltz_to_ntz_utc(F.col("win.end")).alias("session_end"),
        "cnt",
        "total_value",
    ).orderBy("user_id", "session_start")


@query(
    "stream_interval_join",
    oracle=f"""
    {_EV_CTE}
    SELECT a.event_id AS left_id, b.event_id AS right_id,
           a.event_type AS left_type, b.event_type AS right_type
    FROM ev a JOIN ev b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '5 minutes'
    ORDER BY left_id, right_id
    """,
    tags=("streaming", "join", "interval"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (TimeIntervalJoin.java:53): two watermarked
    streams, time-bounded condition — SS native, append mode."""
    a = stream_events(spark, sf_dir, watermark=None).select(
        F.col("event_id").alias("left_id"),
        F.col("user_id").alias("l_uid"),
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("left_type"),
    ).withWatermark("l_ts", "10 minutes")
    b = stream_events(spark, sf_dir, watermark=None).select(
        F.col("event_id").alias("right_id"),
        F.col("user_id").alias("r_uid"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("right_type"),
    ).withWatermark("r_ts", "10 minutes")
    j = a.join(
        b,
        (F.col("l_uid") == F.col("r_uid"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("left_id", "right_id", "left_type", "right_type")
    return run_to_memory(j, output_mode="append").orderBy("left_id", "right_id")


@query(
    "stream_topn",
    oracle=f"""
    {_EV_CTE}
    SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rn FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM ev) WHERE rn <= 3 ORDER BY user_id, rn
    """,
    tags=("streaming", "rank", "topn", "stateful"),
)
def stream_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Top-3 per user by value — keyed bounded-heap state in
    ``applyInPandasWithState`` (AbstractTopNFunction.java:48 parity)."""
    ev = stream_events(spark, sf_dir)
    out = run_to_memory(streaming_topn(ev, n=3), output_mode="update")
    return out.drop("seq").orderBy("user_id", "rn")


@query(
    "stream_dedup_keep_last",
    oracle=f"""
    {_EV_CTE}
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev) WHERE rn = 1 ORDER BY user_id
    """,
    tags=("streaming", "dedup", "stateful"),
)
def stream_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keep-last dedup per key (event-time; SS native path only
    supports keep-first) — single-row keyed state."""
    ev = stream_events(spark, sf_dir)
    out = run_to_memory(streaming_dedup_keep_last(ev), output_mode="update")
    return out.orderBy("user_id")


@query(
    "stream_dedup_keep_first_native",
    oracle=f"""
    {_EV_CTE}
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS uniq_events
    FROM ev GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_keep_first_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SS dropDuplicates (keep-first by arrival) chained into a
    streaming agg — dedup on the unique key makes the result order-free."""
    ev = stream_events(spark, sf_dir)
    dd = ev.dropDuplicates(["event_id"])
    # rows are unique by event_id after the stateful dedup → plain count
    # (streaming DISTINCT aggregates are unsupported, and unnecessary here)
    agg = dd.groupBy("event_type").agg(F.count(F.lit(1)).alias("uniq_events"))
    return run_to_memory(agg, output_mode="complete").orderBy("event_type")


@query(
    "stream_over_agg",
    oracle=f"""
    {_EV_CTE}
    SELECT user_id, event_id, value,
           CAST(SUM(value) OVER w AS DOUBLE) AS running_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS running_cnt
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    tags=("streaming", "over", "stateful"),
)
def stream_over_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming over-aggregate (running sum/count per key, event-time order)
    — RowTimeUnboundedPrecedingOver parity via GroupState accumulator."""
    ev = stream_events(spark, sf_dir)
    out = run_to_memory(streaming_over_agg(ev), output_mode="append")
    return out.orderBy("user_id", "event_id")


@query(
    "stream_cep_click_purchase",
    oracle=_CEP_CLICK_PURCHASE_ORACLE,
    tags=("streaming", "cep", "stateful"),
)
def stream_cep_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP: click →(within 6 h)→ purchase per user, greedy non-overlapping
    (MATCH_RECOGNIZE AFTER MATCH SKIP PAST LAST ROW). Hash-verified against
    the recursive-CTE oracle (see _cep_oracle)."""
    ev = stream_events(spark, sf_dir)
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .bound("event_type = 'purchase'")
        .within(6 * 3600 * 1_000_000)
    )
    out = run_to_memory(cep_pattern_matches(ev, pat), output_mode="append")
    return out.orderBy("user_id", "first_event_id")


@query(
    "stream_tumble_early_fire",
    oracle=f"""
    {_EV_CTE}
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(value) AS DOUBLE) AS total_value
    FROM ev GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("streaming", "window", "tumble", "early-fire", "multibatch"),
)
def stream_tumble_early_fire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early/late window firing (EventTimeTriggers.java:36-71 —
    ``afterEndOfWindow().withEarlyFirings(...)``): the tumbling agg runs in
    UPDATE mode over 4 micro-batches, emitting a partial row every time a
    batch touches a still-open window (Flink's EARLY records); a window's
    last emission is the final watermark-close firing (``is_final=true`` —
    streaming/core.py:tag_final_firings). The registered output is the
    final rows only, hash-matched against the batch oracle — proving the
    early partials CONVERGE to the exact final aggregate; the early-row
    count itself is pinned in tests/test_early_fire.py against the split
    assignment (a window touched by k batches fires k−1 early records)."""
    from flink_1_12_2_spark.streaming.core import (
        run_update_batches,
        stream_events_multibatch,
        tag_final_firings,
    )

    ev = stream_events_multibatch(spark, sf_dir, n_files=4)
    agg = ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total_value")
    )
    emissions = run_update_batches(agg)
    final = tag_final_firings(emissions, ["win", "event_type"]).filter(
        F.col("is_final")
    )
    return final.select(
        ltz_to_ntz_utc(F.col("win.start")).alias("win_start"),
        "event_type",
        "cnt",
        "total_value",
    ).orderBy("win_start", "event_type")


@query(
    "stream_static_broadcast_join",
    oracle=f"""
    {_EV_CTE}
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS events,
           CAST(SUM(e.value) AS DOUBLE) AS total_value
    FROM ev e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
    tags=("streaming", "join", "broadcast-state"),
)
def stream_static_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static (broadcast-state) join: the static dimension is
    broadcast and re-evaluated every micro-batch — Flink's broadcast state
    pattern (BroadcastConnectedStream) and the proc-time temporal join
    (TemporalProcessTimeJoinOperator.java) in one: each batch sees the
    dimension's current snapshot."""
    from flink_1_12_2_spark.registry import load as _load

    ev = stream_events(spark, sf_dir)
    dim = _load(spark, sf_dir, "nation")
    j = ev.join(
        F.broadcast(dim), ev.user_id % 25 == dim.n_nationkey
    )
    agg = j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("events"), F.sum("value").alias("total_value")
    )
    return run_to_memory(agg, output_mode="complete").orderBy("n_name")


@query(
    "match_recognize_sql",
    oracle=_CEP_CLICK_PURCHASE_ORACLE,
    tags=("batch", "cep", "sql"),
)
def match_recognize_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE SQL front door (StreamExecMatch parity): the Flink
    CEP SQL dialect parsed onto the same NFA as the streaming operator.
    Hash-verified against the recursive-CTE oracle (see _cep_oracle);
    cross-implementation equality with the streaming CEP operator is
    asserted in tests/test_cep.py."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (A B)
      WITHIN INTERVAL '6' HOUR
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    return match_recognize(ev, sql).orderBy("user_id", "first_event_id")


@query(
    "stream_topn_multibatch",
    oracle=f"""
    {_EV_CTE}
    SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rn FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM ev) WHERE rn <= 3 ORDER BY user_id, rn
    """,
    tags=("streaming", "rank", "topn", "stateful", "multibatch"),
)
def stream_topn_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Top-3 with REAL cross-batch state: the table is split into 4
    time-ordered files streamed one per micro-batch (maxFilesPerTrigger=1),
    so each key's heap state evolves over 4 updates; the final state (max
    seq per key) must equal the batch row_number oracle."""
    from pyspark.sql import Window as W

    from flink_1_12_2_spark.streaming.core import stream_events_multibatch

    ev = stream_events_multibatch(spark, sf_dir, n_files=4)
    out = run_to_memory(streaming_topn(ev, n=3), output_mode="update")
    w = W.partitionBy("user_id")
    final = (
        out.withColumn("max_seq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("max_seq"))
        .drop("seq", "max_seq")
    )
    return final.orderBy("user_id", "rn")


@query(
    "stream_over_agg_multibatch",
    oracle=f"""
    {_EV_CTE}
    SELECT user_id, event_id, value,
           CAST(SUM(value) OVER w AS DOUBLE) AS running_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS running_cnt
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    tags=("streaming", "over", "stateful", "multibatch"),
)
def stream_over_agg_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming over-agg across 4 real micro-batches: accumulators carry
    across batches and the time-split files preserve global event-time order,
    so the full output equals the batch window-frame oracle."""
    from flink_1_12_2_spark.streaming.core import stream_events_multibatch

    ev = stream_events_multibatch(spark, sf_dir, n_files=4)
    ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts")))
    out = run_to_memory(streaming_over_agg(ev), output_mode="append")
    return out.orderBy("user_id", "event_id")


@query(
    "stream_dedup_keep_last_multibatch",
    oracle=f"""
    {_EV_CTE}
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev) WHERE rn = 1 ORDER BY user_id
    """,
    tags=("streaming", "dedup", "stateful", "multibatch"),
)
def stream_dedup_keep_last_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-last dedup across 4 micro-batches: single-row keyed state updated
    per batch; final update-mode emission per key equals the batch oracle."""
    from pyspark.sql import Window as W

    from flink_1_12_2_spark.streaming.core import stream_events_multibatch

    ev = stream_events_multibatch(spark, sf_dir, n_files=4)
    ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts")))
    out = run_to_memory(streaming_dedup_keep_last(ev), output_mode="update")
    # update-mode memory sink appends one row per key per batch → keep the
    # final (largest ts_us, event_id) emission per key
    w = W.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy("user_id")
    )


@query(
    "stream_cep_multibatch",
    oracle=_CEP_CLICK_PURCHASE_ORACLE,
    tags=("streaming", "cep", "stateful", "multibatch"),
)
def stream_cep_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP across 4 micro-batches: partial matches (e.g. a click whose
    purchase arrives in a later batch) carry in state. Hash-verified against
    the recursive-CTE oracle; equality with the batch NFA is asserted in
    tests/test_cep.py."""
    from flink_1_12_2_spark.streaming.core import stream_events_multibatch

    ev = stream_events_multibatch(spark, sf_dir, n_files=4)
    ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts")))
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .bound("event_type = 'purchase'")
        .within(6 * 3600 * 1_000_000)
    )
    out = run_to_memory(cep_pattern_matches(ev, pat), output_mode="append")
    return out.orderBy("user_id", "first_event_id")


@query(
    "stream_topn_changelog",
    oracle=f"""
    {_EV_CTE}
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM ev) WHERE rn <= 3 ORDER BY user_id, event_id
    """,
    tags=("streaming", "rank", "topn", "changelog", "multibatch"),
)
def stream_topn_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retractable streaming Top-N (RetractableTopNFunction.java:53 parity):
    the operator emits +I/-D changes across 4 micro-batches; applying the
    changelog (inserts minus deletions) reconstructs exactly the batch top-3
    — verifying the retraction protocol end-to-end."""
    from flink_1_12_2_spark.streaming.core import stream_events_multibatch
    from flink_1_12_2_spark.streaming.stateful import streaming_topn_changelog

    ev = stream_events_multibatch(spark, sf_dir, n_files=4)
    changes = run_to_memory(streaming_topn_changelog(ev, n=3), output_mode="update")
    # apply the changelog: a row is live iff its latest change is +I
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id", "event_id").orderBy(F.col("seq").desc())
    live = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("_row_kind") == "+I"))
        .select("user_id", "event_id", "value")
    )
    return live.orderBy("user_id", "event_id")


@query(
    "stream_event_time_sort",
    oracle=f"""
    {_EV_CTE}
    SELECT user_id, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS emit_idx
    FROM ev ORDER BY user_id, emit_idx
    """,
    tags=("streaming", "sort", "multibatch"),
)
def stream_event_time_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sort (RowTimeSortOperator.java:43 parity): rows buffer in
    keyed state and are released strictly in (ts, event_id) order as the
    watermark passes them, across 4 micro-batches + 2 sentinel flush batches.
    Hash-matching emit_idx against the batch row_number oracle proves the
    emission ORDER, not just the row set."""
    from flink_1_12_2_spark.streaming.core import stream_events_multibatch
    from flink_1_12_2_spark.streaming.stateful import streaming_event_time_sort

    ev = stream_events_multibatch(spark, sf_dir, n_files=4, flush_sentinels=True)
    out = run_to_memory(streaming_event_time_sort(ev), output_mode="append")
    return out.select("user_id", "event_id", "emit_idx").orderBy(
        "user_id", "emit_idx"
    )


@query(
    "stream_join_outer_changelog",
    oracle=f"""
    {_EV_CTE},
    l AS (SELECT user_id, event_id AS l_event_id FROM ev
          WHERE event_type = 'click'),
    r AS (SELECT user_id, event_id AS r_event_id FROM ev
          WHERE event_type = 'purchase' AND value > 180)
    SELECT l.user_id, l.l_event_id, r.r_event_id
    FROM l LEFT JOIN r ON l.user_id = r.user_id
    ORDER BY 1, 2, 3
    """,
    tags=("streaming", "join", "changelog", "multibatch"),
)
def stream_join_outer_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming unbounded LEFT OUTER join emitting +I/-D retractions
    (StreamingJoinOperator.java:36, retraction protocol :133-178): clicks
    join rare high-value purchases per user across 4 micro-batches; unmatched
    clicks emit null-padded rows that are retracted when the first purchase
    arrives. Applying the changelog (net +I minus -D) reconstructs exactly
    the batch LEFT JOIN — verifying the protocol end-to-end."""
    from flink_1_12_2_spark.streaming.core import stream_events_multibatch
    from flink_1_12_2_spark.streaming.stateful import (
        streaming_outer_join_changelog,
    )

    ev = stream_events_multibatch(spark, sf_dir, n_files=4)
    left = ev.filter(F.col("event_type") == "click").select(
        F.lit("L").alias("side"), "user_id", "event_id"
    )
    right = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 180)
    ).select(F.lit("R").alias("side"), "user_id", "event_id")
    changes = run_to_memory(
        streaming_outer_join_changelog(left.unionByName(right)),
        output_mode="update",
    )
    # apply the changelog: net count per (l, r) pair; pairs are unique so the
    # net is 1 (live) or 0 (inserted then retracted)
    net = (
        changes.groupBy("user_id", "l_event_id", "r_event_id")
        .agg(
            F.sum(
                F.when(F.col("_row_kind") == "+I", 1).otherwise(-1)
            ).alias("net")
        )
        .filter(F.col("net") == 1)
        .select("user_id", "l_event_id", "r_event_id")
    )
    return net.orderBy("user_id", "l_event_id", "r_event_id")


@query(
    "stream_cep_quantified",
    oracle=_CEP_QUANTIFIED_ORACLE,
    tags=("streaming", "cep", "stateful", "quantifier"),
)
def stream_cep_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified CEP (Pattern.java oneOrMore:350/greedy:365/notFollowedBy):
    one-or-more clicks (greedy), then — with no intervening error — a
    purchase, within 6 h per user. Hash-verified against the recursive-CTE
    oracle (error is a resolving type: it kills the pending run);
    batch==streaming equality and the per-quantifier semantics are pinned in
    tests/test_cep.py."""
    ev = stream_events(spark, sf_dir)
    pat = (
        Pattern.begin("clicks", lambda r: r["event_type"] == "click")
        .one_or_more()
        .greedy()
        .not_followed_by("err", lambda r: r["event_type"] == "error")
        .followed_by("buy", lambda r: r["event_type"] == "purchase")
        .within(6 * 3600 * 1_000_000)
    )
    out = run_to_memory(cep_pattern_matches(ev, pat), output_mode="append")
    return out.orderBy("user_id", "first_event_id")


_48H_US = 48 * 3600 * 1_000_000

# Branch-NFA oracle for PATTERN (A (B | C) D): per click c the branch
# consumes the FIRST purchase-or-error after it, then completes at the first
# view after that; v(c) is monotone in c, so under SKIP PAST LAST ROW the
# winner from position pos is simply the earliest in-window click — the
# per-click (mid, view) pair precomputes pos-independently in `clk`.
_MR_ALTERNATION_ORACLE = f"""
    WITH RECURSIVE
    ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                  event_type FROM events),
    clk AS (
      SELECT c.user_id, c.event_id AS c_eid, c.ts_us AS c_ts,
             v.event_id AS v_eid, v.ts_us AS v_ts
      FROM ev c
      JOIN LATERAL (
        SELECT m2.ts_us AS ts_us, m2.event_id AS event_id FROM ev m2
        WHERE m2.user_id = c.user_id AND m2.event_type IN ('purchase', 'error')
          AND (m2.ts_us, m2.event_id) > (c.ts_us, c.event_id)
        ORDER BY m2.ts_us, m2.event_id LIMIT 1) m ON true
      JOIN LATERAL (
        SELECT v2.ts_us AS ts_us, v2.event_id AS event_id FROM ev v2
        WHERE v2.user_id = c.user_id AND v2.event_type = 'view'
          AND (v2.ts_us, v2.event_id) > (m.ts_us, m.event_id)
        ORDER BY v2.ts_us, v2.event_id LIMIT 1) v ON true
      WHERE c.event_type = 'click' AND v.ts_us < c.ts_us + {_48H_US}),
    state AS (
      SELECT DISTINCT user_id,
             CAST(-9223372036854775808 AS BIGINT) AS pos_ts,
             CAST(-1 AS BIGINT) AS pos_eid,
             CAST(NULL AS BIGINT) AS m_first, CAST(NULL AS BIGINT) AS m_last,
             CAST(NULL AS BIGINT) AS m_first_ts,
             CAST(NULL AS BIGINT) AS m_last_ts
      FROM ev
      UNION ALL
      SELECT s.user_id, x.v_ts, x.v_eid, x.c_eid, x.v_eid, x.c_ts, x.v_ts
      FROM state s
      JOIN LATERAL (
        SELECT k.c_eid, k.c_ts, k.v_eid, k.v_ts FROM clk k
        WHERE k.user_id = s.user_id
          AND (k.c_ts, k.c_eid) > (s.pos_ts, s.pos_eid)
        ORDER BY k.c_ts, k.c_eid LIMIT 1) x ON true)
    SELECT user_id, m_first AS first_event_id, m_last AS last_event_id,
           m_first_ts AS first_ts_us, m_last_ts AS last_ts_us
    FROM state WHERE m_first IS NOT NULL
    ORDER BY user_id, first_event_id
    """


@query(
    "match_recognize_alternation",
    oracle=_MR_ALTERNATION_ORACLE,
    tags=("batch", "cep", "sql", "alternation"),
)
def match_recognize_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATTERN (A (B | C) D) — MATCH_RECOGNIZE alternation (Calcite
    SqlMatchRecognize `|`): click, then purchase OR error (each matching
    alternative forks its own NFA branch with the variable recorded), then
    view, within 48 h. 481 matches on sf0.01, hash-verified against the
    recursive-CTE branch-semantics oracle."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (A (B | C) D)
      WITHIN INTERVAL '48' HOUR
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase',
             C AS event_type = 'error', D AS event_type = 'view'
    )"""
    return match_recognize(ev, sql).orderBy("user_id", "first_event_id")


# Branch-NFA oracle for PATTERN (PERMUTE (A, B) C): a click or view starts
# one branch per order; the branch consumes the first row of the OTHER type
# after it, then completes at the first purchase after that — valid while
# inside the 24 h window. Per-start completions precompute pos-independently
# in `st`; the skip-past-last recursion picks the earliest completion
# (earliest start on ties).
_MR_PERMUTE_ORACLE = f"""
    WITH RECURSIVE
    ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                  event_type FROM events),
    st AS (
      SELECT s.user_id, s.event_id AS s_eid, s.ts_us AS s_ts,
             p.event_id AS p_eid, p.ts_us AS p_ts
      FROM ev s
      JOIN LATERAL (
        SELECT m2.ts_us AS ts_us, m2.event_id AS event_id FROM ev m2
        WHERE m2.user_id = s.user_id
          AND m2.event_type = CASE s.event_type WHEN 'click' THEN 'view'
                                                ELSE 'click' END
          AND (m2.ts_us, m2.event_id) > (s.ts_us, s.event_id)
        ORDER BY m2.ts_us, m2.event_id LIMIT 1) m ON true
      JOIN LATERAL (
        SELECT p2.ts_us AS ts_us, p2.event_id AS event_id FROM ev p2
        WHERE p2.user_id = s.user_id AND p2.event_type = 'purchase'
          AND (p2.ts_us, p2.event_id) > (m.ts_us, m.event_id)
        ORDER BY p2.ts_us, p2.event_id LIMIT 1) p ON true
      WHERE s.event_type IN ('click', 'view')
        AND p.ts_us < s.ts_us + {24 * 3600 * 1_000_000}),
    state AS (
      SELECT DISTINCT user_id,
             CAST(-9223372036854775808 AS BIGINT) AS pos_ts,
             CAST(-1 AS BIGINT) AS pos_eid,
             CAST(NULL AS BIGINT) AS m_first, CAST(NULL AS BIGINT) AS m_last,
             CAST(NULL AS BIGINT) AS m_first_ts,
             CAST(NULL AS BIGINT) AS m_last_ts
      FROM ev
      UNION ALL
      SELECT s.user_id, x.p_ts, x.p_eid, x.s_eid, x.p_eid, x.s_ts, x.p_ts
      FROM state s
      JOIN LATERAL (
        SELECT k.s_eid, k.s_ts, k.p_eid, k.p_ts FROM st k
        WHERE k.user_id = s.user_id
          AND (k.s_ts, k.s_eid) > (s.pos_ts, s.pos_eid)
        ORDER BY k.p_ts, k.p_eid, k.s_ts, k.s_eid LIMIT 1) x ON true)
    SELECT user_id, m_first AS first_event_id, m_last AS last_event_id,
           m_first_ts AS first_ts_us, m_last_ts AS last_ts_us
    FROM state WHERE m_first IS NOT NULL
    ORDER BY user_id, first_event_id
    """


@query(
    "stream_cep_buffered_reorder",
    oracle=_CEP_CLICK_PURCHASE_ORACLE,
    tags=("streaming", "cep", "stateful", "watermark-buffer", "multibatch"),
)
def stream_cep_buffered_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-buffered CEP on a maximally DISORDERED source — the exact
    Flink out-of-order contract (AbstractKeyedCEPPatternOperator's priority
    queue drained on watermark advance): micro-batches split by even/odd
    event_id each span the whole month, so cross-batch arrival order is
    adversarial; rows buffer in state until the watermark passes them and
    the NFA consumes them in global (ts, event_id) order. Sentinel flush
    batches raise the final watermark (Flink MAX_WATERMARK), draining the
    buffer. Hash-matched against the SAME oracle as the in-order source —
    proving arrival order is fully neutralized (the unbuffered operator on
    this source would interleave months of history after newer rows)."""
    from flink_1_12_2_spark.streaming.core import stream_events_interleaved

    ev = stream_events_interleaved(spark, sf_dir, n_files=2, watermark="35 days")
    ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts")))
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .bound("event_type = 'purchase'")
        .within(_6H_US)
    )
    out = run_to_memory(
        cep_pattern_matches(ev, pat, buffer_to_watermark=True),
        output_mode="append",
    )
    return out.orderBy("user_id", "first_event_id")


@query(
    "stream_cep_no_skip",
    oracle=f"""
    WITH ev AS (SELECT user_id, event_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
                FROM events)
    SELECT c.user_id, c.event_id AS first_event_id, p.event_id AS last_event_id,
           c.ts_us AS first_ts_us, p.ts_us AS last_ts_us
    FROM ev c
    JOIN LATERAL (
      SELECT p2.event_id, p2.ts_us FROM ev p2
      WHERE p2.user_id = c.user_id AND p2.event_type = 'purchase'
        AND (p2.ts_us, p2.event_id) > (c.ts_us, c.event_id)
      ORDER BY p2.ts_us, p2.event_id LIMIT 1) p ON true
    WHERE c.event_type = 'click' AND p.ts_us < c.ts_us + {_6H_US}
    ORDER BY user_id, first_event_id
    """,
    tags=("streaming", "cep", "stateful", "skip-strategy"),
)
def stream_cep_no_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AfterMatchSkipStrategy.noSkip — the Flink Pattern-API DEFAULT
    (CEP.java:38 + nfa/aftermatch/NoSkipStrategy): EVERY completed match is
    emitted and nothing is discarded. For click→(6h)→purchase, every click
    branch completes at its first subsequent purchase inside the window —
    SQL-expressible as a per-click lateral top-1 with the window bound, so
    no recursion is needed (contrast the skip-past-last oracles)."""
    ev = stream_events(spark, sf_dir)
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .bound("event_type = 'purchase'")
        .within(_6H_US)
        .no_skip()
    )
    out = run_to_memory(cep_pattern_matches(ev, pat), output_mode="append")
    return out.orderBy("user_id", "first_event_id")


# Branch-NFA oracle for the ITERATIVE condition B.value > A.value: per click
# a the branch completes at the first row with value above a's own; b(a) is
# NOT monotone in a (it depends on a.value), so the recursion orders by
# completion row first, then start.
_MR_ITERATIVE_ORACLE = f"""
    WITH RECURSIVE
    ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                  event_type, value FROM events),
    st AS (
      SELECT a.user_id, a.event_id AS a_eid, a.ts_us AS a_ts,
             b.event_id AS b_eid, b.ts_us AS b_ts
      FROM ev a
      JOIN LATERAL (
        SELECT b2.ts_us AS ts_us, b2.event_id AS event_id FROM ev b2
        WHERE b2.user_id = a.user_id AND b2.value > a.value
          AND (b2.ts_us, b2.event_id) > (a.ts_us, a.event_id)
        ORDER BY b2.ts_us, b2.event_id LIMIT 1) b ON true
      WHERE a.event_type = 'click' AND b.ts_us < a.ts_us + {_6H_US}),
    state AS (
      SELECT DISTINCT user_id,
             CAST(-9223372036854775808 AS BIGINT) AS pos_ts,
             CAST(-1 AS BIGINT) AS pos_eid,
             CAST(NULL AS BIGINT) AS m_first, CAST(NULL AS BIGINT) AS m_last,
             CAST(NULL AS BIGINT) AS m_first_ts,
             CAST(NULL AS BIGINT) AS m_last_ts
      FROM ev
      UNION ALL
      SELECT s.user_id, x.b_ts, x.b_eid, x.a_eid, x.b_eid, x.a_ts, x.b_ts
      FROM state s
      JOIN LATERAL (
        SELECT k.a_eid, k.a_ts, k.b_eid, k.b_ts FROM st k
        WHERE k.user_id = s.user_id
          AND (k.a_ts, k.a_eid) > (s.pos_ts, s.pos_eid)
        ORDER BY k.b_ts, k.b_eid, k.a_ts, k.a_eid LIMIT 1) x ON true)
    SELECT user_id, m_first AS first_event_id, m_last AS last_event_id,
           m_first_ts AS first_ts_us, m_last_ts AS last_ts_us
    FROM state WHERE m_first IS NOT NULL
    ORDER BY user_id, first_event_id
    """


@query(
    "match_recognize_iterative",
    oracle=_MR_ITERATIVE_ORACLE,
    tags=("batch", "cep", "sql", "iterative-condition"),
)
def match_recognize_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE condition — the DEFINE clause references an earlier
    variable's matched row (Flink IterativeCondition.java:57 /
    MATCH_RECOGNIZE running semantics): ``B AS B.value > A.value`` finds,
    per click, the first later event priced above the CLICK'S OWN value —
    a per-branch threshold no row-local predicate can express. 453 matches
    on sf0.01, hash-verified against the recursive-CTE oracle."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (A B)
      WITHIN INTERVAL '6' HOUR
      DEFINE A AS event_type = 'click', B AS B.value > A.value
    )"""
    return match_recognize(ev, sql).orderBy("user_id", "first_event_id")


@query(
    "match_recognize_permute",
    oracle=_MR_PERMUTE_ORACLE,
    tags=("batch", "cep", "sql", "permute"),
)
def match_recognize_permute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATTERN (PERMUTE (A, B) C) — Calcite SqlMatchRecognize PERMUTE
    (Flink expands it to the alternation of all orders): click and view in
    EITHER order, then purchase, within 24 h. Each order is a branch family
    in the sequence-set NFA (streaming/cep.py Pattern.permute). 221 matches
    on sf0.01, hash-verified against the recursive-CTE oracle."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      PATTERN (PERMUTE (A, B) C)
      WITHIN INTERVAL '24' HOUR
      DEFINE A AS event_type = 'click', B AS event_type = 'view',
             C AS event_type = 'purchase'
    )"""
    return match_recognize(ev, sql).orderBy("user_id", "first_event_id")


_24H_US = 24 * 3600 * 1_000_000

# Branch-NFA oracle over OVERLAPPING threshold predicates (value > 50 /
# value > 150 — every high row also matches the first step): same
# skip-past-last recursion as _cep_oracle, on value instead of event_type.
_CEP_OVERLAP_ORACLE = f"""
    WITH RECURSIVE
    ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                  value FROM events),
    state AS (
      SELECT DISTINCT user_id,
             CAST(-9223372036854775808 AS BIGINT) AS pos_ts,
             CAST(-1 AS BIGINT) AS pos_eid,
             CAST(NULL AS BIGINT) AS m_first, CAST(NULL AS BIGINT) AS m_last,
             CAST(NULL AS BIGINT) AS m_first_ts,
             CAST(NULL AS BIGINT) AS m_last_ts
      FROM ev
      UNION ALL
      SELECT s.user_id, x.h_ts, x.h_eid, x.m_eid, x.h_eid, x.m_ts, x.h_ts
      FROM state s
      JOIN LATERAL (
        SELECT h.event_id AS h_eid, h.ts_us AS h_ts, m.event_id AS m_eid,
               m.ts_us AS m_ts
        FROM ev h
        JOIN LATERAL (
          SELECT m2.event_id AS event_id, m2.ts_us AS ts_us FROM ev m2
          WHERE m2.user_id = h.user_id AND m2.value > 50
            AND (m2.ts_us, m2.event_id) > (s.pos_ts, s.pos_eid)
            AND (m2.ts_us, m2.event_id) < (h.ts_us, h.event_id)
            AND h.ts_us < m2.ts_us + {_24H_US}
          ORDER BY m2.ts_us, m2.event_id LIMIT 1) m ON true
        WHERE h.user_id = s.user_id AND h.value > 150
          AND (h.ts_us, h.event_id) > (s.pos_ts, s.pos_eid)
        ORDER BY h.ts_us, h.event_id LIMIT 1) x ON true)
    SELECT user_id, m_first AS first_event_id, m_last AS last_event_id,
           m_first_ts AS first_ts_us, m_last_ts AS last_ts_us
    FROM state WHERE m_first IS NOT NULL
    ORDER BY user_id, first_event_id
    """


@query(
    "stream_cep_overlap_threshold",
    oracle=_CEP_OVERLAP_ORACLE,
    tags=("streaming", "cep", "stateful", "overlap", "multi-run"),
)
def stream_cep_overlap_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP with OVERLAPPING step predicates — the multi-run NFA proof query
    (Flink NFA.java:86 simultaneous branches / SharedBuffer): value > 50
    followed by value > 150 within 24 h. Every high-value row also matches
    the first step, and sparse events make `within` expiry common, so the
    correct answer requires keeping EVERY candidate start alive: a start
    whose window expires must not hide later starts whose window still
    covers the closing row. On sf0.01 the branch NFA finds 239 matches; the
    r1-r3 single-run determinization finds 184 (55 matches abandoned with
    their pending start — divergence pinned in tests/test_cep.py)."""
    ev = stream_events(spark, sf_dir)
    pat = (
        Pattern.begin("mid", lambda r: r["value"] > 50)
        .bound("value > 50")
        .followed_by("high", lambda r: r["value"] > 150)
        .bound("value > 150")
        .within(_24H_US)
    )
    out = run_to_memory(cep_pattern_matches(ev, pat), output_mode="append")
    return out.orderBy("user_id", "first_event_id")


@query(
    "stream_session_dynamic_gap",
    oracle="""
    WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
    e AS (
      SELECT user_id, ts, value,
             CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
                  ELSE INTERVAL 30 MINUTE END AS gap
      FROM ev),
    m AS (
      SELECT *, MAX(ts + gap) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM e),
    s AS (
      -- boundary rule: a row AT exactly prev_end MERGES (touching
      -- windows merge — Spark session_window and Flink
      -- SessionWindowAssigner/TimeWindow.intersects agree; pinned in
      -- tests/test_oracle_parity.py) -> strict > starts a new session
      SELECT *, SUM(CASE WHEN prev_end IS NULL OR ts > prev_end
                         THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sess
      FROM m)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts + gap) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sess
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "window", "session", "dynamic-gap"),
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows on a real stream (DataStream
    SessionWindowTimeGapExtractor parity): per-row gap Column inside
    Structured Streaming's session merge; same gaps-and-islands oracle as
    the batch form."""
    ev = stream_events(spark, sf_dir)
    gap = F.when(F.col("event_type") == "click", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    agg = ev.groupBy(
        F.session_window("ts", gap).alias("win"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        ltz_to_ntz_utc(F.col("win.start")).alias("session_start"),
        ltz_to_ntz_utc(F.col("win.end")).alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


@query(
    "stream_interval_join_left_outer",
    oracle=f"""
    {_EV_CTE}
    SELECT a.event_id AS left_id, b.event_id AS right_id,
           a.event_type AS left_type, b.event_type AS right_type
    FROM ev a LEFT JOIN ev b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '2 minutes'
    ORDER BY left_id, right_id
    """,
    tags=("streaming", "join", "interval", "outer"),
)
def stream_interval_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join on two streams (TimeIntervalJoin.java:53
    outer emission / StreamExecIntervalJoin): unmatched left rows emit
    once the watermark proves no in-range right row can arrive. Sentinel
    end-of-input batches raise the watermark past every real row (Flink's
    MAX_WATERMARK at end of bounded input), else the tail stays withheld
    in state forever on a drained source."""
    from flink_1_12_2_spark.streaming.core import stream_events_multibatch

    a = stream_events_multibatch(
        spark, sf_dir, n_files=2, watermark=None, flush_sentinels=True
    ).select(
        F.col("event_id").alias("left_id"),
        F.col("user_id").alias("l_uid"),
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("left_type"),
    ).withWatermark("l_ts", "10 minutes")
    b = stream_events_multibatch(
        spark, sf_dir, n_files=2, watermark=None, flush_sentinels=True
    ).select(
        F.col("event_id").alias("right_id"),
        F.col("user_id").alias("r_uid"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("right_type"),
    ).withWatermark("r_ts", "10 minutes")
    j = a.join(
        b,
        (F.col("l_uid") == F.col("r_uid"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 2 MINUTES")),
        "left_outer",
    ).select("left_id", "right_id", "left_type", "right_type")
    out = run_to_memory(j, output_mode="append")
    return (
        out.filter(F.col("left_id") != -1)
        .orderBy("left_id", "right_id")
    )


@query(
    "stream_join_semi",
    oracle=f"""
    {_EV_CTE}
    SELECT a.event_id, a.user_id, a.event_type
    FROM ev a
    WHERE EXISTS (SELECT 1 FROM ev b
                  WHERE a.user_id = b.user_id
                    AND b.event_type = 'purchase'
                    AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL '5 minutes')
    ORDER BY event_id
    """,
    tags=("streaming", "join", "semi"),
)
def stream_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LEFT SEMI interval join (StreamingSemiAntiJoinOperator.java
    :217 / IN-EXISTS rewrite): clicks followed by a purchase within 5
    minutes, each left row emitted at most once — SS-native left_semi
    stream-stream join with a time-range condition."""
    a = stream_events(spark, sf_dir, watermark=None).select(
        "event_id",
        F.col("user_id").alias("l_uid"),
        F.col("ts").alias("l_ts"),
        "event_type",
    ).withWatermark("l_ts", "10 minutes")
    b = stream_events(spark, sf_dir, watermark=None).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("user_id").alias("r_uid"), F.col("ts").alias("r_ts")
    ).withWatermark("r_ts", "10 minutes")
    j = a.join(
        b,
        (F.col("l_uid") == F.col("r_uid"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 5 MINUTES")),
        "left_semi",
    ).select("event_id", F.col("l_uid").alias("user_id"), "event_type")
    return run_to_memory(j, output_mode="append").orderBy("event_id")


@query(
    "stream_join_anti",
    oracle=f"""
    {_EV_CTE}
    SELECT a.event_id, a.user_id, a.event_type
    FROM ev a
    WHERE a.event_type = 'click'
      AND NOT EXISTS (SELECT 1 FROM ev b
                      WHERE a.user_id = b.user_id
                        AND b.event_type = 'purchase'
                        AND b.ts > a.ts
                        AND b.ts <= a.ts + INTERVAL '2 minutes')
    ORDER BY event_id
    """,
    tags=("streaming", "join", "anti"),
)
def stream_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANTI interval join (StreamingSemiAntiJoinOperator.java):
    clicks NOT followed by a purchase within 2 minutes. SS has no
    stream-stream left_anti — the engine rewrites it as the watermarked
    LEFT OUTER interval join filtered to null right (the same rewrite
    Flink's SEMI_JOIN_RULES apply in reverse), with sentinel end-of-input
    flush so tail rows get their verdict."""
    from flink_1_12_2_spark.streaming.core import stream_events_multibatch

    a = stream_events_multibatch(
        spark, sf_dir, n_files=2, watermark=None, flush_sentinels=True
    ).filter(F.col("event_type").isin("click") | (F.col("event_id") == -1)).select(
        "event_id",
        F.col("user_id").alias("l_uid"),
        F.col("ts").alias("l_ts"),
        "event_type",
    ).withWatermark("l_ts", "10 minutes")
    b = stream_events_multibatch(
        spark, sf_dir, n_files=2, watermark=None, flush_sentinels=True
    ).filter(
        # keep the sentinel rows (NULL event_type): dropping them would
        # freeze the right-side watermark at the last real purchase and
        # withhold tail anti-verdicts forever
        (F.col("event_type") == "purchase") | (F.col("event_id") == -1)
    ).select(
        F.col("user_id").alias("r_uid"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("right_id"),
    ).withWatermark("r_ts", "10 minutes")
    j = a.join(
        b,
        (F.col("l_uid") == F.col("r_uid"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 2 MINUTES")),
        "left_outer",
    )
    out = run_to_memory(j, output_mode="append")
    return (
        out.filter(F.col("right_id").isNull() & (F.col("event_id") != -1))
        .select("event_id", F.col("l_uid").alias("user_id"), "event_type")
        .orderBy("event_id")
    )


@query(
    "match_recognize_skip_to_next",
    oracle=f"""
    {_EV_CTE}
    SELECT c.user_id, c.event_id AS first_event_id, p.event_id AS last_event_id,
           epoch_us(c.ts) AS first_ts_us, epoch_us(p.ts) AS last_ts_us
    FROM ev c, LATERAL (
      SELECT p2.event_id, p2.ts FROM ev p2
      WHERE p2.user_id = c.user_id AND p2.event_type = 'purchase'
        AND (p2.ts > c.ts OR (p2.ts = c.ts AND p2.event_id > c.event_id))
      ORDER BY p2.ts, p2.event_id LIMIT 1) p
    WHERE c.event_type = 'click'
    ORDER BY user_id, first_event_id
    """,
    tags=("batch", "cep", "sql", "skip-strategy"),
)
def match_recognize_skip_to_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFTER MATCH SKIP TO NEXT ROW (AfterMatchSkipStrategy.skipToNext —
    flink-libraries/flink-cep .../nfa/aftermatch/): overlapping matches,
    one per distinct start row. For pattern (click → purchase) this is
    SQL-expressible as 'each click paired with its first subsequent
    purchase' (lateral top-1), giving CEP its first hash-verified oracle
    (the default skip-past-last-row consumes rows disjointly and has no
    closed form)."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B)
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    return match_recognize(ev, sql).orderBy("user_id", "first_event_id")


@query(
    "match_recognize_measures",
    oracle=f"""
    {_EV_CTE}
    SELECT c.user_id, c.event_id AS first_event_id, p.event_id AS last_event_id,
           epoch_us(c.ts) AS first_ts_us, epoch_us(p.ts) AS last_ts_us,
           c.value AS click_value, p.value AS purchase_value
    FROM ev c, LATERAL (
      SELECT p2.event_id, p2.ts, p2.value FROM ev p2
      WHERE p2.user_id = c.user_id AND p2.event_type = 'purchase'
        AND (p2.ts > c.ts OR (p2.ts = c.ts AND p2.event_id > c.event_id))
      ORDER BY p2.ts, p2.event_id LIMIT 1) p
    WHERE c.event_type = 'click'
    ORDER BY user_id, first_event_id
    """,
    tags=("batch", "cep", "sql", "measures"),
)
def match_recognize_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURES clause (FIRST(col)/LAST(col) match-level accessors —
    MatchCodeGenerator measure projection in StreamExecMatch): the matched
    rows' payload columns surface in the output through the one
    explode-join of each match's rows back to the input, folded by one
    groupBy per match."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(value) AS click_value, LAST(value) AS purchase_value
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A B)
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    return match_recognize(ev, sql).orderBy("user_id", "first_event_id")


@query(
    "stream_cumulate",
    oracle=f"""
    {_EV_CTE},
    base AS (
      SELECT value, epoch_us(ts) // 1000000 AS ts_s,
             (epoch_us(ts) // 1000000) - ((epoch_us(ts) // 1000000) % 7200)
               AS ws
      FROM ev),
    expanded AS (
      SELECT value, ws, we
      FROM base, unnest(generate_series(ws + 1800, ws + 7200, 1800)) AS u(we)
      WHERE we > ts_s)
    SELECT to_timestamp(ws)::TIMESTAMP AS win_start,
           to_timestamp(we)::TIMESTAMP AS win_end,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(value) AS DOUBLE) AS total_value
    FROM expanded GROUP BY ws, we ORDER BY win_start, win_end
    """,
    tags=("streaming", "window", "cumulate"),
)
def stream_cumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATE on a real stream: the assigner is a stateless explode
    (sequence of window ends), so streaming needs no custom state — the
    exploded rows feed a normal streaming agg (complete mode). This is the
    Spark shape of Flink's CumulativeWindowAssigner firing early partials:
    every step-aligned window end is a separate group."""
    from flink_1_12_2_spark.operators.advanced import cumulate_window

    ev = stream_events(spark, sf_dir)
    # LTZ → NTZ-UTC before windowing so bounds are tz-independent
    ev = ev.withColumn("ts_ntz", ltz_to_ntz_utc(F.col("ts")))
    w = cumulate_window(ev, "ts_ntz", step_seconds=1800, size_seconds=7200)
    agg = w.groupBy("win_start", "win_end").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total_value")
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.orderBy("win_start", "win_end")


_EV_US_CTE = """WITH ev AS (SELECT user_id, event_id, value,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
                FROM events)"""


@query(
    "match_recognize_agg_measures",
    oracle=f"""
    {_EV_US_CTE},
    m AS (
      SELECT c1.user_id, c1.event_id AS first_event_id,
             c1.ts_us AS first_ts_us, c1.value AS v1,
             c2.value AS v2, p.event_id AS last_event_id,
             p.ts_us AS last_ts_us
      FROM ev c1
      JOIN LATERAL (
        SELECT c.event_id, c.ts_us, c.value FROM ev c
        WHERE c.user_id = c1.user_id AND c.event_type = 'click'
          AND (c.ts_us, c.event_id) > (c1.ts_us, c1.event_id)
        ORDER BY c.ts_us, c.event_id LIMIT 1) c2 ON true
      JOIN LATERAL (
        SELECT p2.event_id, p2.ts_us FROM ev p2
        WHERE p2.user_id = c1.user_id AND p2.event_type = 'purchase'
          AND (p2.ts_us, p2.event_id) > (c2.ts_us, c2.event_id)
        ORDER BY p2.ts_us, p2.event_id LIMIT 1) p ON true
      WHERE c1.event_type = 'click')
    SELECT user_id, first_event_id, last_event_id, first_ts_us, last_ts_us,
           CAST(v1 + v2 AS DOUBLE) AS sum_a,
           CAST((v1 + v2) / 2 AS DOUBLE) AS avg_a,
           CAST(2 AS BIGINT) AS cnt_a,
           CAST(v2 AS DOUBLE) AS last_a,
           'B' AS cls,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY first_ts_us, first_event_id) AS BIGINT) AS match_no
    FROM m ORDER BY user_id, first_event_id
    """,
    tags=("batch", "cep", "sql", "measures", "aggregates"),
)
def match_recognize_agg_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURES aggregates over pattern variables (Flink StreamExecMatch
    MatchCodeGenerator aggregate measures + CLASSIFIER()/MATCH_NUMBER() —
    flink-table-planner-blink MatchRecognizeITCase family): PATTERN (A{2} B)
    with SUM/AVG/COUNT/LAST over A's two rows, the classifier of the last
    row, and the per-partition match number. The NFA records each match's
    variable→event-ids assignment; it is exploded and joined back to the
    input once (key-partitioned, no NFA changes), and every measure is a
    conditional aggregate of one groupBy per match."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES SUM(A.value) AS sum_a, AVG(A.value) AS avg_a,
               COUNT(A.value) AS cnt_a, LAST(A.value) AS last_a,
               CLASSIFIER() AS cls, MATCH_NUMBER() AS match_no
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A{2} B)
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    out = match_recognize(ev, sql)
    return out.select(
        "user_id", "first_event_id", "last_event_id", "first_ts_us",
        "last_ts_us", "sum_a", "avg_a", "cnt_a", "last_a", "cls",
        F.col("match_no").cast("bigint").alias("match_no"),
    ).orderBy("user_id", "first_event_id")


@query(
    "match_recognize_define_agg",
    oracle=f"""
    {_EV_US_CTE}
    SELECT c1.user_id, c1.event_id AS first_event_id,
           p.event_id AS last_event_id,
           c1.ts_us AS first_ts_us, p.ts_us AS last_ts_us
    FROM ev c1
    JOIN LATERAL (
      SELECT c.event_id, c.ts_us, c.value FROM ev c
      WHERE c.user_id = c1.user_id AND c.event_type = 'click'
        AND (c.ts_us, c.event_id) > (c1.ts_us, c1.event_id)
      ORDER BY c.ts_us, c.event_id LIMIT 1) c2 ON true
    JOIN LATERAL (
      SELECT p2.event_id, p2.ts_us FROM ev p2
      WHERE p2.user_id = c1.user_id AND p2.event_type = 'purchase'
        AND (p2.ts_us, p2.event_id) > (c2.ts_us, c2.event_id)
        AND p2.value > (c1.value + c2.value) / 2
      ORDER BY p2.ts_us, p2.event_id LIMIT 1) p ON true
    WHERE c1.event_type = 'click'
    ORDER BY user_id, first_event_id
    """,
    tags=("batch", "cep", "sql", "iterative", "aggregates"),
)
def match_recognize_define_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-events iterative condition (IterativeCondition.java:57
    getEventsForPattern): DEFINE B compares the candidate row against an
    AGGREGATE over ALL rows matched to A — `B AS event_type = 'purchase'
    AND value > AVG(A.value)` (also exercises AND in DEFINE). The pattern
    opts into per-branch event retention (Pattern.with_events), bounded by
    the match length; purchases under the running average are skipped
    (relaxed contiguity), so the match closes at the FIRST qualifying
    purchase."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN (A{2} B)
      DEFINE A AS event_type = 'click',
             B AS event_type = 'purchase' AND value > AVG(A.value)
    )"""
    return match_recognize(ev, sql).orderBy("user_id", "first_event_id")


@query(
    "stream_cep_trailing_loop",
    oracle=f"""
    {_EV_US_CTE}
    SELECT c.user_id AS user_id, c.event_id AS first_event_id,
           v.event_id AS last_event_id,
           c.ts_us AS first_ts_us, v.ts_us AS last_ts_us
    FROM ev c JOIN ev v
      ON v.user_id = c.user_id AND v.event_type = 'view'
     AND (v.ts_us, v.event_id) > (c.ts_us, c.event_id)
     AND v.ts_us < c.ts_us + {_6H_US}
    WHERE c.event_type = 'click'
    ORDER BY c.user_id, first_event_id, last_event_id
    """,
    tags=("streaming", "cep", "stateful", "trailing-loop"),
)
def stream_cep_trailing_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing unbounded loop — `click view+` within 6 h under noSkip:
    the loop tail emits EAGERLY, one completion per take once min
    occurrences are met (Flink's oneOrMore PROCEED-to-final edge;
    previously rejected by validate()). The B-loop absorbs every view
    after the click, so the emitted spans are exactly (click, any later
    in-window view) — SQL-expressible without recursion. Strict `within`
    boundary (NFA.java:301) pinned by the `<` in the oracle."""
    ev = stream_events(spark, sf_dir)
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .bound("event_type = 'click'")
        .followed_by("view", lambda r: r["event_type"] == "view")
        .bound("event_type = 'view'")
        .one_or_more()
        .within(_6H_US)
        .no_skip()
    )
    out = run_to_memory(cep_pattern_matches(ev, pat), output_mode="append")
    return out.orderBy("user_id", "first_event_id", "last_event_id")


@query(
    "cep_group_pattern",
    oracle=f"""
    {_EV_US_CTE},
    m1 AS (
      SELECT c.user_id AS user_id, c.event_id AS first_event_id,
             c.ts_us AS first_ts_us, p.event_id AS last_event_id,
             p.ts_us AS last_ts_us
      FROM ev c
      JOIN LATERAL (
        SELECT v2.event_id, v2.ts_us FROM ev v2
        WHERE v2.user_id = c.user_id AND v2.event_type = 'view'
          AND (v2.ts_us, v2.event_id) > (c.ts_us, c.event_id)
        ORDER BY v2.ts_us, v2.event_id LIMIT 1) v ON true
      JOIN LATERAL (
        SELECT p2.event_id, p2.ts_us FROM ev p2
        WHERE p2.user_id = c.user_id AND p2.event_type = 'purchase'
          AND (p2.ts_us, p2.event_id) > (v.ts_us, v.event_id)
        ORDER BY p2.ts_us, p2.event_id LIMIT 1) p ON true
      WHERE c.event_type = 'click'),
    m2 AS (
      SELECT c.user_id AS user_id, c.event_id AS first_event_id,
             c.ts_us AS first_ts_us, p.event_id AS last_event_id,
             p.ts_us AS last_ts_us
      FROM ev c
      JOIN LATERAL (
        SELECT v2.event_id, v2.ts_us FROM ev v2
        WHERE v2.user_id = c.user_id AND v2.event_type = 'view'
          AND (v2.ts_us, v2.event_id) > (c.ts_us, c.event_id)
        ORDER BY v2.ts_us, v2.event_id LIMIT 1) v1 ON true
      JOIN LATERAL (
        SELECT k2.event_id, k2.ts_us FROM ev k2
        WHERE k2.user_id = c.user_id AND k2.event_type = 'click'
          AND (k2.ts_us, k2.event_id) > (v1.ts_us, v1.event_id)
        ORDER BY k2.ts_us, k2.event_id LIMIT 1) c2 ON true
      JOIN LATERAL (
        SELECT v3.event_id, v3.ts_us FROM ev v3
        WHERE v3.user_id = c.user_id AND v3.event_type = 'view'
          AND (v3.ts_us, v3.event_id) > (c2.ts_us, c2.event_id)
        ORDER BY v3.ts_us, v3.event_id LIMIT 1) v2 ON true
      JOIN LATERAL (
        SELECT p2.event_id, p2.ts_us FROM ev p2
        WHERE p2.user_id = c.user_id AND p2.event_type = 'purchase'
          AND (p2.ts_us, p2.event_id) > (v2.ts_us, v2.event_id)
        ORDER BY p2.ts_us, p2.event_id LIMIT 1) p ON true
      WHERE c.event_type = 'click')
    SELECT user_id, first_event_id, last_event_id, first_ts_us, last_ts_us
    FROM (SELECT * FROM m1 UNION SELECT * FROM m2)
    ORDER BY user_id, first_event_id, last_event_id
    """,
    tags=("batch", "cep", "group-pattern"),
)
def cep_group_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested GROUP pattern (GroupPattern.java — Pattern.begin(Pattern)):
    `(click view){1,2} purchase` under noSkip. Compiled by flattening each
    repetition count into its own sequence family (Pattern.group_seq);
    relaxed contiguity makes each family's match per start deterministic
    (chained first-after laterals), so the oracle is the UNION of the
    1-rep and 2-rep chains."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.streaming.cep import cep_match_batch

    ev = _load(spark, sf_dir, "events")
    cv = Pattern.begin("c", lambda r: r["event_type"] == "click").followed_by(
        "v", lambda r: r["event_type"] == "view"
    )
    buy = Pattern.begin("p", lambda r: r["event_type"] == "purchase")
    pat = Pattern.group_seq([(cv, 1, 2), (buy, 1, 1)]).no_skip()
    return cep_match_batch(ev, pat).orderBy(
        "user_id", "first_event_id", "last_event_id"
    )


@query(
    "cep_timeout_side_output",
    oracle=f"""
    {_EV_US_CTE}
    SELECT c.user_id AS user_id, c.event_id AS first_event_id,
           c.event_id AS last_event_id,
           c.ts_us AS first_ts_us, c.ts_us AS last_ts_us
    FROM ev c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM ev p
        WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
          AND (p.ts_us, p.event_id) > (c.ts_us, c.event_id)
          AND p.ts_us < c.ts_us + {_6H_US})
    ORDER BY user_id, first_event_id
    """,
    tags=("batch", "cep", "timeout", "side-output"),
)
def cep_timeout_side_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP timeout side output (TimedOutPartialMatchHandler /
    PatternTimeoutFunction): for click →(6h)→ purchase under noSkip, the
    timed-out partials are EXACTLY the clicks with no purchase inside
    their window — each click's branch either completes at its first
    in-window purchase (a match, not a timeout) or expires / flushes at
    end-of-input (Flink's MAX_WATERMARK). Since no second row was
    consumed, first = last in each timeout record; the NOT EXISTS oracle
    pins both the membership and the strict `within` boundary."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.streaming.cep import cep_timed_out_partials

    ev = _load(spark, sf_dir, "events")
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .within(_6H_US)
        .no_skip()
    )
    return cep_timed_out_partials(ev, pat).orderBy("user_id", "first_event_id")


_ALL_ROWS_FINAL = """
    , nm AS (
      SELECT user_id, m_first, m_last,
             ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY m_first_ts, m_first, m_last_ts, m_last) AS mn
      FROM state WHERE m_first IS NOT NULL)
    SELECT user_id, m_first AS event_id, 'A' AS role,
           CAST(mn AS BIGINT) AS mn,
           -- structural 0: RUNNING COUNT(B.value) at the A row — B is not
           -- matched yet, irrespective of value nullability
           CAST(0 AS BIGINT) AS n_b
    FROM nm
    UNION ALL
    SELECT user_id, m_last AS event_id, 'B' AS role,
           CAST(mn AS BIGINT) AS mn,
           -- real COUNT over the matched B row so the oracle encodes
           -- null-skipping semantics, not the fixture's non-null values
           (SELECT COUNT(e.value) FROM events e
            WHERE e.event_id = nm.m_last) AS n_b
    FROM nm
    ORDER BY user_id, mn, n_b
"""


@query(
    "match_recognize_all_rows",
    oracle=_cep_oracle(error_kill=False, final=_ALL_ROWS_FINAL),
    tags=("batch", "cep", "sql", "all-rows"),
)
def match_recognize_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL ROWS PER MATCH (SQL:2016 R010) — one output row per MATCHED
    INPUT ROW with RUNNING measures, per-row CLASSIFIER() and
    MATCH_NUMBER(). BEYOND the reference surface: Flink 1.12 rejects ALL
    ROWS PER MATCH (docs/dev/table/streaming/match_recognize "known
    limitations"); the branch NFA's recorded variable→event assignments
    make the row-grain emission the one explode + key-partitioned
    join-back that ONE ROW PER MATCH measures also read.

    Same click→purchase match set as ``match_recognize_sql`` (hash-proven
    against the same recursive-CTE recursion, re-projected to row grain):
    the A row reports running COUNT(B.value)=0, the B row 1."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES CLASSIFIER() AS role, MATCH_NUMBER() AS mn,
               COUNT(B.value) AS n_b
      ALL ROWS PER MATCH
      PATTERN (A B)
      WITHIN INTERVAL '6' HOUR
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    out = match_recognize(ev, sql)
    return out.select(
        "user_id",
        "event_id",
        "role",
        F.col("mn").cast("bigint").alias("mn"),
        F.col("n_b").cast("bigint").alias("n_b"),
    ).orderBy("user_id", "mn", "n_b")


_SUBSET_FINAL = """
    , nm AS (SELECT user_id, m_first, m_last FROM state
             WHERE m_first IS NOT NULL)
    -- SUM/COUNT aggregated over the union of both matched rows, so the
    -- oracle carries null-skipping aggregate semantics (a null value row
    -- is excluded from COUNT and ignored by SUM) rather than assuming
    -- the fixture's values are non-null
    SELECT n.user_id AS user_id,
           n.m_first AS first_event_id, n.m_last AS last_event_id,
           CAST(SUM(e.value) AS DOUBLE) AS u_sum,
           COUNT(e.value) AS u_cnt
    FROM nm n
    JOIN events e ON e.event_id IN (n.m_first, n.m_last)
    GROUP BY 1, 2, 3
    ORDER BY user_id, first_event_id
"""


@query(
    "match_recognize_subset",
    oracle=_cep_oracle(error_kill=False, final=_SUBSET_FINAL),
    tags=("batch", "cep", "sql", "subset"),
)
def match_recognize_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSET union variables (SQL:2016) — BEYOND the reference surface
    (Flink 1.12 rejects SUBSET, docs known limitations). ``U = (A, B)``
    aggregates over the union of both variables' matched rows: a subset
    measure is the same conditional aggregate over the matched rows as a
    plain variable's, with the members in its condition."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES SUM(U.value) AS u_sum, COUNT(U.value) AS u_cnt
      PATTERN (A B)
      SUBSET U = (A, B)
      WITHIN INTERVAL '6' HOUR
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    out = match_recognize(ev, sql)
    return out.select(
        "user_id",
        "first_event_id",
        "last_event_id",
        F.col("u_sum").cast("double").alias("u_sum"),
        F.col("u_cnt").cast("bigint").alias("u_cnt"),
    ).orderBy("user_id", "first_event_id")


_PREV_NAV_ORACLE = f"""
    WITH RECURSIVE
    ev AS (SELECT user_id, event_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value,
                  COALESCE(value < lag(value) OVER w, FALSE) AS dn,
                  COALESCE(value > lag(value) OVER w, FALSE) AS up
           FROM events
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)),
    state AS (
      SELECT DISTINCT user_id,
             CAST(-9223372036854775808 AS BIGINT) AS pos_ts,
             CAST(-1 AS BIGINT) AS pos_eid,
             CAST(NULL AS BIGINT) AS m_first, CAST(NULL AS BIGINT) AS m_last,
             CAST(NULL AS DOUBLE) AS v_start, CAST(NULL AS DOUBLE) AS v_end
      FROM ev
      UNION ALL
      SELECT s.user_id, x.u_ts, x.u_eid, x.c_eid, x.u_eid, x.c_val, x.u_val
      FROM state s
      JOIN LATERAL (
        -- branch chain from start c: d2 = first down row after c,
        -- u = first up row after d2; valid iff u completes inside the
        -- strict 6 h window anchored at c. Winner = earliest completion,
        -- ties to the earliest start (SKIP PAST LAST ROW).
        SELECT c.event_id AS c_eid, c.ts_us AS c_ts, c.value AS c_val,
               u.event_id AS u_eid, u.ts_us AS u_ts, u.value AS u_val
        FROM ev c
        JOIN LATERAL (
          SELECT d.event_id, d.ts_us FROM ev d
          WHERE d.user_id = c.user_id AND d.dn
            AND (d.ts_us, d.event_id) > (c.ts_us, c.event_id)
          ORDER BY d.ts_us, d.event_id LIMIT 1) d2 ON true
        JOIN LATERAL (
          SELECT u2.event_id, u2.ts_us, u2.value FROM ev u2
          WHERE u2.user_id = c.user_id AND u2.up
            AND (u2.ts_us, u2.event_id) > (d2.ts_us, d2.event_id)
          ORDER BY u2.ts_us, u2.event_id LIMIT 1) u ON true
        WHERE c.user_id = s.user_id AND c.dn
          AND (c.ts_us, c.event_id) > (s.pos_ts, s.pos_eid)
          AND u.ts_us < c.ts_us + {_6H_US}
        ORDER BY u.ts_us, u.event_id, c.ts_us, c.event_id LIMIT 1) x ON true)
    SELECT user_id, m_first AS first_event_id, m_last AS last_event_id,
           v_start, v_end
    FROM state WHERE m_first IS NOT NULL
    ORDER BY user_id, first_event_id
"""


@query(
    "match_recognize_rowtime_window",
    oracle=_cep_oracle(
        error_kill=False,
        final="""
    SELECT (m_last_ts // 3600000000) * 3600000000 AS win_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM state WHERE m_first IS NOT NULL
    GROUP BY 1 ORDER BY win_start_us
    """,
    ),
    tags=("batch", "cep", "sql", "rowtime", "window"),
)
def match_recognize_rowtime_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_ROWTIME() — the match output's event-time attribute
    (FlinkSqlOperatorTable MATCH_ROWTIME; MatchRecognizeITCase.scala):
    what lets a WINDOW AGGREGATE chain after MATCH_RECOGNIZE. The MR
    block emits one row per click→purchase match carrying
    ``MATCH_ROWTIME() AS mrt`` (the last row's rowtime, epoch micros);
    a tumbling 1-hour window then aggregates the MATCHES (not the raw
    events) — match count and distinct users per window, all exact
    integer arithmetic (``DIV`` bucketing mirrors the oracle's ``//``).
    Scale: the window agg adds one map-combinable shuffle over the
    match-count-sized MR output — never over the event stream."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES MATCH_ROWTIME() AS mrt
      PATTERN (A B)
      WITHIN INTERVAL '6' HOUR
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    out = match_recognize(ev, sql)
    return (
        out.withColumn(
            "win_start_us", F.expr("(mrt DIV 3600000000) * 3600000000")
        )
        .groupBy("win_start_us")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("win_start_us")
    )


@query(
    "match_recognize_prev_nav",
    oracle=_PREV_NAV_ORACLE,
    tags=("batch", "cep", "sql", "navigation"),
)
def match_recognize_prev_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREV(col) physical navigation — the canonical V-pattern ticker
    (MatchRecognizeITCase.scala:122-181; Flink's MATCH_RECOGNIZE docs open
    with this query): two strictly-falling steps then a rising step, per
    user, within 6 h. ``PREV(value)`` reads the row before the CURRENT row
    in partition order — physical, not match-relative — so the front door
    evaluates it JVM-side as ONE lag window over (user_id, ts) and the NFA
    predicates become plain column reads: navigation costs zero per-row
    Python and shares the NFA's keyed exchange.

    The oracle precomputes the same down/up flags with DuckDB lag, then
    runs the SKIP PAST LAST ROW recursion: each down row starts a branch
    (chain: first down row after the start, then first up row after that);
    the earliest-completing branch wins, ties to the earliest start."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(value) AS v_start, LAST(value) AS v_end
      PATTERN (D1 D2 UP)
      WITHIN INTERVAL '6' HOUR
      DEFINE D1 AS value < PREV(value),
             D2 AS value < PREV(value),
             UP AS value > PREV(value)
    )"""
    out = match_recognize(ev, sql)
    return out.select(
        "user_id",
        "first_event_id",
        "last_event_id",
        F.col("v_start").cast("double").alias("v_start"),
        F.col("v_end").cast("double").alias("v_end"),
    ).orderBy("user_id", "first_event_id")


_FINAL_ALL_ROWS_FINAL = """
    , nm AS (
      SELECT user_id, m_first, m_last,
             ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY m_first_ts, m_first, m_last_ts, m_last) AS mn
      FROM state WHERE m_first IS NOT NULL)
    -- RUNNING at the A row: no B row matched yet -> SUM over zero rows is
    -- NULL; FINAL on every row: SUM over the match's B rows (computed, so
    -- the oracle encodes null-skipping SUM semantics)
    SELECT user_id, m_first AS event_id, 'A' AS role,
           CAST(mn AS BIGINT) AS mn,
           CAST(NULL AS DOUBLE) AS s_run,
           (SELECT CAST(SUM(e.value) AS DOUBLE) FROM events e
            WHERE e.event_id = nm.m_last) AS s_fin
    FROM nm
    UNION ALL
    SELECT user_id, m_last AS event_id, 'B' AS role,
           CAST(mn AS BIGINT) AS mn,
           (SELECT CAST(SUM(e.value) AS DOUBLE) FROM events e
            WHERE e.event_id = nm.m_last) AS s_run,
           (SELECT CAST(SUM(e.value) AS DOUBLE) FROM events e
            WHERE e.event_id = nm.m_last) AS s_fin
    FROM nm
    ORDER BY user_id, mn, role
"""


@query(
    "match_recognize_final",
    oracle=_cep_oracle(error_kill=False, final=_FINAL_ALL_ROWS_FINAL),
    tags=("batch", "cep", "sql", "all-rows", "final"),
)
def match_recognize_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING | FINAL measure prefixes in ALL ROWS PER MATCH (SQL:2016
    semantics keywords — the one measure/mode combination r5 could not
    express): ``RUNNING SUM`` grows row by row through the match while
    ``FINAL SUM`` pins the whole-match aggregate onto every emitted row
    (a whole-match window frame, still bounded by match length — never by
    partition size). Same click→purchase match set as
    ``match_recognize_all_rows``."""
    from flink_1_12_2_spark.registry import load as _load
    from flink_1_12_2_spark.sql.match_recognize import match_recognize

    ev = _load(spark, sf_dir, "events")
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES CLASSIFIER() AS role, MATCH_NUMBER() AS mn,
               RUNNING SUM(B.value) AS s_run, FINAL SUM(B.value) AS s_fin
      ALL ROWS PER MATCH
      PATTERN (A B)
      WITHIN INTERVAL '6' HOUR
      DEFINE A AS event_type = 'click', B AS event_type = 'purchase'
    )"""
    out = match_recognize(ev, sql)
    return out.select(
        "user_id",
        "event_id",
        "role",
        F.col("mn").cast("bigint").alias("mn"),
        F.col("s_run").cast("double").alias("s_run"),
        F.col("s_fin").cast("double").alias("s_fin"),
    ).orderBy("user_id", "mn", "role")


@query(
    "stream_iterate_feedback",
    oracle="""
    WITH src AS (
      SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
        AND CAST(ROUND(value * 100) AS BIGINT) > 0)
    SELECT user_id, event_id,
           (v + 2499) // 2500 AS n_iter,
           v - ((v + 2499) // 2500) * 2500 AS final_cents
    FROM src ORDER BY user_id, event_id
    """,
    tags=("stream", "iterate", "feedback"),
)
def stream_iterate_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ITERATION (DataStream.iterate, DataStream.java:624 — the
    reference's feedback edge, exercised like flink-examples
    IterateExample.java's countdown loop): every element loops through the
    body (value_cents -= 2500) once per micro-batch via keyed state as the
    feedback channel, exiting with its iteration count when the condition
    fires — run over a REAL 4-micro-batch stream, so elements genuinely
    re-enter the operator across batches. End-of-input sentinels (the
    bounded-input MAX_WATERMARK) drain in-flight elements to their
    fixpoint. The oracle pins n_iter = ceil(v/step) and the final
    (non-positive) value per element — exact integers on both engines."""
    from flink_1_12_2_spark.streaming.core import stream_events_multibatch
    from flink_1_12_2_spark.streaming.stateful import (
        streaming_iterate_countdown,
    )

    ev = stream_events_multibatch(
        spark, sf_dir, n_files=4, flush_sentinels=True
    )
    out = run_to_memory(
        streaming_iterate_countdown(ev, step_cents=2500), output_mode="append"
    )
    return out.orderBy("user_id", "event_id")
