"""Custom stateful streaming operators — the Flink operators Structured
Streaming lacks as primitives.

Flink parity:
- streaming Top-N       → AbstractTopNFunction.java:48 / AppendOnlyTopNFunction
  (keyed heap state, emit per change; here: keyed heap, emit per micro-batch)
- keep-last dedup       → ProcTimeDeduplicateKeepLastRowFunction.java:29
- keyed process fn      → KeyedProcessOperator.java:35 + ValueState/Timers →
  GroupState (timeouts ≈ timers; see ``datastream.KeyedStream.process``)

Design: every operator is a pure fold run by
:func:`~flink_1_12_2_spark.streaming.keyed_state.keyed_state_apply` once per
key and micro-batch: ``fold(key, rows, state, watermark_us) -> (out,
new_state, newest_event_us)``, where ``rows`` is the key's rows as a list of
plain dicts and ``out`` a list of output tuples (one output frame is built
per hash bucket, not per key). State is a compact JSON value per key (never
the full input), kept in the key's hash bucket (Flink's key groups); each
micro-batch folds its rows into state and emits the current result —
Flink's "emit on change" collapses to "emit per micro-batch", which is the
documented latency model difference (SURVEY §2.4 MiniBatch note). With
``state_ttl_seconds`` (``table.exec.state.ttl``) a key's TTL is refreshed on
every write to ``newest_event_us + ttl``, clamped strictly past the
watermark, and the key alone is evicted once the watermark passes it, even
when other keys of its bucket stay live.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_1_12_2_spark.streaming.keyed_state import keyed_state_apply

TOPN_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("rn", LongType()),
        StructField("seq", LongType()),  # per-key update sequence (batch #)
    ]
)


def _newest_us(rows: list[dict]) -> int | None:
    """Newest event time of a key's micro-batch rows (µs), if they carry
    one — the TTL refresh time."""
    return max(r["ts_us"] for r in rows) if "ts_us" in rows[0] else None


def _value(r: dict) -> float:
    """A row's ``value``, a NULL read as NaN as in the pandas frames the
    folds' arithmetic was written for."""
    v = r["value"]
    return float("nan") if v is None else v


def _merge_top(state: Any, rows: list[dict], n: int) -> list[tuple]:
    """The top-n (event_id, value) pairs of a key's state plus its new rows,
    by value desc with event_id tie-break (bounded state, Flink TopNBuffer
    parity)."""
    cand = [tuple(t) for t in state["top"]] if state else []
    cand += ((r["event_id"], _value(r)) for r in rows)
    return sorted(cand, key=lambda t: (-t[1], t[0]))[:n]


def _topn_fold(n: int):
    def fold(key, rows, state, watermark_us):
        top = _merge_top(state, rows, n)
        seq = (state["seq"] if state else 0) + 1
        out = [(key[0], e, v, rn, seq) for rn, (e, v) in enumerate(top, 1)]
        return out, {"top": top, "seq": seq}, _newest_us(rows)

    return fold


TOPN_CHANGELOG_OUTPUT = StructType(
    [
        StructField("_row_kind", StringType()),
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("seq", LongType()),
    ]
)


def _topn_changelog_fold(n: int):
    """Top-N emitting a CHANGELOG: +I for entries entering the top-n, -D for
    entries leaving it (Flink RetractableTopNFunction.java:53 semantics,
    collapsed to per-micro-batch diffs)."""

    def fold(key, rows, state, watermark_us):
        prev = dict(state["top"]) if state else {}
        top = _merge_top(state, rows, n)
        cur = dict(top)
        seq = (state["seq"] if state else 0) + 1
        changes = [
            ("-D", key[0], eid, prev[eid], seq) for eid in prev if eid not in cur
        ] + [("+I", key[0], eid, cur[eid], seq) for eid in cur if eid not in prev]
        return changes, {"top": top, "seq": seq}, None

    return fold


def streaming_topn_changelog(events: DataFrame, n: int = 3) -> DataFrame:
    """Streaming Top-N as a retraction stream (+I/-D per micro-batch)."""
    return keyed_state_apply(
        events, ["user_id"], _topn_changelog_fold(n), TOPN_CHANGELOG_OUTPUT,
        "update",
    )


def local_topn_combiner(events: DataFrame, n: int) -> DataFrame:
    """Stateless per-partition pre-aggregation for streaming Top-N: within
    each input partition of each micro-batch, keep only the local top-n
    rows per key before the keyed state shuffle.

    Flink parity: the MiniBatch local/global split of the rank operator
    (two-phase agg idea applied to Top-N) — a HOT KEY with k rows per batch
    per partition ships only min(k, n) rows through the exchange, so the
    skewed key's state task receives ≤ n·|partitions| rows instead of the
    full firehose. Provably output-identical: a row outside its partition's
    local top-n is outside the global top-n a fortiori (top-n is a
    monotone selection under merge). Arrow-batched ``mapInPandas`` — no
    shuffle, no state."""
    cols = events.columns

    def fn(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            if len(pdf) == 0:
                yield pdf
                continue
            ranked = pdf.sort_values(
                ["user_id", "value", "event_id"],
                ascending=[True, False, True],
            )
            yield ranked.groupby("user_id", sort=False).head(n)[cols]

    return events.mapInPandas(fn, events.schema)


def streaming_topn(
    events: DataFrame,
    n: int = 3,
    state_ttl_seconds: int | None = None,
    pre_aggregate: bool = False,
) -> DataFrame:
    """Per-key streaming Top-N by value (desc, event_id tie-break).

    State = the current top-n per key only (bounded); each micro-batch emits
    the refreshed ranking for keys that changed. ``state_ttl_seconds``
    applies the same watermark-driven idle-key eviction as
    ``streaming_dedup_keep_last`` (table.exec.state.ttl parity) — at 100 TB
    key cardinalities the rank state of keys that stopped producing must
    age out. ``pre_aggregate=True`` inserts the stateless
    :func:`local_topn_combiner` before the keyed shuffle — the skew guard
    for hot keys (output-identical; see its docstring)."""
    if pre_aggregate:
        events = local_topn_combiner(events, n)
    return keyed_state_apply(
        events, ["user_id"], _topn_fold(n), TOPN_OUTPUT, "update",
        state_ttl_seconds,
    )


KEEPLAST_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _keep_last_fold(key, rows, state, watermark_us):
    """Keep-last by event time; tie → larger event_id (matches the batch
    row_number(ORDER BY ts DESC, event_id DESC) oracle). The state is the
    kept row, so the TTL clock follows the newest event time kept."""
    best = state
    # ts_us column is attached by stream_events (tz-independent)
    for r in rows:
        cand = [r["event_id"], r["ts_us"], r["event_type"], r["value"]]
        if best is None or (cand[1], cand[0]) > (best[1], best[0]):
            best = cand
    return [(key[0], *best)], best, best[1]


OVERAGG_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("running_sum", DoubleType()),
        StructField("running_cnt", LongType()),
    ]
)


def _over_agg_fold(key, rows, state, watermark_us):
    acc_sum, acc_cnt = state or (0.0, 0)
    out = []
    # event-time order within the batch (ts_us, event_id)
    for _, eid, val in sorted(
        (r["ts_us"], r["event_id"], _value(r)) for r in rows
    ):
        acc_sum += val
        acc_cnt += 1
        out.append((key[0], eid, val, acc_sum, acc_cnt))
    return out, [acc_sum, acc_cnt], _newest_us(rows)


def streaming_over_agg(
    events: DataFrame, state_ttl_seconds: int | None = None
) -> DataFrame:
    """Streaming over-aggregate: per-key running SUM/COUNT ordered by event
    time, one output row per input row.

    Flink parity: RowTimeRowsBoundedPrecedingFunction.java:56 /
    AbstractRowTimeUnboundedPrecedingOver.java:286 — SS has no window
    functions on streams (SURVEY §2.6), so the accumulator lives in
    GroupState. Rows are event-time-sorted within each micro-batch; with a
    watermark-driven trigger, cross-batch order follows arrival batches
    (Flink buffers until the watermark — same guarantee per batch here).

    ``state_ttl_seconds``: ``table.exec.state.ttl`` parity — Flink's
    unbounded-preceding over-agg registers exactly this per-key state
    cleanup timer (AbstractRowTimeUnboundedPrecedingOver.java registers a
    cleanup timer per key). An evicted key's accumulator restarts from zero
    when it reappears — Flink's expired-state semantics; emissions for keys
    active within the TTL are unchanged. Requires a watermark when set."""
    return keyed_state_apply(
        events, ["user_id"], _over_agg_fold, OVERAGG_OUTPUT, "append",
        state_ttl_seconds,
    )


def streaming_dedup_keep_last(
    events: DataFrame, state_ttl_seconds: int | None = None
) -> DataFrame:
    """Keep-last-row-per-key dedup by event time (Flink
    RowTime Deduplicate keep-last; SS only has keep-first natively).

    ``state_ttl_seconds`` bounds per-key state lifetime (Flink's
    ``table.exec.state.ttl`` — the knob that keeps unbounded-stream dedup
    state finite at 100 TB key cardinalities): a key whose state is idle
    past the TTL is evicted via event-time timeout once the watermark
    passes. Emitted rows are provably unchanged — any row that survives
    Spark's late-row filter is newer than the watermark and therefore newer
    than the expired state it would have compared against — so the TTL is
    purely a state-size bound, like Flink's NeverReturnExpired visibility.
    Requires a watermark on ``events`` when set."""
    return keyed_state_apply(
        events, ["user_id"], _keep_last_fold, KEEPLAST_OUTPUT, "update",
        state_ttl_seconds,
    )


SORT_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("emit_idx", LongType()),
    ]
)


def _event_time_sort_fold(key, rows, state, watermark_us):
    pend = [tuple(p) for p in state["pending"]] if state else []
    # drop flush sentinels
    pend += ((r["ts_us"], r["event_id"]) for r in rows if r["event_id"] >= 0)
    pend.sort()
    emitted = state["emitted"] if state else 0
    wm_us = watermark_us()
    ready = [(t, i) for (t, i) in pend if t <= wm_us]
    hold = [(t, i) for (t, i) in pend if t > wm_us]
    out = [(key[0], i, t, emitted + k) for k, (t, i) in enumerate(ready, 1)]
    return out, {"pending": hold, "emitted": emitted + len(ready)}, None


def streaming_event_time_sort(events: DataFrame) -> DataFrame:
    """Per-key event-time-ordered emit: buffer rows in state, release them
    in (ts, event_id) order only once the watermark has passed their event
    time — Flink's RowTimeSortOperator.java:43 (StreamExecTemporalSort).

    ``emit_idx`` is the per-key emission sequence; hash-matching it against a
    batch ``row_number() OVER (ORDER BY ts, event_id)`` oracle proves the
    cross-batch ordering, not just the row set. State holds only rows inside
    the watermark delay (bounded by lateness × per-key rate at scale); the
    source must append flush sentinels so the final watermark releases the
    tail (Flink's end-of-input MAX_WATERMARK).
    """
    return keyed_state_apply(
        events, ["user_id"], _event_time_sort_fold, SORT_OUTPUT, "append"
    )


JOIN_CHANGELOG_OUTPUT = StructType(
    [
        StructField("_row_kind", StringType()),
        StructField("user_id", LongType()),
        StructField("l_event_id", LongType()),
        StructField("r_event_id", LongType()),  # null = outer padding
        StructField("seq", LongType()),
    ]
)


def _outer_join_changelog_fold(key, rows, state, watermark_us):
    if state:
        lefts, padded, rights = state["left"], set(state["padded"]), state["right"]
        seq = state["seq"] + 1
    else:
        lefts, padded, rights, seq = [], set(), [], 1
    new_l = [r["event_id"] for r in rows if r["side"] == "L"]
    new_r = [r["event_id"] for r in rows if r["side"] != "L"]
    uid = key[0]
    changes: list[tuple] = []
    # right arrivals first: retract null-padded outer rows, then emit the
    # new matches against ALL known left rows (old + new handled below)
    if new_r:
        for l in sorted(padded):
            changes.append(("-D", uid, l, None, seq))
        padded.clear()
        for l in lefts:
            for r in new_r:
                changes.append(("+I", uid, l, r, seq))
    all_r = rights + new_r
    for l in new_l:
        if all_r:
            for r in all_r:
                changes.append(("+I", uid, l, r, seq))
        else:
            changes.append(("+I", uid, l, None, seq))
            padded.add(l)
    new_state = {
        "left": lefts + new_l, "padded": sorted(padded), "right": all_r,
        "seq": seq,
    }
    return changes, new_state, _newest_us(rows)


def streaming_outer_join_changelog(
    tagged: DataFrame, state_ttl_seconds: int | None = None
) -> DataFrame:
    """Unbounded streaming LEFT OUTER equi-join emitting a retraction stream.

    Flink parity: StreamingJoinOperator.java:36 with the retraction protocol
    documented at :133-178 + OuterJoinRecordStateViews.java:335 — a left row
    with no match emits ``+I (l, NULL)``; when the first right match later
    arrives, the operator retracts the padding (``-D (l, NULL)``) and emits
    the real pairs. Input is the two sides unioned with a ``side`` tag
    ('L'/'R') and keyed by the join key, which is exactly Flink's two-input
    keyed operator wiring (both inputs hash-partitioned on the key).

    Scale: state per key = both sides' rows seen so far — the same unbounded
    state Flink keeps. ``state_ttl_seconds`` is the ``table.exec.state.ttl``
    idle-state retention Flink applies to exactly this operator
    (StreamingJoinOperator's minRetentionTime state cleanup): a key idle
    past the TTL is evicted once the watermark passes; rows arriving after
    eviction join only against post-eviction state (Flink's expired-state
    semantics — retractions for pre-eviction pairs are no longer possible).
    Requires a watermark and a ``ts_us`` column on ``tagged`` when set.
    """
    return keyed_state_apply(
        tagged, ["user_id"], _outer_join_changelog_fold, JOIN_CHANGELOG_OUTPUT,
        "update", state_ttl_seconds,
    )


ITERATE_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("n_iter", LongType()),
        StructField("final_cents", LongType()),
    ]
)


def _iterate_fold(step_cents: int):
    """Streaming ITERATION head+feedback (DataStream.iterate,
    DataStream.java:624; the countdown body mirrors flink-examples
    IterateExample.java): keyed state is the FEEDBACK CHANNEL. Each
    micro-batch, every in-flight element receives exactly ONE body
    application (value_cents -= step); elements whose exit condition
    fires (value ≤ 0) leave through the output edge with their iteration
    count, the rest loop back into state for the next batch — Flink's
    asynchronous feedback edge, expressed on micro-batch time. A sentinel
    row (event_id = -1, delivered by stream_events_multibatch's
    flush_sentinels = the bounded-input MAX_WATERMARK) drains remaining
    elements to their fixpoint — Flink's end-of-job flush, where feedback
    residence time no longer matters. A key with nothing in flight holds
    no state.

    Exact integer arithmetic throughout, so the oracle computes the same
    n_iter = ceil(v/step) and final = v - n_iter·step bit-for-bit."""

    def fold(key, rows, state, watermark_us):
        inflight = state or []  # [event_id, value_cents, n_iter]
        drain = False
        for r in rows:
            if r["event_id"] == -1:
                drain = True  # MAX_WATERMARK sentinel
                continue
            if r["value"] is None:
                continue
            v = int(round(r["value"] * 100))
            if v > 0:
                inflight.append([r["event_id"], v, 0])
        done: list[tuple] = []
        keep: list[list[int]] = []
        for eid, v, n_iter in inflight:
            # ONE body application per batch traversal of the loop
            v -= step_cents
            n_iter += 1
            if v <= 0:
                done.append((key[0], eid, n_iter, v))
            elif drain:
                # end-of-input: iterate the leftover to its fixpoint
                n_more = (v + step_cents - 1) // step_cents
                done.append(
                    (key[0], eid, n_iter + n_more, v - n_more * step_cents)
                )
            else:
                keep.append([eid, v, n_iter])
        return done, keep or None, None

    return fold


def streaming_iterate_countdown(events: DataFrame, step_cents: int = 2500) -> DataFrame:
    """DataStream.iterate emulation: per-key feedback loop over micro-batches
    (see :func:`_iterate_fold`). Keyed state is bounded by the number of
    in-flight elements per key (each element lives ceil(v/step) batches)."""
    return keyed_state_apply(
        events, ["user_id"], _iterate_fold(step_cents), ITERATE_OUTPUT,
        "append",
    )
