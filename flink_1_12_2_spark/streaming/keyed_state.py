"""Keyed state for the streaming operators — the one place that speaks
Spark's per-key ``applyInPandasWithState`` protocol.

Flink parity: every keyed operator shares one state backend for value
state, TTL and timers (*State Management in Apache Flink*, VLDB 2017);
here every operator is a pure fold over plain Python state and this
module maps it onto ``GroupState``:

- state is one JSON string per key (stdlib ``json``: floats round-trip
  exactly through their ``repr``);
- ``state_ttl_seconds`` selects ``EventTimeTimeout`` (else ``NoTimeout``);
  a timed-out key's state is removed and it emits nothing;
- a fold returning ``None`` as its new state deletes the key's state;
- TTL refresh on write (Flink's OnCreateAndWrite), keyed to the newest
  EVENT time the fold reports, so eviction is processing-order
  independent: the timer is ``max(wm_ms + 1, (newest_us + ttl_us) //
  1000)`` — EventTimeTimeout requires a timestamp strictly beyond the
  current watermark, and a tiny TTL can put the expiry at or behind it.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StringType, StructField, StructType

# fold(key, rows, state, watermark_us) -> (out, new_state, newest_event_us)
#   key            the grouping key tuple
#   rows           every row of the key in this micro-batch, one frame
#   state          the key's previous state (JSON value) or None
#   watermark_us   zero-argument callable returning the current watermark
#                  in µs; raises on queries without a watermark, so only
#                  folds that need event-time progress may call it
#   out            the output frame (columns of ``output_schema``)
#   new_state      JSON-serialisable value, or None to delete the state
#   newest_event_us  newest event time seen (µs), refreshes the TTL timer
Fold = Callable[[tuple, pd.DataFrame, Any, Callable[[], int]], tuple]

STATE_SCHEMA = StructType([StructField("state_json", StringType())])


def keyed_state_apply(
    events: DataFrame,
    key_cols: Sequence[str],
    fold: Fold,
    output_schema: StructType,
    output_mode: str,
    state_ttl_seconds: int | None = None,
) -> DataFrame:
    """Group ``events`` by ``key_cols`` and run ``fold`` once per key and
    micro-batch, with the key's state carried across micro-batches (see
    the module docstring for the state, deletion and TTL rules)."""
    ttl_us = state_ttl_seconds * 1_000_000 if state_ttl_seconds else None
    columns = output_schema.fieldNames()

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=columns)
            return
        parts = list(pdfs)
        rows = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        old = json.loads(state.get[0]) if state.exists else None
        out, new, newest_us = fold(
            key, rows, old, lambda: state.getCurrentWatermarkMs() * 1000
        )
        if new is None:
            state.remove()
        else:
            state.update((json.dumps(new),))
            if ttl_us is not None and newest_us is not None:
                wm_ms = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                    max(wm_ms + 1, (newest_us + ttl_us) // 1000)
                )
        yield out

    return events.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=STATE_SCHEMA,
        outputMode=output_mode,
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_us is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
