"""Keyed state for the streaming operators — the one place that speaks
Spark's ``applyInPandasWithState`` protocol.

Flink parity: every keyed operator shares one state backend for value
state, TTL and timers, and that backend keeps keyed state in a fixed set
of KEY GROUPS (*State Management in Apache Flink*, VLDB 2017). Here every
operator is a pure fold over plain Python state, and this module maps it
onto ``GroupState`` one key group at a time:

- Spark groups by a bucket column, ``pmod(hash(*key_cols), BUCKETS)``, so
  its per-group protocol cost is paid once per bucket and micro-batch, not
  once per key. Inside a bucket the rows are split into per-key runs and
  the fold runs once per key, exactly as under per-key grouping. NULL key
  values form one key, passed to the fold as ``None``.
- A bucket's state is one ``orjson`` map from each key to ``[state_json,
  expiry_ms]``, where ``state_json`` is the key's fold state in stdlib
  ``json`` (NaN and ±Infinity round-trip). Only the keys with rows are
  decoded and re-encoded; the others are carried as strings.
- Trade-off: Spark stores a bucket's state as one value, so every bucket a
  micro-batch touches is rewritten whole, idle keys included. Bucket
  grouping pays off while the keys per bucket (keys / ``BUCKETS``) stay
  small next to the rows per batch; with many keys per bucket and few
  rows per batch, per-key grouping writes less.
- A fold returning ``None`` as its new state deletes that key only; a
  bucket left with no keys is removed from the store.
- ``state_ttl_seconds`` selects ``EventTimeTimeout`` (else ``NoTimeout``).
  TTL refresh on write (Flink's OnCreateAndWrite) is keyed to the newest
  EVENT time the fold reports, so eviction is processing-order
  independent: a key's expiry is ``max(wm_ms + 1, (newest_us + ttl_us) //
  1000)``, strictly past the watermark as EventTimeTimeout requires. A
  fold that reports no event time leaves its key without an expiry, as a
  per-key timer that is not set again is cleared.
- The bucket's timeout is the smallest expiry among its keys, clamped
  strictly past the watermark. On every call, timed out or with data, a
  key with no rows whose expiry is below the watermark is evicted and
  emits nothing. A key with rows folds with its old state even if its
  expiry has passed: Spark never times out a group that has data.

``BUCKETS`` is fixed by the checkpoint: a key's bucket is stored with its
state, so changing it would move keys to other buckets.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterator, Sequence

import numpy as np
import orjson
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegralType, StringType, StructField, StructType

# BUCKETS caps the stateful stage's useful parallelism (one bucket is one
# Spark group; Flink's default max parallelism is 128 key groups) and sets
# the keys per bucket that every touched bucket rewrites (see the module
# docstring). On perfbench stream_cep at 4 cores 64 read ~6 % faster than
# 256; 256 is kept for the partitions and the 4x fewer keys per bucket.
BUCKETS = 256
BUCKET_COL = "__ks_bucket"


def bucket_column(*key_cols: str) -> Column:
    """The hash bucket of each row's key: the state store's grouping key."""
    return F.pmod(F.hash(*key_cols), F.lit(BUCKETS))


# fold(key, rows, state, watermark_us) -> (out, new_state, newest_event_us)
#   key            the grouping key tuple (plain Python values, None = NULL)
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


def _plain(v: Any) -> Any:
    if pd.isna(v):
        return None
    return v.item() if isinstance(v, np.generic) else v


def key_runs(
    pdf: pd.DataFrame, by: Sequence[str | pd.Series]
) -> Iterator[tuple[tuple, pd.DataFrame]]:
    """Split ``pdf`` into one frame per distinct key of ``by`` (column
    names or Series aligned with ``pdf``), in order of first appearance. A
    key's rows keep their order; NULL key values form one run. Keys are
    tuples of plain Python values, with None for NULL."""
    for key, rows in pdf.groupby(list(by), sort=False, dropna=False):
        yield tuple(map(_plain, key)), rows


def keyed_state_apply(
    events: DataFrame,
    key_cols: Sequence[str],
    fold: Fold,
    output_schema: StructType,
    output_mode: str,
    state_ttl_seconds: int | None = None,
) -> DataFrame:
    """Run ``fold`` once per key of ``key_cols`` and micro-batch, with the
    key's state carried across micro-batches in its hash bucket (see the
    module docstring for the bucket, deletion and TTL rules)."""
    ttl_us = state_ttl_seconds * 1_000_000 if state_ttl_seconds else None
    columns = output_schema.fieldNames()
    # a NULL in an integral key column turns the column float in pandas;
    # grouping on nullable Int64 keeps every key's encoding stable
    int_keys = {
        c for c in key_cols if isinstance(events.schema[c].dataType, IntegralType)
    }

    def fn(
        bucket: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        entries = orjson.loads(state.get[0]) if state.exists else {}
        wm_ms = state.getCurrentWatermarkMs() if ttl_us is not None else None
        outs: list[pd.DataFrame] = []
        if not state.hasTimedOut:
            parts = list(pdfs)
            frame = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            del frame[BUCKET_COL]
            by = [
                frame[c].astype("Int64")
                if c in int_keys and frame[c].dtype.kind == "f"
                else c
                for c in key_cols
            ]

            def watermark_us() -> int:
                return state.getCurrentWatermarkMs() * 1000

            for key, rows in key_runs(frame, by):
                k = json.dumps(key, default=str)
                old = json.loads(entries[k][0]) if k in entries else None
                out, new, newest_us = fold(key, rows, old, watermark_us)
                if len(out):
                    outs.append(out)
                if new is None:
                    entries.pop(k, None)
                    continue
                expiry = None
                if ttl_us is not None and newest_us is not None:
                    expiry = max(wm_ms + 1, (newest_us + ttl_us) // 1000)
                entries[k] = [json.dumps(new, separators=(",", ":")), expiry]
        if ttl_us is not None:
            # a key that just folded has no expiry or one past the
            # watermark, so this evicts idle keys only
            entries = {
                k: v for k, v in entries.items() if v[1] is None or v[1] >= wm_ms
            }
        if entries:
            state.update((orjson.dumps(entries).decode(),))
            expiries = [e for _, e in entries.values() if e is not None]
            if expiries:
                state.setTimeoutTimestamp(max(wm_ms + 1, min(expiries)))
        else:
            state.remove()
        if not outs:
            yield pd.DataFrame(columns=columns)
        else:
            yield outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    grouped = events.withColumn(BUCKET_COL, bucket_column(*key_cols)).groupBy(
        BUCKET_COL
    )
    return grouped.applyInPandasWithState(
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
