"""Keyed state for the streaming operators — the one place that speaks
Spark's ``applyInPandasWithState`` protocol.

Flink parity: every keyed operator shares one state backend for value
state, TTL and timers, and that backend keeps keyed state in a fixed set
of KEY GROUPS (*State Management in Apache Flink*, VLDB 2017), processing
records one by one inside each group. Here every operator is a pure fold
over plain Python rows and state, and this module maps it onto
``GroupState`` one key group at a time:

- Spark groups by a bucket column, ``pmod(hash(*key_cols), BUCKETS)``, so
  its per-group protocol cost is paid once per bucket and micro-batch, not
  once per key. The bucket's frame becomes Python row dicts once per call
  (:func:`frame_rows`: one ``tolist()`` per column, SQL NULL as None),
  and the rows are split by key in order of first appearance
  (:func:`split_by_key`). The fold runs once per key with that key's rows
  in arrival order, and the folds' output tuples become one output frame
  per bucket. NULL key values form one key, passed to the fold as ``None``.
- A bucket's state is one ``orjson`` map from each key to ``[state_json,
  expiry_ms]``, where ``state_json`` is the key's fold state in stdlib
  ``json`` (NaN and ±Infinity round-trip; a naive ``pd.Timestamp`` is
  stored as ``{"__timestamp_ns__": ns}``; any other value JSON cannot hold
  raises). Only the keys with rows are decoded and re-encoded; the others
  are carried as strings.
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

The bucket logic is :func:`bucket_step`, a pure function of the bucket's
rows and entries; :func:`keyed_state_apply` only moves its inputs and
results in and out of ``GroupState``.

``BUCKETS`` is fixed by the checkpoint: a key's bucket is stored with its
state, so changing it would move keys to other buckets.
"""

from __future__ import annotations

import json
import operator
from typing import Any, Callable, Collection, Iterator, Sequence

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
#   rows           the key's rows of this micro-batch in arrival order, one
#                  dict per row (column -> plain Python value, None = NULL;
#                  see frame_rows); the fold may keep them in its state
#   state          the key's previous state (JSON value) or None
#   watermark_us   zero-argument callable returning the current watermark
#                  in µs; raises on queries without a watermark, so only
#                  folds that need event-time progress may call it
#   out            the output rows, one tuple per row in ``output_schema``
#                  column order
#   new_state      JSON-serialisable value, or None to delete the state
#   newest_event_us  newest event time seen (µs), refreshes the TTL timer
Fold = Callable[[tuple, list, Any, Callable[[], int]], tuple]

STATE_SCHEMA = StructType([StructField("state_json", StringType())])

_TS = "__timestamp_ns__"


def _encode(v: Any) -> Any:
    if isinstance(v, pd.Timestamp) and v.tz is None:
        return {_TS: v.value}
    raise TypeError(
        f"keyed state cannot hold {type(v).__name__} value {v!r}"
    )


def _decode(d: dict) -> Any:
    return pd.Timestamp(d[_TS]) if len(d) == 1 and _TS in d else d


def dumps_state(value: Any) -> str:
    """A key's fold state as stdlib JSON (see the module docstring)."""
    return json.dumps(value, separators=(",", ":"), default=_encode)


def loads_state(text: str) -> Any:
    return json.loads(text, object_hook=_decode) if _TS in text else json.loads(text)


def frame_rows(
    frame: pd.DataFrame, integral: Collection[str] = ()
) -> list[dict]:
    """``frame`` as one dict per row of plain Python values: one
    ``tolist()`` per column; NaN, NaT and NA become None (SQL NULL; Arrow
    already gives None in object columns); a column named in ``integral``
    that pandas widened to float because of NULLs is turned back into
    ints."""
    names = list(frame.columns)
    cols = []
    for name in names:
        s = frame[name]
        # only float, datetime and extension columns can hold NaN/NaT/NA;
        # numpy int and bool columns cannot, so they skip the scan
        nullable = s.dtype.kind in "fMm" or not isinstance(s.dtype, np.dtype)
        vals = (
            s.astype(object).where(s.notna(), None).tolist()
            if nullable and s.hasnans
            else s.tolist()
        )
        if name in integral and s.dtype.kind == "f":
            vals = [v if v is None else int(v) for v in vals]
        cols.append(vals)
    return [dict(zip(names, vals)) for vals in zip(*cols)]


def split_by_key(rows: list[dict], key_cols: Sequence[str]) -> dict[tuple, list[dict]]:
    """``rows`` split by the values of ``key_cols``, keys in order of first
    appearance and each key's rows in input order. NULL key values form one
    key; a key is the tuple of its values."""
    key_of = operator.itemgetter(*key_cols)
    runs: dict[Any, list[dict]] = {}
    for r in rows:
        runs.setdefault(key_of(r), []).append(r)
    if len(key_cols) == 1:  # itemgetter of one column gives the bare value
        return {(k,): v for k, v in runs.items()}
    return runs


def bucket_step(
    fold: Fold,
    frame: pd.DataFrame | None,
    entries: dict[str, list],
    watermark_ms: Callable[[], int],
    key_cols: Sequence[str],
    integral: Collection[str] = (),
    ttl_us: int | None = None,
) -> tuple[list[tuple], dict[str, list], int | None]:
    """One call of a bucket: fold each key of ``frame`` (None on a timeout
    call) into ``entries`` (key JSON -> ``[state_json, expiry_ms]``), with
    the rows converted by :func:`frame_rows`. ``watermark_ms`` returns the
    current watermark; it is read only when ``ttl_us`` is set or a fold
    asks for it. Returns (output tuples, the new entries, the bucket's
    timeout in ms or None); see the module docstring for the deletion,
    expiry and eviction rules."""
    wm_ms = watermark_ms() if ttl_us is not None else None
    rows = frame_rows(frame, integral) if frame is not None else []
    out: list[tuple] = []

    def watermark_us() -> int:
        return watermark_ms() * 1000

    for key, key_rows in split_by_key(rows, key_cols).items():
        k = json.dumps(key, default=str)
        old = loads_state(entries[k][0]) if k in entries else None
        key_out, new, newest_us = fold(key, key_rows, old, watermark_us)
        out += key_out
        if new is None:
            entries.pop(k, None)
            continue
        expiry = None
        if ttl_us is not None and newest_us is not None:
            expiry = max(wm_ms + 1, (newest_us + ttl_us) // 1000)
        entries[k] = [dumps_state(new), expiry]
    if ttl_us is None:
        return out, entries, None
    # a key that just folded has no expiry or one past the watermark, so
    # this evicts idle keys only
    entries = {k: v for k, v in entries.items() if v[1] is None or v[1] >= wm_ms}
    expiries = [e for _, e in entries.values() if e is not None]
    return out, entries, max(wm_ms + 1, min(expiries)) if expiries else None


def output_frame(out: list[tuple], schema: StructType) -> pd.DataFrame:
    """Output tuples as one frame with ``schema``'s columns; an integral
    column holding NULLs becomes nullable ``Int64``, so large values are
    not rounded through float."""
    cols = list(zip(*out)) if out else [()] * len(schema.fields)
    return pd.DataFrame(
        {
            f.name: (
                pd.array(col, dtype="Int64")
                if isinstance(f.dataType, IntegralType) and None in col
                else list(col)
            )
            for f, col in zip(schema.fields, cols)
        }
    )


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
    # a NULL in an integral column turns it float in pandas; the rows (and
    # the keys, so each key's encoding stays stable) get ints back
    integral = {
        f.name for f in events.schema.fields if isinstance(f.dataType, IntegralType)
    }

    def fn(
        bucket: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        entries = orjson.loads(state.get[0]) if state.exists else {}
        frame = None
        if not state.hasTimedOut:
            parts = list(pdfs)
            frame = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            del frame[BUCKET_COL]
        out, entries, timeout_ms = bucket_step(
            fold, frame, entries, state.getCurrentWatermarkMs, key_cols,
            integral, ttl_us,
        )
        if entries:
            state.update((orjson.dumps(entries).decode(),))
            if timeout_ms is not None:
                state.setTimeoutTimestamp(timeout_ms)
        else:
            state.remove()
        yield output_frame(out, output_schema)

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
