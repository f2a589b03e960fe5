"""The keyed-state bucket step without a JVM: ``keyed_state.bucket_step``
folds one bucket's frame into its entries (key JSON -> [state_json,
expiry_ms]) and returns the output tuples, the new entries and the
bucket's timeout, which ``keyed_state_apply`` hands to ``GroupState``."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from flink_1_12_2_spark.streaming.keyed_state import (
    bucket_step,
    dumps_state,
    loads_state,
    output_frame,
)

TTL_US = 10_000_000  # 10 s


def _count_fold(key, rows, state, watermark_us):
    """Running row count; a row with ``drop`` set deletes the key's state."""
    if any(r.get("drop") for r in rows):
        return [(key[0], -1)], None, None
    cnt = (state or 0) + len(rows)
    return [(key[0], cnt)], cnt, max(r["ts_us"] for r in rows)


def _entry(state, expiry=None):
    return [json.dumps(state), expiry]


def test_none_state_deletes_only_that_key():
    frame = pd.DataFrame(
        {"k": [1, 2, 1], "ts_us": [1, 2, 3], "drop": [True, False, False]}
    )
    entries = {"[1]": _entry(5), "[2]": _entry(7), "[3]": _entry(1)}
    out, entries, timeout = bucket_step(
        _count_fold, frame, entries, lambda: 0, ["k"], {"k", "ts_us"}
    )
    assert out == [(1, -1), (2, 8)]
    assert entries == {"[2]": ["8", None], "[3]": _entry(1)}
    assert timeout is None


def test_idle_key_evicted_beside_active_key():
    """Key 2 has no rows and expired before the watermark: evicted. Key 1
    folds and gets a fresh expiry; key 3 is idle but not yet expired."""
    wm_ms = 100_000
    frame = pd.DataFrame({"k": [1], "ts_us": [wm_ms * 1000]})
    entries = {
        "[1]": _entry(1, wm_ms - 50),
        "[2]": _entry(4, wm_ms - 1),
        "[3]": _entry(9, wm_ms + 5),
    }
    out, entries, timeout = bucket_step(
        _count_fold, frame, entries, lambda: wm_ms, ["k"], {"k"}, TTL_US
    )
    assert out == [(1, 2)]
    assert entries == {
        "[1]": ["2", wm_ms + TTL_US // 1000],
        "[3]": _entry(9, wm_ms + 5),
    }
    assert timeout == wm_ms + 5
    # a timed-out call (no frame) evicts key 3 once the watermark passes it
    out, entries, timeout = bucket_step(
        _count_fold, None, entries, lambda: wm_ms + 6, ["k"], {"k"}, TTL_US
    )
    assert out == [] and list(entries) == ["[1]"]
    assert timeout == wm_ms + TTL_US // 1000


def test_expiry_clamped_strictly_past_watermark():
    """A key whose newest event plus the TTL is already behind the
    watermark expires at watermark + 1 ms, as EventTimeTimeout requires."""
    wm_ms = 500_000
    frame = pd.DataFrame({"k": [7], "ts_us": [1_000]})
    out, entries, timeout = bucket_step(
        _count_fold, frame, {}, lambda: wm_ms, ["k"], {"k"}, TTL_US
    )
    assert out == [(7, 1)]
    assert entries == {"[7]": ["1", wm_ms + 1]}
    assert timeout == wm_ms + 1


def test_null_key_is_one_key():
    """NULLs in an integral key column arrive as NaN in a float column:
    they form one key ``(None,)``, and the other keys stay ints."""
    frame = pd.DataFrame(
        {"k": [1.0, None, 2.0, None], "ts_us": [1, 2, 3, 4]}
    )
    seen = []

    def fold(key, rows, state, watermark_us):
        seen.append((key, [r["k"] for r in rows]))
        return _count_fold(key, rows, state, watermark_us)

    out, entries, _ = bucket_step(fold, frame, {}, lambda: 0, ["k"], {"k", "ts_us"})
    assert seen == [((1,), [1]), ((None,), [None, None]), ((2,), [2])]
    assert all(type(k[0]) in (int, type(None)) for k, _ in seen)
    assert out == [(1, 1), (None, 2), (2, 1)]
    assert set(entries) == {"[1]", "[null]", "[2]"}


def test_state_codec_holds_timestamps_and_rejects_the_rest():
    """Rows kept in state keep their Timestamp; a value JSON cannot hold
    raises instead of vanishing from the state."""
    import decimal

    row = {"ts": pd.Timestamp("2024-01-02 03:04:05.123456"), "v": float("nan")}
    back = loads_state(dumps_state({"pending": [row]}))
    assert back["pending"][0]["ts"] == row["ts"]
    assert back["pending"][0]["v"] != back["pending"][0]["v"]  # NaN
    with pytest.raises(TypeError, match="Decimal"):
        dumps_state({"pending": [{"amount": decimal.Decimal("1.5")}]})


def test_output_frame_keeps_large_nullable_ints():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType()), StructField("s", StringType())]
    )
    big = 2**62 + 1
    pdf = output_frame([(big, "a"), (None, None)], schema)
    assert str(pdf["k"].dtype) == "Int64" and pdf["k"][0] == big
    assert output_frame([], schema).columns.tolist() == ["k", "s"]


def test_cep_fold_profile_smoke(capsys):
    """tools/cep_fold_profile.py replays a small catch-up batch through the
    bucket step and reports µs per row."""
    from tools.cep_fold_profile import main

    report = main(["--rows", "2000", "--top", "5"])
    assert report["rows"] > 0 and report["matches"] > 0
    assert report["us_per_row"] > 0
    assert "µs/row" in capsys.readouterr().out
