from __future__ import annotations

import sys
from pathlib import Path

import pytest

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from flink_1_12_2_spark.session import get_spark

    # one JVM hosts the full suite (169 parity queries + unit tests):
    # the 1g default heap intermittently OOMs near the end of the sweep
    # (localCheckpoint blocks from the iteration queries accumulate until
    # the ContextCleaner catches up) — give it room
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def keyed_state_buckets(spark, ckpt: str) -> dict[int, tuple[dict, int]]:
    """The state store of a ``keyed_state_apply`` query's checkpoint, one
    entry per hash bucket: ``{bucket: ({key tuple: [state, expiry_ms]},
    timeoutTimestamp)}``, the timestamp None without a TTL."""
    import json

    rows = spark.read.format("statestore").load(ckpt).collect()
    return {
        r.key["__ks_bucket"]: (
            {
                tuple(json.loads(k)): [json.loads(s), e]
                for k, (s, e) in json.loads(r.value.groupState.state_json).items()
            },
            r.value.asDict().get("timeoutTimestamp"),
        )
        for r in rows
    }


def live_keys(spark, ckpt: str) -> set[tuple]:
    """Every key held in a ``keyed_state_apply`` checkpoint's state."""
    return {k for keys, _ in keyed_state_buckets(spark, ckpt).values() for k in keys}
