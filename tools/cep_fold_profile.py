"""Profile the streaming CEP fold on one catch-up-sized micro-batch, no JVM.

Usage: python tools/cep_fold_profile.py [--rows N] [--seed S] [--top K]

Builds a micro-batch shaped like perfbench ``stream_cep``'s catch-up
backlog: ``--rows`` events (default 100,000) at 1,000 events/s over 2,000
``user_id`` keys, values U(0, 200), with the pattern's ``value > 50`` row
gate already applied, as Spark applies it before the keyed state. The
batch is split into ``keyed_state.BUCKETS`` buckets and every bucket is
replayed through ``keyed_state.bucket_step`` with the fold of
``cep_pattern_matches``: once plain, to time it, and once under cProfile.
Prints µs per gated row for both runs and the top functions by
cumulative time. Spark's bucket hash is replaced by ``user_id % BUCKETS``,
which changes which keys share a bucket but not the work per key.
"""

from __future__ import annotations

import argparse
import cProfile
import io
import pstats
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from flink_1_12_2_spark.streaming.cep import Pattern, _cep_fold  # noqa: E402
from flink_1_12_2_spark.streaming.keyed_state import (  # noqa: E402
    BUCKETS,
    bucket_step,
)

KEYS = 2000
RATE = 1000  # events/s
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
T0_US = 1_700_000_000_000_000
_24H_US = 24 * 3600 * 1_000_000


def pattern() -> Pattern:
    """perfbench ``stream_cep``'s pattern: value > 50 followed by
    value > 150 within 24 h, per user."""
    return (
        Pattern.begin("mid", lambda r: r["value"] > 50)
        .bound("value > 50")
        .followed_by("high", lambda r: r["value"] > 150)
        .bound("value > 150")
        .within(_24H_US)
    )


def catchup_buckets(rows: int, seed: int) -> list[pd.DataFrame]:
    """The gated micro-batch as one frame per bucket, columns as the
    stream_cep query delivers them to the keyed state."""
    rng = np.random.default_rng(seed)
    ts_us = T0_US + np.arange(rows, dtype=np.int64) * (1_000_000 // RATE)
    frame = pd.DataFrame(
        {
            "event_id": np.arange(rows, dtype=np.int64),
            "user_id": rng.integers(0, KEYS, rows),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, rows)],
            "value": np.round(rng.uniform(0.0, 200.0, rows), 2),
            "ts_us": ts_us,
            "ts": pd.to_datetime(ts_us, unit="us"),
        }
    )
    frame = frame[frame["value"] > 50]
    return [
        part.reset_index(drop=True)
        for _, part in frame.groupby(frame["user_id"] % BUCKETS, sort=False)
    ]


def replay(buckets: list[pd.DataFrame]) -> int:
    """Fold every bucket from empty state; returns the match count."""
    fold = _cep_fold(pattern(), "ts", False)
    matches = 0
    for frame in buckets:
        out, _, _ = bucket_step(
            fold, frame, {}, lambda: 0, ["user_id"],
            integral={"event_id", "user_id", "ts_us"},
        )
        matches += len(out)
    return matches


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args(argv)

    buckets = catchup_buckets(args.rows, args.seed)
    n = sum(len(b) for b in buckets)
    t0 = time.perf_counter()
    matches = replay(buckets)
    plain_s = time.perf_counter() - t0
    prof = cProfile.Profile()
    t0 = time.perf_counter()
    prof.runcall(replay, buckets)
    profiled_s = time.perf_counter() - t0

    report = {
        "rows": n, "buckets": len(buckets), "matches": matches,
        "us_per_row": 1e6 * plain_s / max(n, 1),
        "us_per_row_profiled": 1e6 * profiled_s / max(n, 1),
    }
    print(
        f"{n} gated rows in {len(buckets)} buckets, {matches} matches: "
        f"{report['us_per_row']:.2f} µs/row plain, "
        f"{report['us_per_row_profiled']:.2f} µs/row under cProfile"
    )
    buf = io.StringIO()
    pstats.Stats(prof, stream=buf).sort_stats("cumulative").print_stats(args.top)
    print(buf.getvalue())
    return report


if __name__ == "__main__":
    main()
