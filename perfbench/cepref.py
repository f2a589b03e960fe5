"""Reference answers for the ``stream_cep`` pattern (value > 50 followed by
value > 150 within 24 h, per user, skip past the last row).

``matches`` is a linear-time restatement of the registry's recursive DuckDB
oracle for ``stream_cep_overlap_threshold``: from the last match's closing
row, the next match closes at the first row with value > 150 that has an
earlier row with value > 50 inside its 24 h window, and opens at the
earliest such row. The oracle itself is quadratic in each user's history,
so every run checks all matches with this function and a seed-chosen sample
of users with the oracle; the unit tests hold the two equal.
"""

from __future__ import annotations

import os
import random

WITHIN_US = 24 * 3600 * 1_000_000
# The oracle costs ~0.3 s per user of a run's history on 4 cores.
ORACLE_SAMPLE_USERS = 8


def matches(events: list[dict]) -> set[tuple]:
    """(user_id, first_event_id, last_event_id, first_ts_us, last_ts_us)."""
    by_user: dict[int, list[tuple]] = {}
    for e in events:
        by_user.setdefault(e["user_id"], []).append(
            (e["ts_us"], e["event_id"], e["value"])
        )
    out = set()
    for user, rows in by_user.items():
        rows.sort()
        p = 0  # earliest row that may still open a match
        for j, (ts, eid, v) in enumerate(rows):
            # rows that are not a first step, or fell out of this row's
            # window, can never open a later match either
            while p < j and (rows[p][2] <= 50 or rows[p][0] <= ts - WITHIN_US):
                p += 1
            if v > 150 and p < j:
                m = rows[p]
                out.add((user, m[1], eid, m[0], ts))
                p = j + 1
    return out


def registry_oracle(events: list[dict], work: str) -> set[tuple]:
    """Run the registry's DuckDB oracle over ``events`` written as parquet."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules

    load_all_query_modules()
    path = os.path.join(work, "cep_oracle_events.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array([e["event_id"] for e in events], pa.int64()),
        "ts": pa.array([e["ts_us"] for e in events], pa.timestamp("us")),
        "user_id": pa.array([e["user_id"] for e in events], pa.int64()),
        "event_type": [e["event_type"] for e in events],
        "value": pa.array([e["value"] for e in events], pa.float64()),
    }), path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    rows = con.execute(QUERIES["stream_cep_overlap_threshold"].oracle).fetchall()
    con.close()
    return set(rows)


def registry_oracle_sample(events: list[dict], got: set[tuple], seed: int,
                           work: str) -> tuple[bool, int]:
    """Compare ``got`` with the registry oracle on a seed-chosen sample of
    users (matching is per user, so a user's matches depend only on that
    user's events)."""
    users = sorted({e["user_id"] for e in events})
    pick = set(random.Random(seed).sample(users, min(ORACLE_SAMPLE_USERS,
                                                     len(users))))
    sub = [e for e in events if e["user_id"] in pick]
    want = registry_oracle(sub, work)
    return want == {m for m in got if m[0] in pick}, len(pick)
