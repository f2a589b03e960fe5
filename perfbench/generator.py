"""Open-loop event producer for the ``stream_cep`` workload.

Runs as its own process with one thread, so a stalled query cannot slow it.
Every ``interval`` seconds it publishes the events created during that
interval as one producer batch in the layout ``kafka_emu.publish`` uses
(``<topic>/batch_<n>/part-00000``, JSON lines), written under a dot-prefixed
name and renamed into place so the file source never lists half a batch.

Each event's ``ts_us`` is its creation time: event ``k`` is created at
``t0 + k / rate`` whether or not the query keeps up. One manifest line per
batch records when it was due and when it was published.

Usage:
  generator.py --topic DIR --manifest FILE --seed N --t0 EPOCH_S
               --first-batch N --batches N --rate R --keys K --interval S
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from common import batch_due_time, batch_event_range, due_time  # noqa: E402

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def batch_lines(seed: int, n: int, t0: float, rate: float, keys: int,
                interval: float) -> list[str]:
    """The JSON lines of batch ``n``: a pure function of (seed, n, t0, rate,
    keys, interval), so the checker can regenerate any batch."""
    rng = np.random.default_rng([seed, n])
    ids = batch_event_range(n, rate, interval)
    m = len(ids)
    users = rng.integers(0, keys, m)
    values = np.round(rng.uniform(0.0, 200.0, m), 2)
    types = rng.integers(0, len(EVENT_TYPES), m)
    out = []
    for i, k in enumerate(ids):
        out.append(json.dumps({
            "event_id": k,
            "user_id": int(users[i]),
            "event_type": EVENT_TYPES[int(types[i])],
            "value": float(values[i]),
            "ts_us": int(round(due_time(t0, k, rate) * 1e6)),
        }))
    return out


def publish_batch(topic: str, n: int, parts: list[list[str]]) -> None:
    """Publish ``batch_<n>`` with one part file per element of ``parts``;
    the directory is renamed into place, so every part becomes visible at
    once."""
    tmp = os.path.join(topic, f".batch_{n:06d}")
    os.makedirs(tmp)
    for i, lines in enumerate(parts):
        with open(os.path.join(tmp, f"part-{i:05d}"), "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
    os.rename(tmp, os.path.join(topic, f"batch_{n:06d}"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--topic", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--first-batch", type=int, default=0)
    ap.add_argument("--batches", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--interval", type=float, required=True)
    a = ap.parse_args(argv)
    os.makedirs(a.topic, exist_ok=True)
    with open(a.manifest, "a") as man:
        for n in range(a.first_batch, a.first_batch + a.batches):
            due = batch_due_time(a.t0, n, a.interval)
            lines = batch_lines(a.seed, n, a.t0, a.rate, a.keys, a.interval)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            publish_batch(a.topic, n, [lines])
            ids = batch_event_range(n, a.rate, a.interval)
            man.write(json.dumps({
                "batch": n, "first_id": ids.start, "count": len(ids),
                "due": due, "published": time.time(),
            }) + "\n")
            man.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
