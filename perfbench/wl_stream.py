"""``stream_cep``: an open loop. A separate generator process publishes
1-second producer batches (1,000 events/s over 2,000 ``user_id`` keys) into a
fresh ``kafka_emu`` topic; one long-running query runs
``read_topic_stream(json)`` -> ``cep_pattern_matches`` (the pattern of the
registered ``stream_cep_overlap_threshold`` query) -> this module's
``foreachBatch`` sink.

Phases: warm-up (one batch published and drained; part of set-up), steady
(``--seconds``, and at least MIN_STEADY_BATCHES, of open-loop batches;
latency samples from SAMPLE_BATCHES of them), catch-up (a 100,000-event
backlog published at once; drain time).
"""

from __future__ import annotations

import calendar
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import cepref
import generator as gen
import sparkenv
from common import due_time, match_latencies, reported_percentile, supported

RATE = 1000.0
KEYS = 2000
INTERVAL = 1.0
# Latency samples come from the events of SAMPLE_BATCHES producer batches
# after the first RAMP_BATCHES, whose micro-batches still grow from the
# warm-up's single batch towards their steady size. At ~185 matches a batch
# the sample holds the 902 a p99 needs. The steady phase is kept this short
# so a whole run stays near a minute.
RAMP_BATCHES = 3
SAMPLE_BATCHES = 6
MIN_STEADY_BATCHES = RAMP_BATCHES + SAMPLE_BATCHES
BACKLOG_BATCHES = 100  # 100,000 events
DRAIN_TIMEOUT_S = 60.0
PAYLOAD = "event_id bigint, user_id bigint, event_type string, value double, ts_us bigint"
_24H_US = 24 * 3600 * 1_000_000


def pattern():
    """The ``stream_cep_overlap_threshold`` pattern: value > 50 followed by
    value > 150 within 24 h, per user."""
    from flink_1_12_2_spark.streaming.cep import Pattern

    return (
        Pattern.begin("mid", lambda r: r["value"] > 50)
        .bound("value > 50")
        .followed_by("high", lambda r: r["value"] > 150)
        .bound("value > 150")
        .within(_24H_US)
    )


class Sink:
    """foreachBatch sink: collects each micro-batch's matches and stamps the
    end of the call, which is when the match counts as emitted."""

    def __init__(self):
        self.batches: list[tuple[int, float, float, list[tuple]]] = []

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        rows = [tuple(r) for r in df.collect()]
        self.batches.append((batch_id, t0, time.time(), rows))


def _iso_to_epoch(ts: str) -> float:
    # '2026-10-16T19:12:00.123Z'
    base, frac = ts.rstrip("Z").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + float(
        "0." + frac
    )


def _progress(query) -> list[dict]:
    """Progress of micro-batches that read data, one per batch id."""
    seen = {}
    for p in query.recentProgress:
        if p.get("numInputRows", 0) > 0:
            seen[p["batchId"]] = p
    return [seen[k] for k in sorted(seen)]


def _batch_end(p: dict) -> float:
    return _iso_to_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def _wait_rows(query, total: int, deadline: float) -> float | None:
    """Wait until the query has read ``total`` rows; returns the end time of
    the batch that got there, or None at the deadline."""
    while time.time() < deadline:
        prog = _progress(query)
        done = 0
        for p in prog:
            done += p["numInputRows"]
            if done >= total:
                return _batch_end(p)
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.05)
    return None


class Stream:
    """One query over one fresh topic, with its generator bookkeeping."""

    def __init__(self, ctx, spark, tag: str):
        from flink_1_12_2_spark.sources.kafka_emu import read_topic_stream
        from flink_1_12_2_spark.streaming.cep import cep_pattern_matches
        import pyspark.sql.functions as F

        self.ctx = ctx
        self.topic = os.path.join(ctx.work, f"topic_{tag}")
        self.manifest = os.path.join(ctx.work, f"manifest_{tag}.jsonl")
        os.makedirs(self.topic)
        self.t0: dict[int, float] = {}  # batch -> t0 of its phase
        self.published = 0
        self.next_batch = 0
        self.t_next = 0.0  # creation time of the next event
        # the warm-up batch goes in first, so the query's first micro-batch
        # reads it
        self.t_warm = self.burst(1)
        ev = read_topic_stream(spark, self.topic, "json", PAYLOAD)
        ev = ev.withColumn("ts", F.timestamp_micros("ts_us"))
        self.sink = Sink()
        self.query = (
            cep_pattern_matches(ev, pattern())
            .writeStream.foreachBatch(self.sink)
            .option("checkpointLocation",
                    os.path.join(ctx.work, f"ckpt_{tag}"))
            .outputMode("append")
            .start()
        )

    def _phase_t0(self, first: int, n: int) -> float:
        """Batch ``first`` holds events created from now on, and never
        before the previous phase's last event: event time and event id
        grow together across phases, as the matcher requires."""
        t0 = max(time.time(), self.t_next) - first * INTERVAL
        for b in range(first, first + n):
            self.t0[b] = t0
        self.t_next = t0 + (first + n) * INTERVAL
        return t0

    def burst(self, n: int) -> float:
        """Publish the events of ``n`` producer batches at once, as one
        topic batch with a part file each, so the query never lists part of
        the backlog. Returns the time it became visible."""
        first = self.next_batch
        t0 = self._phase_t0(first, n)
        parts = [gen.batch_lines(self.ctx.seed, b, t0, RATE, KEYS, INTERVAL)
                 for b in range(first, first + n)]
        gen.publish_batch(self.topic, first, parts)
        t_vis = time.time()
        self.next_batch += n
        self.published += n * int(RATE * INTERVAL)
        return t_vis

    def open_loop(self, n: int) -> subprocess.Popen:
        first = self.next_batch
        t0 = self._phase_t0(first, n)
        self.next_batch += n
        self.published += n * int(RATE * INTERVAL)
        here = os.path.dirname(os.path.abspath(__file__))
        return subprocess.Popen([
            sys.executable, os.path.join(here, "generator.py"),
            "--topic", self.topic, "--manifest", self.manifest,
            "--seed", str(self.ctx.seed), "--t0", repr(t0),
            "--first-batch", str(first), "--batches", str(n),
            "--rate", str(RATE), "--keys", str(KEYS),
            "--interval", str(INTERVAL),
        ])

    def drain(self, timeout: float = DRAIN_TIMEOUT_S) -> float | None:
        return _wait_rows(self.query, self.published, time.time() + timeout)

    def created(self, eid: int) -> float:
        b = eid // int(RATE * INTERVAL)
        return due_time(self.t0[b], eid, RATE)

    def stop(self) -> None:
        self.query.stop()

    def events(self) -> list[dict]:
        out = []
        for b in range(self.next_batch):
            out += [json.loads(line) for line in
                    gen.batch_lines(self.ctx.seed, b, self.t0[b], RATE, KEYS,
                                    INTERVAL)]
        return out


def prepare(ctx) -> None:
    """Nothing to prepare: the events are generated while the query runs
    and checked against their references afterwards."""


def setup(ctx) -> dict:
    spark = sparkenv.start(ctx.work, ctx.cores)
    st = Stream(ctx, spark, "main")
    end = st.drain()
    if end is None:
        raise RuntimeError("warm-up batch was not drained")
    return {"spark": spark, "stream": st, "warm": end - st.t_warm,
            "warm_progress": len(_progress(st.query))}


def _steady_eps(steady: list[dict]) -> float | None:
    """Events per second the query took in during the steady phase: the
    rows of every steady micro-batch after the first, over the time from the
    first one's end to the last one's. Equals the offered rate while the
    query keeps up."""
    if len(steady) < 2:
        return None
    span = _batch_end(steady[-1]) - _batch_end(steady[0])
    return sum(p["numInputRows"] for p in steady[1:]) / span


def _catchup(st: Stream) -> tuple[float, int]:
    """Publish the backlog and time its drain from the start of the first
    micro-batch that reads it."""
    before = len(_progress(st.query))
    st.burst(BACKLOG_BATCHES)
    end = st.drain()
    n = BACKLOG_BATCHES * int(RATE * INTERVAL)
    if end is None:
        return 0.0, n
    start = _iso_to_epoch(_progress(st.query)[before]["timestamp"])
    return n / (end - start), 0


def run(ctx, env) -> dict:
    spark, st = env["spark"], env["stream"]
    ctx.setup_done()
    steady_first = st.next_batch
    n_steady = max(MIN_STEADY_BATCHES, int(round(ctx.seconds / INTERVAL)))
    stat0 = time.time()
    proc = st.open_loop(n_steady)
    try:
        proc.wait(timeout=n_steady * INTERVAL + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    steady_end = st.drain()
    n_steady_batches = len(_progress(st.query))
    t_catch = time.time()
    catch_eps, catch_lost = _catchup(st)
    prog = _progress(st.query)
    st.stop()
    rss = sparkenv.peak_rss_mb()
    t_check = time.time()

    sample_lo = (steady_first + RAMP_BATCHES) * int(RATE * INTERVAL)
    sample_ids = range(sample_lo, sample_lo + SAMPLE_BATCHES * int(RATE * INTERVAL))
    emitted = []  # (last_event_id, sink end)
    matches = set()
    for _bid, _t0, t_end, rows in st.sink.batches:
        for user, first_id, last_id, first_ts, last_ts in rows:
            matches.add((user, first_id, last_id, first_ts, last_ts))
            if last_id in sample_ids:
                emitted.append((last_id, t_end))
    created = {eid: st.created(eid) for eid, _ in emitted}
    lats = match_latencies(emitted, created)

    # correctness: the full match set against the reference matcher, and a
    # seed-chosen sample of users against the registry's DuckDB oracle
    events = st.events()
    want = cepref.matches(events)
    missing = len(want - matches)
    extra = len(matches - want)
    sample_ok, sample_users = cepref.registry_oracle_sample(
        events, matches, ctx.seed, ctx.work
    )
    unreflected = (0 if steady_end is not None else n_steady * int(RATE)) + catch_lost
    phases = {"steady_and_drain": t_catch - stat0, "catchup": t_check - t_catch,
              "check": time.time() - t_check}
    failed = missing + extra + unreflected + (0 if sample_ok else 1)
    attempted = st.published

    lags = []
    with open(st.manifest) as f:
        for line in f:
            m = json.loads(line)
            lags.append(m["published"] - m["due"])

    p99 = reported_percentile(lats, 0.99) if supported(len(lats), 0.99) else None
    steady_eps = _steady_eps(prog[env["warm_progress"]:n_steady_batches])
    p50 = reported_percentile(lats, 0.5)
    e2e = {"ops_per_s": catch_eps}
    telemetry = {
        "rss_mb": rss, "matches": len(matches), "steady_matches": len(lats),
        "latency_p50_s": p50, "latency_p99_s": p99,
        "steady_eps": steady_eps,
        "warmup_drain_s": env["warm"], "generator_lag_max_s": max(lags),
        "steady_batches": n_steady, "micro_batches": len(prog),
        "lost_events": unreflected, "missing": missing, "extra": extra,
        "oracle_sample_users": sample_users, "oracle_sample_ok": sample_ok,
        "phase_s": phases,
    }
    layer = {}
    if ctx.trace:
        layer = _layers(ctx, spark, st, prog, env["warm_progress"],
                        n_steady_batches, lags, len(matches), stat0)
        layer["stream.latency_p50_s"] = p50
        layer["stream.latency_p99_s"] = p99 or 0.0
        layer["stream.steady_eps"] = steady_eps or 0.0
        layer["mem.peak_rss_mb"] = sum(rss.values())
    return {
        "attempted": attempted, "failed": failed, "correct": failed == 0,
        "e2e": e2e, "layer": layer, "telemetry": telemetry,
    }


def _layers(ctx, spark, st, prog, warm_n, n_steady_batches, lags, n_matches,
            stat0):
    tr = ctx.tracer
    steady = prog[warm_n:n_steady_batches]
    catch = prog[n_steady_batches:]
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
             "addBatch", "commitOffsets")
    names = {"latestOffset": "sources.kafka_emu.latest_offset",
             "walCommit": "streaming.wal_commit",
             "getBatch": "streaming.get_batch",
             "queryPlanning": "streaming.query_planning",
             "addBatch": "streaming.add_batch",
             "commitOffsets": "streaming.commit_offsets"}
    sink_by_batch = {b: (t0, t1) for b, t0, t1, _ in st.sink.batches}
    t_tr = time.perf_counter()
    for p in prog:
        start = _iso_to_epoch(p["timestamp"])
        d = p["durationMs"]
        root = tr.add("streaming.trigger", start,
                      start + d["triggerExecution"] / 1000.0,
                      batch=p["batchId"], rows=p["numInputRows"])
        t = start
        for k in order:
            dur = d.get(k, 0) / 1000.0
            sid = tr.add(names[k], t, t + dur, root)
            if k == "addBatch" and p["batchId"] in sink_by_batch:
                s0, s1 = sink_by_batch[p["batchId"]]
                tr.add("sink.foreach_batch", s0, s1, sid)
            t += dur
    trace_cost = time.perf_counter() - t_tr

    def med(ps, key):
        v = [p["durationMs"].get(key, 0) for p in ps]
        return statistics.median(v) if v else 0.0

    def state(ps, key):
        v = [p["stateOperators"][0].get(key, 0) for p in ps if p.get("stateOperators")]
        return statistics.median(v) if v else 0.0

    last_state = prog[-1]["stateOperators"][0] if prog[-1].get("stateOperators") else {}
    catch_rows = sum(p["numInputRows"] for p in catch)
    catch_add = sum(p["durationMs"].get("addBatch", 0) for p in catch)
    sink_ms = [(t1 - t0) * 1000 for _, t0, t1, _ in st.sink.batches]
    layer = {
        "sources.kafka_emu.latest_offset_ms": med(steady, "latestOffset"),
        "streaming.wal_commit_ms": med(steady, "walCommit"),
        "streaming.commit_offsets_ms": med(steady, "commitOffsets"),
        "streaming.query_planning_ms": med(steady, "queryPlanning"),
        "streaming.get_batch_ms": med(steady, "getBatch"),
        "streaming.trigger_ms": med(steady, "triggerExecution"),
        "streaming.batches": float(len(steady)),
        "streaming.add_batch_ms": catch_add / max(len(catch), 1),
        "streaming.batch_rows": catch_rows / max(len(catch), 1),
        "streaming.add_batch_us_per_row": 1000.0 * catch_add / max(catch_rows, 1),
        "streaming.cep.state_rows": float(last_state.get("numRowsTotal", 0)),
        "streaming.cep.state_bytes": float(last_state.get("memoryUsedBytes", 0)),
        "streaming.cep.state_commit_ms": state(steady, "commitTimeMs"),
        "streaming.cep.state_update_ms": state(steady, "allUpdatesTimeMs"),
        "streaming.cep.matches": float(n_matches),
        "sink.foreach_batch_ms": statistics.median(sink_ms) if sink_ms else 0.0,
        "generator.lag_max_s": max(lags),
    }
    tot = sparkenv.StageMetrics(spark).totals(None)
    layer.update({k: v / max(len(prog), 1) for k, v in tot.items()})
    layer["tracing_overhead_pct"] = 100.0 * trace_cost / max(time.time() - stat0, 1e-9)
    return layer


def local1_catchup(ctx) -> float:
    """The catch-up phase on ``local[1]``: a fresh JVM, query and topic, one
    warm-up batch, then the same backlog."""
    spark = sparkenv.start(ctx.work, 1)
    try:
        st = Stream(ctx, spark, "local1")
        if st.drain() is None:
            raise RuntimeError("local[1] warm-up batch was not drained")
        eps, lost = _catchup(st)
        st.stop()
        return eps if not lost else 0.0
    finally:
        sparkenv.stop(spark)
        shutil.rmtree(os.path.join(ctx.work, "topic_local1"), ignore_errors=True)
