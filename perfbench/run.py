"""Benchmark entry point.

  python3 perfbench/run.py --workload {batch_mix,stream_cep}
                           --seed N --seconds S --trace {0,1}

Run from the repository root. Reads the sf0.1 corpus under
``perfbench/data/sf0.1``, keeps per-run scratch under ``.perfbench_work/``
in the current directory, starts the engine on ``local[<cpus>]``, measures
for ``--seconds``, checks every output against a reference, and prints one
JSON line last: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones; the line before it carries run telemetry (seed, load, steal,
per-phase details). Traced runs also keep their spans under
``.perfbench_work/traces/``.

Exits non-zero without a result line when the engine package is missing or
a phase fails outright.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = {"batch_mix": "wl_batch", "stream_cep": "wl_stream"}
UNITS = {"setup_s": "s", "ops_per_s": "1/s"}
_SQL_STMTS = ("q1_scan_agg", "star_broadcast", "fact_fact_join", "rollup",
              "tumble_window", "hop_window", "over_running_sum",
              "topn_row_number")
# name -> (unit, which direction is better, the metric and workload it should
# move: an end-to-end metric, or one of the two median latencies, which are
# reported here because their run-to-run spread exceeds any end-to-end bound).
# Every traced run reports every one; a layer the workload does not call
# reads 0 and is listed under telemetry "not_exercised".
PER_LAYER = {
    "session.sql_s": ("s", "lower", "batch.latency_p50_s@batch_mix"),
    "sql.rewriter.rewrite_s": ("s", "lower", "batch.latency_p50_s@batch_mix"),
    "sql.execute_s": ("s", "lower", "batch.latency_p50_s@batch_mix"),
    **{f"sql.stmt.{n}_s": ("s", "lower", "batch.latency_p50_s@batch_mix")
       for n in _SQL_STMTS},
    "llm.dedup.shingle_sets_s": ("s", "lower", "ops_per_s@batch_mix"),
    "llm.dedup.minhash_signatures_from_sets_s":
        ("s", "lower", "ops_per_s@batch_mix"),
    "llm.dedup.lsh_candidate_pairs_s": ("s", "lower", "ops_per_s@batch_mix"),
    "llm.dedup.jaccard_verify_s": ("s", "lower", "ops_per_s@batch_mix"),
    "llm.dedup.ngram_jaccard_pairs_s": ("s", "lower", "ops_per_s@batch_mix"),
    "llm.text.cross_doc_chunk_dedup_s": ("s", "lower", "ops_per_s@batch_mix"),
    "llm.dedup.candidate_pairs": ("count", "lower", "ops_per_s@batch_mix"),
    "llm.dedup.verified_pairs": ("count", "higher", "ops_per_s@batch_mix"),
    "llm.dedup.candidate_yield": ("ratio", "higher", "ops_per_s@batch_mix"),
    "spark.executor_run_s": ("s", "lower", "ops_per_s@batch_mix"),
    "spark.jvm_gc_s": ("s", "lower", "ops_per_s@batch_mix"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "ops_per_s@batch_mix"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "ops_per_s@batch_mix"),
    "spark.tasks": ("count", "lower", "ops_per_s@batch_mix"),
    "spark.tasks_failed": ("count", "lower", "ops_per_s@batch_mix"),
    "sources.kafka_emu.latest_offset_ms":
        ("ms", "lower", "stream.latency_p50_s@stream_cep"),
    "streaming.wal_commit_ms": ("ms", "lower", "stream.latency_p50_s@stream_cep"),
    "streaming.commit_offsets_ms": ("ms", "lower", "stream.latency_p50_s@stream_cep"),
    "streaming.query_planning_ms": ("ms", "lower", "stream.latency_p50_s@stream_cep"),
    "streaming.get_batch_ms": ("ms", "lower", "stream.latency_p50_s@stream_cep"),
    "streaming.trigger_ms": ("ms", "lower", "stream.latency_p50_s@stream_cep"),
    "streaming.batches": ("count", "higher", "stream.latency_p50_s@stream_cep"),
    "streaming.add_batch_ms": ("ms", "lower", "ops_per_s@stream_cep"),
    "streaming.batch_rows": ("count", "higher", "ops_per_s@stream_cep"),
    "streaming.add_batch_us_per_row": ("us", "lower", "ops_per_s@stream_cep"),
    "streaming.cep.state_rows": ("count", "lower", "ops_per_s@stream_cep"),
    "streaming.cep.state_bytes": ("bytes", "lower", "ops_per_s@stream_cep"),
    "streaming.cep.state_commit_ms":
        ("ms", "lower", "stream.latency_p50_s@stream_cep"),
    "streaming.cep.state_update_ms":
        ("ms", "lower", "stream.latency_p50_s@stream_cep"),
    "streaming.cep.matches": ("count", "higher", "correctness@stream_cep"),
    "sink.foreach_batch_ms": ("ms", "lower", "stream.latency_p50_s@stream_cep"),
    "generator.lag_max_s": ("s", "lower", "validity@stream_cep"),
    "stream.steady_eps": ("1/s", "higher", "validity@stream_cep"),
    "batch.latency_p50_s": ("s", "lower", "ops_per_s@batch_mix"),
    "stream.latency_p50_s": ("s", "lower", "ops_per_s@stream_cep"),
    "stream.latency_p99_s": ("s", "lower", "stream.latency_p50_s@stream_cep"),
    "stream.catchup_eps_local1": ("1/s", "higher", "ops_per_s@stream_cep"),
    "mem.peak_rss_mb": ("MB", "lower", "memory@both"),
    "tracing_overhead_pct": ("%", "lower", "validity@both"),
}
# A run that has not finished by then is stuck; a run must end within 180 s.
WATCHDOG_S = 170


class Ctx:
    def __init__(self, a, root: str):
        self.workload = a.workload
        self.seed = a.seed
        self.seconds = a.seconds
        self.trace = bool(a.trace)
        self.root = root
        self.cores = len(os.sched_getaffinity(0))
        self.corpus = os.path.join(HERE, "data", "sf0.1")
        self.run_id = f"{a.workload}-{a.seed}-{os.getpid()}-{int(time.time())}"
        self.work = os.path.join(root, ".perfbench_work", self.run_id)
        self.data = os.path.join(self.work, "data")
        self.tracer = common.Tracer(self.run_id, self.trace)
        self.t_setup0 = None
        self.setup_s = None

    def setup_done(self) -> None:
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - self.t_setup0

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_1_12_2_spark", "session.py")):
        print("perfbench: run from the repository root (engine package "
              "flink_1_12_2_spark not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    ctx = Ctx(a, root)
    os.makedirs(ctx.work)
    import sparkenv

    sparkenv.confine_env(ctx.work, root, HERE)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    wl = importlib.import_module(WORKLOADS[a.workload])
    load0 = os.getloadavg()
    stat0 = common.read_proc_stat()
    env = None
    try:
        t = time.perf_counter()
        want = wl.prepare(ctx)
        prepare_s = time.perf_counter() - t
        ctx.t_setup0 = time.perf_counter()
        env = wl.setup(ctx)
        env["want"] = want
        res = wl.run(ctx, env)
        if ctx.trace and a.workload == "stream_cep":
            sparkenv.stop(env["spark"])
            env = None
            res["layer"]["stream.catchup_eps_local1"] = wl.local1_catchup(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        if env is not None:
            sparkenv.stop(env["spark"])
        if ctx.trace:
            tdir = os.path.join(root, ".perfbench_work", "traces")
            os.makedirs(tdir, exist_ok=True)
            ctx.tracer.dump(os.path.join(tdir, ctx.run_id + ".jsonl"))
        shutil.rmtree(ctx.work, ignore_errors=True)

    telemetry = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": ctx.cores, "prepare_s": prepare_s,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "failed_ops_ratio": res["failed"] / max(res["attempted"], 1),
        **common.cpu_window(stat0, common.read_proc_stat()),
        **res["telemetry"],
    }
    if ctx.trace:
        telemetry["not_exercised"] = sorted(set(PER_LAYER) - set(res["layer"]))
        telemetry["self_time_s"] = common.self_times(ctx.tracer.spans)
        metrics = {k: {"value": res["layer"].get(k, 0.0), "unit": unit}
                   for k, (unit, _, _) in PER_LAYER.items()}
    else:
        e2e = dict(res["e2e"], setup_s=ctx.setup_s)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"telemetry": telemetry}, default=str))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
