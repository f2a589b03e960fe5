"""Spark session lifecycle for one benchmark run, confined to the run's work
directory, plus the Spark-side probes the traced run reads: the monitoring
REST API (per-stage executor time, GC, shuffle bytes, tasks) and the
process tree's peak RSS.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from common import tree_pids, vm_hwm_kb


def confine_env(work: str, root: str, bench_dir: str) -> None:
    """Point every scratch location Spark, the JVM and Python workers use at
    ``work``; must run before the JVM starts. Workers import the engine and
    the benchmark's modules, so both go on PYTHONPATH."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "scratch", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    pp = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([root, bench_dir, *pp])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def start(work: str, cores: int, app: str = "perfbench"):
    """Fresh SparkSession through the engine's own factory (its defaults are
    what users get), sized to ``cores``."""
    from flink_1_12_2_spark.session import get_spark

    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    spark = get_spark(
        app_name=app,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.port": "0",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so the
    next ``start`` pays a full cold start and no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of the JVM, and summed over the JVM's child processes
    (the Python worker daemon and its workers). This process is left out:
    besides the engine's driver-side calls it holds the benchmark's own
    reference answers and checks."""
    jp = jvm_pid()
    if jp is None:
        return {"jvm": 0.0, "workers": 0.0}
    return {
        "jvm": vm_hwm_kb(jp) / 1024.0,
        "workers": sum(vm_hwm_kb(p) for p in tree_pids(jp) if p != jp) / 1024.0,
    }


class StageMetrics:
    """Per-job-group stage metrics read from Spark's monitoring REST API.

    Operations are tagged with ``setJobGroup``; ``collect(group)`` sums
    executor run time, JVM GC time, shuffle bytes and task counts over every
    stage of every job in that group."""

    FIELDS = {
        "executorRunTime": "spark.executor_run_s",
        "jvmGcTime": "spark.jvm_gc_s",
        "shuffleWriteBytes": "spark.shuffle_write_bytes",
        "shuffleReadBytes": "spark.shuffle_read_bytes",
        "numCompleteTasks": "spark.tasks",
        "numFailedTasks": "spark.tasks_failed",
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def totals(self, groups: set[str] | None = None) -> dict[str, float]:
        """Summed metrics over the stages of jobs whose group is in
        ``groups`` (all jobs when None). Waits until the status store has
        seen every job finish."""
        for _ in range(50):
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        stage_ids = set()
        for j in jobs:
            if groups is None or j.get("jobGroup") in groups:
                stage_ids.update(j.get("stageIds", []))
        out = {v: 0.0 for v in self.FIELDS.values()}
        for st in self._get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            for k, name in self.FIELDS.items():
                out[name] += st.get(k, 0)
        out["spark.executor_run_s"] /= 1000.0
        out["spark.jvm_gc_s"] /= 1000.0
        return out
