"""Session start, Spark's own counters, and host probes.

Counters are read in-process from Spark's status stores, which are kept
even with ``spark.ui.enabled=false``:

- the core ``AppStatusStore`` gives jobs and stages: tasks, executor CPU
  and run time, shuffle bytes, spill;
- the SQL status store gives the per-plan-node ``metricValues`` of each
  SQL execution: output rows and the bytes crossing the Python (Arrow)
  boundary.

The benchmark runs every public call it measures under a job group of
its own and attributes counters by that group.
"""

from __future__ import annotations

import contextlib
import os
import re
import resource
import time

import numpy as np
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under ``work``.

    Must run before the first session starts (the JVM reads it at launch).
    """
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the package's own defaults, not whatever the caller's shell sets
    for var in ("SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    tempfile.tempdir = None


def start_session(cpus: int, work: str) -> tuple[SparkSession, float]:
    """``get_spark`` on ``local[cpus]``; returns the session and its start time."""
    from kafka_dbsync_spark import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        # two tasks per core, so one slow task does not set a stage's time
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    # the first job pays executor and codegen start-up; count it as start
    spark.range(1).count()
    return spark, time.perf_counter() - t


def stop_jvm() -> None:
    """End the driver JVM and wait for it: the JVM exits when its stdin
    closes, and with it the Python workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def host_canary() -> dict:
    """The memory-bandwidth canary: a 20M-row sort, beside the same number
    of rows sorted in cache-resident 100k-row slices. The host has a
    degradation mode in which memory bandwidth drops 3-5x while CPU-bound
    work keeps its speed; the ratio of the two exposes it where wall time
    alone cannot. The sort runs in numpy rather than Spark so that it
    costs about a second and no JVM heap."""
    rows = np.random.default_rng(0).integers(0, 1 << 62, 20_000_000)
    t = time.perf_counter()
    np.sort(rows)
    membw = time.perf_counter() - t
    t = time.perf_counter()
    for i in range(0, rows.size, 100_000):
        np.sort(rows[i : i + 100_000])
    cpu = time.perf_counter() - t
    return {"membw_s": membw, "cpu_s": cpu, "ratio": membw / cpu}


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU time of the host's vCPUs so far, in clock ticks:
    the time the hypervisor gave to other guests shows as steal."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal; guest time is in user
    return fields[7], sum(fields[:8])


# -- Spark counters ----------------------------------------------------------
def _scala_ints(seq) -> list[int]:
    return [int(seq.apply(i)) for i in range(seq.size())]


def _metric_number(text: str) -> float:
    """A SQL metric value string as a number: ``1,000`` or, for size
    metrics, the total on the line after the header (``8.5 KiB (...)``)."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE.get(m.group(2) or "B", 1)


class Counters:
    """Per-job-group counters from Spark's status stores."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name, False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> dict:
        """Totals over every job of ``group``."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        jobs = store.jobsList(None)
        job_ids, stage_ids, spans = set(), set(), []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            job_ids.add(int(j.jobId()))
            stage_ids.update(_scala_ints(j.stageIds()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        out = {
            "jobs": len(job_ids),
            "stages": 0,
            "tasks": 0,
            "executor_cpu_s": 0.0,
            "executor_run_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "input_rows": 0,
            "output_rows": 0,
            "python_bytes": 0.0,
            "job_busy_s": _union_s(spans),
        }
        for sid in sorted(stage_ids):
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never submitted: a skipped stage the store did not keep
            if s.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += int(s.numTasks())
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            out["shuffle_read_bytes"] += int(s.shuffleReadBytes())
            out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            out["input_rows"] += int(s.inputRecords())
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = {int(x) for x in re.findall(r"\d+", e.jobs().keySet().toString())}
            values = e.metricValues()
            if not ids & job_ids or values is None:
                continue
            metrics = e.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                name = m.name()
                if name == "number of output rows":
                    key = "output_rows"
                elif name in ("data sent to Python workers", "data returned from Python workers"):
                    key = "python_bytes"
                else:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += _metric_number(v.get())
        out["output_rows"] = int(out["output_rows"])
        return out


def _union_s(spans: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start, end] millisecond spans."""
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def percentile(values: list[float], q: float, weights: list[float] | None = None) -> float:
    """Weighted nearest-rank percentile, ``q`` in [0, 100]."""
    if weights is None:
        weights = [1.0] * len(values)
    pairs = sorted(zip(values, weights))
    need = q / 100 * sum(weights)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= need:
            return v
    return pairs[-1][0]


def tail_percentile(n: int) -> float:
    """p99, or with fewer independent samples the highest percentile that
    still has ten of the ``n`` samples beyond it; below 100 samples that
    would not be a tail any more, so the maximum."""
    return min(99.0, 100.0 * (1 - 10 / n)) if n >= 100 else 100.0
