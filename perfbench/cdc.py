"""The CDC workloads: a closed-loop backfill and open-loop micro-batch streams.

Both drive the public path from outside the package:

    kafka-shaped parquet → decode_iidr_records + decode_row_image (decode)
    → CdcPipeline chain: route, map_operation, validate (transforms)
    → CdcApplyEngine.apply_batch: dead-letter split, latest_by_key (LWW),
      one sqlite transaction per table through SqliteDialect (apply, write)
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import sqlite3
import threading
import time
from dataclasses import dataclass
from datetime import datetime
from statistics import median

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_dbsync_spark.operators.merge import latest_by_key
from kafka_dbsync_spark.operators.transforms import decode_row_image
from kafka_dbsync_spark.plans.pipeline import CdcPipeline
from kafka_dbsync_spark.sources.iidr import IIDR_HEADERS_TYPE, decode_iidr_records

import cdcgen
from meter import MeteredFactory, WriteMeter
from probes import Counters, percentile

KAFKA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("headers", IIDR_HEADERS_TYPE),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)
ROW_TYPE = T.StructType(
    [
        T.StructField("ID", T.LongType()),
        T.StructField("NAME", T.StringType()),
        T.StructField("AMOUNT", T.DoubleType()),
        T.StructField("STATUS", T.StringType()),
    ]
)
ORDER_COLS = ["kafka_partition", "offset"]
PIPELINE_CONFIG = {
    "transforms": [
        {"op": "route", "table_format": "${TableName}", "case": "lower"},
        {"op": "map_operation"},
        {"op": "validate"},
    ],
    "sink": {
        "dialect": "sqlite",
        "pk_fields": ["ID"],
        "value_cols": ["NAME", "AMOUNT", "STATUS"],
        "order_cols": ORDER_COLS,
        "errors_tolerance": "all",
        "corrupt_table": cdcgen.DLQ_TABLE,
        # sqlite takes one writer: the reference's single sink task
        "distribute": False,
    },
}


def decode(kafka_df: DataFrame) -> DataFrame:
    """Kafka shape → merge-ready columns (the decode layer)."""
    d = decode_row_image(decode_iidr_records(kafka_df), schema=ROW_TYPE)
    return d.select(
        F.coalesce(F.col("row_image.ID"), F.from_json("record_key", "ID LONG")["ID"]).alias("ID"),
        F.col("row_image.NAME").alias("NAME"),
        F.col("row_image.AMOUNT").alias("AMOUNT"),
        F.col("row_image.STATUS").alias("STATUS"),
        "table_name",
        "entry_type",
        "topic",
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
        "offset",
        "record_key",
        "record_value",
    )


def sqlite_factory(db: str):
    return functools.partial(sqlite3.connect, db)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# cdc_backfill: closed loop, one client
# ---------------------------------------------------------------------------
BACKFILL = cdcgen.CdcSpec(events=160_000, keys=40_000, p_delete=0.10, p_corrupt=0.01)
BACKFILL_SMOKE = cdcgen.CdcSpec(events=20_000, keys=5_000, p_delete=0.10, p_corrupt=0.01)
WARM_REPS = 3
MIN_REPS = 3
TRACE_REPS = 2


class Backfill:
    """One large seeded batch, applied with ``CdcPipeline.run_batch`` into a
    fresh sqlite file each repetition."""

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        self.work = work
        self.seed = seed
        self.spec = BACKFILL_SMOKE if smoke else BACKFILL
        self.input = os.path.join(work, "backfill")
        self.events: cdcgen.CdcEvents | None = None
        self.dbs: list[str] = []
        self._rep = 0

    def generate(self, seconds: float) -> None:
        self.events = cdcgen.generate(self.spec, self.seed)
        cdcgen.write_topic(cdcgen.kafka_table(self.events), self.input)

    def warm(self, spark: SparkSession) -> None:
        """Full repetitions: the JIT needs the full batch's volume."""
        for i in range(WARM_REPS):
            self._apply(spark, self.input, sqlite_factory(os.path.join(self.work, f"warm_{i}.db")))

    def _apply(self, spark: SparkSession, path: str, factory) -> float:
        pipeline = CdcPipeline(PIPELINE_CONFIG, factory)
        t = time.perf_counter()
        pipeline.run_batch(decode(spark.read.schema(KAFKA_SCHEMA).parquet(path)))
        return time.perf_counter() - t

    def _next_db(self) -> str:
        db = os.path.join(self.work, f"backfill_{self._rep}.db")
        self._rep += 1
        self.dbs.append(db)
        return db

    def measure(self, spark: SparkSession, seconds: float) -> dict:
        walls = []
        deadline = time.perf_counter() + seconds
        while len(walls) < MIN_REPS or time.perf_counter() < deadline:
            walls.append(self._apply(spark, self.input, sqlite_factory(self._next_db())))
        return self._summary(walls)

    def _summary(self, walls: list[float]) -> dict:
        n = len(self.events)
        return {
            "units": len(walls),
            "walls_s": walls,
            "apply_eps": n / median(walls),
            # every event of a repetition is released at the call and
            # visible at its commit: each repetition is n equal samples
            "latency_ms": [w * 1e3 for w in walls],
            "latency_weights": [n] * len(walls),
            "samples": n * len(walls),
            "sustained_ratio": 1.0,
        }

    def check(self) -> list[str]:
        exp = cdcgen.replay(self.events)
        problems = []
        for db in self.dbs:
            problems += [f"{os.path.basename(db)}: {p}" for p in cdcgen.check_target(db, exp)]
        return problems

    # -- traced run ----------------------------------------------------------
    def trace(self, spark: SparkSession, seconds: float) -> tuple[dict, dict]:
        """Materialise the path one step at a time on the same input; each
        step's self time is its difference from the step before."""
        counters = Counters(spark)
        src = spark.read.schema(KAFKA_SCHEMA).parquet(self.input)
        pipeline = CdcPipeline(PIPELINE_CONFIG, sqlite_factory(os.devnull))
        decoded = decode(src)
        validated = pipeline.chain(decoded)
        valid = validated.filter(F.col("error_reason").isNull())
        lww = latest_by_key(valid, ["target_table", "ID"], ORDER_COLS)
        steps = {"decode": decoded, "validate": validated, "lww": lww}
        walls: dict[str, list[float]] = {k: [] for k in (*steps, "apply", "untraced")}
        meter = WriteMeter()
        # untraced and traced repetitions alternate, so host drift hits both
        for rep in range(TRACE_REPS):
            walls["untraced"].append(self._apply(spark, self.input, sqlite_factory(self._next_db())))
            for name, df in steps.items():
                with counters.group(f"{name}.{rep}"):
                    t = time.perf_counter()
                    _noop(df)
                    walls[name].append(time.perf_counter() - t)
            with counters.group(f"apply.{rep}"):
                walls["apply"].append(
                    self._apply(spark, self.input, MeteredFactory(self._next_db(), meter))
                )
        reps = TRACE_REPS
        c = {
            name: _mean_counters([counters.read(f"{name}.{r}") for r in range(reps)])
            for name in (*steps, "apply")
        }
        t = {name: median(v) for name, v in walls.items()}
        rows_in, rows_out = valid.count(), lww.count()
        write = meter.per_unit(reps)
        layers = {
            "decode.busy_s": t["decode"],
            "decode.executor_cpu_s": c["decode"]["executor_cpu_s"],
            "validate.busy_s": t["validate"] - t["decode"],
            "validate.corrupt_rows": len(self.events) - rows_in,
            "lww.busy_s": t["lww"] - t["validate"],
            "lww.rows_in": rows_in,
            "lww.rows_out": rows_out,
            "lww.collapse_ratio": rows_out / rows_in,
            "lww.shuffle_write_bytes": c["lww"]["shuffle_write_bytes"],
            "lww.spill_bytes": c["lww"]["spill_bytes"],
            "apply.busy_ms": (t["apply"] - t["lww"]) * 1e3,
            "apply.jobs_per_batch": c["apply"]["jobs"],
            "apply.stages_per_batch": c["apply"]["stages"],
            "apply.tasks_per_batch": c["apply"]["tasks"],
            "apply.executor_cpu_ms": c["apply"]["executor_cpu_s"] * 1e3,
            "apply.dlq_rows": sum(cdcgen.replay(self.events).dlq.values()),
            **{f"write.{k}": v for k, v in write.items()},
            "step_apply_s": t["apply"],
            "untraced_run_batch_s": t["untraced"],
        }
        unit = {
            "units": 2 * reps,
            "wall_ms": t["apply"] * 1e3,
            "counters": c["apply"],
            "write": write,
            "overhead_ratio": t["apply"] / t["untraced"],
        }
        return layers, unit

    def single_thread_eps(self, spark: SparkSession) -> float:
        """One repetition on the session given (``local[1]``): the
        single-thread baseline."""
        return len(self.events) / self._apply(spark, self.input, sqlite_factory(self._next_db()))


def _mean_counters(rows: list[dict]) -> dict:
    return {k: sum(r[k] for r in rows) / len(rows) for k in rows[0]}


# ---------------------------------------------------------------------------
# cdc_stream_*: open loop on a file source
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class StreamShape:
    rate: int  # offered events per second
    tick_s: float  # one input file per tick
    tables: int
    keys: int
    zipf: float
    p_delete: float
    p_corrupt: float
    warm_files: int  # files released in the warm-up run

    def spec(self, seconds: float) -> cdcgen.CdcSpec:
        return cdcgen.CdcSpec(
            events=self.files(seconds) * self.per_file,
            tables=self.tables,
            keys=self.keys,
            zipf=self.zipf,
            p_delete=self.p_delete,
            p_corrupt=self.p_corrupt,
        )

    @property
    def per_file(self) -> int:
        return round(self.rate * self.tick_s)

    def files(self, seconds: float) -> int:
        return max(1, round(seconds / self.tick_s))


STEADY = StreamShape(
    rate=2_000, tick_s=0.1, tables=1, keys=50_000, zipf=0.0, p_delete=0.05, p_corrupt=0.0,
    warm_files=50,
)
# a fan-out batch costs several times a steady one, so a shorter warm-up
FANOUT = StreamShape(
    rate=2_000, tick_s=0.1, tables=8, keys=5_000, zipf=1.3, p_delete=0.20, p_corrupt=0.02,
    warm_files=20,
)
# the second query of a session runs its batches 15-70% slower than the
# ones after it, however long the first query ran: the warm-up takes two
# queries, so the measured one is the third
WARM_QUERIES = 2
STARTUP_TIMEOUT_S = 60
DRAIN_TIMEOUT_S = 60
# an event counts as sustained if it is visible within this long after
# the last scheduled release (BASELINE.md's latency anchor)
SUSTAIN_GRACE_S = 1.0


class Stream:
    """Pre-generated parquet files, atomically renamed into the source
    directory on a fixed tick by one generator thread, applied by
    ``CdcPipeline.start`` with the default trigger."""

    def __init__(self, shape: StreamShape, work: str, seed: int, smoke: bool) -> None:
        self.shape = shape
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.events: cdcgen.CdcEvents | None = None
        self.runs: list[dict] = []

    def generate(self, seconds: float) -> None:
        self.events = cdcgen.generate(self.shape.spec(seconds), self.seed)
        stage = os.path.join(self.work, "stage")
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        per = self.shape.per_file
        for i in range(len(self.events) // per):
            table = cdcgen.kafka_table(self.events, i * per, (i + 1) * per)
            cdcgen.write_parquet(table, os.path.join(stage, f"part-{i:05d}.parquet"))

    def warm(self, spark: SparkSession) -> None:
        """The schedule's first files through the same path at the same rate,
        so the JIT sees batches of the measured size."""
        for _ in range(WARM_QUERIES):
            self._run(spark, "warm", max_files=self.shape.warm_files, lockstep=self.smoke)

    def measure(self, spark: SparkSession, seconds: float) -> dict:
        """The schedule's length was fixed by ``generate(seconds)``."""
        return self._run(spark, "run", lockstep=self.smoke)

    def _run(self, spark, tag, max_files=None, lockstep=False, meter=None) -> dict:
        stage = os.path.join(self.work, "stage")
        files = sorted(os.listdir(stage))[:max_files]
        root = os.path.join(self.work, tag)
        shutil.rmtree(root, ignore_errors=True)
        src, ckpt = os.path.join(root, "src"), os.path.join(root, "ckpt")
        os.makedirs(src)
        db = os.path.join(root, "target.db")
        factory = MeteredFactory(db, meter) if meter else sqlite_factory(db)
        pipeline = CdcPipeline(PIPELINE_CONFIG, factory)
        stream = spark.readStream.schema(KAFKA_SCHEMA).parquet(src)
        query = pipeline.start(decode(stream), ckpt)
        try:
            _wait_idle(query)
            gen = _Generator(stage, src, files, self.shape.tick_s, query if lockstep else None)
            gen.start()
            gen.join()
            if gen.error:
                raise gen.error
            total = len(files) * self.shape.per_file
            deadline = time.time() + DRAIN_TIMEOUT_S
            while _rows_in(query) < total and time.time() < deadline:
                if query.exception():
                    break
                time.sleep(0.05)
            failed = query.exception()
            progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        finally:
            query.stop()
        run = {
            "db": db,
            "files": files,
            "due": gen.due,
            "released": gen.released,
            "batch_of": _batch_of_files(ckpt),
            "progress": progress,
            "failed": failed,
            "run_id": query.runId,
        }
        if tag != "warm":
            self.runs.append(run)
        return self._summary(run)

    def _summary(self, run: dict) -> dict:
        per = self.shape.per_file
        ends = {p["batchId"]: _end_time(p) for p in run["progress"]}
        lat, applied_by_grace, last_end = [], 0, 0.0
        grace_end = run["due"][-1] + SUSTAIN_GRACE_S
        for f, due in zip(run["files"], run["due"]):
            end = ends.get(run["batch_of"].get(f))
            if end is None:
                continue
            lat.append((end - due) * 1e3)
            last_end = max(last_end, end)
            applied_by_grace += per if end <= grace_end else 0
        offered = len(run["files"]) * per
        applied = len(lat) * per
        late = [(r - d) * 1e3 for r, d in zip(run["released"], run["due"])]
        return {
            "units": len(run["progress"]),
            "failed_units": 1 if run["failed"] or applied < offered else 0,
            "apply_eps": applied / (last_end - run["due"][0]) if lat else 0.0,
            "latency_ms": lat,
            "latency_weights": [per] * len(lat),
            "samples": applied,
            "sustained_ratio": applied_by_grace / offered,
            "gen_late_p99_ms": percentile(late, 99),
            "gen_events": offered,
        }

    def check(self) -> list[str]:
        problems = []
        per = self.shape.per_file
        for run in self.runs:
            exp = cdcgen.replay(self.events, 0, len(run["files"]) * per)
            problems += cdcgen.check_target(run["db"], exp)
        return problems

    # -- traced run ----------------------------------------------------------
    def trace(self, spark: SparkSession, seconds: float) -> tuple[dict, dict]:
        untraced = self.measure(spark, seconds)
        counters = Counters(spark)
        meter = WriteMeter()
        traced = self._run(spark, "traced", lockstep=self.smoke, meter=meter)
        run = self.runs[-1]
        batches = run["progress"]
        nb = len(batches)
        c = counters.read(run["run_id"])
        per_batch = {k: v / nb for k, v in c.items()}
        dur = {
            k: median([p["durationMs"].get(k, 0) for p in batches])
            for k in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        }
        write = meter.per_unit(nb)
        layers = {
            "stream.batches": nb,
            "stream.rows_per_batch": median([p["numInputRows"] for p in batches]),
            **{f"stream.{k}_ms": v for k, v in dur.items()},
            "stream.backlog_events": _max_backlog(run, self.shape.per_file),
            "apply.busy_ms": dur["addBatch"],
            "apply.jobs_per_batch": per_batch["jobs"],
            "apply.stages_per_batch": per_batch["stages"],
            "apply.tasks_per_batch": per_batch["tasks"],
            "apply.executor_cpu_ms": per_batch["executor_cpu_s"] * 1e3,
            "apply.dlq_rows": sum(cdcgen.replay(self.events).dlq.values()),
            **{f"write.{k}": v for k, v in write.items()},
            "gen.late_p99_ms": traced["gen_late_p99_ms"],
            "gen.events": traced["gen_events"],
            "traced_visible_p50_ms": percentile(traced["latency_ms"], 50),
            "untraced_visible_p50_ms": percentile(untraced["latency_ms"], 50),
        }
        unit = {
            "units": untraced["units"] + nb,
            "wall_ms": sum(p["durationMs"].get("addBatch", 0) for p in batches) / nb,
            "counters": per_batch,
            "write": write,
            "overhead_ratio": layers["traced_visible_p50_ms"] / layers["untraced_visible_p50_ms"],
        }
        return layers, unit


class _Generator(threading.Thread):
    """Releases staged files into the source directory on schedule. In
    lockstep mode it waits for each file to be applied before the next,
    which makes micro-batch boundaries, and so the counters, repeatable."""

    def __init__(self, stage, src, files, tick_s, lockstep_query=None) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.stage, self.src, self.files, self.tick_s = stage, src, files, tick_s
        self.lockstep = lockstep_query
        self.due: list[float] = []
        self.released: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            t0 = time.time() + 0.05
            for i, f in enumerate(self.files):
                due = t0 + i * self.tick_s
                if self.lockstep is not None:
                    due = time.time()
                else:
                    time.sleep(max(0.0, due - time.time()))
                shutil.copyfile(os.path.join(self.stage, f), os.path.join(self.src, f"._{f}"))
                os.rename(os.path.join(self.src, f"._{f}"), os.path.join(self.src, f))
                self.due.append(due)
                self.released.append(time.time())
                if self.lockstep is not None:
                    self.lockstep.processAllAvailable()
        except Exception as e:  # noqa: BLE001 — re-raised by the caller
            self.error = e


def _wait_idle(query) -> None:
    deadline = time.time() + STARTUP_TIMEOUT_S
    while not query.status["message"].startswith("Waiting for data"):
        if query.exception() or time.time() > deadline:
            raise RuntimeError(f"stream did not start: {query.status} {query.exception()}")
        time.sleep(0.02)


def _rows_in(query) -> int:
    return sum(p["numInputRows"] for p in query.recentProgress)


def _start_time(progress) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _end_time(progress) -> float:
    return _start_time(progress) + progress["durationMs"]["triggerExecution"] / 1e3


def _batch_of_files(ckpt: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if path.endswith(".crc") or os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _max_backlog(run: dict, per_file: int) -> int:
    """Most events released but not yet taken by a batch when one started."""
    worst = 0
    for start, bid in sorted((_start_time(p), p["batchId"]) for p in run["progress"]):
        pending = sum(
            1
            for f, r in zip(run["files"], run["released"])
            if r <= start and run["batch_of"].get(f, 1 << 30) >= bid
        )
        worst = max(worst, pending * per_file)
    return worst
