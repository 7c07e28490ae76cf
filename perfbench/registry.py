"""registry_mix: a fixed list of registry queries, closed loop, one client.

The tables (`events`, `documents`, `embeddings`) are generated from the
seed into the run's work directory, shaped like the sf0.01 test data
(TESTDATA.md), so every query and its DuckDB oracle stay cheap. Each query
is timed from the call to its collected result; the noop sink of the
result is ``toPandas``, which is also what the oracle compares.
"""

from __future__ import annotations

import math
import os
import time
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from probes import Counters

QUERIES = (
    "cdc_final_state",
    "url_ingest_gate",
    "bm25_index_add",
    "bm25_remove_serve",
    "bm25_search_served",
    "bm25_search_multi",
    "pq_index_merge",
    "ivfpq_search_served",
    "ivfpq_search_multi",
    "moore_lewis_served",
    "setsim_exact_join",
    "curation_pipeline_v4",
)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
SIZES = {"events": 10_000, "documents": 500, "embeddings": 500}
SMOKE_SIZES = {"events": 2_000, "documents": 200, "embeddings": 200}


def generate_tables(out_dir: str, seed: int, smoke: bool) -> None:
    sizes = SMOKE_SIZES if smoke else SIZES
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = sizes["events"]
    ts = np.sort(rng.integers(1_704_067_200_000_000, 1_706_659_200_000_000, n))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    n = sizes["documents"]
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)]
    # exact and near duplicates, for the dedup and set-similarity stages
    for i in rng.choice(n, n // 50, replace=False):
        src = texts[int(rng.integers(0, n))].split()
        if rng.random() < 0.5:
            src[int(rng.integers(0, len(src)))] = str(rng.choice(VOCAB))
        texts[i] = " ".join(src)
    langs, probs = zip(*LANGS)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(list(rng.choice(langs, n, p=probs))),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    n = sizes["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


class Registry:
    """One warm-up pass over the query list, then passes until the time is up."""

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        self.work = work
        self.seed = seed
        self.smoke = smoke
        # the served-index caches key on this directory's name
        self.data = os.path.join(work, f"data_seed{seed}")
        self.results: dict[str, object] = {}

    def generate(self, seconds: float) -> None:
        generate_tables(self.data, self.seed, self.smoke)

    def _pass(self, spark: SparkSession, counters: Counters | None = None, tag: str = "") -> dict:
        from kafka_dbsync_spark.queries import QUERIES as REGISTRY

        walls = {}
        for name in QUERIES:
            if counters is not None:
                with counters.group(f"q.{name}{tag}"):
                    walls[name], self.results[name] = _timed(REGISTRY[name], spark, self.data)
            else:
                walls[name], self.results[name] = _timed(REGISTRY[name], spark, self.data)
        return walls

    def warm(self, spark: SparkSession) -> None:
        self.warm_walls = self._pass(spark)

    def measure(self, spark: SparkSession, seconds: float) -> dict:
        passes = []
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            passes.append(self._pass(spark))
        return self._summary(passes)

    def _summary(self, passes: list[dict]) -> dict:
        med = {q: median([p[q] for p in passes]) for q in QUERIES}
        calls = [p[q] for p in passes for q in QUERIES]
        return {
            "units": len(calls),
            "apply_eps": len(calls) / sum(calls),
            "latency_ms": [c * 1e3 for c in calls],
            "latency_weights": [1] * len(calls),
            "samples": len(calls),
            "sustained_ratio": 1.0,
            "registry_wall_s": sum(med.values()),
            "query_median_s": med,
            "query_warmup_s": self.warm_walls,
        }

    def check(self) -> list[str]:
        import duckdb

        from kafka_dbsync_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            for t in ("events", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            problems = []
            for name in QUERIES:
                got, want = self.results[name], con.execute(ORACLES[name]).df()
                if sorted(got.columns) != sorted(want.columns):
                    problems.append(f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
                elif _canon_rows(got) != _canon_rows(want):
                    problems.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
            return problems
        finally:
            con.close()

    def trace(self, spark: SparkSession, seconds: float) -> tuple[dict, dict]:
        untraced = self._pass(spark)
        counters = Counters(spark)
        walls = self._pass(spark, counters, ".traced")
        layers, total = {}, None
        for q in QUERIES:
            c = counters.read(f"q.{q}.traced")
            layers[f"q.{q}.wall_s"] = walls[q]
            layers[f"q.{q}.jobs"] = c["jobs"]
            layers[f"q.{q}.executor_cpu_s"] = c["executor_cpu_s"]
            layers[f"q.{q}.shuffle_bytes"] = c["shuffle_write_bytes"]
            layers[f"q.{q}.python_bytes"] = c["python_bytes"]
            total = c if total is None else {k: total[k] + c[k] for k in c}
        unit = {
            "units": 2 * len(QUERIES),
            "wall_ms": sum(walls.values()) * 1e3,
            "counters": total,
            "overhead_ratio": sum(walls.values()) / sum(untraced.values()),
        }
        return layers, unit


def _timed(fn, spark, data):
    t = time.perf_counter()
    out = fn(spark, data).toPandas()
    return time.perf_counter() - t, out


def _canon_cell(v) -> str:
    if type(v).__name__ == "ndarray":
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\0NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return f"{v:.1f}" if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _canon_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(zip(*[[_canon_cell(v) for v in df[c].tolist()] for c in cols]))
