"""Seeded CDC input generation and the independent replay oracle.

Inputs are kafka-shaped IIDR records (key/value JSON bytes, routing
headers TableName/A_ENTTYP/A_TIMSTAMP, topic, partition, offset), built
with numpy from the seed alone and written as parquet with pyarrow, so
the same seed always gives byte-identical files.

The oracle replays the same events in plain Python under the reference
sink's rules, without Spark:

- PT/UP/RR/FP upsert the row image, DL deletes the key;
- the last write per (table, key) wins, ordered by (partition, offset)
  (a key always hashes to one partition, so this is generation order);
- corrupt records go to the dead-letter table with their reason.
"""

from __future__ import annotations

import json
import os
import sqlite3
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UPSERT_CODES = ("PT", "UP", "RR", "FP")
PARTITIONS = 8
STATUSES = ("NEW", "PAID", "SHIPPED", "CLOSED")
DLQ_TABLE = "corrupt_events"

# corrupt kinds → (entry type, has TableName, has key, has value, reason
# exactly as operators.transforms.validate_iidr words it)
CORRUPT_KINDS = (
    ("XX", True, True, True, "unknown entry type: XX"),
    ("PT", False, True, True, "missing required header: TableName"),
    ("DL", True, False, False, "delete record requires a key"),
    ("PT", True, True, False, "upsert record requires a value"),
)

HEADER_TYPE = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("headers", HEADER_TYPE),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class CdcSpec:
    """Shape of one generated change stream."""

    events: int
    tables: int = 1
    keys: int = 50_000
    zipf: float = 0.0  # 0 = uniform keys, else the Zipf exponent
    p_delete: float = 0.10
    p_corrupt: float = 0.01


@dataclass
class CdcEvents:
    """Generated events as parallel columns, in generation order."""

    table: list[str]
    key: np.ndarray
    code: list[str]
    kind: np.ndarray  # -1 = valid, else index into CORRUPT_KINDS
    name: list[str]
    amount: list[float]
    status: list[str]
    partition: np.ndarray
    offset: np.ndarray

    def __len__(self) -> int:
        return len(self.code)


def table_names(n: int) -> list[str]:
    return ["ORDERS"] if n == 1 else [f"ORDERS_{i}" for i in range(n)]


def generate(spec: CdcSpec, seed: int) -> CdcEvents:
    rng = np.random.default_rng(seed)
    n = spec.events
    tnames = table_names(spec.tables)
    tidx = rng.integers(0, spec.tables, n)
    if spec.zipf:
        keys = (rng.zipf(spec.zipf, n) - 1) % spec.keys
    else:
        keys = rng.integers(0, spec.keys, n)
    u = rng.random(n)
    kind = np.where(u < spec.p_corrupt, rng.integers(0, len(CORRUPT_KINDS), n), -1)
    is_delete = (u >= spec.p_corrupt) & (u < spec.p_corrupt + spec.p_delete)
    upsert_code = rng.integers(0, len(UPSERT_CODES), n)
    cents = rng.integers(0, 10_000_000, n)
    status = rng.integers(0, len(STATUSES), n)
    partition = ((keys * 7919 + tidx * 104_729) % PARTITIONS).astype(np.int32)
    # per-partition running offsets: a stable counting pass
    offset = np.empty(n, dtype=np.int64)
    for p in range(PARTITIONS):
        idx = np.flatnonzero(partition == p)
        offset[idx] = np.arange(idx.size, dtype=np.int64)
    code = [
        CORRUPT_KINDS[k][0] if k >= 0 else ("DL" if d else UPSERT_CODES[c])
        for k, d, c in zip(kind.tolist(), is_delete.tolist(), upsert_code.tolist())
    ]
    return CdcEvents(
        table=[tnames[t] for t in tidx.tolist()],
        key=keys.astype(np.int64),
        code=code,
        kind=kind,
        name=[f"n{k}-{i}" for i, k in enumerate(keys.tolist())],
        amount=(cents / 100).tolist(),
        status=[STATUSES[s] for s in status.tolist()],
        partition=partition,
        offset=offset,
    )


def kafka_table(ev: CdcEvents, lo: int = 0, hi: int | None = None) -> pa.Table:
    """Events ``[lo, hi)`` as a kafka-record arrow table."""
    hi = len(ev) if hi is None else hi
    keys, values, hkeys, hvals, hoffs, topics = [], [], [], [], [0], []
    for i in range(lo, hi):
        kind = int(ev.kind[i])
        _, has_table, has_key, has_value, _ = (
            CORRUPT_KINDS[kind] if kind >= 0 else (None, True, True, True, None)
        )
        k = int(ev.key[i])
        code = ev.code[i]
        table = ev.table[i]
        keys.append(f'{{"ID": {k}}}'.encode() if has_key else None)
        if has_value and code != "DL":
            values.append(
                json.dumps(
                    {"ID": k, "NAME": ev.name[i], "AMOUNT": ev.amount[i], "STATUS": ev.status[i]}
                ).encode()
            )
        else:
            values.append(None)
        if has_table:
            hkeys.append("TableName")
            hvals.append(table.encode())
        hkeys += ["A_ENTTYP", "A_TIMSTAMP"]
        hvals += [code.encode(), b"2026-01-01 00:00:00.000000000000"]
        hoffs.append(len(hkeys))
        topics.append(f"iidr.CDC.{table}")
    headers = pa.ListArray.from_arrays(
        pa.array(hoffs, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(hkeys, pa.string()), pa.array(hvals, pa.binary())],
            names=["key", "value"],
        ),
    )
    n = hi - lo
    return pa.table(
        [
            pa.array(keys, pa.binary()),
            pa.array(values, pa.binary()),
            headers,
            pa.array(topics, pa.string()),
            pa.array(ev.partition[lo:hi], pa.int32()),
            pa.array(ev.offset[lo:hi], pa.int64()),
            pa.array(np.full(n, 1_767_225_600_000_000, dtype=np.int64), pa.timestamp("us", tz="UTC")),
        ],
        schema=KAFKA_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str) -> None:
    """Write atomically: a reader never sees a half-written file."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_topic(table: pa.Table, out_dir: str) -> None:
    """One parquet file per Kafka partition, as a topic dump would be, so
    a reader gets one input split per partition."""
    os.makedirs(out_dir, exist_ok=True)
    part = table.column("partition").to_numpy()
    for p in range(PARTITIONS):
        rows = table.take(np.flatnonzero(part == p))
        write_parquet(rows, os.path.join(out_dir, f"partition-{p}.parquet"))


# -- oracle -----------------------------------------------------------------
@dataclass
class Expected:
    tables: dict[str, dict[int, tuple]]  # lower-cased table → ID → row
    dlq: Counter  # (partition, offset, reason) → count


def replay(ev: CdcEvents, lo: int = 0, hi: int | None = None) -> Expected:
    hi = len(ev) if hi is None else hi
    tables: dict[str, dict[int, tuple]] = {}
    dlq: Counter = Counter()
    for i in range(lo, hi):
        kind = int(ev.kind[i])
        if kind >= 0:
            dlq[(int(ev.partition[i]), int(ev.offset[i]), CORRUPT_KINDS[kind][4])] += 1
            continue
        rows = tables.setdefault(ev.table[i].lower(), {})
        k = int(ev.key[i])
        if ev.code[i] == "DL":
            rows.pop(k, None)
        else:
            rows[k] = (ev.name[i], ev.amount[i], ev.status[i])
    return Expected(tables, dlq)


def check_target(db: str, exp: Expected) -> list[str]:
    """Compare the sqlite target with the replay; return the mismatches."""
    problems = []
    con = sqlite3.connect(db)
    try:
        present = {r[0].lower() for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")}
        for t, rows in exp.tables.items():
            got = {}
            if t in present:
                got = {
                    r[0]: tuple(r[1:])
                    for r in con.execute(f'SELECT "ID", "NAME", "AMOUNT", "STATUS" FROM "{t}"')
                }
            if got != rows:
                missing = len(rows.keys() - got.keys())
                extra = len(got.keys() - rows.keys())
                wrong = sum(1 for k in rows.keys() & got.keys() if rows[k] != got[k])
                problems.append(f"{t}: {missing} missing, {extra} extra, {wrong} wrong rows")
        dlq: Counter = Counter()
        if DLQ_TABLE in present:
            dlq = Counter(
                con.execute(
                    f'SELECT "kafka_partition", "kafka_offset", "error_reason" FROM "{DLQ_TABLE}"'
                )
            )
        if dlq != exp.dlq:
            problems.append(
                f"dead-letter: {sum((exp.dlq - dlq).values())} missing, "
                f"{sum((dlq - exp.dlq).values())} unexpected"
            )
    finally:
        con.close()
    return problems
