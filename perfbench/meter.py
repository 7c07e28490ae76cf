"""Connection proxy that measures the write layer at its boundary.

``CdcApplyEngine`` takes a ``connection_factory``; handing it
``MeteredFactory`` instead of ``sqlite3.connect`` times every
``executemany`` and ``commit`` and counts rows, statements and commits,
without touching ``streaming/apply.py``. Used only in traced runs.
"""

from __future__ import annotations

import sqlite3
import threading
import time
from dataclasses import dataclass, field


@dataclass
class WriteMeter:
    busy_s: float = 0.0
    rows: int = 0
    statements: int = 0
    commits: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def add(self, seconds: float, rows: int = 0, statements: int = 0, commits: int = 0) -> None:
        with self._lock:
            self.busy_s += seconds
            self.rows += rows
            self.statements += statements
            self.commits += commits

    def per_unit(self, units: int) -> dict:
        """Averages over ``units`` batches or repetitions."""
        with self._lock:
            return {
                "busy_ms": self.busy_s * 1e3 / units,
                "rows": self.rows / units,
                "statements": self.statements / units,
                "commits": self.commits / units,
            }


class _Cursor:
    def __init__(self, cur: sqlite3.Cursor, meter: WriteMeter) -> None:
        self._cur = cur
        self._meter = meter

    def execute(self, sql, params=()):
        t = time.perf_counter()
        out = self._cur.execute(sql, params)
        self._meter.add(time.perf_counter() - t, statements=1)
        return out

    def executemany(self, sql, rows):
        rows = rows if isinstance(rows, list) else list(rows)
        t = time.perf_counter()
        out = self._cur.executemany(sql, rows)
        self._meter.add(time.perf_counter() - t, rows=len(rows), statements=1)
        return out

    def __getattr__(self, name):
        return getattr(self._cur, name)


class _Connection:
    def __init__(self, conn: sqlite3.Connection, meter: WriteMeter) -> None:
        self._conn = conn
        self._meter = meter

    def cursor(self) -> _Cursor:
        return _Cursor(self._conn.cursor(), self._meter)

    def commit(self) -> None:
        t = time.perf_counter()
        self._conn.commit()
        self._meter.add(time.perf_counter() - t, commits=1)

    def __getattr__(self, name):
        return getattr(self._conn, name)


class MeteredFactory:
    """Drop-in ``connection_factory`` for a sqlite target file."""

    def __init__(self, db: str, meter: WriteMeter) -> None:
        self.db = db
        self.meter = meter

    def __call__(self) -> _Connection:
        return _Connection(sqlite3.connect(self.db), self.meter)
