"""The write path shared by the CDC, SCD2 history and document sinks
(streaming/apply.py): transactional DDL retry, dead-letter shape, and
dialect-aware auto-evolve."""

from __future__ import annotations

import random
import sqlite3

import pytest

from kafka_dbsync_spark.streaming import apply
from kafka_dbsync_spark.streaming.apply import CdcApplyEngine
from kafka_dbsync_spark.streaming.dialects import Dialect, SqliteDialect
from kafka_dbsync_spark.streaming.history_sink import Scd2ApplyEngine

BATCH = "id long, v string, tbl string, off long, op string, error_reason string"


class _Cursor:
    def __init__(self, cur, factory):
        self._cur = cur
        self._factory = factory

    def executemany(self, sql, rows):
        rows = list(rows)
        self._factory.sizes.append(len(rows))
        fail_on = self._factory.fail_on
        if self._factory.armed and (fail_on is None or f'"{fail_on}"' in sql):
            self._factory.armed = False
            raise sqlite3.OperationalError("injected write failure")
        return self._cur.executemany(sql, rows)

    def __getattr__(self, name):
        return getattr(self._cur, name)


class _Connection:
    def __init__(self, conn, factory):
        self._conn = conn
        self._factory = factory

    def cursor(self):
        return _Cursor(self._conn.cursor(), self._factory)

    def __getattr__(self, name):
        return getattr(self._conn, name)


class _TransactionalDdlFailOnce:
    """sqlite with the DDL inside the transaction (``BEGIN`` on connect,
    as PostgreSQL always does), whose first ``executemany`` raises — a
    first batch that dies mid-write and rolls back its CREATE.
    ``fail_on`` narrows the failure to the first statement on that table;
    ``sizes`` records every ``executemany``'s rows."""

    def __init__(self, db: str, fail_on: str | None = None) -> None:
        self.db = db
        self.armed = True
        self.fail_on = fail_on
        self.sizes: list[int] = []

    def __call__(self) -> _Connection:
        conn = sqlite3.connect(self.db)
        conn.execute("BEGIN")
        return _Connection(conn, self)


@pytest.mark.parametrize("target", ["data", "dlq"])
def test_retry_after_rolled_back_first_batch(tmp_path, spark, target):
    """The retry of a batch whose transaction rolled back re-issues the
    CREATE it undid: a table counts as created only after its commit."""
    db = str(tmp_path / "t.db")
    engine = CdcApplyEngine(
        connection_factory=_TransactionalDdlFailOnce(db),
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=["v"],
        table_col="tbl",
        order_cols=["off"],
        errors_tolerance="all",
        corrupt_table="dlq",
        distribute=False,
    )
    rows = [(1, "a", "t1", 0, "upsert", None)]
    if target == "dlq":
        # the dead-letter transaction runs first, so it takes the failure
        rows.append((2, "b", "t1", 1, "upsert", "bad"))
    batch = spark.createDataFrame(rows, BATCH)
    with pytest.raises(sqlite3.OperationalError, match="injected"):
        engine.apply_batch(batch)
    engine.apply_batch(batch)
    con = sqlite3.connect(db)
    assert con.execute('SELECT "id", "v" FROM "t1"').fetchall() == [(1, "a")]
    if target == "dlq":
        got = con.execute('SELECT "error_reason" FROM "dlq"').fetchall()
        assert got == [("bad",)]
    con.close()


def _dlq_columns_and_stamps(db):
    con = sqlite3.connect(db)
    cols = [r[1] for r in con.execute('PRAGMA table_info("dlq")')]
    stamps = [r[0] for r in con.execute('SELECT "created_at" FROM "dlq"')]
    con.close()
    return cols, stamps


def test_scd2_dead_letters_match_apply_engine(tmp_path, spark):
    """The SCD2 sink dead-letters through the same corrupt split as the
    CDC engine: same DLQ columns, created_at stamped."""
    batch = spark.createDataFrame(
        [(1, "a", "t1", 0, "upsert", None), (2, None, "t1", 1, "upsert", "bad")],
        BATCH,
    )
    got = {}
    for cls in (CdcApplyEngine, Scd2ApplyEngine):
        db = str(tmp_path / f"{cls.__name__}.db")
        cls(
            connection_factory=lambda db=db: sqlite3.connect(db),
            dialect=SqliteDialect(),
            pk_fields=["id"],
            value_cols=["v"],
            table_col="tbl",
            order_cols=["off"],
            errors_tolerance="all",
            corrupt_table="dlq",
        ).apply_batch(batch)
        got[cls] = _dlq_columns_and_stamps(db)
    cols, stamps = got[Scd2ApplyEngine]
    assert cols == got[CdcApplyEngine][0] == ["error_reason", "created_at"]
    assert len(stamps) == 1 and stamps[0] is not None


def test_scd2_auto_evolve_case_preserving_dialect(tmp_path, spark):
    """A case-preserving dialect (generic, MySQL) reports ``ID`` as
    ``ID``: auto-evolve must compare names the dialect's way, not
    lower-cased, or it re-adds existing columns."""
    db = str(tmp_path / "h.db")
    engine = Scd2ApplyEngine(
        connection_factory=lambda: sqlite3.connect(db),
        dialect=Dialect(),
        pk_fields=["ID"],
        value_cols=["V"],
        table_col="tbl",
        order_cols=["off"],
    )
    engine.apply_batch(
        spark.createDataFrame(
            [(1, "a", "t1", 0, "upsert")],
            "ID long, V string, tbl string, off long, op string",
        )
    )
    con = sqlite3.connect(db)
    rows = con.execute(
        'SELECT "ID", "V", "valid_from", "valid_to", "is_current" FROM "t1"'
    ).fetchall()
    con.close()
    assert rows == [(1, "a", 0, None, 1)]


def _rows(db, table):
    """``(id, v)`` rows of ``table``, sorted; [] when it does not exist."""
    con = sqlite3.connect(db)
    try:
        return sorted(con.execute(f'SELECT "id", "v" FROM "{table}"').fetchall())
    except sqlite3.OperationalError:
        return []
    finally:
        con.close()


@pytest.mark.parametrize("cls", [CdcApplyEngine, Scd2ApplyEngine])
def test_failed_second_table_rolls_back_whole_batch(tmp_path, spark, cls):
    """A batch's data tables share ONE transaction: a write that fails on
    the second table leaves neither table with rows, and the retry
    applies both."""
    db = str(tmp_path / "t.db")
    engine = cls(
        connection_factory=_TransactionalDdlFailOnce(db, fail_on="t2"),
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=["v"],
        table_col="tbl",
        order_cols=["off"],
        errors_tolerance="all",
        distribute=False,
    )
    batch = spark.createDataFrame(
        [(1, "a", "t1", 0, "upsert", None), (2, "b", "t2", 1, "upsert", None)],
        BATCH,
    )
    with pytest.raises(sqlite3.OperationalError, match="injected"):
        engine.apply_batch(batch)
    assert _rows(db, "t1") == _rows(db, "t2") == []
    engine.apply_batch(batch)
    assert (_rows(db, "t1"), _rows(db, "t2")) == ([(1, "a")], [(2, "b")])


def test_cross_table_flush_bounds_every_statement(tmp_path, spark, monkeypatch):
    """The row writer flushes every buffer once CHUNK_ROWS rows are
    buffered across all tables: no ``executemany`` gets more, and the
    tables match a plain last-write-wins replay."""
    monkeypatch.setattr(apply, "CHUNK_ROWS", 4)
    db = str(tmp_path / "t.db")
    factory = _TransactionalDdlFailOnce(db)
    factory.armed = False
    engine = CdcApplyEngine(
        connection_factory=factory,
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=["v"],
        table_col="tbl",
        order_cols=["off"],
        errors_tolerance="all",
        distribute=False,
    )
    tables = ("t1", "t2", "t3")
    rng = random.Random(7)
    events = [(k, f"{t}-{k}", t, "upsert") for t in tables for k in range(6)]
    # second batch: 8 keys per table, a third of them deleted, some
    # updated twice in the batch (the later offset wins)
    second = []
    for t in tables:
        for k in range(8):
            ops = ["delete"] if k % 3 == 0 else ["upsert"] * (1 + k % 2)
            second += [(k, None if op == "delete" else f"{t}-{k}-{i}", t, op)
                       for i, op in enumerate(ops)]
    rng.shuffle(second)
    state: dict[str, dict] = {t: {} for t in tables}
    off = 0
    for batch in (events, second):
        rows = []
        for k, v, t, op in batch:
            rows.append((k, v, t, off, op, None))
            off += 1
            if op == "upsert":
                state[t][k] = v
            else:
                state[t].pop(k, None)
        engine.apply_batch(spark.createDataFrame(rows, BATCH))
    for t in tables:
        assert _rows(db, t) == sorted(state[t].items())
    assert factory.sizes and max(factory.sizes) <= 4
