"""The write path shared by the CDC, SCD2 history and document sinks
(streaming/apply.py): transactional DDL retry, dead-letter shape, and
dialect-aware auto-evolve."""

from __future__ import annotations

import sqlite3

import pytest

from kafka_dbsync_spark.streaming.apply import CdcApplyEngine
from kafka_dbsync_spark.streaming.dialects import Dialect, SqliteDialect
from kafka_dbsync_spark.streaming.history_sink import Scd2ApplyEngine

BATCH = "id long, v string, tbl string, off long, op string, error_reason string"


class _Cursor:
    def __init__(self, cur, factory):
        self._cur = cur
        self._factory = factory

    def executemany(self, sql, rows):
        if self._factory.armed:
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
    first batch that dies mid-write and rolls back its CREATE."""

    def __init__(self, db: str) -> None:
        self.db = db
        self.armed = True

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
