"""The write path shared by the CDC, SCD2 history and document sinks
(streaming/apply.py): transactional DDL retry, dead-letter shape,
dialect-aware auto-evolve, the one-query driver path, the Arrow row
reader's values and the driver-side batch limit."""

from __future__ import annotations

import functools
import random
import sqlite3
from datetime import date, datetime
from decimal import Decimal

import pytest

from kafka_dbsync_spark.streaming import apply
from kafka_dbsync_spark.streaming.apply import CdcApplyEngine
from kafka_dbsync_spark.streaming.dialects import Dialect, SqliteDialect
from kafka_dbsync_spark.streaming.document_sink import DocumentApplyEngine
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


def _driver_engine(factory, **kw):
    return CdcApplyEngine(
        connection_factory=factory,
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=["v"],
        table_col="tbl",
        order_cols=["off"],
        distribute=False,
        **kw,
    )


def _dlq_reasons(db):
    con = sqlite3.connect(db)
    try:
        return sorted(r[0] for r in con.execute('SELECT "error_reason" FROM "dlq"'))
    except sqlite3.OperationalError:
        return []
    finally:
        con.close()


@pytest.mark.parametrize("corrupt", [True, False], ids=["dead-letters", "clean"])
def test_driver_path_runs_at_most_two_jobs(tmp_path, spark, corrupt):
    """The driver path reads a batch with ONE Spark query: the LWW shuffle
    stage and the Arrow collect, whether or not it carries dead letters."""
    db = str(tmp_path / "t.db")
    engine = _driver_engine(
        lambda: sqlite3.connect(db), errors_tolerance="all", corrupt_table="dlq"
    )
    rows = [(k % 5, f"v{k}", f"t{k % 2}", k, "upsert", None) for k in range(20)]
    if corrupt:
        rows += [(9, None, "t0", 20, "upsert", "bad"), (None, None, None, 21, None, "worse")]
    batch = spark.createDataFrame(rows, BATCH)
    sc = spark.sparkContext
    group = f"driver-path-{corrupt}"
    sc.setJobGroup(group, group)
    try:
        engine.apply_batch(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert engine.last_path == "driver"
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    state: dict[str, dict] = {"t0": {}, "t1": {}}
    for k in range(20):  # the last offset per (table, key) wins
        state[f"t{k % 2}"][k % 5] = f"v{k}"
    assert [_rows(db, t) for t in state] == [sorted(v.items()) for v in state.values()]
    assert _dlq_reasons(db) == (["bad", "worse"] if corrupt else [])


def test_dead_letter_with_null_order_columns(tmp_path, spark):
    """A corrupt record whose order columns are null still reaches the
    dead-letter table: max_by skips null orderings, and a dead letter is
    a group of one."""
    db = str(tmp_path / "t.db")
    engine = _driver_engine(
        lambda: sqlite3.connect(db), errors_tolerance="all", corrupt_table="dlq"
    )
    engine.apply_batch(spark.createDataFrame(
        [(1, "a", "t1", 0, "upsert", None), (1, "b", "t1", None, "upsert", "no offset")],
        BATCH,
    ))
    assert _dlq_reasons(db) == ["no offset"]
    assert _rows(db, "t1") == [(1, "a")]


def test_tolerance_none_dead_letters_then_raises_before_data(tmp_path, spark):
    """errors_tolerance=none writes the dead-letter table, then fails the
    batch before any data table is touched."""
    db = str(tmp_path / "t.db")
    engine = _driver_engine(
        lambda: sqlite3.connect(db), errors_tolerance="none", corrupt_table="dlq"
    )
    with pytest.raises(ValueError, match="1 corrupt record"):
        engine.apply_batch(spark.createDataFrame(
            [(1, "a", "t1", 0, "upsert", None), (2, "b", "t1", 1, "upsert", "bad")],
            BATCH,
        ))
    assert _dlq_reasons(db) == ["bad"]
    con = sqlite3.connect(db)
    tables = [r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")]
    con.close()
    assert tables == ["dlq"]


class _DecimalAsTextCursor(sqlite3.Cursor):
    """sqlite3 has no ``Decimal`` adapter: bind it as text, and record
    every row handed to ``executemany`` as it came."""

    bound: list[tuple] = []

    def executemany(self, sql, rows):
        rows = list(rows)
        self.bound.extend(rows)
        adapted = [tuple(str(v) if isinstance(v, Decimal) else v for v in r) for r in rows]
        return super().executemany(sql, adapted)


class _DecimalAsText(sqlite3.Connection):
    def cursor(self, factory=_DecimalAsTextCursor):
        return super().cursor(factory)


TYPED = ("id long, ts timestamp, d date, amt decimal(12,2), raw binary, "
         "flag boolean, tbl string, off long, op string")
TYPED_VALUES = ["ts", "d", "amt", "raw", "flag"]
TYPED_ROWS = [
    (1, datetime(2024, 1, 2, 3, 4, 5, 123456), date(2024, 1, 2), Decimal("12.34"),
     b"\x00\xffab", True, "t1", 0, "upsert"),
    (2, datetime(1999, 12, 31, 23, 59, 59), date(1970, 1, 1), Decimal("-0.50"),
     b"", False, "t1", 1, "upsert"),
    (3, None, None, None, None, None, "t1", 2, "upsert"),
]
# What the Row path (toLocalIterator) bound and stored, recorded with
# Spark 4.1.2 and Python 3.11's sqlite3 in a UTC process.
_BOUND = [
    (1, datetime(2024, 1, 2, 3, 4, 5, 123456), date(2024, 1, 2), Decimal("12.34"),
     b"\x00\xffab", True),
    (2, datetime(1999, 12, 31, 23, 59, 59), date(1970, 1, 1), Decimal("-0.50"), b"", False),
    (3, None, None, None, None, None),
]
_STORED = [
    (1, "2024-01-02 03:04:05.123456", "2024-01-02", 12.34, b"\x00\xffab", 1),
    (2, "1999-12-31 23:59:59", "1970-01-01", -0.5, b"", 0),
    (3, None, None, None, None, None),
]
_HISTORY = [(0, None, 1), (1, None, 1), (2, None, 1)]  # valid_from, valid_to, is_current


@pytest.mark.parametrize("cls", [CdcApplyEngine, Scd2ApplyEngine])
def test_typed_values_match_row_path(tmp_path, spark, cls, monkeypatch):
    """Timestamp, date, decimal, binary and boolean values reach the
    target as the Row path handed them over: naive datetimes, Decimals,
    bytes and bools, stored alike."""
    monkeypatch.setattr(_DecimalAsTextCursor, "bound", [])
    db = str(tmp_path / "t.db")
    cls(
        connection_factory=functools.partial(sqlite3.connect, db, factory=_DecimalAsText),
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=TYPED_VALUES,
        table_col="tbl",
        order_cols=["off"],
        distribute=False,
    ).apply_batch(spark.createDataFrame(TYPED_ROWS, TYPED))
    history = cls is Scd2ApplyEngine
    # the SCD2 sink also binds its three close-UPDATEs (valid_to, id, valid_to)
    bound = sorted(
        (r for r in _DecimalAsTextCursor.bound if len(r) > 3), key=lambda r: r[0]
    )
    con = sqlite3.connect(db)
    stored = con.execute('SELECT * FROM "t1" ORDER BY "id"').fetchall()
    con.close()
    if history:
        assert bound == [(*b, *h) for b, h in zip(_BOUND, _HISTORY)]
        assert stored == [(*s, *h) for s, h in zip(_STORED, _HISTORY)]
    else:
        assert bound == _BOUND
        assert stored == _STORED
    assert [type(v) for v in bound[0][:6]] == [int, datetime, date, Decimal, bytes, bool]


def test_arrow_rows_match_collect(spark, monkeypatch):
    """``arrow_rows`` gives what ``collect`` gives, for the types where
    pyarrow's own values differ (timestamps, maps, structs) and for the
    columns it converts through numpy (integers above 2**53 with nulls,
    doubles with NaN and nulls, strings and booleans with nulls), batch by
    batch of CHUNK_ROWS."""
    monkeypatch.setattr(apply, "CHUNK_ROWS", 2)
    df = spark.sql(
        """SELECT id,
                  timestamp_micros(1700000000123456 + id) AS ts,
                  CAST(timestamp_micros(1700000000123456) AS timestamp_ntz) AS ntz,
                  map('k', id, 'j', NULL) AS m,
                  named_struct('a', id, 'b', CAST(id AS string)) AS s,
                  array(named_struct('key', 'h', 'value', CAST('x' AS binary))) AS hs,
                  CAST(id AS decimal(20, 3)) AS dec,
                  IF(id = 2, NULL, CAST('raw' AS binary)) AS raw,
                  IF(id = 1, NULL, 9007199254740993 + id) AS big,
                  CASE id WHEN 0 THEN CAST('NaN' AS double) WHEN 3 THEN NULL
                          ELSE id / 3 END AS dbl,
                  IF(id % 2 = 0, NULL, concat('s', id)) AS str,
                  IF(id = 4, NULL, id % 2 = 0) AS flag
           FROM range(5)"""
    )
    got = list(apply.arrow_rows(df.toArrow()))
    nan_free = lambda rows: [tuple("NaN" if v != v else v for v in r) for r in rows]  # noqa: E731
    assert nan_free(got) == nan_free(tuple(r) for r in df.collect())
    assert got[0][1].tzinfo is None and isinstance(got[0][3], dict)
    assert got[0][8] == 9007199254740993 and type(got[0][8]) is int and got[1][8] is None
    assert type(got[1][11]) is bool and got[4][11] is None


@pytest.fixture
def result_limit_1m(spark):
    """``spark.driver.maxResultSize`` at 1m for one test; the running
    context reads it for every job."""
    conf = spark.sparkContext._jsc.sc().conf()
    key = "spark.driver.maxResultSize"
    old = conf.get(key) if conf.contains(key) else None
    conf.set(key, "1m")
    try:
        yield
    finally:
        if old is None:
            conf.remove(key)
        else:
            conf.set(key, old)


@pytest.mark.parametrize("sink", ["cdc", "scd2", "document"])
def test_batch_above_result_limit_fails_before_writing(tmp_path, spark, result_limit_1m, sink):
    """A driver-side sink collects a whole batch, so a batch whose rows
    exceed ``spark.driver.maxResultSize`` fails with an error that names
    the limit, and writes nothing. 20,000 distinct keys of 150-byte values
    (≈ 3 MB) against a 1m limit."""
    db = str(tmp_path / "t.db")
    big = spark.range(0, 20_000, numPartitions=4)
    if sink == "document":
        engine = DocumentApplyEngine(lambda: sqlite3.connect(db), "docs")
        batch = big.selectExpr(
            "CAST(NULL AS string) AS record_key",
            "to_json(named_struct('_id', CAST(id AS string), 'pad', repeat('x', 150)))"
            " AS record_value",
            "id AS offset",
        )
    else:
        cls = CdcApplyEngine if sink == "cdc" else Scd2ApplyEngine
        engine = cls(
            connection_factory=lambda: sqlite3.connect(db),
            dialect=SqliteDialect(),
            pk_fields=["id"],
            value_cols=["v"],
            table_col="tbl",
            order_cols=["off"],
            distribute=False,
        )
        batch = big.selectExpr(
            "id", "repeat('x', 150) AS v", "'t1' AS tbl", "id AS off", "'upsert' AS op",
        )
    with pytest.raises(RuntimeError, match=r"exceed spark\.driver\.maxResultSize"):
        engine.apply_batch(batch)
    con = sqlite3.connect(db)
    assert con.execute("SELECT name FROM sqlite_master").fetchall() == []
    con.close()


@pytest.mark.parametrize("tolerance", ["none", "log"])
def test_history_counts_corrupt_rows_without_dead_letter_table(
    tmp_path, spark, caplog, tolerance
):
    """With no dead-letter table the SCD2 sink only counts the corrupt
    rows: ``none`` fails the batch before any data table is touched,
    ``log`` warns with the count and writes the rest."""
    db = str(tmp_path / "t.db")
    engine = Scd2ApplyEngine(
        connection_factory=lambda: sqlite3.connect(db),
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=["v"],
        table_col="tbl",
        order_cols=["off"],
        errors_tolerance=tolerance,
    )
    batch = spark.createDataFrame(
        [(1, "a", "t1", 0, "upsert", None), (2, None, "t1", 1, "upsert", "bad"),
         (3, None, None, 2, None, "worse")],
        BATCH,
    )
    con = sqlite3.connect(db)
    if tolerance == "none":
        with pytest.raises(ValueError, match="2 corrupt record"):
            engine.apply_batch(batch)
        assert con.execute("SELECT name FROM sqlite_master").fetchall() == []
    else:
        with caplog.at_level("WARNING", logger=apply.__name__):
            engine.apply_batch(batch)
        assert "skipping 2 corrupt record(s)" in caplog.text
        assert con.execute('SELECT "id", "v" FROM "t1"').fetchall() == [(1, "a")]
    con.close()
