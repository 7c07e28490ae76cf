"""The foreachBatch CDC apply engine — Spark's version of the reference's
`IidrCdcSinkTask.put` → `JdbcWriter.write` pipeline (SURVEY.md §3.2).

Per micro-batch:

1. **validate** → corrupt branch to the dead-letter table (K9/K10)
2. **last-write-wins per key** (A3) — the correctness cliff: a set-based
   merge would otherwise apply duplicate keys in arbitrary order
3. **route by target table** (A1) and op (A2), in one streamed pass
4. **auto-create / auto-evolve** (K6/K7) from the batch schema
5. **batched upserts + deletes** through the dialect SQL (K11)

The write contract, shared by this engine, the SCD2 history sink and the
document sink (they reuse ``transaction``, ``write_batch`` and
``_ensure_table`` below):

- a batch's data rows stream through ONE read into ONE transaction that
  covers every table (the reference commits a whole ``put()`` poll batch
  the same way, IidrCdcSinkTask.java:132-154); a table's DDL runs when
  its first row arrives; commit at the end, rollback on any failure, the
  connection always closed;
- a table counts as created only after that commit: on a target whose
  DDL is transactional (PostgreSQL) a rollback undoes the CREATE too, so
  the retry must issue it again;
- the dead-letter table is written in its own transaction, before the
  data tables.

Structured Streaming's checkpoint + the idempotent keyed UPSERT then give
exactly-once effect over at-least-once delivery
(docs/puml/kafka-dbsync.puml:28,36-37): a batch that rolled back is simply
applied again.

Scale notes: the dedup window shuffles on (table, pk) — the only shuffle
in the path. The DB write path is AUTO-SELECTED (``distribute="auto"``,
the default): batches at/above ``distribute_threshold`` rows with a
shippable connection factory run one connection per executor partition
(repartitioned by key so a key never splits across connections); smaller
batches — and ``distribute=False`` — use the driver-side single
connection, the reference's single-sink-task shape and the right debug
path. Force ``distribute=True`` to always fan out.

CAVEAT: auto mode infers "distributable" from batch size + a picklable
factory, which says nothing about the TARGET's concurrency. Single-
writer databases (sqlite, an embedded H2, a constrained PG pool) must
pass ``distribute=False`` explicitly or large backfill batches will
open concurrent writers and hit lock errors — see bench.py's apply-path
engine and the ``"distribute": False`` sink config in perfbench/cdc.py
for the canonical single-writer configuration.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Iterable, Sequence
from contextlib import contextmanager
from itertools import chain, islice
from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_dbsync_spark.functions.entrytype import OP_DELETE, OP_UPSERT
from kafka_dbsync_spark.operators.merge import latest_by_key
from kafka_dbsync_spark.streaming.dialects import Dialect

log = logging.getLogger(__name__)

CORRUPT_TABLE_SCHEMA = (
    "topic",
    "kafka_partition",
    "kafka_offset",
    "record_key",
    "record_value",
    "headers",
    "error_reason",
    "table_name",
    "entry_type",
    "created_at",
)

#: rows per ``executemany`` — driver memory stays O(chunk) however large
#: the batch (e.g. a backfill replay), while the transaction spans it all
CHUNK_ROWS = 10_000


# -- the write path shared by every DB-API sink ---------------------------------
@contextmanager
def transaction(
    connection_factory: Callable[[], object],
    known_tables: set[str] | None = None,
    tables: Iterable[str] = (),
):
    """Connect, yield the connection for DDL + DML, commit; roll back on
    failure; always close. ``tables`` join ``known_tables`` only once the
    commit succeeded — recording a CREATE earlier would make every retry
    after a rollback skip it and fail on the missing table."""
    conn = connection_factory()
    try:
        yield conn
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()
    if known_tables is not None:
        known_tables.update(tables)


def executemany_chunked(cur, sql: str, params: Iterable[Sequence]) -> int:
    """``executemany`` over ``params`` in CHUNK_ROWS-row chunks; returns
    the number of rows written."""
    it = iter(params)
    n = 0
    while chunk := list(islice(it, CHUNK_ROWS)):
        cur.executemany(sql, chunk)
        n += len(chunk)
    return n


def change_statements(dialect: Dialect, pk: Sequence[str], value_cols: Sequence[str]):
    """``statements`` for ``write_batch``: a table's upsert and delete SQL,
    keyed by op, with the columns each takes."""
    cols = [*pk, *value_cols]
    return lambda table: {
        OP_UPSERT: (dialect.upsert_sql(table, cols, pk), cols),
        OP_DELETE: (dialect.delete_sql(table, pk), list(pk)),
    }


def write_batch(
    connection_factory: Callable[[], object],
    rows: Iterable[Sequence],
    columns: Sequence[str],
    statements: Callable[[str], dict],
    table_col: str,
    op_col: str,
    ensure: Callable[[object, str], None] | None = None,
    known_tables: set[str] | None = None,
) -> None:
    """Write ``rows`` (laid out as ``columns``, from any mix of tables) in
    one pass and ONE transaction; an empty ``rows`` opens no connection.

    A table's first row runs ``ensure(conn, table)`` (its DDL) and builds
    its statements: ``statements(table)`` maps each ``op_col`` value to
    ``(sql, param columns)``; a row whose op has none is skipped. Rows
    buffer per statement, and every buffer is flushed once CHUNK_ROWS rows
    are buffered in total, so memory stays O(CHUNK_ROWS) whatever the table
    count. Flush order between statements is free: after last-write-wins
    a key has one change per batch (the SCD2 close skips the versions its
    batch writes). The tables written join ``known_tables`` once the
    commit succeeded (see ``transaction``)."""
    rows = iter(rows)
    first = next(rows, None)
    if first is None:
        return
    at = {c: i for i, c in enumerate(columns)}
    t_at, op_at = at[table_col], at[op_col]
    plans: dict[str, dict] = {}  # table -> op -> (param getter, buffer slot)
    sqls: list[str] = []
    bufs: list[list[tuple]] = []

    def flush() -> None:
        for i, buf in enumerate(bufs):
            if buf:
                cur.executemany(sqls[i], buf)
                bufs[i] = []

    # plans.keys() is a live view, read only after the commit
    with transaction(connection_factory, known_tables, plans.keys()) as conn:
        cur = conn.cursor()
        buffered = 0
        for r in chain([first], rows):
            table = r[t_at]
            plan = plans.get(table)
            if plan is None:
                if ensure is not None:
                    ensure(conn, table)
                plan = plans[table] = {}
                for op, (sql, params) in statements(table).items():
                    idx = [at[c] for c in params]
                    # itemgetter returns a bare value for one index
                    get = itemgetter(*idx) if len(idx) > 1 else lambda r, i=idx[0]: (r[i],)
                    plan[op] = (get, len(bufs))
                    sqls.append(sql)
                    bufs.append([])
            stmt = plan.get(r[op_at])
            if stmt is None:
                continue
            get, slot = stmt
            bufs[slot].append(get(r))
            buffered += 1
            if buffered >= CHUNK_ROWS:
                flush()
                buffered = 0
        flush()


class CdcApplyEngine:
    """Applies validated CDC micro-batches into DB tables.

    Parameters mirror the reference's sink config (IidrCdcSinkConfig):
    ``pk_fields`` (pk.fields), ``errors_tolerance`` ∈ {none, log, all}
    (iidr.errors.tolerance), ``auto_create`` / ``auto_evolve``,
    ``corrupt_table`` (corrupt.events.table).

    ``order_cols=None`` (default) resolves per batch to
    ``(partition-ish column if present, offset)`` — a deterministic total
    order even when a key's records span Kafka partitions (e.g. after a
    partition-count increase). Pass explicit columns to override.
    """

    def __init__(
        self,
        connection_factory: Callable[[], object],
        dialect: Dialect,
        pk_fields: Sequence[str],
        value_cols: Sequence[str],
        table_col: str = "target_table",
        op_col: str = "op",
        order_cols: Sequence[str] | None = None,
        errors_tolerance: str = "none",
        auto_create: bool = True,
        auto_evolve: bool = True,
        corrupt_table: str | None = None,
        distribute: bool | str = "auto",
        distribute_threshold: int = 100_000,
        num_partitions: int | None = None,
    ) -> None:
        self.connection_factory = connection_factory
        self.dialect = dialect
        self.pk_fields = list(pk_fields)
        self.value_cols = list(value_cols)
        self.table_col = table_col
        self.op_col = op_col
        self.order_cols = list(order_cols) if order_cols is not None else None
        self.errors_tolerance = errors_tolerance
        self.auto_create = auto_create
        self.auto_evolve = auto_evolve
        self.corrupt_table = corrupt_table
        self.distribute = distribute
        self.distribute_threshold = distribute_threshold
        # auto mode needs the factory on the executors; probe once with
        # cloudpickle (what Spark actually uses for closures) — factories
        # holding live connections/files fail here and stay driver-side
        try:
            from pyspark import cloudpickle

            cloudpickle.dumps(connection_factory)
            self._factory_serializable = True
        except Exception:  # noqa: BLE001
            self._factory_serializable = False
        # which path the last apply_batch took ("driver" | "distributed");
        # for tests and ops logging
        self.last_path: str | None = None
        # the reference's tasks.max: pins the number of concurrent sink
        # connections; None lets AQE size the exchange (it will coalesce
        # small batches down to few connections, which is usually right)
        self.num_partitions = num_partitions
        # tables whose CREATE has committed (see ``transaction``)
        self._known_tables: set[str] = set()

    # -- public entry points ------------------------------------------------
    def foreach_batch(self):
        """Callable for DataStreamWriter.foreachBatch."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply_batch(batch_df, epoch_id)

        return fn

    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        """Apply one (batch or micro-batch) DataFrame of validated records.

        Expects columns: pk fields, value columns, op, target_table,
        order columns, and (optionally) error_reason + dead-letter fields.
        """
        # the corrupt branch, the path choice and the data write are
        # separate actions — cache the decoded batch so the upstream
        # decode/validate plan runs once, like the reference's single pass
        # over the poll batch
        batch_df = batch_df.persist()
        try:
            self._apply_valid(self._split_corrupt(batch_df))
        finally:
            batch_df.unpersist()

    def _apply_valid(self, valid: DataFrame) -> None:
        # A3: last write wins per (table, key) — before set-based apply
        order_cols = self.order_cols
        if order_cols is None:
            part = [
                c for c in ("partition", "kafka_partition") if c in valid.columns
            ][:1]
            order_cols = [*part, "offset"]
        deduped = latest_by_key(
            valid, [self.table_col, *self.pk_fields], order_cols
        )
        per_table = deduped.select(
            self.table_col, *self.pk_fields, *self.value_cols, self.op_col
        )
        # the target tables' columns, for DDL
        routing = (self.table_col, self.op_col)
        stored = T.StructType([f for f in per_table.schema if f.name not in routing])

        statements = change_statements(self.dialect, self.pk_fields, self.value_cols)
        if self._should_distribute(valid):
            self.last_path = "distributed"
            self._apply_distributed(per_table, valid, stored, statements)
        else:
            self.last_path = "driver"
            self._write(per_table, statements, stored, self.pk_fields)

    def _should_distribute(self, valid: DataFrame) -> bool:
        """Pick the apply path. ``distribute=True``/``False`` forces it;
        the default ``"auto"`` runs executor-side when the factory ships
        (cloudpickle) AND the batch is at/above ``distribute_threshold``
        rows — small/debug batches keep the reference's single-writer
        shape, a 100×-scale backfill automatically fans out one
        connection per partition. The count is on the CACHED batch, so
        auto mode costs one cached-scan action, not a recompute. Pass
        ``distribute=False`` for single-writer targets (sqlite) that
        cannot take concurrent connections regardless of batch size."""
        if self.distribute is True:
            return True
        if self.distribute == "auto":
            return (
                self._factory_serializable
                and valid.count() >= self.distribute_threshold
            )
        return False

    def _transaction(self, *tables: str):
        return transaction(self.connection_factory, self._known_tables, tables)

    # -- corrupt branch (K9/K10) ---------------------------------------------
    def _split_corrupt(self, batch_df: DataFrame) -> DataFrame:
        """Dead-letter the rows carrying an ``error_reason``; return the
        rest."""
        if "error_reason" not in batch_df.columns:
            return batch_df
        corrupt = batch_df.filter(F.col("error_reason").isNotNull())
        if "created_at" not in corrupt.columns:
            # dead-letter insertion timestamp (CorruptEventWriter
            # populates created_at with now())
            corrupt = corrupt.withColumn(
                "created_at",
                F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss"),
            )
        self._handle_corrupt(corrupt)
        return batch_df.filter(F.col("error_reason").isNull())

    def _handle_corrupt(self, corrupt: DataFrame) -> None:
        if not self.corrupt_table and self.errors_tolerance == "all":
            return  # silent-skip mode with no DLQ: nothing to evaluate
        if self.corrupt_table:
            # cheap emptiness probe on the cached batch — the common clean
            # batch must not open a DLQ connection (or depend on DLQ health)
            if corrupt.isEmpty():
                return
            table = self.corrupt_table
            cols = [c for c in corrupt.columns if c in CORRUPT_TABLE_SCHEMA]
            with self._transaction(table) as conn:
                # auto-create the dead-letter table from the record shape
                # (IidrCdcSinkTask.java:72-80); its columns are the fixed
                # CORRUPT_TABLE_SCHEMA, so there is nothing to evolve
                schema = T.StructType([f for f in corrupt.schema if f.name in cols])
                self._ensure_table(conn, table, schema, (), evolve=False)
                # every dead-letter row, in bounded chunks — never cap
                # (losing DLQ records defeats the DLQ)
                n = executemany_chunked(
                    conn.cursor(),
                    self.dialect.insert_sql(table, cols),
                    (
                        tuple(
                            self._truncate_reason(r[c]) if c == "error_reason" else r[c]
                            for c in cols
                        )
                        for r in corrupt.toLocalIterator()
                    ),
                )
        else:
            n = corrupt.count()
        if n == 0:
            return
        if self.errors_tolerance == "none":
            raise ValueError(f"{n} corrupt record(s) in batch and errors.tolerance=none")
        if self.errors_tolerance == "log":
            log.warning("skipping %d corrupt record(s)", n)

    @staticmethod
    def _truncate_reason(reason: str | None, limit: int = 1000) -> str | None:
        """≤1000 chars with ellipsis — CorruptEventWriter.java:173-178."""
        if reason is None or len(reason) <= limit:
            return reason
        return reason[: limit - 3] + "..."

    # -- apply paths ----------------------------------------------------------
    def _write(
        self, df: DataFrame, statements, schema: T.StructType, pk: Sequence[str]
    ) -> None:
        """Driver side: stream ``df`` through one ``toLocalIterator`` into
        one connection and ONE transaction for all its tables (the
        reference's shape: a single sink task with a JDBC connection). A
        table is created/evolved to ``schema`` when its first row
        arrives."""
        write_batch(
            self.connection_factory, df.toLocalIterator(prefetchPartitions=True),
            df.columns, statements, self.table_col, self.op_col,
            ensure=lambda conn, table: self._ensure_table(conn, table, schema, pk),
            known_tables=self._known_tables,
        )

    def _apply_distributed(
        self, per_table: DataFrame, valid: DataFrame, stored: T.StructType, statements
    ) -> None:
        """Executor-side apply: repartition by (table, pk) so each key
        lands on exactly one partition, then one connection per partition.
        Requires a picklable connection factory (e.g. a psycopg2 DSN
        closure) and a target DB that takes concurrent writers."""
        factory = self.connection_factory
        pk = self.pk_fields
        columns = per_table.columns
        op_col = self.op_col
        table_col = self.table_col

        # DDL runs driver-side up front (one transaction for all tables)
        # so executor partitions only ever issue DML — same auto_create/
        # auto_evolve semantics as the driver-side path. Every table
        # shares the batch schema, so no per-table filtering is needed.
        if self.auto_create or self.auto_evolve:
            # distinct tables, probed on the CACHED pre-dedup batch (a
            # one-column partial-agg shuffle); dedup never drops a table
            tables = sorted(r[0] for r in valid.select(table_col).distinct().collect())
            with self._transaction(*tables) as conn:
                for table in tables:
                    self._ensure_table(conn, table, stored, pk)

        def apply_partition(rows) -> None:
            write_batch(factory, rows, columns, statements, table_col, op_col)

        keys = [table_col] + pk
        if self.num_partitions is not None:
            shaped = per_table.repartition(self.num_partitions, *keys)
        else:
            shaped = per_table.repartition(*keys)
        shaped.foreachPartition(apply_partition)

    # -- DDL (K6/K7) -----------------------------------------------------------
    def _ensure_table(
        self,
        conn,
        table: str,
        schema: T.StructType,
        pk: Sequence[str],
        evolve: bool = True,
    ) -> None:
        """Auto-create ``table`` with the columns of ``schema`` (once per
        engine — see ``_known_tables``), then auto-evolve it: add the
        columns the target lacks."""
        cur = conn.cursor()
        if self.auto_create and table not in self._known_tables:
            cur.execute(self.dialect.create_table_sql(table, schema, pk))
        if evolve and self.auto_evolve:
            existing = self._existing_columns(conn, table)
            if existing is not None:
                for f in schema.fields:
                    if self.dialect.normalize_identifier(f.name) not in existing:
                        cur.execute(self.dialect.add_column_sql(table, f))

    def _existing_columns(self, conn, table: str) -> set[str] | None:
        """Column metadata via a zero-row probe with dialect quoting (the
        reference uses DatabaseMetaData.getColumns,
        JdbcWriter.java:346-372). Names normalize per the DIALECT's
        metadata rule (PG lowercases unquoted identifiers, sqlite keeps
        case — normalize_identifier), not a blanket lower() that would
        mask case-sensitive targets."""
        try:
            cur = conn.cursor()
            cur.execute(f"SELECT * FROM {self.dialect.quote(table)} LIMIT 0")
            return {self.dialect.normalize_identifier(d[0]) for d in cur.description}
        except Exception:  # noqa: BLE001
            return None
