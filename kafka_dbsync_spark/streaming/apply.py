"""The foreachBatch CDC apply engine — Spark's version of the reference's
`IidrCdcSinkTask.put` → `JdbcWriter.write` pipeline (SURVEY.md §3.2).

Per micro-batch, on the driver path: ONE Spark query and ONE Arrow collect
(the reference applies a ``put()`` poll batch in one loop over its
records, IidrCdcSinkTask.java:132-154):

1. **last-write-wins per key** (A3) — the correctness cliff: a set-based
   merge would otherwise apply duplicate keys in arbitrary order. Corrupt
   rows (validate's ``error_reason``, K9/K10) ride through the same
   aggregation as groups of one, so it yields the deduped data rows and
   every dead-letter row together; only the columns the write and the
   dead-letter table read are shuffled
2. **one Arrow collect** (``collect_batch``), split on the driver by
   ``error_reason``
3. **dead letters** to the dead-letter table, in their own transaction,
   under ``errors_tolerance``
4. **route by target table** (A1) and op (A2), auto-create / auto-evolve
   (K6/K7) from the batch schema, batched upserts + deletes through the
   dialect SQL (K11), in one pass over the collected rows

The write contract, shared by this engine, the SCD2 history sink and the
document sink (they reuse ``collect_batch``, ``arrow_rows``,
``transaction``, ``write_batch`` and ``_ensure_table`` below):

- a batch's data rows are written in ONE transaction that covers every
  table (the reference commits a whole ``put()`` poll batch the same
  way); a table's DDL runs when its first row arrives; commit at the end,
  rollback on any failure, the connection always closed;
- a table counts as created only after that commit: on a target whose
  DDL is transactional (PostgreSQL) a rollback undoes the CREATE too, so
  the retry must issue it again;
- the dead-letter table is written in its own transaction, before the
  data tables; ``errors_tolerance=none`` raises after it, before any
  data table is touched.

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

THE DRIVER-SIDE LIMIT: the driver path collects a whole deduped batch in
one job (``collect_batch``) and holds it as Arrow, materialising Python
rows CHUNK_ROWS at a time. So a driver-side batch must fit
``spark.driver.maxResultSize`` (Spark's default 1g) and the driver's
memory; a larger one fails in ``collect_batch``, before any data table
is written, with an error that names the limit. ``distribute_threshold``
moves large batches off the driver only in auto mode with a shippable
factory. ``distribute=False``, the SCD2 history sink and the document
sink always write driver-side, so their callers bound the batch instead:
``maxOffsetsPerTrigger`` on a Kafka stream, or a backfill split into
several ``run_batch`` calls over offset ranges.

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
from collections.abc import Callable, Iterable, Iterator, Sequence
from contextlib import contextmanager
from datetime import datetime, timezone
from itertools import chain, islice
from operator import itemgetter
from typing import TYPE_CHECKING

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import from_arrow_schema

from kafka_dbsync_spark.functions.entrytype import OP_DELETE, OP_UPSERT
from kafka_dbsync_spark.operators.merge import latest_by_key, quote_ident
from kafka_dbsync_spark.streaming.dialects import Dialect

if TYPE_CHECKING:
    import pyarrow as pa

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

#: rows per ``executemany``, and per step of ``arrow_rows``: a collected
#: batch is held as Arrow, and its Python rows and statement buffers stay
#: O(chunk) however large the batch, while the transaction spans it all
CHUNK_ROWS = 10_000

#: group key that makes each dead-letter row a last-write-wins group of one
_DEAD = "__dead_letter_id"


def _dead_letter_sql(field: T.StructField) -> str:
    """SQL for the value a dead-letter column stores. A DB-API driver binds
    no nested value, so the Kafka ``headers`` (``array<struct<key,
    value>>``, as ``decode_iidr_records`` leaves them) are stored as a JSON
    object of header name → value, as the reference serializes them
    (CorruptEventWriter.java:128-158), each value made valid UTF-8 first
    as the decode path makes its headers (a malformed byte would fail the
    Arrow collect). Every other column is stored as it is."""
    c = quote_ident(field.name)
    t = field.dataType
    if not (
        isinstance(t, T.ArrayType)
        and isinstance(t.elementType, T.StructType)
        and t.elementType.fieldNames() == ["key", "value"]
    ):
        return c
    values = f"transform({c}.value, v -> make_valid_utf8(CAST(v AS string)))"
    return f"to_json(map_from_arrays({c}.key, {values}))"


def collect_batch(df: DataFrame) -> pa.Table:
    """``df`` collected to the driver as ONE Arrow table, in one job. Its
    serialized result must fit ``spark.driver.maxResultSize``; a larger
    batch fails here with an error that says so and what bounds it."""
    try:
        return df.toArrow()
    except Py4JJavaError as e:
        if "spark.driver.maxResultSize" not in str(e):
            raise
        raise RuntimeError(
            "batch too large for a driver-side write: its collected rows exceed "
            "spark.driver.maxResultSize. A driver-side sink holds a whole batch; "
            "bound the batch (maxOffsetsPerTrigger, or run_batch over smaller "
            "offset ranges), raise spark.driver.maxResultSize within the driver's "
            "memory, or write executor-side (distribute=True, for targets that "
            "take concurrent writers)"
        ) from e


def arrow_rows(table: pa.Table) -> Iterator[tuple]:
    """The rows of ``table`` as tuples, built column by column from one
    record batch of at most CHUNK_ROWS rows at a time, so Python-object
    memory stays O(CHUNK_ROWS). Values are what Spark's Rows hold
    (``collect``):

    - string, integer, float and boolean columns convert in bulk through
      numpy (``to_numpy().tolist()``); a column with nulls is filled first
      and gets ``None`` back at its null positions, so an int64 never
      passes through a float (which would corrupt values above 2**53);
    - every other column (timestamp, date, decimal, binary, map, struct,
      array) goes through Spark's own Arrow-to-Row conversion, on just
      those columns: pyarrow alone would give tz-aware UTC datetimes for
      ``TimestampType`` (Rows: naive local time), lists of pairs for maps
      (Rows: dicts) and dicts for structs (Rows: Rows)."""
    import pyarrow as pa

    schema = from_arrow_schema(table.schema)
    rest = [i for i, f in enumerate(table.schema) if not _is_flat(f.type)]
    rest_schema = T.StructType([schema.fields[i] for i in rest])
    for batch in table.to_batches(max_chunksize=CHUNK_ROWS):
        if not batch.num_rows:
            continue
        cols = [None if i in rest else _flat_values(c) for i, c in enumerate(batch.columns)]
        if rest:
            converted = ArrowTableToRowsConversion.convert(
                pa.Table.from_batches([batch.select(rest)]), rest_schema, return_as_tuples=True
            )
            for i, values in zip(rest, zip(*converted)):
                cols[i] = values
        yield from zip(*cols)


def _is_flat(t: pa.DataType) -> bool:
    """A type whose Python values numpy's ``tolist`` gives as Spark does."""
    import pyarrow.types as pat

    return (
        pat.is_string(t) or pat.is_large_string(t) or pat.is_integer(t)
        or pat.is_floating(t) or pat.is_boolean(t)
    )


def _flat_values(col: pa.Array) -> list:
    """The Python values of a ``_is_flat`` column, ``None`` for nulls."""
    import numpy as np
    import pyarrow.types as pat

    if not col.null_count or pat.is_string(col.type) or pat.is_large_string(col.type):
        # a string column with nulls is an object array holding None
        return col.to_numpy(zero_copy_only=False).tolist()
    filled = col.fill_null(False if pat.is_boolean(col.type) else 0)
    values = filled.to_numpy(zero_copy_only=False).tolist()
    for i in np.flatnonzero(col.is_null().to_numpy(zero_copy_only=False)).tolist():
        values[i] = None
    return values


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

        The path: ``distribute=True`` runs executor-side; the default
        ``"auto"`` does so when the factory ships (cloudpickle) AND the
        batch is at/above ``distribute_threshold`` rows — small/debug
        batches keep the reference's single-writer shape, a 100×-scale
        backfill automatically fans out one connection per partition.
        Everything else runs on the driver. Pass ``distribute=False`` for
        single-writer targets (sqlite) that cannot take concurrent
        connections regardless of batch size; a driver-side batch must
        then fit THE DRIVER-SIDE LIMIT in the module docstring.
        """
        if not (
            self.distribute is True
            or (self.distribute == "auto" and self._factory_serializable)
        ):
            self._apply_driver(batch_df)
            return
        # auto mode's row count and, on the distributed path, the
        # dead-letter split, the table probe and the write each read the
        # batch
        with self._persisted(batch_df) as cached:
            if self.distribute is True or cached.count() >= self.distribute_threshold:
                self.last_path = "distributed"
                self._apply_distributed(self._split_corrupt(cached))
            else:
                self._apply_driver(cached)

    @staticmethod
    @contextmanager
    def _persisted(batch_df: DataFrame):
        """``batch_df`` cached for a path that reads it more than once, so
        the upstream decode/validate plan runs once."""
        batch_df = batch_df.persist()
        try:
            yield batch_df
        finally:
            batch_df.unpersist()

    def _transaction(self, *tables: str):
        return transaction(self.connection_factory, self._known_tables, tables)

    # -- corrupt branch (K9/K10) ---------------------------------------------
    def _with_dead_letters(self, batch_df: DataFrame) -> tuple[DataFrame, list[str]]:
        """The batch plus the columns its dead-letter rows (those carrying
        an ``error_reason``) are read for: the dead-letter table's, or
        ``error_reason`` alone when there is only a count to report. With
        no dead-letter table and ``errors_tolerance=all`` nothing reads
        them, so they are dropped here."""
        if "error_reason" not in batch_df.columns:
            return batch_df, []
        if not self.corrupt_table:
            if self.errors_tolerance == "all":
                return batch_df.filter(F.col("error_reason").isNull()), []
            return batch_df, ["error_reason"]
        return batch_df, [c for c in batch_df.columns if c in CORRUPT_TABLE_SCHEMA]

    def _split_corrupt(self, batch_df: DataFrame) -> DataFrame:
        """Dead-letter the rows carrying an ``error_reason``, through one
        Arrow collect, or just count them when there is no dead-letter
        table; return the rest. For the paths that read the (cached) batch
        more than once: the distributed path and SCD2."""
        batch_df, dead_cols = self._with_dead_letters(batch_df)
        if not dead_cols:
            return batch_df
        dead = F.col("error_reason").isNotNull()
        corrupt = batch_df.filter(dead)
        if self.corrupt_table:
            self._dead_letter(collect_batch(corrupt.selectExpr(*(
                f"{_dead_letter_sql(batch_df.schema[c])} AS {quote_ident(c)}"
                for c in dead_cols
            ))))
        else:
            self._tolerate(corrupt.count())
        return batch_df.filter(~dead)

    def _dead_letter(self, rows: pa.Table) -> None:
        """Write the dead-letter ``rows`` (the corrupt rows, collected as
        Arrow) into the dead-letter table, if there is one, in their own
        transaction, then apply ``errors_tolerance``. A clean batch has
        ``num_rows == 0`` and opens no connection, so it never depends on
        the DLQ's health."""
        import pyarrow as pa

        n = rows.num_rows
        if n and self.corrupt_table:
            if "created_at" not in rows.column_names:
                # dead-letter insertion timestamp, in UTC like the session
                # (CorruptEventWriter populates created_at with now())
                now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
                rows = rows.append_column("created_at", pa.array([now] * n, pa.string()))
            table = self.corrupt_table
            cols = rows.column_names
            at = cols.index("error_reason")
            with self._transaction(table) as conn:
                # auto-create the dead-letter table from the record shape
                # (IidrCdcSinkTask.java:72-80); its columns are the fixed
                # CORRUPT_TABLE_SCHEMA, so there is nothing to evolve
                schema = from_arrow_schema(rows.schema)
                self._ensure_table(conn, table, schema, (), evolve=False)
                # every dead-letter row, in bounded chunks — never cap
                # (losing DLQ records defeats the DLQ)
                executemany_chunked(
                    conn.cursor(),
                    self.dialect.insert_sql(table, cols),
                    (
                        (*r[:at], self._truncate_reason(r[at]), *r[at + 1:])
                        for r in arrow_rows(rows)
                    ),
                )
        self._tolerate(n)

    def _tolerate(self, n: int) -> None:
        """``errors_tolerance`` for a batch with ``n`` corrupt records."""
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
    def _data_cols(self) -> list[str]:
        return [self.table_col, *self.pk_fields, *self.value_cols, self.op_col]

    def _stored(self, df: DataFrame) -> T.StructType:
        """The target tables' columns, for DDL."""
        return T.StructType([df.schema[c] for c in [*self.pk_fields, *self.value_cols]])

    def _latest(self, df: DataFrame, dead_cols: Sequence[str] = ()) -> DataFrame:
        """A3: last write wins per (table, key), before the set-based
        apply. The deduped rows carry the write's columns and the
        ``dead_cols``, plus the order columns and a dead-letter id.

        Only what is written is shuffled: the write's columns, the order
        columns and the ``dead_cols`` (as ``_dead_letter_sql`` stores
        them), the latter nulled on valid rows.
        Each dead-letter row (non-null ``error_reason``) is a group of one:
        its group key adds a per-record id that is null on valid rows.
        ``max_by`` orders by a struct of the order columns, which is never
        null, so a dead letter whose order columns are null still comes
        through. The projection is SQL text: one JVM round trip per batch
        instead of several per column."""
        data_cols = self._data_cols()
        order_cols = self.order_cols
        if order_cols is None:
            part = [c for c in ("partition", "kafka_partition") if c in df.columns][:1]
            order_cols = [*part, "offset"]
        dead = "error_reason IS NOT NULL" if dead_cols else "false"
        q = quote_ident
        frame = df.selectExpr(
            *map(q, data_cols),
            *[q(c) for c in order_cols if c not in data_cols],
            *[
                f"IF({dead}, {_dead_letter_sql(df.schema[c])}, NULL) AS {q(c)}"
                for c in dead_cols
                if c not in data_cols and c not in order_cols
            ],
            f"IF({dead}, monotonically_increasing_id(), NULL) AS {q(_DEAD)}",
        )
        return latest_by_key(frame, [self.table_col, *self.pk_fields, _DEAD], order_cols)

    def _apply_driver(self, batch_df: DataFrame) -> None:
        """Driver side: ONE Spark query and ONE Arrow collect per batch. The
        last-write-wins aggregation yields the deduped data rows and the
        dead-letter rows together (see ``_latest``); the driver splits the
        collected table on ``error_reason``, writes the dead letters first
        (``_dead_letter``), then the data rows (``_write``)."""
        import pyarrow.compute as pc

        self.last_path = "driver"
        batch_df, dead_cols = self._with_dead_letters(batch_df)
        rows = collect_batch(self._latest(batch_df, dead_cols))
        if dead_cols:
            dead = pc.is_valid(rows["error_reason"])
            self._dead_letter(rows.filter(dead).select(dead_cols))
            rows = rows.filter(pc.invert(dead))
        statements = change_statements(self.dialect, self.pk_fields, self.value_cols)
        self._write(
            rows.select(self._data_cols()), statements, self._stored(batch_df), self.pk_fields
        )

    def _write(
        self, rows: pa.Table, statements, schema: T.StructType, pk: Sequence[str]
    ) -> None:
        """Write a collected batch into one connection and ONE transaction
        for all its tables (the reference's shape: a single sink task with a
        JDBC connection). The batch is held as Arrow; ``arrow_rows``
        materialises its Python rows CHUNK_ROWS at a time. A table is
        created/evolved to ``schema`` when its first row arrives."""
        write_batch(
            self.connection_factory, arrow_rows(rows),
            rows.column_names, statements, self.table_col, self.op_col,
            ensure=lambda conn, table: self._ensure_table(conn, table, schema, pk),
            known_tables=self._known_tables,
        )

    def _apply_distributed(self, valid: DataFrame) -> None:
        """Executor-side apply: repartition by (table, pk) so each key
        lands on exactly one partition, then one connection per partition.
        Requires a picklable connection factory (e.g. a psycopg2 DSN
        closure) and a target DB that takes concurrent writers."""
        per_table = self._latest(valid).select(*self._data_cols())
        stored = self._stored(valid)
        factory = self.connection_factory
        pk = self.pk_fields
        columns = per_table.columns
        op_col = self.op_col
        table_col = self.table_col
        statements = change_statements(self.dialect, pk, self.value_cols)

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
