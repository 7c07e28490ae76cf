"""SCD Type-2 history sink — the apply engine's audit-table twin.

Where ``CdcApplyEngine`` keeps the *latest* row per key (the reference's
destructive upsert/delete semantics), this engine keeps *every version*
with its validity interval — the shape compliance/audit/replication
users put next to the live target. It overrides only what a version
table changes:

- intra-batch versions come from ``operators/history.py::scd2_history``
  (upserts open versions, the next change closes them, deletes close
  without emitting);
- cross-batch closure: the FIRST change per key in a batch closes the
  key's still-open version in the target table;
- replay idempotence: version rows upsert on PK ``(key…, valid_from)``,
  and the closing UPDATE is guarded with ``valid_from < first_change``
  so replaying a batch never closes its own freshly-opened versions —
  which also lets closes and version upserts run in any order.

The dead-letter split, the one streamed pass and transaction per batch,
DDL and chunked writes are the base engine's (see ``streaming/apply.py``).

Scale notes: the one shuffle is the per-key lead window — the same key
partitioning as the merge path, so a pipeline feeding both sinks from
one batch reuses the exchange. Versions stream through the driver
bounded; at executor-side scale the same SQL ladder runs per partition
(repartition by key keeps a key's versions + closure on one connection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_dbsync_spark.operators.history import scd2_history
from kafka_dbsync_spark.streaming.apply import CdcApplyEngine

_HISTORY_COLS = ("valid_from", "valid_to", "is_current")


class Scd2ApplyEngine(CdcApplyEngine):
    """Applies validated CDC micro-batches as SCD2 version history.

    Same constructor as ``CdcApplyEngine``; ``order_cols`` must name ONE
    column (the version timeline — e.g. the Kafka offset). The target
    table's PK is ``(pk_fields…, valid_from)``.
    """

    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        # "auto" (the CdcApplyEngine default) resolves to driver-side
        # here: the history write has no executor path yet, so only an
        # EXPLICIT distribute=True is a caller error
        if self.distribute is True:
            raise NotImplementedError(
                "Scd2ApplyEngine writes driver-side; repartition-by-key "
                "executor write is a straightforward extension"
            )
        self._order_col()  # a config error fails before any write
        super().apply_batch(batch_df, epoch_id)

    def _order_col(self) -> str:
        order_cols = self.order_cols or ["offset"]
        if len(order_cols) != 1:
            raise ValueError("history sink needs exactly one order column")
        return order_cols[0]

    def _apply_valid(self, valid: DataFrame) -> None:
        order = self._order_col()
        keyed = valid.select(
            self.table_col, *self.pk_fields, *self.value_cols,
            self.op_col, order,
        )
        versions = scd2_history(
            keyed, [self.table_col, *self.pk_fields], order, self.op_col
        ).select(
            self.table_col, *self.pk_fields, *self.value_cols,
            "valid_from", "valid_to",
            F.col("is_current").cast("int").alias("is_current"),
        )
        stored = T.StructType([f for f in versions.schema if f.name != self.table_col])
        # first change per (table, key) closes the open version in
        # the target — min is partial-aggregated map-side
        closes = valid.groupBy(self.table_col, *self.pk_fields).agg(
            F.min(order).alias("__close_at")
        )
        rows = closes.withColumn(self.op_col, F.lit("close")).unionByName(
            versions.withColumn(self.op_col, F.lit("version")),
            allowMissingColumns=True,
        )
        self._write(rows, self._history_statements, stored, [*self.pk_fields, "valid_from"])

    def _history_statements(self, table: str) -> dict:
        pk = self.pk_fields
        q, p = self.dialect.quote, self.dialect.placeholder
        where_pk = " AND ".join(f"{q(c)} = {p}" for c in pk)
        close_sql = (
            f"UPDATE {q(table)} SET {q('valid_to')} = {p}, "
            f"{q('is_current')} = 0 "
            f"WHERE {where_pk} AND {q('valid_to')} IS NULL "
            f"AND {q('valid_from')} < {p}"
        )
        cols = [*pk, *self.value_cols, *_HISTORY_COLS]
        upsert = self.dialect.upsert_sql(table, cols, [*pk, "valid_from"])
        return {
            # close open versions for keys changed in this batch
            "close": (close_sql, ["__close_at", *pk, "__close_at"]),
            # version rows (PK = key + valid_from → replay-safe)
            "version": (upsert, cols),
        }
