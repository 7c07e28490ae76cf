"""Document-store (MongoDB-style) sink: whole-document replace by _id.

Mirrors the reference's MongoSinkConnector deployment
(hack/sink-mongodb/mongodb-sink.json):

- ``document.id.strategy`` = ProvidedInValue/ProvidedInKey — where the
  ``_id`` comes from (``id_strategy``: "value" | "key");
- ``writemodel.strategy`` = ReplaceOneDefaultStrategy — the whole
  document REPLACES the stored one (fields absent from the new document
  vanish — unlike the JDBC column-upsert, nothing merges);
- ``transforms.dropTombstones`` (RecordIsTombstone predicate) — null
  values are FILTERED, not applied as deletes (``tombstones``: "drop");
  set ``tombstones="delete"`` for the DeleteOne strategy instead.

No document database exists in this container, so the storage engine is
any DB-API target holding ``(_id TEXT PRIMARY KEY, doc TEXT)`` — the
collection's keyed replace/delete semantics are what is being
engineered and tested; a real MongoDB client plugs in at the row
writer (one bulk ReplaceOne/DeleteOne per chunk). Scale shape: one LWW
dedup shuffle on _id (same as the CDC engine), then one Arrow collect
written by a driver-side single writer in bounded chunks (the
connector's tasks.max=1 shape). There is no executor path, so a batch
must fit the driver-side limit (see ``streaming/apply.py``): its caller
bounds the batch.

This sink overrides only the ``_id`` extraction, the tombstone policy
and the fixed collection DDL; the one-pass, one-transaction
replace/delete writer is the CDC engine's (``streaming/apply.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_dbsync_spark.functions.entrytype import OP_DELETE, OP_UPSERT
from kafka_dbsync_spark.operators.merge import latest_by_key
from kafka_dbsync_spark.streaming.apply import (
    arrow_rows,
    change_statements,
    collect_batch,
    write_batch,
)
from kafka_dbsync_spark.streaming.dialects import SqliteDialect

# replace = PostgreSQL-style ON CONFLICT upsert on _id, delete by _id
_SQL = SqliteDialect()


class DocumentApplyEngine:
    """foreachBatch engine applying micro-batches as document replaces.

    Expects columns: ``record_key`` / ``record_value`` (JSON strings) and
    an order column; extracts ``_id`` per ``id_strategy`` and keeps the
    whole value JSON as the document."""

    def __init__(
        self,
        connection_factory: Callable[[], object],
        collection: str,
        id_strategy: str = "value",  # 'value' | 'key' (ProvidedInValueStrategy)
        id_field: str = "_id",
        tombstones: str = "drop",  # 'drop' (reference config) | 'delete'
        order_col: str = "offset",
    ) -> None:
        if id_strategy not in ("value", "key"):
            raise ValueError(f"unsupported id strategy: {id_strategy}")
        if tombstones not in ("drop", "delete"):
            raise ValueError(f"unsupported tombstone mode: {tombstones}")
        if tombstones == "delete" and id_strategy == "value":
            # a tombstone's record_value is NULL, so a value-sourced _id
            # can never address the document to delete — every delete
            # would silently drop at the id filter (the reference's
            # DeleteOne strategy likewise requires ProvidedInKey)
            raise ValueError(
                "tombstones='delete' requires id_strategy='key' "
                "(a tombstone has no value to extract the _id from)"
            )
        self.connection_factory = connection_factory
        self.collection = collection
        self.id_strategy = id_strategy
        self.id_field = id_field
        self.tombstones = tombstones
        self.order_col = order_col

    def foreach_batch(self):
        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply_batch(batch_df, epoch_id)

        return fn

    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        src = F.col(
            "record_value" if self.id_strategy == "value" else "record_key"
        )
        with_id = batch_df.withColumn(
            "__id", F.get_json_object(src, f"$.{self.id_field}")
        )
        if self.tombstones == "drop":
            # RecordIsTombstone + Filter: tombstones never reach the store
            with_id = with_id.filter(F.col("record_value").isNotNull())
        # id-less documents cannot address a collection slot — the
        # connector would raise per record; we drop them (counting would
        # cost a second scan of the batch)
        with_id = with_id.filter(F.col("__id").isNotNull())
        deduped = latest_by_key(with_id, ["__id"], [self.order_col])
        rows = deduped.select(
            F.lit(self.collection).alias("__table"),
            F.col("__id").alias("_id"),
            F.col("record_value").alias("doc"),
            # a null value is reachable only in delete mode
            F.when(F.col("record_value").isNull(), OP_DELETE)
            .otherwise(OP_UPSERT)
            .alias("__op"),
        )
        write_batch(
            self.connection_factory, arrow_rows(collect_batch(rows)),
            rows.columns, change_statements(_SQL, ["_id"], ["doc"]), "__table", "__op",
            # idempotent DDL in the batch's transaction: a retry after a
            # rollback that undid the CREATE issues it again
            ensure=lambda conn, c: conn.cursor().execute(
                f'CREATE TABLE IF NOT EXISTS "{c}" ("_id" TEXT PRIMARY KEY, "doc" TEXT)'
            ),
        )
