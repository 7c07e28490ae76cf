"""The keyed merge engine — replay-safe apply of an ordered change stream.

This is the reference's core semantic (SURVEY.md §0): every upsert applied
as an idempotent keyed UPSERT, every delete as a keyed DELETE, in change
order. The reference gets ordering for free (sequential JDBC batches in
Kafka partition order); a set-based engine must make it explicit:

- ``latest_by_key`` — last-write-wins per key (SURVEY.md §2.4 A3): keep
  the row with the greatest ordering columns within each key. This is
  the **only shuffle in the replication path** and it shuffles by the
  merge key, which is exactly the partitioning the downstream merge wants.
- ``apply_changes`` — pure-Spark MERGE: new_state = changes ∪ base,
  last-write-wins, drop keys whose final op is delete. Equivalent to
  ``MERGE INTO base USING dedup(changes) WHEN MATCHED [AND op='d'] ...``
  without requiring a Delta/Iceberg runtime.

Scale notes (100 TB): the dedup shuffle hash-partitions on the key —
skewed keys collapse map-side (partial aggregation) before they meet.
For a continuously-maintained table, pair this with a bucketed base
table on the same key so the union-merge reuses the partitioning
instead of re-shuffling the (large) base.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_dbsync_spark.functions.entrytype import OP_UPSERT

#: name of the synthetic ordering column used when merging base + changes
_SEQ = "__seq"


def quote_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier: backtick-quoted."""
    return "`" + name.replace("`", "``") + "`"


def latest_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Keep the last record per key, ordered by ``order_cols`` ascending
    (later = winner). Ties broken by the full order column list — callers
    must pass a total order (e.g. Kafka (partition, offset)).

    ``groupBy(keys).agg(max_by(row, order))``: max is associative, so
    Spark applies **map-side partial aggregation** before the shuffle:
    each task forwards one candidate per key instead of every record,
    which both shrinks the shuffle and makes hot keys a non-issue (a
    skewed key's records collapse to one row per upstream partition
    before they ever meet). This is the skew-safe form of the engine's
    one core shuffle. The row carries only the non-key columns (the keys
    are the group key already), and the aggregate is one SQL expression:
    building it costs the driver one JVM round trip, not one per column,
    which a streaming sink pays on every micro-batch.

    Order values must be non-null on change rows (struct comparison
    short-circuits on the first differing field).
    """
    keys = list(key_cols)
    row = ", ".join(quote_ident(c) for c in df.columns if c not in keys)
    order = ", ".join(map(quote_ident, order_cols))
    winner = df.groupBy(*keys).agg(
        F.expr(f"max_by(struct({row}), struct({order}))").alias("__row")
    )
    return winner.selectExpr(
        *[quote_ident(c) if c in keys else f"__row.{quote_ident(c)}" for c in df.columns]
    )


def apply_changes(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str = "op",
    base: DataFrame | None = None,
) -> DataFrame:
    """Apply an ordered keyed change stream; return the resulting table.

    ``changes`` rows carry ``op_col`` ∈ {upsert, delete} plus the row
    columns. ``base`` (optional) is the pre-existing table state (treated
    as upserts that sort before every change). Result = final row image
    per key where the final op is an upsert.
    """
    value_cols = [c for c in changes.columns if c != op_col]
    ch = changes.withColumn(_SEQ, F.lit(1))
    if base is not None:
        b = base.withColumn(op_col, F.lit(OP_UPSERT)).withColumn(_SEQ, F.lit(0))
        # base rows sort first on _SEQ; their order columns are irrelevant
        for c in order_cols:
            if c not in base.columns:
                b = b.withColumn(c, F.lit(None).cast(changes.schema[c].dataType))
        ch = b.select(*value_cols, op_col, _SEQ).unionByName(
            ch.select(*value_cols, op_col, _SEQ)
        )
    latest = latest_by_key(ch, key_cols, [_SEQ, *order_cols])
    return latest.filter(F.col(op_col) == OP_UPSERT).drop(op_col, _SEQ)
