"""End-to-end streaming tests: file-source change stream → transform chain
→ foreachBatch merge into SQLite, with checkpoint recovery and
corrupt-event dead-lettering.

This is the Spark shape of the reference's E2E tests (Makefile.iidr:
354-372): apply the canonical producer sequence, then verify final table
state in the target DB — plus the restart/no-dupes property the reference
gets from Connect offset commits and we get from checkpoints + idempotent
merge.
"""

from __future__ import annotations

import json
import os
import sqlite3
import uuid

import pyspark.sql.functions as F
import pytest

from kafka_dbsync_spark.plans.pipeline import CdcPipeline
from kafka_dbsync_spark.sources.iidr import decode_iidr_records

from tests.conftest import kafka_record

ROW_JSON = "ID LONG, ORDER_NAME STRING, STATUS STRING"


def extract(df):
    """decode + project: kafka shape → merge-ready columns."""
    decoded = decode_iidr_records(df)
    row = F.from_json("record_value", ROW_JSON)
    return decoded.select(
        F.coalesce(row["ID"], F.from_json("record_key", "ID LONG")["ID"]).alias("ID"),
        row["ORDER_NAME"].alias("ORDER_NAME"),
        row["STATUS"].alias("STATUS"),
        "table_name",
        "entry_type",
        "topic",
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
        "offset",
        "record_key",
        "record_value",
    )


PIPELINE_CONFIG = {
    "transforms": [
        {"op": "route", "table_format": "${TableName}", "case": "lower"},
        {"op": "map_operation"},
        {"op": "validate"},
    ],
    "sink": {
        "dialect": "sqlite",
        "pk_fields": ["ID"],
        "value_cols": ["ORDER_NAME", "STATUS"],
        "order_cols": ["offset"],
        "errors_tolerance": "log",
        "corrupt_table": "corrupt_events",
    },
}


def write_batch(spark, kafka_schema, path, events):
    spark.createDataFrame(events, kafka_schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def table_state(db, table):
    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            f'SELECT "ID", "ORDER_NAME", "STATUS" FROM "{table}" ORDER BY "ID"'
        ).fetchall()
    finally:
        con.close()
    return rows


@pytest.fixture()
def rig(tmp_path, spark, kafka_schema):
    src = str(tmp_path / "events")
    db = str(tmp_path / "target.db")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = spark.readStream.schema(kafka_schema).parquet(src)
        pipeline = CdcPipeline(
            PIPELINE_CONFIG, connection_factory=lambda: sqlite3.connect(db)
        )
        return pipeline.start(extract(stream), ckpt)

    return src, db, start


def canonical(offset0=0):
    return [
        kafka_record(offset0 + 0, {"ID": 1}, {"ID": 1, "ORDER_NAME": "A", "STATUS": "NEW"},
                     TableName="TEST_ORDERS", A_ENTTYP="PT"),
        kafka_record(offset0 + 1, {"ID": 2}, {"ID": 2, "ORDER_NAME": "B", "STATUS": "NEW"},
                     TableName="TEST_ORDERS", A_ENTTYP="PT"),
        kafka_record(offset0 + 2, {"ID": 3}, {"ID": 3, "ORDER_NAME": "C", "STATUS": "NEW"},
                     TableName="TEST_ORDERS", A_ENTTYP="PT"),
        kafka_record(offset0 + 3, {"ID": 2}, {"ID": 2, "ORDER_NAME": "B2", "STATUS": "SHIPPED"},
                     TableName="TEST_ORDERS", A_ENTTYP="UP"),
        kafka_record(offset0 + 4, {"ID": 3}, None, TableName="TEST_ORDERS", A_ENTTYP="DL"),
    ]


def test_stream_apply_and_recovery(spark, kafka_schema, rig):
    src, db, start = rig

    # batch 1: canonical sequence → expect {1: A/NEW, 2: B2/SHIPPED}
    write_batch(spark, kafka_schema, src, canonical())
    q = start()
    q.processAllAvailable()
    assert table_state(db, "test_orders") == [
        (1, "A", "NEW"),
        (2, "B2", "SHIPPED"),
    ]

    # batch 2 arrives while running: update 1, delete 2, one corrupt record
    write_batch(spark, kafka_schema, src, [
        kafka_record(5, {"ID": 1}, {"ID": 1, "ORDER_NAME": "A2", "STATUS": "PAID"},
                     TableName="TEST_ORDERS", A_ENTTYP="UP"),
        kafka_record(6, {"ID": 2}, None, TableName="TEST_ORDERS", A_ENTTYP="DR"),
        kafka_record(7, {"ID": 9}, {"ID": 9}, TableName="TEST_ORDERS", A_ENTTYP="XX"),
    ])
    q.processAllAvailable()
    q.stop()
    assert table_state(db, "test_orders") == [(1, "A2", "PAID")]

    # corrupt record dead-lettered with reason
    con = sqlite3.connect(db)
    dlq = con.execute(
        'SELECT "entry_type", "error_reason" FROM "corrupt_events"'
    ).fetchall()
    con.close()
    assert dlq == [("XX", "unknown entry type: XX")]

    # restart from the same checkpoint: nothing re-applied, no dupes
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert table_state(db, "test_orders") == [(1, "A2", "PAID")]
    con = sqlite3.connect(db)
    n_dlq = con.execute('SELECT count(*) FROM "corrupt_events"').fetchone()[0]
    con.close()
    assert n_dlq == 1


def _temp_files(ckpt):
    return sorted(
        os.path.relpath(os.path.join(d, f), ckpt)
        for d, _, files in os.walk(ckpt) for f in files if ".tmp" in f
    )


def test_replay_after_crash_before_commit_log(spark, kafka_schema, rig):
    """A crash after the sink's transaction commits but before the commit
    log's ``commits/N`` lands (the checkpoint manager writes a temp file
    and renames it, so the file is whole or absent): the restart applies
    batch N again. The data tables end as they were, because the keyed
    upsert and delete are idempotent. The dead-letter table is an append,
    so it is at-least-once: batch N's dead letters are written twice.
    An orphan temp file from an interrupted write is ignored."""
    src, db, start = rig
    ckpt = os.path.join(os.path.dirname(src), "ckpt")
    write_batch(spark, kafka_schema, src, canonical())
    q = start()
    q.processAllAvailable()
    write_batch(spark, kafka_schema, src, [
        kafka_record(5, {"ID": 1}, {"ID": 1, "ORDER_NAME": "A2", "STATUS": "PAID"},
                     TableName="TEST_ORDERS", A_ENTTYP="UP"),
        kafka_record(6, {"ID": 2}, None, TableName="TEST_ORDERS", A_ENTTYP="DR"),
        kafka_record(7, {"ID": 9}, {"ID": 9}, TableName="TEST_ORDERS", A_ENTTYP="XX"),
    ])
    q.processAllAvailable()
    q.stop()
    assert _temp_files(ckpt) == []  # a clean run leaves no temp file
    assert table_state(db, "test_orders") == [(1, "A2", "PAID")]

    # the crash window: batch 1 applied, its commit log entry never written
    commits = os.path.join(ckpt, "commits")
    os.remove(os.path.join(commits, "1"))
    os.remove(os.path.join(commits, ".1.crc"))
    orphan = os.path.join("offsets", f".1.{uuid.uuid4()}.tmp")
    with open(os.path.join(ckpt, orphan), "w") as f:
        f.write("v1\n{")  # a torn write

    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    replayed = [p["batchId"] for p in q2.recentProgress if p["numInputRows"]]
    assert replayed == [1]
    assert os.path.exists(os.path.join(commits, "1"))
    assert table_state(db, "test_orders") == [(1, "A2", "PAID")]
    con = sqlite3.connect(db)
    try:
        assert con.execute('SELECT count(*) FROM "test_orders"').fetchone()[0] == 1
        dlq = con.execute('SELECT "entry_type" FROM "corrupt_events"').fetchall()
    finally:
        con.close()
    assert dlq == [("XX",), ("XX",)]
    assert _temp_files(ckpt) == [orphan]

def test_stream_multi_table_fanout(tmp_path, spark, kafka_schema):
    """One stream routed into two tables (K14 single-query variant)."""
    src = str(tmp_path / "events")
    db = str(tmp_path / "target.db")
    ckpt = str(tmp_path / "ckpt")
    events = [
        kafka_record(0, {"ID": 1}, {"ID": 1, "ORDER_NAME": "x", "STATUS": "S"},
                     TableName="ORDERS_A", A_ENTTYP="PT"),
        kafka_record(1, {"ID": 1}, {"ID": 1, "ORDER_NAME": "y", "STATUS": "T"},
                     TableName="ORDERS_B", A_ENTTYP="PT"),
    ]
    write_batch(spark, kafka_schema, src, events)
    stream = spark.readStream.schema(kafka_schema).parquet(src)
    pipeline = CdcPipeline(
        PIPELINE_CONFIG, connection_factory=lambda: sqlite3.connect(db)
    )
    q = pipeline.start(extract(stream), ckpt)
    q.processAllAvailable()
    q.stop()
    assert table_state(db, "orders_a") == [(1, "x", "S")]
    assert table_state(db, "orders_b") == [(1, "y", "T")]


def test_errors_tolerance_none_fails_batch(tmp_path, spark, kafka_schema):
    db = str(tmp_path / "t.db")
    cfg = {**PIPELINE_CONFIG, "sink": {**PIPELINE_CONFIG["sink"],
                                       "errors_tolerance": "none",
                                       "corrupt_table": None}}
    pipeline = CdcPipeline(cfg, connection_factory=lambda: sqlite3.connect(db))
    bad = spark.createDataFrame(
        [kafka_record(0, {"ID": 9}, {"ID": 9}, TableName="T", A_ENTTYP="XX")],
        kafka_schema,
    )
    with pytest.raises(ValueError, match="corrupt"):
        pipeline.run_batch(extract(bad))


def test_batch_backfill_then_stream_shares_chain(tmp_path, spark, kafka_schema):
    """S6: snapshot seeding via run_batch uses the same transform chain."""
    db = str(tmp_path / "t.db")
    pipeline = CdcPipeline(
        PIPELINE_CONFIG, connection_factory=lambda: sqlite3.connect(db)
    )
    snapshot = spark.createDataFrame(canonical(), kafka_schema)
    pipeline.run_batch(extract(snapshot))
    assert table_state(db, "test_orders") == [(1, "A", "NEW"), (2, "B2", "SHIPPED")]
