"""Regression tests for the package-wide review findings: duplicate
headers, metacharacter table names, NULL-text dedup, empty blobs,
distributed-apply DDL, dead-letter completeness."""

from __future__ import annotations

import sqlite3

import pyspark.sql.functions as F

from kafka_dbsync_spark.operators.dedup import dedup_exact
from kafka_dbsync_spark.operators.multimodal import extract_media_meta
from kafka_dbsync_spark.operators.transforms import with_target_table
from kafka_dbsync_spark.sources.iidr import decode_iidr_records

from tests.conftest import kafka_record


def test_duplicate_headers_last_wins(spark, kafka_schema):
    """Kafka permits duplicate header names; the reference keeps the last
    (HeaderExtractor lastWithName) — must not kill the query."""
    rec = list(kafka_record(0, {"ID": 1}, {"ID": 1}, TableName="FIRST"))
    rec[2] = rec[2] + [("TableName", b"SECOND"), ("A_ENTTYP", b"PT")]
    df = spark.createDataFrame([tuple(rec)], kafka_schema)
    out = decode_iidr_records(df).head()
    assert out["table_name"] == "SECOND"
    assert out["entry_type"] == "PT"


def test_table_name_with_metacharacters(spark):
    """Oracle identifiers like ORDERS$1 or T\\AUDIT are legal — the
    routing template must treat them literally."""
    df = spark.createDataFrame(
        [("ORDERS$1",), ("T\\AUDIT",), (None,)], "table_name string"
    )
    out = with_target_table(df, "dst_${TableName}")
    got = [r["target_table"] for r in out.collect()]
    assert got == ["dst_ORDERS$1", "dst_T\\AUDIT", "dst_"]


def test_table_name_then_topic_substitution(spark):
    """`${TableName}` is substituted first and `${topic}` in the result, so
    a name that contains `${topic}` gets the topic; both substitute
    literally, and a null topic substitutes as the empty string."""
    df = spark.createDataFrame(
        [("X${topic}", "tp"), ("ORDERS$1", "a\\$2"), ("T", None)],
        "table_name string, topic string",
    )
    got = [r["target_table"] for r in with_target_table(df).collect()]
    assert got == ["Xtp", "ORDERS$1", "T"]
    got = [r["target_table"] for r in with_target_table(df, "${topic}.${TableName}").collect()]
    assert got == ["tp.Xtp", "a\\$2.ORDERS$1", ".T"]


def test_dedup_exact_null_text_not_collapsed(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None), (5, None)],
        "doc_id long, text string",
    )
    out = dedup_exact(df, "text", ["doc_id"])
    assert {r["doc_id"] for r in out.collect()} == {1, 3, 4, 5}


def test_empty_blob_magic(spark):
    df = spark.createDataFrame(
        [(1, b""), (2, None), (3, b"\x89PNG")], "doc_id long, blob binary"
    )
    out = {r["doc_id"]: r for r in extract_media_meta(df).collect()}
    assert out[1]["magic"] == "" and out[1]["byte_len"] == 0
    assert out[2]["magic"] is None and out[2]["content_md5"] is None
    assert out[3]["magic"] == "89504e47"


def test_distributed_apply_auto_creates(tmp_path, spark):
    """distribute=True must honor auto_create (DDL runs driver-side)."""
    from kafka_dbsync_spark.streaming.apply import CdcApplyEngine
    from kafka_dbsync_spark.streaming.dialects import SqliteDialect

    import functools

    db = str(tmp_path / "d.db")
    engine = CdcApplyEngine(
        # functools.partial pickles by reference to sqlite3.connect —
        # importable on executors regardless of test-module path
        connection_factory=functools.partial(sqlite3.connect, db, timeout=30),
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=["v"],
        table_col="tbl",
        order_cols=["off"],
        distribute=True,
    )
    df = spark.createDataFrame(
        [(1, "a", "t1", 0, "upsert"), (1, "b", "t1", 1, "upsert")],
        "id long, v string, tbl string, off long, op string",
    ).coalesce(1)
    engine.apply_batch(df)
    con = sqlite3.connect(db)
    assert con.execute('SELECT "id", "v" FROM "t1"').fetchall() == [(1, "b")]
    con.close()


def test_dead_letter_not_capped(tmp_path, spark):
    """Every corrupt record reaches the DLQ (chunked, never truncated)."""
    from kafka_dbsync_spark.streaming.apply import CdcApplyEngine
    from kafka_dbsync_spark.streaming.dialects import SqliteDialect

    db = str(tmp_path / "d.db")
    engine = CdcApplyEngine(
        connection_factory=lambda: sqlite3.connect(db),
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=["v"],
        table_col="tbl",
        order_cols=["off"],
        errors_tolerance="all",
        corrupt_table="dlq",
    )
    n = 25_000  # crosses two 10k chunks + remainder
    df = spark.range(n).select(
        F.col("id"),
        F.lit("x").alias("v"),
        F.lit("t1").alias("tbl"),
        F.col("id").alias("off"),
        F.lit("corrupt").alias("op"),
        F.lit("bad").alias("error_reason"),
        F.lit("T").alias("table_name"),
        F.lit("XX").alias("entry_type"),
        F.col("id").alias("kafka_offset"),
    )
    engine.apply_batch(df)
    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM dlq").fetchone()[0] == n
    con.close()
