"""Frozen Kafka-source DataFrame contract (no broker in this container).

Freezes the exact record shape the spark-sql-kafka source produces with
``includeHeaders=true`` — binary key/value, headers as
array<struct<key:string,value:binary>> with DUPLICATE names allowed,
topic/partition/offset/timestamp/timestampType — as a parquet fixture,
then drives ``decode_iidr_records`` and the full transform chain over it.

Parity targets:
- HeaderExtractor.java:26-48 (sink util): ``headers.lastWithName(name)``
  + ``new String(bytes, UTF_8)``; null headers / null header value → null.
- IidrToJdbcSinkTransform.java:323 uses the same lastWithName rule.
The Spark twin is map_from_arrays under mapKeyDedupPolicy=LAST_WIN.
"""

from __future__ import annotations

import json
from datetime import datetime

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from kafka_dbsync_spark.operators.merge import apply_changes
from kafka_dbsync_spark.operators.transforms import (
    split_corrupt,
    validate_iidr,
    with_operation,
    with_target_table,
)
from kafka_dbsync_spark.sources.iidr import IIDR_HEADERS_TYPE, decode_iidr_records
from kafka_dbsync_spark.streaming.apply import CdcApplyEngine
from kafka_dbsync_spark.streaming.history_sink import Scd2ApplyEngine

# the exact source schema of spark-sql-kafka with includeHeaders=true
KAFKA_CONTRACT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
        T.StructField("headers", IIDR_HEADERS_TYPE),
    ]
)

TS = datetime(2025, 6, 1, 12, 0, 0)
TOPIC = "iidr.CDC.CONTRACT"


def rec(partition, offset, key, value, headers):
    """headers: list[(name, bytes|None)] — duplicates allowed, or None."""
    return (
        json.dumps(key).encode() if key is not None else None,
        json.dumps(value).encode() if value is not None else None,
        TOPIC,
        partition,
        offset,
        TS,
        0,  # TimestampType.CREATE_TIME
        headers,
    )


def h(name: str, value: str | None):
    return (name, value.encode("utf-8") if value is not None else None)


FIXTURE = [
    # multi-partition upsert flow for key 1..3 (PT,PT,PT,UP,DL shape)
    rec(0, 0, {"ID": 1}, {"ID": 1, "V": "one"},
        [h("TableName", "ORDERS"), h("A_ENTTYP", "PT"),
         h("A_TIMSTAMP", "2025-06-01 12:00:00.000000000000")]),
    rec(1, 0, {"ID": 2}, {"ID": 2, "V": "two"},
        [h("TableName", "ORDERS"), h("A_ENTTYP", "PT")]),
    rec(0, 1, {"ID": 3}, {"ID": 3, "V": "three"},
        [h("TableName", "ORDERS"), h("A_ENTTYP", "PT")]),
    # duplicate A_ENTTYP: first PT, last UP — lastWithName must win
    rec(1, 1, {"ID": 2}, {"ID": 2, "V": "two-v2"},
        [h("TableName", "ORDERS"), h("A_ENTTYP", "PT"), h("A_ENTTYP", "UP")]),
    # duplicate TableName with multi-byte UTF-8 in the winning (last) value
    rec(0, 2, {"ID": 3}, None,
        [h("TableName", "IGNORED"), h("TableName", "ÖRDERS_Ü"),
         h("A_ENTTYP", "DL")]),
    # corrupt ladder: headers missing entirely (null array)
    rec(1, 2, {"ID": 9}, {"ID": 9}, None),
    # null header VALUE (present name, null bytes) → extractor yields null
    rec(0, 3, {"ID": 9}, {"ID": 9},
        [h("TableName", None), h("A_ENTTYP", "PT")]),
    # unknown op code
    rec(1, 3, {"ID": 9}, {"ID": 9},
        [h("TableName", "ORDERS"), h("A_ENTTYP", "XX")]),
]


@pytest.fixture(scope="module")
def contract_df(spark, tmp_path_factory):
    # round-trip through parquet: the fixture IS the frozen contract
    path = str(tmp_path_factory.mktemp("kafka_contract") / "records.parquet")
    spark.createDataFrame(FIXTURE, KAFKA_CONTRACT_SCHEMA).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.schema == KAFKA_CONTRACT_SCHEMA
    return df


def test_last_with_name_and_utf8_byte_parity(contract_df):
    decoded = {
        (r["partition"], r["offset"]): r
        for r in decode_iidr_records(contract_df).collect()
    }
    # duplicate A_ENTTYP → last wins (PT then UP ⇒ UP)
    assert decoded[(1, 1)]["entry_type"] == "UP"
    # duplicate TableName → last wins, multi-byte UTF-8 decoded byte-exact
    assert decoded[(0, 2)]["table_name"] == "ÖRDERS_Ü"
    assert decoded[(0, 2)]["table_name"].encode("utf-8") == "ÖRDERS_Ü".encode("utf-8")
    # tombstone: null kafka value stays null through the binary→string cast
    assert decoded[(0, 2)]["record_value"] is None
    # null headers array → every extracted header is null
    assert decoded[(1, 2)]["table_name"] is None
    assert decoded[(1, 2)]["entry_type"] is None
    # header present with null value → null (HeaderExtractor value==null)
    assert decoded[(0, 3)]["table_name"] is None
    assert decoded[(0, 3)]["entry_type"] == "PT"
    # A_TIMSTAMP optional: present on (0,0) only
    assert decoded[(0, 0)]["a_timstamp"] == "2025-06-01 12:00:00.000000000000"
    assert decoded[(1, 0)]["a_timstamp"] is None
    # key bytes decode to the exact producer JSON
    assert decoded[(0, 0)]["record_key"] == json.dumps({"ID": 1})


def test_full_chain_over_contract_fixture(contract_df):
    """decode → route → op-map → validate → split → keyed merge, straight
    off the frozen Kafka shape (the reference's PT,PT,PT,UP,DL scenario
    plus its corrupt ladder)."""
    chained = validate_iidr(
        with_operation(with_target_table(decode_iidr_records(contract_df)))
    )
    valid, corrupt = split_corrupt(chained)

    reasons = {
        (r["partition"], r["offset"]): r["error_reason"] for r in corrupt.collect()
    }
    assert reasons == {
        (1, 2): "missing required header: TableName",
        (0, 3): "missing required header: TableName",
        (1, 3): "unknown entry type: XX",
    }

    row = F.from_json("record_value", "ID LONG, V STRING")
    changes = valid.select(
        F.from_json("record_key", "ID LONG")["ID"].alias("ID"),
        row["V"].alias("V"),
        "op",
        # global order: offsets are per-partition in Kafka; within a key
        # they are totally ordered because a key lives in one partition
        (F.col("offset") * 10 + F.col("partition")).alias("seq"),
    )
    state = {r["ID"]: r["V"] for r in apply_changes(changes, ["ID"], ["seq"]).collect()}
    assert state == {1: "one", 2: "two-v2"}  # 3 deleted, 2 updated by UP


def test_header_edge_cases_decode_and_batch_completes(spark, tmp_path):
    """Header values decode the way Java's ``new String(bytes, UTF_8)``
    does: a malformed byte becomes U+FFFD instead of failing the query (a
    failure would recur at the same offset on every restart), in headers
    and in record values alike. Pinned with it: duplicate names (last
    wins), a null header value, and null and empty header arrays. The
    batch then applies end to end, dead letters included."""
    import functools
    import sqlite3
    from contextlib import closing

    from kafka_dbsync_spark.streaming.apply import CdcApplyEngine
    from kafka_dbsync_spark.streaming.dialects import SqliteDialect

    records = [
        rec(0, 0, {"ID": 1}, {"ID": 1, "V": "one"},
            [("TableName", b"OR\xffDERS"), h("A_ENTTYP", "PT")]),
        rec(0, 1, {"ID": 2}, {"ID": 2, "V": "two"},
            [h("TableName", "ORDERS"), h("A_ENTTYP", "PT"), h("A_ENTTYP", "UP")]),
        rec(0, 2, {"ID": 3}, {"ID": 3}, [h("TableName", None), h("A_ENTTYP", "PT")]),
        rec(0, 3, {"ID": 4}, {"ID": 4}, None),
        rec(0, 4, {"ID": 5}, {"ID": 5}, []),
        # a dead letter whose value holds a malformed byte
        (b'{"ID": 6}', b'{"ID": 6, "V": "\xff"}', TOPIC, 0, 5, TS, 0,
         [h("TableName", "ORDERS"), h("A_ENTTYP", "XX")]),
    ]
    df = spark.createDataFrame(records, KAFKA_CONTRACT_SCHEMA)
    decoded = {r["offset"]: r for r in decode_iidr_records(df).collect()}
    assert decoded[0]["table_name"] == "OR\ufffdDERS"
    assert decoded[1]["entry_type"] == "UP"
    assert decoded[2]["headers_map"] == {"TableName": None, "A_ENTTYP": "PT"}
    assert decoded[2]["table_name"] is None and decoded[2]["entry_type"] == "PT"
    assert decoded[3]["headers_map"] is None
    assert decoded[4]["headers_map"] == {}
    for off in (3, 4):
        assert (decoded[off]["table_name"], decoded[off]["entry_type"]) == (None, None)

    db = str(tmp_path / "t.db")
    engine = CdcApplyEngine(
        connection_factory=functools.partial(sqlite3.connect, db),
        dialect=SqliteDialect(),
        pk_fields=["ID"],
        value_cols=["V"],
        order_cols=["offset"],
        errors_tolerance="all",
        corrupt_table="dlq",
        distribute=False,
    )
    row = F.from_json("record_value", "ID LONG, V STRING")
    chained = validate_iidr(with_operation(with_target_table(decode_iidr_records(df))))
    engine.apply_batch(chained.select(
        row["ID"].alias("ID"), row["V"].alias("V"), "target_table", "op", "offset",
        F.col("offset").alias("kafka_offset"), "topic", "record_key", "record_value",
        "table_name", "entry_type", "error_reason",
    ))
    with closing(sqlite3.connect(db)) as conn:
        assert conn.execute('SELECT ID, V FROM "OR\ufffdDERS"').fetchall() == [(1, "one")]
        assert conn.execute('SELECT ID, V FROM "ORDERS"').fetchall() == [(2, "two")]
        dead = conn.execute("SELECT kafka_offset, error_reason, record_value FROM dlq ORDER BY 1")
        assert dead.fetchall() == [
            (2, "missing required header: TableName", '{"ID": 3}'),
            (3, "missing required header: TableName", '{"ID": 4}'),
            (4, "missing required header: TableName", '{"ID": 5}'),
            (5, "unknown entry type: XX", '{"ID": 6, "V": "\ufffd"}'),
        ]


@pytest.mark.parametrize("engine_cls", [CdcApplyEngine, Scd2ApplyEngine], ids=["cdc", "scd2"])
def test_dead_letter_headers_stored_as_json(spark, tmp_path, engine_cls):
    """The decoded frame keeps the Kafka ``headers`` array, which the
    dead-letter table lists: a dead letter stores it as a JSON object of
    header name to value (CorruptEventWriter.java:128-158), each value
    valid UTF-8, instead of failing the batch on a nested value sqlite
    cannot bind. Both dead-letter paths: the one-query driver path (CDC)
    and the split of a cached batch (SCD2)."""
    import functools
    import sqlite3
    from contextlib import closing

    from kafka_dbsync_spark.streaming.dialects import SqliteDialect

    df = spark.createDataFrame([
        rec(0, 0, {"ID": 1}, {"ID": 1, "V": "one"}, [h("TableName", "ORDERS"), h("A_ENTTYP", "PT")]),
        rec(0, 1, {"ID": 2}, {"ID": 2, "V": "two"},
            [h("TableName", "ORDERS"), h("A_ENTTYP", "XX"), ("NOTE", b"b\xffd"), h("Q", 'a"b')]),
        rec(0, 2, {"ID": 3}, {"ID": 3}, None),
    ], KAFKA_CONTRACT_SCHEMA)
    row = F.from_json("record_value", "ID LONG, V STRING")
    chained = validate_iidr(with_operation(with_target_table(decode_iidr_records(df))))
    db = str(tmp_path / "t.db")
    engine_cls(
        connection_factory=functools.partial(sqlite3.connect, db),
        dialect=SqliteDialect(),
        pk_fields=["ID"],
        value_cols=["V"],
        order_cols=["offset"],
        errors_tolerance="all",
        corrupt_table="dlq",
        distribute=False,
    ).apply_batch(chained.withColumns({"ID": row["ID"], "V": row["V"]}))
    with closing(sqlite3.connect(db)) as conn:
        dead = conn.execute("SELECT entry_type, headers FROM dlq ORDER BY record_key").fetchall()
    assert dead == [
        ("XX", '{"TableName":"ORDERS","A_ENTTYP":"XX","NOTE":"b\ufffdd","Q":"a\\"b"}'),
        (None, None),
    ]


def test_dead_letter_records_kafka_shape(contract_df):
    """DLQ projection must produce the exact Kafka-sink contract: original
    bytes re-addressed to the DLQ topic, original headers preserved,
    __connect.errors.* context appended (DeadLetterQueueReporter shape)."""
    from kafka_dbsync_spark.streaming.sinks import dead_letter_records

    chained = validate_iidr(
        with_operation(with_target_table(decode_iidr_records(contract_df)))
    )
    _, corrupt = split_corrupt(chained)
    dlq = dead_letter_records(corrupt, "dlq.topic")

    assert [f.name for f in dlq.schema.fields] == ["key", "value", "topic", "headers"]
    assert isinstance(dlq.schema["key"].dataType, T.BinaryType)
    assert isinstance(dlq.schema["value"].dataType, T.BinaryType)

    rows = dlq.collect()
    assert len(rows) == 3 and all(r["topic"] == "dlq.topic" for r in rows)
    # 3 corrupt records share key {"ID": 9}; pick the unknown-code one
    unknown = next(
        r
        for r in rows
        if any(
            h["key"] == "__connect.errors.exception.message"
            and bytes(h["value"]) == b"unknown entry type: XX"
            for h in r["headers"]
        )
    )
    hdrs = [(h["key"], bytes(h["value"]) if h["value"] is not None else None)
            for h in unknown["headers"]]
    # original headers come first, byte-identical
    assert hdrs[:2] == [("TableName", b"ORDERS"), ("A_ENTTYP", b"XX")]
    # then the four context headers with the source coordinates
    assert dict(hdrs[2:]) == {
        "__connect.errors.topic": TOPIC.encode(),
        "__connect.errors.partition": b"1",
        "__connect.errors.offset": b"3",
        "__connect.errors.exception.message": b"unknown entry type: XX",
    }
    # original payload bytes unchanged
    assert bytes(unknown["value"]) == json.dumps({"ID": 9}).encode()
    # the record whose headers array was null carries ONLY the context
    # block (no originals to preserve)
    null_hdr = next(r for r in rows if len(r["headers"]) == 4)
    ctx = {h["key"]: bytes(h["value"]) for h in null_hdr["headers"]}
    assert ctx["__connect.errors.partition"] == b"1"
    assert ctx["__connect.errors.offset"] == b"2"
    assert ctx["__connect.errors.exception.message"] == b"missing required header: TableName"


# ---------------------------------------------------------------------------
# Compacted-topic shape: log compaction keeps only the last record per key
# (offset GAPS where older images were purged) plus tombstones that survive
# until retention removes them. The reader contract: offsets are sparse,
# tombstones are DL-headed or bare null values, and the final state equals
# replaying just the surviving records.
# ---------------------------------------------------------------------------
COMPACTED_FIXTURE = [
    # key 1: only the latest image survived compaction (offsets 0-6 purged)
    rec(0, 7, {"ID": 1}, {"ID": 1, "V": "one-final"},
        [h("TableName", "ORDERS"), h("A_ENTTYP", "UP")]),
    # key 2: upsert then a surviving tombstone at a later, gapped offset
    rec(0, 11, {"ID": 2}, {"ID": 2, "V": "two"},
        [h("TableName", "ORDERS"), h("A_ENTTYP", "PT")]),
    rec(0, 40, {"ID": 2}, None,
        [h("TableName", "ORDERS"), h("A_ENTTYP", "DL")]),
    # key 3: tombstone only — the pre-image was compacted away entirely;
    # the delete must be a no-op against a key the sink never saw
    rec(0, 55, {"ID": 3}, None,
        [h("TableName", "ORDERS"), h("A_ENTTYP", "DL")]),
    # key 4: the compaction SURVIVOR is an older op code (FI refresh)
    rec(1, 3, {"ID": 4}, {"ID": 4, "V": "four"},
        [h("TableName", "ORDERS"), h("A_ENTTYP", "FI")]),
]


@pytest.fixture(scope="module")
def compacted_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("kafka_compacted") / "records.parquet")
    spark.createDataFrame(COMPACTED_FIXTURE, KAFKA_CONTRACT_SCHEMA).write.parquet(path)
    return spark.read.parquet(path)


def test_compacted_topic_converges_from_survivors(compacted_df):
    """Replaying a compacted topic (sparse offsets, surviving tombstones,
    deletes of never-seen keys) must converge to the live-topic state."""
    chained = validate_iidr(
        with_operation(with_target_table(decode_iidr_records(compacted_df)))
    )
    valid, corrupt = split_corrupt(chained)
    assert corrupt.count() == 0

    row = F.from_json("record_value", "ID LONG, V STRING")
    changes = valid.select(
        F.from_json("record_key", "ID LONG")["ID"].alias("ID"),
        row["V"].alias("V"),
        "op",
        (F.col("offset") * 10 + F.col("partition")).alias("seq"),
    )
    state = {r["ID"]: r["V"] for r in apply_changes(changes, ["ID"], ["seq"]).collect()}
    # 2 tombstoned, 3's delete is a no-op (pre-image compacted away)
    assert state == {1: "one-final", 4: "four"}


def test_compacted_bare_tombstone_is_filtered_not_corrupt(spark):
    """A compaction-era tombstone can arrive with NO headers at all (the
    broker wrote it; the connector never saw it). filter_bare_tombstones
    must drop it BEFORE validation would dead-letter it — while a
    DL-headed tombstone (a real delete) passes through."""
    from kafka_dbsync_spark.operators.transforms import filter_bare_tombstones

    records = [
        rec(0, 1, {"ID": 5}, {"ID": 5, "V": "five"},
            [h("TableName", "ORDERS"), h("A_ENTTYP", "PT")]),
        rec(0, 90, {"ID": 6}, None, None),  # bare compaction tombstone
        rec(0, 95, {"ID": 5}, None,          # real delete, must survive
            [h("TableName", "ORDERS"), h("A_ENTTYP", "DL")]),
    ]
    df = spark.createDataFrame(records, KAFKA_CONTRACT_SCHEMA)
    decoded = decode_iidr_records(df)
    kept = filter_bare_tombstones(decoded)
    assert kept.count() == 2
    chained = validate_iidr(with_operation(with_target_table(kept)))
    valid, corrupt = split_corrupt(chained)
    assert corrupt.count() == 0
    assert {r["op"] for r in valid.select("op").collect()} == {"upsert", "delete"}


# ---------------------------------------------------------------------------
# Partition-rebalance shapes: (a) at-least-once redelivery — after a
# consumer-group rebalance a partition replays from the last committed
# offset, so a SUFFIX of records is delivered twice; (b) partition-count
# increase — a key starts hashing to a new partition, so its records span
# partitions and per-partition offsets alone no longer order them.
# ---------------------------------------------------------------------------
def _apply(df):
    chained = validate_iidr(
        with_operation(with_target_table(decode_iidr_records(df)))
    )
    valid, _ = split_corrupt(chained)
    row = F.from_json("record_value", "ID LONG, V STRING")
    return valid.select(
        F.from_json("record_key", "ID LONG")["ID"].alias("ID"),
        row["V"].alias("V"),
        "op",
        (F.col("offset") * 10 + F.col("partition")).alias("seq"),
    )


def test_rebalance_redelivery_is_idempotent(spark):
    """Batch 2 re-delivers the tail of batch 1 (offsets 2-3) after a
    rebalance: the union must converge to the same state as exactly-once
    delivery — the keyed LWW merge absorbs the duplicates."""
    first = [
        rec(0, 0, {"ID": 1}, {"ID": 1, "V": "a"},
            [h("TableName", "ORDERS"), h("A_ENTTYP", "PT")]),
        rec(0, 1, {"ID": 2}, {"ID": 2, "V": "b"},
            [h("TableName", "ORDERS"), h("A_ENTTYP", "PT")]),
        rec(0, 2, {"ID": 1}, {"ID": 1, "V": "a2"},
            [h("TableName", "ORDERS"), h("A_ENTTYP", "UP")]),
        rec(0, 3, {"ID": 2}, None,
            [h("TableName", "ORDERS"), h("A_ENTTYP", "DL")]),
    ]
    redelivered = first[2:] + [
        rec(0, 4, {"ID": 3}, {"ID": 3, "V": "c"},
            [h("TableName", "ORDERS"), h("A_ENTTYP", "PT")]),
    ]
    once = spark.createDataFrame(first + redelivered[2:], KAFKA_CONTRACT_SCHEMA)
    twice = spark.createDataFrame(first + redelivered, KAFKA_CONTRACT_SCHEMA)
    s_once = {r["ID"]: r["V"]
              for r in apply_changes(_apply(once), ["ID"], ["seq"]).collect()}
    s_twice = {r["ID"]: r["V"]
               for r in apply_changes(_apply(twice), ["ID"], ["seq"]).collect()}
    assert s_once == s_twice == {1: "a2", 3: "c"}


def test_partition_count_increase_key_spans_partitions(spark):
    """After a partition-count increase, key 7's records land in BOTH
    partition 0 (old hash) and partition 2 (new hash). Kafka's offsets are
    per-partition, so cross-partition order needs the producer-side
    sequence (here: A_TIMSTAMP-backed offsets encoded in seq); the merge
    must still pick the globally last write."""
    records = [
        rec(0, 100, {"ID": 7}, {"ID": 7, "V": "old-partition"},
            [h("TableName", "ORDERS"), h("A_ENTTYP", "PT")]),
        # new partition, lower raw offset but LATER in producer order
        rec(2, 0, {"ID": 7}, {"ID": 7, "V": "new-partition"},
            [h("TableName", "ORDERS"), h("A_ENTTYP", "UP")]),
    ]
    df = spark.createDataFrame(records, KAFKA_CONTRACT_SCHEMA)
    chained = validate_iidr(
        with_operation(with_target_table(decode_iidr_records(df)))
    )
    valid, _ = split_corrupt(chained)
    row = F.from_json("record_value", "ID LONG, V STRING")
    changes = valid.select(
        F.from_json("record_key", "ID LONG")["ID"].alias("ID"),
        row["V"].alias("V"),
        "op",
        # producer order: the rebalanced write is the later one; with raw
        # per-partition offsets alone the OLD partition would wrongly win
        F.when(F.col("partition") == 2, F.lit(1000) + F.col("offset"))
        .otherwise(F.col("offset"))
        .alias("seq"),
    )
    state = {r["ID"]: r["V"] for r in apply_changes(changes, ["ID"], ["seq"]).collect()}
    assert state == {7: "new-partition"}
    # counter-check: ordering by raw offset alone picks the stale image —
    # the contract test documents WHY cross-partition order needs a seq
    stale = {r["ID"]: r["V"]
             for r in apply_changes(
                 changes.withColumn("seq", F.col("seq") % 1000), ["ID"], ["seq"]
             ).collect()}
    assert stale == {7: "old-partition"}
