"""IIDR change-event decoding (Kafka records with routing headers).

The reference's centerpiece input format (its sink README documents it;
events produced by hack/scripts/iidr-test-producer.py:53-113):

- key     = JSON of the PK columns (required for deletes)
- value   = JSON full row image, or null ⇒ delete tombstone
- headers = TableName (routing), A_ENTTYP (op code), A_TIMSTAMP
            (zone-less ``yyyy-MM-dd HH:mm:ss.SSSSSSSSSSSS``)

A Kafka streaming DataFrame (``includeHeaders=true``) carries headers as
``array<struct<key:string, value:binary>>``; ``decode_iidr_records`` turns
that into typed columns with pure built-in expressions (no UDF, no
shuffle — everything here is narrow, mirroring the reference's SMT chain
which is record-local, see SURVEY.md §3.3).

For batch-mode correctness tests (no Kafka broker available),
``events_as_iidr_stream`` adapts the driver's `events` parquet table into
the same kafka-record shape so every downstream transform is exercised
identically in batch and streaming.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Kafka header array type as produced by the Spark Kafka source with
# includeHeaders=true.
IIDR_HEADERS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField("value", T.BinaryType(), True),
        ]
    )
)

#: headers required by the reference sink (HeaderExtractor.java:19-21 — the
#: third header A_TIMSTAMP is optional).
REQUIRED_HEADERS = ("TableName", "A_ENTTYP")


def headers_map() -> Column:
    """The Kafka ``headers`` column, ``array<struct<key, value:binary>>``,
    as a ``map<string, string>``.

    ``map_from_arrays`` over the header names and the values cast to
    ``array<string>``: no lambda, so it runs inside whole-stage codegen.
    Duplicate names keep the last value (Kafka's ``lastWithName``) under
    ``spark.sql.mapKeyDedupPolicy=LAST_WIN``, set by session.get_spark —
    the default EXCEPTION policy would kill the query instead. A null
    header array gives a null map, an empty one an empty map. The cast
    keeps a value's bytes as they are; ``utf8`` makes one valid."""
    return F.map_from_arrays(
        F.col("headers.key"), F.col("headers.value").cast("array<string>")
    )


def utf8(c: Column) -> Column:
    """Bytes → a valid UTF-8 string, each malformed sequence replaced by
    U+FFFD, as Java's ``new String(bytes, UTF_8)`` decodes
    (HeaderExtractor.java:43-45). A bare cast keeps malformed bytes, which
    fail later where Python reads the string (an Arrow collect)."""
    return F.make_valid_utf8(c.cast("string"))


def decode_iidr_records(kafka_df: DataFrame) -> DataFrame:
    """Kafka-shaped DataFrame → typed IIDR columns.

    Input columns (Kafka source contract): key binary, value binary,
    headers array<struct<key,value:binary>>, topic, partition, offset,
    timestamp.

    Output adds, in one projection: record_key/record_value (UTF-8
    strings), headers_map (map<string,string>, see ``headers_map``),
    table_name, entry_type, a_timstamp. Every string column but the map's
    values is valid UTF-8 (see ``utf8``): a malformed byte never fails the
    query, so it cannot stop a stream at its offset.

    Parity: header extraction + UTF-8 decode = HeaderExtractor.java:26-48.
    """
    hmap = headers_map()
    return kafka_df.withColumns(
        {
            "record_key": utf8(F.col("key")),
            "record_value": utf8(F.col("value")),
            "headers_map": hmap,
            "table_name": utf8(hmap["TableName"]),
            "entry_type": utf8(hmap["A_ENTTYP"]),
            "a_timstamp": utf8(hmap["A_TIMSTAMP"]),
        }
    )


def events_as_iidr_stream(events_df: DataFrame) -> DataFrame:
    """Adapt the driver `events` table into the kafka-record IIDR shape.

    Deterministic mapping (used by both the Spark queries and the DuckDB
    oracles, so the rules live in one place — keep in sync with
    tools/oracle_fragments.py):

    - kafka key      = JSON ``{"user_id": <id>}`` (the merge PK)
    - kafka value    = JSON row image (null for delete events)
    - TableName      = ``USER_STATE``
    - A_ENTTYP       = signup→PT, click→UP, view→RR, purchase→FP,
                       error→DL, except every 10th error event (event_id %
                       10 == 0) gets the unknown code XX (corrupt-branch
                       fixture, mirroring the reference's commented-out
                       corrupt event in iidr-test-producer.py:103-112)
    - offset         = event_id (Kafka partition order stand-in)
    """
    enttyp = (
        F.when(F.col("event_type") == "signup", F.lit("PT"))
        .when(F.col("event_type") == "click", F.lit("UP"))
        .when(F.col("event_type") == "view", F.lit("RR"))
        .when(F.col("event_type") == "purchase", F.lit("FP"))
        .when(
            (F.col("event_type") == "error") & (F.col("event_id") % 10 == 0),
            F.lit("XX"),
        )
        .otherwise(F.lit("DL"))
    )
    is_delete = F.col("event_type") == "error"
    row_json = F.to_json(
        F.struct(
            F.col("user_id").alias("user_id"),
            F.col("event_type").alias("event_type"),
            F.col("value").alias("value"),
            F.col("props").alias("props"),
        )
    )
    return (
        events_df.withColumn("record_key", F.to_json(F.struct(F.col("user_id"))))
        .withColumn("record_value", F.when(~is_delete, row_json))
        .withColumn("table_name", F.lit("USER_STATE"))
        .withColumn("entry_type", enttyp)
        .withColumn(
            "a_timstamp",
            F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS'000000'"),
        )
        .withColumn("topic", F.lit("iidr.CDC.USER_STATE"))
        .withColumn("kafka_partition", (F.col("user_id") % 4).cast("int"))
        .withColumn("offset", F.col("event_id"))
    )
