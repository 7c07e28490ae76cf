"""Composable DataFrame→DataFrame transforms — the reference's SMT chain.

Each function mirrors one operator from SURVEY.md §2.3 (T1–T14) but is
expressed as narrow, codegen-friendly column logic: the whole chain is
shuffle-free, exactly like the reference's record-local SMTs (its chain
runs in the sink task thread; ours runs inside one WholeStageCodegen span).

Transforms compose with ``df.transform(...)`` or via
plans.pipeline.build_chain (the analog of `transforms=a,b` connector
lists).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_dbsync_spark.functions.entrytype import OP_CORRUPT, OP_DELETE, OP_UPSERT, map_entry_type
from kafka_dbsync_spark.functions.timestamps import (
    coerce_date,
    coerce_time,
    coerce_timestamp,
)


# ---------------------------------------------------------------------------
# T1/T2 — Debezium envelope unwrap (ExtractNewRecordState equivalents)
# ---------------------------------------------------------------------------
def unwrap_envelope(
    df: DataFrame,
    envelope_col: str = "envelope",
    mode: str = "drop",  # 'drop' | 'rewrite' | 'tombstone'
    add_fields: Sequence[str] = (),
) -> DataFrame:
    """Project the row image out of a typed Debezium envelope column.

    Modes (matching the reference's connector configs, e.g. the source
    configs' delete.handling.mode / drop.tombstones options):

    - ``drop``: deletes removed entirely.
    - ``rewrite``: deletes kept as rows (from ``before``) with
      ``__deleted=true``.
    - ``tombstone``: deletes kept with null row image + ``op='d'`` so a
      downstream keyed sink can apply them (delete-to-tombstone).

    ``add_fields`` projects envelope metadata (op, table, lsn, ts_ms) as
    ``__<field>`` columns, like the unwrap SMT's add.fields.
    """
    env = F.col(envelope_col)
    op = env["op"]
    is_delete = op == "d"
    image = F.when(is_delete, env["before"]).otherwise(env["after"])

    meta: list[Column] = []
    for f in add_fields:
        src = {"op": op, "table": env["source"]["table"], "lsn": env["source"]["lsn"], "ts_ms": env["ts_ms"]}[f]
        meta.append(src.alias(f"__{f}"))

    if mode == "drop":
        out = df.filter(~is_delete).select(env["after"].alias("row"), *meta)
    elif mode == "rewrite":
        out = df.select(image.alias("row"), is_delete.alias("__deleted"), *meta)
        return out.select("row.*", "__deleted", *[f"__{f}" for f in add_fields])
    elif mode == "tombstone":
        out = df.select(
            F.when(is_delete, F.lit(None).cast(df.schema[envelope_col].dataType["after"].dataType)).otherwise(env["after"]).alias("row"),
            op.alias("__op"),
            *meta,
        )
        return out
    else:
        raise ValueError(f"unknown unwrap mode: {mode}")
    return out.select("row.*", *[f"__{f}" for f in add_fields])


# ---------------------------------------------------------------------------
# T3/T7 — header-based routing + identifier case conversion
# ---------------------------------------------------------------------------
def with_target_table(
    df: DataFrame,
    table_format: str = "${TableName}",
    table_col: str = "table_name",
    topic_col: str = "topic",
    case: str = "none",  # 'none' | 'lower' | 'upper'
) -> DataFrame:
    """Resolve the target table from the routing template.

    Supports the reference's `${TableName}` / `${topic}` templates
    (IidrCdcSinkTask.java:222-227) and table.name.case conversion
    (IidrToJdbcSinkTransform.java:55-58). Substitution is literal — Oracle
    identifiers like ORDERS$1 are legal table names — and sequential:
    `${TableName}` first, then `${topic}` in the result, so a name that
    contains `${topic}` gets the topic too. A null name or topic
    substitutes as the empty string.
    """
    def substitute(expr: Column, placeholder: str, c: str) -> Column:
        # literals built with F.lit: SQL text would run variable
        # substitution, which turns '${TableName}' into ''
        return F.replace(expr, F.lit(placeholder), F.coalesce(F.col(c), F.lit("")))

    expr = substitute(F.lit(table_format), "${TableName}", table_col)
    if topic_col in df.columns:
        expr = substitute(expr, "${topic}", topic_col)
    if case == "lower":
        expr = F.lower(expr)
    elif case == "upper":
        expr = F.upper(expr)
    return df.withColumn("target_table", expr)


def case_convert(df: DataFrame, case: str = "lower") -> DataFrame:
    """field.name.case — rename every column (PostgreSQL lowercases
    unquoted identifiers; IidrToJdbcSinkTransform.java:212-220)."""
    if case == "none":
        return df
    fn = str.lower if case == "lower" else str.upper
    return df.toDF(*[fn(c) for c in df.columns])


# ---------------------------------------------------------------------------
# T6 — table-name filter (record-level predicate pushdown)
# ---------------------------------------------------------------------------
def filter_table(df: DataFrame, table: str, table_col: str = "table_name") -> DataFrame:
    """Keep only records routed to ``table`` (case-insensitive, matching
    IidrToJdbcSinkTransform.java:155-159). Catalyst pushes this ahead of
    any downstream shuffle automatically."""
    return df.filter(F.upper(F.col(table_col)) == table.upper())


# ---------------------------------------------------------------------------
# T4/T5/T11 — op mapping + validation → error_reason column
# ---------------------------------------------------------------------------
def with_operation(df: DataFrame, entry_type_col: str = "entry_type") -> DataFrame:
    return df.withColumn("op", map_entry_type(entry_type_col))


def validate_iidr(
    df: DataFrame,
    key_col: str = "record_key",
    value_col: str = "record_value",
    table_col: str = "table_name",
    entry_type_col: str = "entry_type",
) -> DataFrame:
    """Produce ``error_reason`` (NULL = valid), mirroring the reference's
    validation ladder (IidrCdcSinkTask.java:169-195):

    1. missing required headers (TableName / A_ENTTYP)
    2. unknown entry-type code
    3. DELETE without a key; UPSERT without a value
    """
    op = F.col("op") if "op" in df.columns else map_entry_type(entry_type_col)
    reason = (
        F.when(F.col(table_col).isNull(), F.lit("missing required header: TableName"))
        .when(F.col(entry_type_col).isNull(), F.lit("missing required header: A_ENTTYP"))
        .when(op == OP_CORRUPT, F.concat(F.lit("unknown entry type: "), F.col(entry_type_col)))
        .when((op == OP_DELETE) & F.col(key_col).isNull(), F.lit("delete record requires a key"))
        .when((op == OP_UPSERT) & F.col(value_col).isNull(), F.lit("upsert record requires a value"))
    )
    return df.withColumn("error_reason", reason)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, corrupt) branches off the validated stream. Both branches
    share the parent plan; Spark evaluates the scan once per action."""
    return df.filter(F.col("error_reason").isNull()), df.filter(
        F.col("error_reason").isNotNull()
    )


# ---------------------------------------------------------------------------
# T9 — field.type.overrides coercion
# ---------------------------------------------------------------------------
_COERCERS = {
    "timestamp": coerce_timestamp,
    "date": coerce_date,
    "time": coerce_time,
}

_DECIMAL_RE = r"decimal\((\d+),\s*(\d+)\)"


def coerce_fields(df: DataFrame, overrides: dict[str, str]) -> DataFrame:
    """Apply ``{"col": "timestamp|date|time|decimal(p,s)"}`` overrides
    with the reference's multi-pattern parse
    (IidrToJdbcSinkTransform.java:258-294). ``decimal(p,s)`` covers the
    source-side ``decimal.handling.mode=string`` wire format (numerics
    shipped as strings, hack/source-debezium/oracle-datatype-test.json).
    Unparseable non-null values are surfaced per-column as
    ``<col>__parse_error`` so callers can route them to the corrupt branch
    (the reference throws DataException → DLQ)."""
    import re

    out = df
    for col_name, kind in overrides.items():
        m = re.fullmatch(_DECIMAL_RE, kind)
        if m:
            p, s = int(m.group(1)), int(m.group(2))
            parsed = F.expr(f"try_cast(`{col_name}` AS DECIMAL({p},{s}))")
        elif kind in _COERCERS:
            parsed = _COERCERS[kind](col_name)
        else:
            raise ValueError(f"unsupported override type: {kind}")
        out = out.withColumn(
            f"{col_name}__parse_error",
            F.col(col_name).isNotNull() & parsed.isNull(),
        ).withColumn(col_name, parsed)
    return out


# ---------------------------------------------------------------------------
# T8 — schema inference from runtime values (schemaless mode)
# ---------------------------------------------------------------------------
_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1


def _infer_one(v) -> T.DataType | None:
    # mirrors IidrToJdbcSinkTransform.java:299-320 (Jackson gives Integer
    # for 32-bit ints, Long beyond, Double for any float, Boolean, String;
    # anything else falls back to String)
    if v is None:
        return None
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.IntegerType() if _INT32_MIN <= v <= _INT32_MAX else T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    return T.StringType()


_WIDEN = {
    (T.IntegerType(), T.LongType()): T.LongType(),
    (T.IntegerType(), T.DoubleType()): T.DoubleType(),
    (T.LongType(), T.DoubleType()): T.DoubleType(),
}


def _merge_types(a: T.DataType | None, b: T.DataType | None) -> T.DataType | None:
    if a is None:
        return b
    if b is None or a == b:
        return a
    return _WIDEN.get((a, b)) or _WIDEN.get((b, a)) or T.StringType()


def infer_row_schema(
    df: DataFrame, value_col: str = "record_value", sample_size: int = 1000
) -> T.StructType:
    """Infer a row schema from a bounded sample of JSON row images.

    The reference infers per record at apply time
    (IidrToJdbcSinkTransform.java:226-238,299-320); a vectorized engine
    infers once from a sample and pins the schema for the whole stream —
    same value-class rules (String/Int32/Int64/Float64/Boolean, every
    field optional, fallback String), conflicting observations widened
    (int→long→double, anything vs string → string).
    """
    import json

    fields: dict[str, T.DataType | None] = {}
    for row in df.select(value_col).filter(F.col(value_col).isNotNull()).limit(
        sample_size
    ).collect():
        try:
            obj = json.loads(row[0])
        except (TypeError, ValueError):
            continue
        if not isinstance(obj, dict):
            continue
        for k, v in obj.items():
            fields[k] = _merge_types(fields.get(k), _infer_one(v))
    return T.StructType(
        [
            T.StructField(name, dt if dt is not None else T.StringType(), True)
            for name, dt in fields.items()
        ]
    )


# ---------------------------------------------------------------------------
# T8b — permissive row-image decoding (schemaless mode)
# ---------------------------------------------------------------------------
def decode_row_image(
    df: DataFrame,
    value_col: str = "record_value",
    schema: T.StructType | None = None,
    out_col: str = "row_image",
) -> DataFrame:
    """Decode the JSON row image. With an explicit schema this is the
    fixed-schema mode; without one it falls back to map<string,string>
    (the reference's inferSchema treats every field as optional and
    coerces by value — IidrToJdbcSinkTransform.java:299-320; declared
    schemas are the scale-safe path and preferred)."""
    v = F.col(value_col)
    decoded = (
        F.from_json(v, schema)
        if schema is not None
        else F.from_json(v, T.MapType(T.StringType(), T.StringType()))
    )
    return df.withColumn(out_col, decoded)


# ---------------------------------------------------------------------------
# T13b — compacted-topic bare tombstones
# ---------------------------------------------------------------------------
def filter_bare_tombstones(
    df: DataFrame,
    value_col: str = "record_value",
    entry_type_col: str = "entry_type",
) -> DataFrame:
    """Drop BROKER-era compaction tombstones: null value AND no op header
    (the broker wrote them during log compaction; the connector never
    attached IIDR headers). DL-headed deletes — null value but
    ``entry_type`` present — pass through untouched, unlike the plain
    tombstone filter (T13) which drops every null-value record."""
    return df.filter(
        F.col(value_col).isNotNull() | F.col(entry_type_col).isNotNull()
    )


# ---------------------------------------------------------------------------
# T15 — embedded Connect schema (schemas.enable=true) decode
# ---------------------------------------------------------------------------
# Connect JsonConverter with schemas.enable=true wraps every key/value as
# {"schema": {...}, "payload": {...}} (reference default config:
# hack/sink-jdbc/cdc_oracle_mariadb-demo.json:17-20). The declared Connect
# types supersede runtime inference; mapping mirrors the reference's
# GenericDialect.getColumnType (GenericDialect.java:199-221) lifted to
# Spark types instead of DDL strings.
_CONNECT_PRIMITIVES: dict[str, T.DataType] = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}

# Connect logical types ride primitive carriers (int32 days / int64 ms /
# number-or-string decimals); decode at carrier type, convert after.
_CONNECT_LOGICALS = {
    "org.apache.kafka.connect.data.Date": "date",          # int32 epoch days
    "org.apache.kafka.connect.data.Time": "time",          # int32 ms-of-day
    "org.apache.kafka.connect.data.Timestamp": "timestamp",  # int64 epoch ms
    "org.apache.kafka.connect.data.Decimal": "decimal",
}


def _connect_type(node: dict) -> T.DataType:
    t = node.get("type")
    if t == "struct":
        return T.StructType(
            [
                T.StructField(f["field"], _connect_type(f), bool(f.get("optional", True)))
                for f in node.get("fields", [])
            ]
        )
    if t == "array":
        return T.ArrayType(_connect_type(node.get("items", {"type": "string"})))
    if t == "map":
        return T.MapType(
            _connect_type(node.get("keys", {"type": "string"})),
            _connect_type(node.get("values", {"type": "string"})),
        )
    logical = _CONNECT_LOGICALS.get(node.get("name", ""))
    if logical == "decimal":
        # Connect Decimal declares scale in parameters; JsonConverter may
        # emit base64 bytes OR a plain JSON number/string (numeric mode).
        # We decode the number/string form (the reference's own demo path
        # uses decimal.handling.mode=string); base64-bytes decimals are
        # out of scope and will decode NULL.
        scale = int(node.get("parameters", {}).get("scale", 0))
        return T.DecimalType(38, scale)
    prim = _CONNECT_PRIMITIVES.get(t)
    if prim is None:
        raise ValueError(f"unsupported Connect schema type: {t!r}")
    return prim


def parse_connect_schema(schema_json: str) -> tuple[T.StructType, dict[str, str]]:
    """Parse a Connect JSON schema (the ``schema`` member of the
    schemas.enable=true envelope) into (decode struct, logical map).

    The decode struct carries each logical field at its CARRIER type
    (Date → int32 days, Time → int32 ms, Timestamp → int64 ms) because
    ``from_json`` must read the raw JSON number; the logical map says
    which top-level fields need post-conversion (see
    ``convert_connect_logicals``). Raises on non-struct roots and unknown
    types — a malformed declared schema is a configuration error, not a
    per-record corruption."""
    import json

    node = json.loads(schema_json)
    if not isinstance(node, dict) or node.get("type") != "struct":
        raise ValueError("Connect value schema root must be a struct")
    logicals: dict[str, str] = {}
    fields = []
    for f in node.get("fields", []):
        kind = _CONNECT_LOGICALS.get(f.get("name", ""))
        if kind in ("date", "time"):
            fields.append(T.StructField(f["field"], T.IntegerType(), True))
            logicals[f["field"]] = kind
        elif kind == "timestamp":
            fields.append(T.StructField(f["field"], T.LongType(), True))
            logicals[f["field"]] = kind
        else:
            fields.append(
                T.StructField(f["field"], _connect_type(f), bool(f.get("optional", True)))
            )
    return T.StructType(fields), logicals


def convert_connect_logicals(
    df: DataFrame, logicals: dict[str, str], struct_col: str = "row_image"
) -> DataFrame:
    """Convert carrier-typed logical fields inside ``struct_col``:
    epoch-day ints → date, epoch-ms longs → timestamp, ms-of-day ints →
    seconds-precision string (Spark has no TIME type; HH:mm:ss matches
    the reference's JDBC binding of java.sql.Time).

    The time rendering is pure integer arithmetic on the ms-of-day
    carrier — NOT date_format over a timestamp, which renders in the
    SESSION timezone and silently shifts the wall time anywhere the
    session isn't UTC (get_spark pins UTC, but the operator must not
    depend on that)."""
    if not logicals:
        return df

    def _ms_of_day_to_hms(c):
        secs = (c.cast("long") / 1000).cast("long")
        return F.concat_ws(
            ":",
            F.lpad((secs / 3600).cast("long").cast("string"), 2, "0"),
            F.lpad(((secs / 60).cast("long") % 60).cast("string"), 2, "0"),
            F.lpad((secs % 60).cast("string"), 2, "0"),
        )

    conv = {
        "date": lambda c: F.date_add(F.lit("1970-01-01").cast("date"), c),
        "timestamp": lambda c: F.timestamp_millis(c),
        "time": _ms_of_day_to_hms,
    }
    replaced = F.col(struct_col)
    for name, kind in logicals.items():
        replaced = replaced.withField(name, conv[kind](F.col(f"{struct_col}.{name}")))
    return df.withColumn(struct_col, replaced)


def strip_embedded_schema(
    df: DataFrame,
    value_col: str = "record_value",
    schema_col: str = "connect_schema",
) -> DataFrame:
    """Unwrap the schemas.enable=true envelope where present.

    Wrapped records get ``value_col`` replaced by the inner payload JSON
    (a JSON-null payload → NULL, preserving tombstone semantics) and the
    declared schema JSON surfaced in ``schema_col``; bare records pass
    through untouched with a NULL ``schema_col`` — so mixed topics (some
    producers wrapped, some not) decode in one pass."""
    v = F.col(value_col)
    wrapped = F.get_json_object(v, "$.schema.type").isNotNull()
    return df.withColumn(
        schema_col, F.when(wrapped, F.get_json_object(v, "$.schema"))
    ).withColumn(
        value_col, F.when(wrapped, F.get_json_object(v, "$.payload")).otherwise(v)
    )


def decode_connect_value(
    df: DataFrame,
    value_col: str = "record_value",
    out_col: str = "row_image",
    schema_json: str | None = None,
) -> DataFrame:
    """Full schemas.enable=true decode: strip the envelope, resolve the
    declared schema, and decode the payload at DECLARED types (supersedes
    runtime inference — SURVEY §1.2 mode 1).

    The declared schema is per-topic constant, so it is resolved ONCE:
    either passed explicitly (``schema_json``) or sampled from the first
    wrapped record (a driver-side LIMIT 1 — bounded, like the existing
    schema-inference sample). Falls back to ``decode_row_image``'s
    schemaless map mode when no record carries a schema."""
    stripped = strip_embedded_schema(df, value_col=value_col)
    if schema_json is None:
        row = (
            stripped.select("connect_schema")
            .filter(F.col("connect_schema").isNotNull())
            .limit(1)
            .collect()
        )
        schema_json = row[0][0] if row else None
    if schema_json is None:
        return decode_row_image(stripped, value_col=value_col, out_col=out_col)
    struct, logicals = parse_connect_schema(schema_json)
    decoded = stripped.withColumn(out_col, F.from_json(F.col(value_col), struct))
    return convert_connect_logicals(decoded, logicals, struct_col=out_col)
