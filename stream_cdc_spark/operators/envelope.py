"""CDC event-envelope operators.

Reference semantics being re-expressed (citations into /root/reference/):
  - event-type classification  stream_cdc/datasources/mysql.py:344-352
  - row explosion (1 binlog event -> N rows)  mysql.py:404-414
  - envelope projection {event_type, gtid, database, table, content}
    mysql.py:416-426
  - drop non-row events  mysql.py:386-393
  - serialization/stringify  stream_cdc/utils/serializer.py:15-37

The reference walks one Python dict at a time; here each step is a Column
expression inside whole-stage codegen, so the same per-row logic runs
vectorized across every executor core with zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    MapType,
    StringType,
    StructField,
    StructType,
)

# The reference's envelope: mysql.py:416-426. `content` keeps the
# stringify-everything compatibility mode (serializer.py:29 `default=str`)
# as MAP<STRING,STRING> before/after images.
ENVELOPE_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("gtid", StringType(), True),
        StructField("database", StringType(), True),
        StructField("table", StringType(), True),
        StructField(
            "content",
            StructType(
                [
                    StructField("before", MapType(StringType(), StringType()), True),
                    StructField("after", MapType(StringType(), StringType()), True),
                ]
            ),
            True,
        ),
    ]
)

# Binlog event-class -> label mapping (mysql.py:344-352). Debezium op codes
# included so a Kafka/Debezium feed classifies through the same expression.
_CLASSIFY = {
    "WriteRowsEvent": "Insert",
    "UpdateRowsEvent": "Update",
    "DeleteRowsEvent": "Delete",
    "c": "Insert",
    "r": "Insert",
    "u": "Update",
    "d": "Delete",
}


def classify_event_type(raw: Column) -> Column:
    """Map a raw event class/op code to 'Insert' | 'Update' | 'Delete'.

    Unknown classes become NULL, matching the reference's skip path
    (mysql.py:386-393 drops events it cannot classify).
    """
    mapping = F.create_map(*[F.lit(x) for kv in _CLASSIFY.items() for x in kv])
    return mapping[raw]


def explode_rows(df: DataFrame, rows_col: str = "rows") -> DataFrame:
    """One event carrying N row images -> N envelope records.

    Reference: _format_row_events generator (mysql.py:404-414). Spark's
    explode is the same flatten, executed columnar per partition.
    """
    other = [c for c in df.columns if c != rows_col]
    return df.select(*other, F.explode(F.col(rows_col)).alias("row"))


def drop_non_row_events(df: DataFrame, rows_col: str = "rows") -> DataFrame:
    """Skip events without row images; DDL (QueryEvent) is decoded then
    dropped by the reference (mysql.py:354-365, :387-389)."""
    return df.filter(F.col(rows_col).isNotNull() & (F.size(F.col(rows_col)) > 0))


def stringify(col: Column) -> Column:
    """The reference's 'stringify anything' coercion (serializer.py:15-37):
    json round-trip with default=str. Spark equivalent: to_json on complex
    types, plain string cast on scalars — both JVM-side."""
    return F.to_json(col) if not isinstance(col, str) else F.to_json(F.col(col))


def typed_content(
    df: DataFrame, table_schema: StructType, image: str = "after"
) -> DataFrame:
    """Typed fast path (SURVEY §1.2): convert a stringly MAP<STRING,STRING>
    row image into a declared per-table StructType by casting each field.

    The map form reproduces the reference's stringify-everything
    compatibility mode (serializer.py:15-37); this projection upgrades it
    to real types so downstream filters/aggregations run on native columns
    (codegen, pushdown) instead of string compares. Unparseable values
    become NULL — the same lossy-coercion contract as the reference's
    `default=str`, in the opposite direction.
    """
    img = F.col(f"content.{image}")
    fields = [
        img.getItem(f.name).cast(f.dataType).alias(f.name)
        for f in table_schema.fields
    ]
    return df.withColumn(f"typed_{image}", F.struct(*fields))


def gtid_parts(gtid: Column) -> tuple[Column, Column]:
    """Split '<server_uuid>:<txno>' (mysql.py:253-256) into components."""
    return F.split(gtid, ":").getItem(0), F.split(gtid, ":").getItem(1).cast("bigint")


def to_debezium_json(df: DataFrame) -> DataFrame:
    """Serialize envelope rows to Debezium-format JSON values (the inverse
    of from_debezium_json) — the egress format for a Kafka sink so any
    Debezium consumer can read the engine's output."""
    op = (
        F.when(F.col("event_type") == "Insert", F.lit("c"))
        .when(F.col("event_type") == "Update", F.lit("u"))
        .when(F.col("event_type") == "Delete", F.lit("d"))
    )
    return df.select(
        F.to_json(
            F.struct(
                op.alias("op"),
                F.col("content.before").alias("before"),
                F.col("content.after").alias("after"),
                F.struct(
                    F.col("database").alias("db"),
                    F.col("table").alias("table"),
                    F.col("gtid").alias("gtid"),
                ).alias("source"),
            )
        ).alias("value")
    )


def from_debezium_json(
    df: DataFrame, value_col: str = "value", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Parse a Debezium-format JSON change feed (e.g. a Kafka topic) into the
    envelope. This is the production-scale CDC ingest path: the binlog tail
    (reference O1) is operated by Debezium/Kafka, and the engine consumes the
    topic with from_json — fully parallel, no custom source needed.

    ``keep_cols``: transport metadata columns (e.g. Kafka topic/partition/
    offset) passed through unchanged next to the envelope — the streaming
    analogue of the reference's offset tracking (O4).
    """
    payload_schema = StructType(
        [
            StructField("op", StringType(), True),
            StructField("ts_ms", StringType(), True),
            StructField("before", MapType(StringType(), StringType()), True),
            StructField("after", MapType(StringType(), StringType()), True),
            StructField(
                "source",
                StructType(
                    [
                        StructField("db", StringType(), True),
                        StructField("table", StringType(), True),
                        StructField("gtid", StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    parsed = df.withColumn("_p", F.from_json(F.col(value_col), payload_schema))
    return parsed.select(
        classify_event_type(F.col("_p.op")).alias("event_type"),
        F.col("_p.source.gtid").alias("gtid"),
        F.col("_p.source.db").alias("database"),
        F.col("_p.source.table").alias("table"),
        F.struct(F.col("_p.before").alias("before"), F.col("_p.after").alias("after")).alias(
            "content"
        ),
        *[F.col(c) for c in keep_cols],
    ).filter(F.col("event_type").isNotNull())
