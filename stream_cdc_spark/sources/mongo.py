"""MongoDB change-stream source behind the registry.

The reference anticipates a MongoDB datasource but never implements it
(stream_cdc/datasources/base.py:10-11). Same two-tier shape as
sources/kafka.py and sources/postgres.py:

- **production path**: Debezium's mongodb connector -> Kafka topic ->
  the `kafka-debezium` registry source (a change stream is a single
  cursor; a topic fans out across executors).
- **this source**: parses raw change-stream event documents — the public
  format `db.collection.watch()` emits
  (https://www.mongodb.com/docs/manual/changeStreams/:
  ``{"_id": {"_data": <resume token>}, "operationType": "insert"|
  "update"|"replace"|"delete", "ns": {"db":..,"coll":..},
  "documentKey": {...}, "fullDocument": {...}}``) — from JSON-lines
  spools (e.g. `mongosh --eval 'watch(...)'` dumps or a change-stream
  archiver), streaming or batch.

Envelope mapping: fullDocument -> `content.after` (stringify-everything
map, serializer.py:15-37 parity), documentKey -> `content.before` (the
identity image — all a delete event carries), the resume token ->
``gtid`` and a transport column (offset tracking O4: resume tokens are
the change-stream seek position exactly as LSNs/GTIDs are for logs).
`update` and `replace` both classify as Update; events without a
classification (invalidate, drop, rename) fall out via the NULL filter —
the drop-non-row contract (O9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHANGE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField(
            "_id", T.StructType([T.StructField("_data", T.StringType(), True)]), True
        ),
        T.StructField("operationType", T.StringType(), True),
        T.StructField(
            "ns",
            T.StructType(
                [
                    T.StructField("db", T.StringType(), True),
                    T.StructField("coll", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "documentKey", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField(
            "fullDocument", T.MapType(T.StringType(), T.StringType()), True
        ),
    ]
)

_OP_TO_TYPE = {
    "insert": "Insert",
    "update": "Update",
    "replace": "Update",
    "delete": "Delete",
}


def parse_change_stream(
    df: DataFrame, value_col: str = "value", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Change-stream JSON lines -> CDC envelope (+ resume_token column)."""
    mapping = F.create_map(*[F.lit(x) for kv in _OP_TO_TYPE.items() for x in kv])
    p = df.withColumn("_m", F.from_json(F.col(value_col), CHANGE_STREAM_SCHEMA))
    return (
        p.select(
            mapping[F.col("_m.operationType")].alias("event_type"),
            F.col("_m._id._data").alias("gtid"),
            F.col("_m.ns.db").alias("database"),
            F.col("_m.ns.coll").alias("table"),
            F.struct(
                F.col("_m.documentKey").alias("before"),
                F.col("_m.fullDocument").alias("after"),
            ).alias("content"),
            F.col("_m._id._data").alias("resume_token"),
            *[F.col(c) for c in keep_cols],
        )
        .filter(F.col("event_type").isNotNull())
    )


def change_stream(
    spark: SparkSession,
    mock_path: str | None = None,
    path: str | None = None,
    max_files_per_trigger: int | None = None,
    **reader_opts: str,
) -> DataFrame:
    """Streaming envelope DataFrame from change-stream event spools."""
    target = mock_path or path
    if not target:
        raise ValueError("path (change-stream spool directory) is required")
    reader = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in reader_opts.items():
        reader = reader.option(k, str(v))
    raw = reader.text(target)
    return parse_change_stream(raw)


def parse_change_stream_batch(df: DataFrame) -> DataFrame:
    """Batch twin of change_stream's parse stage."""
    return parse_change_stream(df)
