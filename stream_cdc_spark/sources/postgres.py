"""PostgreSQL logical-decoding (wal2json) source behind the registry.

The reference anticipates a PostgreSQL datasource but never implements it
(stream_cdc/datasources/base.py:10-11 names it; the unused `psycopg`
dependency at pyproject.toml:8 marks the intent). This module closes that
gap the Spark way, with the same two-tier shape as sources/kafka.py:

- **production path**: Debezium's postgres connector feeds a Kafka topic
  consumed by the `kafka-debezium` registry source — logical decoding is
  operated outside the engine, which is how a 1000-executor cluster wants
  it (one replication slot cannot be read in parallel; the topic can).
- **this source**: parses raw wal2json *format-version-2* output — the
  public JSON-per-change format PostgreSQL's wal2json plugin emits
  (https://github.com/eulerto/wal2json, `format-version=2`:
  ``{"action":"I","schema":..,"table":..,"lsn":..,"columns":[{name,type,
  value}..],"identity":[..]}``) — from files (`pg_recvlogical` dumps /
  NOTIFY spools) as a stream or batch, for replay and backfill without a
  broker in between.

Every change lands in the standard five-field envelope
(operators/envelope.ENVELOPE_SCHEMA): columns -> `content.after`,
identity (the REPLICA IDENTITY image wal2json attaches to U/D) ->
`content.before`, LSN -> `gtid` (the transaction-position analogue of the
reference's GTID, mysql.py:253-256) and kept as a transport column for
offset tracking (O4). Transaction markers B/C and TRUNCATE are dropped by
classification — the reference's drop-non-row contract (O9,
mysql.py:386-393).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# wal2json format-version=2, one JSON object per change action. Column
# entries parse as MAP<STRING,STRING> so any JSON value type (number,
# bool, null, nested) coerces to its JSON text — the engine's
# stringify-everything compatibility mode (serializer.py:15-37 parity).
WAL2JSON_SCHEMA = T.StructType(
    [
        T.StructField("action", T.StringType(), True),
        T.StructField("schema", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("lsn", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
        T.StructField(
            "columns", T.ArrayType(T.MapType(T.StringType(), T.StringType())), True
        ),
        T.StructField(
            "identity", T.ArrayType(T.MapType(T.StringType(), T.StringType())), True
        ),
    ]
)

_ACTION_TO_TYPE = {"I": "Insert", "U": "Update", "D": "Delete"}


def _entries_to_map(col: Column) -> Column:
    """[{name,type,value}...] -> MAP(name -> value)."""
    return F.when(
        col.isNotNull(),
        F.map_from_arrays(
            F.transform(col, lambda m: m["name"]),
            F.transform(col, lambda m: m["value"]),
        ),
    )


def parse_wal2json(
    df: DataFrame, value_col: str = "value", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """wal2json v2 JSON lines -> CDC envelope (+ lsn transport column).

    Pure Column expressions (from_json + map_from_arrays inside codegen);
    B/C/T actions and unknown types drop via the NULL-classification
    filter, exactly like from_debezium_json.
    """
    mapping = F.create_map(
        *[F.lit(x) for kv in _ACTION_TO_TYPE.items() for x in kv]
    )
    p = df.withColumn("_w", F.from_json(F.col(value_col), WAL2JSON_SCHEMA))
    return (
        p.select(
            mapping[F.col("_w.action")].alias("event_type"),
            F.col("_w.lsn").alias("gtid"),
            F.col("_w.schema").alias("database"),
            F.col("_w.table").alias("table"),
            F.struct(
                _entries_to_map(F.col("_w.identity")).alias("before"),
                _entries_to_map(F.col("_w.columns")).alias("after"),
            ).alias("content"),
            F.col("_w.lsn").alias("lsn"),
            *[F.col(c) for c in keep_cols],
        )
        .filter(F.col("event_type").isNotNull())
    )


def wal2json_stream(
    spark: SparkSession,
    mock_path: str | None = None,
    path: str | None = None,
    max_files_per_trigger: int | None = None,
    **reader_opts: str,
) -> DataFrame:
    """Streaming envelope DataFrame from wal2json v2 output files.

    ``path``/``mock_path`` (synonyms; ``mock_path`` mirrors the kafka
    source's test-double naming) point at a directory of JSON-lines files,
    each line one wal2json action. New files picked up per micro-batch —
    the file-spool pattern for `pg_recvlogical -f` output.
    """
    target = mock_path or path
    if not target:
        raise ValueError("path (wal2json output directory) is required")
    reader = spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in reader_opts.items():
        reader = reader.option(k, str(v))
    raw = reader.text(target)
    return parse_wal2json(raw)


def parse_wal2json_batch(df: DataFrame) -> DataFrame:
    """Batch twin of wal2json_stream's parse stage (backfills, contract
    tests): same envelope, same lsn transport column."""
    return parse_wal2json(df)
