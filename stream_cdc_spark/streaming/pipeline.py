"""Structured Streaming spine — the reference's coordinator/worker loop
re-expressed as a streaming query.

Reference -> Spark mapping (citations into /root/reference/):
  Worker.run / process_next loop (processing/worker.py:26-77,
    coordinator.py:220-279)         -> MicroBatchExecution (built-in)
  BatchSizeAndTimePolicy (coordinator.py:26-59) -> maxFilesPerTrigger rate
    limit + ProcessingTime trigger (documented deviation: count-triggered
    flush becomes rate-limited time trigger, SURVEY §4)
  flush-then-checkpoint barrier (coordinator.py:281-303) -> foreachBatch +
    epoch commit: offsets are committed only after the batch function
    returns, preserving at-least-once into a non-idempotent sink and
    effectively-exactly-once with deterministic message ids
  load_state/save_state (coordinator.py:73-159) -> checkpointLocation
  graceful shutdown (main.py:59-64, worker.py:87-99) -> query.stop()

The file-based replay source treats the events parquet as an append-only
log — the testbench stand-in for a Kafka/Debezium topic. Swapping
`replay_stream` for `spark.readStream.format("kafka")` + envelope parsing
(operators/envelope.from_debezium_json) is the production path; everything
downstream is identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_cdc_spark.config import AppConfig
from stream_cdc_spark.filters import FilterChain
from stream_cdc_spark.tables import _ensure_session_conf, _normalize_ts, _read_parquet, table_path


def replay_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """readStream over the driver's parquet fixture as an append-only log.

    Schema comes from a batch read of the same path (file sources need an
    explicit schema); the nanos timestamp fix is applied like tables.load.
    """
    _ensure_session_conf(spark)
    path = table_path(sf_dir, table)
    schema = _read_parquet(spark, path).schema
    # The fixture is a single parquet file; Spark's file stream source wants
    # a directory, so stream the sf dir with a glob filter for the table.
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )
    if table == "events":
        df = _normalize_ts(df, ("ts",))
    return df


# The engine's drain trigger: run triggers back to back until
# drain_and_stop sees the engine report no new data.
DRAIN_TRIGGER = {"processingTime": "0 seconds"}


def drain_and_stop(queries) -> None:
    """The engine's one drain rule: run each started query until the
    engine reports no new data (processAllAvailable), then stop it.

    Python stream readers have no admission control: in PySpark 4.1
    `DataSourceStreamReader.latestOffset()` takes no start and no limit,
    so an available-now trigger fixes its end at the first rate-limited
    offset (cdc_replay's batchEvents) and drops the rest of the log.
    This rule holds for every source; over a file source without a rate
    limit it is still one micro-batch per drain. If a query fails, the
    others are stopped before the failure propagates, so none outlives
    the caller."""
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()


def with_payload(df: DataFrame) -> DataFrame:
    """Serialize each event to a JSON payload column (serializer
    semantics of O10: stringify at the boundary)."""
    return df.withColumn(
        "payload",
        F.to_json(F.struct(*[F.col(c) for c in df.columns])),
    )


class CdcPipeline:
    """source -> filter chain -> serialize -> foreachBatch sink, with
    checkpointing. The whole reference object graph (main.py:16-66) in one
    declarative pipeline."""

    def __init__(
        self,
        spark: SparkSession,
        source: DataFrame,
        sink_fn: Callable,  # foreachBatch(batch_df, batch_id)
        checkpoint_dir: str,
        config: AppConfig | None = None,
        filters: FilterChain | None = None,
    ):
        self.spark = spark
        self.source = source
        self.sink_fn = sink_fn
        self.checkpoint_dir = checkpoint_dir
        self.config = config or AppConfig()
        self.filters = filters or FilterChain()
        self.query = None
        self.drain = False

    def transformed(self) -> DataFrame:
        """Apply the filter chain and serialize each event to a JSON
        payload (`with_payload`)."""
        return with_payload(self.filters.apply(self.source))

    def start(self, available_now: bool = True):
        """Start the streaming query.

        available_now=True is the drain mode (deterministic test/replay):
        the query runs on DRAIN_TRIGGER and `await_and_stop` drains it
        to the end of the log, then stops it. False uses the
        ProcessingTime trigger from config (production pacing, O15).
        """
        self.drain = available_now
        trigger = DRAIN_TRIGGER if available_now else self.config.trigger()
        self.query = (
            self.transformed()
            .writeStream.foreachBatch(self.sink_fn)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(**trigger)
            .start()
        )
        from stream_cdc_spark.logging_utils import get_logger

        get_logger().info(
            "pipeline started: checkpoint=%s available_now=%s",
            self.checkpoint_dir,
            available_now,
        )
        return self.query

    def await_and_stop(self, timeout: int | None = None) -> None:
        """Graceful shutdown (O27). A drain-mode query runs until the
        engine reports no new data (`drain_and_stop`; `timeout` does not
        apply), then stops. Otherwise wait up to `timeout` seconds for
        the query to end, then stop it."""
        if self.query is None:
            return
        if self.drain:
            drain_and_stop([self.query])
        else:
            self.query.awaitTermination(timeout)
            if self.query.isActive:
                self.query.stop()
        from stream_cdc_spark.logging_utils import get_logger

        get_logger().info("pipeline stopped: checkpoint=%s", self.checkpoint_dir)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling window with watermarked late-data handling —
    the Spark-native upgrade the reference lacks entirely (its envelope has
    no event time; SURVEY §2.2 'streaming-only'). Works identically over a
    batch DataFrame (watermark is a no-op there), which is how the oracle
    checks it (q10)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "approx_users")
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Built-in session windows (dynamic gap-close): per-key sessions with
    an inactivity gap. Third implementation of the same semantics as batch
    q31 (lag-gap) and streaming/stateful.session_tracker
    (applyInPandasWithState) — the three cross-validate in tests. Streaming
    input gets a watermark so session state closes; batch input runs as-is.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Consumer-side duplicate suppression for at-least-once delivery:
    dropDuplicatesWithinWatermark on the deterministic event id (the fix of
    O25's ephemeral ids, bounded state via watermark — RocksDB-backed state
    store recommended at scale). Batch DataFrames (replay/backfill mode)
    get plain dropDuplicates — same result, no state store needed."""
    if not events.isStreaming:
        return events.dropDuplicates(["event_id"])
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_stream_join_within(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    max_gap: str = "24 hours",
    watermark: str = "48 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: pairs (l, r) on the key with
    r.ts in [l.ts, l.ts + max_gap]. Watermarks on both sides bound the join
    state Spark must retain — without them a stream-stream join grows
    unboundedly. Batch inputs run the same plan without state."""
    l = left.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).alias("l_ts"),
        F.col("event_id").alias("id_a"),
    )
    r = right.select(
        F.col(key_col).alias("r_k"),
        F.col(ts_col).alias("r_ts"),
        F.col("event_id").alias("id_b"),
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if r.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (F.col("k") == F.col("r_k"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_gap}"))
        & (F.col("id_a") < F.col("id_b"))
    )
    return l.join(r, cond).select("k", "id_a", "id_b", "l_ts", "r_ts")
