"""RocksDB as the state store for the state-HEAVY streams (round-5 task):
the lsh_dedup bucket store (~80k keys at sf0.1), per-user heavy hitters
and per-user quantile sketches (1.5k keys x sketch blobs) run their
drains under RocksDBStateStoreProvider — not just a restart smoke — with
correctness asserted against the batch twins and state-store row counts
read back from StreamingQueryProgress to prove the store actually held
the working set.

At 100 TB these stores exceed executor heap; RocksDB is the provider a
cluster deployment pins (spark.sql.streaming.stateStore.providerClass),
so the slow tier proves the operators under it, with HDFS-backed default
covered by the fast tier.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.observability import StreamingMetricsListener
from stream_cdc_spark.tables import load, table_path  # noqa: F401
from tests.conftest import SF_SMALL

pytestmark = pytest.mark.slow

ROCKS = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"

SF01 = "/root/testdata/sf0.1"


@pytest.fixture()
def rocksdb(spark):
    old = spark.conf.get(PROVIDER_KEY, None)
    spark.conf.set(PROVIDER_KEY, ROCKS)
    yield spark
    if old is None:
        spark.conf.unset(PROVIDER_KEY)
    else:
        spark.conf.set(PROVIDER_KEY, old)


def _drain(spark, df_stream_builder, indir_df, tmp_path, name, slices=4):
    """Write indir_df as `slices` files, drain the stream with
    availableNow + RocksDB, return (emitted_df, progress rows)."""
    indir = str(tmp_path / f"in-{name}")
    ckpt = str(tmp_path / f"ckpt-{name}")
    outdir = str(tmp_path / f"out-{name}")
    indir_df.repartition(slices).write.mode("overwrite").parquet(indir)

    def emit(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(outdir)

    listener = StreamingMetricsListener()
    listener.attach(spark)
    try:
        stream = (
            spark.readStream.schema(indir_df.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(indir)
        )
        q = (
            df_stream_builder(stream)
            .writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(900)
    finally:
        listener.detach(spark)
    return spark.read.parquet(outdir), listener.progress()


def _max_state_rows(progress) -> int:
    return max(
        (int(r.get("state_rows_total") or 0) for r in progress), default=0
    )


def test_lsh_dedup_stream_rocksdb_80k_buckets(rocksdb, tmp_path):
    """5000 docs x 16 bands ≈ 80k bucket keys in RocksDB; emitted distinct
    pairs must equal the batch LSH candidates at the same gate."""
    from stream_cdc_spark.operators import dedup
    from stream_cdc_spark.streaming.stateful import lsh_dedup_stream

    spark = rocksdb
    d = load(spark, SF01, "documents").select("doc_id", "text")
    emitted, progress = _drain(
        spark, lsh_dedup_stream, d, tmp_path, "lsh", slices=3
    )
    got = {
        (r["dup_of"], r["doc_id"])
        for r in emitted.select("doc_id", "dup_of").distinct().collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(d)
        .filter(F.col("est_jaccard") >= 0.8)
        .collect()
    }
    assert got == want
    assert len(want) > 0
    state_rows = _max_state_rows(progress)
    assert state_rows > 50_000, state_rows  # the store held the bucket set


def test_heavy_hitter_stream_rocksdb_per_user(rocksdb, tmp_path):
    """Per-user Misra-Gries sketches (1500 keys) under RocksDB: every
    key's final summary keeps the MG undercount bound vs exact counts."""
    from stream_cdc_spark.streaming.stateful import heavy_hitter_stream

    spark = rocksdb
    CAP = 8
    ev = load(spark, SF01, "events").select("user_id", "event_type")
    emitted, progress = _drain(
        spark,
        lambda s: heavy_hitter_stream(s, "user_id", "event_type", capacity=CAP),
        ev,
        tmp_path,
        "hh",
        slices=4,
    )
    from pyspark.sql import Window

    latest = (
        emitted.withColumn(
            "last_b", F.max("batch_id").over(Window.partitionBy("key"))
        )
        .filter(F.col("batch_id") == F.col("last_b"))
        .select("key", "item", "c_hat")
    )
    sketches: dict[str, dict[str, int]] = {}
    for r in latest.collect():
        sketches.setdefault(r["key"], {})[r["item"]] = r["c_hat"]

    exact = {
        (r["key"], r["item"]): r["n"]
        for r in ev.groupBy(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_type").cast("string").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals: dict[str, int] = {}
    for (k, _), n in exact.items():
        totals[k] = totals.get(k, 0) + n
    for (k, item), n in exact.items():
        margin = totals[k] / (CAP + 1)
        if n > margin:  # guaranteed-caught heavy hitter
            assert item in sketches.get(k, {}), (k, item)
            assert sketches[k][item] >= n - margin
    assert _max_state_rows(progress) >= 1000


def test_quantile_stream_rocksdb_per_user(rocksdb, tmp_path):
    """Per-user streaming quantiles under RocksDB: median estimate must
    respect the sketch's rank-error bound against the exact per-user
    sorted values."""
    from stream_cdc_spark.streaming.stateful import quantile_stream

    spark = rocksdb
    ev = load(spark, SF01, "events").select("user_id", "value")
    emitted, progress = _drain(
        spark,
        lambda s: quantile_stream(s, keys=("user_id",), percentiles=(0.5,)),
        ev,
        tmp_path,
        "qs",
        slices=4,
    )
    from pyspark.sql import Window

    key_cols = [c for c in emitted.columns if c not in
                ("batch_id",) and not c.startswith("p") and c != "n"]
    latest = (
        emitted.withColumn(
            "last_b", F.max("batch_id").over(Window.partitionBy(*key_cols))
        )
        .filter(F.col("batch_id") == F.col("last_b"))
    )
    est = {r["user_id"]: r["p50"] for r in latest.collect()}
    exact_rows = ev.collect()
    by_user: dict = {}
    for r in exact_rows:
        by_user.setdefault(r["user_id"], []).append(r["value"])
    checked = 0
    for u, vals in by_user.items():
        if u not in est:
            continue
        vals.sort()
        n = len(vals)
        # rank-error tolerance: estimate must sit within +-5% rank of the
        # true median (KLL-style bound used by the batch twin's tests)
        lo = vals[max(0, int(0.45 * n) - 1)]
        hi = vals[min(n - 1, int(0.55 * n) + 1)]
        assert lo <= est[u] <= hi, (u, est[u], lo, hi)
        checked += 1
    assert checked > 1000
    assert _max_state_rows(progress) >= 1000
