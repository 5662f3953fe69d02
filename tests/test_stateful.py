"""applyInPandasWithState operators: state must accumulate across
micro-batches (driven by the rate-limited cdc_replay source so the stream
genuinely spans multiple triggers) and converge to the batch answers."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from stream_cdc_spark.sources import cdc_replay
from stream_cdc_spark.streaming.stateful import position_tracker, session_tracker
from stream_cdc_spark.streaming.pipeline import replay_stream
from stream_cdc_spark.tables import load, table_path
from tests.conftest import SF_SMALL
import pytest


def _drain(spark, query_name, q, want_rows_fn, timeout_s=120):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if want_rows_fn():
            break
        time.sleep(1)
    q.stop()


def test_position_tracker_across_batches(spark, tmp_path):
    cdc_replay.register(spark)
    env = (
        spark.readStream.format("cdc_replay")
        .option("path", table_path(SF_SMALL, "events"))
        .option("batchEvents", "300")  # forces >= 4 micro-batches
        .load()
    )
    out = position_tracker(env, key_col="event_type", seq_col="seq")
    q = (
        out.writeStream.format("memory")
        .queryName("pos_track")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )

    ev = load(spark, SF_SMALL, "events")
    want = {
        cdc_replay._OP_MAP[r.event_type]: 0 for r in ev.select("event_type").distinct().collect()
    }
    for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"), F.max("event_id").alias("m")).collect():
        op = cdc_replay._OP_MAP[r.event_type]
        want[op] += r.n

    def done():
        rows = spark.sql(
            "SELECT key, MAX(n_events) n FROM pos_track GROUP BY key"
        ).collect()
        return sum(r.n for r in rows) >= sum(want.values())

    _drain(spark, "pos_track", q, done)
    final = {
        r.key: (r.n, r.m)
        for r in spark.sql(
            "SELECT key, MAX(n_events) n, MAX(last_seq) m FROM pos_track GROUP BY key"
        ).collect()
    }
    assert {k: v[0] for k, v in final.items()} == want
    # high-water mark: the max seq across all ops must be the global max
    assert max(v[1] for v in final.values()) == ev.agg(F.max("event_id")).collect()[0][0]
    # state really evolved across batches: early snapshots < final counts
    snaps = spark.sql("SELECT n_events FROM pos_track").collect()
    assert len(snaps) > len(final)  # multiple update emissions per key


def test_session_tracker_converges_to_batch_q31(spark, tmp_path):
    stream = session_tracker(replay_stream(spark, SF_SMALL), gap_seconds=1800)
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_track")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        int(r.key): r.ns
        for r in spark.sql(
            "SELECT key, MAX(n_sessions) ns FROM sess_track GROUP BY key"
        ).collect()
    }
    from stream_cdc_spark.plans.queries import QUERIES

    want = {
        r.user_id: r.n_sessions
        for r in QUERIES["q31_sessionization"].builder(spark, SF_SMALL).collect()
    }
    assert got == want


@pytest.mark.slow
def test_rocksdb_state_store_with_restart(spark, tmp_path):
    """SURVEY §7 day-one 100 TB risk: streaming state larger than executor
    heap needs the RocksDB state store. Run the position tracker under
    RocksDBStateStoreProvider across multiple micro-batches WITH a
    mid-stream stop/restart: state must reload from the RocksDB checkpoint
    and the final counts must equal the batch answer."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        cdc_replay.register(spark)
        ckpt = str(tmp_path / "rocks-ckpt")
        outdir = str(tmp_path / "rocks-out")

        # memory sink can't recover from a checkpoint; foreachBatch can —
        # append each update emission with its batch id so the consumer can
        # take the last emission per key
        def emit(batch_df, batch_id: int) -> None:
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(outdir)

        def start():
            env = (
                spark.readStream.format("cdc_replay")
                .option("path", table_path(SF_SMALL, "events"))
                .option("batchEvents", "300")
                .load()
            )
            out = position_tracker(env, key_col="event_type", seq_col="seq")
            return (
                out.writeStream.foreachBatch(emit)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="1 second")
                .start()
            )

        def emitted():
            try:
                return spark.read.parquet(outdir)
            except Exception:
                return None

        q = start()
        # let a couple of micro-batches commit, then kill the query
        # (generous deadline: under a full-suite run the shared JVM can be
        # slow to schedule the first micro-batch)
        deadline = time.time() + 180
        while time.time() < deadline:
            df = emitted()
            if df is not None and df.count() > 0 and len(q.recentProgress) >= 2:
                break
            time.sleep(1)
        assert emitted() is not None and emitted().count() > 0
        q.stop()
        mid = emitted()
        mid_batches = {r.batch_id for r in mid.select("batch_id").distinct().collect()}
        mid_total = sum(
            r.n
            for r in mid.groupBy("key").agg(F.max("n_events").alias("n")).collect()
        )

        # restart from the RocksDB checkpoint and drain the rest
        q2 = start()
        ev = load(spark, SF_SMALL, "events")
        want_total = ev.count()

        def done():
            df = emitted()
            if df is None:
                return False
            rows = df.groupBy("key").agg(F.max("n_events").alias("n")).collect()
            return sum(r.n for r in rows) >= want_total

        _drain(spark, "rocks_pos", q2, done)
        final = {
            r.key: r.n
            for r in emitted().groupBy("key").agg(F.max("n_events").alias("n")).collect()
        }
        want: dict[str, int] = {}
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect():
            op = cdc_replay._OP_MAP[r.event_type]
            want[op] = want.get(op, 0) + r.n
        assert final == want
        # the restart really continued from saved state: new batches appear —
        # unless a slow first phase already drained the whole replay, in
        # which case there is nothing left to emit and the final==want check
        # above already proved the checkpointed state reloaded intact
        if mid_total < want_total:
            post_batches = {
                r.batch_id
                for r in emitted().select("batch_id").distinct().collect()
            }
            assert post_batches > mid_batches
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)


def test_write_dedup_tracker_emits_first_seen_only(spark, tmp_path):
    """Streaming write-dedup: a fingerprint that recurs across
    micro-batches must be emitted exactly once per key. fp = event_id % 50
    guarantees heavy recurrence within the replayed stream."""
    from stream_cdc_spark.streaming.stateful import write_dedup_tracker

    cdc_replay.register(spark)
    env = (
        spark.readStream.format("cdc_replay")
        .option("path", table_path(SF_SMALL, "events"))
        .option("batchEvents", "700")  # multiple micro-batches
        .load()
    )
    fp_stream = env.selectExpr(
        "event_type", "CAST(pmod(seq, 50) AS STRING) AS fp", "seq"
    )
    out = write_dedup_tracker(
        fp_stream, key_col="event_type", fp_col="fp", seq_col="seq",
        ttl_hours=None,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("wdedup")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )

    # the stream's event_type is the Debezium-op label (non-injective map:
    # signup+purchase -> Insert), so compute the expectation op-side
    ev = load(spark, SF_SMALL, "events")
    op_expr = (
        "CASE event_type WHEN 'signup' THEN 'Insert' "
        "WHEN 'purchase' THEN 'Insert' WHEN 'click' THEN 'Update' "
        "WHEN 'view' THEN 'Update' WHEN 'error' THEN 'Delete' "
        "ELSE 'Insert' END"
    )
    want = (
        ev.selectExpr(f"{op_expr} AS op", "pmod(event_id, 50) AS fpv")
        .distinct()
        .count()
    )

    def done():
        return (
            spark.sql("SELECT COUNT(*) n FROM wdedup").collect()[0].n >= want
        )

    _drain(spark, "wdedup", q, done)
    got = spark.sql("SELECT key, fp, COUNT(*) c FROM wdedup GROUP BY key, fp").collect()
    # exactly once per (key, fp), and the full first-seen set arrived
    assert all(r.c == 1 for r in got), [r for r in got if r.c > 1][:5]
    # keys are Debezium-op labels of event_type; compare counts only
    assert len(got) == want


@pytest.mark.slow
def test_hll_distinct_stream_restart_converges_to_batch(spark, tmp_path):
    """Streaming sketch maintenance (twin of q90): drain the events table
    through hll_distinct_stream in two runs with a checkpoint restart in
    between; the final per-key estimates must equal the batch
    hll_sketch_agg answer BIT-FOR-BIT (HLL registers max-merge, so
    micro-batch slicing and restart cannot perturb them) and sit within
    the 5% band of the exact distinct count."""
    from stream_cdc_spark.streaming.stateful import hll_distinct_stream

    ev = load(spark, SF_SMALL, "events").select("event_type", "user_id")
    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt-hll")
    outdir = str(tmp_path / "out-hll")

    # six input slices; phase 1 sees three, phase 2 the rest
    parts = ev.repartition(6).rdd.mapPartitionsWithIndex(
        lambda i, it: ((i, list(it)),)
    ).collect()
    import os

    os.makedirs(indir, exist_ok=True)

    def write_slice(i, rows):
        spark.createDataFrame(rows, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(indir, f"slice={i}"))

    for i, rows in parts[:3]:
        write_slice(i, rows)

    def emit(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(outdir)

    def run_to_completion():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
            .parquet(indir + "/slice=*")
        )
        q = (
            hll_distinct_stream(stream, keys=("event_type",))
            .writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_to_completion()  # phase 1: three slices, then the query stops
    for i, rows in parts[3:]:
        write_slice(i, rows)
    run_to_completion()  # phase 2: restart from checkpoint, drain the rest

    emitted = spark.read.parquet(outdir)
    from pyspark.sql import Window

    latest = (
        emitted.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(F.desc("batch_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "n_approx")
    )
    got = {r.event_type: r.n_approx for r in latest.collect()}

    batch = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias("n_approx"),
        F.count_distinct("user_id").alias("n_exact"),
    )
    for r in batch.collect():
        assert got[r.event_type] == r.n_approx, (r.event_type, got[r.event_type], r.n_approx)
        assert abs(got[r.event_type] - r.n_exact) <= 0.05 * r.n_exact


@pytest.mark.slow
def test_heavy_hitter_stream_restart_keeps_mg_guarantee(spark, tmp_path):
    """Streaming MG maintenance (twin of q108): drain the events table in
    two runs with a checkpoint restart in between; each key's final
    summary must stay capacity-bounded, be a superset of the true
    > N_key/(capacity+1) items, and undercount by at most that margin —
    the Misra-Gries MERGE bound is additive over any slicing of the
    stream, so neither micro-batching nor the restart can break it."""
    import os

    from stream_cdc_spark.streaming.stateful import heavy_hitter_stream

    ev = load(spark, SF_SMALL, "events").select("event_type", "user_id")
    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt-hh")
    outdir = str(tmp_path / "out-hh")
    os.makedirs(indir, exist_ok=True)

    parts = (
        ev.repartition(6)
        .rdd.mapPartitionsWithIndex(lambda i, it: ((i, list(it)),))
        .collect()
    )

    def write_slice(i, rows):
        spark.createDataFrame(rows, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(indir, f"slice={i}"))

    def emit(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(outdir)

    CAP = 16

    def run_to_completion():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir + "/slice=*")
        )
        q = (
            heavy_hitter_stream(stream, "event_type", "user_id", capacity=CAP)
            .writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    for i, rows in parts[:3]:
        write_slice(i, rows)
    run_to_completion()
    for i, rows in parts[3:]:
        write_slice(i, rows)
    run_to_completion()  # restart from checkpoint

    emitted = spark.read.parquet(outdir)
    from pyspark.sql import Window

    last_batch = emitted.agg(F.max("batch_id")).first()[0]
    # the final micro-batch's emission is the complete current sketch for
    # every key that saw input in it; reconstruct per-key latest summaries
    latest = (
        emitted.withColumn(
            "last_b",
            F.max("batch_id").over(Window.partitionBy("key")),
        )
        .filter(F.col("batch_id") == F.col("last_b"))
        .select("key", "item", "c_hat")
    )
    sketches: dict[str, dict[str, int]] = {}
    for r in latest.collect():
        sketches.setdefault(r["key"], {})[r["item"]] = r["c_hat"]

    exact = (
        ev.groupBy(
            F.col("event_type").cast("string").alias("key"),
            F.col("user_id").cast("string").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    true_counts: dict[str, dict[str, int]] = {}
    for r in exact:
        true_counts.setdefault(r["key"], {})[r["item"]] = r["n"]

    assert set(sketches) == set(true_counts)
    for key, tc in true_counts.items():
        sk = sketches[key]
        assert len(sk) <= CAP
        n_key = sum(tc.values())
        bound = n_key / (CAP + 1)
        for item, true_n in tc.items():
            if true_n > bound:
                assert item in sk, (key, item, true_n, bound)
        for item, c_hat in sk.items():
            assert c_hat <= tc[item]
            assert tc[item] - c_hat <= bound
    assert last_batch is not None and last_batch >= 3  # restart really resumed


@pytest.mark.slow
def test_moments_stream_restart_equals_batch_gate(spark, tmp_path):
    """Streaming moments maintenance (twin of q126): drain the events
    table through moments_stream in two runs with a checkpoint restart in
    between; the final per-key (n, s1, s2) must equal the batch integer-
    cents moments EXACTLY (integer monoids — slicing/restart cannot
    perturb them), and the z-gate evaluated against the streamed moments
    must flag exactly the rows profiling.zscore_outliers flags."""
    import os

    from pyspark.sql import Window

    from stream_cdc_spark.operators import profiling
    from stream_cdc_spark.streaming.stateful import moments_stream

    ev = load(spark, SF_SMALL, "events").select("event_id", "event_type", "value")
    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt-mom")
    outdir = str(tmp_path / "out-mom")
    parts = (
        ev.repartition(6)
        .rdd.mapPartitionsWithIndex(lambda i, it: ((i, list(it)),))
        .collect()
    )
    os.makedirs(indir, exist_ok=True)

    def write_slice(i, rows):
        spark.createDataFrame(rows, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(indir, f"slice={i}"))

    for i, rows in parts[:3]:
        write_slice(i, rows)

    def emit(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(outdir)

    def run_to_completion():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir + "/slice=*")
        )
        q = (
            moments_stream(stream.select("event_type", "value"))
            .writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_to_completion()
    for i, rows in parts[3:]:
        write_slice(i, rows)
    run_to_completion()

    emitted = spark.read.parquet(outdir)
    latest = (
        emitted.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(F.desc("batch_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "n", "s1", "s2", "mean", "var")
    )
    got = {r.event_type: r for r in latest.collect()}

    vi = F.round(F.col("value") * F.lit(100.0)).cast("bigint")
    batch = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vi.cast("decimal(38,0)")).alias("s1"),
        F.sum((vi * vi).cast("decimal(38,0)")).alias("s2"),
    )
    for r in batch.collect():
        g = got[r.event_type]
        assert (g.n, g.s1, g.s2) == (r.n, r.s1, r.s2), r.event_type

    # gate equivalence: z computed from the streamed moments flags
    # exactly the rows the batch operator flags
    mom = latest.select(
        "event_type",
        F.col("mean").alias("m_mean"),
        F.col("var").alias("m_var"),
    )
    z = (vi.cast("double") - F.col("m_mean")) / F.sqrt(F.col("m_var"))
    stream_flagged = {
        r.event_id
        for r in ev.join(F.broadcast(mom), "event_type")
        .filter(F.col("m_var") > 0)
        .filter(F.abs(z) >= 3.0)
        .collect()
    }
    batch_flagged = {
        r.event_id
        for r in profiling.zscore_outliers(
            ev, key_col="event_type", id_col="event_id", value_col="value"
        ).collect()
    }
    assert stream_flagged == batch_flagged and len(batch_flagged) > 0


@pytest.mark.slow
def test_gram_stream_restart_equals_batch_and_pca(spark, tmp_path):
    """Streaming Gram/PCA statistics maintenance (twin of q112): drain
    the embeddings table through gram_stream in two runs with a
    checkpoint restart in between; the final (i, j, s_q) state must
    equal batch similarity.gram_matrix EXACTLY (integer monoids — the
    shared gram_partials_fn accumulator makes bit-equality structural,
    not coincidental), the count row must equal the corpus count, and a
    PCA fit from the drained statistics must be bit-identical to
    fit_pca over the same corpus."""
    import os

    import numpy as np
    from pyspark.sql import Window

    from stream_cdc_spark.operators import similarity
    from stream_cdc_spark.streaming.stateful import gram_stream

    emb = load(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt-gram")
    outdir = str(tmp_path / "out-gram")
    parts = (
        emb.repartition(6)
        .rdd.mapPartitionsWithIndex(lambda i, it: ((i, list(it)),))
        .collect()
    )
    os.makedirs(indir, exist_ok=True)

    def write_slice(i, rows):
        spark.createDataFrame(rows, emb.schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(indir, f"slice={i}"))

    for i, rows in parts[:3]:
        write_slice(i, rows)

    def emit(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(outdir)

    def run_to_completion():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir + "/slice=*")
        )
        q = (
            gram_stream(stream)
            .writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_to_completion()
    for i, rows in parts[3:]:
        write_slice(i, rows)
    run_to_completion()

    latest = (
        spark.read.parquet(outdir)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("i", "j").orderBy(F.desc("batch_id"))
            ),
        )
        .filter(F.col("rn") == 1)
    )
    streamed = {
        (r["i"], r["j"]): r["s_q"]
        for r in latest.select("i", "j", "s_q").collect()
    }
    n_stream = streamed.pop((-1, -1))
    assert n_stream == emb.count()
    batch = {
        (r["i"], r["j"]): r["s_q"]
        for r in similarity.gram_matrix(emb).collect()
    }
    assert streamed == batch  # bit-exact integers, every (i, j) cell

    rows = [
        {"i": i, "j": j, "s_q": s} for (i, j), s in streamed.items()
    ]
    mean_s, comps_s = similarity.pca_from_gram(rows, n_stream, n_components=4)
    mean_b, comps_b = similarity.fit_pca(emb, n_components=4)
    assert np.array_equal(mean_s, mean_b)
    assert np.array_equal(comps_s, comps_b)
