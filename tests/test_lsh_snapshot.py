"""LshDedupSnapshot: the foreachBatch bulk-drain twin of lsh_dedup_stream.

Must emit the same distinct candidate pairs as the batch LSH family and
the state-store streaming path, stay idempotent across checkpoint
restart/replay, guard capped-doc redelivery, and enforce the per-bucket
admission cap with _bucket_matches' members-only comparison semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stream_cdc_spark.operators import dedup
from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


BODY = "the quick brown fox jumps over the lazy dog near the riverbank today"


@pytest.mark.slow
def test_snapshot_matches_batch_candidates_across_restart(spark, tmp_path):
    """Drain the documents table in two streaming runs with a checkpoint
    restart; distinct emitted pairs must equal batch minhash_lsh_pairs
    candidates at >= 0.8 signature agreement (same hash expressions)."""
    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    indir, ckpt, state = (str(tmp_path / p) for p in ("in", "ckpt", "state"))
    os.makedirs(indir, exist_ok=True)

    parts = (
        d.repartition(4)
        .rdd.mapPartitionsWithIndex(lambda i, it: ((i, list(it)),))
        .collect()
    )

    def write_slice(i, rows):
        spark.createDataFrame(rows, d.schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(indir, f"slice={i}"))

    snap = LshDedupSnapshot(state)

    def run():
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir + "/slice=*")
        )
        q = (
            stream.writeStream.foreachBatch(snap.sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    for i, rows in parts[:2]:
        write_slice(i, rows)
    run()
    for i, rows in parts[2:]:
        write_slice(i, rows)
    run()

    got = {
        (r["dup_of"], r["doc_id"])
        for r in snap.matches(spark).select("doc_id", "dup_of").distinct().collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(d)
        .filter(F.col("est_jaccard") >= 0.8)
        .collect()
    }
    assert got == want
    assert len(want) > 0
    # every doc with a nonempty shingle set is registered exactly once
    n_docs = d.filter(F.size(F.split("text", " ")) >= 3).count()
    assert snap.processed(spark).count() == n_docs


@pytest.mark.slow
def test_snapshot_replayed_batch_is_idempotent(spark, tmp_path):
    """Re-running the same micro-batch id overwrites its own subdirs and
    changes nothing — the batch-versioned exactly-once rule."""
    state = str(tmp_path / "state")
    snap = LshDedupSnapshot(state)
    b0 = _docs(spark, [(1, BODY), (2, BODY)])
    snap.foreach_batch(b0, 0)
    first = sorted(map(tuple, snap.matches(spark).collect()))
    assert first == [(2, 1, 1_000_000)]
    snap.foreach_batch(b0, 0)  # torn-write replay of the same batch
    assert sorted(map(tuple, snap.matches(spark).collect())) == first
    assert snap.processed(spark).count() == 2


def test_snapshot_cross_batch_redelivery_is_silent(spark, tmp_path):
    """A doc redelivered in a LATER batch (different batch id) must not
    re-emit its matches — sigs/ is the full processed-doc registry, so
    this covers capped docs too (the state-store path's ADVICE gap)."""
    state = str(tmp_path / "state")
    snap = LshDedupSnapshot(state, max_bucket=1)
    snap.foreach_batch(_docs(spark, [(1, BODY)]), 0)
    # doc 9 matches resident 1 but the bucket (cap 1) is full -> capped
    snap.foreach_batch(_docs(spark, [(9, BODY)]), 1)
    assert sorted(map(tuple, snap.matches(spark).collect())) == [
        (9, 1, 1_000_000)
    ]
    # redeliver the capped doc in a later batch: nothing new
    snap.foreach_batch(_docs(spark, [(9, BODY)]), 2)
    assert sorted(map(tuple, snap.matches(spark).collect())) == [
        (9, 1, 1_000_000)
    ]


def test_snapshot_cap_matches_bucket_semantics(spark, tmp_path):
    """max_bucket=1: the second identical doc matches the resident but is
    not admitted; the third matches ONLY the resident (not the capped
    second doc) — exactly _bucket_matches' members-only comparison."""
    state = str(tmp_path / "state")
    snap = LshDedupSnapshot(state, max_bucket=1)
    snap.foreach_batch(_docs(spark, [(1, BODY)]), 0)
    snap.foreach_batch(_docs(spark, [(5, BODY), (7, BODY)]), 1)
    got = sorted(
        (r["doc_id"], r["dup_of"])
        for r in snap.matches(spark).collect()
    )
    # 5 matches 1; 7 matches 1 and 5? NO on 5: within batch 1, doc 5 was
    # capped out of every bucket (resident 1 fills them), so 7 only
    # matches 1
    assert got == [(5, 1), (7, 1)]
    # the index never grew past the cap
    idx = snap._read(
        spark,
        snap.index_dir,
        "doc_id bigint, band int, key bigint",
        1 << 62,
    )
    per_bucket = idx.groupBy("band", "key").count().agg(F.max("count")).first()[0]
    assert per_bucket == 1


def test_partial_agreement_near_dup_is_caught(spark, tmp_path):
    """Regression for the transform-arity bug: F.transform passes the
    array index as a second lambda argument, so a seeded two-parameter
    lambda collapsed every signature position to the same value and
    agreement became all-or-nothing — exact dups still matched, genuine
    NEAR-dups (0.8 <= agreement < 1.0) were silently dropped. This pair
    agrees on 59/64 positions, catching exactly that failure mode in
    both streaming paths."""
    from stream_cdc_spark.operators.dedup import minhash_signatures
    from stream_cdc_spark.streaming.stateful import banded_signatures

    base = " ".join(f"w{i}" for i in range(60))
    variant = (
        " ".join(f"w{i}" for i in range(56)) + " z0 z1 z2 z3"
    )
    df = _docs(spark, [(1, base), (2, variant)])
    sigs = {
        r["id"]: r["signature"]
        for r in minhash_signatures(df, "text", "doc_id").collect()
    }
    agree = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    assert 52 <= agree < 64  # partial agreement above the 0.8 gate

    # streaming signature relation must agree bit-for-bit with batch
    stream_sigs = {
        r["doc_id"]: r["signature"]
        for r in banded_signatures(df, "text", "doc_id")
        .select("doc_id", "signature")
        .dropDuplicates(["doc_id"])
        .collect()
    }
    assert stream_sigs == sigs

    # and the snapshot path emits the pair with the exact agreement ppm
    snap = LshDedupSnapshot(str(tmp_path / "state"))
    snap.foreach_batch(df, 0)
    got = {
        (r["doc_id"], r["dup_of"]): r["agree_ppm"]
        for r in snap.matches(spark).collect()
    }
    assert got == {(2, 1): 1_000_000 * agree // 64}


@pytest.mark.slow
def test_snapshot_index_never_rides_a_shuffle_join(spark, tmp_path):
    """The 100 TB property: the corpus-side state tables (index/, sigs/)
    are probed by broadcast hash joins with the batch/candidate side
    built — a SortMergeJoin or ShuffledHashJoin anywhere in the matches
    plan would mean the accumulated corpus state is being shuffled per
    micro-batch."""
    state = str(tmp_path / "state")
    snap = LshDedupSnapshot(state)
    snap.foreach_batch(_docs(spark, [(1, BODY), (2, BODY + " tail")]), 0)
    built = snap._build(
        spark, _docs(spark, [(9, BODY), (10, BODY + " other end")]), 1
    )
    assert built is not None
    _, _, matches = built
    plan = matches._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.slow
def test_lsh_dedup_cli_mode_drains_corpus(spark, tmp_path, monkeypatch):
    """PIPELINE=lsh_dedup entrypoint: one drain over the
    sf0.001 corpus emits the batch LSH candidate pairs and registers
    every shingled doc — the snapshot sink wired through the registry +
    env config exactly like the curation mode."""
    from stream_cdc_spark import main as M
    from stream_cdc_spark.tables import load as _load

    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "lsh_dedup")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("DOCS_PATH", "/root/testdata/sf0.001")
    monkeypatch.setenv("CURATION_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    assert M.main() == 0
    snap = LshDedupSnapshot(state)
    d = _load(spark, SF_SMALL, "documents").select("doc_id", "text")
    got = {
        (r["dup_of"], r["doc_id"])
        for r in snap.matches(spark).select("doc_id", "dup_of").distinct().collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(d)
        .filter(F.col("est_jaccard") >= 0.8)
        .collect()
    }
    assert got == want and len(want) > 0


def test_snapshot_within_batch_cap_orders_by_id(spark, tmp_path):
    """Within one batch, bucket slots go to smaller doc_ids first and an
    admitted smaller peer IS matched by later arrivals."""
    state = str(tmp_path / "state")
    snap = LshDedupSnapshot(state, max_bucket=1)
    snap.foreach_batch(_docs(spark, [(5, BODY), (7, BODY)]), 0)
    got = sorted((r["doc_id"], r["dup_of"]) for r in snap.matches(spark).collect())
    assert got == [(7, 5)]  # 5 admitted (smaller id), 7 matched against it


@pytest.mark.slow
def test_snapshot_leveled_restart_equality(spark, tmp_path):
    """Same restart-equality contract with the leveled state tier active
    (compact_every=1, major_every=2 so the two runs cross delta folds AND
    a full fold): distinct pairs equal the batch candidate set."""
    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    indir, ckpt, state = (str(tmp_path / p) for p in ("in", "ckpt", "state"))
    os.makedirs(indir, exist_ok=True)
    parts = (
        d.repartition(4)
        .rdd.mapPartitionsWithIndex(lambda i, it: ((i, list(it)),))
        .collect()
    )
    snap = LshDedupSnapshot(state, compact_every=1, major_every=2)

    def run():
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir + "/slice=*")
        )
        q = (
            stream.writeStream.foreachBatch(snap.sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    for i, rows in parts[:2]:
        spark.createDataFrame(rows, d.schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(indir, f"slice={i}"))
    run()
    for i, rows in parts[2:]:
        spark.createDataFrame(rows, d.schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(indir, f"slice={i}"))
    run()

    got = {
        (r["dup_of"], r["doc_id"])
        for r in snap.matches(spark).select("doc_id", "dup_of").distinct().collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(d)
        .filter(F.col("est_jaccard") >= 0.8)
        .collect()
    }
    assert got == want and len(want) > 0
