"""Compaction wired into the foreachBatch sinks: results must be
bit-identical with and without compaction, replay must stay idempotent
ACROSS a compaction boundary, empty batches must write nothing, and the
curation restart path must reject LSH parameter drift (the stamp now
survives the state read — round-5 advice)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.streaming import statedir
from stream_cdc_spark.streaming.curation import CurationPipeline
from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL


def _slices(spark, n):
    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    parts = (
        d.repartition(n)
        .rdd.mapPartitionsWithIndex(lambda i, it: ((i, list(it)),))
        .collect()
    )
    return [
        spark.createDataFrame(rows, "doc_id bigint, text string")
        for _, rows in sorted(parts)
    ]


def _pairs(snap, spark):
    return sorted(
        (r["dup_of"], r["doc_id"])
        for r in snap.matches(spark).select("doc_id", "dup_of").distinct().collect()
    )


@pytest.mark.slow
def test_snapshot_results_identical_with_compaction(spark, tmp_path):
    """8 micro-batches, compact_every=3 vs compaction off: identical
    matches and processed-doc registry, bounded dirs for the compacted
    run (<= every batch dirs + 1 compact dir per table)."""
    batches = _slices(spark, 8)
    plain = LshDedupSnapshot(str(tmp_path / "plain"), compact_every=0)
    compacted = LshDedupSnapshot(str(tmp_path / "comp"), compact_every=3)
    for i, b in enumerate(batches):
        plain.foreach_batch(b, i)
        compacted.foreach_batch(b, i)
    assert _pairs(compacted, spark) == _pairs(plain, spark)
    assert (
        compacted.processed(spark).count() == plain.processed(spark).count()
    )
    for sub in ("sigs", "index", "counts", "matches"):
        c = statedir.dir_counts(os.path.join(str(tmp_path / "comp"), sub))
        assert c["compact"] == 1, (sub, c)
        assert c["batch"] <= 3, (sub, c)


@pytest.mark.slow
def test_snapshot_replay_across_compaction_boundary(spark, tmp_path):
    """Replay the exact batch whose trigger performed the fold: the
    re-fold is a no-op and the rewritten outputs equal the first run —
    the idempotence rule survives compaction (round-5 verdict task 1)."""
    batches = _slices(spark, 6)
    snap = LshDedupSnapshot(str(tmp_path / "s"), compact_every=4)
    for i, b in enumerate(batches[:5]):
        snap.foreach_batch(b, i)  # batch 4's trigger folds batches 0-3
    want = _pairs(snap, spark)
    n = snap.processed(spark).count()
    snap.foreach_batch(batches[4], 4)  # torn-write replay of batch 4
    assert _pairs(snap, spark) == want
    assert snap.processed(spark).count() == n
    snap.foreach_batch(batches[5], 5)  # stream continues normally
    assert snap.processed(spark).count() > n


def test_snapshot_empty_batch_writes_nothing(spark, tmp_path):
    """An effectively-empty micro-batch commits no dirs (round-5 wrote 4
    empty dirs per idle trigger) and later batches are unaffected."""
    snap = LshDedupSnapshot(str(tmp_path / "s"))
    body = "the quick brown fox jumps over the lazy dog tonight"
    snap.foreach_batch(
        spark.createDataFrame([(1, body)], "doc_id bigint, text string"), 0
    )
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    snap.foreach_batch(empty, 1)
    for sub in ("sigs", "index", "counts", "matches"):
        c = statedir.dir_counts(os.path.join(str(tmp_path / "s"), sub))
        assert c["batch"] == 1, (sub, c)  # only batch 0 committed
    snap.foreach_batch(
        spark.createDataFrame([(2, body)], "doc_id bigint, text string"), 2
    )
    assert _pairs(snap, spark) == [(1, 2)]


@pytest.mark.slow
def test_snapshot_bucketed_mode_matches_plain(spark, tmp_path):
    """bucketed=True: same matches, and after a fold the compacted index
    is readable as its registered (band, key)-bucketed table with a
    bucketed scan (the shuffle-free join side at 100 TB)."""
    batches = _slices(spark, 6)
    plain = LshDedupSnapshot(str(tmp_path / "plain"), compact_every=0)
    bucketed = LshDedupSnapshot(
        str(tmp_path / "bk"), compact_every=3, bucketed=True, num_buckets=4
    )
    for i, b in enumerate(batches):
        plain.foreach_batch(b, i)
        bucketed.foreach_batch(b, i)
    assert _pairs(bucketed, spark) == _pairs(plain, spark)
    rel = bucketed.bucketed_index(spark)
    assert rel is not None
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = rel.select("band", "key").limit(50)
        joined = rel.join(probe.hint("shuffle_merge"), ["band", "key"])
        joined.collect()
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )


@pytest.mark.slow
def test_curation_results_identical_with_compaction(spark, tmp_path):
    batches = _slices(spark, 6)
    plain = CurationPipeline(str(tmp_path / "plain"), compact_every=0)
    comp = CurationPipeline(str(tmp_path / "comp"), compact_every=2)
    for i, b in enumerate(batches):
        plain.foreach_batch(b, i)
        comp.foreach_batch(b, i)
    for pipe_a, pipe_b in ((plain, comp),):
        a = sorted(map(tuple, pipe_a.decisions(spark).collect()))
        b = sorted(map(tuple, pipe_b.decisions(spark).collect()))
        assert a == b
    assert (
        sorted(map(tuple, plain.corpus(spark).collect()))
        == sorted(map(tuple, comp.corpus(spark).collect()))
    )
    for sub in ("decisions", "kept", "index"):
        c = statedir.dir_counts(os.path.join(str(tmp_path / "comp"), sub))
        assert c["compact"] == 1 and c["batch"] <= 2, (sub, c)


def test_curation_param_drift_fails_loudly_on_restart(spark, tmp_path):
    """Restarting the pipeline with different LSH parameters against the
    persisted index must raise (mismatched probes silently admit every
    near-dup) — the guard now fires because the state read preserves the
    parameter stamp instead of forcing INDEX_SCHEMA over it."""
    state = str(tmp_path / "state")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")],
        "doc_id bigint, text string",
    )
    CurationPipeline(state, min_tokens=2).foreach_batch(docs, 0)
    drifted = CurationPipeline(state, min_tokens=2, bands=8)
    more = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="parameter mismatch"):
        drifted.foreach_batch(more, 1)
    # matching params keep working, across a compaction too
    ok = CurationPipeline(state, min_tokens=2, compact_every=1)
    ok.foreach_batch(more, 1)
    d = {r["doc_id"]: r["keep"] for r in ok.decisions(spark).collect()}
    assert d[3] is False  # near-dup of doc 1 caught through the index


@pytest.mark.slow
def test_sinks_accept_injected_object_store_fs(spark, tmp_path):
    """Both foreachBatch sinks thread an injected StateFS through every
    statedir call: running the LSH snapshot sink entirely on the
    S3-semantics fake (no dir rename exists; per-object deletes) with
    folds occurring mid-run must produce matches identical to the
    default-FS sink."""
    from tests.test_statedir_model import ObjectStoreFS

    batches = _slices(spark, 6)
    plain = LshDedupSnapshot(str(tmp_path / "plain"), compact_every=0)
    s3 = LshDedupSnapshot(
        str(tmp_path / "s3"), compact_every=2, fs=ObjectStoreFS(),
    )
    for i, b in enumerate(batches):
        plain.foreach_batch(b, i)
        s3.foreach_batch(b, i)
    assert _pairs(s3, spark) == _pairs(plain, spark)
    # folds actually ran on the fake (manifests exist at the state root)
    import glob

    assert glob.glob(os.path.join(str(tmp_path / "s3"), "*", "*.commit"))


def test_bucketed_deltas_make_major_fold_a_per_bucket_merge(spark, tmp_path):
    """With bucket_cols, a fold publishes its snapshot bucketed (the
    manifest records the spec), and the NEXT fold over that snapshot plus
    the per-batch dirs above it reads the snapshot as a forced bucketed
    scan — 'Bucketed: true', one partition per bucket, ZERO Exchange on
    the snapshot side — so total state is merged per bucket, never
    re-shuffled; only the batch tail is routed into buckets, and the new
    snapshot's file count is bounded by twice num_buckets, not by input
    splits."""
    import json

    SCHEMA = "doc_id bigint, band int, key bigint"
    NB = 4
    BK = dict(bucket_cols=["band", "key"], num_buckets=NB)
    root = str(tmp_path / "index")
    fs = statedir._DEFAULT_FS

    def batch(b, n=4000):
        return spark.range(b * n, (b + 1) * n).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 16).cast("int").alias("band"),
            (F.col("id") % 997).alias("key"),
        )

    def write(lo, hi):
        for b in range(lo, hi):
            batch(b).coalesce(1).write.mode("overwrite").parquet(
                statedir.batch_dir(root, b)
            )

    def data_files(d):
        return [f for f in os.listdir(d) if not f.startswith(("_", "."))]

    write(0, 4)
    assert statedir.compact(spark, root, SCHEMA, 4, **BK)
    snap = os.path.join(root, "compact=000000004")
    man = json.load(open(snap + ".commit"))
    assert man["bucket"] == {"cols": ["band", "key"], "n": NB}
    assert sorted(man["files"]) == sorted(data_files(snap))

    # the next fold's input: the snapshot a bucketed scan, and the only
    # Exchange is the tail's bucket routing
    write(4, 6)
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    try:
        df, tmps = statedir._fold_input(
            spark, root, SCHEMA, 6, fs, ["band", "key"], NB
        )
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        tree = plan.split("\n\n")[0].splitlines()
        assert plan.count("Bucketed: true") == 1
        # one Exchange, and it routes the path-read tail, not the
        # catalog-registered snapshot
        ex = [i for i, line in enumerate(tree) if "Exchange" in line]
        assert len(ex) == 1, plan
        assert "Scan parquet" in tree[ex[0] + 1], plan
        assert "spark_catalog" not in tree[ex[0] + 1], plan
        assert "hashpartitioning(band" in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )
        for t in tmps:
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    assert statedir.compact(spark, root, SCHEMA, 6, **BK)
    snap = os.path.join(root, "compact=000000006")
    data = data_files(snap)
    # NB one-bucket snapshot tasks + NB one-bucket tail tasks
    assert len(data) <= 2 * NB, len(data)
    man = json.load(open(snap + ".commit"))
    assert man["bucket"] == {"cols": ["band", "key"], "n": NB}
    got = statedir.read_state(spark, root, SCHEMA, 1 << 62)
    assert got.count() == 6 * 4000
    assert got.select("doc_id").distinct().count() == 6 * 4000
    # converged: nothing below the new snapshot survives
    c = statedir.dir_counts(root)
    assert (c["compact"], c["batch"]) == (1, 0)


@pytest.mark.slow
def test_bucketed_fold_preserves_column_metadata_stamp(spark, tmp_path):
    """The LSH parameter stamp rides column metadata; a bucketed fold
    reads the previous bucketed snapshot through a catalog table whose
    DDL schema strips metadata, so the fold must re-attach it —
    otherwise the drift guard silently disarms exactly on bucketed
    deployments (the round-5 bug class, bucketed edition)."""
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    SCHEMA = "doc_id bigint, band int, key bigint"
    root = str(tmp_path / "index")
    stamp = {"lsh_k": 3, "lsh_bands": 16}
    st = StructType([
        StructField("doc_id", LongType()),
        StructField("band", IntegerType(), metadata=stamp),
        StructField("key", LongType()),
    ])
    for b in range(4):
        spark.createDataFrame(
            [(b * 10 + j, j % 4, j) for j in range(8)], st
        ).coalesce(1).write.mode("overwrite").parquet(
            statedir.batch_dir(root, b)
        )
    BK = dict(bucket_cols=["band", "key"], num_buckets=4)
    assert statedir.compact(spark, root, SCHEMA, 2, **BK)
    assert statedir.compact(spark, root, SCHEMA, 4, **BK)
    got = statedir.read_state(spark, root, SCHEMA, 1 << 62)
    assert dict(got.schema["band"].metadata or {}) == stamp
    assert got.count() == 32
