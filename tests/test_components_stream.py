"""IncrementalComponentsSnapshot: streaming dedup-cluster maintenance.

Equality standard mirrors test_lsh_snapshot.py: after any drain —
including across a checkpoint restart and under the leveled compaction
tier — labels() must be bit-equal to dedup.connected_components over
the union of all edge batches.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stream_cdc_spark.operators import dedup
from stream_cdc_spark.streaming.components import (
    IncrementalComponentsSnapshot,
    flatten_parent_log,
)
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL
import pytest


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a bigint, id_b bigint")


def _doc_edges(spark):
    """The q64 edge set: >= 0.5 exact-Jaccard shingle pairs."""
    d = load(spark, SF_SMALL, "documents")
    return dedup.ngram_jaccard_pairs(d).filter(
        F.col("jaccard") >= 0.5
    ).select("id_a", "id_b")


def _labels_set(df):
    return {(r["vertex"], r["component"]) for r in df.collect()}


def test_streaming_equals_batch_after_drain_and_restart(spark, tmp_path):
    """Drain the q64 edge set in two streaming runs with a checkpoint
    restart; labels() must equal batch connected_components exactly."""
    edges = _doc_edges(spark).localCheckpoint(eager=True)
    indir, ckpt, state = (str(tmp_path / p) for p in ("in", "ckpt", "state"))
    os.makedirs(indir, exist_ok=True)

    parts = (
        edges.repartition(4)
        .rdd.mapPartitionsWithIndex(lambda i, it: ((i, list(it)),))
        .collect()
    )

    def write_slice(i, rows):
        spark.createDataFrame(rows, edges.schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(indir, f"slice={i}"))

    snap = IncrementalComponentsSnapshot(state)

    def run():
        stream = (
            spark.readStream.schema(edges.schema)
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

    got = _labels_set(snap.labels(spark))
    want = _labels_set(dedup.connected_components(edges))
    assert got == want
    assert len(want) > 0


@pytest.mark.slow
def test_transitive_merges_and_representative_relabel(spark, tmp_path):
    """Later batches merge existing components transitively, and a new
    smaller vertex id becomes the representative of the merged cluster —
    the forest must relabel the WHOLE absorbed component through the
    parent log, not just the new edge's endpoints."""
    state = str(tmp_path / "state")
    snap = IncrementalComponentsSnapshot(state)
    snap.foreach_batch(_edges(spark, [(1, 2), (5, 6), (30, 31)]), 0)
    assert _labels_set(snap.labels(spark)) == {
        (1, 1), (2, 1), (5, 5), (6, 5), (30, 30), (31, 30),
    }
    # one edge chains BOTH existing components together
    snap.foreach_batch(_edges(spark, [(2, 6)]), 1)
    assert _labels_set(snap.labels(spark)) == {
        (1, 1), (2, 1), (5, 1), (6, 1), (30, 30), (31, 30),
    }
    # a NEW vertex with the smallest id joins via a chain of new edges:
    # every member of the merged cluster must relabel to 0
    snap.foreach_batch(_edges(spark, [(0, 9), (9, 5)]), 2)
    want = dedup.connected_components(
        _edges(spark, [(1, 2), (5, 6), (30, 31), (2, 6), (0, 9), (9, 5)])
    )
    assert _labels_set(snap.labels(spark)) == _labels_set(want)
    reps = {
        r["component"]: r["size"]
        for r in snap.representatives(spark).collect()
    }
    assert reps == {0: 6, 30: 2}


@pytest.mark.slow
def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Re-running the same micro-batch id overwrites its own subdirs and
    changes nothing — the batch-versioned exactly-once rule."""
    state = str(tmp_path / "state")
    snap = IncrementalComponentsSnapshot(state)
    snap.foreach_batch(_edges(spark, [(1, 2)]), 0)
    snap.foreach_batch(_edges(spark, [(2, 3)]), 1)
    first = _labels_set(snap.labels(spark))
    assert first == {(1, 1), (2, 1), (3, 1)}
    snap.foreach_batch(_edges(spark, [(2, 3)]), 1)  # torn-write replay
    assert _labels_set(snap.labels(spark)) == first


@pytest.mark.slow
def test_redundant_and_self_loop_edges(spark, tmp_path):
    """Edges inside an existing component commit nothing (read-exclusion
    makes the skipped dir unobservable); a self-loop registers its vertex
    as a singleton component, matching batch CC's vertex set."""
    state = str(tmp_path / "state")
    snap = IncrementalComponentsSnapshot(state)
    snap.foreach_batch(_edges(spark, [(1, 2), (2, 3)]), 0)
    before = sorted(os.listdir(os.path.join(state, "members")))
    snap.foreach_batch(_edges(spark, [(1, 3)]), 1)  # already connected
    assert sorted(os.listdir(os.path.join(state, "members"))) == before
    snap.foreach_batch(_edges(spark, [(7, 7)]), 2)  # self-loop
    want = dedup.connected_components(
        _edges(spark, [(1, 2), (2, 3), (1, 3), (7, 7)])
    )
    assert _labels_set(snap.labels(spark)) == _labels_set(want)
    assert (7, 7) in _labels_set(snap.labels(spark))


@pytest.mark.slow
def test_leveled_compaction_restart_equality(spark, tmp_path):
    """Same equality contract with the leveled state tier active
    (compact_every=1, major_every=2: the sequence crosses L1 delta folds
    AND a full path-compressing fold)."""
    state = str(tmp_path / "state")
    snap = IncrementalComponentsSnapshot(state, compact_every=1, major_every=2)
    batches = [
        [(10, 11), (20, 21), (30, 31)],
        [(11, 21)],          # merge 10s with 20s
        [(1, 31)],           # new min joins the 30s
        [(21, 31), (40, 41)],  # everything but 40s becomes one cluster
        [(2, 3)],
    ]
    for i, b in enumerate(batches):
        snap.foreach_batch(_edges(spark, b), i)
    # a fresh sink object over the same state dir (restart) reads equal
    reread = IncrementalComponentsSnapshot(state)
    want = dedup.connected_components(
        _edges(spark, [p for b in batches for p in b])
    )
    assert _labels_set(reread.labels(spark)) == _labels_set(want)
    assert _labels_set(snap.labels(spark)) == _labels_set(want)


def test_all_empty_slices_give_empty_labels(spark, tmp_path):
    """A corpus with zero qualifying pairs must give an EMPTY labels
    relation on both sides of q135 — the batch plan (connected
    components over the union of empty slices) and the sink drained
    with the same slices — so q135 stays empty-not-ERR at a scale
    factor with no near-dups."""
    empty = _edges(spark, [])
    got = dedup.connected_components(
        empty.unionByName(empty).unionByName(empty)
    )
    assert got.columns == ["vertex", "component"]
    assert got.count() == 0
    snap = IncrementalComponentsSnapshot(str(tmp_path / "s"))
    for i in range(3):
        snap.foreach_batch(empty, i)
    assert snap.labels(spark).count() == 0


def test_labels_never_ride_a_shuffle_join(spark, tmp_path):
    """The 100 TB property: members/ (the corpus-sized table) is only
    ever probed broadcast — a SortMergeJoin or ShuffledHashJoin in the
    labels plan would mean the vertex registry shuffles per read."""
    state = str(tmp_path / "state")
    snap = IncrementalComponentsSnapshot(state)
    snap.foreach_batch(_edges(spark, [(1, 2), (5, 6)]), 0)
    snap.foreach_batch(_edges(spark, [(2, 6)]), 1)
    plan = snap.labels(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_flatten_parent_log_compresses_chains(spark):
    """A depth-5 chain flattens to direct root pointers in O(log depth)
    pointer-jumping passes."""
    log = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (1, 0)], "child bigint, parent bigint"
    )
    flat = {
        (r["child"], r["parent"]) for r in flatten_parent_log(log).collect()
    }
    assert flat == {(5, 0), (4, 0), (3, 0), (2, 0), (1, 0)}


@pytest.mark.slow
def test_lsh_snapshot_cluster_state_matches_batch_rollup(spark, tmp_path):
    """cluster_state=True: the LSH sink folds each batch's committed
    matches into the union-find forest in the same pass, so clusters()
    equals dedup.connected_components over the full accumulated match
    set — the continuous form of the q64/q130 rollup — and the min-id
    component IS the survivorship representative. Replaying a batch
    changes nothing (the forest inherits the matches' exactly-once
    rule)."""
    from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot

    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    parts = (
        d.repartition(3)
        .rdd.mapPartitionsWithIndex(lambda i, it: ((i, list(it)),))
        .collect()
    )
    snap = LshDedupSnapshot(str(tmp_path / "state"), cluster_state=True)
    for i, rows in parts:
        snap.foreach_batch(spark.createDataFrame(rows, d.schema), i)

    got = _labels_set(snap.clusters(spark))
    want = _labels_set(
        dedup.connected_components(
            snap.matches(spark).select(
                F.col("dup_of").alias("id_a"), F.col("doc_id").alias("id_b")
            )
        )
    )
    assert got == want
    assert len(want) > 0
    # replay the last batch: cluster state must not move
    i, rows = parts[-1]
    snap.foreach_batch(spark.createDataFrame(rows, d.schema), i)
    assert _labels_set(snap.clusters(spark)) == got
    # without cluster_state the reader refuses with guidance
    plain = LshDedupSnapshot(str(tmp_path / "state2"))
    import pytest

    with pytest.raises(ValueError, match="cluster_state=True"):
        plain.clusters(spark)


@pytest.mark.slow
def test_lsh_dedup_cli_cluster_state_env_knob(spark, tmp_path, monkeypatch):
    """CLUSTER_STATE=1 on the PIPELINE=lsh_dedup entrypoint wires the
    forest through the registry/env config: after one drain,
    clusters() equals connected_components over the emitted
    match set."""
    from stream_cdc_spark import main as M
    from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot

    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "lsh_dedup")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("DOCS_PATH", "/root/testdata/sf0.001")
    monkeypatch.setenv("CURATION_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    monkeypatch.setenv("CLUSTER_STATE", "1")
    assert M.main() == 0
    snap = LshDedupSnapshot(state, cluster_state=True)
    got = _labels_set(snap.clusters(spark))
    want = _labels_set(
        dedup.connected_components(
            snap.matches(spark).select(
                F.col("dup_of").alias("id_a"), F.col("doc_id").alias("id_b")
            )
        )
    )
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_cluster_state_late_enable_backfills_history(spark, tmp_path):
    """Enabling cluster_state on a state dir that already holds matches
    history must NOT silently ignore the historical pairs (review
    finding): the first cluster-enabled batch backfills the whole
    committed match set, so clusters() covers every pair ever emitted
    and the survivorship roots are the true historical minima."""
    from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot

    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    parts = (
        d.repartition(3)
        .rdd.mapPartitionsWithIndex(lambda i, it: ((i, list(it)),))
        .collect()
    )
    state = str(tmp_path / "state")
    plain = LshDedupSnapshot(state)  # history accrues WITHOUT clusters
    for i, rows in parts[:2]:
        plain.foreach_batch(spark.createDataFrame(rows, d.schema), i)
    assert plain.matches(spark).count() > 0

    enabled = LshDedupSnapshot(state, cluster_state=True)  # restart
    i, rows = parts[2]
    enabled.foreach_batch(spark.createDataFrame(rows, d.schema), i)
    got = _labels_set(enabled.clusters(spark))
    want = _labels_set(
        dedup.connected_components(
            enabled.matches(spark).select(
                F.col("dup_of").alias("id_a"), F.col("doc_id").alias("id_b")
            )
        )
    )
    assert got == want and len(want) > 0
    # replaying the backfill batch is exact (its own forest dirs are
    # invisible at its read bound, so the union recomputes identically)
    enabled.foreach_batch(spark.createDataFrame(rows, d.schema), i)
    assert _labels_set(enabled.clusters(spark)) == got


@pytest.mark.slow
def test_distributed_fallback_equals_driver_union_find(spark, tmp_path, monkeypatch):
    """Past DRIVER_CC_MAX_EDGES the merge graph resolves through the
    distributed connected_components instead of the driver union-find;
    both must produce the identical min-label fixpoint. Force the
    fallback with a tiny bound and replay the transitive-merge scenario."""
    from stream_cdc_spark.streaming import components as C

    batches = [
        [(1, 2), (5, 6), (30, 31)],
        [(2, 6)],
        [(0, 9), (9, 5)],
    ]
    driver = IncrementalComponentsSnapshot(str(tmp_path / "a"))
    for i, b in enumerate(batches):
        driver.foreach_batch(_edges(spark, b), i)

    monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 0)  # always distributed
    dist = IncrementalComponentsSnapshot(str(tmp_path / "b"))
    for i, b in enumerate(batches):
        dist.foreach_batch(_edges(spark, b), i)

    want = _labels_set(
        dedup.connected_components(
            _edges(spark, [p for b in batches for p in b])
        )
    )
    assert _labels_set(driver.labels(spark)) == want
    assert _labels_set(dist.labels(spark)) == want
