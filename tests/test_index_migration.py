"""Offline index migration (operators/migration.py): the rebuild path
the stamp guards point at. Equality contracts: a migrated ANN index is
bit-equal to a from-scratch drain of the same vectors under the new
parameters (and passes the new stamp guard); a re-banded LSH snapshot's
index state equals a from-scratch one-batch drain under the new band
count, and subsequent admission behaves identically from either state.
Sketch-level changes refuse with replay guidance."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.operators.migration import (
    rebuild_ann_index,
    rebuild_lsh_snapshot,
)
from stream_cdc_spark.streaming.ann_index import (
    ANN_SCHEME_VERSIONED,
    VersionedAnnIndexSnapshot,
)
from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot
from stream_cdc_spark.streaming.retrieval_index import RETR_SCHEME_VERSIONED
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL


def test_index_stamps_keep_their_literals():
    """Every persisted index root carries its scheme stamp, and a root
    opens only under the identical string: changing either literal
    would refuse every index already written."""
    assert ANN_SCHEME_VERSIONED == (
        "ivf-argmin-sqdist-bp10000-mincid/cosine/v1+versioned-maxread/v1"
    )
    assert RETR_SCHEME_VERSIONED == (
        "tok-whitespace/bm25-k1.2-b0.75-idfq1e6-int/tfidf-ppm/v1"
        "+versioned-latest/v1"
    )


def _emb(spark):
    return load(spark, SF_SMALL, "embeddings")


def _v0(df):
    """An insert-only feed as the index admits it: every row at
    version 0."""
    return df.withColumn("version", F.lit(0).cast("bigint"))


def _snap(path, centroids, **kw):
    return VersionedAnnIndexSnapshot(str(path), centroids, **kw)


def _cents(spark, mod):
    return [
        (r["vec_id"], list(r["embedding"]))
        for r in _emb(spark).filter(F.col("vec_id") % mod == 0).collect()
    ]


def _queries(spark):
    return _emb(spark).filter(F.col("vec_id") < 5)


def _emb_slices(spark):
    emb = _v0(_emb(spark))
    return [
        emb.filter((F.col("vec_id") % 3 == i) | (F.col("vec_id") % 7 == i))
        for i in range(3)
    ]


def _topk(snap, spark):
    return sorted(map(tuple, snap.topk(spark, _queries(spark)).collect()))


@pytest.mark.slow
def test_ann_rebuild_under_new_centroids_equals_fresh_drain(spark, tmp_path):
    """Migrate a float32 index (with folds in its history) to a NEW
    centroid set: the destination must pass its own stamp guard and be
    bit-equal (state and probe) to a from-scratch sink fed the same
    vectors."""
    old_c, new_c = _cents(spark, 100), _cents(spark, 50)
    src = _snap(tmp_path / "src", old_c, compact_every=2)
    for i, b in enumerate(_emb_slices(spark)):
        src.foreach_batch(b, i)
    dst = _snap(tmp_path / "dst", new_c)
    n = rebuild_ann_index(spark, src, dst)
    assert n == _emb(spark).count()
    fresh = _snap(tmp_path / "fresh", new_c)
    fresh.foreach_batch(_v0(_emb(spark)), 0)
    assert _topk(dst, spark) == _topk(fresh, spark)
    assert (
        sorted(map(tuple, dst.vectors(spark).collect()))
        == sorted(map(tuple, fresh.vectors(spark).collect()))
    )
    # the old probe refuses the migrated state; the new one works
    stale = _snap(tmp_path / "dst", old_c)
    with pytest.raises(ValueError, match="parameter mismatch"):
        stale.topk(spark, _queries(spark))


@pytest.mark.slow
def test_migrated_state_survives_a_stream_resuming_at_batch_zero(
    spark, tmp_path
):
    """THE migration-publish hazard: a stream resumed into the
    destination with a fresh checkpoint runs its first trigger at
    batch_id 0, whose read bound excludes every batch dir — state
    published as batch dirs would be invisible to the first-wins guard
    (everything re-admitted) and then OVERWRITTEN by the trigger's own
    batch=0 commit. The compact=0 publish must make the migrated state
    visible to that very first trigger and survive its commit."""
    cents = _cents(spark, 100)
    emb = _v0(_emb(spark))
    old = emb.filter(F.col("vec_id") % 2 == 0)
    src = _snap(tmp_path / "src", cents)
    src.foreach_batch(old, 0)
    dst = _snap(tmp_path / "dst", cents)
    rebuild_ann_index(spark, src, dst)
    # resumed stream, batch 0: redelivers half the migrated ids plus
    # the genuinely-new odd ids
    incoming = emb.filter(
        (F.col("vec_id") % 2 == 1) | (F.col("vec_id") % 4 == 0)
    )
    dst.foreach_batch(incoming, 0)
    vecs = dst.vectors(spark)
    assert vecs.count() == emb.count()  # nothing lost, nothing doubled
    assert vecs.select("vec_id").distinct().count() == emb.count()
    fresh = _snap(tmp_path / "fresh", cents)
    fresh.foreach_batch(emb, 0)
    assert _topk(dst, spark) == _topk(fresh, spark)


@pytest.mark.slow
def test_ann_rebuild_migrates_storage_tier_both_ways(spark, tmp_path):
    """float32 -> sq8 equals a fresh sq8 drain bit-for-bit (same floats
    in, same codes out); sq8 -> float32 reconstructs through the stamped
    affine map and is probe-deterministic."""
    from stream_cdc_spark.streaming.ann_index import train_sq_ranges

    cents, ranges = _cents(spark, 100), train_sq_ranges(_emb(spark))
    src = _snap(tmp_path / "src", cents, compact_every=2)
    for i, b in enumerate(_emb_slices(spark)):
        src.foreach_batch(b, i)
    to_sq8 = _snap(tmp_path / "sq8", cents, storage="sq8", sq_ranges=ranges)
    rebuild_ann_index(spark, src, to_sq8)
    fresh_sq8 = _snap(
        tmp_path / "fresh-sq8", cents, storage="sq8", sq_ranges=ranges
    )
    fresh_sq8.foreach_batch(_v0(_emb(spark)), 0)
    assert _topk(to_sq8, spark) == _topk(fresh_sq8, spark)
    # and back: sq8 -> float32 (lossy by <= half a step, documented);
    # the round-trip equals rebuilding from the dequantized vectors
    back = _snap(tmp_path / "back", cents)
    rebuild_ann_index(spark, to_sq8, back)
    assert _topk(back, spark) == _topk(to_sq8, spark)


@pytest.mark.slow
def test_ann_rebuild_refuses_unsafe_destinations(spark, tmp_path):
    cents = _cents(spark, 100)
    src = _snap(tmp_path / "src", cents)
    src.foreach_batch(_emb_slices(spark)[0], 0)
    with pytest.raises(ValueError, match="share a state dir"):
        rebuild_ann_index(spark, src, _snap(tmp_path / "src", cents))
    dst = _snap(tmp_path / "dst", cents)
    dst.foreach_batch(_emb_slices(spark)[1], 0)
    with pytest.raises(ValueError, match="not\\s+empty"):
        rebuild_ann_index(spark, src, dst)


@pytest.mark.slow
def test_ann_rebuild_keeps_superseded_and_killed_versions_closed(
    spark, tmp_path
):
    """A source with UPDATES: a re-embedded id (version 1 superseded by
    version 2) and an id whose only version an in-band Delete at
    sequence 5 killed. The rebuilt probe equals the source's (and a
    fresh drain of its live images), and redelivering either old
    version to the destination admits nothing — the rebuild keeps
    their ledger rows, so first-wins still drops them. Killed versions
    that src never admitted stay dead too: a late version 3 of the
    killed id, and version 3 of an id whose delete arrived before any
    of its upserts, both admit in dst but are never served, because the
    kill watermarks carry over."""
    cents = _cents(spark, 100)
    emb = _emb(spark).select("vec_id", "embedding")
    v1 = emb.withColumn("version", F.lit(1).cast("bigint"))
    # id 7 is re-embedded onto query 0's vector, so the update is served
    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    v2 = spark.createDataFrame(
        [(7, q0, 2)], "vec_id bigint, embedding array<float>, version bigint"
    )
    unseen = emb.agg(F.max("vec_id")).first()[0] + 1  # never admitted
    killed = spark.createDataFrame(
        [(11, 5), (unseen, 5)], "vec_id bigint, version bigint"
    )
    src = _snap(tmp_path / "src", cents, compact_every=2)
    src.foreach_batch(v1, 0)
    src.foreach_batch(v2, 1)
    src.delete_versions_batch(killed, 0)
    dst = _snap(tmp_path / "dst", cents)
    n = rebuild_ann_index(spark, src, dst)
    assert n == emb.count() - 1  # id 11 has no live version
    want = _topk(src, spark)
    assert _topk(dst, spark) == want
    assert (0, 7) in {(q, c) for q, c, _, _ in want}  # the update is served
    fresh = _snap(tmp_path / "fresh", cents)
    fresh.foreach_batch(
        v1.filter(~F.col("vec_id").isin(7, 11)).unionByName(v2), 0
    )
    assert _topk(fresh, spark) == want
    # both old versions keep their ledger rows: (7, 1), (7, 2), (11, 1)
    assert dst.ledger(spark).filter(F.col("vec_id").isin(7, 11)).count() == 3
    # redeliver the superseded and the killed version: nothing admits
    dst.foreach_batch(v1.filter(F.col("vec_id").isin(7, 11)), 0)
    assert dst.vectors(spark).count() == n
    assert _topk(dst, spark) == want
    # late killed versions on query 0's vector: admitted, never served
    late = spark.createDataFrame(
        [(11, q0, 3), (unseen, q0, 3)],
        "vec_id bigint, embedding array<float>, version bigint",
    )
    dst.foreach_batch(late, 1)
    assert dst.vectors(spark).count() == n + 2
    assert _topk(dst, spark) == want


def _docs_slices(spark):
    d = load(spark, SF_SMALL, "documents")
    return [
        d.filter((F.col("doc_id") % 3 == i) | (F.col("doc_id") % 7 == i))
        for i in range(3)
    ]


def _lsh_state(snap, spark):
    index = sorted(
        map(tuple, snap._tables.read(spark, "index").collect())
    )
    counts = sorted(
        map(
            tuple,
            snap._tables.read(spark, "counts")
            .groupBy("band", "key")
            .agg(F.sum("cnt").alias("cnt"))
            .collect(),
        )
    )
    sigs = sorted(
        (r["doc_id"], tuple(r["signature"]))
        for r in snap.processed(spark).collect()
    )
    return index, counts, sigs


@pytest.mark.slow
def test_lsh_rebanding_equals_fresh_one_batch_drain(spark, tmp_path):
    """Re-band a drained bands=16 snapshot to bands=8: sigs copy over
    verbatim, index/counts equal what a from-scratch bands=8 sink
    computes for the whole corpus in one batch, and a subsequent
    admission batch emits identical matches from either state."""
    slices = _docs_slices(spark)
    src = LshDedupSnapshot(
        str(tmp_path / "src"), bands=16, compact_every=2
    )
    for i, b in enumerate(slices[:2]):  # partial corpus; slice 2 arrives later
        src.foreach_batch(b, i)
    # re-band UP (bands=32, rows=2): higher candidate recall, so future
    # admission from the migrated state has matches to emit
    dst = LshDedupSnapshot(str(tmp_path / "dst"), bands=32)
    n = rebuild_lsh_snapshot(spark, src, dst)
    assert n == src.processed(spark).count()
    fresh = LshDedupSnapshot(str(tmp_path / "fresh"), bands=32)
    fresh.foreach_batch(slices[0].unionByName(slices[1]), 0)
    di, dc, ds = _lsh_state(dst, spark)
    fi, fc, fs = _lsh_state(fresh, spark)
    assert di and (di, dc, ds) == (fi, fc, fs)
    # continue admission from both states: identical future emissions.
    # dst resumes at batch_id 0 — the fresh-checkpoint shape — so this
    # also proves the compact=0 publish is visible to (and survives)
    # the destination's very first trigger. dst's matches log starts
    # empty (migration does not copy history), so after one batch it
    # holds exactly that batch's emissions; fresh's are its log minus
    # the pre-existing snapshot.
    m0 = sorted(map(tuple, fresh.matches(spark).collect()))
    dst.foreach_batch(slices[2], 0)
    fresh.foreach_batch(slices[2], 1)
    m_dst = sorted(map(tuple, dst.matches(spark).collect()))
    m_all = sorted(map(tuple, fresh.matches(spark).collect()))
    m_fresh = sorted((Counter(m_all) - Counter(m0)).elements())
    assert m_dst == m_fresh and m_dst


@pytest.mark.slow
def test_lsh_rebanding_refuses_sketch_changes(spark, tmp_path):
    src = LshDedupSnapshot(str(tmp_path / "src"), bands=16)
    src.foreach_batch(_docs_slices(spark)[0], 0)
    with pytest.raises(ValueError, match="num_hashes"):
        rebuild_lsh_snapshot(
            spark, src,
            LshDedupSnapshot(str(tmp_path / "a"), num_hashes=32, bands=8),
        )
    with pytest.raises(ValueError, match="k differs"):
        rebuild_lsh_snapshot(
            spark, src, LshDedupSnapshot(str(tmp_path / "b"), k=5, bands=8)
        )
    with pytest.raises(ValueError, match="divisible"):
        rebuild_lsh_snapshot(
            spark, src, LshDedupSnapshot(str(tmp_path / "c"), bands=7)
        )
    with pytest.raises(ValueError, match="share a state dir"):
        rebuild_lsh_snapshot(
            spark, src, LshDedupSnapshot(str(tmp_path / "src"), bands=8)
        )
    occupied = LshDedupSnapshot(str(tmp_path / "d"), bands=8)
    occupied.foreach_batch(_docs_slices(spark)[1], 0)
    with pytest.raises(ValueError, match="not\\s+empty"):
        rebuild_lsh_snapshot(spark, src, occupied)
