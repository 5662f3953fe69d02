"""Continuous IVF ANN index maintenance over an INSERT-ONLY feed — the
versioned sink with every row at version 0, the shape a version-less
feed takes: after any drain the persisted index's topk must equal batch
similarity.ivf_ann_topk over the union of all admitted batches,
bit-for-bit, across replays / restarts / overlapping redeliveries /
compaction folds — the equality standard set by
tests/test_lsh_snapshot.py. The probe must also keep its scale shape:
query side broadcast, index side pruned by the probed-cell IN filter,
no corpus-sized Exchange."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.operators import similarity
from stream_cdc_spark.streaming import statedir
from stream_cdc_spark.streaming.ann_index import (
    ANN_VLEDGER_SCHEMA,
    VersionedAnnIndexSnapshot,
    centroid_digest,
    versioned_ann_topk_over_events,
)
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL


def _emb(spark):
    return load(spark, SF_SMALL, "embeddings")


def _v0(df):
    """An insert-only feed as the index admits it: every row at
    version 0."""
    return df.withColumn("version", F.lit(0).cast("bigint"))


def _snap(path, centroids, **kw):
    return VersionedAnnIndexSnapshot(str(path), centroids, **kw)


def _vecs(spark, rows):
    return _v0(
        spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    )


def _centroids_df(spark):
    return _emb(spark).filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<float>").alias("cv"),
    )


def _centroids(spark):
    return [(r["cid"], list(r["cv"])) for r in _centroids_df(spark).collect()]


def _queries(spark):
    return _emb(spark).filter(F.col("vec_id") < 5)


def _slices(spark):
    """Overlapping micro-batches: slice i redelivers every vec_id that is
    i mod 7 as well as owning i mod 3 — the union covers the corpus and
    the overlaps exercise the exactly-once admission guard."""
    emb = _v0(_emb(spark))
    return [
        emb.filter((F.col("vec_id") % 3 == i) | (F.col("vec_id") % 7 == i))
        for i in range(3)
    ]


def _batch_topk(spark):
    return sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                _emb(spark), _queries(spark), _centroids_df(spark),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )


def _snap_topk(snap, spark):
    return sorted(map(tuple, snap.topk(spark, _queries(spark)).collect()))


def test_drained_topk_equals_batch_operator(spark, tmp_path):
    snap = _snap(tmp_path / "s", _centroids(spark), compact_every=2)
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    assert _snap_topk(snap, spark) == _batch_topk(spark)


@pytest.mark.slow
def test_overlapping_batches_admit_exactly_once(spark, tmp_path):
    snap = _snap(tmp_path / "s", _centroids(spark))
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    vecs = snap.vectors(spark)
    n = _emb(spark).count()
    assert vecs.count() == n  # redelivered ids admitted once
    assert vecs.select("vec_id").distinct().count() == n


@pytest.mark.slow
def test_replay_and_restart_preserve_equality(spark, tmp_path):
    """Replaying the in-flight batch (torn-write crash model) and
    continuing through a fresh sink object over the same state dir — the
    checkpoint-restart shape — changes nothing."""
    slices = _slices(spark)
    snap = _snap(tmp_path / "s", _centroids(spark), compact_every=2)
    for i, b in enumerate(slices[:2]):
        snap.foreach_batch(b, i)
    snap.foreach_batch(slices[1], 1)  # replay of the last in-flight batch
    snap2 = _snap(tmp_path / "s", _centroids(spark), compact_every=2)
    snap2.foreach_batch(slices[2], 2)
    assert _snap_topk(snap2, spark) == _batch_topk(spark)


def test_conflicting_intra_batch_duplicates_admit_deterministically(
    spark, tmp_path
):
    """The same vec_id carrying DIFFERENT vectors inside one batch must
    admit a deterministic winner (the lexicographically-smallest vector),
    so a replay of the batch admits the same row — dropDuplicates would
    pick an arbitrary one. Cross-batch, first-wins: a later re-embedding
    under an already-admitted id is dropped."""
    cents = _centroids(spark)
    dim = len(cents[0][1])
    lo, hi = [0.25] * dim, [0.75] * dim
    conflicted = _vecs(spark, [(1, hi), (1, lo), (2, lo)])
    snap = _snap(tmp_path / "s", cents)
    snap.foreach_batch(conflicted, 0)
    got = {
        r["vec_id"]: [round(x, 6) for x in r["vv"]]
        for r in snap.vectors(spark).collect()
    }
    want = [round(x, 6) for x in lo]
    assert got == {1: want, 2: want}
    # first-wins across batches: a re-embedding of id 2 is dropped whole
    snap.foreach_batch(_vecs(spark, [(2, hi)]), 1)
    got2 = {
        r["vec_id"]: [round(x, 6) for x in r["vv"]]
        for r in snap.vectors(spark).collect()
    }
    assert got2 == got


@pytest.mark.slow
def test_drifted_sink_refuses_before_restructuring_statedir(spark, tmp_path):
    """The stamp guard must fire BEFORE maybe_compact: a sink built with
    mismatched centroids must not fold/delete batch dirs of an index it
    is refused from probing. compact_every=1 would fold on the very next
    admit if the guard ran after compaction."""
    cents = _centroids(spark)
    slices = _slices(spark)
    root = os.path.join(str(tmp_path / "s"), "vectors")
    snap = _snap(tmp_path / "s", cents, compact_every=10**9)
    for i in range(2):
        snap.foreach_batch(slices[i], i)
    before = statedir.dir_counts(root)
    dim = len(cents[0][1])
    drifted = _snap(tmp_path / "s", [(0, [1.0] * dim)], compact_every=1)
    with pytest.raises(ValueError, match="parameter mismatch"):
        drifted.foreach_batch(slices[2], 2)
    assert statedir.dir_counts(root) == before  # statedir untouched


def test_empty_batch_commits_nothing(spark, tmp_path):
    snap = _snap(tmp_path / "s", _centroids(spark))
    snap.foreach_batch(_slices(spark)[0], 0)
    snap.foreach_batch(_vecs(spark, []), 1)
    c = statedir.dir_counts(os.path.join(str(tmp_path / "s"), "vectors"))
    assert c["batch"] == 1, c


@pytest.mark.slow
def test_centroid_drift_refused_on_probe_and_admit(spark, tmp_path):
    """Same parameters under a different centroid set share NO cell
    geometry — a probe would silently score the wrong cells. Both the
    probe and the admission path must refuse a mismatched digest; the
    matching sink keeps working, across a compaction fold too."""
    cents = _centroids(spark)
    slices = _slices(spark)
    snap = _snap(tmp_path / "s", cents, compact_every=1)
    snap.foreach_batch(slices[0], 0)
    dim = len(cents[0][1])
    drifted = _snap(tmp_path / "s", [(0, [1.0] * dim), (1, [-1.0] * dim)])
    with pytest.raises(ValueError, match="parameter mismatch"):
        drifted.topk(spark, _queries(spark))
    with pytest.raises(ValueError, match="parameter mismatch"):
        drifted.foreach_batch(slices[1], 1)
    ok = _snap(tmp_path / "s", cents, compact_every=1)
    for i, b in enumerate(slices[1:], start=1):
        ok.foreach_batch(b, i)  # fold fires every batch; stamp survives
    assert _snap_topk(ok, spark) == _batch_topk(spark)


@pytest.mark.slow
def test_probe_plan_prunes_cells_and_never_shuffles_corpus(spark, tmp_path):
    """The probe's scale shape: the probed-cell set reaches the parquet
    scan as a pushed IN filter (row-group pruning on the cell-sorted
    index) and the scoring join broadcasts the query side — the corpus
    never rides an Exchange or a sort-merge join."""
    snap = _snap(tmp_path / "s", _centroids(spark))
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    out = snap.topk(spark, _queries(spark))
    out.collect()
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "In(cell" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_compaction_keeps_cells_clustered(spark, tmp_path):
    """Batch commits are cell-sorted; the fold transform must keep the
    compacted snapshot cell-sorted too (within every file), or row-group
    stats stop pruning probes exactly when most of the corpus lives in
    compacted state. Also re-checks equality and the stamp across the
    fold."""
    import glob

    import pyarrow.parquet as pq

    snap = _snap(tmp_path / "s", _centroids(spark), compact_every=1)
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    compact_dirs = [
        p
        for p in glob.glob(str(tmp_path / "s" / "vectors" / "compact=*"))
        if os.path.isdir(p)  # skip the .commit manifest markers
    ]
    assert compact_dirs, "compact_every=1 must have folded"
    files = glob.glob(os.path.join(sorted(compact_dirs)[-1], "*.parquet"))
    assert files
    for f in files:
        cells = pq.read_table(f, columns=["cell"])["cell"].to_pylist()
        assert cells == sorted(cells), f
    assert _snap_topk(snap, spark) == _batch_topk(spark)


def test_in_memory_fold_matches_batch(spark):
    got = sorted(
        map(
            tuple,
            versioned_ann_topk_over_events(
                [("upsert", b) for b in _slices(spark)],
                _centroids_df(spark), _queries(spark),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )
    assert got == _batch_topk(spark)


@pytest.mark.slow
def test_ann_index_cli_mode_drains_corpus_and_deletes(
    spark, tmp_path, monkeypatch
):
    """PIPELINE=ann_index_versioned with EMB_VERSION_COL= empty (the
    version-less feed, every row at version 0): one drain over the
    sf0.001 embeddings admits the whole corpus into the persisted index
    — plus a DELETES_PATH id feed drained into the TombstoneLog as a
    second query — and the probe equals the batch operator over the
    LIVE set. A misnamed deletes id column refuses loudly instead of
    tombstoning nothing."""
    import pytest as _pytest

    from stream_cdc_spark import main as M

    cents = _centroids(spark)
    cpath = str(tmp_path / "centroids.parquet")
    _centroids_df(spark).toPandas().to_parquet(cpath)
    dead = _emb(spark).filter(F.col("vec_id") % 5 == 0).select("vec_id")
    deletes_dir = str(tmp_path / "deletes")
    dead.coalesce(1).write.mode("overwrite").parquet(deletes_dir)
    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "ann_index_versioned")
    monkeypatch.setenv("EMB_VERSION_COL", "")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("EMB_PATH", "/root/testdata/sf0.001")
    monkeypatch.setenv("CENTROIDS_PATH", cpath)
    monkeypatch.setenv("ANN_STATE_DIR", state)
    monkeypatch.setenv("DELETES_PATH", deletes_dir)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    monkeypatch.setenv("DELETES_ID_COL", "wrong_col")
    with _pytest.raises(ValueError, match="DELETES_PATH feed"):
        M.main()
    # the refused startup left NO orphan query behind: the deletion
    # feed validates (and starts) BEFORE the admit query, so a
    # validation failure cannot leak a running admit stream whose
    # half-written checkpoint breaks the retry (round-13 fix — this
    # exact test flaked on the collision)
    assert not spark.streams.active
    monkeypatch.delenv("DELETES_ID_COL")
    assert M.main() == 0
    snap = _snap(state, cents)
    live = _emb(spark).join(dead, "vec_id", "left_anti")
    want = sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                live, _queries(spark), _centroids_df(spark),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )
    assert _snap_topk(snap, spark) == want


def _sq_ranges(spark):
    from stream_cdc_spark.streaming.ann_index import train_sq_ranges

    return train_sq_ranges(_emb(spark))


@pytest.mark.slow
def test_sq8_tier_matches_float_tier_ranking(spark, tmp_path):
    """The sq8 storage tier (int8 codes, quartered state) must reach the
    float tier's exact (q_id, c_id, rank) ranking on the real corpus —
    the margin test: per-element quantization error is <= half a step of
    (hi-lo)/254, far below the corpus's neighbor separation — and must
    be fold/restart-bit-invariant on its own scores."""
    cents, ranges = _centroids(spark), _sq_ranges(spark)
    slices = _slices(spark)
    f32 = _snap(tmp_path / "f", cents, compact_every=2)
    sq8 = _snap(
        tmp_path / "q", cents, compact_every=2,
        storage="sq8", sq_ranges=ranges,
    )
    for i, b in enumerate(slices):
        f32.foreach_batch(b, i)
        sq8.foreach_batch(b, i)
    rank_f = {(r["q_id"], r["c_id"], r["rank"])
              for r in f32.topk(spark, _queries(spark)).collect()}
    got = sorted(map(tuple, sq8.topk(spark, _queries(spark)).collect()))
    rank_q = {(q, c, rk) for q, c, _, rk in got}
    assert rank_q == rank_f
    # replay + restart through a fresh sink: scores bit-equal
    sq8.foreach_batch(slices[2], 2)
    again = _snap(
        tmp_path / "q", cents, compact_every=2,
        storage="sq8", sq_ranges=ranges,
    )
    assert sorted(map(tuple, again.topk(spark, _queries(spark)).collect())) == got


@pytest.mark.slow
def test_sq8_tier_quarters_state_bytes(spark, tmp_path):
    """The point of the tier: on-disk vector payload ~1 B/dim instead of
    4 B/dim. Assert the sq8 state dir is well under half the float one
    (parquet framing overhead keeps it above a pure 4x)."""
    cents, ranges = _centroids(spark), _sq_ranges(spark)
    f32 = _snap(tmp_path / "f", cents, compact_every=1)
    sq8 = _snap(
        tmp_path / "q", cents, compact_every=1,
        storage="sq8", sq_ranges=ranges,
    )
    for i, b in enumerate(_slices(spark)):
        f32.foreach_batch(b, i)
        sq8.foreach_batch(b, i)

    def _bytes(root):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fn in os.walk(root)
            for f in fn
            if f.endswith(".parquet")
        )

    nf, nq = _bytes(str(tmp_path / "f")), _bytes(str(tmp_path / "q"))
    assert nq < nf / 2, (nq, nf)


def test_sq8_stamp_guards_tier_and_ranges(spark, tmp_path):
    """Cross-tier probes and drifted quantizer ranges must refuse."""
    cents, ranges = _centroids(spark), _sq_ranges(spark)
    slices = _slices(spark)
    sq8 = _snap(tmp_path / "s", cents, storage="sq8", sq_ranges=ranges)
    sq8.foreach_batch(slices[0], 0)
    f32 = _snap(tmp_path / "s", cents)
    with pytest.raises(ValueError, match="parameter mismatch"):
        f32.topk(spark, _queries(spark))
    drifted = _snap(
        tmp_path / "s", cents, storage="sq8",
        sq_ranges=[(lo - 1.0, hi + 1.0) for lo, hi in ranges],
    )
    with pytest.raises(ValueError, match="parameter mismatch"):
        drifted.foreach_batch(slices[1], 1)
    with pytest.raises(ValueError):
        _snap(tmp_path / "x", cents, storage="sq8")
    with pytest.raises(ValueError, match="storage"):
        _snap(tmp_path / "x", cents, storage="int4")


@pytest.mark.slow
def test_deletions_hide_vectors_from_probes(spark, tmp_path):
    """Tombstoned vec_ids vanish from topk — bit-equal to the batch
    operator over the LIVE set; delete replay, unknown ids and the
    never-readmit rule behave like the retrieval index's."""
    emb = _emb(spark)
    slices = _slices(spark)
    snap = _snap(tmp_path / "s", _centroids(spark), compact_every=2)
    snap.foreach_batch(slices[0], 0)
    snap.foreach_batch(slices[1], 1)
    dead = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    snap.delete_batch(
        dead.unionByName(
            spark.createDataFrame([(10**12,)], "vec_id bigint")
        ),
        0,
    )
    snap.foreach_batch(slices[2], 2)  # admission after deletion
    snap.delete_batch(dead, 0)  # replay of the delete batch
    live = emb.join(dead, "vec_id", "left_anti")
    want = sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                live, _queries(spark), _centroids_df(spark),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )
    assert _snap_topk(snap, spark) == want
    # a deleted id can never be re-admitted (first-wins ledger)
    snap.foreach_batch(_v0(emb.filter(F.col("vec_id") % 5 == 0)), 3)
    assert _snap_topk(snap, spark) == want


@pytest.mark.slow
def test_rebuild_is_the_vacuum_for_deleted_vectors(spark, tmp_path):
    """A same-parameter rebuild_ann_index reads only the live set, so
    the destination physically lacks the deleted vectors and carries no
    tombstones — the erasure half of delete_batch."""
    from stream_cdc_spark.operators.migration import rebuild_ann_index

    emb = _emb(spark)
    cents = _centroids(spark)
    src = _snap(tmp_path / "src", cents)
    for i, b in enumerate(_slices(spark)):
        src.foreach_batch(b, i)
    dead = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    src.delete_batch(dead, 0)
    dst = _snap(tmp_path / "dst", cents)
    n = rebuild_ann_index(spark, src, dst)
    assert n == emb.count() - dead.count()
    assert dst.vectors(spark).join(dead, "vec_id", "left_semi").count() == 0
    assert not dst._tomb.read_or_none(spark)
    assert _snap_topk(dst, spark) == _snap_topk(src, spark)


def test_ann_index_sink_rejects_misnamed_centroid_columns(spark, tmp_path):
    """A centroids parquet with the wrong column names must fail with the
    descriptive ValueError, not a bare KeyError deep in the row loop."""
    from stream_cdc_spark.sources import sink_registry

    bad = str(tmp_path / "bad_centroids.parquet")
    _centroids_df(spark).toDF("centroid_id", "vec").toPandas().to_parquet(bad)
    with pytest.raises(ValueError, match="cid bigint, cv array<float>"):
        sink_registry.create(
            "ann_index_versioned", state_dir=str(tmp_path / "s"),
            centroids_path=bad,
        )


def test_centroid_digest_is_order_insensitive_and_exact():
    a = [(1, [0.5, 0.25]), (2, [1.0, -1.0])]
    b = [(2, [1.0, -1.0]), (1, [0.5, 0.25])]
    assert centroid_digest(a) == centroid_digest(b)
    # any bitwise vector change is a different index
    assert centroid_digest(a) != centroid_digest([(1, [0.5, 0.25]), (2, [1.0, -0.999999])])
    with pytest.raises(ValueError):
        _snap("/tmp/x", [])


@pytest.mark.slow
def test_bucketed_ledger_equality_and_shuffle_free_admission(
    spark, tmp_path
):
    """bucketed=True folds the slim ledger/ admission state into a
    snapshot bucketed by the admission key (vec_id, version) (vectors/ stays cell-sorted for the probe):
    (1) everything stays bit-equal through bucketed folds, replays and
    restarts; (2) the redelivery anti-join against the snapshot is a
    SortMergeJoin whose LEDGER side reads the bucketed table with NO
    Exchange — only the incoming batch shuffles (the 100 TB shape the
    round-11 boundary note asked for: the corpus-sized side of the
    per-trigger guard never moves, and the probe's cell clustering is
    untouched because admission never reads vectors/)."""
    import re

    slices = _slices(spark)
    snap = _snap(
        tmp_path / "s", _centroids(spark), compact_every=1,
        bucketed=True, num_buckets=4,
    )
    for i, b in enumerate(slices[:2]):
        snap.foreach_batch(b, i)
    snap.foreach_batch(slices[1], 1)  # replay across a bucketed fold
    snap2 = _snap(
        tmp_path / "s", _centroids(spark), compact_every=1,
        bucketed=True, num_buckets=4,
    )
    snap2.foreach_batch(slices[2], 2)
    assert _snap_topk(snap2, spark) == _batch_topk(spark)
    # fold once more so the ledger is snapshot-only (no batch tail),
    # then inspect the admission join plan with broadcast disabled —
    # at real scale the ledger exceeds broadcast, so SMJ is the shape
    # that matters
    key = list(snap2._KEY)  # the ledger's bucket columns
    statedir.compact(
        spark, snap2.ledger_dir, ANN_VLEDGER_SCHEMA, 3,
        bucket_cols=key, num_buckets=4,
    )
    rels = snap2._ledger_relations(spark, 3)
    assert len(rels) == 1  # snapshot only, no tail
    # the batch side keyed the way the sink's _build keys it: the
    # version-0 literal goes through statedir.key_version, which keeps
    # it in the join keys
    probe = _slices(spark)[0].select(
        "vec_id",
        statedir.key_version(F.col("version"), F.col("vec_id")).alias(
            "version"
        ),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = probe.join(rels[0].select(*key), key, "left_anti")
        j.collect()
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )
    tree = plan.split("== Initial Plan ==")[0]  # the executed final plan
    assert "SortMergeJoin" in tree, plan
    assert "Bucketed: true" in plan, plan  # ledger read as bucketed table
    # exactly ONE Exchange in the executed tree: the probe side; the
    # bucketed ledger scan must not shuffle
    n_exchanges = len(re.findall(r"Exchange \(\d+\)", tree))
    assert n_exchanges == 1, plan


@pytest.mark.slow
def test_folds_apply_tombstones_to_vectors(spark, tmp_path):
    """Compaction folds of vectors/ keep LIVE rows only — eventual
    physical erasure without an operator-initiated vacuum. The folded
    state is probe-equal to the tombstone-aware read, the deleted rows
    are physically gone from the compacted tier, never-readmit holds
    (the ledger keeps deleted ids through folds), and a replay across
    the tombstone-applying fold changes nothing."""
    emb = _emb(spark)
    slices = _slices(spark)
    snap = _snap(tmp_path / "s", _centroids(spark), compact_every=1)
    snap.foreach_batch(slices[0], 0)
    snap.foreach_batch(slices[1], 1)
    dead = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id")
    snap.delete_batch(dead, 0)
    snap.foreach_batch(slices[2], 2)   # compact_every=1: folds 0..1
    snap.foreach_batch(slices[2], 2)   # replay across the applying fold
    # one more trigger so batch=2 itself folds under the tombstones
    snap.foreach_batch(_vecs(spark, []), 3)
    live = emb.join(dead, "vec_id", "left_anti")
    want = sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                live, _queries(spark), _centroids_df(spark),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )
    assert _snap_topk(snap, spark) == want
    # physically gone from the folded tier (raw state, before the
    # read-path exclusion): every admitted-but-deleted row was folded
    assert snap.vectors(spark).join(dead, "vec_id", "left_semi").count() == 0
    # the ledger still remembers them: never-readmit
    assert snap.ledger(spark).join(dead, "vec_id", "left_semi").count() == dead.count()
    snap.foreach_batch(_v0(emb.filter(F.col("vec_id") % 5 == 0)), 4)
    assert _snap_topk(snap, spark) == want
    assert snap.vectors(spark).join(dead, "vec_id", "left_semi").count() == 0


def _moments_ref(spark):
    """Batch reference: per-cell residual moments over the whole corpus
    assigned one-shot."""
    assigned = similarity.ivf_assign(
        _emb(spark), _centroids_df(spark)
    )
    d = F.col("dist_bp").cast("decimal(38,0)")
    return sorted(
        map(
            tuple,
            assigned.groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(d).cast("decimal(38,0)").alias("s"),
                F.sum(d * d).cast("decimal(38,0)").alias("s2"),
            )
            .collect(),
        )
    )


@pytest.mark.slow
def test_drift_moments_equal_batch_across_folds_and_restart(
    spark, tmp_path
):
    """The drift monitor's per-cell residual moments are a sum monoid:
    after overlapping redeliveries, folds and a restart, the reduced
    moments equal the one-shot batch reduction over the admitted
    corpus."""
    slices = _slices(spark)
    snap = _snap(tmp_path / "s", _centroids(spark), compact_every=1)
    for i, b in enumerate(slices[:2]):
        snap.foreach_batch(b, i)
    snap.foreach_batch(slices[1], 1)  # replay across a fold
    snap2 = _snap(tmp_path / "s", _centroids(spark), compact_every=1)  # restart
    snap2.foreach_batch(slices[2], 2)
    got = sorted(map(tuple, snap2.moments(spark).collect()))
    assert got == _moments_ref(spark)


@pytest.mark.slow
def test_drift_report_flags_synthetic_drift_and_stays_quiet(
    spark, tmp_path
):
    """drift_report is the 'when to migrate' signal: a corpus drawn
    from the training distribution stays quiet; a synthetically
    drifted ingest (vectors far off every centroid) flags its cells.
    min_n suppresses noise cells; the report is fold/restart-stable."""
    from stream_cdc_spark.streaming.ann_index import (
        train_residual_baseline,
    )

    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    cents_df = spark.createDataFrame(cents, "cid bigint, cv array<float>")
    # training sample: tight clusters around each centroid
    train = spark.createDataFrame(
        [(i, [1.0 + 0.01 * (i % 5), 0.01 * (i % 3)]) for i in range(50)]
        + [(100 + i, [-1.0 - 0.01 * (i % 5), 0.01 * (i % 3)])
           for i in range(50)],
        "vec_id bigint, embedding array<float>",
    )
    baseline = train_residual_baseline(train, cents_df)
    # stationary ingest: same distribution, new ids
    snap = _snap(tmp_path / "s", cents, compact_every=1)
    stationary = _vecs(
        spark,
        [(1000 + i, [1.0 + 0.01 * (i % 5), 0.01 * (i % 3)])
         for i in range(200)]
        + [(2000 + i, [-1.0 - 0.01 * (i % 5), 0.01 * (i % 3)])
           for i in range(200)],
    )
    snap.foreach_batch(stationary, 0)
    quiet = snap.drift_report(spark, baseline, z=3.0, min_n=100)
    assert quiet.filter(F.col("drifted")).count() == 0, quiet.collect()
    # drifted ingest: cell 0's arrivals move far off its centroid
    drifted = _vecs(
        spark, [(3000 + i, [0.3, 0.9 + 0.01 * (i % 5)]) for i in range(200)]
    )
    snap.foreach_batch(drifted, 1)
    # materialize NOW: a later fold deletes the files this lazy plan
    # listed (the statedir single-reader rule)
    report = sorted(
        map(
            tuple,
            snap.drift_report(spark, baseline, z=3.0, min_n=100).collect(),
        )
    )
    flagged = {r[0] for r in report if r[5]}
    assert 0 in flagged, report
    # cell 1 saw only stationary arrivals: still quiet
    assert 1 not in flagged
    # restart + fold invariance of the report
    snap.foreach_batch(_vecs(spark, []), 2)
    again = _snap(tmp_path / "s", cents, compact_every=1)
    r2 = sorted(
        map(
            tuple,
            again.drift_report(spark, baseline, z=3.0, min_n=100).collect(),
        )
    )
    assert r2 == report


def test_single_version_read_switches_off_at_the_first_update(
    spark, tmp_path
):
    """An insert-only state proves its one version from the ledger's
    parquet footers, and the probe then scores live rows without the
    version-max lookup. The first re-embedding (version 1, moved onto
    query 0's vector) ends the proof, and the lookup takes over: both
    reads stay bit-equal to the batch operator over the latest images."""
    snap = _snap(tmp_path / "s", _centroids(spark), compact_every=2)
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    assert snap._tables.one_value("ledger", "version") == 0
    assert _snap_topk(snap, spark) == _batch_topk(spark)
    q0 = _emb(spark).filter(F.col("vec_id") == 0).first()["embedding"]
    snap.foreach_batch(
        spark.createDataFrame(
            [(7, 1, q0)],
            "vec_id bigint, version bigint, embedding array<float>",
        ),
        3,
    )
    assert snap._tables.one_value("ledger", "version") is None
    latest = _emb(spark).select(
        "vec_id",
        F.when(F.col("vec_id") == 7, F.lit(q0).cast("array<float>"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    want = sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                latest, _queries(spark), _centroids_df(spark),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )
    assert _snap_topk(snap, spark) == want
    assert (0, 7) in {(r[0], r[1]) for r in want}
