"""Versioned ANN-index maintenance (streaming/ann_index.py
VersionedAnnIndexSnapshot): embedding UPDATES — the symmetric CDC
widening of q138. After any interleaving of inserts, re-embeddings
(higher versions of the same vec_id), deletes, replays, restarts, folds,
out-of-order and redelivered versions, `topk` must be bit-equal to
batch similarity.ivf_ann_topk over the LATEST LIVE vector of every id
(q03-style version-max compaction composed with q44's IVF probe). Plus
the scheme stamp guard (refusal of a root written under another
scheme), both storage tiers, and the scale shape of admission and probes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.operators import compaction, similarity
from stream_cdc_spark.streaming import statedir
from stream_cdc_spark.streaming.ann_index import (
    ANN_VLEDGER_SCHEMA,
    VersionedAnnIndexSnapshot,
    train_sq_ranges,
)
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL, count_jobs


def _emb(spark):
    return load(spark, SF_SMALL, "embeddings")


def _centroids_df(spark):
    return _emb(spark).filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<float>").alias("cv"),
    )


def _centroids(spark):
    return [(r["cid"], list(r["cv"])) for r in _centroids_df(spark).collect()]


def _queries(spark):
    return _emb(spark).filter(F.col("vec_id") < 5)


def _v1(spark):
    return _emb(spark).select(
        "vec_id", F.lit(1).cast("bigint").alias("version"), "embedding"
    )


def _v2(spark):
    """Re-embeddings: every vec_id % 4 == 1 gets a version-2 vector —
    the REVERSED embedding (exact in every engine, no arithmetic), so
    cells, neighbors and scores all move."""
    return (
        _emb(spark)
        .filter(F.col("vec_id") % 4 == 1)
        .select(
            "vec_id",
            F.lit(2).cast("bigint").alias("version"),
            F.reverse(F.col("embedding")).alias("embedding"),
        )
    )


def _dead_ids(spark):
    return _emb(spark).filter(F.col("vec_id") % 10 == 3).select("vec_id")


def _latest_live(spark, deletes: bool = True):
    """The compacted corpus the sink must match: the reversed embedding
    where an update exists, else the original, minus deleted ids."""
    d = _emb(spark).select(
        "vec_id",
        F.when(F.col("vec_id") % 4 == 1, F.reverse(F.col("embedding")))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    if deletes:
        d = d.join(_dead_ids(spark), "vec_id", "left_anti")
    return d


def _events(spark):
    """Interleaved upserts/re-embeddings/deletes with out-of-order
    versions (v2 of a %3==2 id arrives before its v1), redeliveries of
    both versions, a delete mid-stream and its replay, and late v1
    vectors arriving after both the v2 update and the delete."""
    v1, v2 = _v1(spark), _v2(spark)
    return [
        ("upsert", v1.filter(F.col("vec_id") % 3 != 2)),
        ("upsert", v2.unionByName(
            v1.filter((F.col("vec_id") % 3 != 2) & (F.col("vec_id") % 7 == 0))
        )),
        ("delete", _dead_ids(spark)),
        ("upsert", v1.filter(F.col("vec_id") % 3 == 2).unionByName(
            v2.filter(F.col("vec_id") % 7 == 1)
        )),
        ("delete", _dead_ids(spark)),  # delete replay
    ]


def _batch_topk(spark, deletes: bool = True):
    return sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                _latest_live(spark, deletes), _queries(spark),
                _centroids_df(spark), k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )


def _snap_topk(snap, spark):
    return sorted(map(tuple, snap.topk(spark, _queries(spark)).collect()))


def _drain(snap, spark):
    for i, (kind, b) in enumerate(_events(spark)):
        if kind == "delete":
            snap.delete_batch(b, i)
        else:
            snap.foreach_batch(b, i)


def test_drained_topk_equals_batch_over_latest_images(spark, tmp_path):
    snap = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=2
    )
    _drain(snap, spark)
    assert _snap_topk(snap, spark) == _batch_topk(spark)


@pytest.mark.slow
def test_out_of_order_and_redelivered_versions_admit_exactly_once(
    spark, tmp_path
):
    snap = VersionedAnnIndexSnapshot(str(tmp_path / "s"), _centroids(spark))
    _drain(snap, spark)
    n1, n2 = _emb(spark).count(), _v2(spark).count()
    led = snap.ledger(spark)
    assert led.count() == n1 + n2  # every (id, version) exactly once
    assert led.distinct().count() == n1 + n2
    # the version-max read rule picks version 2 wherever an update exists
    latest = snap._latest_live(spark)
    assert latest.filter(
        (F.col("vec_id") % 4 == 1) & (F.col("version") != 2)
    ).count() == 0


@pytest.mark.slow
def test_replay_and_restart_preserve_equality(spark, tmp_path):
    events = _events(spark)
    snap = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=2
    )
    for i, (kind, b) in enumerate(events[:3]):
        (snap.delete_batch if kind == "delete" else snap.foreach_batch)(b, i)
    snap.foreach_batch(events[1][1], 1)  # replay of an upsert batch
    snap.delete_batch(events[2][1], 2)  # replay of the delete batch
    snap2 = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=2
    )
    for i, (kind, b) in enumerate(events[3:], start=3):
        (snap2.delete_batch if kind == "delete" else snap2.foreach_batch)(b, i)
    assert _snap_topk(snap2, spark) == _batch_topk(spark)


@pytest.mark.slow
def test_folds_erase_superseded_and_tombstoned_rows(spark, tmp_path):
    """Every vectors/ fold keeps only rows that are the latest live
    version at fold time: superseded re-embeddings and deleted ids are
    PHYSICALLY absent from folded tiers (the ledger keeps everything, so
    admission and the version-max read are untouched), and the probe
    stays bit-equal across the fold."""
    snap = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=1
    )
    _drain(snap, spark)
    # one more (empty-able) trigger to fold the full prefix
    empty = _v1(spark).filter(F.lit(False))
    snap.foreach_batch(empty, 9)
    assert _snap_topk(snap, spark) == _batch_topk(spark)
    # the folded tier holds exactly the latest live rows (state_paths
    # returns the parquet FILES; folded ones live under compact= dirs)
    folded = [
        p for p in statedir.state_paths(snap.vectors_dir, 1 << 62)
        if f"{os.sep}compact=" in p
    ]
    assert folded, "expected a compacted vectors/ tier"
    rows = spark.read.parquet(*folded)
    dead = _dead_ids(spark)
    assert rows.join(dead, "vec_id", "left_semi").count() == 0
    assert rows.filter(
        (F.col("vec_id") % 4 == 1) & (F.col("version") == 1)
    ).count() == 0  # superseded v1 erased
    live_n = _latest_live(spark).count()
    assert rows.count() == live_n
    # the ledger still carries every admitted (id, version) pair
    assert snap.ledger(spark).count() == _emb(spark).count() + _v2(
        spark
    ).count()


@pytest.mark.slow
def test_deleted_id_stays_deleted_for_future_versions(spark, tmp_path):
    """A late HIGHER version of a deleted id admits to the ledger but
    can never be read: doc-level tombstones kill current and future
    versions (the version-max rule excludes tombstoned ids before the
    max)."""
    snap = VersionedAnnIndexSnapshot(str(tmp_path / "s"), _centroids(spark))
    _drain(snap, spark)
    late = (
        _emb(spark)
        .filter(F.col("vec_id") % 10 == 3)
        .select(
            "vec_id",
            F.lit(9).cast("bigint").alias("version"),
            F.reverse(F.col("embedding")).alias("embedding"),
        )
    )
    snap.foreach_batch(late, 7)
    assert snap._latest_live(spark).join(
        _dead_ids(spark), "vec_id", "left_semi"
    ).count() == 0
    assert _snap_topk(snap, spark) == _batch_topk(spark)


@pytest.mark.slow
def test_stale_version_in_probed_cell_never_matches(spark, tmp_path):
    """THE versioned-IVF correctness subtlety: a re-embedding can move
    an id to a DIFFERENT cell. When only the STALE version's cell is
    probed, the id must not match at all (its latest lives elsewhere —
    exact IVF semantics), rather than resurrecting the old vector. The
    max-version lookup must therefore come from the ledger, never from
    the pruned scan."""
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    snap = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), cents, quantize_bp=10000
    )
    rows = spark.createDataFrame(
        [(100, 1, [0.9, 0.1]), (200, 1, [0.8, 0.05])],
        "vec_id bigint, version bigint, embedding array<float>",
    )
    snap.foreach_batch(rows, 0)
    # id 100 re-embeds to the OPPOSITE cell
    upd = spark.createDataFrame(
        [(100, 2, [-0.9, -0.1])],
        "vec_id bigint, version bigint, embedding array<float>",
    )
    snap.foreach_batch(upd, 1)
    q = spark.createDataFrame(
        [(7, [1.0, 0.05])], "vec_id bigint, embedding array<float>"
    )
    got = snap.topk(spark, q, k=5, nprobe=1)  # probes cell 0 only
    ids = {r["c_id"] for r in got.collect()}
    assert ids == {200}, ids  # stale v1 of id 100 must NOT match
    # probing both cells finds the latest vector of id 100 (in cell 1)
    both = snap.topk(spark, q, k=5, nprobe=2)
    assert {r["c_id"] for r in both.collect()} == {100, 200}
    # and its score is the LATEST vector's (negative cosine vs q)
    sim_100 = {r["c_id"]: r["sim_bp"] for r in both.collect()}[100]
    assert sim_100 < 0, sim_100


@pytest.mark.slow
def test_conflicting_intra_batch_duplicates_admit_deterministically(
    spark, tmp_path
):
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    snap = VersionedAnnIndexSnapshot(str(tmp_path / "s"), cents)
    dup = spark.createDataFrame(
        [(5, 1, [0.5, 0.5]), (5, 1, [0.25, 0.25]), (5, 2, [0.75, 0.1])],
        "vec_id bigint, version bigint, embedding array<float>",
    )
    snap.foreach_batch(dup, 0)
    rows = {
        (r["vec_id"], r["version"], tuple(round(x, 4) for x in r["vv"]))
        for r in snap.vectors(spark).collect()
    }
    # (5, 1) keeps the lexicographically-smallest vector; (5, 2) admits
    assert rows == {
        (5, 1, (0.25, 0.25)),
        (5, 2, (0.75, 0.1)),
    }, rows
    snap.foreach_batch(dup, 0)  # replay admits nothing new
    assert snap.ledger(spark).count() == 2


@pytest.mark.slow
def test_scheme_stamp_refuses_cross_mode_and_drift(spark, tmp_path):
    cents = _centroids(spark)

    def foreign(path):
        # a sink under another scheme id — the first-wins layout's,
        # which roots written before the versioned layout carry
        snap = VersionedAnnIndexSnapshot(str(path), cents)
        snap._stamp = {
            **snap._stamp,
            "ann_scheme": "ivf-argmin-sqdist-bp10000-mincid/cosine/v1",
        }
        return snap

    foreign(tmp_path / "s").foreach_batch(_v1(spark).limit(50), 0)
    # a root under the other scheme opened by this sink refuses (and
    # vice versa): different scheme ids, the rows are not comparable
    versioned = VersionedAnnIndexSnapshot(str(tmp_path / "s"), cents)
    with pytest.raises(ValueError, match="parameter mismatch"):
        versioned.foreach_batch(_v1(spark).limit(5), 1)
    vsnap = VersionedAnnIndexSnapshot(str(tmp_path / "v"), cents)
    vsnap.foreach_batch(_v1(spark).limit(50), 0)
    with pytest.raises(ValueError, match="parameter mismatch"):
        foreign(tmp_path / "v").foreach_batch(_v1(spark).limit(5), 1)
    # centroid drift refuses too
    drifted = [(c, [x + 0.25 for x in v]) for c, v in cents]
    with pytest.raises(ValueError, match="parameter mismatch"):
        VersionedAnnIndexSnapshot(str(tmp_path / "v"), drifted).topk(
            spark, _queries(spark)
        )


@pytest.mark.slow
def test_probe_plan_prunes_cells_and_broadcasts_latest(spark, tmp_path):
    """Probe scale shape: the probed-cell set reaches the vectors/ scan
    as a pushed IN filter, the max-version lookup and the probes enter
    as broadcasts, and the corpus never rides a sort-merge join or
    cartesian."""
    snap = VersionedAnnIndexSnapshot(str(tmp_path / "s"), _centroids(spark))
    _drain(snap, spark)
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
def test_probe_broadcast_guard_falls_back_past_cap(spark, tmp_path):
    """Past broadcast_max_ids matching ids the probe drops its hints
    and the optimizer picks shuffle joins — results bit-equal."""
    snap = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), broadcast_max_ids=1
    )
    _drain(snap, spark)
    assert _snap_topk(snap, spark) == _batch_topk(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = snap.topk(spark, _queries(spark))
        out.collect()
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.slow
def test_bucketed_ledger_equality_and_shuffle_free_admission(
    spark, tmp_path
):
    """bucketed=True folds the slim (vec_id, version) ledger by the
    ADMISSION KEY: equality holds through bucketed folds/replays/
    restarts, and the redelivery anti-join reads the bucketed snapshot
    side with NO Exchange (broadcast disabled — the 100 TB shape)."""
    import re

    events = _events(spark)
    snap = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=1,
        bucketed=True, num_buckets=4,
    )
    for i, (kind, b) in enumerate(events[:3]):
        (snap.delete_batch if kind == "delete" else snap.foreach_batch)(b, i)
    snap.foreach_batch(events[1][1], 1)  # replay across a bucketed fold
    snap2 = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=1,
        bucketed=True, num_buckets=4,
    )
    for i, (kind, b) in enumerate(events[3:], start=3):
        (snap2.delete_batch if kind == "delete" else snap2.foreach_batch)(b, i)
    assert _snap_topk(snap2, spark) == _batch_topk(spark)
    # fold once more so the ledger is snapshot-only, then inspect the
    # admission anti-join with broadcast disabled
    statedir.compact(
        spark, snap2.ledger_dir, ANN_VLEDGER_SCHEMA, 9,
        bucket_cols=["vec_id", "version"], num_buckets=4,
    )
    rels = snap2._ledger_relations(spark, 9)
    assert len(rels) == 1  # snapshot only, no tail
    # a MIXED-version probe with the version DERIVED from data (a
    # constant version would constant-fold the join key away — and a
    # union of constants splits the join below the union — either way
    # legitimately disabling the bucketed scan; real batches carry
    # data-dependent versions)
    probe = _emb(spark).select(
        "vec_id", (F.col("vec_id") % 3 + 1).cast("long").alias("version")
    ).filter(F.col("vec_id") % 7 == 0)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = probe.join(
            rels[0].select("vec_id", "version"),
            ["vec_id", "version"],
            "left_anti",
        )
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
def test_sq8_tier_matches_float_tier_ranking(spark, tmp_path):
    """The sq8 tier must reach the float tier's exact (q_id, c_id, rank)
    ranking over the versioned corpus, and be restart-bit-invariant on
    its own scores. Ranges are trained over v1 ∪ v2 so reversed vectors
    stay in-range (reversal permutes dims — per-dim ranges can differ)."""
    cents = _centroids(spark)
    ranges = train_sq_ranges(
        _v1(spark).unionByName(_v2(spark)), vec_col="embedding"
    )
    f32 = VersionedAnnIndexSnapshot(
        str(tmp_path / "f"), cents, compact_every=2
    )
    sq8 = VersionedAnnIndexSnapshot(
        str(tmp_path / "q"), cents, compact_every=2,
        storage="sq8", sq_ranges=ranges,
    )
    _drain(f32, spark)
    _drain(sq8, spark)
    rank_f = {(r["q_id"], r["c_id"], r["rank"])
              for r in f32.topk(spark, _queries(spark)).collect()}
    got = sorted(map(tuple, sq8.topk(spark, _queries(spark)).collect()))
    rank_q = {(q, c, rk) for q, c, _, rk in got}
    assert rank_q == rank_f
    again = VersionedAnnIndexSnapshot(
        str(tmp_path / "q"), cents, compact_every=2,
        storage="sq8", sq_ranges=ranges,
    )
    assert sorted(
        map(tuple, again.topk(spark, _queries(spark)).collect())
    ) == got
    # cross-tier refusal: float sink over the sq8 state
    with pytest.raises(ValueError, match="parameter mismatch"):
        VersionedAnnIndexSnapshot(str(tmp_path / "q"), cents).topk(
            spark, _queries(spark)
        )


def _latest_live_topk(spark, events):
    """The batch plan of q136/q139: IVF top-k over the latest live
    vectors."""
    live = compaction.versioned_latest_live(
        events, "vec_id", "version", "embedding"
    )
    return sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                live, _queries(spark), _centroids_df(spark),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )


def test_in_memory_fold_matches_batch(spark):
    got = _latest_live_topk(spark, _events(spark))
    assert got == _batch_topk(spark)


def test_empty_batch_commits_nothing(spark, tmp_path):
    snap = VersionedAnnIndexSnapshot(str(tmp_path / "s"), _centroids(spark))
    snap.foreach_batch(_v1(spark).filter(F.lit(False)), 0)
    assert not statedir.state_paths(snap.vectors_dir, 1 << 62)
    assert not statedir.state_paths(snap.ledger_dir, 1 << 62)


@pytest.mark.slow
def test_versioned_cli_mode_drains_upsert_and_delete_feeds(
    spark, tmp_path, monkeypatch
):
    """PIPELINE=ann_index_versioned entrypoint: one drain
    over a (vec_id, version, embedding) upsert feed — inserts plus
    version-2 re-embeddings in one feed — AND a DELETES_PATH id feed
    drained into the TombstoneLog as a second query; the probe equals
    the batch operator over the latest LIVE vectors."""
    from stream_cdc_spark import main as M

    feed = _v1(spark).unionByName(_v2(spark))
    feed_dir = str(tmp_path / "feed")
    feed.coalesce(1).write.mode("overwrite").parquet(feed_dir)
    deletes_dir = str(tmp_path / "deletes")
    _dead_ids(spark).coalesce(1).write.mode("overwrite").parquet(deletes_dir)
    cents_path = str(tmp_path / "centroids.parquet")
    _centroids_df(spark).toPandas().to_parquet(cents_path)
    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "ann_index_versioned")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("EMB_PATH", feed_dir)
    monkeypatch.setenv("DELETES_PATH", deletes_dir)
    monkeypatch.setenv("CENTROIDS_PATH", cents_path)
    monkeypatch.setenv("ANN_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    assert M.main() == 0
    snap = VersionedAnnIndexSnapshot(state, _centroids(spark))
    assert _snap_topk(snap, spark) == _batch_topk(spark)  # deletes applied


@pytest.mark.slow
def test_versioned_cli_refuses_missing_version_column(
    spark, tmp_path, monkeypatch
):
    """Same loud guard as the retrieval versioned mode: a feed without
    the version column fails at startup; EMB_VERSION_COL= (explicitly
    empty) opts a version-less feed in as version 0."""
    from stream_cdc_spark import main as M

    feed_dir = str(tmp_path / "feed")
    _emb(spark).select("vec_id", "embedding").coalesce(1).write.parquet(
        feed_dir
    )
    cents_path = str(tmp_path / "centroids.parquet")
    _centroids_df(spark).toPandas().to_parquet(cents_path)
    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "ann_index_versioned")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("EMB_PATH", feed_dir)
    monkeypatch.setenv("CENTROIDS_PATH", cents_path)
    monkeypatch.setenv("ANN_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    with pytest.raises(ValueError, match="version column is 'version'"):
        M.main()
    monkeypatch.setenv("EMB_VERSION_COL", "")
    assert M.main() == 0
    snap = VersionedAnnIndexSnapshot(state, _centroids(spark))
    assert sorted(
        map(tuple, snap.ledger(spark).select("version").distinct().collect())
    ) == [(0,)]
    assert _snap_topk(snap, spark) == sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                _emb(spark), _queries(spark), _centroids_df(spark),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )


@pytest.mark.slow
def test_vacuum_drops_superseded_and_tombstoned_vectors(spark, tmp_path):
    """vacuum_versioned_ann_index: the immediate, complete erasure pass
    — vectors/ keeps only the latest live rows, ledger/ keeps every
    LIVE (vec_id, version) so exactly-once admission survives, deletion
    history is erased by design, and probes are bit-equal before/after."""
    from stream_cdc_spark.operators.migration import (
        vacuum_versioned_ann_index,
    )

    cents = _centroids(spark)
    src = VersionedAnnIndexSnapshot(str(tmp_path / "src"), cents)
    _drain(src, spark)
    # an in-band delete at sequence 5 of an id src never admitted: its
    # kill watermark must carry over, or a late version 3 would serve
    unseen = 10**9
    src.delete_versions_batch(
        spark.createDataFrame([(unseen, 5)], "vec_id bigint, version bigint"),
        0,
    )
    dst = VersionedAnnIndexSnapshot(str(tmp_path / "dst"), cents)
    n = vacuum_versioned_ann_index(spark, src, dst)
    live_n = _latest_live(spark).count()
    assert n == live_n
    assert _snap_topk(dst, spark) == _snap_topk(src, spark) == _batch_topk(
        spark
    )
    vecs = dst.vectors(spark)
    assert vecs.count() == live_n  # latest live rows only
    assert vecs.join(_dead_ids(spark), "vec_id", "left_semi").count() == 0
    assert vecs.filter(
        (F.col("vec_id") % 4 == 1) & (F.col("version") == 1)
    ).count() == 0  # superseded erased
    # the ledger keeps every LIVE (id, version) — superseded included
    led = dst.ledger(spark)
    n_all_live = (
        _v1(spark).unionByName(
            _v2(spark).select("vec_id", "version", "embedding")
        )
        .join(_dead_ids(spark), "vec_id", "left_anti")
        .count()
    )
    assert led.count() == n_all_live
    assert dst.tombstones(spark).count() == 0  # history erased by design
    # exactly-once survives: redelivered LIVE superseded v1 rows drop;
    # a genuinely new update admits
    live_v1 = _v1(spark).join(_dead_ids(spark), "vec_id", "left_anti")
    new_upd = spark.createDataFrame(
        [(1, 9, [0.5] * len(cents[0][1])), (unseen, 3, [0.5] * len(cents[0][1]))],
        "vec_id bigint, version bigint, embedding array<float>",
    )
    before = dst.ledger(spark).count()
    dst.foreach_batch(live_v1.limit(20).unionByName(new_upd), 0)
    assert dst.ledger(spark).count() == before + 2
    mx = dst._latest_live(spark).filter(F.col("vec_id") == 1).collect()
    assert mx and mx[0]["version"] == 9
    # the late killed version admitted but stays dead
    assert dst._latest_live(spark).filter(F.col("vec_id") == unseen).count() == 0
    # guards
    with pytest.raises(ValueError, match="share a state dir"):
        vacuum_versioned_ann_index(spark, src, src)
    with pytest.raises(ValueError, match="not\\s+empty"):
        vacuum_versioned_ann_index(spark, src, dst)
    drifted = VersionedAnnIndexSnapshot(
        str(tmp_path / "x"), [(c, [x + 0.5 for x in v]) for c, v in cents]
    )
    with pytest.raises(ValueError, match="scheme mismatch"):
        vacuum_versioned_ann_index(spark, src, drifted)


@pytest.mark.slow
def test_versioned_drift_moments_cover_every_admitted_version(
    spark, tmp_path
):
    """The versioned sink shares the drift monitor (_DriftMonitor):
    moments cover every ADMITTED (vec_id, version) — superseded
    re-embeddings still measured what arrived — and equal the one-shot
    reduction over v1 ∪ v2 across folds, redeliveries and a restart."""
    snap = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=1
    )
    _drain(snap, spark)
    again = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=1
    )
    got = sorted(map(tuple, again.moments(spark).collect()))
    admitted = _v1(spark).unionByName(
        _v2(spark).select("vec_id", "version", "embedding")
    )
    assigned = similarity.ivf_assign(
        admitted, _centroids_df(spark), vec_col="embedding",
        carry_cols=("version",),  # per-(id, version) argmin, like the sink
    )
    d = F.col("dist_bp").cast("decimal(38,0)")
    want = sorted(
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
    assert got == want
    # drift_report runs on the versioned sink (baseline = v1 corpus)
    from stream_cdc_spark.streaming.ann_index import (
        train_residual_baseline,
    )

    baseline = train_residual_baseline(_emb(spark), _centroids_df(spark))
    rep = again.drift_report(spark, baseline, z=6.0, min_n=10 ** 9)
    # min_n astronomically high: nothing can flag — shape check only
    assert rep.filter(F.col("drifted")).count() == 0


@pytest.mark.slow
def test_versioned_delete_then_recreate_statedir_ann(spark, tmp_path):
    """delete_versions_batch on the ANN surface (in-band CDC Delete
    channel, ADVICE r13): the kill watermark removes versions <= it, a
    recreate with a higher version is live again (and probes score ITS
    vector, not the killed one), a replayed delete cannot kill it, a
    fully-killed id never resurrects through its stale pruned rows, and
    folds erase killed rows physically."""
    v1, v2 = _v1(spark), _v2(spark)
    v3 = (
        _emb(spark)
        .filter(F.col("vec_id") % 20 == 3)
        .select(
            "vec_id",
            F.lit(3).cast("bigint").alias("version"),
            F.reverse(F.col("embedding")).alias("embedding"),
        )
    )
    vdel = _dead_ids(spark).select(
        "vec_id", F.lit(2).cast("bigint").alias("version")
    )
    snap = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=2
    )
    snap.foreach_batch(v1.filter(F.col("vec_id") % 3 != 2), 0)
    snap.foreach_batch(
        v2.unionByName(
            v1.filter((F.col("vec_id") % 3 != 2) & (F.col("vec_id") % 7 == 0))
        ),
        1,
    )
    snap.delete_versions_batch(vdel, 2)
    snap2 = VersionedAnnIndexSnapshot(  # mid-stream restart
        str(tmp_path / "s"), _centroids(spark), compact_every=2
    )
    snap2.foreach_batch(v1.filter(F.col("vec_id") % 3 == 2), 3)
    snap2.delete_versions_batch(vdel, 4)  # replay
    snap2.foreach_batch(v3, 5)
    # batch reference: versions <= 2 dead for %10==3 ids; %20==3 ids
    # live again at v3 (their reversed embedding)
    allv = v1.unionByName(v2).unionByName(v3).filter(
        ~((F.col("vec_id") % 10 == 3) & (F.col("version") <= 2))
    )
    w_max = allv.groupBy("vec_id").agg(F.max("version").alias("version"))
    latest = allv.join(w_max, ["vec_id", "version"]).select(
        "vec_id", "embedding"
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
    assert _snap_topk(snap2, spark) == want
    live = snap2._latest_live(spark)
    assert live.filter(
        (F.col("vec_id") % 20 == 13) & (F.col("vec_id") % 10 == 3)
    ).count() == 0
    reborn = live.filter(F.col("vec_id") % 20 == 3)
    assert reborn.count() > 0 and reborn.filter(
        F.col("version") != 3
    ).count() == 0
    # fold crossing the stream erases killed rows physically
    snap3 = VersionedAnnIndexSnapshot(
        str(tmp_path / "s"), _centroids(spark), compact_every=1
    )
    snap3.foreach_batch(
        spark.createDataFrame(
            [], "vec_id bigint, version bigint, embedding array<float>"
        ),
        6,
    )
    statedir.maybe_compact(
        spark, snap3.vectors_dir, snap3._schema, 7, every=1,
        transform=lambda df: df.join(
            snap3._latest_live(df.sparkSession),
            ["vec_id", "version"], "left_semi",
        ),
    )
    stored = statedir.read_state(
        spark, snap3.vectors_dir, snap3._schema, 1 << 62
    )
    assert stored.filter(
        (F.col("vec_id") % 10 == 3) & (F.col("version") <= 2)
    ).count() == 0
    assert _snap_topk(snap3, spark) == want


def test_vdelete_harness_matches_statedir_ann(spark, tmp_path):
    """compaction.versioned_latest_live with 'vdelete' events, probed by
    batch IVF, equals the same version-max compaction reference."""
    v1, v2 = _v1(spark), _v2(spark)
    v3 = (
        _emb(spark)
        .filter(F.col("vec_id") % 20 == 3)
        .select(
            "vec_id",
            F.lit(3).cast("bigint").alias("version"),
            F.reverse(F.col("embedding")).alias("embedding"),
        )
    )
    vdel = _dead_ids(spark).select(
        "vec_id", F.lit(2).cast("bigint").alias("version")
    )
    events = [
        ("upsert", v1),
        ("vdelete", vdel),
        ("upsert", v2),
        ("vdelete", vdel),
        ("upsert", v3),
    ]
    got = _latest_live_topk(spark, events)
    # v2 (version 2) of %10==3 ids is killed even though it arrived
    # AFTER the first delete (watermark rule, not arrival order)
    allv = v1.unionByName(v2).unionByName(v3).filter(
        ~((F.col("vec_id") % 10 == 3) & (F.col("version") <= 2))
    )
    w_max = allv.groupBy("vec_id").agg(F.max("version").alias("version"))
    latest = allv.join(w_max, ["vec_id", "version"]).select(
        "vec_id", "embedding"
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
    assert got == want


def test_assignment_plan_runs_no_job(spark, tmp_path):
    """A trigger's assignment plan (groupBy + ledger anti-join + argmin)
    builds without a job: the sink holds its centroid rows, so nothing
    is collected, and ensure_parallelism leaves the shuffled input alone.
    The precomputed rows are exactly what a collect of the stored
    array<float> centroid relation returns, so the cells cannot move."""
    import random

    rnd = random.Random(7)
    cents = [(c, [rnd.uniform(-1, 1) for _ in range(8)]) for c in range(12)]
    cents.append((12, [1e-40, -0.0, 3.0, 1.0 / 3, 0.1, -2.5, 7.0, 1e-7]))
    sink = VersionedAnnIndexSnapshot(str(tmp_path / "c"), cents)
    collected = [
        (r[0], list(r[1]))
        for r in sink._centroids_df(spark)
        .select("cid", F.col("cv").cast("array<double>"))
        .collect()
    ]
    assert sink._assignment_rows == collected

    snap = VersionedAnnIndexSnapshot(str(tmp_path / "s"), _centroids(spark))
    snap.foreach_batch(_v1(spark), 0)
    vecs = (
        _v2(spark)
        .select("vec_id", "version", F.col("embedding").alias("vv"))
        .groupBy("vec_id", "version")
        .agg(F.min("vv").alias("vv"))
    )
    for rel in snap._ledger_relations(spark, 1):
        vecs = vecs.join(
            rel.select("vec_id", "version"), ["vec_id", "version"], "left_anti"
        )
    _, jobs = count_jobs(spark, lambda: snap._assign(vecs, keep_residual=True))
    assert jobs == 0
