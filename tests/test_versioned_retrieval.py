"""Versioned retrieval-index maintenance (streaming/retrieval_index.py
VersionedRetrievalIndexSnapshot): document UPDATES — the CDC-native
widening. After any interleaving of inserts, updates, deletes, replays,
restarts, folds, out-of-order and redelivered versions, the probes must
be bit-equal to the batch scorers over the LATEST LIVE image of every
doc (q03-style compaction composed with q89's scorer). Plus the scheme
stamp guard (including refusal of a root written under another scheme)
and the scale shape of admission and probes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.operators import compaction, text
from stream_cdc_spark.streaming import statedir
from stream_cdc_spark.streaming.retrieval_index import (
    VersionedRetrievalIndexSnapshot,
    cdc_upserts_and_deletes,
)
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL

TERMS = ["stream", "vector", "join"]


def _docs(spark):
    return load(spark, SF_SMALL, "documents")


def _v1(spark):
    return _docs(spark).select(
        "doc_id", F.lit(1).cast("bigint").alias("version"), "text"
    )


def _v2(spark):
    """Updates: every doc_id % 4 == 1 gets a version-2 image with two
    query terms appended — scores, df, N and L all move."""
    return (
        _docs(spark)
        .filter(F.col("doc_id") % 4 == 1)
        .select(
            "doc_id",
            F.lit(2).cast("bigint").alias("version"),
            F.concat(F.col("text"), F.lit(" vector stream")).alias("text"),
        )
    )


def _dead_ids(spark):
    return _docs(spark).filter(F.col("doc_id") % 10 == 3).select("doc_id")


def _latest_live(spark, deletes: bool = True):
    """The compacted corpus the sink must match: version-2 text where an
    update exists, else the original, minus deleted docs."""
    d = _docs(spark).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.col("text"), F.lit(" vector stream")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    if deletes:
        d = d.join(_dead_ids(spark), "doc_id", "left_anti")
    return d


def _events(spark):
    """Interleaved upserts/updates/deletes with out-of-order versions
    (v2 of a %3==2 doc arrives before its v1), redeliveries of both
    versions, a delete mid-stream and its replay, and late v1 images
    arriving after both the v2 update and the delete."""
    v1, v2 = _v1(spark), _v2(spark)
    return [
        ("upsert", v1.filter(F.col("doc_id") % 3 != 2)),
        # v2 for every %4==1 doc: for %3==2 ones this PRECEDES their v1;
        # plus redelivered, already-admitted v1 rows
        ("upsert", v2.unionByName(
            v1.filter((F.col("doc_id") % 3 != 2) & (F.col("doc_id") % 7 == 0))
        )),
        ("delete", _dead_ids(spark)),
        # late v1 images (must NOT displace v2 / resurrect deleted docs);
        # plus redelivered v2 rows
        ("upsert", v1.filter(F.col("doc_id") % 3 == 2).unionByName(
            v2.filter(F.col("doc_id") % 7 == 1)
        )),
        ("delete", _dead_ids(spark)),  # delete replay
    ]


def _batch_bm25(spark, deletes: bool = True):
    return sorted(
        map(
            tuple,
            text.bm25_topk(
                _latest_live(spark, deletes), TERMS, top_k=15
            ).collect(),
        )
    )


def _snap_bm25(snap, spark):
    return sorted(map(tuple, snap.bm25_topk(spark, TERMS, top_k=15).collect()))


def _drain(snap, spark):
    for i, (kind, b) in enumerate(_events(spark)):
        if kind == "delete":
            snap.delete_batch(b, i)
        else:
            snap.foreach_batch(b, i)


def test_drained_probes_equal_batch_scorers_over_latest_images(
    spark, tmp_path
):
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"), compact_every=2)
    _drain(snap, spark)
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)
    # tfidf over the same compacted corpus
    live = _latest_live(spark)
    toks = live.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n = live.agg(F.count(F.lit(1)).alias("n_docs"))
    assert sorted(map(tuple, snap.tfidf_top_terms(spark).collect())) == sorted(
        map(tuple, text.tfidf_top_terms_from_tf(tf, n).collect())
    )
    # corpus stats equal the compacted corpus aggregates
    n_l = snap.corpus_stats(spark).collect()[0]
    want = (
        live.select(F.size(text.tokens(F.col("text"))).alias("dl"))
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .collect()[0]
    )
    assert (n_l["n"], n_l["l"]) == (want[0], want[1])


def test_out_of_order_and_redelivered_versions_admit_exactly_once(
    spark, tmp_path
):
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"))
    _drain(snap, spark)
    d = _docs(spark)
    n, n_upd = d.count(), d.filter(F.col("doc_id") % 4 == 1).count()
    ledger = snap.docs(spark)
    assert ledger.count() == n + n_upd  # every (doc_id, version) once
    assert ledger.select("doc_id", "version").distinct().count() == n + n_upd
    # version-max: every %4==1 doc reads as version 2, the rest as 1
    latest = snap._latest_live(spark)
    assert latest.filter(
        (F.col("doc_id") % 4 == 1) & (F.col("version") != 2)
    ).count() == 0
    assert latest.filter(
        (F.col("doc_id") % 4 != 1) & (F.col("version") != 1)
    ).count() == 0


def test_replay_and_restart_preserve_equality(spark, tmp_path):
    events = _events(spark)
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"), compact_every=2)
    for i, (kind, b) in enumerate(events[:3]):
        (snap.delete_batch if kind == "delete" else snap.foreach_batch)(b, i)
    # replay the in-flight admit batch across the fold boundary
    snap.foreach_batch(events[1][1], 1)
    snap2 = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), compact_every=2
    )
    for i, (kind, b) in enumerate(events[3:], start=3):
        (snap2.delete_batch if kind == "delete" else snap2.foreach_batch)(b, i)
    assert _snap_bm25(snap2, spark) == _batch_bm25(spark)


def test_folds_preserve_equality_and_apply_tombstones(spark, tmp_path):
    """compact_every=1 folds after every trigger: equality holds, the
    deleted docs' postings (EVERY version) are physically gone from the
    folded tier, the ledger keeps them (never-readmit), and superseded-
    but-live versions stay in the raw state (their removal is the
    offline vacuum, not the fold)."""
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"), compact_every=1)
    _drain(snap, spark)
    # extra empty trigger so the last admit batch folds under tombstones
    snap.foreach_batch(
        spark.createDataFrame([], "doc_id bigint, version bigint, text string"),
        len(_events(spark)),
    )
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)
    dead = _dead_ids(spark)
    assert snap.postings(spark).join(dead, "doc_id", "left_semi").count() == 0
    assert snap.docs(spark).join(dead, "doc_id", "left_semi").count() > 0
    # superseded v1 rows of updated docs are still in the raw state
    assert (
        snap.postings(spark)
        .filter((F.col("doc_id") % 4 == 1) & (F.col("version") == 1))
        .join(dead, "doc_id", "left_anti")
        .count()
        > 0
    )


def test_deleted_doc_stays_deleted_for_future_versions(spark, tmp_path):
    """Doc-level tombstones kill future versions too: an update arriving
    AFTER the delete admits append-only but can never be read."""
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"))
    _drain(snap, spark)
    dead_v3 = (
        _docs(spark)
        .filter(F.col("doc_id") % 10 == 3)
        .select(
            "doc_id",
            F.lit(3).cast("bigint").alias("version"),
            F.lit("stream stream vector vector join join").alias("text"),
        )
    )
    snap.foreach_batch(dead_v3, 99)
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)
    # admitted to the ledger (append-only), invisible to every read
    assert snap.docs(spark).filter(F.col("version") == 3).count() > 0
    assert snap._latest_live(spark).filter(F.col("version") == 3).count() == 0


def test_conflicting_intra_batch_duplicates_admit_deterministically(
    spark, tmp_path
):
    """Duplicate (doc_id, version) rows with DIFFERENT texts inside one
    batch admit the lexicographically-smallest text; a redelivered
    (doc_id, version) is dropped whole while a NEW version of the same
    doc admits — that is the update."""
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"))
    conflicted = spark.createDataFrame(
        [(1, 1, "zebra zebra"), (1, 1, "apple pie"), (2, 1, "apple pie")],
        "doc_id bigint, version bigint, text string",
    )
    snap.foreach_batch(conflicted, 0)
    got = {
        (r["doc_id"], r["version"], r["word"]): (r["tf"], r["dl"])
        for r in snap.postings(spark).collect()
    }
    assert got == {
        (1, 1, "apple"): (1, 2), (1, 1, "pie"): (1, 2),
        (2, 1, "apple"): (1, 2), (2, 1, "pie"): (1, 2),
    }
    snap.foreach_batch(
        spark.createDataFrame(
            [(2, 1, "zebra"), (2, 2, "orange juice")],
            "doc_id bigint, version bigint, text string",
        ),
        1,
    )
    ledger = {
        (r["doc_id"], r["version"]) for r in snap.docs(spark).collect()
    }
    assert ledger == {(1, 1), (2, 1), (2, 2)}  # redelivery dropped, update in
    latest = {
        r["doc_id"]: r["version"]
        for r in snap._latest_live(spark).collect()
    }
    assert latest == {1: 1, 2: 2}


def test_scheme_stamp_refuses_cross_mode_and_drift(spark, tmp_path):
    """The layout carries its own scheme id: a sink under another scheme
    — here the first-wins layout's id, which roots written before the
    versioned layout carry — refuses versioned state (and vice versa)
    BEFORE any statedir restructuring — scoring every version of every
    doc would be silently wrong."""
    other = "tok-whitespace/bm25-k1.2-b0.75-idfq1e6-int/tfidf-ppm/v1"
    snap = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), compact_every=10**9
    )
    snap.foreach_batch(_v1(spark), 0)
    roots = [os.path.join(str(tmp_path / "s"), d) for d in ("docs", "postings")]
    before = [statedir.dir_counts(r) for r in roots]
    crossed = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), compact_every=1
    )
    crossed._stamp = {"retr_scheme": other}
    with pytest.raises(ValueError, match="scheme mismatch"):
        crossed.foreach_batch(_v1(spark), 1)
    with pytest.raises(ValueError, match="scheme mismatch"):
        crossed.bm25_topk(spark, TERMS)
    assert [statedir.dir_counts(r) for r in roots] == before
    # and the other direction: a root stamped with the other scheme
    foreign = VersionedRetrievalIndexSnapshot(str(tmp_path / "p"))
    foreign._stamp = {"retr_scheme": other}
    foreign.foreach_batch(_v1(spark), 0)
    with pytest.raises(ValueError, match="scheme mismatch"):
        VersionedRetrievalIndexSnapshot(str(tmp_path / "p")).bm25_topk(
            spark, TERMS
        )


def test_probe_plan_pushes_terms_and_broadcasts_latest(spark, tmp_path):
    """Probe scale shape: query terms reach the postings scan as a
    pushed IN filter, the latest-version lookup and idf enter as
    broadcasts, and the corpus-sized postings never ride a sort-merge
    join or cartesian."""
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"))
    _drain(snap, spark)
    out = snap.bm25_topk(spark, TERMS)
    out.collect()
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "In(word" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_ledger_equality_and_shuffle_free_admission(spark, tmp_path):
    """bucketed=True folds the ledger by the ADMISSION KEY
    (doc_id, version): equality holds through bucketed folds/replays/
    restarts, and the redelivery anti-join against the snapshot reads
    the bucketed table with NO Exchange on the ledger side (broadcast
    disabled — the 100 TB shape)."""
    import re

    from stream_cdc_spark.streaming.retrieval_index import RETR_VDOCS_SCHEMA

    events = _events(spark)
    snap = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), compact_every=1, bucketed=True, num_buckets=4
    )
    for i, (kind, b) in enumerate(events[:3]):
        (snap.delete_batch if kind == "delete" else snap.foreach_batch)(b, i)
    snap.foreach_batch(events[1][1], 1)  # replay across a bucketed fold
    snap2 = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), compact_every=1, bucketed=True, num_buckets=4
    )
    for i, (kind, b) in enumerate(events[3:], start=3):
        (snap2.delete_batch if kind == "delete" else snap2.foreach_batch)(b, i)
    assert _snap_bm25(snap2, spark) == _batch_bm25(spark)
    statedir.compact(
        spark, snap2.docs_dir, RETR_VDOCS_SCHEMA, 99,
        bucket_cols=["doc_id", "version"], num_buckets=4,
    )
    rels = snap2._ledger_relations(spark, 99)
    assert len(rels) == 1  # snapshot only, no tail
    # mixed versions in the probe: a constant version literal would be
    # constant-folded out of the join keys, and clustering by doc_id
    # alone is NOT satisfied by the (doc_id, version) bucketing — the
    # realistic redelivery batch always carries mixed versions
    probe = (
        _docs(spark)
        .filter(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            (F.lit(1) + F.col("doc_id") % 2).cast("long").alias("version"),
        )
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = probe.join(
            rels[0].select("doc_id", "version"),
            ["doc_id", "version"],
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
    tree = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in tree, plan
    assert "Bucketed: true" in plan, plan
    n_exchanges = len(re.findall(r"Exchange \(\d+\)", tree))
    assert n_exchanges == 1, plan


def _latest_live_bm25(events):
    """The batch plan of q137/q138: BM25 over the latest live images."""
    live = compaction.versioned_latest_live(events, "doc_id", "version", "text")
    return sorted(
        map(tuple, text.bm25_topk(live, TERMS, top_k=15).collect())
    )


def test_in_memory_fold_matches_batch(spark):
    got = _latest_live_bm25(_events(spark))
    assert got == _batch_bm25(spark)


def test_cdc_envelope_adapter_feeds_the_versioned_sink(spark, tmp_path):
    """cdc_upserts_and_deletes splits a typed envelope stream (Insert/
    Update after-images + Delete before-images, GTID order as the
    version) into the sink's two inputs; the drained index equals the
    batch scorer over the latest live images."""
    d = _docs(spark)
    ins = d.select(
        F.lit("Insert").alias("event_type"),
        F.col("doc_id").cast("long").alias("gtid_seq"),
        F.struct("doc_id", "text").alias("content"),
    )
    upd = (
        d.filter(F.col("doc_id") % 4 == 1)
        .select(
            F.lit("Update").alias("event_type"),
            (F.col("doc_id") + F.lit(10**9)).cast("long").alias("gtid_seq"),
            F.struct(
                "doc_id",
                F.concat(F.col("text"), F.lit(" vector stream")).alias("text"),
            ).alias("content"),
        )
    )
    dels = (
        d.filter(F.col("doc_id") % 10 == 3)
        .select(
            F.lit("Delete").alias("event_type"),
            (F.col("doc_id") + F.lit(2 * 10**9)).cast("long").alias("gtid_seq"),
            F.struct("doc_id", "text").alias("content"),
        )
    )
    env = ins.unionByName(upd).unionByName(dels)
    upserts, deletes = cdc_upserts_and_deletes(env)
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"))
    snap.foreach_batch(upserts, 0)
    snap.delete_batch(deletes, 1)
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)


def test_empty_batch_commits_nothing(spark, tmp_path):
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"))
    snap.foreach_batch(_v1(spark), 0)
    empty = spark.createDataFrame(
        [], "doc_id bigint, version bigint, text string"
    )
    snap.foreach_batch(empty, 1)
    for sub in ("docs", "postings"):
        c = statedir.dir_counts(os.path.join(str(tmp_path / "s"), sub))
        assert c["batch"] == 1, (sub, c)


def test_versioned_cli_mode_drains_upsert_and_delete_feeds(
    spark, tmp_path, monkeypatch
):
    """PIPELINE=retrieval_index_versioned entrypoint: one
    drain over a (doc_id, version, text) upsert feed — inserts plus
    version-2 updates in one feed — AND a DELETES_PATH id feed drained
    into the TombstoneLog as a second query; the probe equals the batch
    scorer over the latest LIVE images."""
    from stream_cdc_spark import main as M

    feed = _v1(spark).unionByName(_v2(spark))
    feed_dir = str(tmp_path / "feed")
    feed.coalesce(1).write.mode("overwrite").parquet(feed_dir)
    # the right-to-be-forgotten feed: a second stream of bare ids
    # (DELETES_PATH) drained into the index's TombstoneLog
    deletes_dir = str(tmp_path / "deletes")
    _dead_ids(spark).coalesce(1).write.mode("overwrite").parquet(deletes_dir)
    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "retrieval_index_versioned")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("DOCS_PATH", feed_dir)
    monkeypatch.setenv("DELETES_PATH", deletes_dir)
    monkeypatch.setenv("RETR_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    assert M.main() == 0
    snap = VersionedRetrievalIndexSnapshot(state)
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)  # deletes applied


def test_vacuum_drops_superseded_and_tombstoned_rows(spark, tmp_path):
    """vacuum_versioned_retrieval_index rewrites postings/ as latest-live
    rows only (superseded images and deleted docs physically gone) while
    the ledger keeps every live (doc_id, version) row: probes bit-equal
    the source, redelivered superseded versions stay blocked, a stream
    resumes safely at batch_id 0, and the guards refuse."""
    from stream_cdc_spark.operators.migration import (
        vacuum_versioned_retrieval_index,
    )

    src = VersionedRetrievalIndexSnapshot(str(tmp_path / "src"), compact_every=2)
    _drain(src, spark)
    # an in-band delete at sequence 5 of a doc src never admitted: its
    # kill watermark must carry over, or a late version 3 would serve
    unseen = 10**9
    src.delete_versions_batch(
        spark.createDataFrame([(unseen, 5)], "doc_id bigint, version bigint"),
        0,
    )
    dst = VersionedRetrievalIndexSnapshot(str(tmp_path / "dst"))
    n = vacuum_versioned_retrieval_index(spark, src, dst)
    live = _latest_live(spark)
    assert n == live.count()
    assert _snap_bm25(dst, spark) == _snap_bm25(src, spark)
    dead = _dead_ids(spark)
    # tombstoned docs physically gone from both states; superseded v1
    # images of updated docs gone from postings, kept in the ledger
    assert dst.postings(spark).join(dead, "doc_id", "left_semi").count() == 0
    assert dst.docs(spark).join(dead, "doc_id", "left_semi").count() == 0
    assert (
        dst.postings(spark)
        .filter((F.col("doc_id") % 4 == 1) & (F.col("version") == 1))
        .count()
        == 0
    )
    assert (
        dst.docs(spark)
        .filter((F.col("doc_id") % 4 == 1) & (F.col("version") == 1))
        .join(dead, "doc_id", "left_anti")
        .count()
        > 0
    )
    assert dst.tombstones(spark).count() == 0
    # a stream resuming at batch_id 0: redelivered superseded versions
    # and live latest versions drop; a genuinely new update admits
    new_upd = spark.createDataFrame(
        [(1, 9, "stream stream vector"), (unseen, 3, "stream stream")],
        "doc_id bigint, version bigint, text string",
    )
    before = dst.docs(spark).count()
    # redeliver LIVE v1 rows only: vacuum hard-erases deleted docs'
    # ledger rows too, so a vacuumed-away doc CAN re-admit (documented —
    # erasure removes the deletion history by design)
    live_v1 = _v1(spark).join(_dead_ids(spark), "doc_id", "left_anti")
    dst.foreach_batch(live_v1.limit(20).unionByName(new_upd), 0)
    assert dst.docs(spark).count() == before + 2
    latest1 = dst._latest_live(spark).filter(F.col("doc_id") == 1).collect()
    assert latest1 and latest1[0]["version"] == 9
    # the late killed version admitted but stays dead
    assert dst._latest_live(spark).filter(F.col("doc_id") == unseen).count() == 0
    # guards
    with pytest.raises(ValueError, match="share a state dir"):
        vacuum_versioned_retrieval_index(spark, src, src)
    with pytest.raises(ValueError, match="not\\s+empty"):
        vacuum_versioned_retrieval_index(spark, src, dst)
    drifted = VersionedRetrievalIndexSnapshot(str(tmp_path / "x"))
    drifted._stamp = {"retr_scheme": "tok-bpe/other/v9"}
    with pytest.raises(ValueError, match="scheme mismatch"):
        vacuum_versioned_retrieval_index(spark, src, drifted)


def test_tombstone_applying_fold_falls_back_under_race(spark, tmp_path):
    """The tombstone-applying fold reads ANOTHER statedir root (the
    TombstoneLog) — a concurrent delete-stream compaction can invalidate
    that read mid-fold (TOCTOU on the listed file set). The application
    is an optimization: statedir.maybe_compact_with_fallback retries the
    fold once with the read-equivalent plain transform, and only a
    fallback failure raises. Simulated here with a primary transform
    that raises like the race would."""
    calls = []

    def primary(df):
        calls.append("primary")
        raise FileNotFoundError("tombstone dir vanished mid-fold")

    def fallback(df):
        calls.append("fallback")
        return df.sortWithinPartitions("word")

    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"))
    snap.foreach_batch(_v1(spark), 0)
    snap.foreach_batch(_v2(spark), 1)
    did = statedir.maybe_compact_with_fallback(
        spark,
        snap.postings_dir,
        "doc_id bigint, version bigint, word string, tf bigint, dl bigint",
        2,
        every=1,
        transform=primary,
        fallback_transform=fallback,
    )
    assert did and calls == ["primary", "fallback"]
    assert _snap_bm25(snap, spark) == _batch_bm25(spark, deletes=False)
    # a fallback failure is a real fold error: it must raise
    with pytest.raises(FileNotFoundError):
        statedir.maybe_compact_with_fallback(
            spark, snap.docs_dir, "doc_id bigint, version bigint, dl bigint",
            2, every=1, transform=primary, fallback_transform=primary,
        )


def test_cli_bucketed_ledger_env(spark, tmp_path, monkeypatch):
    """STATE_BUCKETED=1 / STATE_NUM_BUCKETS wire the bucketed admission
    tier through the CLI into the sink constructor (asserted via a
    registry spy — a drain of a single-file feed is one
    micro-batch, so no fold fires during the drain itself), and the
    drained index still equals the batch scorer."""
    from stream_cdc_spark import main as M
    from stream_cdc_spark.sources import sink_registry

    feed_dir = str(tmp_path / "feed")
    _v1(spark).unionByName(_v2(spark)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(feed_dir)
    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "retrieval_index_versioned")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("DOCS_PATH", feed_dir)
    monkeypatch.setenv("RETR_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    monkeypatch.setenv("STATE_BUCKETED", "1")
    monkeypatch.setenv("STATE_NUM_BUCKETS", "4")
    monkeypatch.setenv("COMPACT_EVERY", "1")
    captured = {}
    real_create = sink_registry.create

    def spy(name, **kw):
        captured.update(kw)
        return real_create(name, **kw)

    monkeypatch.setattr(sink_registry, "create", spy)
    assert M.main() == 0
    assert captured.get("bucketed") is True
    assert captured.get("num_buckets") == 4
    snap = VersionedRetrievalIndexSnapshot(
        state, bucketed=True, num_buckets=4
    )
    assert _snap_bm25(snap, spark) == _batch_bm25(spark, deletes=False)
    # drive one more trigger through the (bucketed) sink so the ledger
    # folds: the published snapshot must carry the admission-key spec
    import glob
    import json as _json

    snap2 = VersionedRetrievalIndexSnapshot(
        state, compact_every=1, bucketed=True, num_buckets=4
    )
    snap2.foreach_batch(
        spark.createDataFrame(
            [(10**9, 1, "fresh doc")],
            "doc_id bigint, version bigint, text string",
        ),
        1,
    )
    specs = [
        _json.loads(open(m).read()).get("bucket")
        for m in glob.glob(os.path.join(state, "docs", "*.commit"))
    ]
    assert {"cols": ["doc_id", "version"], "n": 4} in specs, specs


def test_versioned_cli_refuses_missing_version_column(
    spark, tmp_path, monkeypatch
):
    """A versioned feed whose files LACK the configured version column
    must fail loudly at startup: the forced streaming schema would read
    it as all-null, coalesce every row to (doc_id, 0), and first-wins
    admission would drop every CDC update as a redelivery — stale
    images scored forever with exit 0. RETR_VERSION_COL= (explicitly
    empty) is the opt-in for genuinely version-less feeds: every row
    admits as version 0."""
    from stream_cdc_spark import main as M

    feed_dir = str(tmp_path / "feed")
    _docs(spark).select("doc_id", "text").coalesce(1).write.parquet(feed_dir)
    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "retrieval_index_versioned")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("DOCS_PATH", feed_dir)
    monkeypatch.setenv("RETR_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    with pytest.raises(ValueError, match="version column is 'version'"):
        M.main()
    # a mis-NAMED column is the same fault
    monkeypatch.setenv("RETR_VERSION_COL", "rev")
    with pytest.raises(ValueError, match="version column is 'rev'"):
        M.main()
    # explicit opt-in: empty RETR_VERSION_COL admits everything as v0
    monkeypatch.setenv("RETR_VERSION_COL", "")
    assert M.main() == 0
    snap = VersionedRetrievalIndexSnapshot(state)
    assert sorted(
        map(tuple, snap.docs(spark).select("version").distinct().collect())
    ) == [(0,)]
    assert _snap_bm25(snap, spark) == sorted(
        map(tuple, text.bm25_topk(_docs(spark), TERMS, top_k=15).collect())
    )


def test_fallback_fold_warns_on_swallowed_primary_failure(
    spark, tmp_path, caplog
):
    """The read-equivalent fallback retry must SURFACE the primary
    failure in the logs: a deterministic fault — corrupt tombstone
    state, persistent FS error — repeating on every fold means erasure
    has quietly stopped; an operator must see that on EVERY retry, not
    just the TOCTOU race the retry exists for. (logging, not
    warnings.warn — the default warning filter deduplicates per
    location, suppressing the repeat signal; ADVICE r13.)"""
    import logging

    def primary(df):
        raise FileNotFoundError("tombstone dir vanished mid-fold")

    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"))
    snap.foreach_batch(_v1(spark), 0)
    snap.foreach_batch(_v2(spark), 1)
    with caplog.at_level(
        logging.WARNING, logger="stream_cdc_spark.streaming.statedir"
    ):
        did = statedir.maybe_compact_with_fallback(
            spark,
            snap.docs_dir,
            "doc_id bigint, version bigint, dl bigint",
            2,
            every=1,
            transform=primary,
            fallback_transform=lambda df: df,
        )
    assert did
    assert any(
        "read-equivalent plain fold" in r.getMessage()
        for r in caplog.records
    )
    assert _snap_bm25(snap, spark) == _batch_bm25(spark, deletes=False)


def test_await_streams_notices_pre_terminated_query():
    """_await_streams calls resetTerminated() AFTER the queries started;
    a query that died in that window is invisible to
    awaitAnyTermination. The isActive poll must notice it on the first
    iteration (no hang), stop the survivors, and re-await so the dead
    feed's exception propagates — a silently dead DELETES_PATH feed is
    a compliance hazard (main._await_streams doc)."""
    from stream_cdc_spark.main import _await_streams

    class DeadQuery:
        isActive = False

        def stop(self):
            pass

        def awaitTermination(self):
            raise RuntimeError("deletion feed died before resetTerminated")

    class LiveQuery:
        def __init__(self):
            self.isActive = True
            self.stopped = False

        def stop(self):
            self.stopped = True
            self.isActive = False

        def awaitTermination(self):
            assert not self.isActive, "must be stopped before the re-await"

    class FakeStreams:
        def resetTerminated(self):
            pass

        def awaitAnyTermination(self, timeout=None):
            # the dead query terminated BEFORE resetTerminated: the
            # manager never reports it — only the isActive poll can
            return False

    class FakeSpark:
        streams = FakeStreams()

    live = LiveQuery()
    with pytest.raises(RuntimeError, match="deletion feed died"):
        _await_streams(FakeSpark(), [DeadQuery(), live], drain=False)
    assert live.stopped


def test_probe_broadcast_guard_falls_back_past_cap(spark, tmp_path):
    """broadcast_max_ids guards the probe's force-broadcasts: past the
    cap (a high-frequency term matching an unbounded share of the
    corpus) the hints are dropped and the optimizer picks shuffle joins
    — results bit-equal either way. Auto-broadcast is disabled for the
    plan assertion so a surviving hint would be visible."""
    snap = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), broadcast_max_ids=1
    )
    _drain(snap, spark)
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = snap.bm25_topk(spark, TERMS)
        out.collect()
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        # hints gone: the latest-version equi-join rides a shuffle join
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_latest_tier_bounds_probe_reduction(spark, tmp_path):
    """The fold-materialized latest/ tier (round-13): folds collapse
    the per-doc version history to the version-max and drop tombstoned
    docs, so the probe-time reduction reads O(live + recent tail) rows;
    the probe plans scan latest/, never the full docs/ ledger; and the
    read rule stays bit-equal across fold boundaries under updates,
    deletes and replays (the 20 pre-tier tests re-prove the equality —
    this one pins the tier's physical shape)."""
    snap = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), compact_every=1
    )
    _drain(snap, spark)
    # one more trigger folds the full prefix of latest/
    snap.foreach_batch(
        spark.createDataFrame(
            [], "doc_id bigint, version bigint, text string"
        ),
        9,
    )
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)
    folded = [
        p for p in statedir.state_paths(snap.latest_dir, 1 << 62)
        if f"{os.sep}compact=" in p
    ]
    assert folded, "expected a folded latest/ tier"
    tier = spark.read.parquet(*folded)
    # one row per LIVE doc: superseded versions and deleted docs gone
    live_n = _latest_live(spark).count()
    assert tier.count() == live_n
    assert tier.select("doc_id").distinct().count() == live_n
    assert tier.join(_dead_ids(spark), "doc_id", "left_semi").count() == 0
    # while the full docs/ ledger keeps every admitted (doc_id, version)
    n_all = _v1(spark).count() + _v2(spark).count()
    assert snap.docs(spark).count() == n_all
    # the probe-time reduction scans latest/, not docs/
    stats = snap.corpus_stats(spark)
    plan = stats._sc._jvm.PythonSQLUtils.explainString(
        stats._jdf.queryExecution(), "formatted"
    )
    assert f"{os.sep}latest" in plan, plan
    assert f"{os.sep}docs" not in plan, plan


def test_bucketed_latest_tier_folds_by_doc_id(spark, tmp_path):
    """bucketed=True buckets the latest/ tier by doc_id (the probe-side
    reduction's grouping key) while the docs/ ledger stays bucketed by
    the admission key — both specs stamped in the fold manifests."""
    import glob
    import json as _json

    snap = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), compact_every=1, bucketed=True, num_buckets=4
    )
    snap.foreach_batch(_v1(spark), 0)
    snap.foreach_batch(_v2(spark), 1)
    snap.foreach_batch(
        spark.createDataFrame(
            [], "doc_id bigint, version bigint, text string"
        ),
        2,
    )
    assert _snap_bm25(snap, spark) == _batch_bm25(spark, deletes=False)

    def specs(root):
        return [
            _json.loads(open(m).read()).get("bucket")
            for m in glob.glob(os.path.join(root, "*.commit"))
        ]

    assert {"cols": ["doc_id", "version"], "n": 4} in specs(snap.docs_dir)
    assert {"cols": ["doc_id"], "n": 4} in specs(snap.latest_dir)


def _vdel_events(spark):
    """The in-band versioned-delete drain: %10==3 docs deleted at
    sequence 2 (killing v1 and v2), then HALF of them (%20==3)
    recreated at version 3 — live again; %20==13 stays dead. Built on
    the standard interleaving (out-of-order, redeliveries, replay)."""
    v1, v2 = _v1(spark), _v2(spark)
    v3 = (
        _docs(spark)
        .filter(F.col("doc_id") % 20 == 3)
        .select(
            "doc_id",
            F.lit(3).cast("bigint").alias("version"),
            F.concat(F.col("text"), F.lit(" reborn stream")).alias("text"),
        )
    )
    vdel = _dead_ids(spark).select(
        "doc_id", F.lit(2).cast("bigint").alias("version")
    )
    return [
        ("upsert", v1.filter(F.col("doc_id") % 3 != 2)),
        ("upsert", v2.unionByName(
            v1.filter((F.col("doc_id") % 3 != 2) & (F.col("doc_id") % 7 == 0))
        )),
        ("vdelete", vdel),
        # late v1 images admit but stay dead for %10==3 docs (version 1
        # <= the kill watermark 2); the recreate arrives WITH the
        # delete replay in one slice — order inside must not matter
        ("upsert", v1.filter(F.col("doc_id") % 3 == 2).unionByName(
            v2.filter(F.col("doc_id") % 7 == 1)
        )),
        ("vdelete", vdel),  # replay
        ("upsert", v3),
    ]


def _vdel_reference(spark):
    """Latest live image under the versioned-kill rule: versions <= 2
    dead for %10==3 docs, the %20==3 recreates live at v3."""
    allv = (
        _v1(spark)
        .unionByName(_v2(spark))
        .unionByName(
            _docs(spark)
            .filter(F.col("doc_id") % 20 == 3)
            .select(
                "doc_id",
                F.lit(3).cast("bigint").alias("version"),
                F.concat(
                    F.col("text"), F.lit(" reborn stream")
                ).alias("text"),
            )
        )
    ).filter(
        ~((F.col("doc_id") % 10 == 3) & (F.col("version") <= 2))
    )
    w_max = allv.groupBy("doc_id").agg(F.max("version").alias("version"))
    latest = allv.join(w_max, ["doc_id", "version"]).select("doc_id", "text")
    return sorted(
        map(tuple, text.bm25_topk(latest, TERMS, top_k=15).collect())
    )


def test_versioned_delete_then_recreate_statedir(spark, tmp_path):
    """delete_versions_batch (the in-band CDC Delete channel, ADVICE
    r13) through the persisted sink: the kill watermark removes only
    versions <= it, a recreate with a higher version is live again, a
    replayed delete cannot kill it, folds crossing the stream erase
    killed rows physically, and a mid-stream restart (fresh object over
    the same state) preserves it all."""
    snap = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), compact_every=2
    )
    ev = _vdel_events(spark)
    for i, (kind, b) in enumerate(ev[:3]):
        if kind == "vdelete":
            snap.delete_versions_batch(b, i)
        else:
            snap.foreach_batch(b, i)
    snap2 = VersionedRetrievalIndexSnapshot(  # mid-stream restart
        str(tmp_path / "s"), compact_every=2
    )
    for i, (kind, b) in enumerate(ev[3:], start=3):
        if kind == "vdelete":
            snap2.delete_versions_batch(b, i)
        else:
            snap2.foreach_batch(b, i)
    assert _snap_bm25(snap2, spark) == _vdel_reference(spark)
    # fully-killed docs (%20==13) are absent from the latest-live view;
    # recreated ones (%20==3) serve exactly version 3
    live = snap2._latest_live(spark)
    assert live.filter(
        (F.col("doc_id") % 20 == 13) & (F.col("doc_id") % 10 == 3)
    ).count() == 0
    reborn = live.filter(F.col("doc_id") % 20 == 3)
    assert reborn.count() > 0
    assert reborn.filter(F.col("version") != 3).count() == 0
    # tfidf + corpus stats ride the same rule: n equals the reference
    n_ref = _vdel_reference_count(spark)
    assert snap2.corpus_stats(spark).collect()[0]["n"] == n_ref


def _vdel_reference_count(spark):
    allv = (
        _v1(spark)
        .unionByName(_v2(spark))
        .unionByName(
            _docs(spark)
            .filter(F.col("doc_id") % 20 == 3)
            .select(
                "doc_id",
                F.lit(3).cast("bigint").alias("version"),
                F.concat(
                    F.col("text"), F.lit(" reborn stream")
                ).alias("text"),
            )
        )
    ).filter(~((F.col("doc_id") % 10 == 3) & (F.col("version") <= 2)))
    return allv.select("doc_id").distinct().count()


def test_vdelete_harness_equals_statedir_and_reference(spark, tmp_path):
    """compaction.versioned_latest_live with 'vdelete' events, scored
    by batch BM25, equals the versioned-kill reference — the q140
    composition's batch leg."""
    got = _latest_live_bm25(_vdel_events(spark))
    assert got == _vdel_reference(spark)


def test_vdelete_null_version_fails_loudly(spark, tmp_path):
    """A versioned delete with a NULL sequence kills nothing — the
    silent-no-op class; the append must refuse loudly and commit
    nothing."""
    snap = VersionedRetrievalIndexSnapshot(str(tmp_path / "s"))
    snap.foreach_batch(_v1(spark), 0)
    bad = spark.createDataFrame(
        [(3, None)], "doc_id bigint, version bigint"
    )
    with pytest.raises(ValueError, match="NULL"):
        snap.delete_versions_batch(bad, 1)
    assert not statedir.state_paths(snap.vtombstones_dir, 1 << 62)


def test_vdelete_fold_erases_killed_rows_physically(spark, tmp_path):
    """Postings/latest folds apply the versioned kill: after a fold
    crossing the delete, killed versions leave the folded tier
    physically (the stored relations, not just the probes)."""
    snap = VersionedRetrievalIndexSnapshot(
        str(tmp_path / "s"), compact_every=1
    )
    snap.foreach_batch(_v1(spark), 0)
    vdel = _dead_ids(spark).select(
        "doc_id", F.lit(2).cast("bigint").alias("version")
    )
    snap.delete_versions_batch(vdel, 0)
    snap.foreach_batch(_v2(spark), 1)
    # this trigger folds batch 0/1 prefixes with the kill applied
    snap.foreach_batch(
        spark.createDataFrame([], "doc_id bigint, version bigint, text string"),
        2,
    )
    # force one more fold so the un-folded tail is covered too
    statedir.maybe_compact(
        spark, snap.postings_dir,
        "doc_id bigint, version bigint, word string, tf bigint, dl bigint",
        3, every=1,
        transform=lambda df: snap._live(df.sparkSession, df),
    )
    stored = statedir.read_state(
        spark, snap.postings_dir,
        "doc_id bigint, version bigint, word string, tf bigint, dl bigint",
        1 << 62,
    )
    dead_rows = stored.filter(
        (F.col("doc_id") % 10 == 3) & (F.col("version") <= 2)
    )
    assert dead_rows.count() == 0
    # while a doc with ONLY killed versions still blocks re-admission
    # of a redelivered killed version (the docs/ ledger keeps it)
    assert snap.docs(spark).filter(
        (F.col("doc_id") % 10 == 3) & (F.col("version") == 1)
    ).count() > 0


def test_vacuum_handles_versioned_kills(spark, tmp_path):
    """vacuum_versioned_retrieval_index with the in-band versioned
    delete channel: killed versions' payload is erased, but their
    ledger rows are KEPT (the destination has no vtombstones, so
    dropping them would re-open first-wins admission to a redelivered
    killed version and resurrect it). Probes are bit-equal before and
    after; a redelivered killed version stays invisible after the
    vacuum."""
    from stream_cdc_spark.operators.migration import (
        vacuum_versioned_retrieval_index,
    )

    src = VersionedRetrievalIndexSnapshot(str(tmp_path / "src"))
    ev = _vdel_events(spark)
    for i, (kind, b) in enumerate(ev):
        if kind == "vdelete":
            src.delete_versions_batch(b, i)
        else:
            src.foreach_batch(b, i)
    dst = VersionedRetrievalIndexSnapshot(str(tmp_path / "dst"))
    vacuum_versioned_retrieval_index(spark, src, dst)
    assert _snap_bm25(dst, spark) == _snap_bm25(src, spark)
    # killed payload gone, killed ledger rows kept
    assert dst.postings(spark).filter(
        (F.col("doc_id") % 10 == 3) & (F.col("version") <= 2)
    ).count() == 0
    assert dst.docs(spark).filter(
        (F.col("doc_id") % 20 == 13) & (F.col("doc_id") % 10 == 3)
    ).count() > 0
    # a redelivered killed version cannot resurrect through the vacuumed
    # index: first-wins drops it at admission
    dead_v1 = (
        _docs(spark)
        .filter((F.col("doc_id") % 20 == 13) & (F.col("doc_id") % 10 == 3))
        .select(
            "doc_id", F.lit(1).cast("bigint").alias("version"), "text"
        )
    )
    dst.foreach_batch(dead_v1, 100)
    assert _snap_bm25(dst, spark) == _snap_bm25(src, spark)


def _admission_case(spark, sink, state):
    """(sink, committed first batch, new second batch, its tables) for
    the sinks whose admission plan runs a LeftAnti redelivery guard
    past a shuffle."""
    if sink == "versioned_retrieval":
        return (
            VersionedRetrievalIndexSnapshot(state), _v1(spark), _v2(spark),
            ("docs", "postings"),
        )
    if sink == "media":
        from stream_cdc_spark.plans.queries import _media_thumbs
        from stream_cdc_spark.streaming.media_dedup import MediaDedupSnapshot

        thumbs = _media_thumbs(_docs(spark).select("doc_id", "text"))
        return (
            MediaDedupSnapshot(state),
            thumbs.filter(F.col("media_id") % 2 == 0),
            thumbs.filter(F.col("media_id") % 2 == 1),
            ("sigs", "index", "matches"),
        )
    docs = _docs(spark).select("doc_id", "text")
    even, odd = docs.filter(F.col("doc_id") % 2 == 0), docs.filter(
        F.col("doc_id") % 2 == 1
    )
    if sink == "retrieval":  # the insert-only feed: every row at version 0
        v0 = F.lit(0).cast("bigint")
        return (
            VersionedRetrievalIndexSnapshot(state),
            even.withColumn("version", v0),
            odd.withColumn("version", v0),
            ("docs", "latest", "postings"),
        )
    from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot

    return LshDedupSnapshot(state), even, odd, ("sigs", "index", "counts")


@pytest.mark.parametrize(
    "sink", ["versioned_retrieval", "retrieval", "lsh", "media"]
)
def test_build_runs_the_admission_plan_once(spark, tmp_path, sink):
    """Pin, then probe the pin: a take(1) cannot exit early past the
    admission plan's groupBy/anti-join shuffles, so probing the lazy
    plan before pinning ran the whole admission plan twice per trigger.
    An all-redelivered batch still commits nothing."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    state = str(tmp_path / "s")
    snap, first, second, tables = _admission_case(spark, sink, state)
    snap.foreach_batch(first, 0)
    seen = {int(e.executionId()) for e in executions()}
    assert snap._build(spark, second, 1) is not None
    anti = [
        e
        for e in executions()
        if int(e.executionId()) not in seen
        and "LeftAnti" in e.physicalPlanDescription()
    ]
    assert len(anti) == 1, [e.description() for e in anti]

    snap.foreach_batch(first, 1)
    for sub in tables:
        c = statedir.dir_counts(os.path.join(state, sub))
        assert c["batch"] == 1, (sub, c)
