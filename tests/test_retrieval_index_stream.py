"""Incremental retrieval-index maintenance (streaming/retrieval_index.py)
over an INSERT-ONLY feed — the versioned sink with every row at version
0, the shape a version-less feed takes: drain equality with the batch BM25/TF-IDF scorers, exactly-once admission
under overlapping redelivery, restart/replay/fold invariance, the scheme
stamp guard, and the probe's scale shape (pushed IN filter, broadcast
stats, no corpus-side sort-merge join)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.operators import text
from stream_cdc_spark.streaming import statedir
from stream_cdc_spark.streaming.retrieval_index import (
    RETR_VDOCS_SCHEMA,
    VersionedRetrievalIndexSnapshot,
    versioned_bm25_over_events,
)
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL

TERMS = ["stream", "vector", "join"]
# the sink's state tables, each committed once per non-empty trigger
TABLES = ("docs", "latest", "postings")


def _docs(spark):
    return load(spark, SF_SMALL, "documents")


def _v0(df):
    """An insert-only feed as the index admits it: every row at
    version 0."""
    return df.withColumn("version", F.lit(0).cast("bigint"))


def _snap(path, **kw):
    return VersionedRetrievalIndexSnapshot(str(path), **kw)


def _texts(spark, rows):
    return _v0(spark.createDataFrame(rows, "doc_id bigint, text string"))


def _slices(spark):
    """Overlapping micro-batches: slice i redelivers every doc_id that is
    i mod 7 as well as owning i mod 3 — the union covers the corpus and
    the overlaps exercise the exactly-once admission guard."""
    d = _v0(_docs(spark))
    return [
        d.filter((F.col("doc_id") % 3 == i) | (F.col("doc_id") % 7 == i))
        for i in range(3)
    ]


def _batch_bm25(spark):
    return sorted(
        map(tuple, text.bm25_topk(_docs(spark), TERMS, top_k=15).collect())
    )


def _batch_tfidf(spark):
    d = _docs(spark)
    toks = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return sorted(map(tuple, text.tfidf_top_terms_from_tf(tf, n).collect()))


def _snap_bm25(snap, spark):
    return sorted(map(tuple, snap.bm25_topk(spark, TERMS, top_k=15).collect()))


def test_drained_probes_equal_batch_scorers(spark, tmp_path):
    snap = _snap(tmp_path / "s", compact_every=2)
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)
    assert (
        sorted(map(tuple, snap.tfidf_top_terms(spark).collect()))
        == _batch_tfidf(spark)
    )


def test_overlapping_batches_admit_exactly_once(spark, tmp_path):
    snap = _snap(tmp_path / "s")
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    n = _docs(spark).count()
    docs = snap.docs(spark)
    assert docs.count() == n  # redelivered ids admitted once
    assert docs.select("doc_id").distinct().count() == n
    # maintained monoids equal the from-scratch aggregates
    n_l = snap.corpus_stats(spark).collect()[0]
    want = (
        _docs(spark)
        .select(F.size(text.tokens(F.col("text"))).alias("dl"))
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .collect()[0]
    )
    assert (n_l["n"], n_l["l"]) == (want[0], want[1])


def test_replay_and_restart_preserve_equality(spark, tmp_path):
    """Replaying the in-flight batch (torn-write crash model) and
    continuing through a fresh sink object over the same state dir — the
    checkpoint-restart shape — changes nothing."""
    slices = _slices(spark)
    snap = _snap(tmp_path / "s", compact_every=2)
    for i, b in enumerate(slices[:2]):
        snap.foreach_batch(b, i)
    snap.foreach_batch(slices[1], 1)  # replay of the last in-flight batch
    snap2 = _snap(tmp_path / "s", compact_every=2)
    snap2.foreach_batch(slices[2], 2)
    assert _snap_bm25(snap2, spark) == _batch_bm25(spark)


def test_empty_batch_commits_nothing(spark, tmp_path):
    snap = _snap(tmp_path / "s")
    snap.foreach_batch(_slices(spark)[0], 0)
    snap.foreach_batch(_texts(spark, []), 1)
    for sub in TABLES:
        c = statedir.dir_counts(os.path.join(str(tmp_path / "s"), sub))
        assert c["batch"] == 1, (sub, c)


def test_conflicting_intra_batch_duplicates_admit_deterministically(
    spark, tmp_path
):
    """The same doc_id carrying DIFFERENT texts inside one batch admits
    the lexicographically-smallest text; a later re-ingest of an admitted
    id is dropped whole (first-wins)."""
    conflicted = _texts(
        spark, [(1, "zebra zebra"), (1, "apple pie"), (2, "apple pie")]
    )
    snap = _snap(tmp_path / "s")
    snap.foreach_batch(conflicted, 0)
    got = {
        (r["doc_id"], r["word"]): (r["tf"], r["dl"])
        for r in snap.postings(spark).collect()
    }
    assert got == {
        (1, "apple"): (1, 2), (1, "pie"): (1, 2),
        (2, "apple"): (1, 2), (2, "pie"): (1, 2),
    }
    snap.foreach_batch(_texts(spark, [(2, "zebra")]), 1)
    assert snap.docs(spark).count() == 2  # re-ingest dropped


def test_scheme_drift_refused_before_restructuring_statedir(spark, tmp_path):
    """A probe or sink with a different tokenizer/scoring scheme must
    refuse — and must refuse BEFORE maybe_compact touches the statedir."""
    slices = _slices(spark)
    snap = _snap(tmp_path / "s", compact_every=10**9)
    for i in range(2):
        snap.foreach_batch(slices[i], i)
    roots = [os.path.join(str(tmp_path / "s"), d) for d in TABLES]
    before = [statedir.dir_counts(r) for r in roots]
    drifted = _snap(tmp_path / "s", compact_every=1)
    drifted._stamp = {"retr_scheme": "tok-bpe/other/v9"}
    with pytest.raises(ValueError, match="scheme mismatch"):
        drifted.foreach_batch(slices[2], 2)
    with pytest.raises(ValueError, match="scheme mismatch"):
        drifted.bm25_topk(spark, TERMS)
    assert [statedir.dir_counts(r) for r in roots] == before
    # the matching sink keeps working, across a fold too
    ok = _snap(tmp_path / "s", compact_every=1)
    ok.foreach_batch(slices[2], 2)
    assert _snap_bm25(ok, spark) == _batch_bm25(spark)


def test_probe_plan_pushes_terms_and_never_shuffles_postings_wide(
    spark, tmp_path
):
    """The probe's scale shape: the query-term set reaches the postings
    scan as a pushed IN filter (row-group pruning on the word-sorted
    index — the inverted-index lookup as a predicate), corpus stats and
    idf enter as broadcasts, and nothing joins the corpus-sized ledger
    (dl rides the postings rows)."""
    snap = _snap(tmp_path / "s")
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    out = snap.bm25_topk(spark, TERMS)
    out.collect()
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "In(word" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "docs" not in plan.split("== Physical Plan ==")[-1].replace(
        str(tmp_path), ""
    ), "probe must not scan the doc ledger"


def test_compaction_keeps_postings_word_sorted(spark, tmp_path):
    """Folds must keep the compacted postings word-sorted within every
    file (row-group stats keep pruning) and must reduce the latest/
    tier to one row per doc; equality and the stamp survive the
    fold."""
    import glob

    import pyarrow.parquet as pq

    snap = _snap(tmp_path / "s", compact_every=1)
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    compact_dirs = [
        p
        for p in glob.glob(str(tmp_path / "s" / "postings" / "compact=*"))
        if os.path.isdir(p)  # skip the .commit manifest markers
    ]
    assert compact_dirs, "compact_every=1 must have folded"
    files = glob.glob(os.path.join(sorted(compact_dirs)[-1], "*.parquet"))
    assert files
    for f in files:
        words = pq.read_table(f, columns=["word"])["word"].to_pylist()
        assert words == sorted(words), f
    latest_files = [
        f
        for d in glob.glob(str(tmp_path / "s" / "latest" / "compact=*"))
        if os.path.isdir(d)
        for f in glob.glob(os.path.join(d, "*.parquet"))
    ]
    folded = [
        i for f in latest_files
        for i in pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
    ]
    assert folded and len(folded) == len(set(folded)), (
        "latest/ fold must reduce to one row per doc"
    )
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)


def test_retrieval_index_cli_mode_drains_corpus(spark, tmp_path, monkeypatch):
    """PIPELINE=retrieval_index_versioned with RETR_VERSION_COL= empty
    (the version-less feed, every row at version 0): one drain over the
    sf0.001 documents admits the whole corpus into the persisted
    inverted index and the probe equals the batch scorer over the live
    set — the sink wired through the registry + env config exactly like
    the ANN mode."""
    from stream_cdc_spark import main as M

    dead = _docs(spark).filter(F.col("doc_id") % 5 == 0).select("doc_id")
    deletes_dir = str(tmp_path / "deletes")
    dead.coalesce(1).write.mode("overwrite").parquet(deletes_dir)
    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "retrieval_index_versioned")
    monkeypatch.setenv("RETR_VERSION_COL", "")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("DOCS_PATH", "/root/testdata/sf0.001")
    monkeypatch.setenv("DELETES_PATH", deletes_dir)
    monkeypatch.setenv("RETR_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    assert M.main() == 0
    snap = _snap(state)
    live = _docs(spark).join(dead, "doc_id", "left_anti")
    assert _snap_bm25(snap, spark) == _live_bm25(spark, live)


def test_bucketed_ledger_equality_and_shuffle_free_admission(
    spark, tmp_path
):
    """bucketed=True folds the admission ledger into a snapshot bucketed
    by the admission key (doc_id, version): (1) everything stays bit-equal through bucketed folds,
    replays and restarts; (2) the redelivery anti-join against the
    snapshot is a SortMergeJoin whose LEDGER side reads the bucketed
    table with NO Exchange — only the incoming batch shuffles (the
    100 TB shape: the corpus-sized side of the per-trigger guard never
    moves)."""
    import re

    slices = _slices(spark)
    snap = _snap(tmp_path / "s", compact_every=1, bucketed=True, num_buckets=4)
    for i, b in enumerate(slices[:2]):
        snap.foreach_batch(b, i)
    snap.foreach_batch(slices[1], 1)  # replay across a bucketed fold
    snap2 = _snap(
        tmp_path / "s", compact_every=1, bucketed=True, num_buckets=4
    )
    snap2.foreach_batch(slices[2], 2)
    assert _snap_bm25(snap2, spark) == _batch_bm25(spark)
    # fold once more so the ledger is snapshot-only (no batch tail),
    # then inspect the admission join plan with broadcast disabled —
    # at real scale the ledger exceeds broadcast, so SMJ is the shape
    # that matters
    key = ["doc_id", "version"]  # the ledger's bucket columns
    statedir.compact(
        spark, snap2.docs_dir, RETR_VDOCS_SCHEMA, 3,
        bucket_cols=key, num_buckets=4,
    )
    rels = snap2._ledger_relations(spark, 3)
    assert len(rels) == 1  # snapshot only, no tail
    # the batch side keyed the way the sink's _build keys it: the
    # version-0 literal goes through statedir.key_version, which keeps
    # it in the join keys
    probe = _slices(spark)[0].select(
        "doc_id",
        statedir.key_version(F.col("version"), F.col("doc_id")).alias(
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


def test_in_memory_fold_matches_batch(spark):
    got = sorted(
        map(
            tuple,
            versioned_bm25_over_events(
                [("upsert", b) for b in _slices(spark)], TERMS, top_k=15
            ).collect(),
        )
    )
    assert got == _batch_bm25(spark)


def _live_bm25(spark, live_docs):
    return sorted(
        map(tuple, text.bm25_topk(live_docs, TERMS, top_k=15).collect())
    )


def test_deletions_hide_docs_from_every_probe(spark, tmp_path):
    """Tombstoned docs vanish from BM25 (scores, df, N, L all move),
    TF-IDF and corpus_stats — bit-equal to the batch scorers over the
    LIVE corpus (admitted \\ deleted). Deleting an unknown id is a
    no-op; interleaving with admission and replaying a delete batch
    changes nothing."""
    d = _docs(spark)
    slices = _slices(spark)
    snap = _snap(tmp_path / "s", compact_every=2)
    snap.foreach_batch(slices[0], 0)
    snap.foreach_batch(slices[1], 1)
    # delete every doc_id % 5 == 0, plus ids far outside the corpus
    dead = d.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    snap.delete_batch(
        dead.unionByName(
            spark.createDataFrame([(10**12,)], "doc_id bigint")
        ),
        0,
    )
    snap.foreach_batch(slices[2], 2)  # admission after deletion
    snap.delete_batch(dead, 0)  # replay of the delete batch
    live = d.join(dead, "doc_id", "left_anti")
    assert _snap_bm25(snap, spark) == _live_bm25(spark, live)
    toks = live.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n = live.agg(F.count(F.lit(1)).alias("n_docs"))
    assert (
        sorted(map(tuple, snap.tfidf_top_terms(spark).collect()))
        == sorted(map(tuple, text.tfidf_top_terms_from_tf(tf, n).collect()))
    )
    n_l = snap.corpus_stats(spark).collect()[0]
    want = (
        live.select(F.size(text.tokens(F.col("text"))).alias("dl"))
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .collect()[0]
    )
    assert (n_l["n"], n_l["l"]) == (want[0], want[1])
    # a deleted id can never be re-admitted (first-wins ledger)
    snap.foreach_batch(_v0(d.filter(F.col("doc_id") % 5 == 0)), 3)
    assert _snap_bm25(snap, spark) == _live_bm25(spark, live)


def test_vacuum_physically_removes_tombstoned_docs(spark, tmp_path):
    """vacuum_versioned_retrieval_index rewrites only the live rows into
    a fresh statedir: probes bit-equal the tombstone-aware source, the
    deleted docs' postings are physically gone, corpus stats match, and
    the destination carries no tombstones. Scheme/occupancy guards
    refuse."""
    from stream_cdc_spark.operators.migration import (
        vacuum_versioned_retrieval_index as vacuum,
    )

    d = _docs(spark)
    src = _snap(tmp_path / "src", compact_every=2)
    for i, b in enumerate(_slices(spark)):
        src.foreach_batch(b, i)
    dead = d.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    src.delete_batch(dead, 0)
    dst = _snap(tmp_path / "dst")
    n = vacuum(spark, src, dst)
    live = d.join(dead, "doc_id", "left_anti")
    assert n == live.count()
    assert _snap_bm25(dst, spark) == _snap_bm25(src, spark)
    # physically gone, not just hidden
    assert dst.postings(spark).join(dead, "doc_id", "left_semi").count() == 0
    assert dst.tombstones(spark).count() == 0
    n_l = dst.corpus_stats(spark).collect()[0]
    assert (n_l["n"], n_l["l"]) == tuple(
        src.corpus_stats(spark).collect()[0]
    )
    # a stream resuming into the vacuumed dir at batch_id 0 (fresh
    # checkpoint) sees the compact=0 ledger: redelivered live ids drop,
    # only the genuinely-new doc admits, nothing is overwritten
    new_doc = _texts(spark, [(10**9, "brand new document")])
    dst.foreach_batch(
        _v0(live.select("doc_id", "text").limit(5)).unionByName(new_doc), 0
    )
    assert dst.docs(spark).count() == live.count() + 1
    # guards
    with pytest.raises(ValueError, match="share a state dir"):
        vacuum(spark, src, src)
    with pytest.raises(ValueError, match="not\\s+empty"):
        vacuum(spark, src, dst)
    drifted = _snap(tmp_path / "x")
    drifted._stamp = {"retr_scheme": "tok-bpe/other/v9"}
    with pytest.raises(ValueError, match="scheme mismatch"):
        vacuum(spark, src, drifted)


def test_folds_apply_tombstones_to_postings(spark, tmp_path):
    """Compaction folds of postings/ keep LIVE rows only — eventual
    physical erasure without an operator-initiated vacuum. Probe
    equality to the live-corpus batch scorer holds across the applying
    fold (including a replay over it), the deleted docs' postings are
    physically gone from the folded tier, and the docs/ ledger still
    carries the deleted ids (never-readmit needs them)."""
    d = _docs(spark)
    slices = _slices(spark)
    snap = _snap(tmp_path / "s", compact_every=1)
    snap.foreach_batch(slices[0], 0)
    snap.foreach_batch(slices[1], 1)
    dead = d.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    snap.delete_batch(dead, 0)
    snap.foreach_batch(slices[2], 2)   # compact_every=1: folds 0..1
    snap.foreach_batch(slices[2], 2)   # replay across the applying fold
    # one more trigger so batch=2 itself folds under the tombstones
    snap.foreach_batch(_texts(spark, []), 3)
    live = d.join(dead, "doc_id", "left_anti")
    assert _snap_bm25(snap, spark) == _live_bm25(spark, live)
    # physically gone from the folded tier (raw state, before the
    # read-path exclusion)
    assert snap.postings(spark).join(dead, "doc_id", "left_semi").count() == 0
    # the ledger still remembers them: never-readmit
    assert snap.docs(spark).join(dead, "doc_id", "left_semi").count() == dead.count()
    n_l = snap.corpus_stats(spark).collect()[0]
    want = (
        live.select(F.size(text.tokens(F.col("text"))).alias("dl"))
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .collect()[0]
    )
    assert (n_l["n"], n_l["l"]) == (want[0], want[1])
    snap.foreach_batch(_v0(d.filter(F.col("doc_id") % 5 == 0)), 4)
    assert _snap_bm25(snap, spark) == _live_bm25(spark, live)


def test_single_version_read_switches_off_at_the_first_update(
    spark, tmp_path
):
    """An insert-only state proves its one version from the docs/
    ledger's parquet footers, and the probes then read live rows
    without the version-max lookup. The first update (version 1) ends
    the proof, and the lookup takes over: both reads stay bit-equal to
    the batch scorers over the latest images."""
    snap = _snap(tmp_path / "s", compact_every=2)
    for i, b in enumerate(_slices(spark)):
        snap.foreach_batch(b, i)
    assert snap._tables.one_value("docs", "version") == 0
    assert _snap_bm25(snap, spark) == _batch_bm25(spark)
    new_text = "stream stream vector join"
    snap.foreach_batch(
        spark.createDataFrame(
            [(1, 1, new_text)], "doc_id bigint, version bigint, text string"
        ),
        3,
    )
    assert snap._tables.one_value("docs", "version") is None
    latest = _docs(spark).select(
        "doc_id",
        F.when(F.col("doc_id") == 1, F.lit(new_text))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    assert _snap_bm25(snap, spark) == sorted(
        map(tuple, text.bm25_topk(latest, TERMS, top_k=15).collect())
    )
