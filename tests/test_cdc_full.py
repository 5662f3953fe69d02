"""The composed production pipeline (streaming/cdc_full.py
CdcFullPipeline): ONE typed CDC envelope feed — interleaved insert/
update/delete events with out-of-order versions, redeliveries, a
mid-stream restart and a quality-gated UPDATE — drives the curation
gate, the versioned retrieval index and the versioned ANN index in a
single foreachBatch. Final probes must be bit-equal to the batch
references on both index surfaces, with deletions applied from both the
in-band Delete envelopes and the out-of-band DELETES_PATH feed.
Reference anchor: the one wired object graph of the reference's main()
(stream_cdc/main.py:16-66)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.operators import similarity, text
from stream_cdc_spark.streaming.cdc_full import (
    CDC_FULL_FEED_SCHEMA,
    CdcFullPipeline,
)
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL

TERMS = ["stream", "vector", "join"]
MIN_TOKENS = 5


def _base(spark):
    """(doc_id, text, embedding) — the enriched row image."""
    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    e = load(spark, SF_SMALL, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<float>").alias("embedding"),
    )
    return d.join(e, "doc_id")


def _centroids_df(spark):
    return load(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id") % 100 == 0
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<float>").alias("cv"),
    )


def _centroids(spark):
    return [(r["cid"], list(r["cv"])) for r in _centroids_df(spark).collect()]


def _queries(spark):
    return load(spark, SF_SMALL, "embeddings").filter(F.col("vec_id") < 5)


def _upsert_env(df, etype):
    """(doc_id, version, text, embedding) rows -> typed envelopes."""
    return df.select(
        F.lit(etype).alias("event_type"),
        F.col("version").cast("long").alias("gtid_seq"),
        F.struct(
            F.col("doc_id"), F.col("text"), F.col("embedding")
        ).alias("content"),
    )


DELETE_SEQ = 2  # in-band kill watermark: kills versions 1 and 2


def _delete_env(ids):
    return ids.select(
        F.lit("Delete").alias("event_type"),
        F.lit(DELETE_SEQ).cast("long").alias("gtid_seq"),
        F.struct(
            F.col("doc_id"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("array<float>").alias("embedding"),
        ).alias("content"),
    )


def _v1(spark):
    return _base(spark).select(
        "doc_id", F.lit(1).cast("long").alias("version"), "text", "embedding"
    )


def _v2(spark):
    """Good updates: %4==1 docs get version 2 with two query terms
    appended and the REVERSED embedding — both surfaces move."""
    return _base(spark).filter(F.col("doc_id") % 4 == 1).select(
        "doc_id",
        F.lit(2).cast("long").alias("version"),
        F.concat(F.col("text"), F.lit(" vector stream")).alias("text"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )


def _v2_bad(spark):
    """Low-quality updates: %4==2 docs get a version-2 image BELOW the
    token gate — neither index may admit it; the version-max read keeps
    serving version 1 (the last image that PASSED the gate)."""
    return _base(spark).filter(F.col("doc_id") % 4 == 2).select(
        "doc_id",
        F.lit(2).cast("long").alias("version"),
        F.lit("tiny doc").alias("text"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )


def _dead_ids(spark):
    return _base(spark).filter(F.col("doc_id") % 10 == 3).select("doc_id")


def _v3_reborn(spark):
    """Delete-then-RECREATE: half the deleted docs (%20==3) come back
    as a version-3 re-insert with a sequence ABOVE the in-band delete's
    kill watermark — live again on both surfaces (the reference's
    routine Delete-then-Insert row re-creation; ADVICE r13). The other
    half (%20==13) stays dead, proving the killed prefix is permanent."""
    return _base(spark).filter(F.col("doc_id") % 20 == 3).select(
        "doc_id",
        F.lit(3).cast("long").alias("version"),
        F.concat(F.col("text"), F.lit(" reborn stream")).alias("text"),
        "embedding",
    )


def _event_batches(spark):
    v1, v2, v2b = _v1(spark), _v2(spark), _v2_bad(spark)
    dead = _dead_ids(spark)
    return [
        _upsert_env(v1.filter(F.col("doc_id") % 3 != 2), "Insert"),
        # good + bad updates; v2 precedes v1 for %3==2 docs; redelivered
        # v1 rows (%7==0)
        _upsert_env(v2.unionByName(v2b), "Update").unionByName(
            _upsert_env(
                v1.filter(
                    (F.col("doc_id") % 3 != 2) & (F.col("doc_id") % 7 == 0)
                ),
                "Insert",
            )
        ),
        _delete_env(dead),
        # late v1 images + redelivered v2 rows (%7==1)
        _upsert_env(v1.filter(F.col("doc_id") % 3 == 2), "Insert")
        .unionByName(
            _upsert_env(v2.filter(F.col("doc_id") % 7 == 1), "Update")
        ),
        # delete replay + the RECREATE slice in ONE envelope batch:
        # a redelivered delete must not kill the version-3 re-insert
        # (3 > the kill watermark 2), regardless of intra-batch order
        _delete_env(dead).unionByName(
            _upsert_env(_v3_reborn(spark), "Insert")
        ),
    ]


def _latest_gated(spark, extra_dead=None):
    """The batch reference corpus: the max-version image per doc among
    GATE-PASSING versions, minus dead versions. In-band deletes are
    VERSIONED: %10==3 docs were deleted at sequence DELETE_SEQ, killing
    versions <= it — the %20==3 half is recreated at version 3 (live),
    the %20==13 half stays dead. ``extra_dead`` is the out-of-band
    doc-level channel (permanent, every version)."""
    allv = (
        _v1(spark)
        .unionByName(_v2(spark))
        .unionByName(_v2_bad(spark))
        .unionByName(_v3_reborn(spark))
    ).filter(F.size(F.split(F.col("text"), " ")) >= MIN_TOKENS)
    allv = allv.filter(
        ~((F.col("doc_id") % 10 == 3) & (F.col("version") <= DELETE_SEQ))
    )
    w_max = allv.groupBy("doc_id").agg(F.max("version").alias("version"))
    latest = allv.join(w_max, ["doc_id", "version"])
    if extra_dead is not None:
        latest = latest.join(extra_dead, "doc_id", "left_anti")
    return latest


def _retr_ref(spark, extra_dead=None):
    return sorted(
        map(
            tuple,
            text.bm25_topk(
                _latest_gated(spark, extra_dead).select("doc_id", "text"),
                TERMS,
                top_k=15,
            ).collect(),
        )
    )


def _ann_ref(spark, extra_dead=None):
    corpus = _latest_gated(spark, extra_dead).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                corpus, _queries(spark), _centroids_df(spark),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )


def _probe(pipe, spark):
    retr = sorted(
        map(tuple, pipe.retr.bm25_topk(spark, TERMS, top_k=15).collect())
    )
    ann = sorted(
        map(tuple, pipe.ann.topk(spark, _queries(spark)).collect())
    )
    return retr, ann


@pytest.mark.slow
def test_composed_drain_with_restart_matches_batch_on_both_surfaces(
    spark, tmp_path
):
    """The headline e2e: interleaved envelopes through the composed
    sink, a replayed batch, a mid-stream RESTART (fresh pipeline object
    over the same state — the checkpoint-resume shape), folds crossing
    the stream — then both probes equal their batch references over the
    latest live GATED images."""
    batches = _event_batches(spark)
    pipe = CdcFullPipeline(
        str(tmp_path / "s"), _centroids(spark),
        min_tokens=MIN_TOKENS, compact_every=2,
    )
    for i, b in enumerate(batches[:3]):
        pipe.foreach_batch(b, i)
    pipe.foreach_batch(batches[1], 1)  # replay of the in-flight batch
    pipe2 = CdcFullPipeline(  # mid-stream restart
        str(tmp_path / "s"), _centroids(spark),
        min_tokens=MIN_TOKENS, compact_every=2,
    )
    for i, b in enumerate(batches[3:], start=3):
        pipe2.foreach_batch(b, i)
    retr, ann = _probe(pipe2, spark)
    assert retr == _retr_ref(spark)
    assert ann == _ann_ref(spark)
    # the gate blocked every bad update on BOTH surfaces: no %4==2 doc
    # carries version 2 anywhere
    assert pipe2.retr.docs(spark).filter(
        (F.col("doc_id") % 4 == 2) & (F.col("version") == 2)
    ).count() == 0
    assert pipe2.ann.ledger(spark).filter(
        (F.col("vec_id") % 4 == 2) & (F.col("version") == 2)
    ).count() == 0


def test_gated_update_keeps_serving_last_good_version(spark, tmp_path):
    """Explicit tiny case: v2 fails the gate -> probes serve v1; a
    gate-passing v3 then supersedes."""
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    pipe = CdcFullPipeline(
        str(tmp_path / "s"), cents, min_tokens=MIN_TOKENS
    )
    mk = lambda ver, txt, emb: spark.createDataFrame(
        [(1, ver, txt, emb)],
        "doc_id bigint, version bigint, text string, "
        "embedding array<float>",
    )
    pipe.foreach_batch(
        _upsert_env(mk(1, "stream join vector query engine", [0.9, 0.1]),
                    "Insert"), 0,
    )
    pipe.foreach_batch(_upsert_env(mk(2, "tiny doc", [-0.9, 0.1]),
                                   "Update"), 1)
    latest = pipe.retr._latest_live(spark).collect()
    assert [(r["doc_id"], r["version"]) for r in latest] == [(1, 1)]
    assert [
        tuple(r) for r in pipe.ann._latest_live(spark).collect()
    ] == [(1, 1)]
    pipe.foreach_batch(
        _upsert_env(mk(3, "stream engines join vectors fast now",
                       [-0.8, 0.2]), "Update"), 2,
    )
    assert [
        tuple(r) for r in pipe.ann._latest_live(spark).collect()
    ] == [(1, 3)]


@pytest.mark.slow
def test_out_of_band_delete_feed_hits_both_indexes(spark, tmp_path):
    """delete_batch (the DELETES_PATH leg) tombstones the id on BOTH
    surfaces — the two-channel right-to-be-forgotten story."""
    batches = _event_batches(spark)
    pipe = CdcFullPipeline(
        str(tmp_path / "s"), _centroids(spark), min_tokens=MIN_TOKENS
    )
    for i, b in enumerate(batches):
        pipe.foreach_batch(b, i)
    extra = _base(spark).filter(F.col("doc_id") % 10 == 7).select("doc_id")
    pipe.delete_batch(extra, 0)
    retr, ann = _probe(pipe, spark)
    assert retr == _retr_ref(spark, extra_dead=extra)
    assert ann == _ann_ref(spark, extra_dead=extra)


def test_deletes_only_batch_commits_no_index_rows(spark, tmp_path):
    pipe = CdcFullPipeline(
        str(tmp_path / "s"), _centroids(spark), min_tokens=MIN_TOKENS
    )
    pipe.foreach_batch(_delete_env(_dead_ids(spark)), 0)
    from stream_cdc_spark.streaming import statedir

    assert not statedir.state_paths(pipe.retr.docs_dir, 1 << 62)
    assert not statedir.state_paths(pipe.ann.vectors_dir, 1 << 62)
    # in-band Deletes land in the VERSIONED tombstone channel (kill
    # watermark = the delete's gtid_seq), not the permanent doc-level
    # log — that one is the out-of-band DELETES_PATH contract
    n = _dead_ids(spark).count()
    assert pipe.retr.versioned_tombstones(spark).count() == n
    assert pipe.ann.versioned_tombstones(spark).count() == n
    assert pipe.retr.tombstones(spark).count() == 0
    assert pipe.ann.tombstones(spark).count() == 0


@pytest.mark.slow
def test_cdc_full_cli_drains_envelopes_and_delete_feed(
    spark, tmp_path, monkeypatch
):
    """PIPELINE=cdc_full entrypoint: one availableNow drain of the
    envelope feed (inserts + good/bad updates + in-band Deletes) AND an
    out-of-band DELETES_PATH feed; both probes equal the batch
    references with both delete channels applied."""
    from stream_cdc_spark import main as M
    from stream_cdc_spark.streaming.cdc_full import CdcFullPipeline as P

    feed = (
        _upsert_env(_v1(spark), "Insert")
        .unionByName(_upsert_env(_v2(spark), "Update"))
        .unionByName(_upsert_env(_v2_bad(spark), "Update"))
        .unionByName(_delete_env(_dead_ids(spark)))
        .unionByName(_upsert_env(_v3_reborn(spark), "Insert"))
    )
    feed_dir = str(tmp_path / "feed")
    feed.coalesce(1).write.mode("overwrite").parquet(feed_dir)
    extra = _base(spark).filter(F.col("doc_id") % 10 == 7).select("doc_id")
    deletes_dir = str(tmp_path / "deletes")
    extra.coalesce(1).write.mode("overwrite").parquet(deletes_dir)
    cents_path = str(tmp_path / "centroids.parquet")
    _centroids_df(spark).toPandas().to_parquet(cents_path)
    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "cdc_full")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("EVENTS_PATH", feed_dir)
    monkeypatch.setenv("DELETES_PATH", deletes_dir)
    monkeypatch.setenv("CENTROIDS_PATH", cents_path)
    monkeypatch.setenv("CDC_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    monkeypatch.setenv("MIN_TOKENS", str(MIN_TOKENS))
    assert M.main() == 0
    pipe = P(state, _centroids(spark), min_tokens=MIN_TOKENS)
    retr, ann = _probe(pipe, spark)
    assert retr == _retr_ref(spark, extra_dead=extra)
    assert ann == _ann_ref(spark, extra_dead=extra)


def test_null_upsert_version_fails_loudly(spark, tmp_path):
    """An upsert envelope with a NULL gtid_seq (a feed file missing the
    column reads all-null under the forced schema, or a malformed
    envelope) must fail the batch loudly: null versions match neither
    the admission anti-join (every redelivery re-admits) nor the
    version-max equi-join (the doc vanishes from probes) — the silent
    no-op class the versioned CLI guards close at startup, caught here
    row-wise."""
    pipe = CdcFullPipeline(
        str(tmp_path / "s"), [(0, [1.0, 0.0])], min_tokens=1
    )
    bad = spark.createDataFrame(
        [("Insert", None, (1, "some text here", [0.5, 0.5]))],
        "event_type string, gtid_seq bigint, "
        "content struct<doc_id bigint, text string, "
        "embedding array<float>>",
    )
    with pytest.raises(ValueError, match="NULL 'gtid_seq'"):
        pipe.foreach_batch(bad, 0)
    # nothing committed on any leg
    from stream_cdc_spark.streaming import statedir

    assert not statedir.state_paths(pipe.retr.docs_dir, 1 << 62)
    assert not statedir.state_paths(pipe.ann.vectors_dir, 1 << 62)


def test_null_content_fields_on_gated_upserts_fail_loudly(spark, tmp_path):
    """A content struct missing its embedding (or doc_id) field reads
    all-null under the forced feed schema while the quality gate still
    passes on text — the ANN leg would admit null vectors whose
    first-wins slots a corrected redelivery can never reclaim (ADVICE
    r13). The sink must fail the batch loudly instead, committing
    nothing."""
    pipe = CdcFullPipeline(
        str(tmp_path / "s"), [(0, [1.0, 0.0])], min_tokens=1
    )
    null_emb = spark.createDataFrame(
        [("Insert", 1, (1, "good text that passes the gate", None))],
        "event_type string, gtid_seq bigint, "
        "content struct<doc_id bigint, text string, "
        "embedding array<float>>",
    )
    with pytest.raises(ValueError, match="NULL 'doc_id' or 'embedding'"):
        pipe.foreach_batch(null_emb, 0)
    null_id = spark.createDataFrame(
        [("Insert", 1, (None, "good text that passes the gate",
                        [0.5, 0.5]))],
        "event_type string, gtid_seq bigint, "
        "content struct<doc_id bigint, text string, "
        "embedding array<float>>",
    )
    with pytest.raises(ValueError, match="NULL 'doc_id' or 'embedding'"):
        pipe.foreach_batch(null_id, 1)
    from stream_cdc_spark.streaming import statedir

    assert not statedir.state_paths(pipe.retr.docs_dir, 1 << 62)
    assert not statedir.state_paths(pipe.ann.vectors_dir, 1 << 62)
    # null TEXT is the gate's job, not an error: the image fails the
    # quality predicate and is skipped on both surfaces
    null_text = spark.createDataFrame(
        [("Insert", 1, (1, None, [0.5, 0.5]))],
        "event_type string, gtid_seq bigint, "
        "content struct<doc_id bigint, text string, "
        "embedding array<float>>",
    )
    pipe.foreach_batch(null_text, 2)
    assert not statedir.state_paths(pipe.ann.vectors_dir, 1 << 62)


def test_cli_startup_guard_refuses_feed_missing_content_fields(
    spark, tmp_path, monkeypatch
):
    """The cdc_full CLI startup guard checks the CONTENT STRUCT's
    fields, not just the top-level envelope columns (ADVICE r13): a
    feed whose content struct lacks `embedding` would read it all-null
    under the forced schema and silently poison the ANN leg."""
    from stream_cdc_spark import main as M

    feed = spark.createDataFrame(
        [("Insert", 1, (1, "text without an embedding field"))],
        "event_type string, gtid_seq bigint, "
        "content struct<doc_id bigint, text string>",
    )
    feed_dir = str(tmp_path / "feed")
    feed.coalesce(1).write.mode("overwrite").parquet(feed_dir)
    cents_path = str(tmp_path / "centroids.parquet")
    _centroids_df(spark).toPandas().to_parquet(cents_path)
    monkeypatch.setenv("PIPELINE", "cdc_full")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("EVENTS_PATH", feed_dir)
    monkeypatch.setenv("CENTROIDS_PATH", cents_path)
    monkeypatch.setenv("CDC_STATE_DIR", str(tmp_path / "s"))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    monkeypatch.delenv("DELETES_PATH", raising=False)
    with pytest.raises(ValueError, match="content fields"):
        M.main()


@pytest.mark.slow
def test_inband_delete_then_recreate_restores_doc(spark, tmp_path):
    """The in-band Delete channel is VERSIONED (ADVICE r13): a Delete
    envelope kills only versions at or below its CDC sequence, so the
    reference's routine Delete-then-Insert row re-creation works — the
    re-insert (higher sequence) is live on BOTH surfaces, the killed
    versions stay dead forever, and a replayed delete cannot kill the
    recreate. The out-of-band channel stays permanent."""
    cents = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    pipe = CdcFullPipeline(
        str(tmp_path / "s"), cents, min_tokens=MIN_TOKENS
    )
    mk = lambda ver, txt, emb: spark.createDataFrame(
        [(1, ver, txt, emb)],
        "doc_id bigint, version bigint, text string, "
        "embedding array<float>",
    )
    dead = spark.createDataFrame([(1,)], "doc_id bigint")

    def dele(seq):
        return dead.select(
            F.lit("Delete").alias("event_type"),
            F.lit(seq).cast("long").alias("gtid_seq"),
            F.struct(
                F.col("doc_id"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("array<float>").alias("embedding"),
            ).alias("content"),
        )

    pipe.foreach_batch(
        _upsert_env(mk(1, "stream join vector query engine", [0.9, 0.1]),
                    "Insert"), 0,
    )
    pipe.foreach_batch(dele(5), 1)  # kills versions <= 5
    assert pipe.retr._latest_live(spark).count() == 0
    assert pipe.ann._latest_live(spark).count() == 0
    # a LATE version below the watermark admits but stays dead
    pipe.foreach_batch(
        _upsert_env(mk(4, "stale image arriving after the delete wins",
                       [0.8, 0.2]), "Update"), 2,
    )
    assert pipe.retr._latest_live(spark).count() == 0
    # the RECREATE (sequence 7 > watermark 5) is live again
    pipe.foreach_batch(
        _upsert_env(mk(7, "stream engines join vectors reborn now",
                       [-0.8, 0.2]), "Insert"), 3,
    )
    assert [
        (r["doc_id"], r["version"])
        for r in pipe.retr._latest_live(spark).collect()
    ] == [(1, 7)]
    assert [
        tuple(r) for r in pipe.ann._latest_live(spark).collect()
    ] == [(1, 7)]
    # a replayed delete (same watermark) cannot kill the recreate
    pipe.foreach_batch(dele(5), 4)
    assert [
        tuple(r) for r in pipe.ann._latest_live(spark).collect()
    ] == [(1, 7)]
    # the OUT-OF-BAND channel stays doc-level and permanent: it kills
    # the recreate too, and no future version resurrects it
    pipe.delete_batch(dead, 0)
    assert pipe.retr._latest_live(spark).count() == 0
    pipe.foreach_batch(
        _upsert_env(mk(9, "no resurrection after right to be forgotten",
                       [0.7, 0.3]), "Update"), 5,
    )
    assert pipe.ann._latest_live(spark).count() == 0


# -- concurrent fan-out: the two index surfaces commit on two threads ------

TINY_CENTS = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
# (event_type, gtid_seq, doc_id, text, embedding) per batch: inserts, a
# good and a below-gate update, a redelivery, in-band deletes (one doc
# recreated above its kill watermark in the same batch) and a repeated
# delete
TINY_BATCHES = [
    [
        ("Insert", 1, 1, "stream join vector query engine", [0.9, 0.1]),
        ("Insert", 1, 2, "vector search over stream data", [0.7, 0.3]),
        ("Insert", 1, 3, "join planning for stream engines", [-0.6, 0.4]),
        ("Insert", 1, 4, "batch table scan vector math", [-0.9, 0.2]),
        ("Insert", 1, 5, "plain text about nothing much", [0.2, 0.9]),
        ("Insert", 1, 6, "stream stream join join vector", [-0.3, -0.8]),
    ],
    [
        ("Update", 2, 1, "stream join vector engine rebuilt", [0.5, 0.5]),
        ("Update", 2, 2, "tiny doc", [-0.9, 0.1]),
        ("Insert", 1, 7, "join vector stream windows in order", [0.8, -0.2]),
        ("Insert", 1, 3, "join planning for stream engines", [-0.6, 0.4]),
    ],
    [
        ("Delete", 1, 3, None, None),
        ("Delete", 1, 5, None, None),
        ("Delete", 1, 5, None, None),
        ("Insert", 4, 3, "stream vector join is back", [-0.5, 0.5]),
        ("Update", 3, 4, "vector stream join batch table", [-0.8, 0.3]),
    ],
]
TINY_QUERIES = [(0, [1.0, 0.0]), (1, [-0.7, 0.7])]


def _tiny_env(spark, rows):
    return spark.createDataFrame(
        [(e, s, (d, t, v)) for e, s, d, t, v in rows], CDC_FULL_FEED_SCHEMA
    )


def _tiny_model(batches):
    """(admitted (doc, version) count, latest live gated images) after
    ``batches`` — first-wins admission of gate-passing upserts, the
    version-max read rule, versioned in-band kills."""
    admitted, kill = {}, {}
    for rows in batches:
        for e, s, d, t, v in rows:
            if e == "Delete":
                kill[d] = max(kill.get(d, -1), s)
            elif len(t.split(" ")) >= MIN_TOKENS:
                admitted.setdefault((d, s), (t, v))
    latest = {}
    for d, s in admitted:
        latest[d] = max(latest.get(d, -1), s)
    live = {
        d: admitted[(d, s)] for d, s in latest.items() if s > kill.get(d, -1)
    }
    return len(admitted), live


def _tiny_refs(spark, live):
    rows = sorted(live.items())
    corpus_t = spark.createDataFrame(
        [(d, t) for d, (t, _) in rows], "doc_id bigint, text string"
    )
    corpus_v = spark.createDataFrame(
        [(d, v) for d, (_, v) in rows], "vec_id bigint, embedding array<float>"
    )
    retr = sorted(
        map(tuple, text.bm25_topk(corpus_t, TERMS, top_k=15).collect())
    )
    ann = sorted(
        map(
            tuple,
            similarity.ivf_ann_topk(
                corpus_v, _tiny_queries(spark),
                spark.createDataFrame(TINY_CENTS, "cid bigint, cv array<float>"),
                k=5, nprobe=2, quantize_bp=10000,
            ).collect(),
        )
    )
    return retr, ann


def _tiny_queries(spark):
    return spark.createDataFrame(
        TINY_QUERIES, "vec_id bigint, embedding array<float>"
    )


def _tiny_probe(pipe, spark):
    retr = sorted(
        map(tuple, pipe.retr.bm25_topk(spark, TERMS, top_k=15).collect())
    )
    ann = sorted(map(tuple, pipe.ann.topk(spark, _tiny_queries(spark)).collect()))
    return retr, ann


def _assert_matches_model(pipe, spark):
    n_admitted, live = _tiny_model(TINY_BATCHES)
    assert _tiny_probe(pipe, spark) == _tiny_refs(spark, live)
    assert pipe.retr.docs(spark).count() == n_admitted
    assert pipe.ann.ledger(spark).count() == n_admitted


def test_failed_worker_leg_reraises_after_both_legs_and_replays(
    spark, tmp_path
):
    """The ANN surface runs on a worker thread beside the retrieval
    surface. An ANN failure on batch 1 re-raises the SAME exception from
    foreach_batch, only after the retrieval leg committed; replaying
    batch 1 re-runs both legs and the stream ends equal to the batch
    references on both surfaces."""
    pipe = CdcFullPipeline(str(tmp_path / "s"), TINY_CENTS, min_tokens=MIN_TOKENS)
    boom = RuntimeError("injected ANN leg failure")
    real = pipe.ann.foreach_batch
    fired = []

    def flaky(df, batch_id):
        if batch_id == 1 and not fired:
            fired.append(batch_id)
            raise boom
        return real(df, batch_id)

    pipe.ann.foreach_batch = flaky
    envs = [_tiny_env(spark, rows) for rows in TINY_BATCHES]
    pipe.foreach_batch(envs[0], 0)
    with pytest.raises(RuntimeError) as caught:
        pipe.foreach_batch(envs[1], 1)
    assert caught.value is boom
    # the calling thread's leg finished its commits; the failed leg
    # committed nothing for batch 1
    assert pipe.retr.docs(spark).count() == _tiny_model(TINY_BATCHES[:2])[0]
    assert pipe.ann.ledger(spark).count() == _tiny_model(TINY_BATCHES[:1])[0]
    for i, env in enumerate(envs[1:], start=1):  # replay of 1, then on
        pipe.foreach_batch(env, i)
    _assert_matches_model(pipe, spark)


def test_bucketed_folds_of_both_legs_run_concurrently(spark, tmp_path):
    """compact_every=1 folds both surfaces' bucketed state on every
    trigger, so the two legs' major folds (each toggling the session's
    autoBucketedScan conf) overlap; with a replayed trigger in the mix
    both probes still equal the batch references."""
    pipe = CdcFullPipeline(
        str(tmp_path / "s"), TINY_CENTS, min_tokens=MIN_TOKENS,
        bucketed=True, num_buckets=4, compact_every=1,
    )
    envs = [_tiny_env(spark, rows) for rows in TINY_BATCHES]
    for i, env in enumerate(envs):
        pipe.foreach_batch(env, i)
        if i == 1:
            pipe.foreach_batch(env, i)  # replay after a completed fold
    _assert_matches_model(pipe, spark)


def test_both_legs_run_in_the_streaming_query_job_group(spark, tmp_path):
    """Inside a real foreachBatch query, the worker leg inherits the
    query's Spark local properties: both legs run their jobs in the job
    group the query sets (its runId), so stopping the query cancels
    both."""
    import threading

    feed = str(tmp_path / "feed")
    _tiny_env(spark, TINY_BATCHES[0]).coalesce(1).write.parquet(feed)
    pipe = CdcFullPipeline(str(tmp_path / "s"), TINY_CENTS, min_tokens=MIN_TOKENS)
    sc = spark.sparkContext
    seen = {}

    def record(label, leg):
        real = leg.foreach_batch

        def wrapped(df, batch_id):
            seen[label] = (
                threading.get_ident(), sc.getLocalProperty("spark.jobGroup.id")
            )
            return real(df, batch_id)

        leg.foreach_batch = wrapped

    record("retr", pipe.retr)
    record("ann", pipe.ann)
    q = (
        spark.readStream.schema(CDC_FULL_FEED_SCHEMA).parquet(feed)
        .writeStream.foreachBatch(pipe.foreach_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["retr"][0] != seen["ann"][0]  # two threads
    assert seen["retr"][1] == seen["ann"][1] == str(q.runId)


def test_null_version_error_keeps_precedence_in_the_fused_scan(
    spark, tmp_path
):
    """One scan checks both null guards; when a batch trips both, the
    NULL version error still wins, whichever row the scan meets first."""
    pipe = CdcFullPipeline(str(tmp_path / "s"), TINY_CENTS, min_tokens=1)
    both = spark.createDataFrame(
        [
            ("Insert", 1, (None, "good text that passes the gate",
                           [0.5, 0.5])),
            ("Delete", None, (2, None, None)),
        ],
        CDC_FULL_FEED_SCHEMA,
    ).coalesce(1)
    with pytest.raises(ValueError, match="NULL 'gtid_seq'"):
        pipe.foreach_batch(both, 0)


def test_fan_out_joins_both_legs_before_raising(spark):
    """The fan-out helper returns or raises only after both legs ended;
    a worker failure re-raises as-is, and the caller's wins when both
    fail."""
    import time

    from stream_cdc_spark.streaming.cdc_full import _concurrently

    ended = []
    worker_err = KeyError("worker leg")

    def slow_failing_worker():
        time.sleep(0.3)
        ended.append("worker")
        raise worker_err

    def failing_caller():
        raise ValueError("caller leg")

    with pytest.raises(ValueError, match="caller leg"):
        _concurrently(slow_failing_worker, failing_caller)
    assert ended == ["worker"]
    with pytest.raises(KeyError) as caught:
        _concurrently(slow_failing_worker, lambda: ended.append("caller"))
    assert caught.value is worker_err
    assert ended == ["worker", "caller", "worker"]
