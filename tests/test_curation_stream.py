"""Continuous curation e2e: restart-safe, idempotent, equal to the
batch-sequential reference."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.streaming.curation import CurationPipeline
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL

MIN_TOKENS = 5
THRESH = 0.8


def _greedy_reference(rows, slices, tok_ok=None):
    """Chained-greedy across micro-batches, non-chained min-id within one
    (the q110/q39 hybrid), after the same quality gate. ``tok_ok`` (the
    quality-pass id set) defaults to the whitespace MIN_TOKENS gate;
    callers pass a BPE-counted set to twin the subword-budgeted sink."""
    sh = {}
    for r in rows:
        toks = r["text"].split(" ")
        sh[r["doc_id"]] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    def jac(a, b):
        sa, sb = sh[a], sh[b]
        if not sa or not sb:
            return 0.0
        inter = len(sa & sb)
        return inter / (len(sa) + len(sb) - inter)

    if tok_ok is None:
        tok_ok = {
            r["doc_id"]
            for r in rows
            if len(r["text"].split(" ")) >= MIN_TOKENS
        }
    kept: set[int] = set()
    for batch_ids in slices:
        ok = sorted(i for i in batch_ids if i in tok_ok)
        for did in ok:
            dup = any(jac(did, o) >= THRESH for o in kept)
            dup = dup or any(
                jac(did, o) >= THRESH for o in ok if o < did
            )
            if not dup:
                kept.add(did)
    return kept


@pytest.mark.slow
def test_curation_stream_restart_matches_reference(spark, tmp_path):
    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    rows = d.collect()
    indir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)

    # four deterministic slices, written as separate files so
    # maxFilesPerTrigger=1 makes each one its own micro-batch
    slices = [
        sorted(r["doc_id"] for r in rows if r["doc_id"] % 4 == i)
        for i in range(4)
    ]
    for i, ids in enumerate(slices):
        sdf = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in rows if r["doc_id"] in set(ids)],
            "doc_id bigint, text string",
        )
        sdf.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(indir, f"slice={i}")
        )

    pipe = CurationPipeline(state, min_tokens=MIN_TOKENS)

    def run(n_slices):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(indir + "/slice={" + ",".join(map(str, range(n_slices))) + "}")
        )
        q = (
            stream.writeStream.foreachBatch(pipe.sink())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run(2)   # phase 1: two slices
    run(4)   # phase 2: restart from checkpoint, two more

    kept = {r["doc_id"] for r in pipe.corpus(spark).collect()}
    want = _greedy_reference(rows, slices)
    assert kept == want
    assert 0 < len(kept) < len(rows)

    # decisions: exactly one row per doc, reasons consistent
    dec = pipe.decisions(spark)
    assert dec.count() == len(rows)
    assert dec.select("doc_id").distinct().count() == len(rows)
    by_reason = {
        r["reason"]: r["n"]
        for r in dec.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    assert by_reason.get(None, 0) == len(want)  # kept rows carry no reason
    assert set(by_reason) <= {None, "quality", "near_dup"}


@pytest.mark.slow
def test_curation_replayed_batch_is_idempotent(spark, tmp_path):
    """Re-running foreach_batch for an already-committed batch id must see
    exactly the pre-batch state and rewrite identical outputs."""
    state = str(tmp_path / "state")
    pipe = CurationPipeline(state, min_tokens=2)
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon"), (4, "short")],
        "doc_id bigint, text string",
    )
    pipe.foreach_batch(b0, 0)
    pipe.foreach_batch(b1, 1)
    first = sorted(map(tuple, pipe.decisions(spark).collect()))
    kept_first = sorted(r["doc_id"] for r in pipe.corpus(spark).collect())
    pipe.foreach_batch(b1, 1)  # replay
    assert sorted(map(tuple, pipe.decisions(spark).collect())) == first
    assert sorted(r["doc_id"] for r in pipe.corpus(spark).collect()) == kept_first
    # and the semantics: 3 dropped as near-dup of 1, 4 dropped on quality
    dec = {r["doc_id"]: (r["keep"], r["reason"], r["dup_of"]) for r in pipe.decisions(spark).collect()}
    assert dec[3] == (False, "near_dup", 1)
    assert dec[4] == (False, "quality", None)
    assert dec[1][0] and dec[2][0]


@pytest.mark.slow
def test_curation_cli_mode_drains_corpus(spark, tmp_path, monkeypatch):
    """PIPELINE=curation entrypoint: one drain over the
    sf0.001 corpus produces a decision per doc and a non-trivial kept
    corpus (the CLI twin of the restart e2e)."""
    from stream_cdc_spark import main as M

    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "curation")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("DOCS_PATH", "/root/testdata/sf0.001")
    monkeypatch.setenv("CURATION_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    assert M.main() == 0
    pipe = CurationPipeline(state)
    n_docs = load(spark, SF_SMALL, "documents").count()
    assert pipe.decisions(spark).count() == n_docs
    kept = pipe.corpus(spark).count()
    assert 0 < kept < n_docs


@pytest.mark.slow
def test_curation_crash_between_state_writes_recovers(spark, tmp_path):
    """Crash-consistency of the batch-versioned protocol: if the batch
    dies AFTER writing decisions but BEFORE the kept/index writes, the
    replay must still converge to exactly the clean-run state (its reads
    exclude the dead batch's partial output)."""
    import stream_cdc_spark.operators.dedup as D

    state = str(tmp_path / "state")
    pipe = CurationPipeline(state, min_tokens=2)
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon"), (4, "zz yy xx ww vv")],
        "doc_id bigint, text string",
    )
    pipe.foreach_batch(b0, 0)

    import stream_cdc_spark.streaming.curation as C

    # simulate the torn batch: perform batch 1's work manually, writing
    # ONLY the decisions subdir before "crashing" (kept/index never land)
    docs = b1.select("doc_id", "text")
    from pyspark.sql import functions as F

    qual_ok = docs.filter(pipe.quality_predicate)
    corpus = pipe._read(spark, pipe.kept_dir, C.KEPT_SCHEMA, 1)
    index = pipe._read(spark, pipe.index_dir, C.INDEX_SCHEMA, 1)
    adm = D.incremental_verified_dedup(qual_ok, corpus, index=index)
    import os

    sub = "batch=000000001"
    # decisions land; kept/index do NOT (the torn write)
    adm.select(
        "doc_id", "keep", F.lit(None).cast("string").alias("reason"),
        "dup_of",
    ).write.mode("overwrite").parquet(os.path.join(pipe.decisions_dir, sub))

    # replay of batch 1 (what the checkpoint would do) must fully recover
    pipe.foreach_batch(b1, 1)
    dec = {
        r["doc_id"]: (r["keep"], r["dup_of"])
        for r in pipe.decisions(spark).collect()
    }
    assert dec[3] == (False, 1)
    assert dec[4] == (True, None)
    kept = sorted(r["doc_id"] for r in pipe.corpus(spark).collect())
    assert kept == [1, 2, 4]
    # and batch 2 sees a consistent world
    b2 = spark.createDataFrame(
        [(5, "zz yy xx ww vv")], "doc_id bigint, text string"
    )
    pipe.foreach_batch(b2, 2)
    dec5 = {
        r["doc_id"]: (r["keep"], r["dup_of"])
        for r in pipe.decisions(spark).collect()
    }[5]
    assert dec5 == (False, 4)  # near-dups the batch-1 survivor via the index


# -- multimodal mode (media_blob_col): q132's streaming twin --------------

def _py_thumb(text: str) -> bytes:
    """The _media_thumbs raster in pure Python (md5 hex pair per word)."""
    import hashlib

    words = text.split(" ")
    out = bytearray()
    for i in range(72):
        w = words[i] if i < len(words) else ""
        out.append(int(hashlib.md5(w.encode()).hexdigest()[:2], 16))
    return bytes(out)


def _py_dhash(blob: bytes) -> int:
    bits = 0
    for r in range(8):
        for c in range(8):
            bits = (bits << 1) | (blob[r * 9 + c + 1] > blob[r * 9 + c])
    return bits


def _hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def _greedy_multimodal_reference(rows, blobs, slices, max_hamming=4):
    """The batch twin of the multimodal pipeline: per micro-batch,
    quality gate -> perceptual admission (vs kept corpus + earlier-id
    quality survivors with blobs, min-id within batch) -> text near-dup
    admission on the media survivors. Returns (kept, media_dropped)."""
    sh = {}
    for r in rows:
        toks = r["text"].split(" ")
        sh[r["doc_id"]] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    def jac(a, b):
        sa, sb = sh[a], sh[b]
        if not sa or not sb:
            return 0.0
        inter = len(sa & sb)
        return inter / (len(sa) + len(sb) - inter)

    h = {i: _py_dhash(b) for i, b in blobs.items() if b is not None}
    tok_ok = {
        r["doc_id"] for r in rows if len(r["text"].split(" ")) >= MIN_TOKENS
    }
    kept: set[int] = set()
    media_dropped: set[int] = set()
    for batch_ids in slices:
        ok = sorted(i for i in batch_ids if i in tok_ok)
        m_ok = []
        for did in ok:
            if did in h and (
                any(o in h and _hamming(h[did], h[o]) <= max_hamming
                    for o in kept)
                or any(o in h and _hamming(h[did], h[o]) <= max_hamming
                       for o in ok if o < did)
            ):
                media_dropped.add(did)
            else:
                m_ok.append(did)
        for did in m_ok:
            dup = any(jac(did, o) >= THRESH for o in kept)
            dup = dup or any(jac(did, o) >= THRESH for o in m_ok if o < did)
            if not dup:
                kept.add(did)
    return kept, media_dropped


@pytest.mark.slow
def test_multimodal_curation_hand_example(spark, tmp_path):
    """Gate precedence and state hygiene on a hand-computed batch pair:
    identical raster -> media_dup (even though the text would also be a
    near-dup), near-identical text with a distinct raster -> near_dup,
    short text -> quality, no blob -> media gate bypassed; replay is
    idempotent; media state carries ADMITTED docs only."""
    from stream_cdc_spark.streaming.curation import (
        MEDIA_SIGS_SCHEMA,
        CurationPipeline,
    )
    from stream_cdc_spark.streaming import statedir

    X = bytes(range(72))                      # strictly increasing
    Y = bytes(72)                             # flat zero
    Z = bytes(255 if i % 2 else 0 for i in range(72))  # alternating
    state = str(tmp_path / "state")
    pipe = CurationPipeline(state, min_tokens=2, media_blob_col="blob")
    schema = "doc_id bigint, text string, blob binary"
    b0 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", X),
            (2, "one two three four five", Y),
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            (3, "completely different words over here", X),  # media dup of 1
            (4, "alpha beta gamma delta epsilon", Z),        # text dup of 1
            (5, "short", X),                                  # quality
            (6, "another unique document entirely fresh", None),  # no blob
        ],
        schema,
    )
    pipe.foreach_batch(b0, 0)
    pipe.foreach_batch(b1, 1)
    first = sorted(map(tuple, pipe.decisions(spark).collect()))
    pipe.foreach_batch(b1, 1)  # replay: must be byte-identical
    assert sorted(map(tuple, pipe.decisions(spark).collect())) == first
    dec = {
        r["doc_id"]: (r["keep"], r["reason"], r["dup_of"])
        for r in pipe.decisions(spark).collect()
    }
    assert dec[1][0] and dec[2][0] and dec[6][0]
    assert dec[3] == (False, "media_dup", 1)
    assert dec[4] == (False, "near_dup", 1)
    assert dec[5] == (False, "quality", None)
    kept = sorted(r["doc_id"] for r in pipe.corpus(spark).collect())
    assert kept == [1, 2, 6]
    sigs = statedir.read_state(
        spark, pipe.media_sigs_dir, MEDIA_SIGS_SCHEMA, 1 << 62
    )
    assert sorted(r["doc_id"] for r in sigs.collect()) == [1, 2]


@pytest.mark.slow
def test_multimodal_curation_restart_matches_reference(spark, tmp_path):
    """q132's streaming twin end-to-end: drain a multimodal corpus (text
    + deterministic raster thumbs, plus planted docs whose rasters match
    an earlier doc's while their text does not) in two runs with a
    checkpoint restart; kept corpus and media_dup set must equal the
    chained batch reference exactly."""
    from stream_cdc_spark.streaming.curation import CurationPipeline

    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    base_rows = d.collect()
    # plant: copies of the first 72 words of some docs with a fresh tail
    # (identical raster, dissimilar text) — media_dup is the ONLY gate
    # that can reject them
    donors = sorted(r["doc_id"] for r in base_rows)[:3]
    by_id = {r["doc_id"]: r["text"] for r in base_rows}
    plant, off = [], 1_000_000
    for j, did in enumerate(donors):
        head = " ".join(by_id[did].split(" ")[:72])
        tail = " ".join(f"planted{j}tok{i}" for i in range(40))
        plant.append((off + did, head + " " + tail))
    rows = [(r["doc_id"], r["text"]) for r in base_rows] + plant
    rows = [{"doc_id": i, "text": t} for i, t in rows]
    blobs = {r["doc_id"]: _py_thumb(r["text"]) for r in rows}

    indir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)
    slices = [
        sorted(r["doc_id"] for r in rows if r["doc_id"] % 4 == i)
        for i in range(4)
    ]
    for i, ids in enumerate(slices):
        sdf = spark.createDataFrame(
            [
                (r["doc_id"], r["text"], blobs[r["doc_id"]])
                for r in rows
                if r["doc_id"] in set(ids)
            ],
            "doc_id bigint, text string, blob binary",
        )
        sdf.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(indir, f"slice={i}")
        )

    pipe = CurationPipeline(
        state, min_tokens=MIN_TOKENS, media_blob_col="blob"
    )

    def run(n_slices):
        stream = (
            spark.readStream.schema("doc_id bigint, text string, blob binary")
            .option("maxFilesPerTrigger", "1")
            .parquet(indir + "/slice={" + ",".join(map(str, range(n_slices))) + "}")
        )
        q = (
            stream.writeStream.foreachBatch(pipe.sink())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run(2)
    run(4)  # restart from checkpoint

    kept = {r["doc_id"] for r in pipe.corpus(spark).collect()}
    want_kept, want_media = _greedy_multimodal_reference(rows, blobs, slices)
    got_media = {
        r["doc_id"]
        for r in pipe.decisions(spark).filter("reason = 'media_dup'").collect()
    }
    assert got_media == want_media
    assert kept == want_kept
    # the planted raster-twins must actually exercise the media gate
    assert any(i >= 1_000_000 for i in want_media), "plants never fired"
    dec = pipe.decisions(spark)
    assert dec.count() == len(rows)
    assert dec.select("doc_id").distinct().count() == len(rows)


@pytest.mark.slow
def test_multimodal_cli_mode_drains_corpus(spark, tmp_path, monkeypatch):
    """PIPELINE=curation MEDIA_BLOB_COL=blob entrypoint: drain a
    multimodal feed (text + raster thumbs with planted raster-twins) —
    one decision per doc including media_dup rows, media state written
    under the same root."""
    from stream_cdc_spark import main as M
    from stream_cdc_spark.streaming import statedir
    from stream_cdc_spark.streaming.curation import MEDIA_SIGS_SCHEMA

    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    rows = [(r["doc_id"], r["text"]) for r in d.collect()]
    # the raster reads the first 72 words, so a raster-twin plant needs a
    # donor with at least 72 of them (a shorter donor pads with md5(''),
    # the plant's tail tokens would land in those slots instead)
    donor, donor_text = min(
        (i, t) for i, t in rows if len(t.split(" ")) >= 72
    )
    head = " ".join(donor_text.split(" ")[:72])
    rows.append((1_000_000 + donor, head + " " + " ".join(
        f"planted{i}" for i in range(40))))
    feed = str(tmp_path / "feed")
    toks = F.split(F.col("text"), " ")
    hexes = F.transform(
        F.sequence(F.lit(0), F.lit(71)),
        lambda i: F.substring(
            F.md5(F.coalesce(F.get(toks, i), F.lit(""))), 1, 2
        ),
    )
    spark.createDataFrame(rows, "doc_id bigint, text string").select(
        "doc_id", "text",
        F.to_binary(F.concat_ws("", hexes), F.lit("hex")).alias("blob"),
    ).coalesce(1).write.mode("overwrite").parquet(feed)

    state = str(tmp_path / "cli-state")
    monkeypatch.setenv("PIPELINE", "curation")
    monkeypatch.setenv("MEDIA_BLOB_COL", "blob")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("DOCS_PATH", feed)
    monkeypatch.setenv("CURATION_STATE_DIR", state)
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "cli-ckpt"))
    assert M.main() == 0
    pipe = CurationPipeline(state, media_blob_col="blob")
    dec = pipe.decisions(spark)
    assert dec.count() == len(rows)
    planted = dec.filter(F.col("doc_id") == 1_000_000 + donor).first()
    assert planted["keep"] is False and planted["reason"] == "media_dup"
    sigs = statedir.read_state(
        spark, pipe.media_sigs_dir, MEDIA_SIGS_SCHEMA, 1 << 62
    )
    assert sigs.count() == pipe.corpus(spark).count()


@pytest.mark.slow
def test_curation_stream_bpe_budget_restart_matches_reference(
    spark, tmp_path
):
    """tokenizer='bpe': the streaming quality gate budgets in exact
    SUBWORD tokens (the q131/q133 unit). Restart e2e — kept corpus and
    decisions must equal the batch-sequential reference whose gate is
    an independent pure-Python BPE count (classic encoder), proving the
    sink's expression-tier count and the spec agree end-to-end."""
    from stream_cdc_spark.operators import bpe

    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    rows = d.collect()
    indir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir, exist_ok=True)

    slices = [
        sorted(r["doc_id"] for r in rows if r["doc_id"] % 4 == i)
        for i in range(4)
    ]
    for i, ids in enumerate(slices):
        sdf = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in rows if r["doc_id"] in set(ids)],
            "doc_id bigint, text string",
        )
        sdf.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(indir, f"slice={i}")
        )

    # pick a BPE threshold that actually splits the corpus (gate fires)
    enc = bpe._make_word_encoder(list(bpe.DEFAULT_MERGES), "letter")

    def bpe_count(text):
        words = [
            w for w in bpe._normalize_py(text, "letter").split(" ") if w
        ]
        return sum(len(enc(w)) for w in words)

    counts = sorted(bpe_count(r["text"]) for r in rows)
    min_bpe = counts[len(counts) // 4] + 1  # ~25th percentile, strict
    tok_ok = {r["doc_id"] for r in rows if bpe_count(r["text"]) >= min_bpe}
    assert 0 < len(tok_ok) < len(rows)  # the BPE gate genuinely fires

    pipe = CurationPipeline(state, min_tokens=min_bpe, tokenizer="bpe")

    def run(n_slices):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(
                indir + "/slice={" + ",".join(map(str, range(n_slices))) + "}"
            )
        )
        q = (
            stream.writeStream.foreachBatch(pipe.sink())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run(2)
    run(4)  # restart from checkpoint

    kept = {r["doc_id"] for r in pipe.corpus(spark).collect()}
    want = _greedy_reference(rows, slices, tok_ok=tok_ok)
    assert kept == want

    dec = pipe.decisions(spark)
    assert dec.count() == len(rows)
    # every quality rejection is exactly the BPE-count shortfall set
    q_rej = {
        r["doc_id"]
        for r in dec.filter(F.col("reason") == "quality").collect()
    }
    assert q_rej == {r["doc_id"] for r in rows} - tok_ok


def test_media_blob_col_env_validated(monkeypatch, tmp_path):
    """ADVICE r9: MEDIA_BLOB_COL is spliced into a DDL schema string —
    a non-identifier value must fail loudly at config time, not as a
    parse error deep in readStream."""
    from stream_cdc_spark import main as M

    monkeypatch.setenv("PIPELINE", "curation")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("DOCS_PATH", "/root/testdata/sf0.001")
    monkeypatch.setenv("CURATION_STATE_DIR", str(tmp_path / "s"))
    monkeypatch.setenv("CHECKPOINT_DIR", str(tmp_path / "c"))
    monkeypatch.setenv("MEDIA_BLOB_COL", "blob, text string")
    with pytest.raises(ValueError, match="simple column identifier"):
        M.main()


def test_curation_gate_uses_arrow_tier_for_big_merge_tables(spark, tmp_path):
    """A production-size merge table auto-routes the sink's quality gate
    to the Arrow tier (pandas UDF inside foreachBatch) — decisions must
    match a pure-Python BPE count of the same table."""
    from stream_cdc_spark.operators import bpe

    table = list(bpe.DEFAULT_MERGES)
    pad = [("q", "q")]
    while len(table) + len(pad) <= bpe.ARROW_TIER_MIN_MERGES:
        pad.append((pad[-1][0] + pad[-1][1], "q"))
    table = table + pad
    assert bpe._tier_for(table, None) == "arrow"

    docs = [
        (1, "the cat and the hat sat on the mat this evening"),
        (2, "tiny"),
        (3, "a bat and a rat ran at the cat in the yard"),
        (4, "no"),
    ]
    enc = bpe._make_word_encoder(table, "letter")

    def count(t):
        return sum(
            len(enc(w))
            for w in bpe._normalize_py(t, "letter").split(" ")
            if w
        )

    min_tokens = 5
    pipe = CurationPipeline(
        str(tmp_path / "state"),
        min_tokens=min_tokens,
        tokenizer="bpe",
        bpe_merges=table,
    )
    pipe.foreach_batch(
        spark.createDataFrame(docs, "doc_id bigint, text string"), 0
    )
    dec = {
        r["doc_id"]: (r["keep"], r["reason"])
        for r in pipe.decisions(spark).collect()
    }
    for did, text in docs:
        if count(text) < min_tokens:
            assert dec[did] == (False, "quality"), (did, count(text))
        else:
            assert dec[did][0], (did, count(text))
