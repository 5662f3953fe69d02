"""Continuous LSH near-dup admission: batch-equivalence across a
checkpoint restart, plus the pure per-bucket admission scan."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from stream_cdc_spark.streaming.stateful import _bucket_matches, lsh_dedup_stream
from stream_cdc_spark.operators import dedup
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL
import pytest


def test_bucket_matches_emits_and_caps():
    sig_a = tuple(range(64))
    sig_b = tuple(list(range(60)) + [99, 98, 97, 96])  # agreement 60/64
    sig_far = tuple(range(100, 164))
    pdfs = [pd.DataFrame({"doc_id": [7, 9], "signature": [list(sig_b), list(sig_far)]})]
    (docs, dups, agrees), members, seen = _bucket_matches(
        [(3, sig_a)], pdfs, 64, 0.8, max_bucket=2
    )
    assert list(zip(docs, dups)) == [(7, 3)]
    assert agrees == [1_000_000 * 60 // 64]
    # cap: bucket had 1 resident, cap 2 -> doc 7 admitted, doc 9 not
    assert [m[0] for m in members] == [3, 7]
    assert seen == [9]  # capped doc remembered for the redelivery guard


def test_bucket_matches_redelivery_and_out_of_order():
    sig = tuple(range(64))
    # doc 5 redelivered (already a member): no emission, no dup growth
    (docs, dups, _), members, _ = _bucket_matches(
        [(5, sig)], [pd.DataFrame({"doc_id": [5], "signature": [list(sig)]})],
        64, 0.8, 8,
    )
    assert docs == [] and [m[0] for m in members] == [5]
    # late arrival with a SMALLER id than the resident: normalized order
    (docs, dups, _), _, _ = _bucket_matches(
        [(5, sig)], [pd.DataFrame({"doc_id": [2], "signature": [list(sig)]})],
        64, 0.8, 8,
    )
    assert list(zip(docs, dups)) == [(5, 2)]


def test_bucket_matches_capped_doc_redelivery_does_not_reemit():
    """A doc rejected by the max_bucket cap still emitted its matches
    once; redelivering it must NOT emit them again (the seen-list guard —
    previously only admitted docs were deduped)."""
    sig = tuple(range(64))
    members = [(1, sig)]
    pdf = [pd.DataFrame({"doc_id": [9], "signature": [list(sig)]})]
    (docs, _, _), members, seen = _bucket_matches(members, pdf, 64, 0.8, 1)
    assert docs == [9] and [m[0] for m in members] == [1] and seen == [9]
    # redelivery of the capped doc with the returned state: silence
    (docs, _, _), members, seen = _bucket_matches(members, pdf, 64, 0.8, 1, seen)
    assert docs == [] and seen == [9]


def test_bucket_matches_seen_list_is_bounded():
    from stream_cdc_spark.streaming.stateful import _SEEN_CAP_FACTOR

    sig = tuple(range(64))
    far = tuple(range(100, 164))
    members = [(1, sig)]
    arrivals = pd.DataFrame(
        {
            "doc_id": list(range(10, 10 + 200)),
            "signature": [list(far)] * 200,
        }
    )
    (_, _, _), members, seen = _bucket_matches(
        members, [arrivals], 64, 0.8, 1
    )
    assert len(seen) == _SEEN_CAP_FACTOR * 1
    assert seen[-1] == 209  # FIFO keeps the most recent ids


@pytest.mark.slow
def test_stream_matches_batch_candidates_across_restart(spark, tmp_path):
    """Drain the documents table through lsh_dedup_stream in two runs with
    a checkpoint restart; the distinct emitted pair set must equal the
    batch minhash_lsh_pairs candidates at the same >= 0.8 signature
    agreement (same hash expression, so values line up exactly)."""
    d = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    indir, ckpt, outdir = (
        str(tmp_path / p) for p in ("in", "ckpt", "out")
    )
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

    def emit(batch_df, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(outdir)

    def run():
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(indir + "/slice=*")
        )
        q = (
            lsh_dedup_stream(stream)
            .writeStream.foreachBatch(emit)
            .outputMode("update")
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

    emitted = spark.read.parquet(outdir)
    got = {
        (r["dup_of"], r["doc_id"])
        for r in emitted.select("doc_id", "dup_of").distinct().collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(d)
        .filter(F.col("est_jaccard") >= 0.8)
        .collect()
    }
    assert got == want
    assert len(want) > 0  # the corpus genuinely exercises the operator
