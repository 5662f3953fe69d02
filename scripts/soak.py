#!/usr/bin/env python
"""Soak one incremental sink: N micro-batches of synthetic input through
the sink's foreach_batch, called directly, recording the per-batch wall,
state file/dir counts, probe latency over the drained state, and a final
equality check against the batch reference over the modelled corpus.

Every generator is adversarial on the admission path: batches redeliver
already-admitted ids (the exactly-once guard must drop them and commit
nothing for them), and the versioned surfaces also update and delete.

Usage: python scripts/soak.py SURFACE [n_batches] [per_batch] [--bucketed]

  components           near-dup edges into IncrementalComponentsSnapshot
  ann_index            embeddings into AnnIndexSnapshot
  retrieval_index      documents into RetrievalIndexSnapshot
  versioned_ann        re-embeddings + deletes into VersionedAnnIndexSnapshot
  versioned_retrieval  doc updates + deletes into
                       VersionedRetrievalIndexSnapshot
  cdc_full             CDC envelopes into CdcFullPipeline (both indexes)

n_batches defaults to 120, per_batch to the surface's own default.
--bucketed soaks the bucketed admission ledger (ann_index, versioned_ann):
the ledger folds into an id-bucketed snapshot and the per-trigger
redelivery anti-join reads it Exchange-free.
Prints one JSON line: the surface's counts, probe walls and equality
flags, plus the first/mid/last-10 median batch walls.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_cdc_spark.session import get_spark  # noqa: E402

VOCAB = 2000
TERMS = ["w3", "w17", "w211"]  # head, mid, tail of the Zipf vocab
DELETE_AT = (10, 50, 90)


def _text(seed: int) -> str:
    # deterministic Zipf-ish text: each position picks rank
    # ((seed*31 + p*7919) mod X) biased to small ranks by a square root;
    # lengths vary 6..60 tokens so dl/avgdl move every batch
    n = 6 + (seed * 13) % 55
    return " ".join(
        f"w{int(((seed * 31 + p * 7919) % (VOCAB * VOCAB)) ** 0.5)}"
        for p in range(n)
    )


def _vec(seed: int, dim: int) -> list[float]:
    return [
        ((seed * 31 + p * 7919 + (seed >> 3) * 104729) % 2000 - 1000)
        / 1000.0
        for p in range(dim)
    ]


def _seed(doc_id: int, version: int) -> int:
    # version 0 is the original; updates re-seed so the image changes
    return doc_id if version == 0 else doc_id * 1009 + version


def _hot_vec(vid: int, dim: int) -> list[float]:
    # hot-cell skew: 70% of ids point near one of 4 of the 32 anchors
    anchor = (vid % 4) if vid % 10 < 7 else (vid % 32)
    return [
        round(math.sin(0.7 * anchor + 0.13 * d) + 0.01 * ((vid * 31 + d) % 7), 6)
        for d in range(dim)
    ]


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _timed_s(fn):
    t0 = time.time()
    out = fn()
    return out, round(time.time() - t0, 3)


class Surface:
    """One soaked sink: `batch(b, timed)` feeds batch b, passing the sink
    call to `timed`; `result()` probes the drained state and returns the
    surface's fields of the JSON line."""

    unit = "docs"
    per_batch = 500
    bucketable = False

    def __init__(self, spark, state: str, per_batch: int, bucketed: bool):
        self.spark, self.state, self.n = spark, state, per_batch
        self.bucketed = bucketed
        self.seen = 0
        self.setup()

    def dirs(self, table: str) -> dict:
        from stream_cdc_spark.streaming import statedir

        return statedir.dir_counts(os.path.join(self.state, table))


class Components(Surface):
    """Each batch wires new vertices into existing clusters (union-find
    work every batch), a rolling share of edges lands INSIDE existing
    components (redundant — must commit nothing), and periodically a
    brand-new small-id vertex absorbs a large cluster (the relabel-
    through-the-log path whose cost must stay O(1) rows regardless of
    cluster size)."""

    unit, per_batch = "edges", 400

    def setup(self):
        from stream_cdc_spark.streaming.components import (
            IncrementalComponentsSnapshot,
        )

        self.snap = IncrementalComponentsSnapshot(
            self.state, compact_every=8, major_every=4
        )
        self.all_edges: list[tuple[int, int]] = []
        self.next_vid = 1_000_000  # new vertices come from here

    def batch(self, b, timed):
        batch: list[tuple[int, int]] = []
        # grow existing clusters: chain new vertices onto cluster seeds
        for i in range(self.n):
            seed = (i % 50) * 1_000  # 50 long-lived cluster anchors
            batch.append((seed, self.next_vid))
            self.next_vid += 1
        # redundant edges between two DISTINCT existing members of the
        # same cluster (cluster j's anchor j*1000 and its batch-0 chained
        # vertex 1_000_000+j) — exercises the known-vertex resolution
        # path AND the commit-nothing rule (not self-loops, which short-
        # circuit before resolution)
        if b > 2:
            batch += [(j * 1_000, 1_000_000 + j) for j in range(10)]
        # every 10th batch a NEW vertex with a strictly smaller id than
        # anything in its target cluster absorbs it — 500-b decreases
        # monotonically, so EVERY event relabels through the parent log
        # (a fixed small id stops absorbing once it IS the root)
        if b % 10 == 9:
            batch.append((500 - b, (b % 50) * 1_000))
        self.all_edges += batch
        df = self.spark.createDataFrame(batch, "id_a bigint, id_b bigint")
        timed(self.snap.foreach_batch, df, b)

    def result(self):
        from stream_cdc_spark.operators import dedup

        labels, read_s = _timed_s(
            lambda: self.snap.labels(self.spark).localCheckpoint(eager=True)
        )
        got = {(r["vertex"], r["component"]) for r in labels.collect()}
        want_df = dedup.connected_components(
            self.spark.createDataFrame(self.all_edges, "id_a bigint, id_b bigint")
        )
        want = {(r["vertex"], r["component"]) for r in want_df.collect()}
        return {
            "vertices": labels.count(),
            "labels_read_s": read_s,
            "state_dirs": self.dirs("members"),
            "parents_dirs": self.dirs("parents"),
            "equal_to_batch_cc": got == want,
        }


class _Redelivering(Surface):
    """Each batch admits `n` new ids and redelivers a rolling slice of
    ALREADY-admitted ids (1/5 of a batch) — the guard must drop them
    without committing anything for them, every batch after the first."""

    def batch(self, b, timed):
        seen, n = self.seen, self.n
        new = [(seen + i, self.payload(seen + i)) for i in range(n)]
        redeliver = [
            (v, self.payload(v)) for v in range(max(0, seen - n // 5), seen)
        ]
        self.seen += n
        df = self.spark.createDataFrame(new + redeliver, self.schema)
        timed(self.snap.foreach_batch, df, b)


class AnnIndex(_Redelivering):
    """Vectors are skewed toward a few hot cells (uneven cell growth —
    the pruned probe must stay cheap anyway), and the centroid set is
    fixed up front like a production offline-trained quantizer."""

    unit, bucketable = "vecs", True
    dim = 16
    schema = "vec_id bigint, embedding array<float>"

    def setup(self):
        from stream_cdc_spark.streaming.ann_index import AnnIndexSnapshot

        self.centroids = [(c, _hot_vec(c * 97 + 5, self.dim)) for c in range(32)]
        self.snap = AnnIndexSnapshot(
            self.state, self.centroids, compact_every=8, major_every=4,
            bucketed=self.bucketed, num_buckets=32,
        )

    def payload(self, vid):
        return _hot_vec(vid, self.dim)

    def result(self):
        from stream_cdc_spark.operators import similarity

        spark, dim = self.spark, self.dim
        queries = spark.createDataFrame(
            [(10_000_000 + i, _hot_vec(10_000_000 + i, dim)) for i in range(16)],
            self.schema,
        ).localCheckpoint(eager=True)
        got, probe_s = _timed_s(
            lambda: _rows(self.snap.topk(spark, queries, k=5, nprobe=2))
        )
        corpus = spark.createDataFrame(
            [(v, _hot_vec(v, dim)) for v in range(self.seen)], self.schema
        )
        cents_df = spark.createDataFrame(self.centroids, "cid bigint, cv array<float>")
        want = _rows(similarity.ivf_ann_topk(
            corpus, queries, cents_df, k=5, nprobe=2, quantize_bp=10000
        ))
        return {
            "bucketed_ledger": self.bucketed,
            "dim": dim,
            "admitted": self.snap.vectors(spark).count(),
            "expected_admitted": self.seen,
            "probe_topk_s": probe_s,
            "vectors_dirs": self.dirs("vectors"),
            "ledger_dirs": self.dirs("ledger"),
            "equal_to_batch_ivf": got == want,
        }


class RetrievalIndex(_Redelivering):
    """Vocabulary is Zipf-skewed (hot head words — the df monoid and the
    word-sorted postings must stay cheap anyway)."""

    schema = "doc_id bigint, text string"

    def setup(self):
        from stream_cdc_spark.streaming.retrieval_index import (
            RetrievalIndexSnapshot,
        )

        self.snap = RetrievalIndexSnapshot(
            self.state, compact_every=8, major_every=4
        )

    payload = staticmethod(_text)

    def result(self):
        from pyspark.sql import functions as F

        from stream_cdc_spark.operators import text as T

        spark = self.spark
        got_bm25, probe_bm25_s = _timed_s(
            lambda: _rows(self.snap.bm25_topk(spark, TERMS, top_k=20))
        )
        got_tfidf, probe_tfidf_s = _timed_s(
            lambda: _rows(self.snap.tfidf_top_terms(spark))
        )
        corpus = spark.createDataFrame(
            [(d, _text(d)) for d in range(self.seen)], self.schema
        )
        want_bm25 = _rows(T.bm25_topk(corpus, TERMS, top_k=20))
        toks = corpus.select(
            "doc_id", F.explode(T.tokens(F.col("text"))).alias("tok")
        )
        tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
        n_docs = corpus.agg(F.count(F.lit(1)).alias("n_docs"))
        want_tfidf = _rows(T.tfidf_top_terms_from_tf(tf, n_docs))
        return {
            "admitted": self.snap.docs(spark).count(),
            "expected_admitted": self.seen,
            "probe_bm25_s": probe_bm25_s,
            "probe_tfidf_s": probe_tfidf_s,
            "postings_dirs": self.dirs("postings"),
            "stats_dirs": self.dirs("stats"),
            "bm25_equal_to_batch": got_bm25 == want_bm25,
            "tfidf_equal_to_batch": got_tfidf == want_tfidf,
        }


class _Versioned(Surface):
    """Per batch b: `n` NEW ids (version 0); UPDATES: the tail quarter of
    the previous batch's ids get a version-(b) image — supersession every
    batch; REDELIVERY: the previous batch's new (id, 0) rows re-arrive
    and must drop whole (exactly-once on the (id, version) key); at
    batches 10/50/90 every admitted id % 97 == 3 is deleted (rolling
    right-to-be-forgotten; folds erase superseded AND tombstoned rows
    from the folded tiers as the stream runs)."""

    def setup(self):
        self.snap = self.sink()
        self.upd_hi = 0  # ids below this in a batch's tail quarter are updated
        self.deleted_below = 0
        self.sid = 0  # statedir batch ids interleave admit + delete triggers

    def batch(self, b, timed):
        seen, n, image = self.seen, self.n, self.image
        rows = [(seen + i, 0, image(seen + i, 0)) for i in range(n)]
        if b > 0:
            lo = seen - n + 3 * n // 4
            rows += [(d, b, image(d, b)) for d in range(lo, seen)]
            self.upd_hi = seen
            rows += [(d, 0, image(d, 0)) for d in range(seen - n // 5, seen)]
        self.seen = seen = seen + n
        df = self.spark.createDataFrame(rows, self.schema)
        timed(self.snap.foreach_batch, df, self.sid)
        self.sid += 1
        if b in DELETE_AT:
            dead = [(d,) for d in range(0, seen) if d % 97 == 3]
            self.snap.delete_batch(
                self.spark.createDataFrame(dead, f"{self.id_col} bigint"),
                self.sid,
            )
            self.deleted_below = seen
            self.sid += 1

    def live_images(self) -> list[tuple]:
        """(id, payload) of the latest live image of every id, from the
        deterministic model."""

        def latest_version(d: int) -> int:
            if d < self.upd_hi and d % self.n >= 3 * self.n // 4:
                return d // self.n + 1
            return 0

        return [
            (d, self.image(d, latest_version(d)))
            for d in range(self.seen)
            if not (d % 97 == 3 and d < self.deleted_below)
        ]


class VersionedRetrieval(_Versioned):
    id_col = "doc_id"
    schema = "doc_id bigint, version bigint, text string"

    def sink(self):
        from stream_cdc_spark.streaming.retrieval_index import (
            VersionedRetrievalIndexSnapshot,
        )

        return VersionedRetrievalIndexSnapshot(
            self.state, compact_every=8, major_every=4
        )

    def image(self, doc_id, version):
        return _text(_seed(doc_id, version))

    def result(self):
        from stream_cdc_spark.operators import text as T

        spark = self.spark
        got, probe_s = _timed_s(
            lambda: _rows(self.snap.bm25_topk(spark, TERMS, top_k=20))
        )
        corpus = spark.createDataFrame(
            self.live_images(), "doc_id bigint, text string"
        )
        want = _rows(T.bm25_topk(corpus, TERMS, top_k=20))
        n_l = self.snap.corpus_stats(spark).collect()[0]
        return {
            "ledger_rows": self.snap.docs(spark).count(),
            "live_docs": n_l["n"],
            "expected_live": corpus.count(),
            "probe_bm25_s": probe_s,
            "docs_dirs": self.dirs("docs"),
            "postings_dirs": self.dirs("postings"),
            "bm25_equal_to_latest_live_batch": got == want,
        }


class VersionedAnn(_Versioned):
    """Re-embeddings usually move the id to a different cell."""

    unit, bucketable = "vecs", True
    id_col = "vec_id"
    schema = "vec_id bigint, version bigint, embedding array<float>"
    dim, n_cells = 16, 32

    def sink(self):
        from stream_cdc_spark.streaming.ann_index import (
            VersionedAnnIndexSnapshot,
        )

        self.centroids = [
            (c, _vec(10 ** 7 + c, self.dim)) for c in range(self.n_cells)
        ]
        return VersionedAnnIndexSnapshot(
            self.state, self.centroids, compact_every=8, major_every=4,
            bucketed=self.bucketed, num_buckets=16,
        )

    def image(self, vec_id, version):
        return _vec(_seed(vec_id, version), self.dim)

    def result(self):
        from stream_cdc_spark.operators import similarity

        spark = self.spark
        queries = spark.createDataFrame(
            [(10 ** 9 + i, _vec(10 ** 9 + i, self.dim)) for i in range(5)],
            "vec_id bigint, embedding array<float>",
        )
        got, probe_s = _timed_s(
            lambda: _rows(self.snap.topk(spark, queries, k=10, nprobe=3))
        )
        corpus = spark.createDataFrame(
            self.live_images(), "vec_id bigint, embedding array<float>"
        )
        cents_df = spark.createDataFrame(
            self.centroids, "cid bigint, cv array<float>"
        )
        want = _rows(similarity.ivf_ann_topk(
            corpus, queries, cents_df, k=10, nprobe=3, quantize_bp=10000,
        ))
        return {
            "bucketed": self.bucketed,
            "ledger_rows": self.snap.ledger(spark).count(),
            "live_expected": corpus.count(),
            "probe_topk_s": probe_s,
            "vectors_dirs": self.dirs("vectors"),
            "ledger_dirs": self.dirs("ledger"),
            "topk_equal_to_latest_live_batch": got == want,
        }


class CdcFull(Surface):
    """Typed CDC envelopes through the composed pipeline. Per batch b:
    `n` NEW docs (version 0, gate-passing text + synthetic vector); GOOD
    updates: the tail quarter of the previous batch gets a version-(b)
    image (new text AND re-embedded vector); BAD updates: the SECOND
    quarter gets a version-(b) image below the token gate — admitted to
    neither index; REDELIVERY: the previous batch's (doc_id, 0)
    envelopes re-arrive; at batches 10/50/90 in-band Delete envelopes
    for doc_id % 97 == 3; at batch 30 the OUT-OF-BAND channel deletes
    doc_id % 89 == 7. Both surfaces must equal batch references over
    the modelled latest-live GATED corpus."""

    per_batch = 400
    dim, n_cells, min_tokens, ext_delete_at = 8, 16, 5, 30
    schema = (
        "event_type string, gtid_seq bigint, "
        "content struct<doc_id bigint, text string, embedding array<float>>"
    )

    def setup(self):
        from stream_cdc_spark.streaming.cdc_full import CdcFullPipeline

        self.centroids = [
            (c, _vec(10 ** 7 + c, self.dim)) for c in range(self.n_cells)
        ]
        self.pipe = CdcFullPipeline(
            self.state, self.centroids, min_tokens=self.min_tokens,
            compact_every=8, major_every=4,
        )
        self.good_hi = 0
        self.deleted_below = 0
        self.ext_deleted_below = 0
        self.sid = 0

    def image(self, doc_id, version, bad):
        if bad:
            return "tiny doc", _vec(doc_id * 31 + version, self.dim)
        seed = _seed(doc_id, version)
        return _text(seed), _vec(seed, self.dim)

    def up(self, doc_id, version, bad=False):
        t, v = self.image(doc_id, version, bad)
        return ("Update" if version else "Insert", version, (doc_id, t, v))

    def batch(self, b, timed):
        spark, seen, n, up = self.spark, self.seen, self.n, self.up
        rows = [up(seen + i, 0) for i in range(n)]
        if b > 0:
            base = seen - n
            # good updates: tail quarter; bad updates: second quarter
            rows += [up(d, b) for d in range(base + 3 * n // 4, seen)]
            rows += [
                up(d, b, bad=True) for d in range(base + n // 4, base + n // 2)
            ]
            self.good_hi = seen
            # redelivery of the previous batch's version-0 envelopes
            rows += [up(d, 0) for d in range(seen - n // 5, seen)]
        self.seen = seen = seen + n
        df = spark.createDataFrame(rows, self.schema)
        if b in DELETE_AT:
            dead = [
                ("Delete", 10 ** 6, (d, None, None))
                for d in range(seen)
                if d % 97 == 3
            ]
            df = df.unionByName(spark.createDataFrame(dead, self.schema))
        timed(self.pipe.foreach_batch, df, self.sid)
        self.sid += 1
        if b in DELETE_AT:
            self.deleted_below = seen
        if b == self.ext_delete_at:
            ext = [(d,) for d in range(seen) if d % 89 == 7]
            self.pipe.delete_batch(
                spark.createDataFrame(ext, "doc_id bigint"), 0
            )
            self.ext_deleted_below = seen

    def result(self):
        from stream_cdc_spark.operators import similarity, text as T

        spark, n, pipe = self.spark, self.n, self.pipe

        # the newest GOOD image: bad updates are admitted nowhere, so the
        # good tail-quarter updates supersede; everyone else serves v0
        def latest_good_version(d: int) -> int:
            if d < self.good_hi and d % n >= 3 * n // 4:
                return d // n + 1
            return 0

        def alive(d: int) -> bool:
            if d % 97 == 3 and d < self.deleted_below:
                return False
            if d % 89 == 7 and d < self.ext_deleted_below:
                return False
            return True

        images = [
            (d, *self.image(d, latest_good_version(d), False))
            for d in range(self.seen)
            if alive(d)
        ]
        corpus_t = spark.createDataFrame(
            [(d, t) for d, t, _ in images], "doc_id bigint, text string"
        )
        corpus_v = spark.createDataFrame(
            [(d, v) for d, _, v in images],
            "vec_id bigint, embedding array<float>",
        )
        queries = spark.createDataFrame(
            [(10 ** 9 + i, _vec(10 ** 9 + i, self.dim)) for i in range(5)],
            "vec_id bigint, embedding array<float>",
        )
        cents_df = spark.createDataFrame(
            self.centroids, "cid bigint, cv array<float>"
        )
        got_r, probe_r = _timed_s(
            lambda: _rows(pipe.retr.bm25_topk(spark, TERMS, top_k=20))
        )
        want_r = _rows(T.bm25_topk(corpus_t, TERMS, top_k=20))
        got_a, probe_a = _timed_s(
            lambda: _rows(pipe.ann.topk(spark, queries, k=10, nprobe=3))
        )
        want_a = _rows(similarity.ivf_ann_topk(
            corpus_v, queries, cents_df, k=10, nprobe=3, quantize_bp=10000,
        ))
        return {
            "retr_ledger_rows": pipe.retr.docs(spark).count(),
            "ann_ledger_rows": pipe.ann.ledger(spark).count(),
            "live_expected": corpus_t.count(),
            "probe_bm25_s": probe_r,
            "probe_topk_s": probe_a,
            "bm25_equal_to_latest_live_gated_batch": got_r == want_r,
            "topk_equal_to_latest_live_gated_batch": got_a == want_a,
        }


SURFACES = {
    "components": Components,
    "ann_index": AnnIndex,
    "retrieval_index": RetrievalIndex,
    "versioned_ann": VersionedAnn,
    "versioned_retrieval": VersionedRetrieval,
    "cdc_full": CdcFull,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("surface", choices=sorted(SURFACES))
    ap.add_argument("n_batches", nargs="?", type=int, default=120)
    ap.add_argument("per_batch", nargs="?", type=int)
    ap.add_argument("--bucketed", action="store_true",
                    help="bucketed admission ledger (ann_index, versioned_ann)")
    a = ap.parse_args()
    cls = SURFACES[a.surface]
    if a.bucketed and not cls.bucketable:
        ap.error(f"--bucketed does not apply to {a.surface}")
    per_batch = a.per_batch or cls.per_batch
    slug = a.surface.replace("_", "-")
    state = f".scale/{slug}-soak-state"
    shutil.rmtree(state, ignore_errors=True)

    spark = get_spark(app_name=f"{slug}-soak")
    spark.sparkContext.setLogLevel("ERROR")
    surface = cls(spark, state, per_batch, a.bucketed)
    walls: list[float] = []

    def timed(fn, *args):
        t0 = time.time()
        fn(*args)
        walls.append(round(time.time() - t0, 3))

    for b in range(a.n_batches):
        surface.batch(b, timed)

    def seg(lo, hi):
        s = sorted(walls[max(0, lo):hi])  # short runs: clamp, don't wrap
        return s[len(s) // 2]

    n = a.n_batches
    print(json.dumps({
        "metric": f"{a.surface}_soak",
        "n_batches": n,
        f"{cls.unit}_per_batch": per_batch,
        "wall_first10_median_s": seg(0, 10),
        "wall_mid10_median_s": seg(n // 2 - 5, n // 2 + 5),
        "wall_last10_median_s": seg(n - 10, n),
        **surface.result(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
