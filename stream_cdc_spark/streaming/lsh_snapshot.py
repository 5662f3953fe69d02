"""Bulk-drain twin of lsh_dedup_stream: foreachBatch snapshot joins.

stateful.lsh_dedup_stream keeps each (band, key) bucket's membership in
the streaming state store and pays one Python group invocation per
touched bucket per micro-batch — the right shape for continuous
admission (small batches, sub-second), but a wall for backlogs: draining
N docs costs ~bands * N mostly-singleton Python groups under the
applyInPandasWithState fallback (measured 284 docs/s on the 10x corpus
in round 4).

This module restructures the SAME admission semantics as JVM-side joins
against a batch-versioned parquet snapshot — the q110 incremental-
admission shape applied inside foreachBatch, so a micro-batch costs a
handful of joins regardless of how many buckets it touches, and no per-
row Python runs anywhere. The reference's continuous coordinator loop
(reference: stream_cdc/processing/worker.py:26-77) is the production
mode this accelerates.

State layout under ``state_dir`` (parquet, batch-versioned with
compaction — exactly-once by the same overwrite + read-exclusion rule as
streaming/statedir.py, which also holds the crash-interleaving proof):

    sigs/batch=<id>/    (doc_id, signature)       every PROCESSED doc
    index/batch=<id>/   (doc_id, band, key)       ADMITTED band keys only
    counts/batch=<id>/  (band, key, cnt)          per-bucket admit increments
    matches/batch=<id>/ (doc_id, dup_of, agree_ppm)
    clusters/{members,parents}/batch=<id>/  (cluster_state=True only)
                        incremental union-find forest over the match
                        graph — continuous cluster membership + min-id
                        survivorship representative (streaming/
                        components.py)
    */compact=<w>/      compacted snapshot of all batches < w

Every trigger runs the statedir.SinkTables protocol over these tables
(folds every ``compact_every`` batches, leveled with ``major_every``;
an effectively-empty micro-batch commits nothing); counts additionally
re-aggregate on fold — readers sum increments, so the reduction is
read-equivalent.

Semantics (matches _bucket_matches):
  - every arriving doc is compared against all bucket residents, emits a
    match per resident with signature agreement >= min_agree (normalized
    to doc_id = max id, dup_of = min id);
  - a doc joins a bucket only while the bucket holds < max_bucket
    residents (hot-boilerplate guard — capped docs still match against
    residents and against in-batch peers that WERE admitted);
  - redelivered docs (any doc_id already in sigs/) are dropped before
    matching, so nothing re-emits across batches — a stronger guard than
    the state-store path's bounded seen-list, because sigs/ is the full
    processed-doc registry.

Emission granularity: one row per distinct (doc_id, dup_of) pair per
micro-batch (the state-store path emits once per colliding band;
consumers dropDuplicates either way).

Scale notes: the batch side of every join is broadcast (a micro-batch is
small by construction); index/ and sigs/ are streamed, never shuffled.
With ``bucketed=True`` compaction publishes index/ as a (band, key)-
bucketed table and sigs/ as a doc_id-bucketed table (the layout
tests/test_bucketing.py proves joins with no snapshot-side Exchange), so
at 100 TB a probe too large to broadcast still joins without shuffling
the corpus, and downstream batch consumers (incremental_verified_dedup)
read the same tables in place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window, functions as F

from stream_cdc_spark.streaming import statedir

SIGS_SCHEMA = "doc_id bigint, signature array<bigint>"
INDEX_SCHEMA = "doc_id bigint, band int, key bigint"
COUNTS_SCHEMA = "band int, key bigint, cnt bigint"
MATCHES_SCHEMA = "doc_id bigint, dup_of bigint, agree_ppm bigint"


class LshDedupSnapshot:
    """foreachBatch sink over a (doc_id, text) document stream emitting
    near-dup matches and maintaining the admitted-corpus LSH snapshot."""

    def __init__(
        self,
        state_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        k: int = 3,
        num_hashes: int = 64,
        bands: int = 16,
        min_agree: float = 0.8,
        max_bucket: int = 64,
        compact_every: int = 16,
        major_every: int = 0,
        bucketed: bool = False,
        num_buckets: int = 32,
        commit_files: int = 1,
        cluster_state: bool = False,
        fs: statedir.LocalFS | None = None,
    ):
        self.state_dir = state_dir
        # protocol-metadata filesystem for the statedir commit protocol
        # (None = local/HDFS default; inject an object-store client for
        # S3/GCS state roots — statedir module doc)
        self.fs = fs
        # counts re-aggregate on fold (readers sum increments, so the
        # reduction is read-equivalent); with bucketed=True sigs/ and
        # index/ fold into doc_id- and (band, key)-bucketed snapshots
        # (module doc)
        self._tables = statedir.SinkTables(
            state_dir,
            [
                statedir.Table("matches", MATCHES_SCHEMA),
                statedir.Table("counts", COUNTS_SCHEMA, fold=_sum_counts),
                statedir.Table("sigs", SIGS_SCHEMA, bucket_cols=("doc_id",)),
                statedir.Table(
                    "index", INDEX_SCHEMA, bucket_cols=("band", "key")
                ),
            ],
            compact_every=compact_every,
            major_every=major_every,
            commit_files=commit_files,
            bucketed=bucketed,
            num_buckets=num_buckets,
            fs=fs,
        )
        self.sigs_dir = self._tables.dir("sigs")
        self.index_dir = self._tables.dir("index")
        self.counts_dir = self._tables.dir("counts")
        self.matches_dir = self._tables.dir("matches")
        self.text_col = text_col
        self.id_col = id_col
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.min_agree = min_agree
        self.max_bucket = max_bucket
        # cluster_state=True maintains dedup-CLUSTER membership (and the
        # min-id survivorship representative) continuously: each batch's
        # committed matches feed the incremental union-find forest under
        # clusters/ in the same foreachBatch pass, so a curation loop
        # reads clusters() instead of re-rolling connected components
        # over the accumulated pair log per decision.
        self._components = None
        if cluster_state:
            from stream_cdc_spark.streaming.components import (
                IncrementalComponentsSnapshot,
            )

            self._components = IncrementalComponentsSnapshot(
                os.path.join(state_dir, "clusters"),
                id_a="dup_of",
                id_b="doc_id",
                compact_every=compact_every,
                major_every=major_every,
                commit_files=commit_files,
                fs=fs,
            )

    # -- state ------------------------------------------------------------
    def _read(self, spark, root: str, schema: str, batch_id: int) -> DataFrame:
        """State of the table stored at ``root``, read with the table's
        declared schema (``schema`` is kept for callers)."""
        return self._tables.read(spark, os.path.basename(root), batch_id)

    def matches(self, spark) -> DataFrame:
        """All matches emitted by committed batches."""
        return self._tables.read(spark, "matches")

    def processed(self, spark) -> DataFrame:
        return self._tables.read(spark, "sigs")

    def clusters(self, spark) -> DataFrame:
        """(vertex, component) cluster membership over every committed
        match — component = min doc_id in the near-dup cluster, i.e. the
        survivorship representative. Requires cluster_state=True."""
        if self._components is None:
            raise ValueError(
                "cluster membership requires LshDedupSnapshot("
                "cluster_state=True); without it, roll up matches() with "
                "dedup.connected_components instead"
            )
        return self._components.labels(spark)

    def bucketed_index(self, spark) -> DataFrame | None:
        """The compacted admitted-corpus band index as its registered
        (band, key)-bucketed table — the shuffle-free join side for batch
        consumers; None until the first bucketed compaction ran."""
        if not self._tables.bucketed:
            return None
        return statedir.bucketed_relation(
            spark, self.index_dir, INDEX_SCHEMA, ["band", "key"],
            self._tables.num_buckets, fs=self.fs,
        )

    # -- the sink: the statedir.SinkTables protocol ------------------------
    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._tables.fold(spark, batch_id)
        built = self._build(spark, batch_df, batch_id)
        if built is None:
            return  # empty trigger: commit nothing (missing == empty)
        batch_sigs, admitted_bk, matches = built
        self._tables.commit(
            batch_id,
            {
                "matches": matches,
                "sigs": batch_sigs,
                "index": admitted_bk.select("doc_id", "band", "key"),
                "counts": admitted_bk.groupBy("band", "key").agg(
                    F.count(F.lit(1)).alias("cnt")
                ),
            },
        )
        if self._components is not None:
            self._components.fold_matches(
                spark, self._tables, "matches", batch_id
            )

    def _build(self, spark, batch_df: DataFrame, batch_id: int):
        """Build (batch_sigs, admitted_bk, matches) for one micro-batch, or
        None for an effectively-empty batch. Separated from the commit so
        plan-shape tests can assert the scale properties (index side never
        rides a shuffle join) on the exact relations foreach_batch writes."""
        from stream_cdc_spark.operators.dedup import (
            band_buckets,
            minhash_signatures,
        )

        docs = batch_df.select(
            F.col(self.id_col).cast("long").alias("doc_id"),
            F.col(self.text_col).alias("text"),
        ).dropDuplicates(["doc_id"])

        state_sigs = self._tables.read(spark, "sigs", batch_id)
        # redelivery guard: anything already processed is dropped whole
        docs = docs.join(
            state_sigs.select("doc_id"), "doc_id", "left_anti"
        )

        # Signatures via the BATCH operator (explode + groupBy with 64
        # map-side-combined mins) — a foreachBatch body works on a plain
        # batch DataFrame, so the streaming path's narrow-expression
        # constraint doesn't apply and the proven-fastest shape does.
        # Values are identical (min over xxhash64(shingle, i)), so
        # emissions still line up with the batch LSH family and the
        # state-store stream. Pinned once (the admission plan then runs
        # once per trigger); the pin serves the four downstream joins (a
        # micro-batch is small).
        batch_sigs = statedir.pinned_or_none(
            minhash_signatures(
                docs, "text", "doc_id", self.k, self.num_hashes
            ).withColumnRenamed("id", "doc_id")
        )
        if batch_sigs is None:
            return None
        keyed = band_buckets(
            batch_sigs.withColumnRenamed("doc_id", "id"),
            self.num_hashes,
            self.bands,
        ).withColumnRenamed("id", "doc_id")

    # -- candidate generation: slim (band, key) joins, batch side broadcast
        bk = keyed.select("band", "key", "doc_id")
        state_index = self._tables.read(spark, "index", batch_id)
        cand_corpus = (
            state_index.withColumnRenamed("doc_id", "other_id")
            .join(F.broadcast(bk), ["band", "key"])
            .select("doc_id", "other_id")
        )

        # admission (cap) decision — needed before in-batch matching so a
        # capped earlier arrival does not match later in-batch peers,
        # mirroring _bucket_matches' members-only comparison. The counts
        # relation is corpus-wide, so prune it to the batch's buckets
        # (broadcast semi-join) BEFORE aggregating/broadcasting — the
        # shuffle and the broadcast are then both bounded by the batch.
        batch_buckets = bk.select("band", "key").dropDuplicates()
        state_counts = (
            self._tables.read(spark, "counts", batch_id)
            .join(F.broadcast(batch_buckets), ["band", "key"], "left_semi")
            .groupBy("band", "key")
            .agg(F.sum("cnt").alias("resident_cnt"))
        )
        rn = F.row_number().over(
            Window.partitionBy("band", "key").orderBy("doc_id")
        )
        slots = (
            bk.withColumn("rn", rn)
            .join(F.broadcast(state_counts), ["band", "key"], "left")
            .withColumn(
                "admitted",
                F.col("rn") + F.coalesce(F.col("resident_cnt"), F.lit(0))
                <= F.lit(self.max_bucket),
            )
        )
        # pinned: three consumers (in-batch candidates, index commit,
        # counts commit) would each replay the row_number window shuffle
        admitted_bk = (
            slots.filter("admitted")
            .select("band", "key", "doc_id")
            .localCheckpoint(eager=True)
        )

        cand_batch = (
            admitted_bk.withColumnRenamed("doc_id", "other_id")
            .join(F.broadcast(bk), ["band", "key"])
            .filter(F.col("other_id") < F.col("doc_id"))
            .select("doc_id", "other_id")
        )

        cand = (
            cand_corpus.unionByName(cand_batch)
            .select(
                F.greatest("doc_id", "other_id").alias("hi"),
                F.least("doc_id", "other_id").alias("lo"),
            )
            .dropDuplicates(["hi", "lo"])
        )

        # -- verification: signature agreement, JVM-side zip_with ---------
        # candidates << corpus, so both sig attachments broadcast the pair
        # side; with ``bucketed`` compaction sigs/ is a doc_id-bucketed
        # table and these become pruned probes instead of scans
        sigs_all = state_sigs.unionByName(batch_sigs)
        # both attachment joins must build the PAIR side (hint each stage
        # explicitly — the hint on cand does not survive through the first
        # join, and a static SortMergeJoin here would sort the corpus-wide
        # sigs relation every micro-batch)
        half = F.broadcast(cand).join(
            sigs_all.select(
                F.col("doc_id").alias("hi"),
                F.col("signature").alias("sig_hi"),
            ),
            "hi",
        )
        pairs = F.broadcast(half).join(
            sigs_all.select(
                F.col("doc_id").alias("lo"),
                F.col("signature").alias("sig_lo"),
            ),
            "lo",
        )
        agree = F.size(
            F.filter(
                F.zip_with(F.col("sig_hi"), F.col("sig_lo"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        matches = (
            pairs.withColumn("agree", agree)
            .filter(
                F.col("agree") >= F.lit(int_ceil(self.min_agree, self.num_hashes))
            )
            .select(
                F.col("hi").alias("doc_id"),
                F.col("lo").alias("dup_of"),
                (F.lit(1_000_000) * F.col("agree") / F.lit(self.num_hashes))
                .cast("bigint")
                .alias("agree_ppm"),
            )
        )
        return batch_sigs, admitted_bk, matches

    @property
    def sink(self):
        return self.foreach_batch


def _sum_counts(df: DataFrame) -> DataFrame:
    return df.groupBy("band", "key").agg(F.sum("cnt").alias("cnt"))


def int_ceil(min_agree: float, num_hashes: int) -> int:
    """Smallest integer agreement count satisfying agree/num_hashes >=
    min_agree — keeps the JVM filter integer-exact instead of re-deriving
    the float ratio per row."""
    import math

    return math.ceil(min_agree * num_hashes - 1e-9)
