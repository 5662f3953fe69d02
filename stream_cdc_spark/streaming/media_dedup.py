"""Continuous perceptual near-dup detection over a media stream — the
streaming twin of q129/q130 (multimodal.dhash_near_duplicates), built on
the same batch-versioned statedir state as the LSH snapshot sink.

Every micro-batch of (media_id, blob) thumbnails is signed with
`multimodal.dhash_bands` (one Arrow-vectorized pandas UDF), probed
against the persisted (band_idx, band_val) index of everything admitted
so far plus its own earlier-id peers, and candidates are verified by
exact Hamming distance on the full signature. Because the band count
exceeds the Hamming threshold, candidate recall is pigeonhole-EXACT, so
the accumulated match set equals the batch operator's output over the
same corpus — asserted bit-for-bit across a checkpoint restart in
tests/test_media_dedup_stream.py (the same batch-equivalence contract as
LshDedupSnapshot, reference anchor: the coordinator's
process-then-checkpoint loop, stream_cdc/coordinator.py:110-159).

State tables (run by the statedir.SinkTables per-trigger protocol —
manifest commit, bounded metadata via compaction, object-store safe):

    <root>/sigs/     (media_id, bands)            admitted signatures
    <root>/index/    (media_id, band_idx, band_val) band index (probe side)
    <root>/matches/  (media_id, dup_of, hamming)   emitted near-dup pairs

Scale notes: the batch side of every join broadcasts (a micro-batch is
small by construction); the corpus-side index is read, never shuffled,
per trigger; pixel bytes never leave the signature UDF. Unlike the LSH
sink there is no bucket cap: dHash bands take only 2^band_bits values,
and dense duplicate clusters do not grow buckets (an exact-duplicate
raster matches at Hamming 0 and adds nothing new to its bucket's
diversity) — a corpus pathological enough to pack one (band_idx, value)
bucket with DISTINCT rasters should be exact-deduped first (q19), the
same upstream guidance as the batch operator's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from stream_cdc_spark.streaming import statedir

MEDIA_SIGS_SCHEMA = "media_id bigint, bands array<int>"
MEDIA_INDEX_SCHEMA = "media_id bigint, band_idx int, band_val int"
MEDIA_MATCHES_SCHEMA = "media_id bigint, dup_of bigint, hamming bigint"


class MediaDedupSnapshot:
    """foreachBatch sink: continuous dHash near-dup admission over a
    (media_id, blob) thumbnail stream. See module doc."""

    def __init__(
        self,
        state_dir: str,
        id_col: str = "media_id",
        blob_col: str = "blob",
        grid_w: int = 9,
        grid_h: int = 8,
        max_hamming: int = 4,
        n_bands: int = 8,
        compact_every: int = 16,
        major_every: int = 0,
        commit_files: int = 1,
        cluster_state: bool = False,
        fs: statedir.LocalFS | None = None,
    ):
        if n_bands <= max_hamming:
            raise ValueError(
                f"recall guarantee needs n_bands > max_hamming "
                f"(got {n_bands} bands, threshold {max_hamming})"
            )
        self.state_dir = state_dir
        self._tables = statedir.SinkTables(
            state_dir,
            [
                statedir.Table("sigs", MEDIA_SIGS_SCHEMA),
                statedir.Table("index", MEDIA_INDEX_SCHEMA),
                statedir.Table("matches", MEDIA_MATCHES_SCHEMA),
            ],
            compact_every=compact_every,
            major_every=major_every,
            commit_files=commit_files,
            fs=fs,
        )
        self.sigs_dir = self._tables.dir("sigs")
        self.index_dir = self._tables.dir("index")
        self.matches_dir = self._tables.dir("matches")
        self.id_col = id_col
        self.blob_col = blob_col
        self.grid_w = grid_w
        self.grid_h = grid_h
        self.max_hamming = max_hamming
        self.n_bands = n_bands
        self.fs = fs
        # cluster_state=True maintains media dup-CLUSTER membership (and
        # the min-id survivorship representative) continuously — the
        # streaming form of the q130 rollup, same forest design as
        # LshDedupSnapshot(cluster_state=True)
        self._components = None
        if cluster_state:
            from stream_cdc_spark.streaming.components import (
                IncrementalComponentsSnapshot,
            )

            self._components = IncrementalComponentsSnapshot(
                os.path.join(state_dir, "clusters"),
                id_a="dup_of",
                id_b="media_id",
                compact_every=compact_every,
                major_every=major_every,
                commit_files=commit_files,
                fs=fs,
            )

    # -- state ------------------------------------------------------------
    def matches(self, spark) -> DataFrame:
        """All near-dup pairs emitted by committed batches."""
        return self._tables.read(spark, "matches")

    def clusters(self, spark) -> DataFrame:
        """(vertex, component) media dup-cluster membership over every
        committed match — component = min media_id in the cluster, the
        survivorship representative (continuous q130). Requires
        cluster_state=True."""
        if self._components is None:
            raise ValueError(
                "cluster membership requires MediaDedupSnapshot("
                "cluster_state=True); without it, roll up matches() with "
                "dedup.connected_components instead"
            )
        return self._components.labels(spark)

    def processed(self, spark) -> DataFrame:
        return self._tables.read(spark, "sigs")

    # -- the sink: the statedir.SinkTables protocol ------------------------
    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._tables.fold(spark, batch_id)
        built = self._build(spark, batch_df, batch_id)
        if built is None:
            return  # empty trigger: commit nothing (missing == empty)
        sigs_new, index_new, matches = built
        self._tables.commit(
            batch_id, {"matches": matches, "sigs": sigs_new, "index": index_new}
        )
        if self._components is not None:
            self._components.fold_matches(
                spark, self._tables, "matches", batch_id
            )

    def _build(self, spark, batch_df: DataFrame, batch_id: int):
        """(sigs_new, index_new, matches) for one micro-batch, or None
        for an effectively-empty one. Separated from the commit so plan
        tests can assert scale shape on the exact relations written."""
        from stream_cdc_spark.operators.multimodal import dhash_bands

        media = batch_df.select(
            F.col(self.id_col).cast("long").alias(self.id_col),
            F.col(self.blob_col).alias(self.blob_col),
        ).dropDuplicates([self.id_col])

        state_sigs = self._tables.read(spark, "sigs", batch_id)
        # redelivery guard: anything already processed is dropped whole
        media = media.join(
            state_sigs.select(F.col("media_id").alias(self.id_col)),
            self.id_col,
            "left_anti",
        )
        # pinned: feeds the band explode, the verify join, and the commit
        sigs_new = statedir.pinned_or_none(
            dhash_bands(
                media, self.id_col, self.blob_col,
                self.grid_w, self.grid_h, self.n_bands,
            ).withColumnRenamed("id", "media_id")
        )
        if sigs_new is None:
            return None

        index_new = sigs_new.select(
            "media_id", F.posexplode("bands").alias("band_idx", "band_val")
        )
        state_index = self._tables.read(spark, "index", batch_id)
        # candidates vs the admitted corpus: index side read in place,
        # batch side broadcast
        cand_corpus = (
            state_index.withColumnRenamed("media_id", "other_id")
            .join(F.broadcast(index_new), ["band_idx", "band_val"])
            .select("media_id", "other_id")
        )
        # batch-internal candidates (earlier id = the resident)
        cand_batch = (
            index_new.withColumnRenamed("media_id", "other_id")
            .join(F.broadcast(index_new), ["band_idx", "band_val"])
            .filter(F.col("other_id") < F.col("media_id"))
            .select("media_id", "other_id")
        )
        cand = (
            cand_corpus.unionByName(cand_batch)
            .select(
                F.greatest("media_id", "other_id").alias("hi"),
                F.least("media_id", "other_id").alias("lo"),
            )
            .dropDuplicates(["hi", "lo"])
        )

        # verify: exact Hamming on the full signatures; candidates <<
        # corpus, so both attachment joins broadcast the pair side
        sigs_all = state_sigs.unionByName(sigs_new)
        half = F.broadcast(cand).join(
            sigs_all.select(
                F.col("media_id").alias("hi"), F.col("bands").alias("ba")
            ),
            "hi",
        )
        pairs = F.broadcast(half).join(
            sigs_all.select(
                F.col("media_id").alias("lo"), F.col("bands").alias("bb")
            ),
            "lo",
        )
        hamming = F.aggregate(
            F.zip_with(
                F.col("ba"), F.col("bb"),
                lambda x, y: F.bit_count(x.bitwiseXOR(y)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("bigint")
        matches = (
            pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= F.lit(int(self.max_hamming)))
            .select(
                F.col("hi").alias("media_id"),
                F.col("lo").alias("dup_of"),
                "hamming",
            )
        )
        return sigs_new, index_new, matches

    @property
    def sink(self):
        return self.foreach_batch
