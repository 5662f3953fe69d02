"""Continuous corpus curation — the streaming capstone.

Composes the proven batch pieces into the pipeline a training-data team
actually runs against a CDC document feed: every micro-batch is quality-
gated (stateless Column predicates, identical decision functions to the
batch path) and then admitted against the accumulated deduped corpus via
the persisted MinHash band index (dedup.incremental_verified_dedup), with
decisions, admitted docs, and index increments all written durably.

State layout under ``state_dir`` (parquet, batch-versioned with
compaction — streaming/statedir.py):

    decisions/batch=<id>/   (doc_id, keep, reason, dup_of)
    kept/batch=<id>/        admitted documents (the curated corpus)
    index/batch=<id>/       (id, band, key) band-key increments
    media_sigs/batch=<id>/  (doc_id, bands) dHash sigs of ADMITTED docs
    media_index/batch=<id>/ (doc_id, band_idx, band_val) their band index
    */compact=<w>/          compacted snapshot of all batches < w

The media_* tables exist only in multimodal mode (``media_blob_col``
set): each micro-batch's quality survivors are then ALSO gated against
the admitted corpus' perceptual dHash index (the q129/q132 signal,
pigeonhole-exact recall) before text dedup — one foreachBatch pass, one
decisions table, with ``media_dup`` as the reason and the matched
earlier id as dup_of. In-batch peers compare min-id-representative
(earlier-id quality survivors), cross-batch against admitted docs only
— the same chained-greedy/min-id hybrid as the text admission, so the
whole multimodal gate has a deterministic batch twin
(tests/test_curation_stream.py restart-equality).

Exactly-once without sink transactions: the per-trigger protocol of
statedir.SinkTables (overwrite of the batch's own subdirs, reads that
exclude them, folds of the committed prefix) — the same guarantee the
reference gets from its offset-after-flush ordering
(stream_cdc/coordinator.py:281-303), generalized to three state tables
(five in multimodal mode).

At 100 TB the kept/ and index/ tables compact into bucketed tables (see
tests/test_bucketing.py: the (band, key)-bucketed index joins without an
index-side shuffle — statedir.compact(bucket_cols=...) writes exactly
that layout); the read-exclusion rule is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from stream_cdc_spark.operators import dedup
from stream_cdc_spark.streaming import statedir

KEPT_SCHEMA = "doc_id bigint, text string"
INDEX_SCHEMA = "id bigint, band int, key bigint"
DECISIONS_SCHEMA = "doc_id bigint, keep boolean, reason string, dup_of bigint"
MEDIA_SIGS_SCHEMA = "doc_id bigint, bands array<int>"
MEDIA_INDEX_SCHEMA = "doc_id bigint, band_idx int, band_val int"


def default_quality_predicate(text_col: str, min_tokens: int) -> Column:
    """The default whitespace-token quality gate — shared verbatim by
    CurationPipeline and the composed CDC pipeline
    (streaming/cdc_full.py), so the two gates cannot drift."""
    return F.size(F.split(F.col(text_col), " ")) >= min_tokens


class CurationPipeline:
    """foreachBatch curation sink over a (doc_id, text) document stream.

    ``quality_predicate`` defaults to a minimum token count; callers pass
    any deterministic Column predicate (lang allow-lists, length bounds —
    the same expressions operators/curation.py composes in batch).

    ``k`` / ``num_hashes`` / ``bands`` are the LSH parameters; they are
    stamped onto the persisted index (column metadata, preserved by
    statedir.read_state's schema-inferring read AND by compaction), so a
    restart with drifted parameters fails loudly in
    incremental_verified_dedup instead of silently admitting every
    near-dup against a mismatched index.
    """

    def __init__(
        self,
        state_dir: str,
        quality_predicate: Column | None = None,
        min_tokens: int = 5,
        threshold_ppm: int = 800_000,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 3,
        num_hashes: int = 64,
        bands: int = 16,
        compact_every: int = 16,
        media_blob_col: str | None = None,
        media_grid_w: int = 9,
        media_grid_h: int = 8,
        media_max_hamming: int = 4,
        media_n_bands: int = 8,
        fs: statedir.LocalFS | None = None,
        tokenizer: str = "whitespace",
        bpe_merges=None,
        bpe_alphabet: str = "letter",
    ):
        if media_blob_col is not None and media_n_bands <= media_max_hamming:
            raise ValueError(
                f"recall guarantee needs media_n_bands > media_max_hamming "
                f"(got {media_n_bands} bands, threshold {media_max_hamming})"
            )
        self.state_dir = state_dir
        # protocol-metadata filesystem for the statedir commit protocol
        # (None = local/HDFS default; inject an object-store client for
        # S3/GCS state roots — statedir module doc)
        self.fs = fs
        # multimodal mode (module doc): perceptual dHash admission
        # between the quality gate and text dedup, state shared under
        # the same root / commit protocol
        self.media_blob_col = media_blob_col
        self.media_grid_w = media_grid_w
        self.media_grid_h = media_grid_h
        self.media_max_hamming = media_max_hamming
        self.media_n_bands = media_n_bands
        tables = [
            statedir.Table("decisions", DECISIONS_SCHEMA),
            statedir.Table("kept", KEPT_SCHEMA),
            statedir.Table("index", INDEX_SCHEMA),
        ]
        if media_blob_col is not None:
            tables += [
                statedir.Table("media_sigs", MEDIA_SIGS_SCHEMA),
                statedir.Table("media_index", MEDIA_INDEX_SCHEMA),
            ]
        self._tables = statedir.SinkTables(
            state_dir,
            tables,
            compact_every=compact_every,
            fs=fs,
        )
        self.decisions_dir = self._tables.dir("decisions")
        self.kept_dir = self._tables.dir("kept")
        self.index_dir = self._tables.dir("index")
        self.media_sigs_dir = self._tables.dir("media_sigs")
        self.media_index_dir = self._tables.dir("media_index")
        self.id_col = id_col
        self.text_col = text_col
        self.threshold_ppm = threshold_ppm
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        # Column construction needs an active SparkContext; defer the
        # default predicate so the pipeline can be built config-first
        # (sink_registry) before any session exists.
        self._quality_predicate = quality_predicate
        self._min_tokens = min_tokens
        # tokenizer='bpe' denominates min_tokens in exact SUBWORD tokens
        # (operators/bpe.py; bpe_merges=None -> DEFAULT_MERGES, a trained
        # table auto-routes to the Arrow tier) so the streaming quality
        # gate budgets in the same unit as q131/q133 batch accounting.
        if tokenizer not in ("whitespace", "bpe"):
            raise ValueError(
                f"tokenizer must be 'whitespace' or 'bpe', got {tokenizer!r}"
            )
        self.tokenizer = tokenizer
        self.bpe_merges = bpe_merges
        self.bpe_alphabet = bpe_alphabet

    @property
    def quality_predicate(self) -> Column:
        if self._quality_predicate is not None:
            return self._quality_predicate
        if self.tokenizer == "bpe":
            from stream_cdc_spark.operators import bpe

            n = bpe.bpe_token_count(
                F.col(self.text_col),
                (
                    bpe.DEFAULT_MERGES
                    if self.bpe_merges is None
                    else self.bpe_merges
                ),
                self.bpe_alphabet,
            )
            return n >= self._min_tokens
        return default_quality_predicate(self.text_col, self._min_tokens)

    # -- state ------------------------------------------------------------
    def corpus(self, spark) -> DataFrame:
        """The curated corpus accumulated so far (all committed batches)."""
        return self._tables.read(spark, "kept")

    def decisions(self, spark) -> DataFrame:
        return self._tables.read(spark, "decisions")

    def _media_gate(self, spark, qual_ok: DataFrame, batch_id: int):
        """The perceptual admission stage (multimodal mode): returns
        (sigs_new, media_rejected) — the batch's pinned signatures and
        the (doc_id, dup_of) rows it rejects — or None when no quality
        survivor carries a blob. Plan shape mirrors
        MediaDedupSnapshot._build: batch side broadcasts everywhere, the
        corpus-side index is read in place, pixel bytes never leave the
        signature UDF."""
        from stream_cdc_spark.operators.multimodal import dhash_bands

        mcol = self.media_blob_col
        m = qual_ok.filter(F.col(mcol).isNotNull()).select("doc_id", mcol)
        # pinned: feeds the band explode, the verify join, and the commit
        sigs_new = statedir.pinned_or_none(
            dhash_bands(
                m, "doc_id", mcol,
                self.media_grid_w, self.media_grid_h, self.media_n_bands,
            ).withColumnRenamed("id", "doc_id")
        )
        if sigs_new is None:
            return None
        index_new = sigs_new.select(
            "doc_id", F.posexplode("bands").alias("band_idx", "band_val")
        )
        state_sigs = self._tables.read(spark, "media_sigs", batch_id)
        state_index = self._tables.read(spark, "media_index", batch_id)
        # candidates: vs the ADMITTED corpus, and vs earlier-id quality
        # survivors of this batch (min-id representative — module doc)
        cand_corpus = (
            state_index.withColumnRenamed("doc_id", "other_id")
            .join(F.broadcast(index_new), ["band_idx", "band_val"])
            .select("doc_id", "other_id")
        )
        cand_batch = (
            index_new.withColumnRenamed("doc_id", "other_id")
            .join(F.broadcast(index_new), ["band_idx", "band_val"])
            .filter(F.col("other_id") < F.col("doc_id"))
            .select("doc_id", "other_id")
        )
        cand = (
            cand_corpus.unionByName(cand_batch)
            .dropDuplicates(["doc_id", "other_id"])
        )
        sigs_all = state_sigs.unionByName(sigs_new)
        half = F.broadcast(cand).join(
            sigs_all.select("doc_id", F.col("bands").alias("ba")), "doc_id"
        )
        pairs = F.broadcast(half).join(
            sigs_all.select(
                F.col("doc_id").alias("other_id"), F.col("bands").alias("bb")
            ),
            "other_id",
        )
        hamming = F.aggregate(
            F.zip_with(
                F.col("ba"), F.col("bb"),
                lambda x, y: F.bit_count(x.bitwiseXOR(y)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        media_rejected = (
            pairs.filter(hamming <= F.lit(int(self.media_max_hamming)))
            .groupBy("doc_id")
            .agg(F.min("other_id").cast("bigint").alias("dup_of"))
            .localCheckpoint(eager=True)
        )
        return sigs_new, media_rejected

    # -- the sink: the statedir.SinkTables protocol ------------------------
    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._tables.fold(spark, batch_id)
        built = self._build(spark, batch_df, batch_id)
        if built is None:
            return  # empty trigger: commit nothing (missing == empty)
        self._tables.commit(batch_id, built)

    def _build(self, spark, batch_df: DataFrame, batch_id: int):
        """{table: rows to commit} for one micro-batch, or None for an
        effectively-empty one."""
        # Pin the batch: it feeds the quality gate, the dedup admission
        # (itself a multi-branch plan) and three commit writes — without
        # the eager localCheckpoint each action re-reads the source and
        # re-computes the projection (measured 18 source re-reads per
        # micro-batch via StreamingMetricsListener, ~5x the sink wall).
        cols = [
            F.col(self.id_col).cast("long").alias("doc_id"),
            F.col(self.text_col).alias("text"),
        ]
        if self.media_blob_col is not None:
            cols.append(F.col(self.media_blob_col))
        docs = statedir.pinned_or_none(
            batch_df.select(*cols).dropDuplicates(["doc_id"])
        )
        if docs is None:
            return None
        qual_ok = docs.filter(self.quality_predicate)
        qual_bad = docs.join(qual_ok, "doc_id", "left_anti")

        # multimodal mode: perceptual admission between the quality gate
        # and text dedup (module doc); docs without a blob pass through
        media_built = (
            self._media_gate(spark, qual_ok, batch_id)
            if self.media_blob_col is not None
            else None
        )
        if media_built is not None:
            media_sigs_new, media_rejected = media_built
            qual_ok = qual_ok.join(
                media_rejected.select("doc_id"), "doc_id", "left_anti"
            )
        else:
            media_sigs_new, media_rejected = None, None
        # downstream (text dedup, kept/) is text-shaped regardless of mode
        qual_ok = qual_ok.select("doc_id", "text")

        corpus = self._tables.read(spark, "kept", batch_id)
        # NOTE: no forced schema on the index read — the LSH parameter
        # stamp rides column metadata, and forcing INDEX_SCHEMA stripped
        # it, disarming the mismatch guard exactly on the restart path
        # where parameter drift happens (round-5 advice).
        index = self._tables.read(spark, "index", batch_id)
        # Pin the admission verdicts too: one row per batch doc, consumed
        # by the decisions write AND the admitted semi-join — unpinned, the
        # second consumer replays the whole candidate+verify join tree.
        adm = dedup.incremental_verified_dedup(
            qual_ok, corpus, index=index, threshold_ppm=self.threshold_ppm,
            k=self.k, num_hashes=self.num_hashes, bands=self.bands,
            pin=True,
        ).localCheckpoint(eager=True)

        decisions = qual_bad.select(
            "doc_id",
            F.lit(False).alias("keep"),
            F.lit("quality").alias("reason"),
            F.lit(None).cast("bigint").alias("dup_of"),
        ).unionByName(
            adm.select(
                "doc_id",
                "keep",
                F.when(~F.col("keep"), F.lit("near_dup")).alias("reason"),
                "dup_of",
            )
        )
        if media_rejected is not None:
            decisions = decisions.unionByName(
                media_rejected.select(
                    "doc_id",
                    F.lit(False).alias("keep"),
                    F.lit("media_dup").alias("reason"),
                    "dup_of",
                )
            )
        admitted = qual_ok.join(
            adm.filter("keep").select("doc_id"), "doc_id", "left_semi"
        )
        out = {
            "decisions": decisions,
            "kept": admitted,
            "index": dedup.minhash_band_index(
                admitted, k=self.k, num_hashes=self.num_hashes, bands=self.bands
            ),
        }
        if self.media_blob_col is not None:
            # media state holds ADMITTED docs only (cross-batch media
            # comparisons are chained-greedy against the kept corpus)
            adm_sigs = (
                media_sigs_new.join(
                    admitted.select("doc_id"), "doc_id", "left_semi"
                )
                if media_sigs_new is not None
                else spark.createDataFrame([], MEDIA_SIGS_SCHEMA)
            )
            out["media_sigs"] = adm_sigs
            out["media_index"] = adm_sigs.select(
                "doc_id", F.posexplode("bands").alias("band_idx", "band_val")
            )
        return out

    def sink(self):
        """The foreachBatch callable for writeStream."""
        return self.foreach_batch
