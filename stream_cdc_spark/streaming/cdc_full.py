"""The composed production pipeline — ONE CDC envelope feed driving the
curation gate, the versioned retrieval index and the versioned ANN index
(plus the deletion feed) in a single job.

Every individual sink is soak-proven in isolation; this module is the
production story the reference ships as one wired object graph
(stream_cdc/main.py:16-66 builds datasource -> processor -> filters ->
sink and runs them as one worker): a typed CDC envelope stream
(operators/envelope.py shapes — event_type Insert/Update/Delete, a
monotone gtid sequence, a struct row image) fans out INSIDE one
foreachBatch into

    upserts  -(quality gate)->  VersionedRetrievalIndexSnapshot (text)
             -(same gate)---->  VersionedAnnIndexSnapshot (embedding)
    deletes  ----------------->  BOTH indexes' VERSIONED tombstone logs

under ONE checkpoint, so the surfaces commit in lockstep: a replayed
micro-batch re-runs all fan-out legs with the same batch_id, and each
leg is individually replay-idempotent (their own statedir proofs carry
over unchanged — composition adds no new state protocol).

The two index surfaces commit CONCURRENTLY: the ANN surface (admission,
then its tombstones) runs on a pyspark InheritableThread while the
calling thread runs the retrieval surface (same order). This is safe
because the surfaces share nothing but the pinned envelope batch — each
has its own state root and its own ordered commits (the
statedir.SinkTables protocol), and no commit of one was ever ordered
against the other. The
reference's "one worker" wiring fixes the object graph, not a serial
order, and the micro-batch contract (Structured Streaming, SIGMOD 2018)
asks only that a replayed batch give the same result, which each leg
already guarantees. The join is unconditional: foreach_batch returns or
raises only after both legs finished, so a failed batch leaves no leg
running when the query replays it. InheritableThread carries the
streaming query's local properties (its job group) to the worker, so
query.stop() still cancels both legs' jobs. The one session-global
setting a leg toggles — the bucketed fold's autoBucketedScan conf — is
held under statedir's module lock.

Delete permanence differs by channel (ADVICE r13). An IN-BAND Delete
envelope carries its CDC sequence and kills only versions at or below
it (statedir.VersionedTombstoneLog): a real binlog feed deletes and
re-creates rows routinely (the reference's mysql datasource emits
Delete then Insert), so a re-insert arriving with a higher sequence is
live again on both indexes, while every killed version stays dead
forever. The OUT-OF-BAND DELETES_PATH feed stays doc-level and
permanent — the right-to-be-forgotten contract: bare ids, every
version killed, current and future.

The quality gate is curation.default_quality_predicate — shared
verbatim with CurationPipeline, so the composed pipeline and the
standalone curation mode cannot drift. Gate semantics under updates: a
VERSION failing the gate is not admitted to either index (the gate is a
deterministic function of the image, so replays agree), and the
version-max read rule keeps scoring the newest version that PASSED —
the quality-gated corpus serves the last good image of every doc.

The row image carries both the text and its embedding (the upstream
enrichment computes embeddings before the feed — the usual CDC+enrich
topology); the ANN leg renames (doc_id -> vec_id) and shares the CDC
sequence as the version, so "the same update" supersedes on both
surfaces atomically at the read rule level.

Scale shape per trigger: the envelope batch is pinned ONCE (the shared
ancestor of all four legs — the foreachBatch multi-consumer rule), one
fused scan of the pinned batch checks both null guards, the fan-out
itself is narrow column work, and each leg keeps its own admission/
probe shape (slim ledgers, bucketed tiers, pushed IN probes). The
composition's own jobs are three (emptiness probe, pin, null scan); the
~30 small jobs of the two surfaces run as two concurrent streams
instead of one serial one, so a small trigger no longer leaves the
executor idle between them. Nothing in the composition adds a
corpus-sized Exchange.

Equality contract (tests/test_cdc_full.py): after any interleaving of
insert/update/delete envelopes — out-of-order versions, redeliveries,
a mid-stream restart, folds — the retrieval probe equals batch BM25
over the latest live GATED images and the ANN probe equals batch
ivf_ann_topk over the latest live gated embeddings.

CLI: PIPELINE=cdc_full (main.py) — EVENTS_PATH feed dir,
CDC_STATE_DIR root (sub-roots retr/ and ann/), CENTROIDS_PATH,
MIN_TOKENS, the shared fold/bucketing knobs, and DELETES_PATH for an
out-of-band deletion feed on top of the in-band Delete envelopes.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, functions as F

from stream_cdc_spark.streaming.ann_index import VersionedAnnIndexSnapshot
from stream_cdc_spark.streaming.curation import default_quality_predicate
from stream_cdc_spark.streaming.retrieval_index import (
    VersionedRetrievalIndexSnapshot,
    cdc_upserts_and_deletes,
)

# the envelope feed schema the CLI mode forces on the stream — the
# operators/envelope.py projection with an enriched row image
CDC_FULL_FEED_SCHEMA = (
    "event_type string, gtid_seq bigint, "
    "content struct<doc_id bigint, text string, embedding array<float>>"
)

_LOG = logging.getLogger(__name__)


class CdcFullPipeline:
    """foreachBatch sink composing the quality gate and both versioned
    indexes over one typed CDC envelope stream (module doc)."""

    def __init__(
        self,
        state_dir: str,
        centroids: list[tuple[int, list[float]]],
        min_tokens: int = 5,
        id_field: str = "doc_id",
        text_field: str = "text",
        vec_field: str = "embedding",
        event_type_col: str = "event_type",
        version_col: str = "gtid_seq",
        content_col: str = "content",
        compact_every: int = 16,
        major_every: int = 0,
        commit_files: int = 1,
        bucketed: bool = False,
        num_buckets: int = 32,
    ):
        self.state_dir = state_dir
        self.min_tokens = min_tokens
        self.id_field = id_field
        self.text_field = text_field
        self.vec_field = vec_field
        self.event_type_col = event_type_col
        self.version_col = version_col
        self.content_col = content_col
        kw = dict(
            compact_every=compact_every,
            major_every=major_every,
            commit_files=commit_files,
            bucketed=bucketed,
            num_buckets=num_buckets,
        )
        # the out-of-band deletion feed (DELETES_PATH — a SECOND query
        # with its own checkpoint) gets its own TombstoneLog roots: its
        # batch ids are independent of the envelope stream's, and two
        # channels sharing one root would overwrite each other's
        # batch=N dirs (the statedir collision rule). The indexes
        # read-union both roots.
        from stream_cdc_spark.streaming import statedir

        retr_ext = os.path.join(state_dir, "retr", "tombstones-ext")
        ann_ext = os.path.join(state_dir, "ann", "tombstones-ext")
        self.retr = VersionedRetrievalIndexSnapshot(
            os.path.join(state_dir, "retr"),
            extra_tombstones_roots=(retr_ext,),
            **kw,
        )
        self.ann = VersionedAnnIndexSnapshot(
            os.path.join(state_dir, "ann"),
            centroids,
            extra_tombstones_roots=(ann_ext,),
            **kw,
        )
        self._ext_retr = statedir.TombstoneLog(
            retr_ext, store_col="doc_id",
            compact_every=compact_every, major_every=major_every,
            commit_files=commit_files,
        )
        self._ext_ann = statedir.TombstoneLog(
            ann_ext, store_col="vec_id", source_col="doc_id",
            compact_every=compact_every, major_every=major_every,
            commit_files=commit_files,
        )

    # -- fan-out ----------------------------------------------------------
    def _upsert_gate(self) -> tuple[Column, Column]:
        """(is_upsert, quality gate) over the envelope columns."""
        return (
            F.col(self.event_type_col).isin("Insert", "Update"),
            default_quality_predicate(
                f"{self.content_col}.{self.text_field}", self.min_tokens
            ),
        )

    def _vec_image(self) -> tuple[Column, Column]:
        """(vec_id, embedding) of the vector leg, off the row image."""
        return (
            F.col(f"{self.content_col}.{self.id_field}").cast("long"),
            F.col(f"{self.content_col}.{self.vec_field}").cast("array<float>"),
        )

    def _split(self, envelopes: DataFrame):
        """(gated text upserts, gated vector upserts, deletes). The gate
        filters the ENVELOPE stream (Deletes always pass — quality never
        blocks a legally-required deletion), then the text leg is the
        shared CDC adapter verbatim and the vector leg mirrors it with
        the embedding field and the vec_id rename."""
        is_upsert, gate = self._upsert_gate()
        kept = envelopes.filter(~is_upsert | gate)
        gated_text, deletes = cdc_upserts_and_deletes(
            kept,
            id_field=self.id_field,
            text_field=self.text_field,
            event_type_col=self.event_type_col,
            version_col=self.version_col,
            content_col=self.content_col,
        )
        vec_id, embedding = self._vec_image()
        gated_vec = kept.filter(is_upsert).select(
            vec_id.alias("vec_id"),
            F.col(self.version_col).cast("long").alias("version"),
            embedding.alias("embedding"),
        )
        return gated_text, gated_vec, deletes

    def _check_nulls(self, envelopes: DataFrame, batch_id: int) -> None:
        """Fail LOUDLY on ANY envelope with a NULL version (a feed file
        missing gtid_seq reads all-null under the forced schema; a
        malformed envelope carries one): on upserts, null keys never
        match the admission anti-join (every redelivery re-admits,
        state grows unbounded) NOR the version-max equi-join (the doc
        silently vanishes from every probe); on in-band Deletes, a null
        sequence is a kill watermark that kills nothing — the same
        silent-no-op class the versioned CLI modes guard at startup,
        which a column check alone cannot catch row-wise.

        Same rule for the row-image KEYS on gated upserts (ADVICE r13):
        a content struct missing its doc_id or embedding field reads
        all-null under the forced schema while the gate still passes on
        text — the ANN leg would admit null vectors whose first-wins
        (vec_id, version) slots a corrected redelivery can never
        reclaim, and null-cosine candidates can reach topk when a probed
        cell holds fewer than k real vectors. (Null TEXT is the gate's
        job: a null image fails the quality predicate and is skipped,
        not an error.)

        One scan of the pinned batch over both predicates; only a hit
        pays a second probe, so the version error keeps precedence. The
        image predicate is exactly ``_split``'s gated vector rows
        (upsert AND gate, both TRUE) with a null key."""
        is_upsert, gate = self._upsert_gate()
        vec_id, embedding = self._vec_image()
        null_version = F.col(self.version_col).isNull()
        bad_image = is_upsert & gate & (vec_id.isNull() | embedding.isNull())
        hit = envelopes.filter(null_version | bad_image).take(1)
        if not hit:
            return
        if hit[0][self.version_col] is None or envelopes.filter(
            null_version
        ).take(1):
            raise ValueError(
                f"cdc_full batch {batch_id}: envelopes with a "
                f"NULL {self.version_col!r} — the feed is missing the "
                f"version column (forced schema reads it all-null) or "
                f"carries malformed envelopes. Null versions would "
                f"break exactly-once admission, drop docs from every "
                f"probe, and make in-band Deletes kill nothing — all "
                f"silently."
            )
        raise ValueError(
            f"cdc_full batch {batch_id}: gated upsert envelopes "
            f"with a NULL {self.id_field!r} or {self.vec_field!r} "
            f"in {self.content_col!r} — the feed's content struct "
            f"is missing the field (forced schema reads it "
            f"all-null) or carries malformed images. Admitting "
            f"them would permanently occupy first-wins slots and "
            f"poison ANN candidates, silently."
        )

    # -- the sink ---------------------------------------------------------
    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # pin ONCE at the shared ancestor: four legs derive from the
        # envelope batch, and an unpinned source would re-read per leg
        if not batch_df.take(1):
            return  # empty trigger: no leg commits (missing == empty)
        envelopes = batch_df.localCheckpoint(eager=True)
        self._check_nulls(envelopes, batch_id)
        gated_text, gated_vec, deletes = self._split(envelopes)
        # in-band Deletes carry their CDC sequence: versioned kill on
        # both surfaces (versions <= the sequence; a later re-insert
        # is live again — module doc). Each surface keeps its own
        # order (admission, then its tombstones); the two surfaces
        # share nothing but the pinned batch, so they commit
        # concurrently (module doc).
        vec_deletes = deletes.select(F.col("doc_id").alias("vec_id"), "version")

        def ann_leg() -> None:
            self.ann.foreach_batch(gated_vec, batch_id)
            self.ann.delete_versions_batch(vec_deletes, batch_id)

        def retr_leg() -> None:
            self.retr.foreach_batch(gated_text, batch_id)
            self.retr.delete_versions_batch(deletes, batch_id)

        _concurrently(ann_leg, retr_leg)

    # -- out-of-band deletion feed (DELETES_PATH second query) ------------
    def delete_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """A bare-id deletion feed applied to BOTH indexes — the
        right-to-be-forgotten path when deletions arrive outside the
        envelope stream (expects a ``doc_id`` column). Writes the
        EXTERNAL tombstone roots: this channel's batch ids come from
        its own checkpoint and must never overwrite the envelope
        stream's in-band tombstone commits (constructor doc)."""
        ids = batch_df.select(F.col("doc_id").cast("long").alias("doc_id"))
        ids = ids.localCheckpoint(eager=True)  # two consumers
        _concurrently(
            lambda: self._ext_ann.append(ids, batch_id),
            lambda: self._ext_retr.append(ids, batch_id),
        )


def _concurrently(worker: Callable[[], None], caller: Callable[[], None]) -> None:
    """Run ``worker`` on a pyspark InheritableThread while the calling
    thread runs ``caller``; return once BOTH have finished.

    InheritableThread copies the caller's Spark local properties — the
    streaming query's job group above all — so ``query.stop()`` still
    cancels the worker's jobs (a bare thread would run them ungrouped).
    Failure: the join is unconditional, so nothing of either leg still
    runs when this raises; the caller's exception wins when both fail
    (the worker's is logged), otherwise the worker's is re-raised
    as-is. A replay of the batch re-runs both legs, each idempotent."""
    errors: list[BaseException] = []

    def run() -> None:
        try:
            worker()
        except BaseException as e:  # noqa: BLE001 -- re-raised below
            errors.append(e)

    t = InheritableThread(target=run, name="cdc_full-worker-leg")
    t.start()
    try:
        caller()
    except BaseException:
        t.join()
        if errors:
            _LOG.error("cdc_full: worker leg failed too", exc_info=errors[0])
        raise
    t.join()
    if errors:
        raise errors[0]
