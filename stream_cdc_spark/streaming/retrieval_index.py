"""Incremental retrieval-index maintenance — the streaming twin of the
batch BM25/TF-IDF scorers (text.bm25_topk / q89, tfidf_top_terms / q54),
on the same batch-versioned statedir state as the LSH, media-dedup and
ANN-index sinks.

A production retrieval corpus arrives continuously, exactly like the
embedding corpus the ANN sink (streaming/ann_index.py) admits — but the
batch scorers recompute every corpus statistic (df, N, L = avgdl·N, idf)
from scratch per query. ``VersionedRetrievalIndexSnapshot`` maintains
the classic inverted-index decomposition over a (doc_id, version, text)
UPSERT stream (class doc for the state tables); an insert-only feed is
the same stream with every row at version 0 (main.py's
``RETR_VERSION_COL=`` empty), whose admission is first-wins
per doc_id. ``dl`` is denormalized into the postings rows (the standard
search-engine layout): a probe never joins the corpus-sized doc ledger
— term postings carry everything the scorer needs.

Everything the scorers derive is a mergeable reduction over the
admitted images, which is what makes the index incrementally
maintainable and fold/replay-proof:

  - tf(doc, word): per-doc counts, computed once at admission (an
    admitted (doc, version) image is immutable);
  - df(word) = COUNT of latest-live postings rows per word;
  - N, L: count and sum of dl over the latest live images, read from a
    fold-materialized latest/ tier (class doc);
  - idf is NOT state: it is re-quantized at read from (df, N) with the
    same FLOOR(1e6·LN(...)) rule as the batch scorer, so admitting one
    batch "updates" every term's idf for free.

Scale shape per trigger: tokenize + per-doc tf is a narrow map over the
micro-batch; the admission anti-join feeds only the column-pruned
(doc_id, version) key of the ledger (never the postings); commits sort
postings by word so parquet row-group min/max stats cluster each term's
rows. ``bm25_topk(terms)`` pushes ``word IN (terms)`` into the postings
scan (row-group pruning — the inverted-index lookup, expressed as a
predicate), joins the broadcast re-quantized idf, and aggregates
scores; the postings side never rides an Exchange wider than the
matching rows (plan-asserted in tests/test_retrieval_index_stream.py).

Equality contract (the standard set by tests/test_lsh_snapshot.py):
after any drain — restarts, replays, overlapping redeliveries,
compaction folds crossing the stream — ``bm25_topk`` is bit-equal to
batch ``text.bm25_topk`` and ``tfidf_top_terms`` to q54's scorer, both
over the latest live image of every admitted doc. Both paths share
``text.bm25_topk_from_postings`` / ``text.tfidf_top_terms_from_tf``
verbatim, so equality is by construction once admission is
exactly-once. The q137 and q138 registry entries are the batch side
(compaction.versioned_latest_live + text.bm25_topk over their event
slices, oracled against the q89 SQL); tests/test_sink_equals_query.py
drains this sink with the same slices and asserts the equality.

Deletions (the right-to-be-forgotten path a production training-data
corpus needs) affect READS ONLY — the admit path never consults them,
so the delete and admit streams share no write-path coupling and every
replay/fold/restart proof of the admit path stands untouched. Physical
removal is EVENTUAL (postings/ folds apply the tombstones), and the
immediate reclaim + hard erasure of the ledger rows too is the offline
``operators/migration.vacuum_versioned_retrieval_index`` rebuild.

The index is self-describing: the postings ``word`` column carries a
scheme stamp (tokenizer + scoring algebra + row layout version) as
column metadata — the same guard as the ANN centroid digest. Postings
built under a different tokenizer are not comparable (same text,
different tf/dl); a mismatched stamp refuses all operation BEFORE any
statedir restructuring, with rebuild guidance.

Reference anchor: the coordinator's process-then-checkpoint admission
loop (stream_cdc/coordinator.py:110-159).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from stream_cdc_spark.operators import text
from stream_cdc_spark.streaming import statedir

RETR_VDOCS_SCHEMA = "doc_id bigint, version bigint, dl bigint"
RETR_VPOSTINGS_SCHEMA = (
    "doc_id bigint, version bigint, word string, tf bigint, dl bigint"
)

# Versioned id of the tokenization + scoring algebra + row layout the
# persisted postings bake in: whitespace tokens, BM25 k1=1.2 b=0.75 with
# idf quantized FLOOR(1e6·LN(...)), TF-IDF in ppm, (doc_id, version)
# rows read under the latest-image rule. A change here invalidates every
# persisted posting, exactly like dedup.LSH_SCHEME — every index root
# stores this exact string (tests pin it).
RETR_SCHEME_VERSIONED = (
    "tok-whitespace/bm25-k1.2-b0.75-idfq1e6-int/tfidf-ppm/v1"
    "+versioned-latest/v1"
)


class VersionedRetrievalIndexSnapshot:
    """foreachBatch sink: continuous inverted-index maintenance over a
    (doc_id, version, text) UPSERT stream — the CDC-native retrieval
    index, plus the BM25/TF-IDF probes over the persisted index. The
    reference's central event is the Update carrying row images
    (stream_cdc/datasources/mysql.py:416-426, update fixtures
    tests/unit/datasources/test_mysql.py:354-359): re-ingesting a
    changed document must supersede its prior image, not be dropped.
    An insert-only feed is the same stream at version 0 (module doc).

    Design: VERSION-MAX READ RULE over an append-only write path, so
    every replay/fold/restart proof of first-wins admission carries
    over unchanged.

      - Admission is first-wins per (doc_id, version) — the version
        (a CDC sequence number / GTID order) is part of the identity,
        so redelivered (doc_id, version) rows drop exactly-once while a
        NEW version of an admitted doc admits append-only. Out-of-order
        versions admit in any order (nothing is ever rewritten).
      - Probes score only the LATEST LIVE image: the slim docs ledger
        (doc_id, version, dl) reduces to max(version) per live doc and
        the term-pruned postings join that one-row-per-doc relation on
        (doc_id, version). Superseded images become invisible the
        instant the newer version commits — "updating" idf/df/N/L is
        free, like the re-quantized idf.
      - Deletes come over TWO channels with different permanence
        (ADVICE r13). ``delete_batch`` takes bare ids — doc-level
        tombstones (shared statedir.TombstoneLog; reads-only,
        never-readmit: the doc stays deleted even if later versions
        arrive — the right-to-be-forgotten contract of an out-of-band
        deletion feed). ``delete_versions_batch`` takes (doc_id,
        version) — the IN-BAND CDC Delete envelope carrying its GTID
        sequence (statedir.VersionedTombstoneLog): it kills every
        version AT OR BELOW that sequence, so a routinely
        deleted-then-recreated row (the reference's mysql datasource
        emits Delete then Insert) comes back to life when its
        re-insert arrives with a higher sequence, while all killed
        versions stay dead forever (the kill set per doc is a
        monotonically-growing version prefix, which is what keeps
        fold-time erasure read-equivalent).

    State:

        <root>/docs/      (doc_id, version, dl)            ledger
        <root>/latest/    (doc_id, version, dl)            materialized
                          latest-live tier (folds reduce to the per-doc
                          version-max and drop tombstoned docs)
        <root>/postings/  (doc_id, version, word, tf, dl)  index
        <root>/tombstones/ (doc_id)
        <root>/vtombstones/ (doc_id, dead_version)

    Corpus stats (N, L) cannot be per-batch integer partials here: a
    new version REPLACES its predecessor's dl, and with out-of-order
    arrival a batch cannot know locally whether its rows are latest.
    They are computed at read from the latest-live reduction — but over
    the FOLD-MATERIALIZED latest/ tier plus its un-folded tail
    (O(live + recent) rows), not the full version history: each fold of
    latest/ collapses the folded subset to its per-doc version-max,
    which is exact under the union-then-reduce read rule because
    per-doc version-argmax is an idempotent commutative monoid and
    versions are monotone (docs/ keeps the complete ledger — admission
    never consults latest/). That closes the round-12 design note: the
    probe-time reduction price of update semantics is now O(recent),
    paid per probe, never per trigger. When the docs/ ledger's parquet
    footers prove that every admitted row carries one version (an
    insert-only feed), each doc has one image and the probes read the
    live rows directly: no reduction, no version lookup.

    Scale shape per trigger (the hot path): tokenize + per-doc tf is a
    narrow map over the micro-batch, and the redelivery anti-join feeds
    only the ledger's (doc_id, version) columns. ``bucketed=True`` folds
    the ledger into a (doc_id, version)-bucketed snapshot, so the
    anti-join (whose keys are exactly the bucket columns) keeps the
    corpus-sized side Exchange-free past broadcast size
    (statedir.state_relations; plan-asserted in
    tests/test_versioned_retrieval.py).

    Equality contract: after any drain — any interleaving of upserts,
    updates, deletes, replays, restarts, folds, out-of-order and
    redelivered versions — ``bm25_topk`` is bit-equal to batch
    ``text.bm25_topk`` over the latest live image of every admitted
    doc. Shared scoring body (text.bm25_topk_from_postings), so the
    equality is by construction once the latest-live reduction is
    exact. q138's batch plan over an interleaved insert/update/delete
    sequence is oracled against q89's SQL over the compacted latest
    images, and tests/test_sink_equals_query.py drains this sink with
    the same sequence and asserts the equality.

    Reference anchor: the coordinator's process-then-checkpoint loop
    (stream_cdc/coordinator.py:110-159) carrying mysql.py's Update
    envelopes.
    """

    _HINT = (
        "Postings are not comparable across tokenizers, scoring algebras "
        "or row layouts — a probe would silently mis-score. Rebuild by "
        "replaying the corpus into a fresh state dir (also the only way "
        "forward for a root written by the removed insert-only "
        "retrieval sink, a scheme without '+versioned-latest')."
    )

    def __init__(
        self,
        state_dir: str,
        id_col: str = "doc_id",
        version_col: str = "version",
        text_col: str = "text",
        compact_every: int = 16,
        major_every: int = 0,
        commit_files: int = 1,
        bucketed: bool = False,
        num_buckets: int = 32,
        broadcast_max_ids: int = 4_000_000,
        extra_tombstones_roots: tuple[str, ...] = (),
        fs: statedir.LocalFS | None = None,
    ):
        self.state_dir = state_dir
        self.fs = fs
        self._tomb = statedir.TombstoneLog(
            os.path.join(state_dir, "tombstones"),
            store_col="doc_id",
            source_col=id_col,
            compact_every=compact_every,
            major_every=major_every,
            commit_files=commit_files,
            # tombstones arriving over OTHER independently-checkpointed
            # channels (the composed cdc_full pipeline's out-of-band
            # deletion feed) — read-unioned, never written here
            extra_read_roots=extra_tombstones_roots,
            fs=fs,
        )
        self.tombstones_dir = self._tomb.root
        # in-band versioned deletes: (doc_id, version) rows killing the
        # version prefix <= the delete's CDC sequence (class doc)
        self._vtomb = statedir.VersionedTombstoneLog(
            os.path.join(state_dir, "vtombstones"),
            store_col="doc_id",
            source_col=id_col,
            version_col=version_col,
            compact_every=compact_every,
            major_every=major_every,
            commit_files=commit_files,
            fs=fs,
        )
        self.vtombstones_dir = self._vtomb.root
        self.id_col = id_col
        self.version_col = version_col
        self.text_col = text_col
        # cap on the matching-id rows the probe will force-broadcast:
        # a high-frequency query term can match an unbounded share of
        # the corpus, and an unconditional F.broadcast hint bypasses the
        # auto-broadcast threshold — driver OOM at 100 TB. Past the cap
        # the probe falls back to optimizer-chosen (shuffle) joins.
        self.broadcast_max_ids = broadcast_max_ids
        self._stamp = {"retr_scheme": RETR_SCHEME_VERSIONED}
        #  - docs/ is the complete admission ledger (never reduced),
        #    bucketed by the ADMISSION KEY (doc_id, version): the
        #    anti-join's keys are exactly the bucket columns, so the
        #    per-trigger guard reads the snapshot Exchange-free.
        #  - latest/ is the fold-materialized latest-live tier (round
        #    13): same slim rows as docs/, but its folds REDUCE to the
        #    per-doc version-max with both delete channels' exclusions
        #    (dead docs and killed version prefixes leave the tier
        #    physically), so probe-time reductions read this tier + the
        #    un-folded tail (O(live + recent)) instead of the full
        #    version history. Correct under the union-then-reduce read
        #    rule because per-doc version-argmax is an idempotent
        #    commutative monoid, versions are monotone, and versioned
        #    kills are a growing version PREFIX (admission never
        #    consults this tier). Bucketed by doc_id — the probe-side
        #    reduction's grouping key. Cross-state tombstone read ->
        #    reduction-only fallback (the read rule re-applies the
        #    exclusions).
        #  - postings/ folds apply both delete channels (live rows only —
        #    doc-level kills are append-only and versioned kills a
        #    growing prefix, so a fold-dropped row can never become live
        #    again). Superseded-but-live versions are NOT folded away:
        #    the fold would need the cross-state version-max, and unlike
        #    tombstones that rule is cheap to apply at read. Their
        #    physical removal is the offline vacuum/rebuild. Cross-state
        #    tombstone read -> plain word-sort fallback.
        self._tables = statedir.SinkTables(
            state_dir,
            [
                statedir.Table(
                    "docs", RETR_VDOCS_SCHEMA, bucket_cols=("doc_id", "version")
                ),
                statedir.Table(
                    "latest",
                    RETR_VDOCS_SCHEMA,
                    fold=lambda df: self._reduce_latest(
                        self._live(df.sparkSession, df)
                    ),
                    fallback=self._reduce_latest,
                    bucket_cols=("doc_id",),
                ),
                statedir.Table(
                    "postings",
                    RETR_VPOSTINGS_SCHEMA,
                    fold=lambda df: self._live(
                        df.sparkSession, df
                    ).sortWithinPartitions("word"),
                    fallback=lambda df: df.sortWithinPartitions("word"),
                    sort_by="word",
                ),
            ],
            compact_every=compact_every,
            major_every=major_every,
            commit_files=commit_files,
            bucketed=bucketed,
            num_buckets=num_buckets,
            fs=fs,
        )
        self.docs_dir = self._tables.dir("docs")
        self.postings_dir = self._tables.dir("postings")
        self.latest_dir = self._tables.dir("latest")

    # -- state ------------------------------------------------------------
    def _postings(self, spark, batch_id: int) -> DataFrame:
        return self._tables.read_stamped(
            spark, "postings", batch_id, "word", self._stamp,
            "retrieval index scheme", self._HINT,
        )

    def docs(self, spark) -> DataFrame:
        """Every admitted docs/ row — the admission ledger."""
        return self._tables.read(spark, "docs")

    def postings(self, spark) -> DataFrame:
        """Every admitted postings/ row — the inverted index."""
        return self._postings(spark, 1 << 62)

    def tombstones(self, spark) -> DataFrame:
        """Every deleted doc_id, distinct (a doc may be deleted from
        several consumers; readers dedupe, folds dedupe too)."""
        return self._tomb.read(spark)

    def versioned_tombstones(self, spark) -> DataFrame | None:
        """(doc_id, dead_version) kill watermarks of the in-band delete
        channel, or None when none was ever committed."""
        return self._vtomb.read_or_none(spark)

    def _live(self, spark, df: DataFrame) -> DataFrame:
        """``df`` restricted to LIVE rows: doc-level tombstoned ids
        dropped (the permanent out-of-band channel), then versions at
        or below the in-band kill watermark dropped (the CDC Delete
        channel — class doc). ``df`` must carry doc_id and version."""
        return self._vtomb.exclude(
            spark, self._tomb.exclude(spark, df), version_col="version"
        )

    def _latest_source(self, spark) -> DataFrame:
        """The slim (doc_id, version, dl) relation the version-max read
        rule reduces: the fold-materialized latest/ tier + its un-folded
        tail (O(live + recent) rows — folds already collapsed superseded
        history). Rows here may still contain superseded versions (the
        tail) and tombstoned ids (deletes after the fold) — every reader
        re-applies the reduction and the tombstone exclusion, which is
        what makes the fold-time collapse a pure optimization (per-doc
        version-argmax is an idempotent, commutative monoid)."""
        return self._tables.read(spark, "latest")

    @staticmethod
    def _reduce_latest(df: DataFrame) -> DataFrame:
        """Per-doc version-max over a (doc_id, version, dl) relation —
        the monoid both the latest/ folds and the read rule apply.
        (doc_id, version) is unique by first-wins admission, so max_by
        has no ties to break."""
        return df.groupBy("doc_id").agg(
            F.max("version").alias("version"),
            F.max_by("dl", "version").alias("dl"),
        )

    def _latest_live(self, spark) -> DataFrame:
        """(doc_id, version, dl) of the LATEST version of every LIVE doc
        — the version-max read rule over the materialized tier + tail,
        with both delete channels applied (class doc). Versioned kills
        compose with the tier's fold-time reduction because the kill
        set per doc is a version PREFIX: killing the folded max implies
        killing everything below it, so a reduced row is excluded iff
        all its folded-away history was dead too."""
        return self._reduce_latest(
            self._live(spark, self._latest_source(spark))
        )

    def _latest_rows(self, spark, df: DataFrame, one) -> DataFrame:
        """``df`` (doc_id, version, ...) rows of the single version
        ``one``, live. ``one`` is the version every admitted doc carries
        when there is just one (an insert-only feed admits everything
        at version 0), proven from the docs/ ledger's parquet footers
        (``SinkTables.one_value``, no Spark job): a doc then has at most
        one image, so this filter is the whole version-max read rule and
        the probes skip the latest-live reduction and lookup."""
        return self._live(spark, df.filter(F.col("version") == F.lit(one)))

    def corpus_stats(self, spark) -> DataFrame:
        """One-row (n, l) over the latest live images."""
        return self._stats(spark, self._tables.one_value("docs", "version"))

    def _stats(self, spark, one) -> DataFrame:
        latest = (
            self._latest_live(spark)
            if one is None
            else self._latest_rows(spark, self._latest_source(spark), one)
        )
        return latest.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("l"),
        )

    # -- probes -----------------------------------------------------------
    def _latest_matching(
        self, spark, query_terms: list[str], one
    ) -> DataFrame:
        """Term-pruned postings restricted to latest live images: the
        pushed IN filter prunes the postings scan to the matching rows
        (small), the max-version lookup touches only the matching docs'
        ledger rows (semi-join against the broadcast matching-id set),
        and the final (doc_id, version) equi-join broadcasts that
        one-row-per-matching-doc relation — the corpus-sized states
        never ride an Exchange wider than the matching rows.

        The broadcast hints are GUARDED: a high-frequency term can match
        an unbounded share of the corpus, and an unconditional
        ``F.broadcast`` bypasses the auto-broadcast threshold (driver
        OOM). The row count of the pinned matching ids decides — at or
        under ``broadcast_max_ids`` rows the hinted zero-corpus-Exchange
        plan runs; past it the hints are dropped and the optimizer picks
        shuffle joins (correct, and the only safe shape at that
        cardinality). With a single admitted version ``one`` the
        live matching rows of that version are the answer."""
        terms = self.postings(spark).filter(
            F.col("word").isin(list(query_terms))
        )
        if one is not None:
            return self._latest_rows(spark, terms, one)
        matching = self._live(spark, terms)
        # pinned with its row count in one job: the matching ids feed
        # the broadcast-cap decision AND the max-version semi-join —
        # unpinned, each would re-run the pruned postings scan (ADVICE
        # r13). No distinct (a shuffle): the semi-join's broadcast build
        # drops duplicate keys, and the row count (at most one row per
        # matched term of a doc version) bounds the distinct ids
        ids, n_ids = statedir.pinned_with_count(matching.select("doc_id"))
        small = n_ids <= self.broadcast_max_ids
        hint = F.broadcast if small else (lambda df: df)
        mx = (
            # the materialized tier + tail (not the full ledger): the
            # max over per-fold maxima is the max. The lookup needs no
            # tombstone exclusion of its own — doc-tombstoned ids are
            # already absent from `matching`, and versioned kills are a
            # version PREFIX, so whenever any live version exists the
            # unexcluded max IS the live max, and a fully-dead doc's
            # max joins no surviving matching row either way
            self._latest_source(spark)
            .join(hint(ids), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.max("version").alias("version"))
        )
        return matching.join(hint(mx), ["doc_id", "version"])

    def bm25_topk(
        self, spark, query_terms: list[str], top_k: int = 15
    ) -> DataFrame:
        """BM25 top-k over the latest live images: bit-equal to batch
        `text.bm25_topk` over the compacted corpus (one row per live
        doc, its max-version text) — shared scoring body."""
        one = self._tables.one_value("docs", "version")
        return text.bm25_topk_from_postings(
            self._latest_matching(spark, query_terms, one).select(
                "doc_id", "word", "tf", "dl"
            ),
            self._stats(spark, one),
            top_k,
        )

    def tfidf_top_terms(self, spark) -> DataFrame:
        """Per-doc argmax TF-IDF term over the latest live images —
        bit-equal to q54's scorer over the compacted corpus. Unlike the
        term-pruned BM25 probe this scans all postings (so does the
        batch scorer); the latest filter is the (doc_id, version) join
        against the slim latest-live relation."""
        one = self._tables.one_value("docs", "version")
        if one is None:
            latest = self._latest_live(spark).select("doc_id", "version")
            postings = self._live(spark, self.postings(spark)).join(
                latest, ["doc_id", "version"], "left_semi"
            )
        else:
            postings = self._latest_rows(spark, self.postings(spark), one)
        tf = postings.select("doc_id", F.col("word").alias("tok"), "tf")
        n = self._stats(spark, one).select(F.col("n").alias("n_docs"))
        return text.tfidf_top_terms_from_tf(tf, n)

    # -- the delete sink ----------------------------------------------------
    def delete_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink over a (doc_id) deletion stream: doc-level
        tombstones kill EVERY version, present and future — a deleted
        doc stays deleted even when late versions arrive afterwards
        (they admit append-only but can never be read). This is the
        right-to-be-forgotten contract of an OUT-OF-BAND deletion feed;
        in-band CDC Delete envelopes carry a sequence and route through
        ``delete_versions_batch`` instead (class doc)."""
        self._tomb.append(batch_df, batch_id)

    def delete_versions_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink over an in-band (doc_id, version) Delete
        stream — the CDC-native channel (ADVICE r13): the delete's CDC
        sequence kills every version AT OR BELOW it, so a later
        re-insert with a higher sequence is live again while killed
        versions stay dead forever. No cross-state read (replays
        rewrite identical rows); refuses null versions loudly (a null
        watermark kills nothing — the silent-no-op class)."""
        self._vtomb.append(batch_df, batch_id)

    # -- the sink: the statedir.SinkTables protocol ------------------------
    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._postings(spark, batch_id)  # stamp guard
        self._tables.fold(spark, batch_id)
        built = self._build(spark, batch_df, batch_id)
        if built is None:
            return  # empty trigger: commit nothing (missing == empty)
        new_docs, new_postings = built
        # the same slim rows feed the latest/ tier's un-folded tail (a
        # replayed batch overwrites identical rows, and duplicates are
        # harmless to the idempotent reduction either way)
        self._tables.commit(
            batch_id,
            {"docs": new_docs, "latest": new_docs, "postings": new_postings},
        )

    def _ledger_relations(self, spark, batch_id: int) -> list[DataFrame]:
        return self._tables.relations(spark, "docs", batch_id)

    def _build(self, spark, batch_df: DataFrame, batch_id: int):
        doc_id = F.col(self.id_col).cast("long")
        docs = (
            batch_df.select(
                doc_id.alias("doc_id"),
                statedir.key_version(
                    F.col(self.version_col).cast("long"), doc_id
                ).alias("version"),
                F.col(self.text_col).cast("string").alias("text"),
            )
            # deterministic intra-batch tie-break on the FULL admission
            # key: conflicting duplicate (doc_id, version) rows keep the
            # lexicographically-smallest text, so replays admit the same
            # row (the ann_index round-11 rule)
            .groupBy("doc_id", "version")
            .agg(F.min("text").alias("text"))
        )
        # redelivery guard: an admitted (doc_id, version) drops whole; a
        # NEW version of an admitted doc passes — that is the update
        for rel in self._ledger_relations(spark, batch_id):
            docs = docs.join(
                rel.select("doc_id", "version"),
                ["doc_id", "version"],
                "left_anti",
            )
        # pin ONCE at the tokenized batch (both commits derive from it —
        # retrieval _build rule)
        toks = statedir.pinned_or_none(
            docs.select(
                "doc_id", "version", text.tokens(F.col("text")).alias("t")
            )
        )
        if toks is None:
            return None
        new_docs = toks.select(
            "doc_id", "version", F.size("t").cast("bigint").alias("dl")
        )
        new_postings = (
            toks.select(
                "doc_id",
                "version",
                F.size("t").cast("bigint").alias("dl"),
                F.explode("t").alias("w"),
            )
            .groupBy("doc_id", "version", "dl", "w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .select(
                "doc_id",
                "version",
                F.col("w").alias("word", metadata=self._stamp),
                "tf",
                "dl",
            )
        )
        return new_docs, new_postings


def cdc_upserts_and_deletes(
    envelopes: DataFrame,
    id_field: str = "doc_id",
    text_field: str = "text",
    event_type_col: str = "event_type",
    version_col: str = "gtid_seq",
    content_col: str = "content",
) -> tuple[DataFrame, DataFrame]:
    """Split a typed CDC envelope stream (operators/envelope.py shapes:
    event_type in Insert/Update/Delete, a monotone sequence column, a
    struct content image) into the versioned sink's two input streams:
    upserts (doc_id, version, text) from Insert/Update after-images and
    deletes (doc_id, version) from Delete before-images. The version is
    the CDC sequence (GTID order / binlog position — reference
    mysql.py's gtid), which is exactly what makes out-of-order
    redelivery safe: the version-max read rule recovers commit order
    regardless of arrival order — and what gives in-band deletes their
    versioned kill semantics (a Delete kills versions <= its sequence;
    a later re-insert with a higher sequence is live again — the
    reference's routine Delete-then-Insert row re-creation, ADVICE
    r13)."""
    upserts = envelopes.filter(
        F.col(event_type_col).isin("Insert", "Update")
    ).select(
        F.col(f"{content_col}.{id_field}").cast("long").alias("doc_id"),
        F.col(version_col).cast("long").alias("version"),
        F.col(f"{content_col}.{text_field}").cast("string").alias("text"),
    )
    deletes = envelopes.filter(F.col(event_type_col) == "Delete").select(
        F.col(f"{content_col}.{id_field}").cast("long").alias("doc_id"),
        F.col(version_col).cast("long").alias("version"),
    )
    return upserts, deletes
