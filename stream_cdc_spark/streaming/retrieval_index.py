"""Incremental retrieval-index maintenance — the streaming twin of the
batch BM25/TF-IDF scorers (text.bm25_topk / q89, tfidf_top_terms / q54),
on the same batch-versioned statedir state as the LSH, media-dedup and
ANN-index sinks.

A production retrieval corpus arrives continuously, exactly like the
embedding corpus the ANN sink (streaming/ann_index.py) admits — but the
batch scorers recompute every corpus statistic (df, N, L = avgdl·N, idf)
from scratch per query. This sink maintains the classic inverted-index
decomposition as three append-only statedir states:

    <root>/docs/      (doc_id, dl)            admission ledger + lengths
    <root>/postings/  (doc_id, word, tf, dl)  the inverted index,
                                              word-sorted commits
    <root>/stats/     (n, l)                  per-batch integer partials

``dl`` is denormalized into the postings rows (the standard
search-engine layout): a probe then never joins the corpus-sized doc
ledger — term postings carry everything the scorer needs.

Everything the scorers derive is a mergeable integer monoid over the
admitted union, which is what makes the index incrementally
maintainable and fold/replay-proof:

  - tf(doc, word): per-doc counts, computed once at admission (a doc is
    immutable once admitted — first-wins, like the ANN sink's vec_ids);
  - df(word) = COUNT of postings rows per word — count over a union;
  - N, L: per-batch (count, sum-of-dl) partials summed at read — the
    stats/ state is O(#batches) rows (folds re-aggregate to one row), so
    corpus stats never scan the ledger;
  - idf is NOT state: it is re-quantized at read from (df, N) with the
    same FLOOR(1e6·LN(...)) rule as the batch scorer, so admitting one
    batch "updates" every term's idf for free.

Scale shape per trigger: tokenize + per-doc tf is a narrow map over the
micro-batch; the admission anti-join feeds only the column-pruned
doc_id of the ledger (8 bytes per admitted doc, never the postings);
commits sort postings by word so parquet row-group min/max stats
cluster each term's rows. ``bm25_topk(terms)`` pushes ``word IN
(terms)`` into the postings scan (row-group pruning — the inverted-
index lookup, expressed as a predicate), joins the broadcast
re-quantized idf, and aggregates scores; the postings side never rides
an Exchange wider than the matching rows (plan-asserted in
tests/test_retrieval_index_stream.py).

Equality contract (the standard set by tests/test_lsh_snapshot.py):
after any drain — restarts, replays, overlapping redeliveries,
compaction folds crossing the stream — ``bm25_topk`` is bit-equal to
batch ``text.bm25_topk`` and ``tfidf_top_terms`` to q54's scorer, both
over the union of all admitted batches. Both paths share
``text.bm25_topk_from_postings`` / ``text.tfidf_top_terms_from_tf``
verbatim, so equality is by construction once admission is
exactly-once; the q137 registry entry value-checks the fold against the
q89 SQL oracle.

Deletions (the right-to-be-forgotten path a production training-data
corpus needs): ``delete_batch`` is a second foreachBatch sink over a
(doc_id) stream that appends to a fourth state,

    <root>/tombstones/  (doc_id)              deleted ids, append-only

Tombstones affect READS ONLY — the admit path never consults them, so
the two streams share no write-path coupling and every replay/fold/
restart proof of the admit path stands untouched; ``delete_batch``
itself does no cross-state read at all (a replayed delete batch
overwrites its own dir with identical rows). Probes exclude tombstoned
docs with a slim anti-join on the term-pruned matching set and correct
(N, L) by joining tombstones against the ledger — both one-slim-column
relations; at read time the live corpus is always exactly
(admitted minus tombstoned) regardless of how the two streams
interleaved.
A deleted doc_id stays deleted forever: re-ingesting it is blocked by
the first-wins ledger (re-add content under a new doc_id). Physical
removal is EVENTUAL: compaction folds of postings/ apply the
tombstones (live rows only in the folded tier — read-equivalent
because probes already exclude tombstoned docs and tombstones are
append-only; fold cost drops with the delete ratio). The docs/ ledger
and its per-batch stats partials are never tombstone-folded — the
ledger must keep deleted ids so they are never re-admitted, and the
dead (n, l) correction joins tombstones against it at read. Immediate
reclaim + hard erasure of the ledger rows too is the offline
``operators/migration.vacuum_retrieval_index`` rebuild.

The index is self-describing: the postings ``word`` column carries a
scheme stamp (tokenizer + scoring algebra version) as column metadata —
the same guard as the ANN centroid digest. Postings built under a
different tokenizer are not comparable (same text, different tf/dl);
a mismatched stamp refuses all operation BEFORE any statedir
restructuring, with rebuild guidance.

Reference anchor: the coordinator's process-then-checkpoint admission
loop (stream_cdc/coordinator.py:110-159).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from stream_cdc_spark.operators import text
from stream_cdc_spark.streaming import statedir

RETR_DOCS_SCHEMA = "doc_id bigint, dl bigint"
RETR_POSTINGS_SCHEMA = "doc_id bigint, word string, tf bigint, dl bigint"
RETR_STATS_SCHEMA = "n bigint, l bigint"

# Versioned id of the tokenization + scoring algebra the persisted
# postings bake in. A change here (different tokenizer, different idf
# quantization) invalidates every persisted posting, exactly like
# dedup.LSH_SCHEME / ann_index.ANN_SCHEME.
RETR_SCHEME = "tok-whitespace/bm25-k1.2-b0.75-idfq1e6-int/tfidf-ppm/v1"

# rebuild hints of the two retrieval sinks' stamp guards
_RETR_HINT = (
    "Postings are not comparable across tokenizers or scoring algebras — "
    "a probe would silently mis-score. Rebuild by replaying the corpus "
    "through a RetrievalIndexSnapshot over a fresh state dir."
)
_VRETR_HINT = (
    "Versioned and plain postings layouts (and different tokenizers) are "
    "not comparable — a probe would silently mis-score. Rebuild by "
    "replaying the corpus through a matching sink over a fresh state dir."
)


class _RetrievalSink:
    """What both retrieval sinks share: the doc-level tombstone log, the
    scheme-stamped postings/ table and the docs/ admission ledger. A
    subclass declares its stamp guard's rebuild ``_HINT``."""

    _HINT: str

    def _init_tombstones(
        self,
        state_dir: str,
        id_col: str,
        compact_every: int,
        major_every: int,
        commit_files: int,
        fs: statedir.LocalFS | None,
        extra_read_roots: tuple[str, ...] = (),
    ) -> None:
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
            extra_read_roots=extra_read_roots,
            fs=fs,
        )
        self.tombstones_dir = self._tomb.root

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


class RetrievalIndexSnapshot(_RetrievalSink):
    """foreachBatch sink: continuous inverted-index admission over a
    (doc_id, text) document stream, plus the BM25/TF-IDF probes over the
    persisted index. See module doc."""

    _HINT = _RETR_HINT

    def __init__(
        self,
        state_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        compact_every: int = 16,
        major_every: int = 0,
        commit_files: int = 1,
        bucketed: bool = False,
        num_buckets: int = 32,
        fs: statedir.LocalFS | None = None,
    ):
        self._init_tombstones(
            state_dir, id_col, compact_every, major_every, commit_files, fs
        )
        self.id_col = id_col
        self.text_col = text_col
        self._stamp = {"retr_scheme": RETR_SCHEME}
        # bucketed=True folds the docs/ admission ledger into a
        # doc_id-bucketed snapshot table, so the per-trigger redelivery
        # anti-join keeps the ledger side Exchange-free once the corpus
        # outgrows broadcast
        # (statedir.state_relations; plan-asserted) — the 100 TB shape.
        # Off by default: below broadcast size the plain path is the
        # same plan with less metadata. postings re-sort by word on fold
        # (row-preserving) so the probe's pushed IN filter keeps pruning
        # row groups once most of the corpus lives in compacted
        # snapshots, and APPLY the tombstones (live rows only in the
        # folded tier — eventual physical erasure, module doc):
        # read-equivalent because probes already exclude tombstoned
        # docs, admission-safe because the guard reads docs/, which is
        # never tombstone-folded. The tombstone read is cross-state, so
        # the plain word-sort is its read-equivalent fallback. stats
        # re-aggregate to one row (readers sum partials, so the
        # reduction is read-equivalent — the counts/ pattern of
        # lsh_snapshot.py).
        self._tables = statedir.SinkTables(
            state_dir,
            [
                statedir.Table(
                    "docs", RETR_DOCS_SCHEMA, bucket_cols=("doc_id",)
                ),
                statedir.Table(
                    "postings",
                    RETR_POSTINGS_SCHEMA,
                    fold=lambda df: self._tomb.exclude(
                        df.sparkSession, df
                    ).sortWithinPartitions("word"),
                    fallback=lambda df: df.sortWithinPartitions("word"),
                    sort_by="word",
                ),
                statedir.Table(
                    "stats",
                    RETR_STATS_SCHEMA,
                    fold=lambda df: df.agg(
                        F.sum("n").cast("bigint").alias("n"),
                        F.sum("l").cast("bigint").alias("l"),
                    ),
                    files=1,
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
        self.stats_dir = self._tables.dir("stats")

    def corpus_stats(self, spark) -> DataFrame:
        """One-row (n, l) of the LIVE corpus: the admitted totals (summed
        from the O(#batches)-row integer partials) minus the tombstoned
        docs' contribution (tombstones joined against the slim ledger —
        two one/two-column relations; the postings are never touched)."""
        admitted = self._tables.read(spark, "stats").agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n"),
            F.coalesce(F.sum("l"), F.lit(0)).cast("bigint").alias("l"),
        )
        tomb = self._tomb.read_or_none(spark)
        if tomb is None:
            return admitted
        dead = (
            self.docs(spark)
            .join(tomb, "doc_id", "left_semi")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("dn"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("dll"),
            )
        )
        return admitted.crossJoin(F.broadcast(dead)).select(
            (F.col("n") - F.col("dn")).alias("n"),
            (F.col("l") - F.col("dll")).alias("l"),
        )

    # -- probes -----------------------------------------------------------
    def bm25_topk(
        self, spark, query_terms: list[str], top_k: int = 15
    ) -> DataFrame:
        """BM25 top-k over the persisted index: bit-equal to batch
        `text.bm25_topk` over the LIVE corpus (admitted \\ tombstoned) —
        shared scoring body, idf re-quantized here from the maintained
        df/N, tombstoned docs excluded by a slim anti-join on the
        term-pruned matching set."""
        matching = self._tomb.exclude(
            spark,
            self.postings(spark).filter(F.col("word").isin(list(query_terms))),
        )
        return text.bm25_topk_from_postings(
            matching, self.corpus_stats(spark), top_k
        )

    def tfidf_top_terms(self, spark) -> DataFrame:
        """Per-doc argmax TF-IDF term: bit-equal to q54's scorer over the
        LIVE corpus (shared scoring body)."""
        tf = self._tomb.exclude(spark, self.postings(spark)).select(
            "doc_id", F.col("word").alias("tok"), "tf"
        )
        n = self.corpus_stats(spark).select(F.col("n").alias("n_docs"))
        return text.tfidf_top_terms_from_tf(tf, n)

    # -- the delete sink ----------------------------------------------------
    def delete_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink over a (doc_id) deletion stream. Appends the
        batch's distinct ids to tombstones/ — no cross-state read at all,
        so a replayed batch rewrites identical rows and the admit stream's
        exactly-once proofs are untouched. Deleting a never-admitted id is
        a harmless no-op at read time (the ledger join finds nothing); a
        deleted id can never be re-admitted (first-wins ledger)."""
        self._tomb.append(batch_df, batch_id)

    # -- the sink: the statedir.SinkTables protocol ------------------------
    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._postings(spark, batch_id)  # stamp guard
        self._tables.fold(spark, batch_id)
        built = self._build(spark, batch_df, batch_id)
        if built is None:
            return  # empty trigger: commit nothing (missing == empty)
        new_docs, new_postings = built
        self._tables.commit(
            batch_id,
            {
                "docs": new_docs,
                "postings": new_postings,
                "stats": new_docs.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n"),
                    F.sum("dl").cast("bigint").alias("l"),
                ),
            },
        )

    def _build(self, spark, batch_df: DataFrame, batch_id: int):
        """(new_docs, new_postings) for the micro-batch, or None when
        effectively empty. Separated from the commits so plan tests can
        assert scale shape on the exact relations written."""
        docs = (
            batch_df.select(
                F.col(self.id_col).cast("long").alias("doc_id"),
                F.col(self.text_col).cast("string").alias("text"),
            )
            # deterministic intra-batch tie-break: conflicting duplicate
            # ids keep the lexicographically-smallest text, so a replay
            # admits the same row (the ann_index round-11 rule)
            .groupBy("doc_id")
            .agg(F.min("text").alias("text"))
        )
        # redelivery guard: an already-admitted doc_id is dropped whole.
        # Only the ledger's doc_id column feeds the anti-join. With
        # bucketed=True the ledger arrives as separate relations —
        # bucketed snapshot first, plain tail second — and the chained
        # anti-joins keep the snapshot side Exchange-free (anti-joins
        # compose over union; statedir.state_relations doc).
        for rel in self._tables.relations(spark, "docs", batch_id):
            docs = docs.join(rel.select("doc_id"), "doc_id", "left_anti")
        # pin ONCE at the tokenized batch, then probe the pin: all three
        # commits (docs, postings, stats) derive from the pinned relation
        # with cheap maps, so the ledger anti-join + tokenize run once
        # per trigger (pinning the derived relations separately
        # re-executed this pipeline per pin)
        toks = statedir.pinned_or_none(
            docs.select("doc_id", text.tokens(F.col("text")).alias("t"))
        )
        if toks is None:
            return None
        new_docs = toks.select(
            "doc_id", F.size("t").cast("bigint").alias("dl")
        )
        new_postings = (
            toks.select(
                "doc_id",
                F.size("t").cast("bigint").alias("dl"),
                F.explode("t").alias("w"),
            )
            .groupBy("doc_id", "dl", "w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .select(
                "doc_id",
                F.col("w").alias("word", metadata=self._stamp),
                "tf",
                "dl",
            )
        )
        return new_docs, new_postings


def bm25_topk_over_batches(
    doc_batches: list[DataFrame],
    query_terms: list[str],
    top_k: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fold document micro-batches through the incremental admission
    (exactly-once per doc_id, overlapping redeliveries dropped) and score
    the accumulated inverted index — the in-memory harness for the q137
    registry entry and the equality tests. Bit-equal to `text.bm25_topk`
    over the union of the batches (shared scoring body; df/N/L are the
    maintained monoids, idf re-quantized at read).

    The fold is computed as ONE plan with a single pin (guide §1.2-1 /
    §5): first-wins admission per doc_id is, by definition, "the text
    from the EARLIEST batch containing the id, min(text) as the
    intra-batch tie-break" — exactly ``min(struct(batch_index,
    text_is_null, text))`` per doc_id over the tagged union of the
    batches (the null flag keeps min-ignores-null semantics inside the
    winning batch). Tokenized admitted docs are pinned ONCE per drain —
    the corpus stats (N, L over every admitted doc) and the term-pruned
    postings both read the pinned relation — where the former loop paid
    THREE eager localCheckpoints per batch (toks, ledger, postings),
    re-materializing the whole accumulated prefix every time: 9 serial
    driver jobs per 3-batch drain, the measured r14 floor of this bench
    entry. Postings are also term-pruned BEFORE the tf aggregate now
    (filter commutes with the per-(doc, word) count), so only query-term
    rows ride the aggregate instead of the full vocabulary. The statedir
    sink (RetrievalIndexSnapshot) keeps the true per-trigger incremental
    path — a real stream cannot see future batches; this harness is
    handed the full drain up front, so folding it pairwise was pure
    overhead."""
    if not doc_batches:
        raise ValueError("bm25_topk_over_batches: no document batches given")
    tagged = [
        b.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).cast("string").alias("text"),
            F.lit(i).alias("__bi"),
        )
        for i, b in enumerate(doc_batches)
    ]
    allb = tagged[0]
    for t in tagged[1:]:
        allb = allb.unionByName(t)
    docs = (
        allb.groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    F.col("__bi"),
                    F.col("text").isNull().alias("__tnull"),
                    F.col("text"),
                )
            ).alias("__first")
        )
        .select("doc_id", F.col("__first.text").alias("text"))
    )
    # pin ONCE per drain: corpus stats and postings both read it
    toks = docs.select(
        "doc_id", text.tokens(F.col("text")).alias("t")
    ).localCheckpoint(eager=True)
    corpus = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.size("t")).cast("bigint").alias("l"),
    )
    matching = (
        toks.select(
            "doc_id",
            F.size("t").cast("bigint").alias("dl"),
            F.explode("t").alias("word"),
        )
        .filter(F.col("word").isin(list(query_terms)))
        .groupBy("doc_id", "dl", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .select("doc_id", "word", "tf", "dl")
    )
    return text.bm25_topk_from_postings(matching, corpus, top_k)


# ---------------------------------------------------------------------------
# Versioned admission: document UPDATES — the CDC-native widening.
# ---------------------------------------------------------------------------

RETR_VDOCS_SCHEMA = "doc_id bigint, version bigint, dl bigint"
RETR_VPOSTINGS_SCHEMA = (
    "doc_id bigint, version bigint, word string, tf bigint, dl bigint"
)

# The versioned index extends the scheme id: its postings carry a version
# column and its read rule is latest-image, so the two layouts are NOT
# interchangeable — a plain RetrievalIndexSnapshot probing versioned
# state (or vice versa) would silently score every version of every doc.
# The distinct stamp makes the cross-mode read refuse like any drift.
RETR_SCHEME_VERSIONED = RETR_SCHEME + "+versioned-latest/v1"


class VersionedRetrievalIndexSnapshot(_RetrievalSink):
    """foreachBatch sink: continuous inverted-index maintenance over a
    (doc_id, version, text) UPSERT stream — the CDC-native retrieval
    index. The reference's central event is the Update carrying row
    images (stream_cdc/datasources/mysql.py:416-426, update fixtures
    tests/unit/datasources/test_mysql.py:354-359); this sink is what
    those updates feed once the plain first-wins index is not enough:
    re-ingesting a changed document must supersede its prior image, not
    be dropped.

    Design: VERSION-MAX READ RULE over an append-only write path, so
    every replay/fold/restart proof of the insert-only sink carries
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
        free, exactly like the insert-only index's re-quantized idf.
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

    State (no stats/ table — see below):

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
    paid per probe, never per trigger.

    Scale shape per trigger (the hot path): identical to the
    insert-only sink — tokenize + per-doc tf is a narrow map over the
    micro-batch, and the redelivery anti-join feeds only the ledger's
    (doc_id, version) columns. ``bucketed=True`` folds the ledger into
    a (doc_id, version)-bucketed snapshot, so the anti-join (whose keys
    are exactly the bucket columns) keeps the corpus-sized side
    Exchange-free past broadcast size (statedir.state_relations;
    plan-asserted in tests/test_versioned_retrieval.py).

    Equality contract: after any drain — any interleaving of upserts,
    updates, deletes, replays, restarts, folds, out-of-order and
    redelivered versions — ``bm25_topk`` is bit-equal to batch
    ``text.bm25_topk`` over the latest live image of every admitted
    doc. Shared scoring body (text.bm25_topk_from_postings), so the
    equality is by construction once the latest-live reduction is
    exact. The q138 registry entry value-checks an interleaved
    insert/update/delete drain against q89's SQL over the compacted
    latest images — q03-style latest-image compaction composed with
    q89's scorer, per the round-11 verdict.

    Reference anchor: the coordinator's process-then-checkpoint loop
    (stream_cdc/coordinator.py:110-159) carrying mysql.py's Update
    envelopes.
    """

    _HINT = _VRETR_HINT

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
        self._init_tombstones(
            state_dir, id_col, compact_every, major_every, commit_files, fs,
            extra_tombstones_roots,
        )
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
        # cap on the matching-doc count the probe will force-broadcast:
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

    def corpus_stats(self, spark) -> DataFrame:
        """One-row (n, l) over the latest live images."""
        return self._latest_live(spark).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("l"),
        )

    # -- probes -----------------------------------------------------------
    def _latest_matching(self, spark, query_terms: list[str]) -> DataFrame:
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
        OOM). A bounded ``limit(cap+1).count()`` probe decides — at or
        under ``broadcast_max_ids`` matching docs the hinted zero-
        corpus-Exchange plan runs; past it the hints are dropped and the
        optimizer picks shuffle joins (correct, and the only safe shape
        at that cardinality)."""
        matching = self._live(
            spark,
            self.postings(spark).filter(
                F.col("word").isin(list(query_terms))
            ),
        )
        # pinned: the distinct matching-id set (bounded by the term-
        # pruned scan) feeds the broadcast-cap count probe AND the
        # max-version semi-join — unpinned, each would re-run the
        # pruned postings scan and its distinct (ADVICE r13)
        ids = matching.select("doc_id").distinct().localCheckpoint(eager=True)
        cap = self.broadcast_max_ids
        small = ids.limit(cap + 1).count() <= cap
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
        return text.bm25_topk_from_postings(
            self._latest_matching(spark, query_terms).select(
                "doc_id", "word", "tf", "dl"
            ),
            self.corpus_stats(spark),
            top_k,
        )

    def tfidf_top_terms(self, spark) -> DataFrame:
        """Per-doc argmax TF-IDF term over the latest live images —
        bit-equal to q54's scorer over the compacted corpus. Unlike the
        term-pruned BM25 probe this scans all postings (so does the
        batch scorer); the latest filter is the (doc_id, version) join
        against the slim latest-live relation."""
        latest = self._latest_live(spark).select("doc_id", "version")
        tf = (
            self._live(spark, self.postings(spark))
            .join(latest, ["doc_id", "version"], "left_semi")
            .select("doc_id", F.col("word").alias("tok"), "tf")
        )
        n = self.corpus_stats(spark).select(F.col("n").alias("n_docs"))
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
        docs = (
            batch_df.select(
                F.col(self.id_col).cast("long").alias("doc_id"),
                F.col(self.version_col).cast("long").alias("version"),
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


def versioned_bm25_over_events(
    events: list[tuple[str, DataFrame]],
    query_terms: list[str],
    top_k: int = 15,
    id_col: str = "doc_id",
    version_col: str = "version",
    text_col: str = "text",
) -> DataFrame:
    """Fold an interleaved upsert/delete event sequence through the
    versioned admission (exactly-once per (doc_id, version), version-max
    read, doc-level deletes) and score the latest live images — the
    in-memory harness for the q138 registry entry and the equality
    tests. ``events``: [('upsert', df(doc_id, version, text)) |
    ('delete', df(doc_id)) | ('vdelete', df(doc_id, version)), ...]
    applied in order (though the final ranking is order-insensitive by
    construction — that is what the oracle check proves). 'delete' is
    the permanent doc-level channel (kills every version, present and
    future); 'vdelete' is the in-band CDC Delete carrying its sequence
    (kills versions <= it; a later re-insert is live again — ADVICE
    r13). Bit-equal to `text.bm25_topk` over the compacted corpus
    (latest live version per doc).

    Computed as ONE plan with a single pin (guide §1.2-1 / §5, the
    bm25_topk_over_batches collapse widened by versions): first-wins
    admission per (doc_id, version) is ``min(struct(event_index,
    text_is_null, text))`` over the tagged union of the upsert events;
    both delete channels are order-insensitive accumulations (a
    distinct id set, a max-version watermark per id) folding as plain
    aggregates; the version-max read rule is ``max(struct(version,
    text))`` per live id (versions unique per id after admission, so
    the text field never decides). Only the LATEST LIVE image is
    tokenized — postings of a (doc, version) are a pure function of its
    text, so tokenizing superseded/killed versions (as the former
    per-event loop did before filtering them out) was discarded work.
    The tokenized latest-live relation is pinned ONCE per drain (corpus
    stats + term-pruned postings both read it) where the former loop
    paid 11 eager localCheckpoints on the q138 event sequence. The
    statedir sink (VersionedRetrievalIndexSnapshot) keeps the true
    per-trigger incremental path. Precondition (as before): upsert
    versions are non-null — the sinks' VersionedTombstoneLog refuses
    null versions loudly on the real path."""
    if not events:
        raise ValueError("versioned_bm25_over_events: no events given")
    upserts: list[DataFrame] = []
    tomb_ids: list[DataFrame] = []
    vtomb_marks: list[DataFrame] = []
    for ei, (kind, b) in enumerate(events):
        if kind == "delete":
            tomb_ids.append(
                b.select(F.col(id_col).cast("long").alias("doc_id"))
            )
            continue
        if kind == "vdelete":
            vtomb_marks.append(
                b.select(
                    F.col(id_col).cast("long").alias("doc_id"),
                    F.col(version_col).cast("long").alias("dead_version"),
                )
            )
            continue
        if kind != "upsert":
            raise ValueError(f"unknown event kind {kind!r}")
        upserts.append(
            b.select(
                F.col(id_col).cast("long").alias("doc_id"),
                F.col(version_col).cast("long").alias("version"),
                F.col(text_col).cast("string").alias("text"),
                F.lit(ei).alias("__ei"),
            )
        )
    if not upserts:
        raise ValueError("versioned_bm25_over_events: no upsert events")
    allu = upserts[0]
    for u in upserts[1:]:
        allu = allu.unionByName(u)
    members = (
        allu.groupBy("doc_id", "version")
        .agg(
            F.min(
                F.struct(
                    F.col("__ei"),
                    F.col("text").isNull().alias("__tnull"),
                    F.col("text"),
                )
            ).alias("__first")
        )
        .select("doc_id", "version", F.col("__first.text").alias("text"))
    )
    live = members
    if tomb_ids:
        tombs = tomb_ids[0]
        for t in tomb_ids[1:]:
            tombs = tombs.unionByName(t)
        live = live.join(tombs.distinct(), "doc_id", "left_anti")
    if vtomb_marks:
        vt = vtomb_marks[0]
        for v in vtomb_marks[1:]:
            vt = vt.unionByName(v)
        vtombs = vt.groupBy("doc_id").agg(
            F.max("dead_version").alias("dead_version")
        )
        live = (
            live.join(vtombs, "doc_id", "left")
            .filter(
                F.col("dead_version").isNull()
                | (F.col("version") > F.col("dead_version"))
            )
            .drop("dead_version")
        )
    latest = (
        live.groupBy("doc_id")
        .agg(F.max(F.struct("version", "text")).alias("__latest"))
        .select("doc_id", F.col("__latest.text").alias("text"))
    )
    # pin ONCE per drain: corpus stats and postings both read it
    toks = latest.select(
        "doc_id", text.tokens(F.col("text")).alias("t")
    ).localCheckpoint(eager=True)
    corpus = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum(F.size("t")), F.lit(0)).cast("bigint").alias("l"),
    )
    matching = (
        toks.select(
            "doc_id",
            F.size("t").cast("bigint").alias("dl"),
            F.explode("t").alias("word"),
        )
        .filter(F.col("word").isin(list(query_terms)))
        .groupBy("doc_id", "dl", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .select("doc_id", "word", "tf", "dl")
    )
    return text.bm25_topk_from_postings(matching, corpus, top_k)


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
