"""Offline index migration — the rebuild path the stamp guards point at.

The persisted indexes are self-describing and refuse mismatched probes
(streaming/ann_index.py centroid digest + storage tier + SQ ranges;
operators/dedup.py LSH parameter/scheme stamp; streaming/
retrieval_index.py tokenizer scheme) with "rebuild" guidance — this
module IS that rebuild. Each operator reads the old state, re-derives
what the new parameters need, and writes a FRESH statedir that passes
the new stamp guard, never mutating the source (an in-place migration
that crashes halfway would leave a state that passes neither stamp).

Migrated state is published as the destination's ``compact=0`` base
snapshot (statedir.publish_snapshot), NOT as batch dirs: a stream
resumed into the destination with a fresh checkpoint starts at
batch_id 0, whose read bound excludes every batch dir — batch-dir
publishes would be invisible to its first-wins guard (everything
re-admitted) and then OVERWRITTEN by its commit, silently destroying
the migration. compact=0 is visible to every reader and is never a
batch-commit target, so the destination is immediately safe to stream
into.

What can be migrated without the original corpus:

  - ANN index → new centroids and/or a different storage tier: the
    admitted vectors are in the state (sq8 codes dequantize through the
    stamped affine map — a rebuild FROM the sq8 tier re-assigns cells
    from the reconstructed vectors, documented loss ≤ half a
    quantization step per element). The rebuild reads only the latest
    LIVE vector of each id, so a same-parameter rebuild is also the
    vacuum that physically erases deleted and superseded vectors.
  - LSH dedup snapshot → a different band count: band keys are hashes
    of signature slices, and the signatures are in the state, so
    re-banding recomputes (band, key) from sigs/ alone.
  - Retrieval index → vacuum: physically drops tombstoned docs (the
    erasure half of the right-to-be-forgotten path — tombstones hide a
    doc from every probe instantly; vacuum reclaims the bytes and hard-
    erases the content) and SUPERSEDED images from postings/ (the bulk
    of an update-heavy corpus — the streaming folds can erase
    tombstoned docs but never superseded versions), while the ledger
    keeps every live (doc_id, version) row so exactly-once admission
    survives the rewrite. An insert-only index (every row at version
    0) has no superseded images, so its vacuum drops tombstoned docs
    only.

What CANNOT: anything that changes the underlying sketch — LSH k /
num_hashes / hash-scheme version, a different ANN assignment scheme, a
different retrieval tokenizer. Those need the original corpus replayed
through a fresh sink; the operators below refuse with that guidance
rather than writing an index that looks valid and scores garbage.

Scale shape: every rebuild is one distributed pass over the source
state; assignment/banding/sorting run through the destination sink's
own helpers (VersionedAnnIndexSnapshot._assign, dedup.band_buckets,
the word/cell sort rules), so equality to a from-scratch build is by
construction and the row-group-clustering invariants the probes rely
on survive the migration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from stream_cdc_spark.streaming import statedir


def _require_empty(snapshotish: str, roots: dict[str, str]) -> None:
    """Refuse a destination with ANY pre-existing state — including
    auxiliary states the publish itself would not touch (stale
    tombstones in dst would silently hide freshly-migrated rows)."""
    dirty = sorted(
        name
        for name, root in roots.items()
        if statedir.state_paths(root, 1 << 62)
    )
    if dirty:
        raise ValueError(
            f"{snapshotish}: destination state dir is not empty "
            f"({', '.join(dirty)} hold state) — sweep it (or pick a "
            f"fresh dir) before migrating"
        )


def _carry_kills(spark, src, dst, dead: DataFrame, id_col: str) -> None:
    """Publish ``src``'s in-band kill watermarks, minus the
    doc-tombstoned ids (hard-erased with their deletion history), as
    ``dst``'s vtombstones/ — both vacuums and the rebuild do. The kept
    ledger rows only stop a redelivered ADMITTED version; a killed
    version src never admitted (a late arrival, or one arriving before
    its delete's sequence was seen) would otherwise admit in dst and be
    served."""
    kills = src.versioned_tombstones(spark)
    if kills is not None:
        kept = statedir.pinned_or_none(kills.join(dead, id_col, "left_anti"))
        if kept is not None:
            statedir.publish_snapshot(
                spark, dst.vtombstones_dir, kept, fs=dst.fs
            )


def _live_ann_selection(spark, src, dst):
    """(live ledger, latest-live vectors) of the versioned ANN index at
    ``src`` — the selection both ANN migrations publish — after
    carrying its kill watermarks into ``dst`` (``_carry_kills``). The
    ledger keeps EVERY (vec_id, version) row of an id that is not
    doc-tombstoned: superseded and version-KILLED rows stay (dropping
    them would let a redelivered old version re-admit). Doc-tombstoned
    ids are hard-erased (erasure removes the deletion history too, by
    design). The vectors are the stored rows (vec_id, version, vv|code,
    cell) of each live id's max live version; a fully-killed id keeps
    ledger rows but no vector, so the version-max probe join finds
    nothing for it."""
    dead = src.tombstones(spark).localCheckpoint(eager=True)
    live_ledger = (
        src.ledger(spark).join(dead, "vec_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    latest = (
        src._live(spark, live_ledger)
        .groupBy("vec_id")
        .agg(F.max("version").alias("version"))
    )
    latest_vectors = src._live(spark, src.vectors(spark)).join(
        latest, ["vec_id", "version"], "left_semi"
    )
    _carry_kills(spark, src, dst, dead, "vec_id")
    return live_ledger, latest_vectors


def rebuild_ann_index(spark, src, dst) -> int:
    """Rebuild the versioned ANN index at ``src`` into the fresh
    statedir of ``dst`` (another VersionedAnnIndexSnapshot — new
    centroids, new storage tier, or both). Returns the number of live
    vectors migrated.

    The live ledger, the latest-live vectors and the surviving kill
    watermarks are selected exactly as ``vacuum_versioned_ann_index``
    selects them (``_live_ann_selection`` — so a same-parameter rebuild
    is also that vacuum), the vectors dequantized
    through the stamped affine map when the source is the sq8 tier, and
    re-assigned through ``dst._assign`` — the destination's own
    per-trigger assignment body, so cells, quantization and the stamp
    are bit-equal to a from-scratch drain of the same vectors (tests
    assert it) and the result passes ``dst``'s stamp guard by
    construction. Published as dst's compact=0 snapshot, cell-sorted
    within every file (module doc)."""
    if src.state_dir == dst.state_dir:
        raise ValueError(
            "rebuild_ann_index: src and dst share a state dir — a "
            "migration writes a FRESH statedir (in-place rebuild would "
            "mix assignments from two quantizers under one stamp)"
        )
    _require_empty(
        "rebuild_ann_index",
        {
            "vectors": dst.vectors_dir,
            "ledger": dst.ledger_dir,
            "tombstones": dst.tombstones_dir,
            "vtombstones": dst.vtombstones_dir,
        },
    )
    live_ledger, latest = _live_ann_selection(spark, src, dst)
    # pinned: feeds the vectors publish and the count (unpinned, the
    # source scan + re-assignment would run twice)
    assigned = dst._assign(
        latest.select("vec_id", "version", src._float_vectors())
    ).localCheckpoint(eager=True)
    statedir.publish_snapshot(
        spark, dst.vectors_dir, assigned.sortWithinPartitions("cell"),
        fs=dst.fs,
    )
    statedir.publish_snapshot(spark, dst.ledger_dir, live_ledger, fs=dst.fs)
    return assigned.count()


def rebuild_lsh_snapshot(spark, src, dst) -> int:
    """Re-band the persisted LSH dedup snapshot at ``src`` (an
    LshDedupSnapshot) into the fresh statedir of ``dst`` under a NEW
    band count. Returns the number of documents migrated.

    Band keys are hashes of signature slices, so a band-count change is
    recomputable from sigs/ alone — no corpus text needed. Everything
    else about the sketch is NOT: ``k``, ``num_hashes`` and the hash
    scheme are baked into the signature values themselves, so a
    mismatch there refuses with replay guidance instead of silently
    producing an index whose probes share no keys with its residents.

    Semantics of the rebuilt state: sigs/ copies over verbatim (same
    sketch); index/ and counts/ are recomputed under ``dst.bands`` with
    ``dst.max_bucket`` admission applied in deterministic doc_id order —
    exactly what a from-scratch one-batch drain of the admitted corpus
    would produce (the equality the tests assert). The matches/ emission
    log is NOT migrated: historical emissions are a consumer-facing
    stream, not index state, and a different banding would have
    surfaced a different candidate set — consumers keep their own copy.
    All three states publish as compact=0 snapshots (module doc)."""
    from stream_cdc_spark.operators.dedup import band_buckets

    if src.state_dir == dst.state_dir:
        raise ValueError(
            "rebuild_lsh_snapshot: src and dst share a state dir — a "
            "migration writes a FRESH statedir"
        )
    for attr in ("k", "num_hashes"):
        if getattr(src, attr) != getattr(dst, attr):
            raise ValueError(
                f"rebuild_lsh_snapshot: {attr} differs (src "
                f"{getattr(src, attr)}, dst {getattr(dst, attr)}) — "
                f"signature values bake in k/num_hashes/scheme, so this "
                f"migration needs the original corpus replayed through a "
                f"fresh LshDedupSnapshot, not a re-banding"
            )
    if dst.num_hashes % dst.bands != 0:
        raise ValueError(
            f"rebuild_lsh_snapshot: num_hashes {dst.num_hashes} not "
            f"divisible by dst bands {dst.bands}"
        )
    _require_empty(
        "rebuild_lsh_snapshot",
        {
            "sigs": dst.sigs_dir,
            "index": dst.index_dir,
            "counts": dst.counts_dir,
            "matches": dst.matches_dir,
        },
    )
    sigs = src.processed(spark).localCheckpoint(eager=True)
    n = sigs.count()
    keyed = band_buckets(
        sigs.withColumnRenamed("doc_id", "id"), dst.num_hashes, dst.bands
    ).withColumnRenamed("id", "doc_id")
    # dst's admission cap, in deterministic doc_id order — identical to
    # what dst._build computes for a single batch holding the corpus
    rn = F.row_number().over(
        Window.partitionBy("band", "key").orderBy("doc_id")
    )
    admitted = (
        keyed.withColumn("rn", rn)
        .filter(F.col("rn") <= dst.max_bucket)
        .select("doc_id", "band", "key")
        .localCheckpoint(eager=True)
    )
    statedir.publish_snapshot(
        spark, dst.sigs_dir, sigs.select("doc_id", "signature"), fs=dst.fs
    )
    statedir.publish_snapshot(spark, dst.index_dir, admitted, fs=dst.fs)
    statedir.publish_snapshot(
        spark,
        dst.counts_dir,
        admitted.groupBy("band", "key").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        ),
        fs=dst.fs,
    )
    return n


def vacuum_versioned_retrieval_index(spark, src, dst) -> int:
    """Physically remove tombstoned documents AND superseded images from
    the versioned retrieval index at ``src`` (a
    VersionedRetrievalIndexSnapshot) by rewriting into the fresh statedir
    of ``dst``. Returns the number of live docs.

    The two erasure classes the streaming folds cannot fully reclaim:
    tombstoned docs fold away eventually (tombstone-applying folds), but
    SUPERSEDED versions — the bulk of an update-heavy corpus — are
    retained forever by the append-only write path (the fold would need
    the cross-state version-max; the read rule hides them instead).
    Vacuum rewrites postings/ as the LATEST LIVE rows only, while docs/
    keeps EVERY live (doc_id, version) ledger row — superseded ledger
    rows are 3 slim ints each and dropping them would re-open admission
    to a redelivered superseded version (harmless to reads under the
    version-max rule, but exactly-once would silently degrade to
    at-least-once on the ledger). Tombstoned docs are erased from both
    (hard erasure: the destination starts with no tombstones, so a
    vacuumed-away doc_id CAN be re-ingested — erasure removes the
    deletion history too, by design). The in-band kill watermarks of
    every other doc carry over (``_carry_kills``).

    Probes against the vacuumed index are bit-equal to the source's
    (tests assert it): _latest_live reduces the same live ledger to the
    same max versions, and the (doc_id, version) probe join finds
    exactly the latest rows, which the vacuum preserved. All states
    publish as compact=0 snapshots, postings word-sorted (module doc).
    """
    from pyspark.sql import functions as F

    if src.state_dir == dst.state_dir:
        raise ValueError(
            "vacuum_versioned_retrieval_index: src and dst share a state "
            "dir — a vacuum writes a FRESH statedir"
        )
    if src._stamp != dst._stamp:
        raise ValueError(
            f"vacuum_versioned_retrieval_index: scheme mismatch (src "
            f"{src._stamp!r}, dst {dst._stamp!r}) — a vacuum preserves "
            f"the index scheme; re-tokenization needs a corpus replay"
        )
    _require_empty(
        "vacuum_versioned_retrieval_index",
        {
            "docs": dst.docs_dir,
            "postings": dst.postings_dir,
            "latest": dst.latest_dir,
            "tombstones": dst.tombstones_dir,
            "vtombstones": dst.vtombstones_dir,
        },
    )
    dead = src.tombstones(spark).localCheckpoint(eager=True)
    # doc-tombstoned ids are hard-erased from every state (re-ingest
    # allowed — deletion history removed by design). Version-KILLED
    # ledger rows (the in-band channel) are KEPT in docs/, so a
    # redelivered killed version still drops at admission; their
    # payload is erased below, and the published kill watermarks keep
    # every killed version dead, admitted or not.
    live_docs = (
        src.docs(spark).join(dead, "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    truly_live = src._live(spark, live_docs).localCheckpoint(eager=True)
    latest = truly_live.groupBy("doc_id").agg(
        F.max("version").alias("version")
    )
    latest_postings = src._live(spark, src.postings(spark)).join(
        latest, ["doc_id", "version"], "left_semi"
    )
    statedir.publish_snapshot(
        spark,
        dst.docs_dir,
        live_docs.select("doc_id", "version", "dl"),
        fs=dst.fs,
    )
    # the materialized latest-live tier (round-13): publish the reduced
    # relation directly so the destination's probes are O(live) from
    # the first read instead of waiting for the seed-on-next-trigger
    statedir.publish_snapshot(
        spark,
        dst.latest_dir,
        dst._reduce_latest(truly_live.select("doc_id", "version", "dl")),
        fs=dst.fs,
    )
    statedir.publish_snapshot(
        spark,
        dst.postings_dir,
        latest_postings.sortWithinPartitions("word"),
        fs=dst.fs,
    )
    _carry_kills(spark, src, dst, dead, "doc_id")
    return latest.count()


def vacuum_versioned_ann_index(spark, src, dst) -> int:
    """Physically remove tombstoned ids AND superseded re-embeddings
    from the versioned ANN index at ``src`` (a VersionedAnnIndexSnapshot)
    by rewriting into the fresh statedir of ``dst``. Returns the number
    of live vectors. The exact design of
    ``vacuum_versioned_retrieval_index`` on the embedding surface:

    vectors/ rewrites as the LATEST LIVE rows only (fold-time erasure
    already trims folded tiers continuously; the vacuum is the
    immediate, complete pass), while ledger/ keeps EVERY live
    (vec_id, version) row — superseded ledger rows are 2 slim ints and
    dropping them would re-open admission to a redelivered superseded
    version (exactly-once would silently degrade to at-least-once).
    Tombstoned ids are erased from both, and the destination starts
    with no tombstones — a vacuumed-away vec_id CAN be re-ingested
    (erasure removes the deletion history too, by design); the in-band
    kill watermarks of every other id carry over. Probes
    against the vacuumed index are bit-equal to the source's (tests
    assert it): the version-max reduction of the same live ledger finds
    exactly the latest rows, which the vacuum preserved. Storage tier,
    stamp and cell-sorted layout carry over unchanged (a vacuum
    preserves the scheme; re-quantization needs rebuild_ann_index)."""
    if src.state_dir == dst.state_dir:
        raise ValueError(
            "vacuum_versioned_ann_index: src and dst share a state dir "
            "— a vacuum writes a FRESH statedir"
        )
    if src._stamp != dst._stamp:
        raise ValueError(
            f"vacuum_versioned_ann_index: scheme mismatch (src "
            f"{src._stamp!r}, dst {dst._stamp!r}) — a vacuum preserves "
            f"centroids, tier and scheme; new centroids or a new tier "
            f"need rebuild_ann_index"
        )
    _require_empty(
        "vacuum_versioned_ann_index",
        {
            "vectors": dst.vectors_dir,
            "ledger": dst.ledger_dir,
            "tombstones": dst.tombstones_dir,
            "vtombstones": dst.vtombstones_dir,
        },
    )
    live_ledger, latest_vectors = _live_ann_selection(spark, src, dst)
    statedir.publish_snapshot(
        spark,
        dst.vectors_dir,
        latest_vectors.sortWithinPartitions("cell"),
        fs=dst.fs,
    )
    statedir.publish_snapshot(
        spark, dst.ledger_dir, live_ledger, fs=dst.fs
    )
    return dst.vectors(spark).count()
