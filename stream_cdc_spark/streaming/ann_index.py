"""Continuous ANN index maintenance — the streaming twin of the batch
IVF pipeline (similarity.ivf_assign / ivf_ann_topk, q44), on the same
batch-versioned statedir state as the LSH and media dedup sinks.

A production embedding corpus is not built once: vectors arrive
continuously (new documents embedded, changed documents re-embedded)
and the similarity-search index has to admit them without rebuilding.
``VersionedAnnIndexSnapshot`` admits a (vec_id, version, embedding)
UPSERT stream — a re-embedding arrives as a HIGHER version of the same
vec_id and supersedes the prior vector under the version-max read rule.
An insert-only feed is the same stream with every row at version 0
(main.py's ``EMB_VERSION_COL=`` empty): its
admission is first-wins per vec_id, and a re-embedding needs a new
vec_id, a higher version, or a rebuild (operators/migration
.rebuild_ann_index). Every micro-batch is coarse-quantized against the
FIXED centroid set (IVF centroids are trained once, offline — e.g.
operators/clustering's k-means — exactly like a FAISS IVF index) and
appended to the persisted cell-assigned vector table:

    <root>/vectors/   (vec_id, version, vv|code, cell)  admitted
                                           vectors, cell-sorted
    <root>/ledger/    (vec_id, version)    admission ledger — the slim
                                           relation the redelivery guard
                                           reads (bucketable by the key)
    <root>/tombstones/ (vec_id)            doc-level deletes
    <root>/vtombstones/ (vec_id, dead_version)  in-band CDC deletes
    <root>/moments/   (cell, n, s, s2)     per-cell quantization-residual
                                           moments — the centroid-drift
                                           monitor (drift_report): free
                                           at ingest (the argmin's own
                                           dist_bp), folded as a sum
                                           monoid, compared against the
                                           offline train_residual_baseline
                                           to tell an operator WHEN to
                                           rebuild_ann_index. Covers
                                           ingest since the monitor
                                           exists (drift is a property
                                           of the ARRIVING stream).

The ledger/ state closes the sink's round-11 scale boundary
(SCALE_BENCH_r11.md §1): bucketing vectors/ by id would destroy the
cell clustering the probe's pushed IN pruning needs, so admission reads
ONLY the slim ledger (``bucketed=True`` folds it into a snapshot
bucketed by the admission key, and ``statedir.state_relations`` hands
the guard the bucketed snapshot + plain tail as separate relations
whose chained anti-joins keep the corpus-sized side Exchange-free —
plan-asserted in tests/test_ann_index_stream.py), while vectors/
stays cell-sorted for the probes. Because admission never reads
vectors/, compaction folds of vectors/ erase deleted and superseded rows
(class doc); the ledger — which MUST keep every admitted key so it is
never re-admitted — is never erased. The offline rebuild remains the
immediate-erasure path.

Two storage tiers (``storage=``): ``float32`` (default) persists raw
``array<float>`` vectors — 4 B/dim forever; ``sq8`` persists int8 codes
under an offline-trained per-dimension affine quantizer
(``train_sq_ranges`` — the SQ8 tier every vector store ships: faiss
IndexScalarQuantizer / Milvus SQ8), quartering index state and probe
scan bandwidth at 100 TB. Cells are always assigned from the full-
precision vectors, so the two tiers share the exact cell geometry;
probes dequantize in a narrow codegen'd map and run the same scoring
body. The quantizer ranges are stamped (digest) like the centroids —
codes are meaningless under different ranges, so mismatches refuse.

Scale shape per trigger: the centroid rows are held by the sink (a
planning relation — num_cells ~ sqrt(corpus) by the usual IVF sizing),
the assignment argmin is a narrow map over the micro-batch, and the
commit sorts by cell so parquet row-group min/max stats cluster each
cell's rows. `topk` probes the nprobe nearest cells per query over the
persisted index: the probed-cell set (|queries| x nprobe values — a
planning collect) becomes an IN filter on the index scan, so the read
prunes to ~nprobe/num_cells of the corpus and the corpus side never
rides an Exchange (plan-asserted in tests/test_ann_index_stream.py).
The redelivery guard feeds only the column-pruned key columns of the
ledger into the join — never the vectors.

Equality contract (the standard set by tests/test_lsh_snapshot.py):
after any drain — restarts, replays, overlapping redeliveries,
compaction folds crossing the stream — `topk` is bit-equal to the batch
operator `similarity.ivf_ann_topk` over the latest live vector of every
id (the union of all admitted batches for an insert-only feed). Both
paths share `similarity.ivf_query_probes` / `ivf_score_probes`, so the
equality is by construction once admission is exactly-once. The q136
and q139 registry entries are the batch side (compaction.
versioned_latest_live + ivf_ann_topk over their event slices, oracled
against the q44 SQL); tests/test_sink_equals_query.py drains this sink
with the same slices and asserts the equality.

The index is self-describing: the `cell` column carries a parameter
stamp (centroid digest, scheme id, quantization) as column metadata —
the same guard as the LSH index stamp (operators/dedup.py LSH_SCHEME,
round-9 hardening). Admitting or probing with a DIFFERENT centroid set
against persisted cell assignments would silently score the wrong cells
(wrong neighbors, no error anywhere), so a mismatched digest refuses
with migration guidance. statedir compaction re-applies column metadata
through folds, so the stamp survives the leveled tiers.

Reference anchor: the coordinator's process-then-checkpoint admission
loop (stream_cdc/coordinator.py:110-159).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, functions as F

from stream_cdc_spark.operators import similarity
from stream_cdc_spark.streaming import statedir

# admission key (vec_id, version): a re-embedding arrives as a higher
# version of the same vec_id and supersedes the prior vector under the
# version-max read rule, exactly the q138 design on the retrieval index
ANN_VVECTORS_SCHEMA = (
    "vec_id bigint, version bigint, vv array<float>, cell bigint"
)
ANN_VVECTORS_SCHEMA_SQ8 = (
    "vec_id bigint, version bigint, code array<tinyint>, cell bigint"
)
ANN_VLEDGER_SCHEMA = "vec_id bigint, version bigint"

# per-cell quantization-residual moments (the centroid-drift monitor):
# n / sum / sum-of-squares of the assignment's own dist_bp (FLOOR(10000
# * squared distance to the assigned centroid) — already computed by
# the argmin, so the monitor adds no scoring work). DECIMAL(38,0) sums:
# dist_bp^2 summed over 100 TB of rows overflows BIGINT.
ANN_MOMENTS_SCHEMA = "cell bigint, n bigint, s decimal(38,0), s2 decimal(38,0)"

# Versioned id of the assignment/scoring math and the row layout the
# persisted cells bake in: argmin of FLOOR(10000 * squared distance)
# with min-cid ties, cosine scoring, (vec_id, version) rows read under
# the version-max rule. A change here invalidates every persisted
# assignment, exactly like dedup.LSH_SCHEME — every index root stores
# this exact string (tests pin it).
ANN_SCHEME_VERSIONED = (
    "ivf-argmin-sqdist-bp10000-mincid/cosine/v1+versioned-maxread/v1"
)

# Storage-tier ids. float32 stores raw vectors (4 B/dim); sq8 stores
# int8 codes under a per-dimension affine quantizer trained offline
# (1 B/dim — quartering index state), with the (min, max) ranges stamped
# into the index like the centroid digest.
ANN_STORAGE_FLOAT = "float32"
ANN_STORAGE_SQ8 = "sq8-dimrange/v1"


def centroid_digest(centroids: list[tuple[int, list[float]]]) -> str:
    """Deterministic digest of a centroid set. float.hex() is exact (no
    formatting rounding), so two centroid lists digest equal iff they
    are bitwise the same vectors under the same ids."""
    canon = ";".join(
        f"{int(cid)}:" + ",".join(float(x).hex() for x in vec)
        for cid, vec in sorted(centroids, key=lambda t: int(t[0]))
    )
    return hashlib.sha256(canon.encode()).hexdigest()[:16]


def _assignment_rows(
    centroids: list[tuple[int, list[float]]],
) -> list[tuple[int, list[float]]]:
    """The centroid set as ``similarity.ivf_assign_rows`` takes it: each
    vector rounded to float32 (the ``array<float>`` the sinks store and
    probe with) and widened back to float64 — exactly the values a
    collect of ``_centroids_df`` returns, computed once at construction
    so a trigger's assignment plan runs no centroid job."""
    return [
        (cid, np.asarray(v, dtype=np.float32).astype(np.float64).tolist())
        for cid, v in centroids
    ]


def sq_ranges_digest(ranges: list[tuple[float, float]]) -> str:
    """Deterministic digest of the per-dim (min, max) quantizer ranges —
    codes are only comparable under the exact same affine map."""
    canon = ";".join(
        f"{float(lo).hex()},{float(hi).hex()}" for lo, hi in ranges
    )
    return hashlib.sha256(canon.encode()).hexdigest()[:16]


def train_residual_baseline(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell residual distribution of the TRAINING sample under the
    given centroids — (cell, n_train, mean_bp, std_bp) of the
    assignment dist_bp. Recorded once, offline, next to the centroids
    themselves (the same artifact family as train_sq_ranges): it is the
    yardstick ``VersionedAnnIndexSnapshot.drift_report`` compares the live
    corpus against. One distributed agg; num_cells rows."""
    assigned = similarity.ivf_assign(df, centroids, id_col, vec_col)
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        F.avg("dist_bp").alias("mean_bp"),
        F.coalesce(F.stddev_pop("dist_bp"), F.lit(0.0)).alias("std_bp"),
    )


def train_sq_ranges(
    df: DataFrame, vec_col: str = "embedding"
) -> list[tuple[float, float]]:
    """Train per-dimension (min, max) ranges for the SQ8 tier from a
    sample corpus — the offline quantizer-training step, exactly like
    k-means for the centroids. One distributed agg; the collect is d
    rows (a planning collect, never corpus-sized)."""
    v = df.select(F.col(vec_col).cast("array<float>").alias("vv"))
    rows = (
        v.select(F.posexplode("vv").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("i")
        .collect()
    )
    return [(float(r["lo"]), float(r["hi"])) for r in rows]


def _sq8_encode(vec, ranges: list[tuple[float, float]]):
    """code_i = round((x_i - lo_i) / (hi_i - lo_i) * 254) - 127, clamped
    to [-127, 127] (out-of-range arrivals saturate); a degenerate dim
    (hi == lo) encodes -127 (decode returns lo for it regardless of the
    code, so scores are unaffected). Pure narrow expression, whole-stage
    codegen."""
    los = F.array(*[F.lit(float(lo)) for lo, _ in ranges])
    invs = F.array(
        *[
            F.lit(254.0 / (float(hi) - float(lo)) if hi > lo else 0.0)
            for lo, hi in ranges
        ]
    )
    return F.transform(
        vec,
        lambda x, i: F.least(
            F.lit(127),
            F.greatest(
                F.lit(-127),
                (
                    F.round(
                        (x.cast("double") - F.element_at(los, i + 1))
                        * F.element_at(invs, i + 1)
                    )
                    - F.lit(127)
                ).cast("int"),
            ),
        ).cast("tinyint"),
    )


def _sq8_decode(code, ranges: list[tuple[float, float]]):
    """x̂_i = lo_i + (code_i + 127) * (hi_i - lo_i) / 254 — the affine
    inverse, again a pure narrow expression."""
    los = F.array(*[F.lit(float(lo)) for lo, _ in ranges])
    steps = F.array(
        *[F.lit((float(hi) - float(lo)) / 254.0) for lo, hi in ranges]
    )
    return F.transform(
        code,
        lambda c, i: (
            F.element_at(los, i + 1)
            + (c.cast("double") + F.lit(127.0)) * F.element_at(steps, i + 1)
        ).cast("float"),
    )


class _DriftMonitor:
    """The ANN index's centroid-drift monitor (round-13):
    per-cell quantization-residual moments maintained in a ``moments/``
    statedir (the owning sink commits ``_moments_of(staged)`` per
    trigger and folds with ``_reduce_moments`` — a commutative
    component-wise sum monoid), compared against the offline
    ``train_residual_baseline`` by ``drift_report``. Expects the owning
    sink's ``_tables`` to declare ``_MOMENTS`` as its moments table."""

    @staticmethod
    def _moments_of(raw: DataFrame) -> DataFrame:
        """(cell, n, s, s2) residual partials of an assigned relation —
        the same reduction the moments/ folds apply (a commutative
        monoid: component-wise sums)."""
        d = F.col("dist_bp").cast("decimal(38,0)")
        return raw.groupBy("cell").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(d).cast("decimal(38,0)").alias("s"),
            F.sum(d * d).cast("decimal(38,0)").alias("s2"),
        )

    @staticmethod
    def _reduce_moments(df: DataFrame) -> DataFrame:
        return df.groupBy("cell").agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("s").cast("decimal(38,0)").alias("s"),
            F.sum("s2").cast("decimal(38,0)").alias("s2"),
        )

    def moments(self, spark) -> DataFrame:
        """The accumulated per-cell residual moments (fully reduced)."""
        return self._reduce_moments(self._tables.read(spark, "moments"))

    def drift_report(
        self, spark, baseline: DataFrame, z: float = 3.0, min_n: int = 100
    ) -> DataFrame:
        """The 'when to migrate' signal (round-13): compare the LIVE
        corpus's per-cell mean quantization residual against the
        training-time distribution (``train_residual_baseline``, the
        artifact recorded next to the centroids). A continuously-
        ingested corpus drifts off its offline-trained centroids and
        recall decays silently — a cell whose live mean residual
        exceeds mean_bp + z * std_bp (with at least ``min_n`` live
        admissions) is flagged. A flagged report is the documented
        trigger for operators/migration.rebuild_ann_index with
        re-trained centroids. The moments cover every ADMITTED version
        (drift is a property of the arriving stream — superseded
        re-embeddings still measured what arrived). Returns (cell, n,
        live_mean_bp, mean_bp, std_bp, drifted), num_cells rows."""
        live = self.moments(spark).withColumn(
            "live_mean_bp",
            (F.col("s") / F.col("n")).cast("double"),
        )
        return (
            live.join(
                F.broadcast(
                    baseline.select("cell", "n_train", "mean_bp", "std_bp")
                ),
                "cell",
                "left",
            )
            .withColumn(
                "drifted",
                (F.col("n") >= F.lit(int(min_n)))
                & (
                    F.col("mean_bp").isNull()  # cell unseen in training
                    | (
                        F.col("live_mean_bp")
                        > F.col("mean_bp") + F.lit(float(z)) * F.col("std_bp")
                    )
                ),
            )
            .select(
                "cell", "n", "live_mean_bp", "mean_bp", "std_bp", "drifted"
            )
        )


# the drift monitor's moments table: folds are component-wise sums per
# cell (a commutative monoid — minor/major folds and the read-time
# reduction all compose); each trigger commits num_cells rows as one
# file
_MOMENTS = statedir.Table(
    "moments", ANN_MOMENTS_SCHEMA, fold=_DriftMonitor._reduce_moments, files=1
)


class VersionedAnnIndexSnapshot(_DriftMonitor):
    """foreachBatch sink: UPDATE-capable continuous IVF index over a
    (vec_id, version, embedding) stream, plus the `topk` probe over the
    persisted index — the exact q138 design the versioned retrieval
    index uses (streaming/retrieval_index.py
    VersionedRetrievalIndexSnapshot), applied to embeddings. See module
    doc; an insert-only feed is this stream at version 0.

    ``centroids``: list of (cid, vector) — the offline-trained coarse
    quantizer. Broadcast-small by IVF design; its digest is stamped into
    the persisted index and enforced on every admit/probe.

    A CDC Update event re-embeds a changed document (reference
    stream_cdc/datasources/mysql.py:416-426 emits the full after-image):
    the new vector arrives as a HIGHER VERSION of the same vec_id and
    the old vector must stop matching. Admission is first-wins per
    (vec_id, version) — out-of-order and redelivered versions admit
    exactly-once, writes stay append-only — and probes score only the
    LATEST LIVE vector per id under the version-max read rule:

        <root>/vectors/   (vec_id, version, vv|code, cell)  cell-sorted
        <root>/ledger/    (vec_id, version)  slim admission ledger
                          (bucketed=True folds it by the admission key)
        <root>/tombstones/ (vec_id)  doc-level deletes (delete_batch —
                          the out-of-band right-to-be-forgotten feed):
                          kill EVERY version, current and future (never
                          re-admit is inherited from the ledger keeping
                          all versions; a late higher version of a
                          deleted id admits to the ledger but can never
                          be read)
        <root>/vtombstones/ (vec_id, dead_version)  in-band CDC Delete
                          envelopes (delete_versions_batch — ADVICE
                          r13): a delete carrying its CDC sequence
                          kills versions <= it, so a routinely
                          deleted-then-recreated row comes back to
                          life when its re-insert arrives with a
                          higher sequence, while killed versions stay
                          dead forever (the kill set per id is a
                          growing version prefix — what keeps
                          fold-time erasure read-equivalent)

    The tables are folded ledger, vectors, moments and committed
    vectors, moments, ledger. The ledger commits LAST because it is the
    admission commit point (a redelivery of these rows under a LATER
    batch id anti-joins to empty and writes nothing), so every state
    the batch owns must be durable before the ledger rows are: a crash
    between two commits leaves the earlier tables written, and a
    same-id replay overwrites them identically while the ledger dir is
    still absent (ADVICE r13).

    Probe scale shape (mirrors the versioned retrieval probe): the
    probed-cell set enters the vectors/ scan as a pushed IN filter
    (pruned read), the max-version lookup touches only the PRUNED rows'
    ids (semi-join of the slim ledger against the matching-id set), and
    the final (vec_id, version) equi-join restricts to latest live —
    both small relations broadcast only under a bounded count probe
    (``broadcast_max_ids``; past the cap the optimizer picks shuffle
    joins). The max-version lookup MUST come from the ledger, not the
    pruned scan: a re-embedding can move an id to a DIFFERENT cell, and
    scoring the pruned cells' stale version when the latest lives in an
    unprobed cell would resurrect the old vector. With the ledger lookup
    the stale row fails the version-max join and the id simply does not
    match — exact IVF semantics (the latest vector's cell was not
    probed). When the ledger's parquet footers prove that every row
    carries one version (an insert-only feed), an id has at most one
    admitted row and both the lookup and the folds' ledger read are
    skipped: a row is latest iff it is live (``_latest_rows``).

    Folds erase superseded and tombstoned codes: every vectors/
    compaction keeps only rows that are the latest live version AT FOLD
    TIME — read-equivalent because the ledger (never erased) still
    drives the version-max read, versions are monotone (a superseded
    version can never become latest again: the ledger is append-only
    and deletes are doc-level), and tombstones are append-only. The
    fold reads the tombstone root cross-state, so it carries the plain
    cell-sort as its read-equivalent TOCTOU fallback
    (statedir.maybe_compact_with_fallback).

    Equality contract: after any interleaving of inserts, updates,
    deletes, replays, restarts and folds, `topk` is bit-equal to batch
    `similarity.ivf_ann_topk` over the latest live image of every id
    (q139's batch plan; tests/test_sink_equals_query.py).
    """

    _KEY = ("vec_id", "version")
    _HINT = (
        "Persisted cell assignments are not comparable across centroid "
        "sets, storage tiers or schemes — a probe would silently score "
        "the wrong cells or misread the row shape. Migrate the index with "
        "operators/migration.rebuild_ann_index (new centroids or tier), "
        "or replay the corpus into a fresh state dir (a new scheme). A "
        "root written by the removed insert-only ANN sink (a scheme "
        "without '+versioned-maxread') has no version column and can "
        "only be replayed."
    )

    def __init__(
        self,
        state_dir: str,
        centroids: list[tuple[int, list[float]]],
        id_col: str = "vec_id",
        version_col: str = "version",
        vec_col: str = "embedding",
        quantize_bp: int | None = 10000,
        compact_every: int = 16,
        major_every: int = 0,
        commit_files: int = 1,
        storage: str = "float32",
        sq_ranges: list[tuple[float, float]] | None = None,
        bucketed: bool = False,
        num_buckets: int = 32,
        broadcast_max_ids: int = 4_000_000,
        extra_tombstones_roots: tuple[str, ...] = (),
        fs: statedir.LocalFS | None = None,
    ):
        if not centroids:
            raise ValueError(
                f"{type(self).__name__} needs a non-empty centroid set"
            )
        if storage not in ("float32", "sq8"):
            raise ValueError(
                f"storage must be 'float32' or 'sq8', got {storage!r}"
            )
        if storage == "sq8":
            if not sq_ranges:
                raise ValueError(
                    "sq8 storage needs sq_ranges — the offline-trained "
                    "per-dim (min, max) quantizer (train_sq_ranges)"
                )
            dim = len(centroids[0][1])
            if len(sq_ranges) != dim:
                raise ValueError(
                    f"sq_ranges has {len(sq_ranges)} dims but centroids "
                    f"have {dim}"
                )
        self.centroids = [(int(c), [float(x) for x in v]) for c, v in centroids]
        self._assignment_rows = _assignment_rows(self.centroids)
        self.quantize_bp = quantize_bp
        self.storage = storage
        self.sq_ranges = (
            [(float(lo), float(hi)) for lo, hi in sq_ranges]
            if sq_ranges
            else None
        )
        self._stamp = {
            "ann_scheme": ANN_SCHEME_VERSIONED,
            "ann_centroid_digest": centroid_digest(self.centroids),
            "ann_num_cells": len(self.centroids),
            "ann_quantize_bp": -1 if quantize_bp is None else int(quantize_bp),
            "ann_storage": (
                ANN_STORAGE_SQ8 if storage == "sq8" else ANN_STORAGE_FLOAT
            ),
            "ann_sq_digest": (
                sq_ranges_digest(self.sq_ranges) if self.sq_ranges else "-"
            ),
        }
        self.id_col = id_col
        self.version_col = version_col
        self.vec_col = vec_col
        # cap on the pruned-id rows the probe will force-broadcast —
        # same guard as the versioned retrieval probe (a hot probed cell
        # can hold an unbounded corpus share; an unconditional hint
        # bypasses the auto-broadcast threshold)
        self.broadcast_max_ids = broadcast_max_ids
        self.state_dir = state_dir
        self.fs = fs
        self._tomb = statedir.TombstoneLog(
            os.path.join(state_dir, "tombstones"),
            store_col="vec_id",
            source_col=id_col,
            compact_every=compact_every,
            major_every=major_every,
            commit_files=commit_files,
            # read-unioned second-channel tombstones (cdc_full's
            # out-of-band deletion feed) — never written here
            extra_read_roots=extra_tombstones_roots,
            fs=fs,
        )
        self.tombstones_dir = self._tomb.root
        # in-band versioned deletes: (vec_id, version) rows killing the
        # version prefix <= the delete's CDC sequence (class doc)
        self._vtomb = statedir.VersionedTombstoneLog(
            os.path.join(state_dir, "vtombstones"),
            store_col="vec_id",
            source_col=id_col,
            version_col=version_col,
            compact_every=compact_every,
            major_every=major_every,
            commit_files=commit_files,
            fs=fs,
        )
        self.vtombstones_dir = self._vtomb.root
        self._schema = (
            ANN_VVECTORS_SCHEMA_SQ8 if storage == "sq8" else ANN_VVECTORS_SCHEMA
        )
        # The ledger is bucketed by the ADMISSION KEY so the redelivery
        # anti-join reads the snapshot side Exchange-free at corpus
        # scale. vectors/ folds keep only rows that are the latest live
        # version at fold time — every fold erases superseded
        # re-embeddings and tombstoned ids physically (read-equivalent:
        # the ledger still drives the version-max read and versions are
        # monotone, class doc); the fold reads the tombstone roots
        # cross-state, so the plain cell-sort is its read-equivalent
        # fallback. Both re-sort by cell (row-preserving): batch commits
        # are cell-sorted, and without this a fold would interleave
        # cells across its output row groups — the probe's pushed IN
        # filter would stop pruning exactly when most of the corpus
        # lives in compacted snapshots. The moments measure every
        # ADMITTED version.
        self._tables = statedir.SinkTables(
            state_dir,
            [
                statedir.Table(
                    "ledger", ANN_VLEDGER_SCHEMA, bucket_cols=self._KEY
                ),
                statedir.Table(
                    "vectors",
                    self._schema,
                    fold=lambda df: self._latest_rows(
                        df.sparkSession, df
                    ).sortWithinPartitions("cell"),
                    fallback=lambda df: df.sortWithinPartitions("cell"),
                    sort_by="cell",
                ),
                _MOMENTS,
            ],
            compact_every=compact_every,
            major_every=major_every,
            commit_files=commit_files,
            bucketed=bucketed,
            num_buckets=num_buckets,
            fs=fs,
        )
        self.vectors_dir = self._tables.dir("vectors")
        self.ledger_dir = self._tables.dir("ledger")
        self.moments_dir = self._tables.dir("moments")

    # -- state ------------------------------------------------------------
    def _centroids_df(self, spark) -> DataFrame:
        return spark.createDataFrame(
            self.centroids, "cid bigint, cv array<float>"
        )

    def _state(self, spark, batch_id: int) -> DataFrame:
        return self._tables.read_stamped(
            spark, "vectors", batch_id, "cell", self._stamp,
            "ANN index parameter", self._HINT,
        )

    def vectors(self, spark) -> DataFrame:
        """Every admitted row as stored — (vec_id, version, vv, cell) on
        the float32 tier, code instead of vv on the sq8 tier.
        Tombstoned and superseded rows persist in the un-folded tail
        until a compaction fold erases them (probes never read them
        either way)."""
        return self._state(spark, 1 << 62)

    def ledger(self, spark) -> DataFrame:
        """Every admitted admission key (vec_id, version) — the slim
        ledger the redelivery guard and the version-max read rule read.
        Never erased: a deleted id must never be re-admitted, so it
        keeps tombstoned ids and is a superset of the post-fold
        vectors/ keys whenever deletions or updates exist."""
        return self._tables.read(spark, "ledger")

    def _ledger_relations(self, spark, batch_id: int) -> list[DataFrame]:
        """The admission ledger visible to ``batch_id``, as the relation
        list the redelivery guard chains anti-joins over
        (``SinkTables.relations``)."""
        return self._tables.relations(spark, "ledger", batch_id)

    def _assign(
        self, vecs: DataFrame, keep_residual: bool = False
    ) -> DataFrame:
        """(vec_id, version, vv) -> the stamped storage relation: cells
        assigned from the FULL-precision vector of THAT version (same
        geometry on both tiers, carried through the per-row argmin, so a
        re-embedding lands in its own correct cell), payload quantized
        only for sq8 storage (1 B/dim on disk). Shared by the
        per-trigger _build and the offline migration publish
        (operators/migration.rebuild_ann_index), so the two paths cannot
        drift. ``keep_residual`` carries dist_bp through for the drift
        monitor's partials (the per-trigger _build path)."""
        raw = similarity.ivf_assign_rows(
            vecs,
            self._assignment_rows,
            id_col="vec_id",
            vec_col="vv",
            carry_cols=self._KEY[1:],
        )
        payload = (
            _sq8_encode(F.col("vv"), self.sq_ranges).alias("code")
            if self.storage == "sq8"
            else F.col("vv")
        )
        extra = [F.col("dist_bp")] if keep_residual else []
        return raw.select(
            *self._KEY,
            payload,
            F.col("cell").alias("cell", metadata=self._stamp),
            *extra,
        )

    def _float_vectors(self):
        """The stored payload as ``vv`` float vectors: sq8 codes
        dequantize in a narrow codegen'd map — the disk/network read
        (what dominates a 100 TB probe) is a quarter of the float
        tier's."""
        if self.storage == "sq8":
            return _sq8_decode(F.col("code"), self.sq_ranges).alias("vv")
        return F.col("vv")

    def tombstones(self, spark) -> DataFrame:
        """Every deleted vec_id, distinct."""
        return self._tomb.read(spark)

    def versioned_tombstones(self, spark) -> DataFrame | None:
        """(vec_id, dead_version) kill watermarks of the in-band delete
        channel, or None when none was ever committed."""
        return self._vtomb.read_or_none(spark)

    def _live(self, spark, df: DataFrame) -> DataFrame:
        """``df`` restricted to LIVE rows: doc-level tombstoned ids
        dropped, then versions at or below the in-band kill watermark
        dropped. ``df`` must carry vec_id and version."""
        return self._vtomb.exclude(
            spark, self._tomb.exclude(spark, df), version_col="version"
        )

    def _latest_live(self, spark) -> DataFrame:
        """(vec_id, version) of the LATEST version of every LIVE id —
        the version-max read rule over the slim ledger, both delete
        channels applied. The exclusion MUST precede the max: a fully
        version-killed id would otherwise surface its dead max, and a
        stale pruned row could join it (resurrection)."""
        live = self._live(spark, self.ledger(spark))
        return live.groupBy("vec_id").agg(F.max("version").alias("version"))

    def delete_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink over a (vec_id) deletion stream — doc-level
        right-to-be-forgotten: every version of the id, already admitted
        or still in flight, stops matching (the version-max read rule
        excludes tombstoned ids before taking the max). No cross-state
        read (shared statedir.TombstoneLog: reads-only exclusion, replay
        rewrites identical rows). Physical erasure of all versions is
        eventual via the fold (class doc), or immediate via the offline
        `operators/migration.rebuild_ann_index` (which reads only the
        live set, so a same-parameter rebuild IS the vacuum). This is
        the OUT-OF-BAND channel; in-band CDC Delete envelopes carry a
        sequence and route through ``delete_versions_batch``."""
        self._tomb.append(batch_df, batch_id)

    def delete_versions_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink over an in-band (vec_id, version) Delete
        stream — the CDC-native channel (ADVICE r13): the delete's CDC
        sequence kills every version AT OR BELOW it, so a later
        re-insert with a higher sequence is live again while killed
        versions stay dead forever. No cross-state read (replays
        rewrite identical rows); refuses null versions loudly."""
        self._vtomb.append(batch_df, batch_id)

    def topk(
        self, spark, queries: DataFrame, k: int = 5, nprobe: int = 2
    ) -> DataFrame:
        """ANN top-k over the latest live image of every id: bit-equal
        to batch `similarity.ivf_ann_topk` over the compacted corpus
        (max-version vector per live vec_id) on the float32 tier. On
        the sq8 tier the same probe body runs over the dequantized codes
        — deterministic and fold/restart-invariant, equal to the float
        tier's ranking whenever the per-element quantization error (≤
        half a step of (hi-lo)/254) does not reorder neighbors
        (tests/test_ann_index_stream.py measures this on the real
        corpus). Shares similarity.ivf_query_probes / ivf_score_probes
        with the batch probe, so the geometry and ranking cannot drift
        (class doc for the pruning + version-max plan shape)."""
        probes = similarity.ivf_query_probes(
            queries, self._centroids_df(spark), nprobe,
            self.id_col, self.vec_col,
        ).localCheckpoint(eager=True)
        probed = sorted(
            r["cell"] for r in probes.select("cell").distinct().collect()
        )
        state = self._state(spark, 1 << 62)
        pruned = (
            state.filter(F.col("cell").isin(probed))
            if probed
            else state.filter(F.lit(False))
        )
        latest = self._latest_rows(spark, pruned, probe=True)
        return similarity.ivf_score_probes(
            latest.select("vec_id", self._float_vectors(), "cell"),
            probes, k=k, quantize_bp=self.quantize_bp,
        )

    def _latest_rows(
        self, spark, rows: DataFrame, probe: bool = False
    ) -> DataFrame:
        """The stored ``rows`` that are their id's latest live version —
        what a vectors/ fold keeps and a probe scores. When every ledger
        row carries one version (an insert-only feed; proven from the
        ledger's parquet footers, no Spark job) an id has at most one
        admitted row, so the version-max rule is the row-level live
        filter and the ledger is never read. Otherwise the rows join the
        version-max of the live ledger: the whole of it for a fold, and
        for a ``probe`` only the pruned ids' ledger rows, through the
        guarded broadcasts of the class doc."""
        one = self._tables.one_value("ledger", "version")
        if one is not None:
            return self._live(
                spark, rows.filter(F.col("version") == F.lit(one))
            )
        if not probe:
            return rows.join(
                self._latest_live(spark), ["vec_id", "version"], "left_semi"
            )
        # pinned with its row count in one job: the pruned ids feed the
        # broadcast-cap decision AND the max-version semi-join —
        # unpinned, each would re-run the probed-cell parquet scan
        # (ADVICE r13). No distinct (a shuffle): the semi-join's
        # broadcast build drops duplicate keys, and the row count bounds
        # the distinct ids from above
        ids, n_ids = statedir.pinned_with_count(rows.select("vec_id"))
        small = n_ids <= self.broadcast_max_ids
        hint = F.broadcast if small else (lambda df: df)
        mx = (
            # LIVE ledger rows only (both delete channels) BEFORE the
            # max: the pruned scan is not tombstone-excluded, so a
            # fully-killed id surfacing its dead max here would let a
            # stale pruned row join it (resurrection)
            self._live(spark, self.ledger(spark))
            .join(hint(ids), "vec_id", "left_semi")
            .groupBy("vec_id")
            .agg(F.max("version").alias("version"))
        )
        return rows.join(hint(mx), ["vec_id", "version"])

    # -- the sink: the statedir.SinkTables protocol ------------------------
    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._state(spark, batch_id)  # stamp guard
        self._tables.fold(spark, batch_id)
        staged = self._build(spark, batch_df, batch_id)
        if staged is None:
            return  # empty trigger: commit nothing (missing == empty)
        # the drift monitor's per-cell residual partials: the argmin's
        # own dist_bp, reduced to num_cells rows — free at ingest (no
        # extra scoring); the ledger last (class doc)
        self._tables.commit(
            batch_id,
            {
                "vectors": staged.drop("dist_bp"),
                "moments": self._moments_of(staged),
                "ledger": staged.select(*self._KEY),
            },
        )

    def _build(self, spark, batch_df: DataFrame, batch_id: int):
        """The micro-batch's new STORAGE rows plus the residual column
        (vec_id, version, vv|code, cell, dist_bp), or None for an
        effectively-empty batch. The pin happens on this projection — on
        the sq8 tier that is 1 B/dim codes, not the 4 B/dim
        full-precision vectors (pinning raw would quadruple per-trigger
        checkpoint bytes on the tier whose point is quartering state).
        Separated from the commit so plan tests can assert scale shape
        on the exact relation written."""
        vec_id = F.col(self.id_col).cast("long")
        vecs = (
            batch_df.select(
                vec_id.alias("vec_id"),
                statedir.key_version(
                    F.col(self.version_col).cast("long"), vec_id
                ).alias("version"),
                F.col(self.vec_col).cast("array<float>").alias("vv"),
            )
            # deterministic intra-batch tie-break per ADMISSION KEY:
            # conflicting duplicate (id, version) rows keep the
            # lexicographically-smallest vector, so a replay of the same
            # batch admits the same row (dropDuplicates would pick an
            # arbitrary one). Same shuffle shape as dropDuplicates.
            .groupBy("vec_id", "version")
            .agg(F.min("vv").alias("vv"))
        )
        # redelivery guard on the admission key — reads ONLY the slim
        # (vec_id, version) ledger, never the vectors; with
        # bucketed=True it arrives as separate relations — bucketed
        # snapshot first, plain tail second — and the chained anti-joins
        # keep the snapshot side Exchange-free (anti-joins compose over
        # union; statedir.state_relations doc)
        for rel in self._ledger_relations(spark, batch_id):
            vecs = vecs.join(
                rel.select("vec_id", "version"),
                ["vec_id", "version"],
                "left_anti",
            )
        # pin: feeds the emptiness probe and all three commit writes —
        # unpinned, the assignment (and the state anti-join behind it)
        # would recompute per action. Pinned AFTER the storage
        # projection (docstring: code-size blocks on the sq8 tier).
        return statedir.pinned_or_none(self._assign(vecs, keep_residual=True))
