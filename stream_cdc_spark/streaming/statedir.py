"""Batch-versioned parquet state with compaction — bounded-metadata
streaming state without sink transactions.

Every foreachBatch sink under streaming/ persists each of its state
tables as one parquet subdir per micro-batch (``SinkTables`` below runs
the per-trigger protocol over them once, for all sinks):

    <root>/batch=<id>/        output of micro-batch <id> (OVERWRITE of its
                              own subdir, so replay is idempotent)

and read state for batch B as the union of subdirs with id < B — a
replayed batch sees exactly the state it saw the first time. That rule is
exactly-once, but unbounded: a continuous feed accumulates one subdir per
trigger forever, and driver listing + union planning grow linearly with
stream age. The reference's checkpoint state is O(1) forever (one
DynamoDB item — reference: stream_cdc/state/dynamodb.py:76-91); this
module gives the parquet layout the same bounded-metadata property.

Compaction folds the committed prefix into a snapshot dir:

    <root>/compact=<W>/       union of all state visible to batch W
                              (i.e. every batch id < W)
    <root>/compact=<W>.commit the MANIFEST: the commit point

The commit protocol is OBJECT-STORE SAFE — it never renames a directory
(S3/GCS "rename" is copy-then-delete: non-atomic, a torn copy can expose
a partial dir complete with its _SUCCESS marker). Instead:

  1. Spark writes the snapshot data at its FINAL path ``compact=<W>/``
     (partial writes are unreadable by rule — see below);
  2. the writer PUTs a sibling manifest object ``compact=<W>.commit``
     listing the snapshot's data files. A single-object put is atomic on
     every backend (S3 PUT, GCS, HDFS create, POSIX rename of one file)
     — the reference's single-item checkpoint put gives the same
     single-object atomicity point (stream_cdc/state/dynamodb.py:76-91).

One commit rule: a compact dir is COMMITTED iff its manifest exists.
Readers of a committed dir read EXACTLY the files the manifest names,
so stray objects from a torn earlier attempt never leak into a read;
``_SUCCESS`` and every other marker mean nothing. Deletion of a
committed dir removes the manifest FIRST, then the files. Folded dirs
are deleted only after the covering manifest is durable, and only dirs
strictly below a committed cover are ever deleted. Every state a crash
can leave behind:

  state                           read?  next fold (``_reconcile``)
  ------------------------------  -----  -------------------------------
  committed: manifest present     yes    kept (deleted once below a
                                         committed cover)
  torn: dir without manifest      no     deleted; its rows re-fold from
  (crash before the manifest put,        the batch dirs, which stay in
  or mid-delete after it went)           place until a cover is durable
  ``.inprogress`` manifest temp   no     removed
  interrupted delete below the    no     deleted by the stale cleanup
  cover (batch dirs < W, older           (the read rule already skips
  snapshots)                             everything below the cover)

All protocol metadata I/O (listing, manifest puts, deletes) goes
through an injectable ``StateFS``; ``LocalFS`` is the default. A real
object-store deployment subclasses it with client calls — ``put_text``
must be an atomic single-object put, nothing else needs atomicity. The
model test (tests/test_statedir_model.py) injects an S3-semantics fake
(rename forbidden, crash injection between any two metadata mutations)
and checks the read-set invariant at every crash point.

Read rule for batch B (``state_paths``): take the LARGEST committed compact
watermark W <= B (0 if none), then read ``compact=W`` plus every
``batch=i`` with W <= i < B. Invariants:

  * union(read set for B) == union(all committed batch=i, i < B) at every
    point in every crash/replay interleaving — compaction never changes
    what any batch observes, only how many dirs express it;
  * a replayed batch B after a compaction at watermark W <= B reads
    compact=W + batch dirs in [W, B): the same rows it read pre-compaction
    (streaming replays only the last in-flight batch, and compaction at
    the start of batch B folds only ids < B, so W > B never occurs);
  * batch dirs with id < W are invisible even if their deletion was
    interrupted — no double counting.

Compaction itself is replay-idempotent: re-running ``compact(root, B)``
when ``compact=B`` is already committed folds {compact=B} + [B, B) =
itself and is skipped as a no-op (only the stale-dir cleanup reruns); if
the previous attempt crashed before its manifest put, the torn dir is
deleted and the fold re-runs from the same sources.

Scale notes: the fold is a single union-scan -> overwrite (optionally
bucketed — see ``bucket_cols`` — so the compacted snapshot doubles as the
shuffle-free join-side table of tests/test_bucketing.py; a bucketed fold
merges the previous bucketed snapshot per bucket and routes only the
batch tail). There is ONE fold level, the shape of Spark's own state
store (per-batch deltas folded into a snapshot by a maintenance task):
each fold re-reads O(total state), once every ``every`` batches. A
``delta=<lo>-<hi>`` dir, the L1 fold of a removed two-level layout,
holds rows that no batch dir still has, so ``_scan`` refuses it with
``ValueError`` rather than silently dropping them; such a root is
rebuilt by replaying the source into a fresh root. Dir listing is one
fs.listdir per state table per trigger, bounded by ``every`` + 1
entries once compaction is running.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

_LOG = logging.getLogger(__name__)

# held over the bucketed fold's set -> write -> restore of the
# session-global autoBucketedScan conf (``compact``): sinks that commit
# concurrently (cdc_full's two legs) would otherwise interleave the
# steps, one leg restoring "true" while the other's write still plans
_AUTO_BUCKETED_SCAN_LOCK = threading.Lock()

_BATCH_RE = re.compile(r"^batch=(\d+)$")
_COMPACT_RE = re.compile(r"^compact=(\d+)$")
_MANIFEST_SUFFIX = ".commit"
# a micro-batch is small by construction, so each table's commit is one
# file: more files per trigger balloon the long-horizon file count and
# write latency
_COMMIT_FILES = 1


class LocalFS:
    """Protocol-metadata filesystem: every list/exists/put/delete the
    commit protocol performs goes through this interface so an object
    store (or the model test's S3-semantics fake) can be injected. The
    ONLY operation the protocol requires to be atomic is ``put_text``
    (single-object put — atomic on S3/GCS/HDFS/POSIX alike); there is
    deliberately no directory-rename operation. Spark's own data writes
    do not pass through here — they are guarded by the manifest, not by
    any filesystem property."""

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path) if os.path.isdir(path) else []

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_files(self, path: str) -> list[str]:
        """Names of regular files directly inside ``path``."""
        return sorted(
            n
            for n in self.listdir(path)
            if os.path.isfile(os.path.join(path, n))
        )

    def put_text(self, path: str, text: str) -> None:
        """ATOMIC single-object put — the commit primitive."""
        tmp = f"{path}.inprogress"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # single-FILE replace: POSIX-atomic

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def remove(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


_DEFAULT_FS = LocalFS()


def _table_location(path: str) -> str:
    """The location a catalog-table write/read must use for ``path``:
    RELATIVE local paths resolve against the process cwd — exactly what
    plain ``df.write.parquet(path)`` does — because Spark resolves a
    relative ``option("path", ...)``/LOCATION against the WAREHOUSE dir
    instead, silently splitting the statedir in two (a bucketed fold of
    a relative-rooted state wrote its data under spark-warehouse/ while
    the manifest publish looked at cwd). URIs
    with a scheme pass through untouched — including the single-slash
    Hadoop spellings (file:/x, hdfs:/x), which os.path.abspath would
    mangle into a cwd-relative 'file:' directory."""
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:/", path):
        return path
    return os.path.abspath(path)


def _manifest_path(dir_path: str) -> str:
    return dir_path + _MANIFEST_SUFFIX


def _is_valid(fs: LocalFS, dir_path: str) -> bool:
    """The one commit rule: a compact dir is committed iff its manifest
    exists (module doc)."""
    return fs.exists(_manifest_path(dir_path))


def _publish_manifest(
    fs: LocalFS, dest: str, bucket_spec: dict | None = None
) -> None:
    """Commit ``dest``: atomically put the manifest naming its data
    files. The manifest put is the commit point. ``bucket_spec``
    ({'cols': [...], 'n': int}) records that the dir was written as a
    Spark-bucketed layout, so the next fold can read it one-partition-
    per-bucket and merge without re-shuffling it."""
    files = [
        n
        for n in fs.list_files(dest)
        if not n.startswith(("_", "."))
    ]
    payload: dict = {"files": files, "n_files": len(files)}
    if bucket_spec:
        payload["bucket"] = bucket_spec
    fs.put_text(_manifest_path(dest), json.dumps(payload))


def _manifest_info(fs: LocalFS, dir_path: str) -> dict | None:
    mp = _manifest_path(dir_path)
    if not fs.exists(mp):
        return None
    return json.loads(fs.read_text(mp))


def _data_paths(fs: LocalFS, dir_path: str) -> list[str]:
    """What a reader reads for a committed compact dir: the EXACT
    files its manifest names (stray objects from torn overwrite
    attempts never leak into a read)."""
    names = json.loads(fs.read_text(_manifest_path(dir_path)))["files"]
    return [os.path.join(dir_path, n) for n in names]


def _delete_published(fs: LocalFS, dir_path: str) -> None:
    """Manifest first, then the files: a crash mid-delete leaves either
    a still-committed dir or a torn one, never a manifest naming
    missing files."""
    fs.remove(_manifest_path(dir_path))
    fs.rmtree(dir_path)


def batch_dir(root: str, batch_id: int) -> str:
    return os.path.join(root, f"batch={batch_id:09d}")


def _scan(
    root: str, fs: LocalFS | None = None
) -> tuple[dict[int, str], dict[int, str]]:
    """(compacts, batches) as {id: path}. Only committed compact dirs
    count — a manifestless dir is a torn publish and must never be read.
    Refuses a root holding any ``delta=`` entry (module doc)."""
    fs = fs or _DEFAULT_FS
    compacts: dict[int, str] = {}
    batches: dict[int, str] = {}
    if not fs.isdir(root):
        return compacts, batches
    for name in fs.listdir(root):
        path = os.path.join(root, name)
        m = _BATCH_RE.match(name)
        if m:
            batches[int(m.group(1))] = path
            continue
        m = _COMPACT_RE.match(name)
        if m:
            if _is_valid(fs, path):
                compacts[int(m.group(1))] = path
            continue
        if name.startswith("delta="):
            raise ValueError(
                f"state root {root!r} holds {name!r}, a delta of the removed "
                f"leveled compaction tier whose rows may be in no batch dir; "
                f"such state is not read — replay the source into a fresh "
                f"root"
            )
    return compacts, batches


def _cover(compacts: dict[int, str], batch_id: int) -> tuple[str | None, int]:
    """(snapshot path or None, cover W) for ``batch_id``: the largest
    committed compact watermark W <= batch_id (0 if none) — batch dirs
    with id < W are invisible."""
    eligible = [w for w in compacts if w <= batch_id]
    if not eligible:
        return None, 0
    w = max(eligible)
    return compacts[w], w


def state_paths(
    root: str, batch_id: int, fs: LocalFS | None = None
) -> list[str]:
    """The read set for batch ``batch_id``: the best compacted snapshot
    (expanded to its manifest's exact file list), then the batch dirs
    above the cover (module doc)."""
    fs = fs or _DEFAULT_FS
    compacts, batches = _scan(root, fs)
    snap, cover = _cover(compacts, batch_id)
    out = _data_paths(fs, snap) if snap else []
    out.extend(p for i, p in sorted(batches.items()) if cover <= i < batch_id)
    return out


def read_state(
    spark: SparkSession,
    root: str,
    schema: str,
    batch_id: int,
    fs: LocalFS | None = None,
) -> DataFrame:
    """State visible to ``batch_id``. Reads WITHOUT a forced schema when
    files exist so column metadata written by the sink (e.g. the LSH
    parameter stamp of dedup.minhash_band_index) survives the round-trip
    — forcing the schema strips metadata, which silently disarmed the
    index-mismatch guard on the restart path. ``schema`` is only the
    empty-state fallback."""
    paths = state_paths(root, batch_id, fs)
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*paths)


def compact(
    spark: SparkSession,
    root: str,
    schema: str,
    batch_id: int,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    bucket_cols: list[str] | None = None,
    num_buckets: int = 32,
    table_name: str | None = None,
    fs: LocalFS | None = None,
) -> bool:
    """Fold the state visible to ``batch_id`` into ``compact=<batch_id>``
    and delete the folded dirs. Returns True if a fold was published.

    ``transform`` lets append-only increment logs shrink on fold (e.g.
    per-bucket count increments -> groupBy().sum()); it must be a
    read-equivalent reduction (readers already aggregate increments).

    ``bucket_cols`` writes the snapshot as a Spark-bucketed table (via an
    external saveAsTable at the compact path, registered as
    ``table_name``) so downstream joins on those columns read it without
    a snapshot-side Exchange (tests/test_bucketing.py). The bucketed
    publish commits through the same manifest protocol (saveAsTable
    writes the final location directly; the manifest put makes it
    visible). When the previous snapshot was ITSELF written bucketed
    with the same spec (its manifest records it), the fold reads it
    one-partition-per-bucket and merges per bucket: no Exchange over
    total state, output file count bounded by 2 * num_buckets (the
    snapshot's buckets plus the bucket-routed batch tail). Only the tail
    ever pays a (tiny) bucket routing; total state is read and rewritten
    in place. Size ``num_buckets`` to the target fold parallelism — the
    per-bucket merge runs one task per bucket."""
    fs = fs or _DEFAULT_FS
    _reconcile(root, fs)
    compacts, batches = _scan(root, fs)
    _, cover = _cover(compacts, batch_id)
    # Note: a replay after a COMPLETED publish needs no special case —
    # compact=batch_id being committed makes cover == batch_id, the fold set
    # empty, and the folded dirs fall into the stale cleanup below.
    published = any(cover <= i < batch_id for i in batches)
    if published:
        dest = os.path.join(root, f"compact={batch_id:09d}")
        if bucket_cols:
            df, tmp_tables = _fold_input(
                spark, root, schema, batch_id, fs,
                list(bucket_cols), num_buckets,
            )
            if transform is not None:
                df = transform(df)
            name = table_name or _default_table_name(root)
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            fs.rmtree(dest)
            auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
            # force one-partition-per-bucket scans of the snapshot for the
            # duration of the fold job, so each write task holds exactly
            # one bucket and emits exactly one file — the per-bucket
            # merge (auto mode would fall back to size splits here
            # because the write alone doesn't "benefit" from bucketing)
            with _AUTO_BUCKETED_SCAN_LOCK:
                prev_auto = spark.conf.get(auto_key, "true")
                spark.conf.set(auto_key, "false")
                try:
                    (
                        df.write.mode("overwrite")
                        .format("parquet")
                        .bucketBy(num_buckets, *bucket_cols)
                        .sortBy(*bucket_cols)
                        .option("path", _table_location(dest))
                        .saveAsTable(name)
                    )
                finally:
                    spark.conf.set(auto_key, prev_auto)
                    for t in tmp_tables:
                        spark.sql(f"DROP TABLE IF EXISTS {t}")
            _publish_manifest(
                fs, dest, {"cols": list(bucket_cols), "n": num_buckets}
            )
        else:
            df = read_state(spark, root, schema, batch_id, fs)
            if transform is not None:
                df = transform(df)
            # data lands at its FINAL path; unreadable until the
            # manifest commits it (never a dir rename — module doc)
            df.write.mode("overwrite").parquet(dest)
            _publish_manifest(fs, dest)
        cover = batch_id
    for i, p in batches.items():
        if i < cover:
            fs.rmtree(p)
    for i, p in compacts.items():
        if i < cover:
            _delete_published(fs, p)
    return published


def _bucket_aligned(
    fs: LocalFS, dir_path: str, bucket_cols: list[str], num_buckets: int
) -> bool:
    """True iff ``dir_path``'s manifest records exactly this bucket spec
    AND the dir's data files are exactly the manifest's (a stray file
    from a torn earlier overwrite would leak into a table-location scan,
    so such a dir falls back to the manifest path read)."""
    info = _manifest_info(fs, dir_path)
    if not info:
        return False
    b = info.get("bucket")
    if not b or b.get("cols") != bucket_cols or b.get("n") != num_buckets:
        return False
    actual = [n for n in fs.list_files(dir_path) if not n.startswith(("_", "."))]
    return sorted(actual) == sorted(info["files"])


def _fold_input(
    spark: SparkSession,
    root: str,
    schema: str,
    batch_id: int,
    fs: LocalFS,
    bucket_cols: list[str],
    num_buckets: int,
) -> tuple[DataFrame, list[str]]:
    """The fold's read set (identical rows to ``read_state``), with a
    bucket-aligned snapshot read as a registered bucketed table so the
    fold scans it one-partition-per-bucket and the bucketed rewrite
    merges per bucket with NO Exchange over total state; only the
    unbucketed batch tail (and an unaligned snapshot) is path-read and
    pays bucket routing. Returns (df, temp table names to drop after the
    fold job)."""
    compacts, batches = _scan(root, fs)
    snap, cover = _cover(compacts, batch_id)
    parts: list[DataFrame] = []
    plain_paths: list[str] = []
    tmp_tables: list[str] = []
    if snap and _bucket_aligned(fs, snap, bucket_cols, num_buckets):
        name = _default_table_name(root) + "_fold_" + re.sub(
            r"[^A-Za-z0-9_]", "_", os.path.basename(snap)
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        cols = ", ".join(bucket_cols)
        spark.sql(
            f"CREATE TABLE {name} ({schema}) USING PARQUET "
            f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
            f"INTO {num_buckets} BUCKETS "
            f"LOCATION '{_table_location(snap)}'"
        )
        tmp_tables.append(name)
        parts.append(spark.table(name))
    elif snap:
        plain_paths.extend(_data_paths(fs, snap))
    plain_paths.extend(
        p for i, p in sorted(batches.items()) if cover <= i < batch_id
    )
    if plain_paths:
        tail = spark.read.parquet(*plain_paths)
        # route the unbucketed tail into bucket-aligned partitions
        # BEFORE the union (repartition hashing == bucketBy hashing, so
        # partition index == bucket id): each tail task then writes one
        # file, not one file per bucket it happens to hold. Without
        # this, N tail partitions sprayed up to N*num_buckets files
        # into the folded snapshot — bounded, but ~3x the necessary
        # count, and every folded file is re-opened
        # by every subsequent trigger's state read. The shuffle moves
        # only the O(recent) tail, never total state.
        parts.append(tail.repartition(num_buckets, *bucket_cols))
    if not parts:
        return spark.createDataFrame([], schema), tmp_tables
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    # a catalog table registered from a DDL column list STRIPS field
    # metadata, and sink stamps ride it (e.g. the LSH parameter stamp
    # minhash_band_index writes and incremental_verified_dedup's drift
    # guard reads — round-5 advice); re-attach it from a footer read of
    # the same files so the folded snapshot keeps the stamp
    paths = state_paths(root, batch_id, fs)
    if paths:
        for f in spark.read.parquet(*paths).schema.fields:
            if f.metadata:
                df = df.withMetadata(f.name, f.metadata)
    return df, tmp_tables


def _reconcile(root: str, fs: LocalFS) -> None:
    """Pre-fold housekeeping (writer-only — readers never mutate):
    remove ``.inprogress`` manifest temps (puts that never reached their
    replace) and delete every manifestless compact dir — a torn publish,
    never read (module doc's recovery table)."""
    for n in fs.listdir(root) if fs.isdir(root) else []:
        path = os.path.join(root, n)
        if n.endswith(".inprogress"):
            fs.remove(path)
        elif _COMPACT_RE.match(n) and not _is_valid(fs, path):
            fs.rmtree(path)


def maybe_compact(
    spark: SparkSession,
    root: str,
    schema: str,
    batch_id: int,
    every: int,
    fs: LocalFS | None = None,
    **kwargs,
) -> bool:
    """Per-trigger entry point (called at the START of foreach_batch,
    before the batch writes its own dirs, so a replayed batch re-folds
    the identical prefix): a full fold iff at least ``every`` batch dirs
    sit above the cover."""
    if every <= 0:
        return False
    compacts, batches = _scan(root, fs)
    _, cover = _cover(compacts, batch_id)
    if sum(1 for i in batches if cover <= i < batch_id) < every:
        return False
    return compact(spark, root, schema, batch_id, fs=fs, **kwargs)


def maybe_compact_with_fallback(
    spark: SparkSession,
    root: str,
    schema: str,
    batch_id: int,
    every: int,
    transform: Callable[[DataFrame], DataFrame],
    fallback_transform: Callable[[DataFrame], DataFrame] | None,
    fs: LocalFS | None = None,
    **kwargs,
) -> bool:
    """``maybe_compact`` whose primary ``transform`` is an OPTIMIZATION
    that may read OTHER statedir roots (the tombstone-applying folds of
    the ANN/retrieval sinks read the TombstoneLog): a concurrent writer
    of that other root (the delete stream's own compaction) can
    invalidate the listed file set between plan and scan — a TOCTOU the
    single-root read rule cannot cover. Because the primary and
    fallback transforms are READ-EQUIVALENT by contract (probes exclude
    tombstoned rows either way; fold application only brings erasure
    forward), a failed primary fold retries once with the fallback
    (the first attempt's torn, manifestless dest dir is cleaned by the
    retry's own ``_reconcile``); the skipped application simply waits
    for the next fold. A fallback failure re-raises — that is a real
    fold error, not the race."""
    try:
        return maybe_compact(
            spark, root, schema, batch_id, every=every,
            transform=transform, fs=fs, **kwargs,
        )
    except Exception as exc:
        if fallback_transform is None:
            raise
        # Surface the swallowed primary failure: the fallback is read-
        # equivalent, but a DETERMINISTIC primary failure (corrupt
        # tombstone state, persistent FS error) repeating on every fold
        # means erasure has quietly stopped being applied — an operator
        # must be able to see that from the logs, not just the TOCTOU
        # race this retry exists for. logging, NOT warnings.warn: the
        # default warning filter prints each (message, location) once
        # per process, so the documented signal — "a repeat on every
        # fold indicates a persistent fault" — would be suppressed
        # after the first occurrence and a deterministic erasure
        # failure would look like a one-off race.
        _LOG.warning(
            "primary (tombstone-applying) fold of %r at batch %s failed "
            "with %s: %s; retrying with the read-equivalent plain fold "
            "(erasure deferred to the next fold). A repeat of this "
            "warning on every fold indicates a persistent fault, not "
            "the race.",
            root, batch_id, type(exc).__name__, exc,
        )
        return maybe_compact(
            spark, root, schema, batch_id, every=every,
            transform=fallback_transform, fs=fs, **kwargs,
        )


def bucketed_relation(
    spark: SparkSession,
    root: str,
    schema: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    table_name: str | None = None,
    fs: LocalFS | None = None,
) -> DataFrame | None:
    """The compacted snapshot as its catalog-registered bucketed table,
    re-registering after a session restart (the in-memory catalog does
    not survive one; the bucketed files — whose names carry the bucket
    ids Spark maps at scan time — do). Returns None when no bucketed
    snapshot exists. ``schema`` / ``bucket_cols`` / ``num_buckets`` must
    match what ``compact`` wrote (they are the sink's own constants)."""
    compacts, _ = _scan(root, fs)
    if not compacts:
        return None
    latest = compacts[max(compacts)]
    name = table_name or _default_table_name(root)
    if spark.catalog.tableExists(name):
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
            .filter("col_name = 'Location'")
            .collect()
        )
        if loc and loc[0]["data_type"].rstrip("/").endswith(
            os.path.basename(latest)
        ):
            return spark.table(name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    cols = ", ".join(bucket_cols)
    spark.sql(
        f"CREATE TABLE {name} ({schema}) USING PARQUET "
        f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
        f"INTO {num_buckets} BUCKETS LOCATION '{_table_location(latest)}'"
    )
    return spark.table(name)


def _default_table_name(root: str) -> str:
    return "statedir_" + re.sub(r"[^A-Za-z0-9_]", "_", root.strip("/"))


def _count_files(fs: LocalFS, path: str) -> int:
    """Recursive file count through the injectable fs (so an object-store
    StateFS reports real numbers, not the 0 a local os.walk would see)."""
    if not fs.isdir(path):
        return 0
    n = len(fs.list_files(path))
    for child in fs.listdir(path):
        cp = os.path.join(path, child)
        if fs.isdir(cp):
            n += _count_files(fs, cp)
    return n


def dir_counts(root: str, fs: LocalFS | None = None) -> dict[str, int]:
    """Metadata-size observability: {'compact': n, 'batch': n, 'files':
    n} — the quantities compaction bounds (asserted flat in the
    long-horizon bench). All three counts go through the injectable fs,
    so an object-store StateFS reports them accurately."""
    fs = fs or _DEFAULT_FS
    compacts, batches = _scan(root, fs)
    return {
        "compact": len(compacts),
        "batch": len(batches),
        "files": _count_files(fs, root),
    }


def publish_snapshot(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    fs: LocalFS | None = None,
) -> None:
    """Publish ``df`` as the ``compact=0`` base snapshot of a FRESH
    state root — the offline-migration publish path
    (operators/migration.py). compact=0 is visible to EVERY reader,
    including a destination stream's very first trigger (whose read
    bound excludes all batch dirs), and is never the target of a
    batch-commit overwrite — so state published here survives a stream
    resuming into the destination from a fresh checkpoint. Publishing
    as batch=N dirs instead would be both invisible to trigger N's read
    (first-wins guards would re-admit everything) and OVERWRITTEN by
    its commit, silently destroying the migration.

    Caller shapes ``df`` (partitioning / sort order) before the call;
    the write lands at the final path and becomes readable only when
    the manifest commits it, like every fold. Refuses a non-empty root."""
    fs = fs or _DEFAULT_FS
    compacts, batches = _scan(root, fs)
    if compacts or batches:
        raise ValueError(
            f"publish_snapshot: state root {root!r} is not empty — "
            f"sweep it (or pick a fresh root) before publishing"
        )
    dest = os.path.join(root, f"compact={0:09d}")
    df.write.mode("overwrite").parquet(dest)
    _publish_manifest(fs, dest)


def pinned_or_none(df: DataFrame) -> DataFrame | None:
    """``df`` pinned by an eager ``localCheckpoint``, or None when it
    holds no row — the emptiness probe of every sink admission point.
    The probe reads the PIN: ``take(1)`` cannot exit early past a
    shuffle, so probing the lazy plan before pinning it runs the whole
    admission plan twice per non-empty trigger."""
    df = df.localCheckpoint(eager=True)
    return df if df.take(1) else None


@dataclass(frozen=True)
class Table:
    """One state table of a sink, stored under ``<root>/<name>/``.

    ``fold``: the read-equivalent transform every compaction fold
    applies (None folds the plain union). ``fallback``: set when
    ``fold`` reads ANOTHER statedir root — the read-equivalent plain
    fold to retry with (``maybe_compact_with_fallback``).
    ``bucket_cols``: the folded snapshot's bucket spec, applied only
    when the sink is ``bucketed``. ``sort_by``: the commit-time
    ``sortWithinPartitions`` key."""

    name: str
    schema: str
    fold: Callable[[DataFrame], DataFrame] | None = None
    fallback: Callable[[DataFrame], DataFrame] | None = None
    bucket_cols: tuple[str, ...] = ()
    sort_by: str | None = None


class SinkTables:
    """The per-trigger kernel of every statedir sink: the sink's state
    root, its declared tables, and the settings every sink takes.

    Every sink's ``foreach_batch(batch_df, B)`` runs one protocol:

      1. stamp guard — a sink whose state carries a parameter stamp
         refuses mismatched state (``read_stamped``) BEFORE any fold:
         the guard's contract is no operation at all on mismatched
         state;
      2. fold — each table's committed prefix (batch ids < B) folds in
         declared order (``fold``). A replayed B re-folds the identical
         prefix, so compaction inherits replay idempotence;
      3. build — the sink reads state at bound B (``read``,
         ``relations``), computes its admitted rows and pins them once
         (``pinned_or_none``). An effectively-empty batch commits
         NOTHING: the read-exclusion rule makes a missing batch dir
         indistinguishable from an empty one, so replay stays exact and
         idle triggers add no metadata;
      4. commit — each table's own ``batch=<B>`` dir is OVERWRITTEN, in
         the order the sink passes (``commit``). Reads at bound B never
         see B's own dirs, so a crash between commits followed by the
         same-id replay rewrites every table identically.

    Instances hold no state beyond their settings, so sinks that commit
    concurrently (cdc_full's two legs) each use their own."""

    def __init__(
        self,
        root: str,
        tables: list[Table],
        compact_every: int = 16,
        bucketed: bool = False,
        num_buckets: int = 32,
        fs: LocalFS | None = None,
    ):
        self.root = root
        self.tables = {t.name: t for t in tables}
        self.compact_every = compact_every
        self.bucketed = bucketed
        self.num_buckets = num_buckets
        self.fs = fs

    def dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def has_state(self, table: str, batch_id: int = 1 << 62) -> bool:
        """True when ``table`` holds committed state visible to
        ``batch_id`` (metadata only: no data file is read)."""
        return bool(state_paths(self.dir(table), batch_id, self.fs))

    def read(
        self, spark: SparkSession, table: str, batch_id: int = 1 << 62
    ) -> DataFrame:
        """``table``'s state visible to ``batch_id`` (``read_state``)."""
        return read_state(
            spark, self.dir(table), self.tables[table].schema, batch_id,
            self.fs,
        )

    def one_value(self, table: str, column: str):
        """The one value every row of ``table`` holds in ``column``, or
        None when the state is empty or the parquet footers do not prove
        a single value (two values, nulls, or no min/max statistics).
        Reads only the footers of the visible files, on the driver — no
        Spark job."""
        import pyarrow.parquet as pq

        value = None
        for p in state_paths(self.dir(table), 1 << 62, self.fs):
            files = (
                [os.path.join(p, n) for n in sorted(os.listdir(p))
                 if not n.startswith(("_", "."))]  # Spark's hidden files
                if os.path.isdir(p)
                else [p]
            )
            for f in files:
                meta = pq.read_metadata(f)
                i = meta.schema.names.index(column)
                for g in range(meta.num_row_groups):
                    if not meta.row_group(g).num_rows:
                        continue
                    st = meta.row_group(g).column(i).statistics
                    if (
                        st is None
                        or not (st.has_min_max and st.has_null_count)
                        or st.null_count
                        or st.min != st.max
                        or value not in (None, st.min)
                    ):
                        return None
                    value = st.min
        return value

    def read_batch(
        self, spark: SparkSession, table: str, batch_id: int
    ) -> DataFrame:
        """The rows batch ``batch_id`` itself committed to ``table``."""
        return spark.read.parquet(batch_dir(self.dir(table), batch_id))

    def relations(
        self, spark: SparkSession, table: str, batch_id: int
    ) -> list[DataFrame]:
        """``table``'s state visible to ``batch_id`` as the relation list
        an admission guard chains anti-joins over: when the sink is
        ``bucketed`` and the table declares bucket columns, the bucketed
        snapshot as its registered table plus the plain tail
        (``state_relations``); otherwise one plain relation."""
        spec = self.tables[table]
        if self.bucketed and spec.bucket_cols:
            return state_relations(
                spark, self.dir(table), spec.schema, batch_id,
                list(spec.bucket_cols), self.num_buckets, fs=self.fs,
            )
        return [self.read(spark, table, batch_id)]

    def read_stamped(
        self,
        spark: SparkSession,
        table: str,
        batch_id: int,
        column: str,
        stamp: dict,
        what: str,
        hint: str,
    ) -> DataFrame:
        """``read``, refused with ``ValueError`` when the persisted
        ``column`` metadata carries a stamp other than ``stamp``.
        ``what`` names the index and ``hint`` says how to rebuild."""
        state = self.read(spark, table, batch_id)
        meta = dict(state.schema[column].metadata or {})
        if not meta:
            # schema-fallback read of an empty state: nothing persisted
            # yet, nothing to contradict
            return state
        got = {k: meta.get(k) for k in stamp}
        if got != stamp:
            raise ValueError(
                f"{what} mismatch: state at {self.dir(table)!r} was built "
                f"with {got!r} but this sink/probe uses {stamp!r}. {hint}"
            )
        return state

    def fold(self, spark: SparkSession, batch_id: int) -> None:
        """Fold every table's committed prefix, in declared order."""
        for t in self.tables.values():
            kw = dict(
                every=self.compact_every,
                transform=t.fold,
                bucket_cols=(
                    list(t.bucket_cols)
                    if self.bucketed and t.bucket_cols
                    else None
                ),
                num_buckets=self.num_buckets,
                fs=self.fs,
            )
            if t.fallback is None:
                maybe_compact(spark, self.dir(t.name), t.schema, batch_id, **kw)
            else:
                maybe_compact_with_fallback(
                    spark, self.dir(t.name), t.schema, batch_id,
                    fallback_transform=t.fallback, **kw,
                )

    def commit(
        self, batch_id: int, tables: dict[str, DataFrame | None]
    ) -> None:
        """Overwrite each table's ``batch=<batch_id>`` dir, in the order
        passed; a None table writes nothing."""
        for name, df in tables.items():
            if df is None:
                continue
            df = df.coalesce(_COMMIT_FILES)
            sort_by = self.tables[name].sort_by
            if sort_by:
                df = df.sortWithinPartitions(sort_by)
            df.write.mode("overwrite").parquet(
                batch_dir(self.dir(name), batch_id)
            )


class TombstoneLog:
    """Append-only deleted-id log shared by the deletion paths of the
    ANN and retrieval index sinks (streaming/ann_index.py,
    streaming/retrieval_index.py). Tombstones never affect ADMISSION:
    the owning sink's admission decisions never consult them (every
    admit-side replay/fold proof stands), and ``append`` does no
    cross-state read at all, so a replayed delete batch rewrites
    identical rows. The one write-path reader is the owning sink's
    tombstone-APPLYING compaction fold (round 12) — a best-effort
    erasure optimization that races this log's own compaction and falls
    back to the plain read-equivalent fold when the race invalidates
    its read (``maybe_compact_with_fallback``). Readers dedupe; folds
    dedupe too (read-equivalent).

    ``source_col`` names the id column on incoming delete batches;
    ``store_col`` the persisted (and joinable) name.

    ``extra_read_roots``: additional TombstoneLog roots whose ids this
    log's READS union in (``append`` never writes them). This is how a
    sink consults tombstones arriving over SEVERAL independently-
    checkpointed channels — e.g. the composed cdc_full pipeline's
    in-band Delete envelopes (the sink's own root, main-stream batch
    ids) plus its out-of-band DELETES_PATH feed (a separate root with
    its own batch-id space). Two channels must NEVER share one root:
    their batch ids collide and the later batch=N overwrite silently
    destroys the earlier channel's ids."""

    def __init__(
        self,
        root: str,
        store_col: str,
        source_col: str | None = None,
        compact_every: int = 16,
        extra_read_roots: tuple[str, ...] = (),
        fs: LocalFS | None = None,
    ):
        self.root = root
        self.store_col = store_col
        self.source_col = source_col or store_col
        self.schema = f"{store_col} bigint"
        self.compact_every = compact_every
        self.extra_read_roots = tuple(extra_read_roots)
        self.fs = fs

    def _roots_with_state(self) -> list[str]:
        return [
            r
            for r in (self.root, *self.extra_read_roots)
            if state_paths(r, 1 << 62, self.fs)
        ]

    def read(self, spark: SparkSession) -> DataFrame:
        """Every deleted id across all read roots, distinct."""
        roots = self._roots_with_state() or [self.root]
        out = None
        for r in roots:
            part = read_state(spark, r, self.schema, 1 << 62, fs=self.fs)
            out = part if out is None else out.unionByName(part)
        return out.distinct()

    def read_or_none(self, spark: SparkSession) -> DataFrame | None:
        """None when no deletion was ever committed on any read root —
        the common case — so probes skip the exclusion join entirely
        and keep the exact pre-deletion plan (an anti-join against a
        provably-empty relation still costs a join stage)."""
        if not self._roots_with_state():
            return None
        return self.read(spark)

    def exclude(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        """``df`` minus tombstoned ids (joined on ``store_col``); the
        exact input relation when nothing was ever deleted."""
        dead = self.read_or_none(spark)
        return df if dead is None else df.join(dead, self.store_col, "left_anti")

    def append(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink body over an id stream."""
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        maybe_compact(
            spark, self.root, self.schema, batch_id,
            every=self.compact_every,
            transform=lambda df: df.distinct(),
            fs=self.fs,
        )
        ids = pinned_or_none(
            batch_df.select(
                F.col(self.source_col).cast("long").alias(self.store_col)
            ).distinct()
        )
        if ids is None:
            return  # empty trigger: commit nothing (missing == empty)
        (
            ids.coalesce(_COMMIT_FILES)
            .write.mode("overwrite")
            .parquet(batch_dir(self.root, batch_id))
        )


class VersionedTombstoneLog:
    """Append-only (id, version-watermark) delete log — the VERSIONED
    sibling of TombstoneLog for in-band CDC Delete envelopes (ADVICE
    r13). A row (id, s) kills every version <= s of id: a real binlog
    feed deletes and later RE-CREATES rows routinely (the reference's
    mysql datasource emits Delete then Insert), so an in-band delete
    must not make the doc_id permanently invisible — a re-insert
    arriving with a HIGHER sequence than the delete is live again,
    while every version at or below the delete's sequence stays dead
    forever (the kill set per id is a monotonically-growing prefix, so
    fold-time erasure of killed rows remains read-equivalent). The
    permanent doc-level kill — right-to-be-forgotten — stays
    TombstoneLog's contract (the out-of-band channel).

    Same write discipline as TombstoneLog: ``append`` does no
    cross-state read (replays rewrite identical rows), readers reduce
    to the per-id max watermark, folds apply the same reduction
    (read-equivalent)."""

    def __init__(
        self,
        root: str,
        store_col: str,
        source_col: str | None = None,
        version_col: str = "version",
        compact_every: int = 16,
        fs: LocalFS | None = None,
    ):
        self.root = root
        self.store_col = store_col
        self.source_col = source_col or store_col
        self.version_col = version_col
        self.schema = f"{store_col} bigint, dead_version bigint"
        self.compact_every = compact_every
        self.fs = fs

    def _reduce(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.groupBy(self.store_col).agg(
            F.max("dead_version").alias("dead_version")
        )

    def read_or_none(self, spark: SparkSession) -> DataFrame | None:
        """(store_col, dead_version) — the per-id kill watermark; None
        when no versioned delete was ever committed, so readers skip
        the exclusion join entirely (TombstoneLog's rule)."""
        if not state_paths(self.root, 1 << 62, self.fs):
            return None
        return self._reduce(
            read_state(spark, self.root, self.schema, 1 << 62, fs=self.fs)
        )

    def exclude(
        self, spark: SparkSession, df: DataFrame, version_col: str = "version"
    ) -> DataFrame:
        """``df`` minus rows whose ``version_col`` is at or below the
        id's kill watermark (joined on ``store_col``); the exact input
        relation when no versioned delete exists. No broadcast hint:
        the watermark relation is delete-sized but unbounded at 100 TB
        — the optimizer broadcasts it while it fits and shuffles past
        that (the TombstoneLog.exclude discipline)."""
        from pyspark.sql import functions as F

        dead = self.read_or_none(spark)
        if dead is None:
            return df
        dead = dead.withColumnRenamed("dead_version", "__dead_v")
        return (
            df.join(dead, self.store_col, "left")
            .filter(
                F.col("__dead_v").isNull()
                | (F.col(version_col) > F.col("__dead_v"))
            )
            .drop("__dead_v")
        )

    def append(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink body over an (id, version) delete stream.
        Refuses null versions loudly — a null watermark kills nothing
        (every comparison is false), the silent-no-op class the
        versioned sinks guard everywhere."""
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        maybe_compact(
            spark, self.root, self.schema, batch_id,
            every=self.compact_every,
            transform=self._reduce,
            fs=self.fs,
        )
        rows = (
            batch_df.select(
                F.col(self.source_col).cast("long").alias(self.store_col),
                F.col(self.version_col).cast("long").alias("dead_version"),
            )
            .groupBy(self.store_col)
            .agg(F.max("dead_version").alias("dead_version"))
        )
        rows = pinned_or_none(rows)
        if rows is None:
            return  # empty trigger: commit nothing (missing == empty)
        if rows.filter(
            F.col(self.store_col).isNull()
            | F.col("dead_version").isNull()
        ).take(1):
            raise ValueError(
                f"versioned tombstone batch {batch_id} at {self.root!r} "
                f"carries a NULL {self.source_col!r} or "
                f"{self.version_col!r} — a null watermark kills no "
                f"version at all (silent no-op)."
            )
        (
            rows.coalesce(_COMMIT_FILES)
            .write.mode("overwrite")
            .parquet(batch_dir(self.root, batch_id))
        )


def state_relations(
    spark: SparkSession,
    root: str,
    schema: str,
    batch_id: int,
    bucket_cols: list[str],
    num_buckets: int = 32,
    table_name: str | None = None,
    fs: LocalFS | None = None,
) -> list[DataFrame]:
    """The read set for ``batch_id`` as SEPARATE relations whose union is
    row-equal to ``read_state``: the latest bucket-aligned compacted
    snapshot as its registered bucketed table first, then the batch tail
    above it as one plain relation.

    The point is join shape at scale: a join against ``read_state``'s
    path-union cannot use the snapshot's bucketing (a union has no
    distribution), so past broadcast size the ENTIRE state shuffles per
    join — per trigger, for an admission guard. Joins chained per
    relation keep the big snapshot side Exchange-free (anti-joins
    compose over union: A minus (B U C) == (A minus B) minus C) while
    only the small tail pays a plain join.

    Falls back to a single plain ``read_state`` relation when no
    bucket-aligned snapshot exists (fresh state, unbucketed history, or
    a snapshot beyond ``batch_id`` — only possible outside the owning
    sink's own trigger sequence, where correctness beats shape)."""
    fs = fs or _DEFAULT_FS
    compacts, _ = _scan(root, fs)
    snap_dir, w = _cover(compacts, batch_id)
    if snap_dir is None or w != max(compacts):
        return [read_state(spark, root, schema, batch_id, fs)]
    if not _bucket_aligned(fs, snap_dir, list(bucket_cols), num_buckets):
        return [read_state(spark, root, schema, batch_id, fs)]
    rel = bucketed_relation(
        spark, root, schema, list(bucket_cols), num_buckets, table_name, fs
    )
    snap_files = set(_data_paths(fs, snap_dir))
    tail = [p for p in state_paths(root, batch_id, fs) if p not in snap_files]
    out = [rel]
    if tail:
        out.append(spark.read.parquet(*tail))
    return out


def pinned_with_count(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` pinned (eager localCheckpoint) and its row count, counted
    by the pinning job itself through an ``Observation`` — a separate
    count over the pin runs one or two more jobs."""
    from pyspark.sql import Observation

    seen = Observation()
    pin = df.observe(seen, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    return pin, seen.get["n"]


def key_version(version: Column, id_: Column) -> Column:
    """The admission-key version a versioned sink derives from its
    feed's (long) ``version`` and ``id_`` columns: the same value, tied
    to the row so the optimizer cannot constant-fold it. A literal
    version — an insert-only feed at version 0 — would otherwise be
    folded out of the (id, version) redelivery anti-join keys, and a
    ledger bucketed by both columns would then be read through a
    shuffle (``state_relations``' point lost). The coalesce keeps the
    version of a row whose id is null."""
    return F.coalesce(version + id_ * F.lit(0).cast("long"), version)
