"""Batch-versioned parquet state with compaction — bounded-metadata
streaming state without sink transactions.

Both foreachBatch sinks (streaming/curation.py, streaming/lsh_snapshot.py)
persist their state as one parquet subdir per micro-batch:

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
  2. the writer ensures the dir carries ``_SUCCESS`` (creating it if the
     committer was configured not to — a publish must never depend on
     ``mapreduce.fileoutputcommitter.marksuccessfuljobs``);
  3. the writer PUTs a sibling manifest object ``compact=<W>.commit``
     listing the snapshot's data files. A single-object put is atomic on
     every backend (S3 PUT, GCS, HDFS create, POSIX rename of one file)
     — the reference's single-item checkpoint put gives the same
     single-object atomicity point (stream_cdc/state/dynamodb.py:76-91).

A compact/delta dir is VALID iff its manifest exists (legacy tier: dirs
published by the pre-r7 rename protocol carry ``_SUCCESS`` and no
manifest; they are accepted and healed — given a manifest — by the next
compaction pass. The legacy rule is sound for them because they were
only ever produced where dir rename IS atomic. One documented legacy
window remains: an INTERRUPTED pre-r7 ``shutil.rmtree`` of a published
dir deletes files in arbitrary order, so ``_SUCCESS`` can outlive some
data files — such a dir sits strictly below a valid cover and is never
read, and the heal step refuses to stamp a manifest on one that lost
ALL its data files unless it anchors a valid delta chain (then an
empty-file manifest keeps the chain walkable — ``_reconcile`` doc); a
partially-emptied one can still be healed but stays cover-excluded
forever, so no read is affected either way. A
deployment that asserts object-store semantics from day one sets
``strict=True`` on its ``StateFS`` and the legacy tier is refused
outright: ``_SUCCESS``-only dirs are treated as torn — never read,
never healed, deleted by the next compaction pass). Readers of a
manifested dir read EXACTLY the files the manifest names, so stray
objects from a torn earlier overwrite attempt can never leak into a
read. A dir with neither marker is a torn publish: never read, deleted
by the next compaction attempt.

Deletion of a published dir removes the manifest FIRST, then _SUCCESS,
then the files — a crash mid-delete therefore leaves either a still-
valid dir (manifest intact), or markerless garbage (torn by rule), never
a manifest naming missing files. Folded/stale dirs are deleted only
after the covering snapshot's manifest is durable, and only dirs
strictly below a valid cover are ever deleted, so an interrupted delete
can at worst resurrect a dir the read rule already ignores.

All protocol metadata I/O (listing, marker/manifest puts, deletes) goes
through an injectable ``StateFS``; ``LocalFS`` is the default. A real
object-store deployment subclasses it with client calls — ``put_text``
must be an atomic single-object put, nothing else needs atomicity. The
model test (tests/test_statedir_model.py) injects an S3-semantics fake
(rename forbidden, crash injection between any two metadata mutations)
and checks the read-set invariant at every crash point.

Read rule for batch B (``state_paths``): take the LARGEST valid compact
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
when ``compact=B`` is already valid folds {compact=B} + [B, B) = itself
and is skipped as a no-op (only the stale-dir cleanup reruns); if the
previous attempt crashed between the data write and the manifest put,
the heal step completes the publish instead of re-reading the sources.

Scale notes: the fold is a single union-scan -> overwrite (optionally
bucketed — see ``bucket_cols`` — so the compacted snapshot doubles as the
shuffle-free join-side table of tests/test_bucketing.py). Single-level
compaction re-reads O(total state) every ``every`` batches; for state
that dwarfs a batch (the 100 TB admitted corpus) the LEVELED tier caps
the common fold at O(recent) instead:

    <root>/delta=<lo>-<hi>/   union of all batch ids in [lo, hi) —
                              an L1 fold, published with the same
                              manifest commit as compact=

Enabled by ``maybe_compact(..., major_every=K)``: every ``every``
batches the pending batch dirs fold into one delta (cost O(every
batches)); once K deltas sit on the chain, everything folds into a fresh
``compact=`` snapshot (cost O(total state), paid 1/K as often). The read
rule extends without changing any invariant: compact=W0, then the
maximal contiguous delta chain lo==W0 -> hi1 -> hi2 ... ending at cover
C, then batch=i with C <= i < B; anything below the cover (leftover
batch dirs, off-chain deltas) is invisible, so torn publishes and
interrupted deletes stay unreadable exactly as before. Dir listing is
one fs.listdir per state table per trigger, bounded by ``every`` +
``major_every`` + 1 entries once compaction is running.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_LOG = logging.getLogger(__name__)

# held over the bucketed fold's set -> write -> restore of the
# session-global autoBucketedScan conf (``compact``): sinks that commit
# concurrently (cdc_full's two legs) would otherwise interleave the
# steps, one leg restoring "true" while the other's write still plans
_AUTO_BUCKETED_SCAN_LOCK = threading.Lock()

_BATCH_RE = re.compile(r"^batch=(\d+)$")
_COMPACT_RE = re.compile(r"^compact=(\d+)$")
_DELTA_RE = re.compile(r"^delta=(\d+)-(\d+)$")
_TMP_PREFIX = ".tmp-compact-"  # legacy rename-protocol temp dirs
_MANIFEST_SUFFIX = ".commit"
_INTENT_SUFFIX = ".intent"
_SUCCESS = "_SUCCESS"


class LocalFS:
    """Protocol-metadata filesystem: every list/exists/put/delete the
    commit protocol performs goes through this interface so an object
    store (or the model test's S3-semantics fake) can be injected. The
    ONLY operation the protocol requires to be atomic is ``put_text``
    (single-object put — atomic on S3/GCS/HDFS/POSIX alike); there is
    deliberately no directory-rename operation. Spark's own data writes
    do not pass through here — they are guarded by the manifest, not by
    any filesystem property.

    ``strict`` asserts the deployment never ran the pre-r7 rename
    protocol (e.g. a from-scratch object-store state root): the legacy
    ``_SUCCESS``-only acceptance tier is disabled — manifestless dirs
    are torn, full stop (module doc)."""

    strict = False

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

    def touch(self, path: str) -> None:
        self.put_text(path, "")

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
    instead, silently splitting the statedir in two (the bucketed delta
    fold of a relative-rooted state wrote its data under
    spark-warehouse/ while the manifest publish looked at cwd). URIs
    with a scheme pass through untouched — including the single-slash
    Hadoop spellings (file:/x, hdfs:/x), which os.path.abspath would
    mangle into a cwd-relative 'file:' directory."""
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:/", path):
        return path
    return os.path.abspath(path)


def _manifest_path(dir_path: str) -> str:
    return dir_path + _MANIFEST_SUFFIX


def _intent_path(dir_path: str) -> str:
    return dir_path + _INTENT_SUFFIX


def _put_bucket_intent(
    fs: LocalFS, dest: str, bucket_cols: list[str], num_buckets: int
) -> None:
    """Record the bucket spec BEFORE a bucketed data write so a crash
    between saveAsTable and the manifest put can be healed with the
    TRUE spec of the files on disk. Without this, heal could only guess
    from the caller's CURRENT constants — wrong if the deployment's
    bucket_cols/num_buckets changed across the restart, and a
    mislabeled spec makes the per-bucket fold skip an exchange the
    files don't satisfy (code-review r9). The intent is removed once
    the manifest (which carries the spec) is durable."""
    fs.put_text(
        _intent_path(dest),
        json.dumps({"cols": list(bucket_cols), "n": num_buckets}),
    )


def _is_valid(fs: LocalFS, dir_path: str) -> bool:
    """Manifest = committed; _SUCCESS-only = legacy rename-protocol
    publish (pre-r7 layouts; healed by the next compaction pass) —
    refused entirely when the fs asserts ``strict`` (no legacy history
    exists, so a manifestless dir can only be torn)."""
    if fs.exists(_manifest_path(dir_path)):
        return True
    if getattr(fs, "strict", False):
        return False
    return fs.exists(os.path.join(dir_path, _SUCCESS))


def _publish_manifest(
    fs: LocalFS, dest: str, bucket_spec: dict | None = None
) -> None:
    """Commit ``dest``: ensure _SUCCESS (never trust the committer config
    to have written one), then atomically put the manifest naming the
    data files. The manifest put is the commit point. ``bucket_spec``
    ({'cols': [...], 'n': int}) records that the dir was written as a
    Spark-bucketed layout, so the next major fold can read it one-
    partition-per-bucket and merge without re-shuffling it."""
    if not fs.exists(os.path.join(dest, _SUCCESS)):
        fs.touch(os.path.join(dest, _SUCCESS))
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
    """What a reader actually reads for a valid compact/delta dir: the
    EXACT files its manifest names (stray objects from torn overwrite
    attempts never leak into a read); the dir itself for a legacy
    _SUCCESS-only publish."""
    mp = _manifest_path(dir_path)
    if fs.exists(mp):
        names = json.loads(fs.read_text(mp))["files"]
        return [os.path.join(dir_path, n) for n in names]
    return [dir_path]


def _delete_published(fs: LocalFS, dir_path: str) -> None:
    """Manifest first, then _SUCCESS, then the files: a crash mid-delete
    leaves either a still-valid dir or markerless (torn-by-rule) garbage,
    never a manifest naming missing files."""
    fs.remove(_manifest_path(dir_path))
    fs.remove(_intent_path(dir_path))
    fs.remove(os.path.join(dir_path, _SUCCESS))
    fs.rmtree(dir_path)


def batch_dir(root: str, batch_id: int) -> str:
    # pre-compaction layouts wrote batch=<id> unpadded; a replayed batch
    # must OVERWRITE that dir, not create a padded sibling for the same id
    legacy = os.path.join(root, f"batch={batch_id}")
    if os.path.isdir(legacy):
        return legacy
    return os.path.join(root, f"batch={batch_id:09d}")


def _scan(
    root: str, fs: LocalFS | None = None
) -> tuple[dict[int, str], dict[int, str], dict[tuple[int, int], str]]:
    """(compacts, batches, deltas) as {id: path} / {(lo, hi): path}. Only
    compact/delta dirs that pass ``_is_valid`` count — an unmanifested,
    markerless dir is a torn publish and must never be read."""
    fs = fs or _DEFAULT_FS
    compacts: dict[int, str] = {}
    batches: dict[int, str] = {}
    deltas: dict[tuple[int, int], str] = {}
    if not fs.isdir(root):
        return compacts, batches, deltas
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
        m = _DELTA_RE.match(name)
        if m and _is_valid(fs, path):
            deltas[(int(m.group(1)), int(m.group(2)))] = path
    return compacts, batches, deltas


def _chain(
    compacts: dict[int, str],
    deltas: dict[tuple[int, int], str],
    batch_id: int,
) -> tuple[list[str], int]:
    """(snapshot + delta-chain paths, cover) for ``batch_id``: the best
    compact watermark W0 <= batch_id, then the maximal contiguous chain
    of deltas lo==W0 -> hi1, lo==hi1 -> hi2, ... with every hi <=
    batch_id. Returns the paths in read order and the cover C — batch
    dirs with id < C are invisible."""
    eligible = [w for w in compacts if w <= batch_id]
    w = max(eligible, default=0)
    out = [compacts[w]] if eligible else []
    cur = w
    while True:
        nxt = [(lo, hi) for (lo, hi) in deltas if lo == cur and hi <= batch_id]
        if not nxt:
            return out, cur
        lo, hi = max(nxt, key=lambda b: b[1])
        out.append(deltas[(lo, hi)])
        cur = hi


def watermark(root: str, batch_id: int, fs: LocalFS | None = None) -> int:
    """Largest valid compact watermark <= batch_id (0 if none)."""
    compacts, _, _ = _scan(root, fs)
    eligible = [w for w in compacts if w <= batch_id]
    return max(eligible, default=0)


def state_paths(
    root: str, batch_id: int, fs: LocalFS | None = None
) -> list[str]:
    """The read set for batch ``batch_id``: the best compacted snapshot,
    its delta chain (each expanded to its manifest's exact file list),
    then the batch dirs above the cover (module doc)."""
    fs = fs or _DEFAULT_FS
    compacts, batches, deltas = _scan(root, fs)
    chain, cover = _chain(compacts, deltas, batch_id)
    out: list[str] = []
    for d in chain:
        out.extend(_data_paths(fs, d))
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
    try:
        return spark.read.parquet(*paths)
    except Exception:
        # every visible dir is file-less (legacy empty-batch commits):
        # schema inference has nothing to read
        return spark.read.schema(schema).parquet(*paths)


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
    visible). When the chain's snapshot and deltas were THEMSELVES
    written bucketed with the same spec (compact_minor with bucket_cols
    — their manifests record it), the fold reads each of them one-
    partition-per-bucket and merges per bucket: no Exchange over total
    state, output file count bounded by num_buckets * chain length
    (plus the small unbucketed batch tail). Only the tail ever pays a
    (tiny) bucket routing; total state is read and rewritten in place.
    Size ``num_buckets`` to the target fold parallelism — the per-bucket
    merge runs one task per bucket per chain dir."""
    fs = fs or _DEFAULT_FS
    _reconcile(root, fs)
    compacts, batches, deltas = _scan(root, fs)
    chain, cover = _chain(compacts, deltas, batch_id)
    eligible = [w for w in compacts if w <= batch_id]
    w = max(eligible, default=0)
    fold_batches = [p for i, p in sorted(batches.items()) if cover <= i < batch_id]
    fold_deltas = chain[1:] if eligible else chain  # chain minus the snapshot
    stale_batches = [p for i, p in batches.items() if i < cover]
    stale_deltas = [
        p for (lo, hi), p in deltas.items() if p not in chain and hi <= cover
    ]
    stale_compacts = [p for i, p in compacts.items() if eligible and i < w]
    # Note: a replay after a COMPLETED publish needs no special case —
    # compact=batch_id being valid makes cover == batch_id, the fold set
    # empty, and the folded dirs fall into the stale cleanup below.
    published = False
    if fold_batches or fold_deltas:
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
            _put_bucket_intent(fs, dest, list(bucket_cols), num_buckets)
            auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
            # force one-partition-per-bucket scans of the chain for the
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
            fs.remove(_intent_path(dest))
        else:
            df = read_state(spark, root, schema, batch_id, fs)
            if transform is not None:
                df = transform(df)
            # data lands at its FINAL path; unreadable until the
            # manifest commits it (never a dir rename — module doc)
            df.write.mode("overwrite").parquet(dest)
            _publish_manifest(fs, dest)
        published = True
        stale_batches = [p for i, p in batches.items() if i < batch_id]
        stale_deltas = [p for (lo, hi), p in deltas.items() if hi <= batch_id]
        stale_compacts = [compacts[i] for i in compacts if i < batch_id]
    for p in stale_batches:
        fs.rmtree(p)
    for p in stale_deltas + stale_compacts:
        _delete_published(fs, p)
    return published


def compact_minor(
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
    """L1 fold: publish ``delta=<cover>-<batch_id>`` holding exactly the
    batch dirs in [cover, batch_id), then delete them. Cost is O(those
    batches), never O(total state) — the compacted snapshot and earlier
    deltas are not re-read. Same manifest commit and read-exclusion rules
    as ``compact``; ``transform`` must be the same read-equivalent
    reduction (a delta holding partially-reduced increments still reads
    correctly because readers aggregate).

    ``bucket_cols`` writes the delta PRE-BUCKETED by the same spec as the
    snapshot tier (one small O(recent) shuffle — exactly num_buckets
    output files) and records the spec in its manifest, so the next
    major fold merges it per-bucket instead of re-shuffling total state
    (``compact`` doc). The catalog entry is dropped right after the
    write — the delta is addressed by its manifest, not by name."""
    fs = fs or _DEFAULT_FS
    _reconcile(root, fs)
    compacts, batches, deltas = _scan(root, fs)
    _, cover = _chain(compacts, deltas, batch_id)
    if cover >= batch_id:
        return False  # replay after a completed publish: chain already ends here
    fold = [(i, p) for i, p in sorted(batches.items()) if cover <= i < batch_id]
    if not fold:
        return False
    try:
        df = spark.read.parquet(*[p for _, p in fold])
    except Exception:
        # every fold dir is file-less (legacy empty-batch commits)
        df = spark.read.schema(schema).parquet(*[p for _, p in fold])
    if transform is not None:
        df = transform(df)
    dest = os.path.join(root, f"delta={cover:09d}-{batch_id:09d}")
    if bucket_cols:
        name = (
            f"{table_name or _default_table_name(root)}"
            f"_delta_{cover:09d}_{batch_id:09d}"
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        fs.rmtree(dest)
        _put_bucket_intent(fs, dest, list(bucket_cols), num_buckets)
        # Bound the delta at <= num_buckets files — every file the chain
        # carries is re-opened by EVERY trigger's state read until the
        # next major fold, so an unbounded per-fold file count is a
        # long-horizon latency leak (a 300-batch soak with task-count
        # routing alone saw-toothed to ~6,700 files and doubled trigger
        # latency). Aligning partitions with buckets (one task per
        # bucket -> at most num_buckets files) is ALSO the measured
        # fastest write: the shuffle moves only this delta's O(recent)
        # rows, never total state, while the per-bucket parquet writes
        # (footer/open/close per file) run across num_buckets tasks
        # instead of serially in one — r9 microbench at a 16x20k-row
        # fold: repartition 0.41 s vs single-task coalesce 0.90 s, the
        # dominant term of the bucketed fold's former 2x-over-plain
        # constant (SCALE_BENCH_r09.md §5).
        df = df.repartition(num_buckets, *bucket_cols)
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .option("path", _table_location(dest))
            .saveAsTable(name)
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")  # external: files stay
        _publish_manifest(
            fs, dest, {"cols": list(bucket_cols), "n": num_buckets}
        )
        fs.remove(_intent_path(dest))
    else:
        df.write.mode("overwrite").parquet(dest)
        _publish_manifest(fs, dest)
    for _, p in fold:
        fs.rmtree(p)
    return True


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
    """The major fold's read set (identical rows to ``read_state``), with
    every bucket-aligned chain dir (snapshot + pre-bucketed deltas) read
    as a registered bucketed table so the fold scans it one-partition-
    per-bucket and the bucketed rewrite merges per bucket with NO
    Exchange over total state; only the unbucketed batch tail (and any
    legacy/unaligned dir) is path-read and pays bucket routing. Returns
    (df, temp table names to drop after the fold job)."""
    compacts, batches, deltas = _scan(root, fs)
    chain, cover = _chain(compacts, deltas, batch_id)
    parts: list[DataFrame] = []
    plain_paths: list[str] = []
    tmp_tables: list[str] = []
    base = _default_table_name(root)
    for d in chain:
        if _bucket_aligned(fs, d, bucket_cols, num_buckets):
            name = base + "_fold_" + re.sub(
                r"[^A-Za-z0-9_]", "_", os.path.basename(d)
            )
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            cols = ", ".join(bucket_cols)
            spark.sql(
                f"CREATE TABLE {name} ({schema}) USING PARQUET "
                f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
                f"INTO {num_buckets} BUCKETS "
                f"LOCATION '{_table_location(d)}'"
            )
            tmp_tables.append(name)
            parts.append(spark.table(name))
        else:
            plain_paths.extend(_data_paths(fs, d))
    plain_paths.extend(
        p for i, p in sorted(batches.items()) if cover <= i < batch_id
    )
    if plain_paths:
        try:
            tail = spark.read.parquet(*plain_paths)
        except Exception:
            # every plain dir is file-less (legacy empty-batch commits)
            tail = spark.read.schema(schema).parquet(*plain_paths)
        # route the unbucketed tail into bucket-aligned partitions
        # BEFORE the union (repartition hashing == bucketBy hashing, so
        # partition index == bucket id): each tail task then writes one
        # file, not one file per bucket it happens to hold. Without
        # this, N tail partitions sprayed up to N*num_buckets files
        # into the folded snapshot — bounded (the chain is bounded) but
        # ~3x the necessary count, and every folded file is re-opened
        # by every subsequent trigger's state read. The shuffle moves
        # only the O(recent) tail, never total state — the same
        # measured trade as compact_minor's delta routing.
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
        try:
            for f in spark.read.parquet(*paths).schema.fields:
                if f.metadata:
                    df = df.withMetadata(f.name, f.metadata)
        except Exception:
            pass  # file-less legacy dirs: nothing to recover
    return df, tmp_tables


# Spark bucketed writes name files ``part-NNNNN-<uuid>_BBBBB.cNNN.*`` —
# the ``_BBBBB`` suffix is the bucket id the scan maps at read time.
_BUCKET_FILE_RE = re.compile(r"_(\d{5})\.c\d+\.")


def _heal_bucket_spec(fs: LocalFS, path: str) -> dict | None:
    """The bucket spec to stamp when healing ``path``: the INTENT marker
    the writer put before its bucketed data write — the spec of the
    files actually on disk (ADVICE r8: healing a bucketed dir as
    unbucketed silently cost the next major fold its per-bucket merge).
    The caller's current constants are deliberately NOT used: they may
    have drifted across the restart, and a mislabeled spec would let
    the per-bucket fold skip an exchange the files don't satisfy
    (code-review r9). Accepted only when every data file carries a
    Spark bucket-id suffix below the intent's bucket count, so a
    corrupt/stale intent can never mislabel a plain-parquet dir; a dir
    with no intent (plain write, or a pre-intent-protocol crash) heals
    without a spec — correct, merely ineligible for the per-bucket
    merge until the next fold rewrites it."""
    ip = _intent_path(path)
    if not fs.exists(ip):
        return None
    try:
        spec = json.loads(fs.read_text(ip))
        cols, n = list(spec["cols"]), int(spec["n"])
    except Exception:
        return None
    ids = []
    for f in fs.list_files(path):
        if f.startswith(("_", ".")):
            continue
        m = _BUCKET_FILE_RE.search(f)
        if not m:
            return None
        ids.append(int(m.group(1)))
    if ids and max(ids) < n:
        return {"cols": cols, "n": n}
    return None


def _reconcile(root: str, fs: LocalFS) -> None:
    """Pre-fold housekeeping (writer-only — readers never mutate):

    * HEAL: a compact/delta dir with _SUCCESS but no manifest is a
      complete publish that crashed before its manifest put (or a legacy
      rename-protocol dir) — finish the commit by writing the manifest.
      Sound because under the manifest protocol no dir copy ever occurs,
      so _SUCCESS can only be present on a dir our own writer completed.
      When the dir carries the writer's INTENT marker and its data
      files all carry matching Spark bucket-id suffixes, the healed
      manifest records the bucket spec too, so a publish that crashed
      between saveAsTable and the manifest put keeps its
      per-bucket-merge eligibility (ADVICE r8 / code-review r9).
      Legacy caveat: a pre-r7 ``shutil.rmtree`` interrupted mid-delete
      removes files in arbitrary order, so _SUCCESS can survive the
      data; a dir that lost ALL its data files is therefore treated as
      torn, not healed — UNLESS it anchors a valid delta chain (some
      valid delta's lo equals the dir's watermark), in which case it is
      healed with an empty-file manifest: deleting a chain anchor would
      orphan the deltas stacked on it and silently hide their rows
      (ADVICE r8), while an empty-file manifest contributes zero rows
      and keeps the chain walkable. (A files-lost anchor can only arise
      mid-delete, i.e. under a higher cover the read rule already
      prefers, so the empty heal is never read; a legitimately-empty
      legacy fold is restored exactly.) A non-anchor with a partial
      remainder stays below the valid cover that justified its deletion,
      so it is never read — module doc. Under a ``strict`` fs there is
      no legacy tier at all: every manifestless dir is torn.
    * CLEAN: legacy temp dirs and dirs with neither marker are torn
      publishes — unreadable by rule, deleted here."""
    strict = getattr(fs, "strict", False)
    entries = fs.listdir(root) if fs.isdir(root) else []
    # chain anchors: a valid delta's lo names the watermark it stacks on
    anchor_los: set[int] = set()
    if not strict:
        for n in entries:
            m = _DELTA_RE.match(n)
            if m and _is_valid(fs, os.path.join(root, n)):
                anchor_los.add(int(m.group(1)))
    for n in entries:
        path = os.path.join(root, n)
        if n.endswith(".inprogress"):
            # LocalFS put_text temp that never reached its os.replace —
            # by definition uncommitted; remove so it cannot accumulate
            fs.remove(path)
            continue
        if n.endswith(_MANIFEST_SUFFIX):
            continue
        if n.endswith(_INTENT_SUFFIX):
            # stale once its dir's manifest is durable (the manifest
            # carries the spec) or the dir itself is gone
            d = path[: -len(_INTENT_SUFFIX)]
            if fs.exists(_manifest_path(d)) or not fs.isdir(d):
                fs.remove(path)
            continue
        if n.startswith(_TMP_PREFIX):
            fs.rmtree(path)
            continue
        cm = _COMPACT_RE.match(n)
        dm = _DELTA_RE.match(n)
        if cm or dm:
            if fs.exists(_manifest_path(path)):
                continue
            has_data = any(
                not f.startswith(("_", "."))
                for f in fs.list_files(path)
            )
            watermark_of_dir = int(cm.group(1)) if cm else int(dm.group(2))
            anchors_chain = watermark_of_dir in anchor_los
            if (
                not strict
                and (has_data or anchors_chain)
                and fs.exists(os.path.join(path, _SUCCESS))
            ):
                _publish_manifest(fs, path, _heal_bucket_spec(fs, path))
                fs.remove(_intent_path(path))
            else:
                _delete_published(fs, path)


def maybe_compact(
    spark: SparkSession,
    root: str,
    schema: str,
    batch_id: int,
    every: int,
    major_every: int = 0,
    fs: LocalFS | None = None,
    **kwargs,
) -> bool:
    """Per-trigger entry point (called at the START of foreach_batch,
    before the batch writes its own dirs, so a replayed batch re-folds
    the identical prefix).

    ``major_every <= 0`` (default): single-level — full fold iff at
    least ``every`` batch dirs sit above the cover. ``major_every = K``:
    leveled — ``every`` pending batch dirs fold into one L1 delta
    (O(recent)); once K deltas sit on the chain everything folds into a
    fresh snapshot (O(total state), paid 1/K as often)."""
    if every <= 0:
        return False
    compacts, batches, deltas = _scan(root, fs)
    chain, cover = _chain(compacts, deltas, batch_id)
    pending = sum(1 for i in batches if cover <= i < batch_id)
    if pending < every:
        return False
    if major_every <= 0:
        return compact(spark, root, schema, batch_id, fs=fs, **kwargs)
    n_deltas = len(chain) - (1 if any(w <= batch_id for w in compacts) else 0)
    if n_deltas + 1 >= major_every:
        # this fold would make the chain major_every long — fold it all
        return compact(spark, root, schema, batch_id, fs=fs, **kwargs)
    return compact_minor(
        spark,
        root,
        schema,
        batch_id,
        transform=kwargs.get("transform"),
        # deltas are written pre-bucketed by the snapshot tier's spec so
        # the next major fold merges per-bucket (compact/compact_minor doc)
        bucket_cols=kwargs.get("bucket_cols"),
        num_buckets=kwargs.get("num_buckets", 32),
        table_name=kwargs.get("table_name"),
        fs=fs,
    )


def maybe_compact_with_fallback(
    spark: SparkSession,
    root: str,
    schema: str,
    batch_id: int,
    every: int,
    transform: Callable[[DataFrame], DataFrame],
    fallback_transform: Callable[[DataFrame], DataFrame] | None,
    major_every: int = 0,
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
            major_every=major_every, transform=transform, fs=fs, **kwargs,
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
            major_every=major_every, transform=fallback_transform, fs=fs,
            **kwargs,
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
    compacts, _, _ = _scan(root, fs)
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
    """Metadata-size observability: {'compact': n, 'delta': n, 'batch':
    n, 'files': n} — the quantities compaction bounds (asserted flat in
    the long-horizon bench). All four counts go through the injectable
    fs, so an object-store StateFS reports them accurately."""
    fs = fs or _DEFAULT_FS
    compacts, batches, deltas = _scan(root, fs)
    return {
        "compact": len(compacts),
        "delta": len(deltas),
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
    compacts, batches, deltas = _scan(root, fs)
    if compacts or batches or deltas:
        raise ValueError(
            f"publish_snapshot: state root {root!r} is not empty — "
            f"sweep it (or pick a fresh root) before publishing"
        )
    dest = os.path.join(root, f"compact={0:09d}")
    df.write.mode("overwrite").parquet(dest)
    _publish_manifest(fs, dest)


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
        major_every: int = 0,
        commit_files: int = 1,
        extra_read_roots: tuple[str, ...] = (),
        fs: LocalFS | None = None,
    ):
        self.root = root
        self.store_col = store_col
        self.source_col = source_col or store_col
        self.schema = f"{store_col} bigint"
        self.compact_every = compact_every
        self.major_every = major_every
        self.commit_files = commit_files
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
            every=self.compact_every, major_every=self.major_every,
            transform=lambda df: df.distinct(),
            fs=self.fs,
        )
        ids = (
            batch_df.select(
                F.col(self.source_col).cast("long").alias(self.store_col)
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        if not ids.take(1):
            return  # empty trigger: commit nothing (missing == empty)
        (
            ids.coalesce(self.commit_files)
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
        major_every: int = 0,
        commit_files: int = 1,
        fs: LocalFS | None = None,
    ):
        self.root = root
        self.store_col = store_col
        self.source_col = source_col or store_col
        self.version_col = version_col
        self.schema = f"{store_col} bigint, dead_version bigint"
        self.compact_every = compact_every
        self.major_every = major_every
        self.commit_files = commit_files
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
            every=self.compact_every, major_every=self.major_every,
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
            .localCheckpoint(eager=True)
        )
        if not rows.take(1):
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
            rows.coalesce(self.commit_files)
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
    snapshot as its registered bucketed table first, then everything
    above it (batch tail + any deltas) as one plain relation.

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
    compacts, _, _ = _scan(root, fs)
    eligible = [w for w in compacts if w <= batch_id]
    if not eligible or max(eligible) != max(compacts):
        return [read_state(spark, root, schema, batch_id, fs)]
    snap_dir = compacts[max(eligible)]
    if not _bucket_aligned(fs, snap_dir, list(bucket_cols), num_buckets):
        return [read_state(spark, root, schema, batch_id, fs)]
    rel = bucketed_relation(
        spark, root, schema, list(bucket_cols), num_buckets, table_name, fs
    )
    snap_files = set(_data_paths(fs, snap_dir))
    tail = [p for p in state_paths(root, batch_id, fs) if p not in snap_files]
    out = [rel]
    if tail:
        try:
            out.append(spark.read.parquet(*tail))
        except Exception:
            # file-less legacy empty-batch dirs: schema fallback, like
            # read_state
            out.append(spark.read.schema(schema).parquet(*tail))
    return out
