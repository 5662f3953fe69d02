"""Runnable pipeline entrypoint — the engine's `python -m stream_cdc.main`.

Reference main() (stream_cdc/main.py:16-66) wires components from env and
runs the worker loop until SIGINT/SIGTERM. Same contract here, resolved
through the registries (O28) from the same env names (O29):

  DS_TYPE=cdc_replay|events_replay   source (default cdc_replay)
  DS_PATH=<events parquet path>      source path
  QUEUE_DIR=<dir>                    the FileQueue sink's dir
  CHECKPOINT_DIR=<dir>               offset/state checkpoint (O18-O20)
  BATCH_SIZE / FLUSH_INTERVAL        rate cap / trigger (O15)
  DRAIN_AND_EXIT=1                   drain and exit (backfill/replay): a
                                     0 s processing-time trigger, each
                                     query run until the engine reports
                                     no new data, then stopped

Curation mode (PIPELINE=curation): stream a (doc_id, text) document feed
through the continuous-curation sink instead — quality gates +
incremental near-dup admission with durable batch-versioned state:

  PIPELINE=curation DOCS_PATH=<documents parquet dir>
  CURATION_STATE_DIR=<dir>           decisions/kept/index state tables
  MIN_TOKENS=<n>                     quality gate (default 5)
  COMPACT_EVERY=<n>                  fold state dirs every n batches
                                     (default 16; 0 disables)
  LSH_BUCKETED=1                     lsh_dedup mode: compact into
                                     bucketed snapshot tables
  CLUSTER_STATE=1                    lsh_dedup mode: maintain dedup-
                                     cluster membership continuously
                                     (incremental union-find forest)

Index modes: PIPELINE=ann_index_versioned streams a (vec_id, version,
embedding) UPSERT feed into the persisted IVF index (streaming/
ann_index.py) against a fixed offline-trained quantizer, and
PIPELINE=retrieval_index_versioned a (doc_id, version, text) feed into
the persisted BM25/TF-IDF inverted index (streaming/retrieval_index.py);
updates supersede prior images under the version-max read rule. A
version-less feed uses the same modes with EMB_VERSION_COL= or
RETR_VERSION_COL= set empty: every row admits as version 0.

  EMB_PATH=<embeddings parquet dir> / DOCS_PATH=<documents parquet dir>
  CENTROIDS_PATH=<parquet of (cid bigint, cv array<float>)>  REQUIRED
                                     by the ANN mode
  ANN_STATE_DIR / RETR_STATE_DIR     the index state dir
  EMB_VERSION_COL / RETR_VERSION_COL the version column (default
                                     version; empty: version 0)
  COMPACT_EVERY                      same fold knob as curation

Composed mode (PIPELINE=cdc_full): one typed CDC envelope feed
(event_type, gtid_seq, content struct with doc_id/text/embedding) drives
the curation quality gate, the versioned retrieval index AND the
versioned ANN index under ONE checkpoint (streaming/cdc_full.py):

  PIPELINE=cdc_full EVENTS_PATH=<envelope parquet dir>  (EVENTS_GLOB
                                     filters files)
  CDC_STATE_DIR=<root>               sub-roots retr/ and ann/
  CENTROIDS_PATH=<(cid, cv) parquet> REQUIRED (IVF quantizer)
  MIN_TOKENS / COMPACT_EVERY         as above

Knobs shared by the index modes (ann_index_versioned,
retrieval_index_versioned, cdc_full — whose deletion feed is applied to
both indexes):

  DELETES_PATH=<parquet dir of ids>  right-to-be-forgotten feed: a
                                     second query draining ids into the
                                     index's TombstoneLog (DELETES_GLOB
                                     filters files)
  STATE_BUCKETED=1                   fold the admission ledger into a
                                     bucketed snapshot — the 100 TB
                                     shape: the per-trigger redelivery
                                     anti-join reads the ledger side
                                     Exchange-free past broadcast size
  STATE_NUM_BUCKETS=<n>              bucket count (default 32)

One runner serves every mode: PIPELINE picks a row of `PIPELINES`, which
gives only what differs between modes (feed, sink, state dir, deletion
feed); an unknown PIPELINE fails loudly. SIGINT/SIGTERM stop the queries
gracefully (O27): the in-flight epoch commits, the buffer is never lost,
resume continues from the checkpoint.

Run:  python -m stream_cdc_spark.main
"""

from __future__ import annotations

import os
import re
import signal
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import functions as F

from stream_cdc_spark.config import AppConfig
from stream_cdc_spark.session import get_spark
from stream_cdc_spark.streaming.pipeline import (
    DRAIN_TRIGGER,
    drain_and_stop,
    with_payload,
)

_SF_DIR = "/root/testdata/sf0.001"
_DOCS = ("doc_id bigint, text string", ["doc_id", "text"])


def _feed_schema(spark, path: str, glob: str):
    """The feed's on-disk schema, or None while it has no files: a
    not-yet-written feed dir is legitimate in continuous mode, so every
    startup guard is best effort."""
    try:
        return spark.read.option("pathGlobFilter", glob).parquet(path).schema
    except Exception:
        return None


@dataclass(frozen=True)
class Feed:
    """A parquet feed dir streamed under a forced schema. `path_env`
    names the dir; `glob_env` filters its files, by default to `sf_file`
    when the dir holds one (an sf fixture dir, next to tables with other
    schemas), else to *.parquet. `columns()` gives the forced DDL schema
    and the select (None: every column). `guard(spark, path, glob)`
    refuses at startup a feed that would read as all-null under that
    schema."""

    path_env: str
    glob_env: str
    sf_file: str | None
    columns: Callable[[], tuple]
    guard: Callable | None = None

    def __call__(self, spark, cfg: AppConfig):
        path = os.environ.get(self.path_env, _SF_DIR)
        in_sf_dir = self.sf_file and os.path.exists(
            os.path.join(path, self.sf_file)
        )
        glob = os.environ.get(
            self.glob_env, self.sf_file if in_sf_dir else "*.parquet"
        )
        if self.guard is not None:
            self.guard(spark, path, glob)
        schema, cols = self.columns()
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", glob)
            .parquet(path)
        )
        return stream if cols is None else stream.select(*cols)


def _replay_feed(spark, cfg: AppConfig):
    """PIPELINE=cdc: the replayed event log (DS_TYPE, DS_PATH), rate
    capped at BATCH_SIZE thousand events a trigger and serialized to
    the queue payload."""
    from stream_cdc_spark.sources import datasource_registry

    ds_type = cfg.source_type
    ds_path = os.environ.get("DS_PATH", f"{_SF_DIR}/events.parquet")
    if ds_type == "cdc_replay":
        source = datasource_registry.create(
            ds_type, spark=spark, path=ds_path,
            batchEvents=cfg.batch_size * 1000,
        )
    else:
        source = datasource_registry.create(
            ds_type, spark=spark, sf_dir=os.path.dirname(ds_path)
        )
    return with_payload(source)


def _media_blob_col() -> str:
    """MEDIA_BLOB_COL=<col> (curation): the feed also carries a thumbnail
    blob column and the sink runs the q132 perceptual admission between
    the quality gate and text dedup. The value is spliced verbatim into
    the readStream DDL schema and select(); anything but a simple
    identifier would surface as a confusing parse error (or an
    unintended extra column) far from the env var — fail loudly here."""
    col = os.environ.get("MEDIA_BLOB_COL", "")
    if col and not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", col):
        raise ValueError(
            f"MEDIA_BLOB_COL must be a simple column identifier "
            f"([A-Za-z_][A-Za-z0-9_]*), got {col!r}"
        )
    return col


def _curation_kw() -> dict:
    col = _media_blob_col()
    return {"media_blob_col": col} if col else {}


def _curation_columns() -> tuple:
    col = _media_blob_col()
    if not col:
        return _DOCS
    return f"doc_id bigint, text string, {col} binary", ["doc_id", "text", col]


def _lsh_kw() -> dict:
    """LSH_BUCKETED=1 publishes compacted LSH snapshots as bucketed
    tables; CLUSTER_STATE=1 also maintains dedup-cluster membership — each
    batch's matches fold into the incremental union-find forest under
    clusters/, and the min-id representative is the survivorship pick
    (streaming/components.py)."""
    kw = {}
    if os.environ.get("LSH_BUCKETED", "0") == "1":
        kw["bucketed"] = True
    if os.environ.get("CLUSTER_STATE", "0") == "1":
        kw["cluster_state"] = True
    return kw


def _versioned(id_col: str, payload: str, env_name: str) -> Callable:
    """Columns of a versioned (id, version, payload) UPSERT feed whose
    version column `env_name` names (default `version`). Explicitly empty
    opts a version-less feed in: every row admits as version 0."""
    payload_col = payload.split()[0]

    def columns() -> tuple:
        ver = os.environ.get(env_name, "version")
        if not ver:
            version = F.lit(0).cast("long")
            schema = f"{id_col} bigint, {payload}"
        else:
            version = F.coalesce(F.col(ver).cast("long"), F.lit(0))
            schema = f"{id_col} bigint, {ver} bigint, {payload}"
        return schema, [id_col, version.alias("version"), payload_col]

    return columns


def _version_guard(env_name: str, consequence: str) -> Callable:
    """The versioned feed modes' shared silent-no-op guard: a missing
    version column would read as all-null under the forced streaming
    schema, coalesce every row to (id, 0), and first-wins admission
    would drop every update as a redelivery — stale images served
    forever with exit 0."""

    def guard(spark, path: str, glob: str) -> None:
        ver = os.environ.get(env_name, "version")
        schema = _feed_schema(spark, path, glob) if ver else None
        if schema is not None and ver not in schema.names:
            raise ValueError(
                f"versioned feed at {path!r} has columns {schema.names} but "
                f"the version column is {ver!r} (override with {env_name}; "
                f"set {env_name}= empty to opt a version-less feed into "
                f"versioned mode as version 0). A forced schema would read "
                f"the missing column as all-null and {consequence}."
            )

    return guard


def _envelope_columns() -> tuple:
    from stream_cdc_spark.streaming.cdc_full import CDC_FULL_FEED_SCHEMA

    return CDC_FULL_FEED_SCHEMA, None


def _envelope_guard(spark, path: str, glob: str) -> None:
    """cdc_full: a feed missing an envelope column, or a field of the
    content struct, reads it as all-null under the forced schema. The
    gate still passes on text while the ANN leg admits null vectors
    whose first-wins slots a corrected redelivery can never reclaim.
    The sink ALSO fails per batch on null versions, ids and embeddings."""
    from pyspark.sql.types import StructType

    schema = _feed_schema(spark, path, glob)
    if schema is None:
        return
    avail = set(schema.names)
    missing = {"event_type", "gtid_seq", "content"} - avail
    if missing:
        raise ValueError(
            f"cdc_full feed at {path!r} has columns "
            f"{sorted(avail)} but the envelope schema needs "
            f"{sorted(missing)} — a forced schema would read them "
            f"as all-null (upserts with null versions break "
            f"exactly-once admission and vanish from probes)."
        )
    content_t = schema["content"].dataType
    fields = set(content_t.names) if isinstance(content_t, StructType) else set()
    cmissing = {"doc_id", "text", "embedding"} - fields
    if cmissing:
        raise ValueError(
            f"cdc_full feed at {path!r} has content fields "
            f"{sorted(fields)} but the envelope schema "
            f"needs {sorted(cmissing)} — a forced schema would "
            f"read them as all-null (null doc_ids/embeddings "
            f"would permanently occupy first-wins admission slots "
            f"and surface null-cosine candidates, silently)."
        )


@dataclass(frozen=True)
class Mode:
    """One PIPELINE row: only what differs between modes.

    `sink` is the sink_registry name. `out_env` names the sink's output
    dir (`out_default` if unset); CHECKPOINT_DIR defaults to
    `ckpt_default`, else to that dir + "-ckpt". `feed(spark, cfg)`
    builds the streaming input after the row's startup guard. `knobs`
    picks the shared env knob groups the sink takes (`_knobs`), `own_kw`
    gives the row's own env knobs. `delete_id` is the id column of the
    DELETES_PATH feed (None: the mode has none); `fan_out` hands that
    feed to the sink object's delete_batch instead of a TombstoneLog.
    `paced` runs continuous mode on the FLUSH_INTERVAL trigger instead of
    back-to-back triggers."""

    sink: str
    out_env: str
    out_default: str
    feed: Callable
    knobs: tuple[str, ...] = ("state", "compaction")
    own_kw: Callable[[], dict] = dict
    delete_id: str | None = None
    fan_out: bool = False
    ckpt_default: str | None = None
    paced: bool = False


_DOCS_FEED = ("DOCS_PATH", "DOCS_GLOB", "documents.parquet")
_EMB_FEED = ("EMB_PATH", "EMB_GLOB", "embeddings.parquet")
_INDEX = ("state", "compaction", "state_bucketed")

PIPELINES = {
    "cdc": Mode(
        "memory_queue", "QUEUE_DIR", "/tmp/stream-cdc-spark-queue",
        _replay_feed, knobs=("queue",),
        ckpt_default="/tmp/stream-cdc-spark-ckpt", paced=True,
    ),
    "curation": Mode(
        "curation", "CURATION_STATE_DIR", "/tmp/stream-cdc-spark-curation",
        Feed(*_DOCS_FEED, _curation_columns),
        knobs=("state", "compaction", "min_tokens"), own_kw=_curation_kw,
    ),
    "lsh_dedup": Mode(
        "lsh_dedup", "CURATION_STATE_DIR", "/tmp/stream-cdc-spark-lsh_dedup",
        Feed(*_DOCS_FEED, lambda: _DOCS), own_kw=_lsh_kw,
    ),
    "ann_index_versioned": Mode(
        "ann_index_versioned", "ANN_STATE_DIR", "/tmp/stream-cdc-spark-ann",
        Feed(
            *_EMB_FEED,
            _versioned("vec_id", "embedding array<float>", "EMB_VERSION_COL"),
            _version_guard(
                "EMB_VERSION_COL", "drop every re-embedding as a redelivery"
            ),
        ),
        knobs=_INDEX + ("centroids",), delete_id="vec_id",
    ),
    "retrieval_index_versioned": Mode(
        "retrieval_index_versioned", "RETR_STATE_DIR",
        "/tmp/stream-cdc-spark-retr",
        Feed(
            *_DOCS_FEED,
            _versioned("doc_id", "text string", "RETR_VERSION_COL"),
            _version_guard(
                "RETR_VERSION_COL", "drop every update as a redelivery"
            ),
        ),
        knobs=_INDEX, delete_id="doc_id",
    ),
    "cdc_full": Mode(
        "cdc_full", "CDC_STATE_DIR", "/tmp/stream-cdc-spark-cdc-full",
        Feed("EVENTS_PATH", "EVENTS_GLOB", None, _envelope_columns,
             _envelope_guard),
        knobs=_INDEX + ("centroids", "min_tokens"),
        delete_id="doc_id", fan_out=True,
    ),
}


def _knobs(out_dir: str) -> dict[str, dict]:
    """The env knobs several modes share, parsed once, by group:
    COMPACT_EVERY=<n batch dirs before a fold; 0 disables>,
    STATE_BUCKETED=1 folds an index's admission ledger into a bucketed
    snapshot of STATE_NUM_BUCKETS buckets — the 100 TB admission shape:
    the per-trigger redelivery anti-join reads the corpus-sized ledger
    side with zero Exchange past broadcast size."""
    from stream_cdc_spark.sinks.queue import FileQueue

    env = os.environ.get
    bucketed = env("STATE_BUCKETED", "0") == "1"
    return {
        "state": {"state_dir": out_dir},
        "queue": {"client": FileQueue(out_dir)},
        "compaction": {"compact_every": int(env("COMPACT_EVERY", "16"))},
        "state_bucketed": (
            {"bucketed": True, "num_buckets": int(env("STATE_NUM_BUCKETS", "32"))}
            if bucketed else {}
        ),
        "min_tokens": {"min_tokens": int(env("MIN_TOKENS", "5"))},
        "centroids": {"centroids_path": env("CENTROIDS_PATH", "")},
    }


def _deletion_writer(spark, mode: Mode, sink, out_dir: str, ckpt: str,
                     compaction: dict):
    """The optional right-to-be-forgotten feed of the index modes:
    DELETES_PATH names a parquet dir of id rows (column name = the
    index's id column; DELETES_ID_COL overrides; DELETES_GLOB filters
    files), streamed into the index's TombstoneLog as a SECOND query
    with its own checkpoint (its batch ids never collide with the admit
    stream's — separate state root, reads-only tombstones). A `fan_out`
    mode hands the ids to the sink object's delete_batch instead (the
    composed cdc_full mode fans one feed into BOTH indexes). Returns
    the unstarted writer, or None when no feed is configured."""
    deletes_path = os.environ.get("DELETES_PATH", "")
    if mode.delete_id is None or not deletes_path:
        return None
    id_col = mode.delete_id
    src_col = os.environ.get("DELETES_ID_COL", id_col)
    glob = os.environ.get("DELETES_GLOB", "*.parquet")
    # fail LOUDLY on a misnamed id column: the forced streaming schema
    # would otherwise fill a missing column with nulls, tombstone
    # nothing, and exit 0 — a silent no-op on a compliance path
    schema = _feed_schema(spark, deletes_path, glob)
    if schema is not None and src_col not in schema.names:
        raise ValueError(
            f"DELETES_PATH feed at {deletes_path!r} has columns "
            f"{schema.names} but the deletion id column is {src_col!r} "
            f"(the index's id column; override with DELETES_ID_COL). A "
            f"forced schema would read the missing column as all-null and "
            f"delete nothing."
        )
    if mode.fan_out:
        def fb(df, batch_id):
            sink.delete_batch(
                df.select(F.col(src_col).cast("long").alias(id_col)), batch_id
            )
    else:
        from stream_cdc_spark.streaming.statedir import TombstoneLog

        fb = TombstoneLog(
            os.path.join(out_dir, "tombstones"),
            store_col=id_col, source_col=src_col, **compaction,
        ).append
    return (
        spark.readStream.schema(f"{src_col} bigint")
        .option("pathGlobFilter", glob)
        .parquet(deletes_path)
        .select(src_col)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt + "-deletes")
    )


def _await_streams(spark, queries, drain: bool) -> None:
    """Await the mode's streaming queries. Drain mode: `drain_and_stop`
    every query. Continuous mode with more than one query: a dead feed
    must FAIL THE PIPELINE, not die silently behind the healthy one —
    await ANY termination, stop the survivors, then re-await each so a
    failed query's exception propagates (exit != 0). Without this, a
    crashed DELETES_PATH stream would stop applying legally-required
    deletions while admission kept running and looked healthy."""
    qs = [q for q in queries if q is not None]
    if drain:
        drain_and_stop(qs)
        return
    if len(qs) == 1:
        qs[0].awaitTermination()
        return
    # resetTerminated() runs AFTER the queries started, so a query that
    # died in that window is invisible to awaitAnyTermination (it would
    # block forever on the healthy survivor — the exact silent-dead-feed
    # hang this function exists to prevent). Poll each query's isActive
    # alongside the bounded await so an already-terminated feed is
    # noticed on the first loop iteration.
    spark.streams.resetTerminated()
    try:
        while True:
            if spark.streams.awaitAnyTermination(5):
                break
            if any(not q.isActive for q in qs):
                break
    finally:
        for q in qs:
            if q.isActive:
                q.stop()
    for q in qs:
        q.awaitTermination()


def main() -> int:
    from stream_cdc_spark.sources import sink_registry

    cfg = AppConfig.load()
    name = os.environ.get("PIPELINE", "cdc")
    if name not in PIPELINES:
        raise ValueError(
            f"PIPELINE={name!r} is not a mode; known: {sorted(PIPELINES)}"
        )
    mode = PIPELINES[name]
    spark = get_spark(app_name="stream-cdc-spark-" + name.replace("_", "-"))
    spark.sparkContext.setLogLevel(cfg.log_level)
    out_dir = os.environ.get(mode.out_env, mode.out_default)
    ckpt = os.environ.get("CHECKPOINT_DIR", mode.ckpt_default or out_dir + "-ckpt")
    drain = os.environ.get("DRAIN_AND_EXIT", "0") == "1"

    knobs = _knobs(out_dir)
    kw = {k: v for group in mode.knobs for k, v in knobs[group].items()}
    kw.update(mode.own_kw())
    if mode.fan_out:
        kw["_return_pipeline"] = True  # keep the object for delete_batch
    sink = sink_registry.create(mode.sink, **kw)
    admit = (
        mode.feed(spark, cfg)
        .writeStream.foreachBatch(sink.foreach_batch if mode.fan_out else sink)
        .option("checkpointLocation", ckpt)
    )
    # the deletion feed (and its loud column validation) comes FIRST: a
    # query started before a failed validation would leak into the
    # session as an orphan — it keeps admitting while main() has already
    # failed, and a retry trips over its half-written checkpoint.
    # Tombstones are reads-only exclusion, so the relative start order
    # never changes the final state.
    deletes = _deletion_writer(
        spark, mode, sink, out_dir, ckpt, knobs["compaction"]
    )
    # DRAIN_TRIGGER is also Spark's default trigger, the continuous
    # trigger of every mode but the FLUSH_INTERVAL-paced one
    trigger = cfg.trigger() if mode.paced and not drain else DRAIN_TRIGGER
    queries = []
    try:
        for writer in (deletes, admit):
            if writer is not None:
                queries.append(writer.trigger(**trigger).start())
    except Exception:
        for q in queries:
            q.stop()
        raise

    def _stop(signum, frame):
        print(f"signal {signum}: stopping {name}", file=sys.stderr)
        for q in queries:
            q.stop()

    signal.signal(signal.SIGINT, _stop)
    signal.signal(signal.SIGTERM, _stop)
    _await_streams(spark, queries, drain)
    print(f"{name} stopped; {mode.out_env}={out_dir} CHECKPOINT_DIR={ckpt}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
