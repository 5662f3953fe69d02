"""CDC log compaction and keyed last-position operators.

Reference semantics (citations into /root/reference/):
  - at-least-once delivery means consumers see duplicates and stale images;
    the canonical consumer computes "latest image per key"
    (coordinator flush barrier: stream_cdc/processing/coordinator.py:281-303)
  - checkpoint write-dedup keeps the last position per (type, source) key
    (stream_cdc/processing/coordinator.py:137-141, state/dynamodb.py:76-91)

Scale notes: latest-per-key is a single hash-shuffle on the key. Two
physical strategies:
  * window row_number + filter  — one shuffle, state = one row per key in
    the sort; what Catalyst picks for `latest_per_key`.
  * max_by aggregation          — one shuffle with map-side partial
    aggregation; strictly better when the payload is small, used by
    `last_position_per_key`. At 100 TB the partial-agg variant avoids
    sorting entire partitions, so prefer it when only a few columns are
    needed.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame, keys: Sequence[str], order_col: str, desc: bool = True
) -> DataFrame:
    """Keep the newest row per key (CDC log compaction).

    Equivalent to `ROW_NUMBER() OVER (PARTITION BY keys ORDER BY order_col
    DESC) = 1`. One shuffle on `keys`; AQE handles skewed keys.
    """
    ordering = F.col(order_col).desc() if desc else F.col(order_col).asc()
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def last_position_per_key(
    df: DataFrame, keys: Sequence[str], position_col: str
) -> DataFrame:
    """Last checkpoint position per key + event count.

    Reference: StateCheckpointManager.save_state keeps only the newest
    position per (type, source) (coordinator.py:110-159). Partial-agg
    friendly: max/count combine map-side before the shuffle.
    """
    return df.groupBy(*keys).agg(
        F.max(position_col).alias("last_" + position_col),
        F.count(F.lit(1)).alias("n_events"),
    )


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    snapshot_key: str,
    change_key: str,
    seq_col: str,
    op_col: str,
    delete_label: str = "Delete",
) -> DataFrame:
    """MERGE-style CDC apply: fold a change log into a snapshot.

    Semantics (the consumer contract implied by the reference's
    at-least-once envelope stream, coordinator.py:281-303):
      - compact the log to the latest change per key (duplicates from
        redelivery collapse here, making the apply idempotent);
      - keys whose latest op is `delete_label` are removed;
      - all other keys keep their snapshot row, annotated with the latest
        sequence number (`last_<seq_col>`, NULL when never changed).

    Plan shape: one shuffle to compact the log, then a single left join
    against the snapshot (broadcast when the compacted log is small —
    typical for incremental batches). Equivalent to Delta/Iceberg MERGE
    for this envelope, expressed over plain DataFrames.
    """
    latest = latest_per_key(changes, [change_key], seq_col).select(
        F.col(change_key).alias("__k"),
        F.col(seq_col).alias(f"last_{seq_col}"),
        F.col(op_col).alias("__op"),
    )
    joined = snapshot.join(
        F.broadcast(latest), snapshot[snapshot_key] == F.col("__k"), "left"
    )
    return joined.filter(
        F.col("__op").isNull() | (F.col("__op") != delete_label)
    ).drop("__k", "__op")


def versioned_latest_live(
    events: Sequence[tuple[str, DataFrame]],
    id_col: str,
    version_col: str,
    payload_col: str,
) -> DataFrame:
    """The latest live image per id of a versioned CDC event sequence:
    (id_col, payload_col), one row per id that still has a live version.

    ``events``: ``[(kind, df), ...]`` in arrival order, where ``kind`` is
      - ``"upsert"``: (id, version, payload) images, admitted first-wins
        per (id, version) — a redelivered or conflicting later image of
        an admitted (id, version) never displaces the first;
      - ``"delete"``: (id) rows, the doc-level channel — every version of
        the id is dead, present and future;
      - ``"vdelete"``: (id, version) rows, the in-band CDC Delete — it
        kills the versions <= its sequence, so a later re-insert with a
        higher version is live again.

    The result is the batch answer the versioned statedir sinks
    (streaming/ann_index.py, streaming/retrieval_index.py) maintain
    incrementally; it is order-insensitive except for first-wins
    within one (id, version). Both delete channels are order-insensitive
    accumulations (a distinct id set, a max-version watermark per id)
    whose exclusions are per-row filters on (id, version), so they apply
    to the tagged union of the upserts BEFORE admission; the version-max
    read rule and first-wins admission are then ONE aggregate per id,
    ``min(struct(~version, event_index, payload_is_null, payload))`` —
    the highest live version, and within it the earliest event's
    smallest non-null payload (``~version`` orders versions descending
    without the overflow a negation has). Ids and versions are read as
    BIGINT; upsert versions must be non-null (the sinks'
    VersionedTombstoneLog refuses null versions on the real path).
    """
    upserts: list[DataFrame] = []
    tombs: list[DataFrame] = []
    marks: list[DataFrame] = []
    the_id = F.col(id_col).cast("long").alias(id_col)
    for ei, (kind, df) in enumerate(events):
        if kind == "delete":
            tombs.append(df.select(the_id))
        elif kind == "vdelete":
            marks.append(
                df.select(
                    the_id, F.col(version_col).cast("long").alias("__dead")
                )
            )
        elif kind == "upsert":
            upserts.append(
                df.select(
                    the_id,
                    F.col(version_col).cast("long").alias("__v"),
                    F.col(payload_col),
                    F.lit(ei).alias("__ei"),
                )
            )
        else:
            raise ValueError(f"unknown event kind {kind!r}")
    if not upserts:
        raise ValueError("versioned_latest_live: no upsert events")
    live = reduce(DataFrame.unionByName, upserts)
    if tombs:
        dead = reduce(DataFrame.unionByName, tombs).distinct()
        live = live.join(dead, id_col, "left_anti")
    if marks:
        watermark = (
            reduce(DataFrame.unionByName, marks)
            .groupBy(id_col)
            .agg(F.max("__dead").alias("__dead"))
        )
        live = (
            live.join(watermark, id_col, "left")
            .filter(F.col("__dead").isNull() | (F.col("__v") > F.col("__dead")))
            .drop("__dead")
        )
    return (
        live.groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    F.bitwise_not("__v"),
                    F.col("__ei"),
                    F.col(payload_col).isNull(),
                    F.col(payload_col),
                )
            ).alias("__latest")
        )
        .select(id_col, F.col(f"__latest.{payload_col}").alias(payload_col))
    )


def snapshot_as_of(
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    order_col: str,
    as_of,
    op_col: str = "event_type",
    delete_label: str = "Delete",
) -> DataFrame:
    """Point-in-time snapshot reconstruction from a CDC change log: the
    state of the keyed table as of timestamp ``as_of``.

    Semantics: restrict the log to rows with ts <= as_of (partition-
    prunable predicate — at 100 TB the log is ts-partitioned and this is
    the pruning filter), compact to the latest row per key ordered by
    (ts, order_col) — order_col breaks same-timestamp ties exactly as the
    reference's monotonically increasing GTID does
    (stream_cdc/datasources/mysql.py:380-384) — then drop keys whose
    latest op is ``delete_label``. This is the time-travel read a CDC
    consumer materializes from the envelope stream; Delta calls it
    VERSION AS OF, re-expressed over a plain event-envelope table.

    One shuffle (the per-key compaction window); the as_of filter reaches
    the parquet scan.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(ts_col).desc(), F.col(order_col).desc()
    )
    return (
        changes.filter(F.col(ts_col) <= F.lit(as_of))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(F.col(op_col) != delete_label)
        .drop("__rn")
    )
