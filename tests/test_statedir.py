"""statedir: batch-versioned state compaction — the read-set invariant
under every crash/replay interleaving the module documents.

The load-bearing property: for every batch B, union(read set for B) must
equal union(all committed batch=i, i < B) no matter when compaction ran,
crashed, or re-ran — compaction changes dir counts, never what a batch
observes (streaming/statedir.py module doc)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from stream_cdc_spark.streaming import statedir
import pytest

SCHEMA = "id bigint, v string"


def _write_batch(spark, root, batch_id, rows):
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(
        statedir.batch_dir(root, batch_id)
    )


def _rows(spark, root, batch_id):
    return sorted(
        map(tuple, statedir.read_state(spark, root, SCHEMA, batch_id).collect())
    )


def test_read_set_is_invariant_under_compaction(spark, tmp_path):
    root = str(tmp_path / "s")
    for b in range(6):
        _write_batch(spark, root, b, [(b, f"v{b}")])
    before = {b: _rows(spark, root, b) for b in range(7)}
    assert statedir.compact(spark, root, SCHEMA, 6)
    after = {b: _rows(spark, root, b) for b in [6]}
    # batch 6 (the only batch streaming could replay) sees identical rows
    assert after[6] == before[6] == [(i, f"v{i}") for i in range(6)]
    # dirs are folded: one compact dir, zero batch dirs
    c = statedir.dir_counts(root)
    assert c["compact"] == 1 and c["batch"] == 0


def test_compaction_is_replay_idempotent(spark, tmp_path):
    root = str(tmp_path / "s")
    for b in range(4):
        _write_batch(spark, root, b, [(b, f"v{b}")])
    assert statedir.compact(spark, root, SCHEMA, 4)
    want = [(i, f"v{i}") for i in range(4)]
    # replayed compaction at the same watermark: no-op, same rows
    assert not statedir.compact(spark, root, SCHEMA, 4)
    assert _rows(spark, root, 4) == want
    # new batches after compaction layer on top
    _write_batch(spark, root, 4, [(4, "v4")])
    assert _rows(spark, root, 5) == want + [(4, "v4")]
    # second-level fold includes the first snapshot
    assert statedir.compact(spark, root, SCHEMA, 5)
    assert _rows(spark, root, 5) == want + [(4, "v4")]
    assert statedir.dir_counts(root)["compact"] == 1


def test_interrupted_delete_does_not_double_count(spark, tmp_path):
    """Crash between publishing compact=W and deleting the folded batch
    dirs: the leftover dirs < W must be invisible."""
    root = str(tmp_path / "s")
    for b in range(3):
        _write_batch(spark, root, b, [(b, f"v{b}")])
    # publish the snapshot by hand, leaving the folded dirs in place
    df = statedir.read_state(spark, root, SCHEMA, 3)
    dest = os.path.join(root, "compact=000000003")
    df.write.mode("overwrite").parquet(dest)
    statedir._publish_manifest(statedir._DEFAULT_FS, dest)
    want = [(i, f"v{i}") for i in range(3)]
    assert _rows(spark, root, 3) == want  # not doubled
    # next compaction attempt cleans the leftovers
    statedir.compact(spark, root, SCHEMA, 3)
    assert statedir.dir_counts(root)["batch"] == 0
    assert _rows(spark, root, 3) == want


def test_torn_compact_publish_is_ignored_and_cleaned(spark, tmp_path):
    """A compact dir without a manifest (torn publish) is never read and
    is deleted by the next attempt, which commits its own fold."""
    root = str(tmp_path / "s")
    for b in range(2):
        _write_batch(spark, root, b, [(b, f"v{b}")])
    torn = os.path.join(root, "compact=000000002")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00garbage")
    want = [(0, "v0"), (1, "v1")]
    assert _rows(spark, root, 2) == want  # torn dir excluded
    assert statedir.compact(spark, root, SCHEMA, 2)
    assert _rows(spark, root, 2) == want
    assert os.path.exists(statedir._manifest_path(torn))


def test_maybe_compact_threshold(spark, tmp_path):
    root = str(tmp_path / "s")
    for b in range(3):
        _write_batch(spark, root, b, [(b, f"v{b}")])
    assert not statedir.maybe_compact(spark, root, SCHEMA, 3, every=4)
    assert statedir.dir_counts(root)["compact"] == 0
    _write_batch(spark, root, 3, [(3, "v3")])
    assert statedir.maybe_compact(spark, root, SCHEMA, 4, every=4)
    c = statedir.dir_counts(root)
    assert c["compact"] == 1 and c["batch"] == 0


def test_transform_shrinks_increment_logs(spark, tmp_path):
    """counts-style increment logs fold through a read-equivalent
    reduction: row count shrinks, aggregate answer is unchanged."""
    root = str(tmp_path / "s")
    for b in range(4):
        _write_batch(spark, root, b, [(1, "x"), (2, "y")])
    assert statedir.compact(
        spark,
        root,
        SCHEMA,
        4,
        transform=lambda df: df.groupBy("id").agg(
            F.count(F.lit(1)).cast("string").alias("v")
        ),
    )
    got = sorted(map(tuple, statedir.read_state(spark, root, SCHEMA, 4).collect()))
    assert got == [(1, "4"), (2, "4")]


def test_column_metadata_survives_compaction(spark, tmp_path):
    """The LSH parameter stamp rides column metadata; forcing a schema on
    read strips it (the ADVICE r5 restart-path gap). read_state must
    surface it and compaction must carry it through the fold."""
    root = str(tmp_path / "s")
    df = spark.createDataFrame([(1, "a")], SCHEMA).withColumn(
        "id", F.col("id").alias("id", metadata={"lsh_k": 3})
    )
    df.write.mode("overwrite").parquet(statedir.batch_dir(root, 0))
    got = statedir.read_state(spark, root, SCHEMA, 1)
    assert dict(got.schema["id"].metadata)["lsh_k"] == 3
    assert statedir.compact(spark, root, SCHEMA, 1)
    got = statedir.read_state(spark, root, SCHEMA, 1)
    assert dict(got.schema["id"].metadata)["lsh_k"] == 3


def test_concurrent_bucketed_folds_restore_the_session_scan_conf(
    spark, tmp_path, monkeypatch
):
    """Bucketed folds on more threads than cores (cdc_full's two legs fold
    concurrently). Each fold turns the session-global autoBucketedScan
    conf off for its write and restores it after; under the module lock
    no fold can restore a value another fold set, so the session ends
    with its own value and every fold publishes the same rows."""
    import sys
    import threading
    import time

    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    roots = [str(tmp_path / f"s{i}") for i in range(5)]
    for root in roots:
        _write_batch(spark, root, 0, [(i, f"v{i}") for i in range(20)])
    want = _rows(spark, roots[0], 1)
    published, errors = [], []

    def fold(root):
        try:
            published.append(statedir.compact(
                spark, root, SCHEMA, 1, bucket_cols=["id"], num_buckets=4
            ))
        except Exception as e:  # noqa: BLE001 -- asserted below
            errors.append(e)

    real_set = spark.conf.set
    restorers = set()

    def slow_set(k, v):
        # a fold's second set of the key is its restore; holding back
        # restores of "false" lets them land last, so any fold that
        # read another fold's value shows in the session's final value
        if k == key:
            me = threading.get_ident()
            if me in restorers and v == "false":
                time.sleep(0.5)
            restorers.add(me)
        real_set(k, v)

    monkeypatch.setattr(spark.conf, "set", slow_set)
    before = spark.conf.get(key, "true")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=fold, args=(r,)) for r in roots]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert published == [True] * len(roots)
    assert spark.conf.get(key, "true") == before
    assert all(_rows(spark, root, 1) == want for root in roots)


def test_bucketed_compaction_registers_shuffle_free_side(spark, tmp_path):
    """compact(bucket_cols=...) publishes the snapshot as a bucketed
    table: a key-join against it plans with no Exchange on the snapshot
    side even when broadcast is off, and re-registration after a catalog
    wipe (session restart) reproduces the same relation."""
    root = str(tmp_path / "s")
    name = "t_statedir_bucketed"
    for b in range(3):
        _write_batch(spark, root, b, [(b * 10 + i, f"v{b}") for i in range(50)])
    assert statedir.compact(
        spark, root, SCHEMA, 3, bucket_cols=["id"], num_buckets=4,
        table_name=name,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rel = statedir.bucketed_relation(
            spark, root, SCHEMA, ["id"], 4, table_name=name
        )
        probe = spark.range(200).select(F.col("id"))
        joined = rel.join(probe, "id")
        joined.collect()
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "Bucketed: true" in plan
        scan_line = next(
            ln for ln in plan.splitlines() if name in ln and "Scan" in ln
        )
        assert scan_line  # snapshot read in place as the bucketed side
        n = joined.count()
        # catalog wipe = session restart; bucketed_relation re-registers
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        rel2 = statedir.bucketed_relation(
            spark, root, SCHEMA, ["id"], 4, table_name=name
        )
        joined2 = rel2.join(probe, "id")
        assert joined2.count() == n
        plan2 = joined2._sc._jvm.PythonSQLUtils.explainString(
            joined2._jdf.queryExecution(), "formatted"
        )
        assert "Bucketed: true" in plan2
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_legacy_unpadded_batch_dirs_still_read(spark, tmp_path):
    """Pre-r6 layouts wrote batch=<id> unpadded (lsh_snapshot) and
    batch=<09d> padded (curation); both parse."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    spark.createDataFrame([(1, "a")], SCHEMA).write.parquet(
        os.path.join(root, "batch=7")
    )
    spark.createDataFrame([(2, "b")], SCHEMA).write.parquet(
        os.path.join(root, "batch=000000008")
    )
    assert _rows(spark, root, 9) == [(1, "a"), (2, "b")]
    assert _rows(spark, root, 8) == [(1, "a")]

# -- leveled tier ----------------------------------------------------------


def test_minor_fold_preserves_reads_and_bounds_dirs(spark, tmp_path):
    """compact_minor folds ONLY the pending batch dirs into a delta; the
    read set for every batch is unchanged and the batch-dir count drops
    to zero without touching (or re-reading) the snapshot."""
    root = str(tmp_path / "s")
    for b in range(4):
        _write_batch(spark, root, b, [(b, f"v{b}")])
    assert statedir.compact(spark, root, SCHEMA, 4)  # L0 snapshot at 4
    for b in range(4, 8):
        _write_batch(spark, root, b, [(b, f"v{b}")])
    want = {b: _rows(spark, root, b) for b in (5, 7, 8)}
    assert statedir.compact_minor(spark, root, SCHEMA, 8)
    c = statedir.dir_counts(root)
    assert c == {"compact": 1, "delta": 1, "batch": 0, "files": c["files"]}
    # reads through the chain are identical for the replayable batch and
    # the accessor horizon
    assert _rows(spark, root, 8) == want[8]
    assert _rows(spark, root, 1 << 62) == want[8]
    # replayed minor fold at the same cover: no-op
    assert not statedir.compact_minor(spark, root, SCHEMA, 8)


def test_delta_chain_reads_in_order_and_major_fold_collapses(spark, tmp_path):
    root = str(tmp_path / "s")
    rows = []
    for b in range(9):
        _write_batch(spark, root, b, [(b, f"v{b}")])
        rows.append((b, f"v{b}"))
        if b in (2, 5):  # minor folds at batches 3 and 6
            statedir.compact_minor(spark, root, SCHEMA, b + 1)
    # two deltas + pending batches, no snapshot yet
    c = statedir.dir_counts(root)
    assert c["compact"] == 0 and c["delta"] == 2 and c["batch"] == 3
    assert _rows(spark, root, 9) == rows
    # read at the latest fold watermark: whole chain, no batch dirs
    # (reads BELOW the latest fold are outside the protocol, exactly as
    # in single-level mode — streaming replays only the last in-flight
    # batch, and folds at the start of batch B cover only ids < B)
    assert _rows(spark, root, 6) == rows[:6]
    # major fold eats snapshot-less chain + batches
    assert statedir.compact(spark, root, SCHEMA, 9)
    c = statedir.dir_counts(root)
    assert c["compact"] == 1 and c["delta"] == 0 and c["batch"] == 0
    assert _rows(spark, root, 9) == rows


def test_torn_delta_publish_is_ignored_and_cleaned(spark, tmp_path):
    root = str(tmp_path / "s")
    for b in range(3):
        _write_batch(spark, root, b, [(b, f"v{b}")])
    torn = os.path.join(root, "delta=000000000-000000002")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00garbage")
    want = [(i, f"v{i}") for i in range(3)]
    assert _rows(spark, root, 3) == want  # torn delta excluded
    assert statedir.compact_minor(spark, root, SCHEMA, 3)
    assert _rows(spark, root, 3) == want
    assert statedir.dir_counts(root)["delta"] == 1  # torn one replaced


def test_delta_interrupted_delete_does_not_double_count(spark, tmp_path):
    """Crash between publishing delta=[0,3) and deleting the folded batch
    dirs: leftovers below the cover are invisible."""
    root = str(tmp_path / "s")
    for b in range(3):
        _write_batch(spark, root, b, [(b, f"v{b}")])
    df = statedir.read_state(spark, root, SCHEMA, 3)
    dest = os.path.join(root, "delta=000000000-000000003")
    df.write.mode("overwrite").parquet(dest)
    statedir._publish_manifest(statedir._DEFAULT_FS, dest)
    want = [(i, f"v{i}") for i in range(3)]
    assert _rows(spark, root, 3) == want  # not doubled
    _write_batch(spark, root, 3, [(3, "v3")])
    assert _rows(spark, root, 4) == want + [(3, "v3")]


@pytest.mark.slow
def test_maybe_compact_leveled_schedule(spark, tmp_path):
    """every=2, major_every=3: batches fold into deltas every 2, the
    third fold is a full snapshot; reads identical to a never-compacted
    control throughout."""
    root = str(tmp_path / "s")
    control = str(tmp_path / "ctl")
    rows = []
    majors = minors = 0
    for b in range(13):
        did = statedir.maybe_compact(
            spark, root, SCHEMA, b, every=2, major_every=3
        )
        if did:
            c = statedir.dir_counts(root)
            if c["batch"] == 0 and c["delta"] == 0:
                majors += 1
            else:
                minors += 1
        _write_batch(spark, root, b, [(b, f"v{b}")])
        _write_batch(spark, control, b, [(b, f"v{b}")])
        rows.append((b, f"v{b}"))
        assert _rows(spark, root, b + 1) == _rows(spark, control, b + 1) == rows
    assert majors >= 1 and minors >= 2
    c = statedir.dir_counts(root)
    assert c["delta"] <= 3 and c["batch"] <= 2 + 1


def test_leveled_transform_reduces_on_every_fold(spark, tmp_path):
    """The counts-style reduction applies at minor AND major folds and
    the aggregate answer never changes (read-equivalent reduction)."""
    root = str(tmp_path / "s")
    red = lambda df: df.groupBy("id").agg(  # noqa: E731
        F.sum(F.col("v").cast("bigint")).cast("string").alias("v")
    )
    total = 0
    for b in range(9):
        statedir.maybe_compact(
            spark, root, SCHEMA, b, every=2, major_every=2, transform=red
        )
        _write_batch(spark, root, b, [(7, "1")])
        total += 1
        got = statedir.read_state(spark, root, SCHEMA, b + 1)
        s = got.groupBy("id").agg(F.sum(F.col("v").cast("bigint")).alias("t"))
        assert [tuple(r) for r in s.collect()] == [(7, total)]


def test_column_metadata_survives_minor_fold(spark, tmp_path):
    """The LSH parameter stamp must ride through L1 delta folds exactly
    as through full folds (the restart-path mismatch guard reads it)."""
    root = str(tmp_path / "s")
    df = spark.createDataFrame([(1, "a")], SCHEMA).withColumn(
        "id", F.col("id").alias("id", metadata={"lsh_k": 3})
    )
    df.write.mode("overwrite").parquet(statedir.batch_dir(root, 0))
    assert statedir.compact_minor(spark, root, SCHEMA, 1)
    got = statedir.read_state(spark, root, SCHEMA, 1)
    assert dict(got.schema["id"].metadata)["lsh_k"] == 3


def test_bucketed_folds_work_on_relative_roots(spark, tmp_path, monkeypatch):
    """A RELATIVE state root must behave like plain parquet writes do
    (resolve against the process cwd): Spark resolves a relative
    saveAsTable path/LOCATION against the WAREHOUSE dir instead, which
    silently split a relative-rooted statedir in two — the bucketed
    delta fold wrote its data under spark-warehouse/ while the manifest
    publish looked at cwd (the bucketed ANN soak crashed on exactly
    this). Both the minor (delta) and major (snapshot) bucketed folds
    must land at the cwd-relative path."""
    import os as _os

    from pyspark.sql import functions as F

    # a genuinely relative root (resolving into tmp_path): Spark's JVM
    # pins its cwd at session start, so chdir-ing the Python process
    # would desynchronize the two — relpath from the stable cwd keeps
    # Python os.* and Spark's plain parquet writes agreeing, which is
    # exactly the contract _table_location must preserve for the
    # catalog-table writes
    root = _os.path.join(_os.path.relpath(str(tmp_path)), "rel-ledger")
    schema = "vec_id bigint"
    for b in range(3):
        df = spark.range(b * 10, b * 10 + 10).select(
            F.col("id").alias("vec_id")
        )
        df.write.mode("overwrite").parquet(statedir.batch_dir(root, b))
    assert statedir.compact_minor(
        spark, root, schema, 2, bucket_cols=["vec_id"], num_buckets=4
    )
    assert _os.path.isdir(_os.path.join(root, "delta=000000000-000000002"))
    assert statedir.compact(
        spark, root, schema, 3, bucket_cols=["vec_id"], num_buckets=4
    )
    assert _os.path.isdir(_os.path.join(root, "compact=000000003"))
    got = sorted(
        r["vec_id"]
        for r in statedir.read_state(spark, root, schema, 99).collect()
    )
    assert got == list(range(30))


def test_fallback_fold_logs_on_every_occurrence(spark, tmp_path, caplog):
    """The fallback-fold signal must be visible on EVERY retry, not
    just the first (ADVICE r13): warnings.warn with the default filter
    prints each location once per process, so the documented operator
    signal — "a repeat on every fold indicates a persistent fault" —
    was suppressed after the first occurrence. The module now logs
    instead; two failing folds must produce two records."""
    import logging

    root = str(tmp_path / "log-root")
    schema = "vec_id bigint"

    def primary(df):
        raise FileNotFoundError("tombstone dir vanished mid-fold")

    def fallback(df):
        return df

    for b in range(2):
        spark.range(b * 5, b * 5 + 5).select(
            F.col("id").alias("vec_id")
        ).write.mode("overwrite").parquet(statedir.batch_dir(root, b))
    with caplog.at_level(
        logging.WARNING, logger="stream_cdc_spark.streaming.statedir"
    ):
        assert statedir.maybe_compact_with_fallback(
            spark, root, schema, 1, every=1,
            transform=primary, fallback_transform=fallback,
        )
        assert statedir.maybe_compact_with_fallback(
            spark, root, schema, 2, every=1,
            transform=primary, fallback_transform=fallback,
        )
    hits = [r for r in caplog.records if "plain fold" in r.getMessage()]
    assert len(hits) == 2


# -- the sink kernel (statedir.SinkTables) ------------------------------


class _ToySink:
    """A three-table sink written the way every statedir sink is (the
    SinkTables protocol): stamp guard, fold, build + pin, ordered
    commits. ``a`` is the admission ledger, committed last."""

    def __init__(self, root, stamp="v1", bucketed=False, compact_every=2):
        self.stamp = {"toy_scheme": stamp}
        self.folded: list[str] = []

        def rec(name, fold=lambda df: df):
            def f(df):
                self.folded.append(name)
                return fold(df)

            return f

        self.tables = statedir.SinkTables(
            root,
            [
                statedir.Table("a", "id bigint, v string", fold=rec("a")),
                statedir.Table(
                    "b",
                    "k bigint, n bigint",
                    fold=rec(
                        "b",
                        lambda df: df.groupBy("k").agg(
                            F.sum("n").cast("bigint").alias("n")
                        ),
                    ),
                    bucket_cols=("k",),
                ),
                statedir.Table("c", "id bigint", fold=rec("c"), sort_by="id", files=1),
            ],
            compact_every=compact_every,
            bucketed=bucketed,
            num_buckets=4,
        )

    def foreach_batch(self, batch_df, batch_id):
        spark = batch_df.sparkSession
        self.tables.read_stamped(
            spark, "a", batch_id, "id", self.stamp, "toy index scheme",
            "Rebuild the toy index.",
        )
        self.tables.fold(spark, batch_id)
        new = batch_df
        for rel in self.tables.relations(spark, "a", batch_id):
            new = new.join(rel.select("id"), "id", "left_anti")
        new = statedir.pinned_or_none(new)
        if new is None:
            return
        self.tables.commit(
            batch_id,
            {
                "c": new.select("id"),
                "b": new.groupBy((F.col("id") % 3).alias("k")).agg(
                    F.count(F.lit(1)).alias("n")
                ),
                "a": new.select(
                    F.col("id").alias("id", metadata=self.stamp), "v"
                ),
            },
        )

    def snapshot(self, spark):
        return {
            "a": sorted(map(tuple, self.tables.read(spark, "a").collect())),
            "b": sorted(
                map(
                    tuple,
                    self.tables.read(spark, "b")
                    .groupBy("k")
                    .agg(F.sum("n").alias("n"))
                    .collect(),
                )
            ),
            "c": sorted(map(tuple, self.tables.read(spark, "c").collect())),
        }


def _toy_batches(spark):
    rows = [[(1, "x"), (2, "y")], [(2, "y"), (3, "z")], [(4, "w")], [(1, "x")]]
    return [spark.createDataFrame(r, "id bigint, v string") for r in rows]


def test_sink_tables_fold_and_commit_order(spark, tmp_path, monkeypatch):
    """Folds run in declared order; commits run in the order passed and
    a None table writes nothing; bucket columns apply only to a bucketed
    sink."""
    batches = _toy_batches(spark)
    written: list[str] = []
    real_batch_dir = statedir.batch_dir

    def rec_batch_dir(root, batch_id):
        written.append(os.path.basename(root))
        return real_batch_dir(root, batch_id)

    monkeypatch.setattr(statedir, "batch_dir", rec_batch_dir)
    for bucketed in (False, True):
        root = str(tmp_path / f"toy-{bucketed}")
        toy = _ToySink(root, bucketed=bucketed, compact_every=1)
        toy.foreach_batch(batches[0], 0)
        assert written == ["c", "b", "a"]
        toy.tables.fold(spark, 1)
        assert toy.folded == ["a", "b", "c"]
        # None skips its table; the rest keep the order passed
        written.clear()
        one = spark.createDataFrame([(9,)], "id bigint")
        toy.tables.commit(7, {"c": one, "a": None, "b": None})
        assert written == ["c"]
        assert not os.path.exists(real_batch_dir(toy.tables.dir("a"), 7))
        written.clear()
        for name, bucket in (("a", None), ("b", ["k"])):
            compact = [
                d for d in os.listdir(toy.tables.dir(name))
                if d.startswith("compact=") and d.endswith(".commit")
            ]
            with open(os.path.join(toy.tables.dir(name), compact[0])) as f:
                spec = json.load(f).get("bucket")
            assert (spec or {}).get("cols") == (bucket if bucketed else None), (
                name, bucketed, spec,
            )


def test_sink_tables_stamp_mismatch_refuses_before_any_fold(spark, tmp_path):
    batches = _toy_batches(spark)
    root = str(tmp_path / "toy")
    _ToySink(root, compact_every=1).foreach_batch(batches[0], 0)
    before = {n: statedir.dir_counts(os.path.join(root, n)) for n in "abc"}
    drifted = _ToySink(root, stamp="v2", compact_every=1)
    with pytest.raises(ValueError, match="toy index scheme mismatch"):
        drifted.foreach_batch(batches[1], 1)
    assert drifted.folded == []
    assert {n: statedir.dir_counts(os.path.join(root, n)) for n in "abc"} == before


def test_sink_tables_crash_between_commits_then_replay(
    spark, tmp_path, monkeypatch
):
    """Batch 2 fails at commit position 0, its same-id replay fails at
    position 1, the next at position 2, the last succeeds: every table's
    read then equals a clean run's — across the fold compact_every=2
    runs at batch 2."""
    import shutil

    batches = _toy_batches(spark)[:3]
    prefix = str(tmp_path / "prefix")
    for i, b in enumerate(batches[:2]):
        _ToySink(prefix).foreach_batch(b, i)
    for name in ("clean", "torn"):
        shutil.copytree(prefix, str(tmp_path / name))
    clean = _ToySink(str(tmp_path / "clean"))
    clean.foreach_batch(batches[2], 2)

    toy = _ToySink(str(tmp_path / "torn"))
    real_batch_dir = statedir.batch_dir
    for crash_at in range(3):
        calls = []

        def failing_batch_dir(root, batch_id):
            calls.append(root)
            if len(calls) == crash_at + 1:
                raise OSError("injected crash between commits")
            return real_batch_dir(root, batch_id)

        monkeypatch.setattr(statedir, "batch_dir", failing_batch_dir)
        with pytest.raises(OSError, match="injected crash"):
            toy.foreach_batch(batches[2], 2)
        assert len(calls) == crash_at + 1
    monkeypatch.setattr(statedir, "batch_dir", real_batch_dir)
    toy.foreach_batch(batches[2], 2)
    assert toy.snapshot(spark) == clean.snapshot(spark)


def test_sinks_reach_statedir_only_through_the_kernel():
    """Structure guard: outside statedir.py, no module under streaming/
    uses the statedir primitives the per-trigger protocol is built from
    — a sink declares its tables and goes through SinkTables instead of
    hand-writing fold, pin and commit again."""
    import ast

    banned = {
        "maybe_compact",
        "maybe_compact_with_fallback",
        "batch_dir",
        "read_state",
        "state_relations",
    }
    pkg = os.path.dirname(statedir.__file__)
    hits = []
    for name in sorted(os.listdir(pkg)):
        if not name.endswith(".py") or name == "statedir.py":
            continue
        with open(os.path.join(pkg, name)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in banned
                and isinstance(node.value, ast.Name)
                and node.value.id == "statedir"
            ):
                hits.append(f"{name}:{node.lineno} statedir.{node.attr}")
            elif isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).endswith("statedir"):
                hits += [
                    f"{name}:{node.lineno} imports {a.name}"
                    for a in node.names
                    if a.name in banned
                ]
    assert not hits, hits
