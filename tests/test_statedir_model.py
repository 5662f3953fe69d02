"""Model-based check of the statedir invariant: against a driver-side
model (a dict of committed batches), a RANDOM interleaving of batch
commits, compactions, torn compactions, and interrupted deletes must
never change what any executing batch observes.

This generalizes test_statedir.py's hand-picked interleavings: hypothesis
drives the schedule, the model is the obviously-correct union, and the
assertion is read_state == model at every step for both the next batch id
and the accessor horizon (1 << 62)."""

from __future__ import annotations

import os
import shutil

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stream_cdc_spark.streaming import statedir

SCHEMA = "id bigint, v bigint"

# ops: ("commit",) advances the stream one batch; ("compact",) folds at
# the current head; ("torn_compact",) fakes a crash mid-publish (dir
# without manifest); ("interrupted_delete",) publishes by hand but leaves
# the folded dirs in place.
OPS = st.lists(
    st.sampled_from(
        ["commit", "compact", "torn_compact", "interrupted_delete"]
    ),
    min_size=4,
    max_size=10,
)


@pytest.fixture(scope="module")
def sd_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("statedir-model"))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=OPS)
@pytest.mark.slow
def test_random_interleavings_preserve_reads(spark, sd_root, ops):
    root = os.path.join(sd_root, "-".join(o[0] for o in ops))
    shutil.rmtree(root, ignore_errors=True)
    model: dict[int, list[tuple[int, int]]] = {}
    head = 0  # next batch id the stream would execute

    def observed(batch_id):
        return sorted(
            map(tuple, statedir.read_state(spark, root, SCHEMA, batch_id).collect())
        )

    def expected(batch_id):
        return sorted(r for b, rows in model.items() if b < batch_id for r in rows)

    for op in ops:
        if op == "commit":
            rows = [(head * 10 + j, head) for j in range(2)]
            spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(
                statedir.batch_dir(root, head)
            )
            model[head] = rows
            head += 1
        elif op == "compact":
            statedir.compact(spark, root, SCHEMA, head)
        elif op == "torn_compact":
            torn = os.path.join(root, f"compact={head:09d}")
            if not os.path.exists(torn):
                os.makedirs(torn)
                with open(os.path.join(torn, "part-0.parquet"), "wb") as f:
                    f.write(b"\x00torn")
        elif op == "interrupted_delete":
            # hand-publish a valid snapshot at the head with the manifest
            # protocol but skip the deletes — the writer crashed between
            # the manifest put and the cleanup. Skipped when a publish at
            # this watermark is already valid (the protocol is
            # single-writer: a re-publish of a committed watermark is the
            # replay no-op, never a blind overwrite of a live manifest).
            dest = os.path.join(root, f"compact={head:09d}")
            fsd = statedir._DEFAULT_FS
            if statedir.state_paths(root, head) and not statedir._is_valid(
                fsd, dest
            ):
                df = statedir.read_state(spark, root, SCHEMA, head)
                df.write.mode("overwrite").parquet(dest)
                statedir._publish_manifest(fsd, dest)
        # the two reads every consumer performs: the executing batch
        # (exactly-once replay view) and the accessor horizon
        assert observed(head) == expected(head), (op, head)
        assert observed(1 << 62) == expected(1 << 62), (op, head)


# -- object-store (S3-semantics) model -------------------------------------


class InjectedCrash(Exception):
    pass


class ObjectStoreFS(statedir.LocalFS):
    """S3-semantics fake for the round-7 manifest protocol:

    * directory rename DOES NOT EXIST (on S3 it is copy-then-delete and
      can expose a partially-copied dir complete with _SUCCESS — the
      exact hazard the manifest commit removes). The protocol must never
      ask for one; there is no rename to override because LocalFS
      deliberately has none, and the source pin below keeps os.rename
      out of the module.
    * every metadata MUTATION (single-object put / delete; recursive
      deletes decompose into per-object deletes exactly as on S3) is a
      crash point: after ``crash_after`` surviving mutations the fake
      raises, leaving whatever partial prefix of object ops completed.
    * reads (list/exists) never crash — they model GET/LIST calls whose
      failure would just retry.
    """

    def __init__(self):
        self.ops = 0
        self.crash_after: int | None = None

    def _tick(self):
        if self.crash_after is not None:
            if self.ops >= self.crash_after:
                raise InjectedCrash()
            self.ops += 1

    def put_text(self, path, text):
        self._tick()
        with open(path, "w") as f:  # atomic whole-object PUT
            f.write(text)

    def remove(self, path):
        self._tick()
        super().remove(path)

    def rmtree(self, path):
        # per-object deletes, a crash point between each — a torn
        # recursive delete leaves an arbitrary subset of the dir
        for dirpath, _dirnames, filenames in os.walk(path, topdown=False):
            for fn in filenames:
                self._tick()
                os.remove(os.path.join(dirpath, fn))
        shutil.rmtree(path, ignore_errors=True)  # empty husks: free on S3


def test_manifest_protocol_never_renames_directories():
    """The commit point must be a single-object put; any dir rename
    reintroduces the S3 torn-copy hazard the manifest protocol exists to
    remove."""
    import inspect

    src = inspect.getsource(statedir)
    assert "os.rename(" not in src
    assert "os.renames(" not in src
    # the one os.replace is the single-FILE manifest put inside LocalFS
    assert src.count("os.replace(") == 1


def test_object_store_crash_sweep(spark, tmp_path):
    """Drive the fold protocol on the S3 fake, crashing two full folds —
    one over batch dirs only, one over a committed snapshot plus pending
    batches — at every metadata-mutation boundary (each crashed attempt
    leaves its partial object writes in place — the next attempt starts
    from that wreckage). After every crash AND after convergence, both
    consumer reads must equal the model; folds must eventually
    complete."""
    fs = ObjectStoreFS()
    root = str(tmp_path / "s3root")
    os.makedirs(root)
    model: dict[int, list[tuple[int, int]]] = {}
    head = 0

    def observed(batch_id):
        return sorted(
            map(
                tuple,
                statedir.read_state(
                    spark, root, SCHEMA, batch_id, fs=fs
                ).collect(),
            )
        )

    def expected(batch_id):
        return sorted(r for b, rows in model.items() if b < batch_id for r in rows)

    def commit():
        nonlocal head
        rows = [(head * 10 + j, head) for j in range(2)]
        spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(
            statedir.batch_dir(root, head)
        )
        model[head] = rows
        head += 1

    def crash_sweep(fn):
        for k in range(200):
            fs.ops = 0
            fs.crash_after = k
            try:
                fn()
                fs.crash_after = None
                assert observed(head) == expected(head), ("done", k)
                assert observed(1 << 62) == expected(1 << 62), ("done", k)
                return k
            except InjectedCrash:
                fs.crash_after = None
                assert observed(head) == expected(head), ("crash", k)
                assert observed(1 << 62) == expected(1 << 62), ("crash", k)
        raise AssertionError("fold never completed within 200 mutations")

    for _ in range(3):
        commit()
    crash_sweep(lambda: statedir.compact(spark, root, SCHEMA, head, fs=fs))
    for _ in range(2):
        commit()
    # second fold over the committed snapshot + pending batches
    crash_sweep(lambda: statedir.compact(spark, root, SCHEMA, head, fs=fs))
    # converged layout: exactly one snapshot expressing all state
    c = statedir.dir_counts(root, fs=fs)
    assert c["compact"] == 1 and c["batch"] == 0
    assert observed(1 << 62) == expected(1 << 62)


OPS_S3 = st.lists(
    st.one_of(
        st.just(("commit", None)),
        st.tuples(st.just("compact"), st.one_of(st.none(), st.integers(0, 12))),
    ),
    min_size=4,
    max_size=10,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=OPS_S3)
@pytest.mark.slow
def test_random_interleavings_on_object_store_fake(spark, sd_root, ops):
    """The hypothesis twin of the systematic crash sweep: RANDOM
    schedules of commits and (possibly crashing, at a random metadata
    mutation) folds on the S3-semantics fake — every crashed
    attempt's partial object writes stay as the next op's starting state,
    and both consumer reads must equal the model after every op."""
    fs = ObjectStoreFS()
    tag = "-".join(f"{o[0][:2]}{'' if o[1] is None else o[1]}" for o in ops)
    root = os.path.join(sd_root, "s3rand-" + tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    model: dict[int, list[tuple[int, int]]] = {}
    head = 0

    def observed(batch_id):
        return sorted(
            map(
                tuple,
                statedir.read_state(
                    spark, root, SCHEMA, batch_id, fs=fs
                ).collect(),
            )
        )

    def expected(batch_id):
        return sorted(r for b, rows in model.items() if b < batch_id for r in rows)

    for op, crash_after in ops:
        if op == "commit":
            rows = [(head * 10 + j, head) for j in range(2)]
            spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(
                statedir.batch_dir(root, head)
            )
            model[head] = rows
            head += 1
        else:
            fs.ops = 0
            fs.crash_after = crash_after
            try:
                statedir.compact(spark, root, SCHEMA, head, fs=fs)
            except InjectedCrash:
                pass
            finally:
                fs.crash_after = None
        assert observed(head) == expected(head), (op, crash_after, head)
        assert observed(1 << 62) == expected(1 << 62), (op, crash_after, head)


def test_manifestless_dirs_are_torn_never_healed(spark, tmp_path):
    """The one commit rule on the default fs: ``compact=`` dirs holding
    real data files, ``_SUCCESS`` and a sibling ``.intent`` bucket-spec
    marker but no manifest (a crash before the manifest put, or a torn
    copy on an object store) are (a) never read, (b) deleted — not
    manifest-stamped — by the next fold, and (c) that fold re-folds the
    batch dirs' rows."""
    root = str(tmp_path / "torn")
    for b in range(4):
        spark.createDataFrame([(b, b)], SCHEMA).write.mode(
            "overwrite"
        ).parquet(statedir.batch_dir(root, b))
    # compact=2 and compact=3: covers that would hide batch dirs if
    # either dir counted as committed
    fakes = {
        os.path.join(root, "compact=000000002"): 999,
        os.path.join(root, "compact=000000003"): 888,
    }
    for path, v in fakes.items():
        spark.createDataFrame([(v, v)], SCHEMA).write.mode(
            "overwrite"
        ).parquet(path)
        with open(path + ".intent", "w") as f:
            f.write('{"cols": ["id"], "n": 4}')
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        assert not os.path.exists(statedir._manifest_path(path))
    want = [(b, b) for b in range(4)]

    def rows(batch_id):
        return sorted(
            map(
                tuple,
                statedir.read_state(spark, root, SCHEMA, batch_id).collect(),
            )
        )

    # (a) never read: neither dir shadows the batch dirs
    assert rows(4) == want
    assert rows(1 << 62) == want
    # (b) the next fold deletes both instead of healing them ...
    assert statedir.compact(spark, root, SCHEMA, 4)
    for path in fakes:
        assert not os.path.exists(path)
        assert not os.path.exists(statedir._manifest_path(path))
    # (c) ... and commits its own fold of the batch dirs
    assert os.path.exists(
        statedir._manifest_path(os.path.join(root, "compact=000000004"))
    )
    assert rows(4) == want
    assert rows(1 << 62) == want
    c = statedir.dir_counts(root)
    assert c["compact"] == 1 and c["batch"] == 0


def test_object_store_crash_sweep_bucketed(spark, tmp_path):
    """The bucketed fold must satisfy the SAME crash-point invariant as
    the plain protocol: sweep every metadata-mutation boundary of a
    bucketed fold over batch dirs and of a second bucketed fold, which
    reads the bucket-aligned snapshot as a forced bucketed scan and
    merges it per bucket with the tail — reads equal the model at every
    crash point, folds eventually complete, layout converges."""
    fs = ObjectStoreFS()
    root = str(tmp_path / "s3bucketed")
    os.makedirs(root)
    model: dict[int, list[tuple[int, int]]] = {}
    head = 0
    BK = dict(bucket_cols=["id"], num_buckets=2)

    def observed(batch_id):
        return sorted(
            map(
                tuple,
                statedir.read_state(
                    spark, root, SCHEMA, batch_id, fs=fs
                ).collect(),
            )
        )

    def expected(batch_id):
        return sorted(r for b, rows in model.items() if b < batch_id for r in rows)

    def commit():
        nonlocal head
        rows = [(head * 10 + j, head) for j in range(2)]
        spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(
            statedir.batch_dir(root, head)
        )
        model[head] = rows
        head += 1

    def crash_sweep(fn):
        for k in range(200):
            fs.ops = 0
            fs.crash_after = k
            try:
                fn()
                fs.crash_after = None
                assert observed(head) == expected(head), ("done", k)
                assert observed(1 << 62) == expected(1 << 62), ("done", k)
                return k
            except InjectedCrash:
                fs.crash_after = None
                assert observed(head) == expected(head), ("crash", k)
                assert observed(1 << 62) == expected(1 << 62), ("crash", k)
        raise AssertionError("fold never completed within 200 mutations")

    for _ in range(2):
        commit()
    crash_sweep(
        lambda: statedir.compact(spark, root, SCHEMA, head, fs=fs, **BK)
    )
    for _ in range(2):
        commit()
    # second bucketed fold: bucket-aligned snapshot + pending batches
    crash_sweep(
        lambda: statedir.compact(spark, root, SCHEMA, head, fs=fs, **BK)
    )
    c = statedir.dir_counts(root, fs=fs)
    assert c["compact"] == 1 and c["batch"] == 0
    assert observed(1 << 62) == expected(1 << 62)
