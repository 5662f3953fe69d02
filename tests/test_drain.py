"""The engine's one drain rule: `DRAIN_AND_EXIT=1` through `main.main()`
and `CdcPipeline.start(available_now=True)` + `await_and_stop` drain a
rate-limited cdc_replay log to its end, not to the end of the first
trigger, and a drain whose sink fails leaves no query running."""

from __future__ import annotations

import json
from collections import Counter

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from stream_cdc_spark.sinks.queue import FileQueue
from tests.conftest import SF_MED

N_EVENTS = 2500  # 2.5 triggers at BATCH_SIZE=1 (batchEvents 1,000)


@pytest.fixture(scope="module")
def log_path(tmp_path_factory):
    t = pq.read_table(f"{SF_MED}/events.parquet")
    path = str(tmp_path_factory.mktemp("drain-log") / "events.parquet")
    pq.write_table(t.filter(pc.less(t["event_id"], N_EVENTS)), path)
    return path


def _drain_main(monkeypatch, log_path, qdir, ckpt):
    from stream_cdc_spark import main as M

    monkeypatch.setenv("PIPELINE", "cdc")
    monkeypatch.setenv("DRAIN_AND_EXIT", "1")
    monkeypatch.setenv("BATCH_SIZE", "1")
    monkeypatch.setenv("DS_TYPE", "cdc_replay")
    monkeypatch.setenv("DS_PATH", log_path)
    monkeypatch.setenv("QUEUE_DIR", qdir)
    monkeypatch.setenv("CHECKPOINT_DIR", ckpt)
    return M.main()


def _drain_pipeline(spark, log_path, qdir, ckpt):
    from stream_cdc_spark.sinks.queue import foreach_batch_writer
    from stream_cdc_spark.sources import datasource_registry
    from stream_cdc_spark.streaming.pipeline import CdcPipeline

    source = datasource_registry.create(
        "cdc_replay", spark=spark, path=log_path, batchEvents=1000
    )
    pipe = CdcPipeline(
        spark, source, foreach_batch_writer(lambda: FileQueue(qdir)),
        checkpoint_dir=ckpt,
    )
    pipe.start(available_now=True)
    pipe.await_and_stop()
    return 0


@pytest.mark.parametrize("runner", ["main", "pipeline"])
def test_drain_reaches_the_end_of_a_rate_limited_log(
    spark, tmp_path, monkeypatch, log_path, runner
):
    """A drain of 2.5x batchEvents puts every event in the queue exactly
    once, returns, and leaves no query active. An availableNow drain
    fixed its end at the first rate-limited offset: 1,000 of 2,500."""
    qdir, ckpt = str(tmp_path / "queue"), str(tmp_path / "ckpt")
    if runner == "main":
        rc = _drain_main(monkeypatch, log_path, qdir, ckpt)
    else:
        rc = _drain_pipeline(spark, log_path, qdir, ckpt)
    assert rc == 0
    assert not spark.streams.active
    seqs = Counter(
        json.loads(m["MessageBody"])["seq"] for m in FileQueue(qdir).drain()
    )
    assert len(seqs) == N_EVENTS, f"{len(seqs)} of {N_EVENTS} events queued"
    assert set(seqs) == set(range(N_EVENTS))
    assert set(seqs.values()) == {1}


def test_failed_drain_raises_and_leaves_no_query(
    spark, tmp_path, monkeypatch, log_path
):
    """QUEUE_DIR is a regular file, so the foreachBatch fails: main()
    raises instead of returning 0, and no query is left running."""
    from pyspark.errors import StreamingQueryException

    qdir = tmp_path / "queue"
    qdir.write_text("not a directory")
    with pytest.raises(StreamingQueryException):
        _drain_main(monkeypatch, log_path, str(qdir), str(tmp_path / "ckpt"))
    assert not spark.streams.active


def test_drain_and_stop_stops_every_query_when_one_fails():
    """A failing query does not leave the others running: each is
    stopped before the failure propagates."""
    from stream_cdc_spark.streaming.pipeline import drain_and_stop

    class Query:
        def __init__(self, fail):
            self.fail, self.stopped = fail, False

        def processAllAvailable(self):
            if self.fail:
                raise RuntimeError("sink failed")

        def stop(self):
            self.stopped = True

    queries = [Query(fail=True), Query(fail=False)]
    with pytest.raises(RuntimeError, match="sink failed"):
        drain_and_stop(queries)
    assert all(q.stopped for q in queries)


def test_unknown_pipeline_fails_loudly(monkeypatch):
    from stream_cdc_spark import main as M

    monkeypatch.setenv("PIPELINE", "curation_typo")
    with pytest.raises(ValueError, match="not a mode"):
        M.main()
