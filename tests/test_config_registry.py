"""Config loader (O29) + plugin registries (O28) + KV state (O20) tests,
mirroring the reference's factory/state unit tests."""

from __future__ import annotations

import pytest

from stream_cdc_spark.config import AppConfig
from stream_cdc_spark.sources import datasource_registry, sink_registry, state_registry
from stream_cdc_spark.sources.state import ParquetKVState


def test_config_defaults_and_env():
    cfg = AppConfig.load(env={})
    assert cfg.batch_size == 10 and cfg.flush_interval == 5.0  # loader.py:29-30
    # one default for DS_TYPE, the source main.py's cdc mode builds
    assert cfg.source_type == "cdc_replay" == AppConfig().source_type
    cfg2 = AppConfig.load(
        env={"BATCH_SIZE": "25", "FLUSH_INTERVAL": "0.5", "DS_TYPE": "events_replay"}
    )
    assert cfg2.source_type == "events_replay"
    assert cfg2.batch_size == 25
    assert cfg2.flush_interval == 0.5
    assert cfg2.trigger() == {"processingTime": "0.5 seconds"}


def test_registries_resolve_case_insensitive():
    assert "events_replay" in datasource_registry.names()
    assert "memory_queue" in sink_registry.names()
    assert "parquet_kv" in state_registry.names()
    fn = sink_registry.create("MEMORY_QUEUE")
    assert callable(fn)


def test_registry_unknown_type_errors():
    with pytest.raises(ValueError, match="unsupported datasource"):
        datasource_registry.create("mysql-binlog-direct")


def test_cdc_full_registry_refuses_major_every(tmp_path):
    with pytest.raises(ValueError, match="major_every=2"):
        sink_registry.create(
            "cdc_full", state_dir=str(tmp_path), centroids=[(0, [1.0])],
            major_every=2,
        )


@pytest.mark.slow
def test_parquet_kv_state_roundtrip(spark, tmp_path):
    st = ParquetKVState(spark, str(tmp_path / "state"))
    assert st.read("mysql", "db1") is None
    st.store("mysql", "db1", "uuid:1-100")
    st.store("mysql", "db2", "uuid:1-5")
    st.store("mysql", "db1", "uuid:1-200")  # newer position wins
    assert st.read("mysql", "db1") == "uuid:1-200"
    assert st.read("mysql", "db2") == "uuid:1-5"
    # write-dedup: identical position is a no-op (coordinator.py:137-141)
    assert st.store("mysql", "db1", "uuid:1-200") is True


def test_cdc_replay_settings_validation():
    from stream_cdc_spark.sources.cdc_replay import validate_settings

    validate_settings({"path": "/root/testdata/sf0.001/events.parquet"})
    with pytest.raises(ValueError, match="path"):
        validate_settings({})
    with pytest.raises(ValueError, match="does not exist"):
        validate_settings({"path": "/nope"})
    with pytest.raises(ValueError, match="batchEvents"):
        validate_settings(
            {"path": "/root/testdata/sf0.001/events.parquet", "batchEvents": "0"}
        )
    with pytest.raises(ValueError, match="integer"):
        validate_settings(
            {"path": "/root/testdata/sf0.001/events.parquet", "readPartitions": "x"}
        )


def test_retry_with_backoff():
    from stream_cdc_spark.sinks.retry import TransientError, with_retries

    calls = {"n": 0}
    delays = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise TransientError("throttled")
        return "ok"

    assert with_retries(flaky, sleep=delays.append) == "ok"
    assert calls["n"] == 4
    assert len(delays) == 3 and delays[0] < delays[1] < delays[2]  # backoff grows

    def always_fails():
        raise TransientError("down")

    with pytest.raises(TransientError):
        with_retries(always_fails, attempts=3, sleep=lambda _: None)

    def fatal():
        raise RuntimeError("not retriable")

    with pytest.raises(RuntimeError):
        with_retries(fatal, sleep=lambda _: None)


def test_file_format_sources_roundtrip(spark, tmp_path):
    from stream_cdc_spark.tables import load as _load

    ev = _load(spark, "/root/testdata/sf0.001", "events").limit(100)
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    ev.select("event_id", "user_id", "event_type").write.option(
        "header", "true"
    ).csv(csv_dir)
    ev.select("event_id", "user_id", "event_type").write.json(json_dir)
    csv_df = datasource_registry.create("csv", spark=spark, path=csv_dir)
    json_df = datasource_registry.create("json", spark=spark, path=json_dir)
    assert csv_df.count() == 100 and json_df.count() == 100
    assert {r.event_type for r in csv_df.select("event_type").distinct().collect()} == {
        r.event_type for r in json_df.select("event_type").distinct().collect()
    }


def test_logger_env_configuration(monkeypatch, capsys):
    import importlib
    import logging as pylogging

    from stream_cdc_spark import logging_utils

    monkeypatch.setenv("APP_NAME", "cdc-test-logger")
    monkeypatch.setenv("LOG_LEVEL", "DEBUG")
    pylogging.getLogger("cdc-test-logger").handlers.clear()
    lg = logging_utils.get_logger()
    assert lg.name == "cdc-test-logger" and lg.level == pylogging.DEBUG
    # idempotent: second call must not stack handlers
    assert len(logging_utils.get_logger().handlers) == 1


def test_logger_json_format(monkeypatch):
    import io
    import json as pyjson
    import logging as pylogging

    from stream_cdc_spark.logging_utils import JsonFormatter

    buf = io.StringIO()
    h = pylogging.StreamHandler(buf)
    h.setFormatter(JsonFormatter())
    lg = pylogging.getLogger("json-test")
    lg.handlers = [h]
    lg.setLevel(pylogging.INFO)
    lg.propagate = False
    lg.info("hello %s", "world")
    rec = pyjson.loads(buf.getvalue())
    assert rec["msg"] == "hello world" and rec["level"] == "INFO"


def test_orc_source_roundtrip(spark, tmp_path):
    """ORC behind the registry: columnar alternative scan format (built
    into Spark; no extra package). Write the nation table as ORC, read it
    back through the registry, values identical."""
    from stream_cdc_spark.sources import datasource_registry
    from stream_cdc_spark.tables import load
    from tests.conftest import SF_SMALL

    orc_dir = str(tmp_path / "nation_orc")
    nation = load(spark, SF_SMALL, "nation")
    nation.write.mode("overwrite").orc(orc_dir)
    back = datasource_registry.create("orc", spark=spark, path=orc_dir)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}


def test_binary_file_source_feeds_multimodal(spark, tmp_path):
    """binaryFile behind the registry is the media-blob scan: one row per
    file with raw bytes, which plugs straight into the multimodal
    metadata/feature operators."""
    from pyspark.sql import functions as F

    from stream_cdc_spark.operators import multimodal
    from stream_cdc_spark.sources import datasource_registry

    blobs = {"a.bin": b"\x89PNG-fake-bytes", "b.bin": b"RIFF-fake-audio" * 100}
    for fname, data in blobs.items():
        (tmp_path / fname).write_bytes(data)
    df = datasource_registry.create(
        "binary_file", spark=spark, path=str(tmp_path), pathGlobFilter="*.bin"
    )
    assert set(df.columns) == {"path", "modificationTime", "length", "content"}
    media = df.select(
        F.monotonically_increasing_id().alias("media_id"),
        F.col("content").alias("blob"),
    )
    meta = multimodal.attach_metadata(media)
    got = {r.n_bytes for r in meta.collect()}
    assert got == {len(b) for b in blobs.values()}
