"""Source/sink/state registries — the reference's plugin system (O28).

Reference: three name->class registries with case-insensitive lookup and
import-time registration (stream_cdc/datasources/factory.py:7-60,
streams/factory.py:7-56, state/factory.py:7-47). Here the same contract
resolves names to reader/sink/state constructors, so a config-driven
pipeline (`DS_TYPE=cdc_replay PIPELINE=curation`; main.py's `PIPELINES`
rows name their sinks here) wires itself like the reference's main() —
but each registered source returns a (streaming) DataFrame and each sink
a foreachBatch function.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, Generic, TypeVar

T = TypeVar("T")


class Registry(Generic[T]):
    """Case-insensitive name->factory registry (factory contract of O28)."""

    def __init__(self, kind: str):
        self.kind = kind
        self._reg: dict[str, Callable[..., T]] = {}

    def register(self, name: str, factory: Callable[..., T]) -> None:
        self._reg[name.lower()] = factory

    def create(self, name: str, **kwargs: Any) -> T:
        key = name.lower()
        if key not in self._reg:
            raise ValueError(
                f"unsupported {self.kind} type: {name!r}; "
                f"registered: {sorted(self._reg)}"
            )
        return self._reg[key](**kwargs)

    def names(self) -> list[str]:
        return sorted(self._reg)


datasource_registry: Registry = Registry("datasource")
sink_registry: Registry = Registry("sink")
state_registry: Registry = Registry("state-manager")


def _register_builtins() -> None:
    from stream_cdc_spark.sinks.queue import InMemoryQueue, foreach_batch_writer
    from stream_cdc_spark.sources.state import ParquetKVState
    from stream_cdc_spark.streaming.pipeline import replay_stream
    from stream_cdc_spark.tables import load

    def _cdc_replay(spark, path, **opts):
        from stream_cdc_spark.sources.cdc_replay import register as _reg

        _reg(spark)
        reader = spark.readStream.format("cdc_replay").option("path", path)
        for k, v in opts.items():
            reader = reader.option(k, str(v))
        return reader.load()

    from stream_cdc_spark.sources.kafka import kafka_debezium_stream

    from stream_cdc_spark.sources.mongo import change_stream
    from stream_cdc_spark.sources.postgres import wal2json_stream

    datasource_registry.register("events_replay", replay_stream)
    datasource_registry.register("parquet", load)
    datasource_registry.register("cdc_replay", _cdc_replay)
    datasource_registry.register("kafka-debezium", kafka_debezium_stream)
    # Logical-decoding feeds the reference anticipated but never shipped
    # (datasources/base.py:10-11): wal2json v2 spools and MongoDB
    # change-stream spools, parsed to the same envelope.
    datasource_registry.register("postgres-wal2json", wal2json_stream)
    datasource_registry.register("mongo-changestream", change_stream)
    # File formats the reference lacks entirely (SURVEY §2.2 scans) —
    # stock Spark readers behind the same registry contract.
    datasource_registry.register(
        "csv",
        lambda spark, path, **opts: spark.read.options(
            header="true", inferSchema="true", **opts
        ).csv(path),
    )
    datasource_registry.register(
        "json", lambda spark, path, **opts: spark.read.options(**opts).json(path)
    )
    datasource_registry.register(
        "orc", lambda spark, path, **opts: spark.read.options(**opts).orc(path)
    )
    # Media/blob ingest: one row per file with the raw bytes — the scan
    # side of the multimodal pipeline (operators/multimodal.py). Columns:
    # path, modificationTime, length, content (binary). pathGlobFilter /
    # recursiveFileLookup pass through as options.
    datasource_registry.register(
        "binary_file",
        lambda spark, path, **opts: spark.read.format("binaryFile")
        .options(**opts)
        .load(path),
    )
    sink_registry.register(
        "memory_queue",
        lambda client=None, **kw: foreach_batch_writer(
            (lambda: client) if client is not None else InMemoryQueue, **kw
        ),
    )

    def _curation_sink(state_dir, **kw):
        from stream_cdc_spark.streaming.curation import CurationPipeline

        return CurationPipeline(state_dir, **kw).sink()

    # Continuous corpus curation (quality gates + incremental dedup
    # admission with durable batch-versioned state) as a config-wirable
    # sink: PIPELINE=curation CURATION_STATE_DIR=...
    sink_registry.register("curation", _curation_sink)

    def _lsh_dedup_sink(state_dir, **kw):
        from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot

        return LshDedupSnapshot(state_dir, **kw).sink

    # Continuous near-dup match emission over a document feed — the
    # snapshot-join twin of streaming.stateful.lsh_dedup_stream, built
    # for bulk drains: PIPELINE=lsh_dedup STATE_DIR=...
    sink_registry.register("lsh_dedup", _lsh_dedup_sink)

    def _load_centroids(name, centroids, centroids_path):
        if centroids is not None:
            return centroids
        if not centroids_path:
            raise ValueError(
                f"{name} sink needs `centroids` or `centroids_path` "
                "(a parquet of (cid bigint, cv array<float>) — the "
                "offline-trained IVF coarse quantizer, e.g. "
                "operators/clustering k-means output)"
            )
        import pyarrow.parquet as pq

        table = pq.read_table(centroids_path)
        missing = {"cid", "cv"} - set(table.column_names)
        if missing:
            raise ValueError(
                f"{name} centroids at {centroids_path!r} must have "
                f"columns (cid bigint, cv array<float>); missing "
                f"{sorted(missing)} (found {table.column_names})"
            )
        return [(r["cid"], list(r["cv"])) for r in table.to_pylist()]

    def _versioned_ann_sink(state_dir, centroids=None, centroids_path=None,
                            **kw):
        from stream_cdc_spark.streaming.ann_index import (
            VersionedAnnIndexSnapshot,
        )

        centroids = _load_centroids(
            "ann_index_versioned", centroids, centroids_path
        )
        return VersionedAnnIndexSnapshot(
            state_dir, centroids, **kw
        ).foreach_batch

    # Continuous IVF ANN index admission over a (vec_id, version,
    # embedding) UPSERT feed with version-max reads — re-embeddings
    # supersede prior vectors; a version-less feed admits at version 0
    # (the streaming twin of q44's batch index build):
    # PIPELINE=ann_index_versioned CENTROIDS_PATH=... (streaming/ann_index.py)
    sink_registry.register("ann_index_versioned", _versioned_ann_sink)

    def _cdc_full_sink(state_dir, centroids=None, centroids_path=None,
                       _return_pipeline=False, major_every=0, **kw):
        from stream_cdc_spark.streaming.cdc_full import CdcFullPipeline

        # perfbench/workload.py still passes major_every=0 (one fold
        # level); the next change to perfbench/ drops the keyword there
        # and this check here
        if major_every != 0:
            raise ValueError(
                f"cdc_full: major_every={major_every!r} asks for leveled "
                f"compaction, which was removed; state folds at one level "
                f"(compact_every)"
            )
        centroids = _load_centroids("cdc_full", centroids, centroids_path)
        pipe = CdcFullPipeline(state_dir, centroids, **kw)
        # the CLI keeps the object (its delete_batch fans the deletion
        # feed into both indexes); plain sink wiring gets the callable
        return pipe if _return_pipeline else pipe.foreach_batch

    # The composed production pipeline: one CDC envelope feed -> quality
    # gate + versioned retrieval index + versioned ANN index under one
    # checkpoint: PIPELINE=cdc_full (streaming/cdc_full.py)
    sink_registry.register("cdc_full", _cdc_full_sink)

    def _versioned_retrieval_sink(state_dir, **kw):
        from stream_cdc_spark.streaming.retrieval_index import (
            VersionedRetrievalIndexSnapshot,
        )

        return VersionedRetrievalIndexSnapshot(state_dir, **kw).foreach_batch

    # Continuous inverted-index (BM25/TF-IDF) admission over a (doc_id,
    # version, text) UPSERT feed with version-max reads — document
    # updates supersede prior images; a version-less feed admits at
    # version 0 (the streaming twin of q89/q54's batch scorers):
    # PIPELINE=retrieval_index_versioned (streaming/retrieval_index.py)
    sink_registry.register(
        "retrieval_index_versioned", _versioned_retrieval_sink
    )
    state_registry.register("parquet_kv", ParquetKVState)


_register_builtins()
