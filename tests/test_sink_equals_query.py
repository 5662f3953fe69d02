"""Each incremental sink, drained with its registry query's own slices,
equals that query's batch plan — Structured Streaming's prefix
consistency (the incremental result equals the batch query over the
same prefix).

q135-q139 are batch plans: connected components, or the latest live
image per id (compaction.versioned_latest_live) scored by the batch
IVF / BM25 operators. Their slices and events come from helpers in
plans/queries.py; these tests feed the SAME slices to the statedir sink
one trigger each — upserts and edges through ``foreach_batch``,
``delete`` events through ``delete_batch``, ``vdelete`` events through
``delete_versions_batch`` — and compare the sink's labels or probe with
the query's rows. One query per sink surface runs in the default tier;
the insert-only q136/q137 run in the slow tier.
"""

from __future__ import annotations

import pytest

from stream_cdc_spark.plans import queries
from stream_cdc_spark.streaming.ann_index import VersionedAnnIndexSnapshot
from stream_cdc_spark.streaming.components import (
    IncrementalComponentsSnapshot,
)
from stream_cdc_spark.streaming.retrieval_index import (
    VersionedRetrievalIndexSnapshot,
)
from tests.conftest import SF_SMALL


def _drain(sink, events) -> None:
    for batch_id, (kind, df) in enumerate(events):
        if kind == "delete":
            sink.delete_batch(df, batch_id)
        elif kind == "vdelete":
            sink.delete_versions_batch(df, batch_id)
        else:
            sink.foreach_batch(df, batch_id)


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _components(spark, state_dir, query):
    sink = IncrementalComponentsSnapshot(state_dir)
    for batch_id, edges in enumerate(queries._q135_slices(spark, SF_SMALL)):
        sink.foreach_batch(edges, batch_id)
    return sink.labels(spark).orderBy("vertex")


def _ann(spark, state_dir, query):
    cents, q = queries._ivf_probe_inputs(spark, SF_SMALL)
    sink = VersionedAnnIndexSnapshot(
        state_dir, [(r["cid"], list(r["cv"])) for r in cents.collect()]
    )
    _drain(sink, getattr(queries, f"_{query}_events")(spark, SF_SMALL))
    return sink.topk(spark, q, k=5, nprobe=2).orderBy("q_id", "rank")


def _retrieval(spark, state_dir, query):
    sink = VersionedRetrievalIndexSnapshot(state_dir)
    _drain(sink, getattr(queries, f"_{query}_events")(spark, SF_SMALL))
    return sink.bm25_topk(spark, queries._BM25_TERMS, top_k=15)


@pytest.mark.parametrize(
    "query, drain",
    [
        ("q135", _components),
        pytest.param("q136", _ann, marks=pytest.mark.slow),
        pytest.param("q137", _retrieval, marks=pytest.mark.slow),
        ("q138", _retrieval),
        ("q139", _ann),
    ],
)
def test_drained_sink_equals_registry_query(spark, tmp_path, query, drain):
    want = _rows(getattr(queries, query)(spark, SF_SMALL))
    assert want, f"{query} is empty at {SF_SMALL}: the check proves nothing"
    assert _rows(drain(spark, str(tmp_path / "state"), query)) == want
