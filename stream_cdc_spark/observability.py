"""Observability: per-query execution metrics.

Parity surface for the reference's profiling harness
(stream_cdc/profiling/profiler.py:66-100, profile_app.py:70-140),
re-expressed for Spark: instead
of cProfile around single-process functions, pull the SQL metrics Spark
already aggregates per execution (shuffle bytes, scan bytes/files, spills,
output rows) out of the SQLAppStatusStore — works headless (spark.ui
disabled), no listener registration or event-log round-trip needed, and
the numbers are the executors' own, not a driver-side sample.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# SQL metric values arrive human-formatted ("26.5 KiB", "1,000",
# "1.0 s (0 ms, 2 ms, 5 ms)"); normalize to plain numbers (bytes / ms / count).
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def parse_metric_value(raw: str) -> float | None:
    head = raw.strip().split("(")[0].strip().replace(",", "")
    m = re.match(r"^(-?[0-9.]+)\s*([A-Za-z]*)$", head)
    if not m:
        return None
    num, unit = float(m.group(1)), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num if unit == "" else None


def parse_node_metric(raw: str) -> float | None:
    """Node-level metric values come in two display shapes: a plain
    ``"507 ms"`` / ``"1,018.0 KiB"``, or a two-line
    ``"total (min, med, max (stageId: taskId))\\n33 ms (0 ms, ...)"``
    where the first line is a header. Normalize both to a number via the
    last non-empty line's leading total."""
    lines = [ln for ln in raw.strip().splitlines() if ln.strip()]
    if not lines:
        return None
    return parse_metric_value(lines[-1])


# metric display name -> output key; values summed over all plan nodes of
# every execution the measured action spawned
_CAPTURE = {
    "shuffle bytes written": "shuffle_bytes",
    "shuffle records written": "shuffle_records",
    "size of files read": "scan_bytes",
    "number of files read": "files_read",
    "spill size": "spill_bytes",
    "number of output rows": "operator_rows",
}


@dataclass
class QueryMetrics:
    name: str
    wall_s: float
    result_rows: int
    executions: int
    sums: dict[str, float] = field(default_factory=dict)

    def as_dict(self) -> dict[str, Any]:
        out: dict[str, Any] = {
            "wall_s": round(self.wall_s, 3),
            "result_rows": self.result_rows,
            "executions": self.executions,
        }
        for k, v in sorted(self.sums.items()):
            out[k] = int(v)
        return out


class QueryMetricsCollector:
    """Measure a DataFrame action and attribute Spark's own SQL metrics to
    it: wall time, result rows, and summed shuffle/scan/spill counters for
    every SQL execution the action triggered."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _latest_execution_id(self) -> int:
        execs = self._store.executionsList()
        n = execs.size()
        return int(execs.apply(n - 1).executionId()) if n else -1

    def _metrics_between(self, lo: int, hi: int) -> tuple[dict[str, float], int]:
        sums: dict[str, float] = {}
        count = 0
        execs = self._store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = int(e.executionId())
            if not (lo < eid <= hi):
                continue
            count += 1
            values = self._store.executionMetrics(eid)
            mets = e.metrics()
            it = mets.iterator()
            while it.hasNext():
                m = it.next()
                key = _CAPTURE.get(m.name())
                if key is None:
                    continue
                opt = values.get(m.accumulatorId())
                if not opt.isDefined():
                    continue
                v = parse_metric_value(str(opt.get()))
                if v is not None:
                    sums[key] = sums.get(key, 0.0) + v
        return sums, count

    def measure(self, name: str, df: DataFrame) -> QueryMetrics:
        before = self._latest_execution_id()
        t0 = time.perf_counter()
        rows = df.collect()
        wall = time.perf_counter() - t0
        after = self._latest_execution_id()
        sums, count = self._metrics_between(before, after)
        return QueryMetrics(
            name=name,
            wall_s=wall,
            result_rows=len(rows),
            executions=count,
            sums=sums,
        )

    def measure_lazy(self, name: str, make_df) -> QueryMetrics:
        """``measure`` for queries whose CONSTRUCTION already executes
        Spark jobs (the incremental-index drains run eager
        localCheckpoint folds inside their builder): the execution-id
        window opens BEFORE ``make_df()`` runs, so the drain's
        executions and shuffle/scan sums land in the metrics alongside
        the final collect — wall time covers build + collect too.
        ``measure(name, builder(...))`` would charge only the probe."""
        before = self._latest_execution_id()
        t0 = time.perf_counter()
        rows = make_df().collect()
        wall = time.perf_counter() - t0
        after = self._latest_execution_id()
        sums, count = self._metrics_between(before, after)
        return QueryMetrics(
            name=name,
            wall_s=wall,
            result_rows=len(rows),
            executions=count,
            sums=sums,
        )

    # -- per-operator breakdown (reference profiling parity) -----------

    def node_breakdown(self, lo: int, hi: int) -> list[dict[str, Any]]:
        """Per-plan-node metric rows for every SQL execution in (lo, hi]:
        the Spark-native replacement for the reference's cProfile analyzer
        (profiling/analyze_profile.py) — executor-side times and volumes
        attributed to the physical operator that spent them, pulled from
        the same status store the UI renders."""
        out: list[dict[str, Any]] = []
        execs = self._store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = int(e.executionId())
            if not (lo < eid <= hi):
                continue
            values = self._store.executionMetrics(eid)
            graph = self._store.planGraph(eid)
            nodes = graph.allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                mets = node.metrics()
                parsed: dict[str, float] = {}
                for k in range(mets.size()):
                    m = mets.apply(k)
                    opt = values.get(m.accumulatorId())
                    if not opt.isDefined():
                        continue
                    v = parse_node_metric(str(opt.get()))
                    if v is not None:
                        parsed[m.name()] = v
                if parsed:
                    out.append(
                        {"execution": eid, "node": str(node.name()), "metrics": parsed}
                    )
        return out

    def measure_with_breakdown(
        self, name: str, df: DataFrame
    ) -> tuple[QueryMetrics, list[dict[str, Any]]]:
        before = self._latest_execution_id()
        qm = self.measure(name, df)
        after = self._latest_execution_id()
        return qm, self.node_breakdown(before, after)


# ---------------------------------------------------------------------------
# Bottleneck report (parity with the reference's profiling analyzer:
# stream_cdc/profiling/profile_app.py:70-140 + analyze_profile.py — ranked
# where-did-the-time-go output, from Spark's own executor-side metrics
# instead of a driver-process cProfile sample)
# ---------------------------------------------------------------------------

#: node metric names that measure operator time (ms after parsing)
_TIME_METRICS = (
    "scan time",
    "sort time",
    "time in aggregation build",
    "duration",
    "shuffle write time",
    "fetch wait time",
    "build time",
    "collect batch time",
    "time to build hash map",
)
#: node metric names that measure data volume (bytes after parsing)
_VOLUME_METRICS = (
    "size of files read",
    "shuffle bytes written",
    "spill size",
    "data size",
)


def summarize_nodes(nodes: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Collapse per-execution node rows into one row per physical operator
    name with summed time / volume / rows, ranked by time desc."""
    agg: dict[str, dict[str, float]] = {}
    for row in nodes:
        m = row["metrics"]
        a = agg.setdefault(row["node"], {"time_ms": 0.0, "bytes": 0.0, "rows": 0.0, "spill_bytes": 0.0})
        a["time_ms"] += sum(m.get(k, 0.0) for k in _TIME_METRICS)
        a["bytes"] += sum(m.get(k, 0.0) for k in _VOLUME_METRICS)
        a["rows"] += m.get("number of output rows", 0.0)
        a["spill_bytes"] += m.get("spill size", 0.0)
    out = [
        {"node": k, **{kk: int(vv) for kk, vv in v.items()}} for k, v in agg.items()
    ]
    out.sort(key=lambda r: r["time_ms"], reverse=True)
    return out


def render_bottleneck_report(
    per_query: dict[str, tuple["QueryMetrics", list[dict[str, Any]]]],
    top_n: int = 6,
) -> str:
    """Markdown report: queries ranked by wall time, each with its top-N
    operators by executor time, plus a cross-query operator ranking —
    the 'which operator is the engine's bottleneck' answer the reference's
    analyze_profile.py prints for Python functions."""
    lines = ["# Operator bottleneck report", ""]
    ranked = sorted(per_query.items(), key=lambda kv: kv[1][0].wall_s, reverse=True)
    total = sum(qm.wall_s for qm, _ in per_query.values())
    lines.append(f"Total wall: {total:.2f} s over {len(per_query)} queries.")
    lines.append("")

    global_agg: dict[str, float] = {}
    for name, (qm, nodes) in ranked:
        lines.append(f"## {name} — {qm.wall_s:.2f} s, {qm.result_rows} rows")
        lines.append("")
        lines.append("| operator | time (ms) | rows | volume (MiB) | spill (MiB) |")
        lines.append("|---|---|---|---|---|")
        for r in summarize_nodes(nodes)[:top_n]:
            global_agg[r["node"]] = global_agg.get(r["node"], 0.0) + r["time_ms"]
            lines.append(
                f"| {r['node']} | {r['time_ms']} | {r['rows']} "
                f"| {r['bytes'] / 1048576:.1f} | {r['spill_bytes'] / 1048576:.1f} |"
            )
        lines.append("")

    lines.append("## Cross-query operator ranking (executor ms)")
    lines.append("")
    lines.append("| operator | total time (ms) |")
    lines.append("|---|---|")
    for node, ms in sorted(global_agg.items(), key=lambda kv: -kv[1])[:12]:
        lines.append(f"| {node} | {int(ms)} |")
    lines.append("")
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Streaming observability: per-micro-batch progress capture
# ---------------------------------------------------------------------------


class StreamingMetricsListener:
    """StreamingQueryListener capturing per-micro-batch progress — the
    streaming counterpart of QueryMetricsCollector (which reads the batch
    SQL status store): input rows and rates, batch/commit durations, and
    state-store rows/memory for every stateful operator.

    Backpressure diagnosis at scale reads straight off these rows: a
    rising ``trigger_ms`` with flat ``input_rows`` means the sink or the
    state store is the bottleneck, not ingest; growing
    ``state_rows_total`` bounds the RocksDB working set.

    Usage:
        listener = StreamingMetricsListener()
        listener.attach(spark)   # before query.start()
        ... run query ...
        listener.detach(spark)
        report = listener.progress()   # list of per-batch dicts
    """

    def __init__(self):
        self.rows: list[dict] = []
        self._listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.rows

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                state_rows = 0
                state_mem = 0
                for op in p.stateOperators or []:
                    state_rows += op.numRowsTotal or 0
                    state_mem += op.memoryUsedBytes or 0
                rows.append(
                    {
                        "query_id": str(p.id),
                        "batch_id": p.batchId,
                        "input_rows": p.numInputRows,
                        "rows_per_sec": p.processedRowsPerSecond,
                        "trigger_ms": (p.durationMs or {}).get("triggerExecution"),
                        "commit_ms": (p.durationMs or {}).get("commitOffsets"),
                        "state_rows_total": state_rows,
                        "state_memory_bytes": state_mem,
                    }
                )

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def progress(self) -> list[dict]:
        return list(self.rows)

    def totals(self) -> dict:
        """Roll-up across captured batches."""
        n = len(self.rows)
        return {
            "batches": n,
            "input_rows": sum(r["input_rows"] or 0 for r in self.rows),
            "max_state_rows": max(
                (r["state_rows_total"] for r in self.rows), default=0
            ),
            "max_trigger_ms": max(
                (r["trigger_ms"] or 0 for r in self.rows), default=0
            ),
        }
