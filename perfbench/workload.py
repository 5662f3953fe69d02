"""The measured process of one benchmark run; ``run.py`` starts it.

Usage (normally only through run.py):
    python3 perfbench/workload.py --workload NAME --seed N --seconds S
        --trace 0|1 --feed DIR --work DIR --result FILE --t0 EPOCH

Both workloads are closed loops: feed files become visible to the stream
one step at a time, and each trigger starts when the previous one commits
(0 s processing-time trigger, then ``processAllAvailable()``). The timed
window starts after a fixed number of warm-up triggers, which count in
``setup_s``, and ends at the first step boundary after ``--seconds``.
Outputs are checked against the reference models in ``feeds.py`` after
the window closes. The pinned values are in ``settings.py``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import feeds  # noqa: E402
import settings as S  # noqa: E402
from tracing import Tracer, children_s  # noqa: E402

# traced runs: the least share of a trigger's, addBatch's or probe
# request's wall that its child spans must cover
MIN_COVERAGE = 0.9


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


_T0 = time.time()


def log(msg: str) -> None:
    print(f"[{time.time() - _T0:7.2f} s] {msg}", file=sys.stderr, flush=True)


def mark_phase(work: str, phase: str) -> None:
    """Tell run.py which phase the run is in (it stops sampling memory
    once the measured part is over)."""
    with open(os.path.join(work, "phase"), "w") as f:
        f.write(phase)
    log(f"phase: {phase}")


class Feeder:
    """Makes generated feed files visible in the stream's input directory,
    in order, as the closed loop asks for more."""

    def __init__(self, files: list[str], dst: str, triggers_per_file: int):
        self.files, self.dst, self.per_file = files, dst, triggers_per_file
        self.linked = 0
        os.makedirs(dst, exist_ok=True)

    def link(self, n: int) -> None:
        for p in self.files[self.linked:self.linked + n]:
            dst = os.path.join(self.dst, os.path.basename(p))
            try:
                os.link(p, dst)
            except OSError:  # no hard links here: copy under a hidden
                # name, which neither reader lists, then rename
                tmp = os.path.join(self.dst, "." + os.path.basename(p))
                shutil.copy2(p, tmp)
                os.replace(tmp, dst)
        self.linked = min(len(self.files), self.linked + n)

    @property
    def triggers(self) -> int:
        return self.linked * self.per_file

    @property
    def exhausted(self) -> bool:
        return self.linked >= len(self.files)


def committed(listener) -> int:
    """Triggers committed so far (progress rows that carried input)."""
    ids = [r["batch_id"] for r in list(listener.rows) if r["input_rows"]]
    return max(ids) + 1 if ids else 0


def run_window(query, listener, feeder: Feeder, step: int, seconds: float):
    """Feed ``step`` files at a time, linking the next step while the last
    available trigger is still running, until ``seconds`` have passed;
    returns (t_start, t_end, triggers)."""
    first = feeder.triggers
    t_start = time.perf_counter()
    feeder.link(step)
    polls = 0
    while not feeder.exhausted:
        deadline = time.time() + 120
        while committed(listener) < feeder.triggers - 1:
            polls += 1
            if polls % 100 == 0 and not query.isActive:
                raise RuntimeError(f"query stopped: {query.exception()}")
            if time.time() > deadline:
                raise RuntimeError("no trigger progress for 120 s")
            time.sleep(0.01)
        elapsed = time.perf_counter() - t_start
        if elapsed >= seconds:
            break
        feeder.link(step)
    query.processAllAvailable()
    t_end = time.perf_counter()
    # progress events reach the listener asynchronously
    deadline = time.time() + 30
    while committed(listener) < feeder.triggers and time.time() < deadline:
        time.sleep(0.01)
    log("window trigger ms: " + " ".join(
        str(r["trigger_ms"]) for r in list(listener.rows) if r["input_rows"]))
    if feeder.exhausted:
        print("warning: feed exhausted before the window closed",
              file=sys.stderr)
    return t_start, t_end, feeder.triggers - first


def progress_by_batch(query) -> dict[int, dict]:
    return {p["batchId"]: p for p in query.recentProgress
            if p.get("numInputRows")}


def parse_ts(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def trigger_spans(tracer: Tracer, progress: dict[int, dict]) -> None:
    """Spark's per-trigger phases as spans: each trigger is a parent whose
    children are the ``durationMs`` phases, laid end to end in the order
    the micro-batch runs them (progress reports durations, not starts), and
    the spans the benchmark's foreachBatch callable recorded are
    re-parented under ``addBatch``."""
    phases = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
              "addBatch", "commitOffsets")
    sinks: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is None and "trigger" in s:
            sinks.setdefault(s["trigger"], []).append(s)
    for bid, p in sorted(progress.items()):
        d = p["durationMs"]
        start = parse_ts(p["timestamp"])
        trig = {"id": len(tracer.spans), "name": "stream.trigger",
                "parent": None, "trigger": bid, "start": start,
                "end": start + d["triggerExecution"] / 1000.0}
        tracer.spans.append(trig)
        at = start
        for ph in phases:
            if ph not in d:
                continue
            rec = {"id": len(tracer.spans), "name": f"stream.{ph}",
                   "parent": trig["id"], "trigger": bid, "start": at,
                   "end": at + d[ph] / 1000.0, "jobs": 0, "self_jobs": 0}
            at = rec["end"]
            tracer.spans.append(rec)
            if ph == "addBatch":
                for s in sinks.get(bid, []):
                    s["parent"] = rec["id"]
        trig["jobs"] = sum(s["jobs"] for s in sinks.get(bid, []))
        trig["self_jobs"] = 0


def span_stats(tracer: Tracer, name: str, keys) -> tuple[float, float]:
    """(median ms, mean jobs) of span ``name`` over the window's
    triggers or requests ``keys`` (a (field, set) pair)."""
    field, wanted = keys
    ss = [s for s in tracer.spans
          if s["name"] == name and s.get(field) in wanted]
    if not ss:
        return 0.0, 0.0
    return (median([1000.0 * (s["end"] - s["start"]) for s in ss]),
            sum(s["self_jobs"] for s in ss) / len(wanted))


def coverage(tracer: Tracer, names: tuple[str, ...], keys) -> list[float]:
    """Share of each ``names`` span's wall that its direct children
    cover, over the window's triggers or requests ``keys`` (a (field, set)
    pair)."""
    field, wanted = keys
    kids = children_s(tracer.spans)
    return [kids.get(s["id"], 0.0) / (s["end"] - s["start"])
            for s in tracer.spans
            if s["name"] in names and s.get(field) in wanted
            and s["end"] > s["start"]]


def check_coverage(out: dict, shares: list[float]) -> float:
    """Count each span whose children cover less than MIN_COVERAGE of it
    as a failed check of the traced run; returns the lowest share."""
    low = [x for x in shares if x < MIN_COVERAGE]
    out["attempted"] += len(shares)
    out["failed"] += len(low)
    if low:
        print(f"{len(low)} spans under {MIN_COVERAGE:.0%} coverage, lowest "
              f"{min(low):.3f}", file=sys.stderr)
    return min(shares) if shares else 0.0


def stream_layers(tracer: Tracer, progress: dict[int, dict],
                  window: set[int], out: dict) -> dict[str, float]:
    ps = [progress[b]["durationMs"] for b in sorted(window) if b in progress]
    trig_jobs = [s["jobs"] for s in tracer.spans
                 if s["name"] == "stream.trigger" and s["trigger"] in window]
    return {
        "stream.latest_offset_ms": median([d.get("latestOffset", 0) for d in ps]),
        "stream.planning_ms": median([d.get("queryPlanning", 0) for d in ps]),
        "stream.commit_ms": median([d.get("walCommit", 0)
                                    + d.get("commitOffsets", 0) for d in ps]),
        "stream.add_batch_ms": median([d.get("addBatch", 0) for d in ps]),
        "stream.jobs_per_trigger": (sum(trig_jobs) / len(trig_jobs)
                                    if trig_jobs else 0.0),
        "stream.trigger_coverage": check_coverage(out, coverage(
            tracer, ("stream.trigger", "stream.addBatch"),
            ("trigger", window))),
    }


def state_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet") or n.startswith("part-"):
                p = os.path.join(dirpath, n)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return out


# --- cdc_queue ------------------------------------------------------------


def check_message(m: dict, expected: dict[int, str],
                  big: dict[str, int]) -> tuple[int | None, bool]:
    """(seq, ok) of one queue message: its hash attribute matches its
    body, and the body is either the exact expected payload or, for a
    payload over the size cap, a reference to it."""
    body, attrs = m["MessageBody"], m["MessageAttributes"]
    ok = hashlib.sha256(body.encode()).hexdigest() == attrs["content_sha256"]
    if attrs.get("oversized") == "true":
        ref = json.loads(body)
        seq = big.get(ref.get("message_id"))
        return seq, (ok and seq is not None
                     and ref.get("message_type") == "reference"
                     and ref.get("original_size") == len(expected[seq].encode()))
    seq = json.loads(body)["seq"]
    return seq, (ok and body == expected.get(seq)
                 and len(body.encode()) <= feeds.MAX_MESSAGE_BYTES)


def cdc_queue(spark, tracer: Tracer, a, listener) -> dict:
    from stream_cdc_spark.config import AppConfig
    from stream_cdc_spark.filters import FilterChain
    from stream_cdc_spark.sinks.queue import (
        FileQueue,
        QueueSink,
        foreach_batch_writer,
    )
    from stream_cdc_spark.sources import datasource_registry
    from stream_cdc_spark.sources.cdc_replay import (
        SERVER_UUID,
        CdcReplayStreamReader,
    )
    from stream_cdc_spark.streaming.pipeline import CdcPipeline

    b_events = S.QUEUE_BATCH_EVENTS
    files = sorted(glob.glob(os.path.join(a.feed, "part-*.parquet")))
    src_dir = os.path.join(a.work, "events")
    qdir = os.path.join(a.work, "queue")
    feeder = Feeder(files, src_dir, S.QUEUE_CHUNK_TRIGGERS)
    feeder.link(S.QUEUE_WARMUP_FILES)

    sink = tracer.wrap("sinks.queue.write",
                       foreach_batch_writer(lambda: FileQueue(qdir)),
                       batch_arg=True)
    source = datasource_registry.create(
        "cdc_replay", spark=spark, path=src_dir, batchEvents=b_events)
    log("source created")
    pipe = CdcPipeline(spark, source, sink,
                       checkpoint_dir=os.path.join(a.work, "ckpt"),
                       config=AppConfig(flush_interval=0.0),
                       filters=FilterChain())
    query = pipe.start(available_now=False)
    log("query started")
    query.processAllAvailable()
    log(f"warm-up done: {feeder.triggers} triggers")
    t_start, t_end, n_window = run_window(query, listener, feeder, 1,
                                          a.seconds)
    mark_phase(a.work, "check")
    progress = progress_by_batch(query)
    query.stop()
    n_trig = feeder.triggers
    window = set(range(n_trig - n_window, n_trig))
    trig_ms = [r["trigger_ms"] for r in listener.rows
               if r["input_rows"] and r["batch_id"] in window]

    # -- checks: one message per event, exact bodies, hashes, references
    expected = feeds.queue_expected(files[:feeder.linked], SERVER_UUID)
    log("expected payloads built")
    big = {hashlib.sha256(p.encode()).hexdigest(): s
           for s, p in expected.items()
           if len(p.encode()) > feeds.MAX_MESSAGE_BYTES}
    seen: dict[int, int] = {}
    bad = 0
    q_files = glob.glob(os.path.join(qdir, "batch-*.jsonl"))
    q_bytes = 0
    for fname in q_files:
        q_bytes += os.path.getsize(fname)
        with open(fname) as f:
            for line in f:
                try:
                    seq, ok = check_message(json.loads(line), expected, big)
                except (ValueError, KeyError, TypeError, AttributeError):
                    seq, ok = None, False
                if seq is not None:
                    seen[seq] = seen.get(seq, 0) + 1
                bad += not ok
    missing = sum(1 for s in expected if s not in seen)
    dupes = sum(n - 1 for n in seen.values() if n > 1)
    extra = sum(1 for s in seen if s not in expected)
    failed = bad + missing + dupes + extra
    print(f"cdc_queue check: {len(expected)} events, {len(big)} oversize, "
          f"{bad} bad, {missing} missing, {dupes} duplicate, {extra} extra",
          file=sys.stderr)

    out = {
        "attempted": len(expected), "failed": failed,
        "window_s": t_end - t_start, "t_start": t_start,
        "throughput_per_s": n_window * b_events / (t_end - t_start),
        "samples": trig_ms,
        "layers": {},
    }
    if tracer.enabled:
        tracer.count_jobs()
        trigger_spans(tracer, progress)
        L = stream_layers(tracer, progress, window, out)
        L["sinks.queue.write_ms"], _ = span_stats(
            tracer, "sinks.queue.write", ("trigger", window))
        L["sinks.queue.requests_per_trigger"] = len(q_files) / n_trig
        L["sinks.queue.bytes_per_trigger"] = q_bytes / n_trig
        # the reader's read() and QueueSink.send over the window's own
        # ranges and payloads, called in this process
        reader = CdcReplayStreamReader({"path": src_dir,
                                        "batchEvents": str(b_events)})
        t, n = 0.0, 0
        for bid in sorted(window):
            t0 = time.perf_counter()
            for part in reader.partitions({"seq": bid * b_events},
                                          {"seq": (bid + 1) * b_events}):
                n += sum(1 for _ in reader.read(part))
            t += time.perf_counter() - t0
        L["sources.cdc_replay.read_us_per_event"] = 1e6 * t / max(n, 1)
        send_dir = os.path.join(a.work, "send")
        qs = QueueSink(lambda: FileQueue(send_dir))
        t, n = 0.0, 0
        for bid in sorted(window):
            msgs = [expected[s] for s in range(bid * b_events,
                                               (bid + 1) * b_events)]
            t0 = time.perf_counter()
            n += qs.send(msgs)
            t += time.perf_counter() - t0
        L["sinks.queue.send_us_per_msg"] = 1e6 * t / max(n, 1)
        out["layers"] = L
    return out


# --- cdc_full -------------------------------------------------------------


def make_pipe(spark, tracer: Tracer, state_dir: str, seed: int):
    from stream_cdc_spark.sources import sink_registry

    pipe = sink_registry.create(
        "cdc_full", state_dir=state_dir, centroids=feeds.centroids(seed),
        min_tokens=feeds.MIN_TOKENS, compact_every=S.FOLD_EVERY, major_every=0,
        _return_pipeline=True)
    for leg, layer in ((pipe.retr, "retrieval_index"), (pipe.ann, "ann_index")):
        for meth, label in (("foreach_batch", "foreach_batch"),
                            ("delete_versions_batch", "delete_versions")):
            setattr(leg, meth, tracer.wrap(f"{layer}.{label}",
                                           getattr(leg, meth)))
    for leg, meth, layer in ((pipe.retr, "bm25_topk", "retrieval_index"),
                             (pipe.ann, "topk", "ann_index")):
        setattr(leg, meth, tracer.wrap(f"{layer}.{meth}", getattr(leg, meth)))
    return pipe


def start_full_stream(spark, tracer: Tracer, pipe, a, src_dir: str,
                      fold_log: list):
    from stream_cdc_spark.streaming.cdc_full import CDC_FULL_FEED_SCHEMA

    body = tracer.wrap("cdc_full.foreach_batch", pipe.foreach_batch,
                       batch_arg=True)
    if tracer.enabled:
        state = {"files": state_files(pipe.state_dir)}

        def sink(df, bid):
            body(df, bid)
            # trace-only bookkeeping, under a span of its own: it counts in
            # addBatch's coverage and comes off the statedir trigger times
            with tracer.span("statedir.list", trigger=bid):
                now = state_files(pipe.state_dir)
            new = {p: n for p, n in now.items() if p not in state["files"]}
            fold_log.append({
                "trigger": bid, "files": len(new), "bytes": sum(new.values()),
                "fold": any("/compact=" in p for p in new)})
            state["files"] = now
    else:
        sink = body
    stream = (
        spark.readStream.schema(CDC_FULL_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(a.work, "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )


def references(spark, model: dict, seed: int, terms: list[list[str]],
               vectors: list[list[float]]):
    """Batch BM25 / IVF results over the modelled latest-live corpus."""
    from stream_cdc_spark.operators import similarity, text as T

    live = sorted(model["live"].items())
    corpus_t = spark.createDataFrame([(d, t) for d, (t, _) in live],
                                     "doc_id bigint, text string")
    corpus_v = spark.createDataFrame([(d, v) for d, (_, v) in live],
                                     "vec_id bigint, embedding array<float>")
    cents = spark.createDataFrame(feeds.centroids(seed),
                                  "cid bigint, cv array<float>")
    bm25 = [sorted(map(tuple, T.bm25_topk(corpus_t, ts,
                                          top_k=S.BM25_TOP_K).collect()))
            for ts in terms]
    rows = similarity.ivf_ann_topk(
        corpus_v, query_frame(spark, vectors, None), cents, k=S.PROBE_K,
        nprobe=S.PROBE_NPROBE, quantize_bp=10000).collect()
    ann = [sorted(tuple(r) for r in rows if r["q_id"] == i)
           for i in range(len(vectors))]
    return bm25, ann


def query_frame(spark, vectors: list[list[float]], i: int | None):
    rows = [(q, v) for q, v in enumerate(vectors) if i is None or q == i]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def cdc_full_ingest(spark, tracer: Tracer, a, listener) -> dict:
    files = sorted(glob.glob(os.path.join(a.feed, "env-*.parquet")))
    src_dir = os.path.join(a.work, "feed")
    state_dir = os.path.join(a.work, "state")
    pipe = make_pipe(spark, tracer, state_dir, a.seed)
    feeder = Feeder(files, src_dir, 1)
    feeder.link(S.FULL_WARMUP_TRIGGERS)
    fold_log: list[dict] = []
    query = start_full_stream(spark, tracer, pipe, a, src_dir, fold_log)
    log("query started")
    query.processAllAvailable()
    log(f"warm-up done: {feeder.triggers} triggers")
    # the window is whole fold cycles: each holds exactly one fold trigger
    t_start, t_end, n_window = run_window(query, listener, feeder,
                                          S.FOLD_EVERY, a.seconds)
    mark_phase(a.work, "check")
    progress = progress_by_batch(query)
    query.stop()
    n_trig = feeder.triggers
    window = set(range(n_trig - n_window, n_trig))
    trig_ms = [r["trigger_ms"] for r in listener.rows
               if r["input_rows"] and r["batch_id"] in window]
    envelopes = sum(
        progress[b]["numInputRows"] for b in window if b in progress)

    # -- probe phase, outside the window: the index now holds a folded
    # base plus deltas. One client alternates bm25_topk and topk and waits
    # for each reply; every reply must equal the batch reference over the
    # modelled latest-live gated corpus, and the ledgers must be exact.
    model = feeds.full_model(files[:n_trig])
    terms = feeds.probe_terms(a.seed, S.PROBE_SETS)
    vectors = feeds.probe_vectors(a.seed, S.PROBE_SETS)
    want_b, want_a = references(spark, model, a.seed, terms, vectors)
    log("references computed")
    qframes = [query_frame(spark, vectors, i) for i in range(len(vectors))]
    files_at_serve = len(state_files(state_dir))
    failed = n_trig - len([b for b in range(n_trig) if b in progress])
    for j in range(len(terms)):
        with tracer.span("serve.request", request=j):
            df = pipe.retr.bm25_topk(spark, terms[j], top_k=S.BM25_TOP_K)
            with tracer.span("retrieval_index.bm25_collect"):
                got_b = sorted(map(tuple, df.collect()))
            df = pipe.ann.topk(spark, qframes[j], k=S.PROBE_K,
                               nprobe=S.PROBE_NPROBE)
            with tracer.span("ann_index.topk_collect"):
                got_a = sorted(map(tuple, df.collect()))
        failed += (got_b != want_b[j]) + (got_a != want_a[j])
    log("probes done")
    ledgers = [pipe.retr.docs(spark).count(), pipe.ann.ledger(spark).count()]
    failed += sum(n != model["ledger_rows"] for n in ledgers)
    print(f"cdc_full_ingest check: {n_trig} triggers, ledgers {ledgers} vs "
          f"{model['ledger_rows']}, {len(model['live'])} live docs, "
          f"{failed} failed", file=sys.stderr)
    out = {
        "attempted": n_trig + 2 * len(terms) + len(ledgers),
        "failed": failed,
        "window_s": t_end - t_start, "t_start": t_start,
        "throughput_per_s": envelopes / (t_end - t_start),
        "samples": trig_ms,
        "layers": {},
    }
    if tracer.enabled:
        tracer.count_jobs()
        trigger_spans(tracer, progress)
        L = stream_layers(tracer, progress, window, out)
        key = ("trigger", window)
        L["cdc_full.foreach_batch_ms"], L["cdc_full.jobs"] = span_stats(
            tracer, "cdc_full.foreach_batch", key)
        kids = children_s(tracer.spans)
        L["cdc_full.self_ms"] = median([
            1000.0 * (s["end"] - s["start"] - kids.get(s["id"], 0.0))
            for s in tracer.spans
            if s["name"] == "cdc_full.foreach_batch" and s["trigger"] in window])
        for name in ("retrieval_index.foreach_batch", "ann_index.foreach_batch",
                     "retrieval_index.delete_versions",
                     "ann_index.delete_versions"):
            L[f"{name}_ms"], L[f"{name}.jobs"] = span_stats(tracer, name, key)
        folds = [f for f in fold_log if f["trigger"] in window]
        list_ms = {s["trigger"]: 1000.0 * (s["end"] - s["start"])
                   for s in tracer.spans if s["name"] == "statedir.list"}
        trig_of = {b: progress[b]["durationMs"]["triggerExecution"]
                   - list_ms.get(b, 0.0) for b in window if b in progress}
        L["statedir.fold_trigger_ms"] = median(
            [trig_of[f["trigger"]] for f in folds if f["fold"]])
        L["statedir.plain_trigger_ms"] = median(
            [trig_of[f["trigger"]] for f in folds if not f["fold"]])
        L["statedir.files_committed"] = (
            sum(f["files"] for f in folds) / max(len(folds), 1))
        L["statedir.bytes_committed"] = (
            sum(f["bytes"] for f in folds) / max(len(folds), 1))
        key = ("request", set(range(len(terms))))
        for name in ("retrieval_index.bm25_topk", "retrieval_index.bm25_collect",
                     "ann_index.topk", "ann_index.topk_collect"):
            L[f"{name}_ms"], L[f"{name}.jobs"] = span_stats(tracer, name, key)
        L["serve.request_coverage"] = check_coverage(
            out, coverage(tracer, ("serve.request",), key))
        L["statedir.files_at_serve"] = files_at_serve
        out["layers"] = L
    return out


WORKLOADS = {"cdc_queue": cdc_queue, "cdc_full_ingest": cdc_full_ingest}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--feed", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--t0", type=float, required=True)
    a = p.parse_args()

    from stream_cdc_spark.observability import StreamingMetricsListener
    from stream_cdc_spark.session import get_spark

    conf = {
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.warehouse.dir": os.path.join(a.work, "warehouse"),
        # keep the JVM's temp and perf-data files inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(a.work, 'tmp')} -XX:-UsePerfData",
        "spark.driver.memory": S.DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
    }
    if a.trace:
        # keep every job in the status store, for per-span job counts
        conf["spark.ui.retainedJobs"] = "1000000"
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{a.workload}", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    log(f"session ready in {get_spark_s:.2f} s")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark.sparkContext, bool(a.trace))
    listener = StreamingMetricsListener()
    listener.attach(spark)
    try:
        r = WORKLOADS[a.workload](spark, tracer, a, listener)
    finally:
        listener.detach(spark)
    # perf_counter and time.time share no origin: rebase the window start
    setup_s = time.time() - (time.perf_counter() - r["t_start"]) - a.t0
    result = {
        "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {
            "setup_s": setup_s,
            "throughput_per_s": r["throughput_per_s"],
            "latency_p50_ms": median(r["samples"]),
        },
        "samples": len(r["samples"]),
        "window_s": r["window_s"],
        "layers": {"session.get_spark_s": get_spark_s, **r["layers"]},
        "spans": tracer.spans,
    }
    with open(a.result + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(a.result + ".tmp", a.result)
    log("result written")
    spark.stop()
    log("session stopped")
    return 0


if __name__ == "__main__":
    sys.exit(main())
