#!/usr/bin/env python
"""Measure bulk-drain throughput of the streaming LSH dedup paths on the
10x corpus: LshDedupSnapshot (foreachBatch snapshot joins) vs the
recorded applyInPandasWithState fallback baseline (284 docs/s, round 4).

Usage: python scripts/drain_bench.py [docs_parquet] [--stateful|--bucketed]

--bucketed runs the snapshot sink with bucketed compaction
(compact_every=2 so folds actually occur during an 8-file drain),
measuring the probe against the bucketed snapshot tier at 10x.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_cdc_spark.session import get_spark  # noqa: E402


def main() -> None:
    docs_path = (
        sys.argv[1]
        if len(sys.argv) > 1 and not sys.argv[1].startswith("--")
        else ".scale/sf10x0.1/documents.parquet"
    )
    stateful = "--stateful" in sys.argv
    bucketed = "--bucketed" in sys.argv
    # --leveled: the full 100 TB configuration — bucketed snapshot tier
    # AND leveled L1 deltas at once (major folds publish the bucketed
    # table, minor folds absorb the batch tail at O(recent) cost)
    leveled = "--leveled" in sys.argv
    spark = get_spark(app_name="lsh-drain-bench")
    spark.sparkContext.setLogLevel("ERROR")

    work = "/tmp/lsh-drain-bench"
    shutil.rmtree(work, ignore_errors=True)
    indir, ckpt, state, out = (os.path.join(work, p) for p in
                               ("in", "ckpt", "state", "out"))
    # lay the corpus out as N files so availableNow forms several
    # micro-batches (maxFilesPerTrigger=1), matching a drain of a backlog
    d = spark.read.parquet(docs_path).select("doc_id", "text")
    n_docs = d.count()
    d.repartition(8).write.mode("overwrite").parquet(indir)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", os.environ.get("DRAIN_FILES_PER_TRIGGER", "2"))
        .option("pathGlobFilter", "*.parquet")
        .parquet(indir)
    )
    t0 = time.time()
    if stateful:
        from stream_cdc_spark.streaming.stateful import lsh_dedup_stream

        q = (
            # the bench DELIBERATELY drains a backlog through the
            # per-bucket operator to record its number
            lsh_dedup_stream(stream)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        matches = spark.read.parquet(out).dropDuplicates(
            ["doc_id", "dup_of"]
        ).count()
        path = "stateful"
    else:
        from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot

        if leveled:
            snap = LshDedupSnapshot(
                state, bucketed=True, compact_every=2, major_every=2
            )
        elif bucketed:
            snap = LshDedupSnapshot(state, bucketed=True, compact_every=2)
        else:
            snap = LshDedupSnapshot(state)
        q = (
            stream.writeStream.foreachBatch(snap.sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        matches = snap.matches(spark).dropDuplicates(["doc_id", "dup_of"]).count()
        path = (
            "snapshot_bucketed_leveled"
            if leveled
            else ("snapshot_bucketed" if bucketed else "snapshot")
        )
    print(json.dumps({
        "path": path,
        "docs": n_docs,
        "wall_s": round(wall, 1),
        "docs_per_s": round(n_docs / wall, 1),
        "distinct_matches": matches,
        "vs_r4_fallback_284": round(n_docs / wall / 284.0, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
