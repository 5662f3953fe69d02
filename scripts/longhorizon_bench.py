#!/usr/bin/env python
"""Long-horizon state benchmark (round-6 verdict tasks 1 + 7): drive the
batch-versioned sinks for HUNDREDS-to-THOUSANDS of micro-batches and
record per-batch latency + on-disk metadata growth, proving compaction
keeps both flat where the round-5 layout grew linearly with stream age.

Three sections:
  lsh_drain   — LshDedupSnapshot over >= 1000 micro-batches
  curation    — CurationPipeline over >= 200 micro-batches (10x corpus)
  media       — MediaDedupSnapshot over >= 300 micro-batches of raster
                thumbnails (round-7 verdict task 3), with an end-of-run
                bit-equality check against the batch operator
                (multimodal.dhash_near_duplicates) over the same corpus

Micro-batches are dispatched by calling the sinks' foreach_batch
directly (the exact state/commit/compaction code path a writeStream
trigger runs) so the measurement isolates SINK cost from source-ingest
trigger overhead; per-batch wall therefore equals the state-layer
latency the verdict asks to see flat.

Usage:
  python scripts/longhorizon_bench.py lsh_drain [n_batches] [compact_every]
  python scripts/longhorizon_bench.py curation  [n_batches] [compact_every]

Prints ONE JSON line with per-segment latency means (first/mid/last
10%), a latency slope estimate, and dir/file counts sampled along the
run — flat means the last segment is within noise of the first and dir
counts stay bounded by compact_every.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stream_cdc_spark.session import get_spark  # noqa: E402
from stream_cdc_spark.streaming import statedir  # noqa: E402


def _state_stats(state_dir: str, subs) -> dict:
    out = {"batch_dirs": 0, "compact_dirs": 0, "files": 0}
    for sub in subs:
        c = statedir.dir_counts(os.path.join(state_dir, sub))
        out["batch_dirs"] += c["batch"]
        out["compact_dirs"] += c["compact"]
        out["files"] += c["files"]
    return out


def _segments(walls: list[float]) -> dict:
    n = len(walls)
    k = max(1, n // 10)
    seg = lambda xs: round(sum(xs) / len(xs), 3)  # noqa: E731
    mid = walls[(n - k) // 2 : (n - k) // 2 + k]
    return {
        "first_decile_mean_s": seg(walls[:k]),
        "mid_decile_mean_s": seg(mid),
        "last_decile_mean_s": seg(walls[-k:]),
        "max_s": round(max(walls), 3),
        "p50_s": round(sorted(walls)[n // 2], 3),
        "p95_s": round(sorted(walls)[int(n * 0.95)], 3),
    }


def run(section: str, n_batches: int, compact_every: int) -> None:
    spark = get_spark(app_name=f"stream-cdc-spark-longhorizon-{section}")
    spark.sparkContext.setLogLevel("ERROR")
    work = f"/tmp/longhorizon-{section}-{compact_every}"
    shutil.rmtree(work, ignore_errors=True)
    state = os.path.join(work, "state")

    if section == "lsh_drain":
        from stream_cdc_spark.streaming.lsh_snapshot import LshDedupSnapshot

        docs_path = os.environ.get(
            "LONGHORIZON_DOCS", "/root/testdata/sf0.1/documents.parquet"
        )
        sink = LshDedupSnapshot(
            state,
            compact_every=compact_every,
            # LONGHORIZON_BUCKETED=1: run the 100 TB configuration — a
            # bucketed snapshot tier folded per bucket — over the whole
            # horizon
            bucketed=os.environ.get("LONGHORIZON_BUCKETED", "0") == "1",
        )
        subs = ("sigs", "index", "counts", "matches")
    elif section == "media":
        from stream_cdc_spark.streaming.media_dedup import MediaDedupSnapshot

        docs_path = os.environ.get(
            "LONGHORIZON_DOCS", "/root/testdata/sf0.1/documents.parquet"
        )
        sink = MediaDedupSnapshot(state, compact_every=compact_every)
        subs = ("sigs", "index", "matches")
    else:
        from stream_cdc_spark.streaming.curation import CurationPipeline

        docs_path = os.environ.get(
            "LONGHORIZON_DOCS", ".scale/sf10x0.1/documents.parquet"
        )
        sink = CurationPipeline(
            state, min_tokens=5, compact_every=compact_every
        )
        subs = ("decisions", "kept", "index")

    if section == "media":
        # deterministic 9x8 raster thumbnails from the documents table —
        # the q129/q130 media tier (md5 hex pair per word)
        toks = F.split(F.col("text"), " ")
        hexes = F.transform(
            F.sequence(F.lit(0), F.lit(71)),
            lambda i: F.substring(
                F.md5(F.coalesce(F.get(toks, i), F.lit(""))), 1, 2
            ),
        )
        d = spark.read.parquet(docs_path).select(
            F.col("doc_id").alias("media_id"),
            F.to_binary(F.concat_ws("", hexes), F.lit("hex")).alias("blob"),
        )
        feed_cols = ["media_id", "blob"]
        d = d.withColumn("__b", (F.col("media_id") % n_batches).cast("int"))
    else:
        feed_cols = ["doc_id", "text"]
        d = (
            spark.read.parquet(docs_path)
            .select("doc_id", "text")
            .withColumn("__b", (F.col("doc_id") % n_batches).cast("int"))
        )
    n_docs = d.count()
    # materialize the per-batch slices once, partitioned by batch id, so
    # per-trigger input construction is one pruned-partition read (the
    # feed itself must not grow with stream age either)
    feed = os.path.join(work, "feed")
    d.write.partitionBy("__b").mode("overwrite").parquet(feed)

    walls = []
    dir_curve = []
    t_all = time.time()
    for b in range(n_batches):
        batch_df = spark.read.parquet(os.path.join(feed, f"__b={b}")).select(
            *feed_cols
        )
        t0 = time.time()
        sink.foreach_batch(batch_df, b)
        walls.append(time.time() - t0)
        if b % max(1, n_batches // 20) == 0 or b == n_batches - 1:
            s = _state_stats(state, subs)
            s["batch"] = b
            dir_curve.append(s)
    total = time.time() - t_all

    out = {
        "metric": f"longhorizon_{section}",
        "docs": n_docs,
        "n_batches": n_batches,
        "compact_every": compact_every,
        "total_wall_s": round(total, 1),
        "docs_per_s": round(n_docs / total, 1),
        "latency": _segments(walls),
        "dir_curve": dir_curve,
    }
    if section == "lsh_drain":
        out["distinct_pairs"] = (
            sink.matches(spark).select("doc_id", "dup_of").distinct().count()
        )
        out["processed"] = sink.processed(spark).count()
    elif section == "media":
        from stream_cdc_spark.operators.multimodal import dhash_near_duplicates

        got = (
            sink.matches(spark)
            .select(
                F.col("media_id").alias("hi"), F.col("dup_of").alias("lo")
            )
            .distinct()
        )
        want = (
            dhash_near_duplicates(d.select("media_id", "blob"))
            .select(F.col("id_b").alias("hi"), F.col("id_a").alias("lo"))
            .distinct()
        )
        out["distinct_pairs"] = got.count()
        out["batch_pairs"] = want.count()
        out["batch_equal"] = (
            got.exceptAll(want).count() == 0
            and want.exceptAll(got).count() == 0
        )
        out["processed"] = sink.processed(spark).count()
    else:
        dec = sink.decisions(spark)
        out["decisions"] = dec.count()
        out["kept"] = dec.filter("keep").count()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    section = sys.argv[1] if len(sys.argv) > 1 else "lsh_drain"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else (1000 if section == "lsh_drain" else 200)
    every = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    run(section, n, every)
