"""Plan-shape utilities shared by operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Repartition iff the input is under-parallel for the session.

    Small parquet files (one row-group) scan as a single partition; any
    fan-out operator downstream (explode, per-row scoring) then runs on one
    core. Only exchange-free inputs are probed: an input whose executed
    plan is an ``AdaptiveSparkPlan`` (it has an exchange) already gets
    its partitioning from that shuffle, and probing it would not be
    free — ``df.rdd`` on an adaptive plan runs every shuffle map stage
    to finalize the plan, and the consumer then runs them again. The
    probe of an exchange-free plan goes through ``df.rdd`` (no job, but
    it forces planning and is unavailable under Spark Connect), so it is
    gated: by default (``auto``) it only runs on local[*] masters — at
    cluster scale inputs arrive well-partitioned and the whole call is a
    lazy no-op. ``spark.stream_cdc.ensureParallelism`` = ``on``/``off``
    overrides.
    """
    spark = df.sparkSession
    mode = spark.conf.get("spark.stream_cdc.ensureParallelism", "auto")
    if mode == "off":
        return df
    try:
        sc = spark.sparkContext
    except Exception:
        # Spark Connect exposes no sparkContext; treat the input as
        # well-partitioned rather than forcing a round-trip.
        return df
    if mode == "auto" and not sc.master.startswith("local"):
        return df
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return df
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_fraction)):
        return df.repartition(target)
    return df
