"""Operator-level unit tests mirroring the reference's test strategy
(SURVEY §5): envelope mapping, classification, explode, batching/claim-check
boundaries, compaction semantics, Debezium parsing."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from stream_cdc_spark.operators import batching, compaction, envelope
from stream_cdc_spark.operators.util import ensure_parallelism
from tests.conftest import count_jobs


def test_classify_event_type(spark):
    df = spark.createDataFrame(
        [("WriteRowsEvent",), ("UpdateRowsEvent",), ("DeleteRowsEvent",),
         ("c",), ("u",), ("d",), ("QueryEvent",)],
        ["raw"],
    )
    out = df.select(envelope.classify_event_type(F.col("raw")).alias("t")).collect()
    got = [r.t for r in out]
    # mysql.py:344-352 mapping; unknown classes -> NULL (skip path :386-393)
    assert got == ["Insert", "Update", "Delete", "Insert", "Update", "Delete", None]


def test_explode_rows_and_envelope(spark):
    df = spark.createDataFrame(
        [Row(gtid="u:1", rows=[{"id": "1"}, {"id": "2"}]),
         Row(gtid="u:2", rows=[{"id": "3"}])]
    )
    out = envelope.explode_rows(df)
    assert out.count() == 3  # 1 event with N rows -> N records (mysql.py:404-414)
    assert set(out.columns) == {"gtid", "row"}


def test_drop_non_row_events(spark):
    df = spark.createDataFrame(
        [Row(gtid="u:1", rows=[{"a": "1"}]), Row(gtid="u:2", rows=None),
         Row(gtid="u:3", rows=[])]
    )
    assert envelope.drop_non_row_events(df).count() == 1


def test_gtid_parts(spark):
    df = spark.createDataFrame([("550e8400-aaaa:42",)], ["gtid"])
    uuid_c, tx = envelope.gtid_parts(F.col("gtid"))
    r = df.select(uuid_c.alias("u"), tx.alias("t")).collect()[0]
    assert r.u == "550e8400-aaaa" and r.t == 42


def test_from_debezium_json(spark):
    payload = (
        '{"op":"u","source":{"db":"shop","table":"users","gtid":"u:9"},'
        '"before":{"id":"1","name":"a"},"after":{"id":"1","name":"b"}}'
    )
    df = spark.createDataFrame([(payload,), ('{"op":"x"}',)], ["value"])
    out = envelope.from_debezium_json(df).collect()
    assert len(out) == 1  # unknown op dropped
    r = out[0]
    assert r.event_type == "Update"
    assert r.database == "shop" and r.table == "users" and r.gtid == "u:9"
    assert r.content.before["name"] == "a" and r.content.after["name"] == "b"


def test_from_debezium_json_schema_drift_tolerant(spark):
    """Schema evolution at the ingest boundary (the reference drops DDL,
    mysql.py:354-365; SURVEY flags evolution as a documented deviation):
    unknown top-level envelope fields are ignored, brand-new columns flow
    through the schema-fluid before/after maps, and absent fields parse to
    NULL instead of failing the stream."""
    drifted = (
        '{"op":"c","source":{"db":"shop","table":"users","gtid":"u:10"},'
        '"after":{"id":"2","name":"c","new_col_v2":"added-later"},'
        '"transaction":{"id":"txn-1","total_order":3},'
        '"brand_new_top_level":{"nested":true}}'
    )
    missing_bits = '{"op":"d","before":{"id":"9"}}'
    df = spark.createDataFrame([(drifted,), (missing_bits,)], ["value"])
    out = {r.event_type: r for r in envelope.from_debezium_json(df).collect()}
    ins = out["Insert"]
    assert ins.content.after["new_col_v2"] == "added-later"  # new column kept
    assert ins.table == "users" and ins.gtid == "u:10"
    dele = out["Delete"]  # absent source block -> NULLs, row survives
    assert dele.database is None and dele.table is None
    assert dele.content.before["id"] == "9"


def test_latest_per_key_tie_and_order(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], ["k", "seq", "v"]
    )
    out = {r.k: r.v for r in compaction.latest_per_key(df, ["k"], "seq").collect()}
    assert out == {1: "b", 2: "c"}
    asc = compaction.latest_per_key(df, ["k"], "seq", desc=False)
    assert {r.k: r.v for r in asc.collect()} == {1: "a", 2: "c"}


def test_assign_batches_partition_local_mode(spark):
    df = spark.range(100).withColumnRenamed("id", "seq").repartition(4)
    out = batching.assign_batches(df, "seq", batch_size=10, global_order=False)
    stats = out.groupBy("batch_id").count().collect()
    assert sum(r["count"] for r in stats) == 100
    assert all(r["count"] <= 10 for r in stats)  # cap holds per batch


def test_claim_check_reference_projection(spark):
    big = "x" * (batching.MAX_MESSAGE_BYTES + 10)
    df = spark.createDataFrame([(1, "small"), (2, big)], ["id", "payload"])
    out = {r.id: r for r in batching.make_claim_check_reference(df, "payload", "id").collect()}
    assert out[1].payload == "small" and not out[1].oversized
    assert out[2].oversized and '"original_size_exceeded":true' in out[2].payload
    assert len(out[2].payload) < 1000


def test_debezium_roundtrip(spark):
    payload = (
        '{"op":"u","source":{"db":"shop","table":"users","gtid":"u:9"},'
        '"before":{"id":"1","name":"a"},"after":{"id":"1","name":"b"}}'
    )
    env = envelope.from_debezium_json(spark.createDataFrame([(payload,)], ["value"]))
    back = envelope.from_debezium_json(envelope.to_debezium_json(env))
    a, b = env.collect()[0], back.collect()[0]
    assert a == b  # envelope -> debezium -> envelope is the identity


def test_typed_content_fast_path(spark):
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    payload = (
        '{"op":"c","source":{"db":"d","table":"t","gtid":"u:1"},'
        '"after":{"id":"42","price":"19.99","name":"x","bad":"zzz"}}'
    )
    env = envelope.from_debezium_json(spark.createDataFrame([(payload,)], ["value"]))
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("price", DoubleType()),
            StructField("name", StringType()),
            StructField("missing", LongType()),
        ]
    )
    r = envelope.typed_content(env, schema).collect()[0].typed_after
    assert r.id == 42 and r.price == 19.99 and r.name == "x"
    assert r.missing is None  # absent field -> NULL, same as lossy coercion


def test_salted_agg_equals_unsalted(spark):
    from stream_cdc_spark.operators.skew import salted_agg
    from stream_cdc_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    got = {
        r.event_type: (r.n, r.last_id)
        for r in salted_agg(
            ev,
            ["event_type"],
            {"n": ("count", ""), "last_id": ("max", "event_id")},
            salt_buckets=8,
        ).collect()
    }
    want = {
        r.event_type: (r.n, r.last_id)
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("event_id").alias("last_id"))
        .collect()
    }
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not algebraic"):
        salted_agg(ev, ["event_type"], {"bad": ("avg", "value")})


def test_approx_aggregates_within_bounds(spark):
    """Approximate aggregation family (the scale substitutes for exact
    distinct/percentile): HLL++ count-distinct within its standard error,
    approx_percentile within rank tolerance of the exact answer."""
    from stream_cdc_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    exact = ev.select(F.count_distinct("user_id")).collect()[0][0]
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact <= 0.1

    med_exact = ev.approxQuantile("value", [0.5], 0.0)[0]  # relErr=0 -> exact
    med_approx = ev.approxQuantile("value", [0.5], 0.01)[0]
    lo, hi = ev.approxQuantile("value", [0.45, 0.55], 0.0)
    assert lo <= med_approx <= hi, (med_exact, med_approx)


def test_apply_changes_merge_semantics(spark):
    from stream_cdc_spark.operators.compaction import apply_changes

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (1, 10, "Update"), (1, 20, "Delete"),   # delete wins (latest)
            (2, 5, "Delete"), (2, 9, "Update"),     # update wins (latest)
            (3, 7, "Update"), (3, 7, "Update"),     # redelivered duplicate
        ],
        ["k", "seq", "op"],
    )
    out = {
        r.k: r.last_seq
        for r in apply_changes(snap, changes, "k", "k", "seq", "op").collect()
    }
    assert 1 not in out          # deleted
    assert out[2] == 9           # latest update annotates
    assert out[3] == 7           # idempotent under redelivery
    assert out[4] is None        # untouched row kept, never changed


def test_salted_join_equals_plain_join(spark):
    from stream_cdc_spark.operators.skew import salted_join

    # skewed big side: key 0 holds 80% of rows
    big = spark.range(5000).select(
        F.when(F.col("id") % 5 != 0, 0).otherwise(F.col("id") % 7).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(6)], "k bigint, label string"
    )
    for how in ("inner", "left"):
        got = sorted(
            (r.k, r.v, r.label)
            for r in salted_join(big, small, ["k"], salt_buckets=8, how=how).collect()
        )
        want = sorted(
            (r.k, r.v, r.label) for r in big.join(small, ["k"], how).collect()
        )
        assert got == want, how

    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, ["k"], how="full")


def test_json_extraction_tolerates_malformed_props(spark):
    """get_json_object degrades to NULL on corrupt documents (PERMISSIVE
    semantics) — a poisoned payload must not fail the q96 rollup path."""
    df = spark.createDataFrame(
        [("a", '{"k": 3}'), ("a", "not json"), ("a", None), ("b", '{"j": 9}')],
        "event_type string, props string",
    )
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    got = {
        r.event_type: (r.sum_k, r.n)
        for r in df.groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"a": (3, 3), "b": (None, 1)}


def test_chunk_documents_boundaries_and_overlap(spark):
    from stream_cdc_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b")],
        "doc_id bigint, text string",
    )
    out = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tok"], r["chunk_text"])
        for r in T.chunk_documents(df, chunk_tokens=8, overlap=2).collect()
    }
    # doc 1: 10 tokens, stride 6 -> chunks at 0 and 6
    assert out[(1, 0)] == (8, " ".join(f"t{i}" for i in range(8)))
    assert out[(1, 1)] == (4, "t6 t7 t8 t9")  # overlap carries t6, t7
    # doc 2 fits in one chunk
    assert out[(2, 0)] == (2, "a b")
    assert len(out) == 3
    import pytest

    with pytest.raises(ValueError, match="overlap"):
        T.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_equidepth_histogram_balance_and_approx_mode(spark):
    from pyspark.sql import functions as F

    from stream_cdc_spark.operators.profiling import equidepth_histogram

    # heavily skewed values: equi-width would collapse, equi-depth holds
    df = spark.range(0, 1000).select(
        F.lit("g").alias("grp"),
        (F.col("id") * F.col("id")).cast("double").alias("v"),
        F.col("id").alias("tb"),
    )
    out = {
        r["bucket"]: r["n_rows"]
        for r in equidepth_histogram(df, "v", "grp", k=4, tiebreak_col="tb").collect()
    }
    assert set(out) == {0, 1, 2, 3}
    assert all(abs(c - 250) <= 1 for c in out.values())
    # approx mode: same buckets within the GK rank bound
    approx = {
        r["bucket"]: r["n_rows"]
        for r in equidepth_histogram(df, "v", "grp", k=4, exact=False).collect()
    }
    assert set(approx) == {0, 1, 2, 3}
    assert all(abs(c - 250) <= 25 for c in approx.values())


def test_ensure_parallelism_executes_no_plan(spark):
    """A groupBy input already has its shuffle's partitioning: it comes
    back unchanged and without a job (probing df.rdd of an adaptive
    plan would run its map stages, which the consumer then runs again).
    A single-partition exchange-free input is still repartitioned, and
    its probe runs no job either."""
    grouped = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out, jobs = count_jobs(spark, lambda: ensure_parallelism(grouped))
    assert (out is grouped, jobs) == (True, 0)

    single = spark.range(0, 100, 1, numPartitions=1)
    out, jobs = count_jobs(spark, lambda: ensure_parallelism(single))
    assert jobs == 0
    target = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target > 1
