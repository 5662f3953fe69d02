"""Structural correctness of the hash-based dedup/similarity operators
(the ones without a SQL oracle): MinHash-LSH candidates must cover the
high-Jaccard pairs, SimHash pairs must be few-bit-different, LSH ANN must
recall most of the exact top-k, embedding near-dup must find the planted
duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_cdc_spark.operators import dedup, similarity
from stream_cdc_spark.tables import load
from tests.conftest import SF_SMALL


def _docs(spark):
    return load(spark, SF_SMALL, "documents")


def test_minhash_lsh_covers_high_jaccard_pairs(spark):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.8).collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(_docs(spark)).collect()
    }
    assert exact, "fixture should contain >=1 pair with jaccard >= 0.8"
    recall = len(exact & cand) / len(exact)
    # 16 bands x 4 rows -> P(candidate | s=0.8) = 1-(1-0.8^4)^16 ~ 0.9996
    assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_minhash_estimate_close_to_exact(spark):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(_docs(spark)).collect()
    }
    both = set(exact) & set(est)
    assert both
    errs = [abs(exact[p] - est[p]) for p in both]
    assert sum(errs) / len(errs) < 0.15  # 64 hashes -> se ~ 1/8


def test_simhash_pairs_are_near_duplicates(spark):
    pairs = dedup.simhash_near_pairs(_docs(spark), max_hamming=3).collect()
    assert pairs
    assert all(r.hamming <= 3 for r in pairs)
    # spot-check one pair is actually textually similar (shares shingles)
    docs = {r.doc_id: r.text for r in _docs(spark).collect()}
    a, b = pairs[0].id_a, pairs[0].id_b
    ta, tb = set(docs[a].split()), set(docs[b].split())
    assert len(ta & tb) / len(ta | tb) > 0.3


def test_lsh_ann_recall_vs_bruteforce(spark):
    emb = load(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, q, k=5)
    approx = similarity.lsh_ann_topk(emb, q, dim=64, k=5, bits=4, tables=8)
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    a = {(r.q_id, r.c_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # The fixture's true top-5 neighbors sit at cosine ~0.32 (near-random
    # 64-dim data) -> p_bit ~ 0.60, so 8 tables x 4 bits give expected
    # recall ~ 1-(1-0.6^4)^8 ~ 0.68. Random data is ANN's worst case;
    # structured (clustered) embeddings recall far higher — see the
    # planted-duplicate test below for the high-similarity regime.
    assert recall >= 0.4, f"ANN recall {recall}"


def test_lsh_ann_finds_planted_duplicate(spark):
    emb = load(spark, SF_SMALL, "embeddings").limit(100)
    dup = emb.filter(F.col("vec_id") == 3).withColumn("vec_id", F.lit(888888))
    corpus = emb.unionByName(dup)
    q = emb.filter(F.col("vec_id") == 3)
    out = similarity.lsh_ann_topk(corpus, q, dim=64, k=3)
    top = [r for r in out.collect() if r.rank == 1]
    # an identical vector collides in every table -> always the top hit
    assert top and top[0].c_id == 888888 and top[0].sim >= 0.999


def test_embedding_near_dup_finds_planted_dups(spark):
    emb = load(spark, SF_SMALL, "embeddings").limit(50)
    # plant: vec 0 duplicated with a new id
    dup = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999999))
    planted = emb.unionByName(dup)
    pairs = similarity.embedding_near_dup_pairs(planted, dim=64, threshold=0.99)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 999999) in got


def test_exact_dedup_finds_planted_dup(spark):
    d = _docs(spark).limit(20)
    dup = d.filter(F.col("doc_id") == 0).withColumn("doc_id", F.lit(777))
    # normalization: same text with different whitespace/case still dedups
    dup = dup.withColumn("text", F.upper(F.col("text")))
    planted = d.unionByName(dup)
    groups = dedup.exact_dedup_groups(planted)
    g = {r.keep_id: r.n_members for r in groups.collect()}
    assert g.get(0) == 2  # doc 0 and its case-mangled copy share a group


def test_ivf_ann_recall_and_cells(spark):
    emb = load(spark, SF_SMALL, "embeddings")
    cents = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cells = similarity.ivf_assign(emb, cents)
    assert cells.count() == emb.count()  # every vector assigned exactly once
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.q_id, r.c_id) for r in similarity.brute_force_topk(emb, q, k=5).collect()}
    approx = {
        (r.q_id, r.c_id)
        for r in similarity.ivf_ann_topk(emb, q, cents, k=5, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 5 cells, probing 3 -> >= 60% of the corpus scored per query; on
    # near-random data recall tracks coverage
    assert recall >= 0.5, f"IVF recall {recall}"


def test_operators_on_empty_and_tiny_inputs(spark):
    """Edge robustness: empty corpus, single doc, k larger than corpus."""
    empty = _docs(spark).filter("doc_id < 0")
    assert dedup.exact_dedup_groups(empty).count() == 0
    assert dedup.ngram_jaccard_pairs(empty).count() == 0
    assert dedup.minhash_lsh_pairs(empty).count() == 0

    one = _docs(spark).limit(1)
    assert dedup.ngram_jaccard_pairs(one).count() == 0  # no pairs from one doc

    emb = load(spark, SF_SMALL, "embeddings").limit(3)
    q = emb.filter(F.col("vec_id") == emb.collect()[0].vec_id)
    topk = similarity.brute_force_topk(emb, q, k=10)  # k > corpus
    assert topk.count() == 2  # everything except self


def test_winnow_shared_substring_guarantee(spark):
    # Winnowing guarantee (Schleimer et al. §3): any shared substring of
    # length >= k+w-1 (= 8 chars for k=5,w=4) produces >= 1 shared
    # fingerprint. Plant a long shared run inside otherwise-distinct docs.
    from stream_cdc_spark.operators import text as T

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "zzzz qqqq " + shared + " wwww vvvv"),
            (3, "completely unrelated content with no overlap at all here"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: set(r["fps"])
        for r in T.winnow_fingerprints(df).collect()
    }
    assert out[1] & out[2], "docs sharing a 40+ char substring must share a fp"
    # doc 3 shares only 'he' (<8 chars) runs with the others -> overlap of
    # full fingerprint sets must be much smaller than the planted pair's.
    assert len(out[1] & out[2]) > len(out[1] & out[3])


def test_winnow_edge_cases_and_determinism(spark):
    from stream_cdc_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, "abcd"), (4, "abcde"), (5, "  a b\tc\nd e ")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in T.winnow_stats(df).collect()}
    assert rows[1]["n_fps"] == 0 and rows[1]["fp_sum"] == 0
    assert rows[2]["n_fps"] == 0  # shorter than k after stripping
    assert rows[3]["n_fps"] == 0  # len 4 < k=5
    assert rows[4]["n_fps"] == 1  # exactly one 5-gram
    # whitespace stripped: "abcde" == "  a b\tc\nd e " -> identical fp
    assert rows[5]["fp_min"] == rows[4]["fp_min"]
    # Horner value of "abcde" base 31 is exact & reproducible
    expect = 0
    for ch in "abcde":
        expect = expect * 31 + ord(ch)
    assert rows[4]["fp_min"] == expect


def test_stop_shingle_filter_bounds_hot_shingle_groups(spark):
    """A shingle shared by d documents creates a d^2/2 self-join group; the
    df cap must remove exactly the hot shingles (and only those) before the
    join so one common phrase can't go quadratic at scale."""
    hot = "the same common phrase repeated"
    rows = [(i, f"unique{i}a unique{i}b unique{i}c {hot}") for i in range(40)]
    # one genuine near-dup pair sharing rare shingles
    rows += [(100, "rare alpha beta gamma delta"), (101, "rare alpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dedup.shingles(df, "text", "doc_id", k=3)
    capped = dedup.stop_shingle_filter(sh, max_df=10)
    freq = capped.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    assert freq <= 10, f"hot shingle survived the cap: max df {freq}"
    # the genuine pair still comes out; no hot-phrase-only pair does
    pairs = dedup.ngram_jaccard_pairs(
        df, threshold=0.5, max_shingle_df=10
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {(100, 101)}, got


def test_shingle_df_cap_is_no_op_on_testdata(spark):
    """max_shingle_df=1000 must not change q24-family results at test SF
    (measured max shingle df is 25 at sf0.1) — the uncapped DuckDB oracles
    stay exact."""
    capped = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), threshold=0.5, max_shingle_df=1000
        ).collect()
    }
    uncapped = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), threshold=0.5, max_shingle_df=None
        ).collect()
    }
    assert capped == uncapped


def test_sampled_hot_detection_full_rate_matches_halved_exact(spark):
    """detect_rate_4096=4096 samples everything, so the sampled detector is
    the exact detector with threshold max(2, max_df//2): the planted hot
    shingle (df=40) must be dropped, the rare pair must survive."""
    hot = "the same common phrase repeated"
    rows = [(i, f"unique{i}a unique{i}b unique{i}c {hot}") for i in range(40)]
    rows += [(100, "rare alpha beta gamma delta"), (101, "rare alpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dedup.shingles(df, "text", "doc_id", k=3)
    capped = dedup.stop_shingle_filter(sh, max_df=20, detect_rate_4096=4096)
    freq = capped.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    assert freq <= 20, f"hot shingle survived the sampled cap: max df {freq}"
    pairs = dedup.ngram_jaccard_pairs(
        df, threshold=0.5, max_shingle_df=20, hot_detect_rate_4096=4096
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(100, 101)}


def test_sampled_hot_detection_is_no_op_on_testdata(spark):
    """With detect_rate_4096=32 (the q24-family setting) nothing on the
    test corpus comes near the cap, so sampled and exact modes agree."""
    sampled = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), threshold=0.5, max_shingle_df=1000,
            hot_detect_rate_4096=32,
        ).collect()
    }
    exact = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), threshold=0.5, max_shingle_df=1000
        ).collect()
    }
    assert sampled == exact


def test_connected_components_raises_on_non_convergence(spark):
    # a path graph of diameter 6 cannot converge in 2 rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["id_a", "id_b"]
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iter=2)


def test_winnow_vectorized_equals_expression_variant(spark):
    """The Arrow/numpy winnow twin must be value-identical to the
    pure-expression variant (q66 swaps between them on speed only)."""
    from stream_cdc_spark.operators import text as _text

    d = _docs(spark)
    a = {tuple(r) for r in _text.winnow_stats(d).collect()}
    b = {tuple(r) for r in _text.winnow_stats_vectorized(d).collect()}
    assert a == b


def test_split_hot_buckets_bounds_population(spark):
    """A coarse 2-bit bucketing packs ~125 of 500 vectors per bucket; the
    adaptive split must break those hot buckets up via extra hyperplane
    bits while leaving sub-cap buckets untouched."""
    emb = load(spark, SF_SMALL, "embeddings")
    b = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        similarity.lsh_bucket(F.col("embedding"), dim=64, bits=2, seed=42).alias(
            "bucket"
        ),
    )
    before = b.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
    refined = similarity.split_hot_buckets(b, dim=64, max_bucket=40, seed=42)
    after = refined.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
    assert before > 40, "fixture must actually trigger the hot path"
    assert after <= 40, f"hot buckets not bounded: max {after} > cap 40"
    assert refined.count() == b.count(), "split must not drop or dup rows"


def test_hot_bucket_split_preserves_planted_recall(spark):
    """Splitting hot buckets must not lose the planted near-dup pair:
    identical vectors share every sign bit, so they can never be separated
    by refinement planes."""
    emb = load(spark, SF_SMALL, "embeddings").limit(50)
    dup = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999999))
    planted = emb.unionByName(dup)
    pairs = similarity.embedding_near_dup_pairs(
        planted, dim=64, threshold=0.99, bits=2, max_bucket=10
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 999999) in got

def test_lsh_bucket_tiers_identical(spark):
    """The Arrow signature tier must be bit-identical to the expression
    tier on real embedding data (the strict left-fold cumsum argument:
    a BLAS matmul's pairwise summation could flip a near-zero sign).
    Covers multi-seed (lsh_ann_topk's tables) and the refinement-bit
    widths split_hot_buckets uses."""
    emb = load(spark, SF_SMALL, "embeddings")
    seeds = [42, 143, 244, 1337, 42 + 7001]
    expr = emb.select(
        "vec_id",
        F.array(
            *[
                similarity.lsh_bucket(F.col("embedding"), 64, 8, s).cast("long")
                for s in seeds
            ]
        ).alias("b"),
        similarity.lsh_bucket(F.col("embedding"), 64, 2, 42)
        .cast("long")
        .alias("b2"),
    )
    arrow = emb.select(
        "vec_id",
        similarity.lsh_buckets_arrow(F.col("embedding"), 64, 8, seeds).alias("b"),
        F.element_at(
            similarity.lsh_buckets_arrow(F.col("embedding"), 64, 2, [42]), 1
        ).alias("b2"),
    )
    a = {(r.vec_id, tuple(r.b), r.b2) for r in expr.collect()}
    b = {(r.vec_id, tuple(r.b), r.b2) for r in arrow.collect()}
    assert a == b


def test_lsh_bucket_tiers_identical_unclean_vectors(spark):
    """Tier identity on UNCLEAN rows (ADVICE r14): NaN elements (Spark
    orders NaN greatest, so a NaN dot takes sign bit 1 in BOTH tiers),
    null vectors and wrong-length vectors (which the expression tier's
    null algebra buckets to NULL) must come out of the Arrow tier
    identically — the old fast path raised on ragged input and IEEE
    `NaN > 0` flipped the NaN sign bit. A null ELEMENT inside a vector
    is the documented divergence (Arrow surfaces it as NaN): asserted
    explicitly below so a behavior change is loud."""
    dim = 4
    rows = [
        (1, [0.5, -0.25, 0.125, 0.75]),          # clean
        (2, [float("nan"), 0.1, -0.2, 0.3]),     # NaN element -> NaN dot
        (3, None),                               # null vector
        (4, [0.1, 0.2]),                         # too short
        (5, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6]),     # too long
        (7, [0.0, 0.0, 0.0, 0.0]),               # zero vector (dot == 0)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    seeds = [42, 1337]
    expr = df.select(
        "vec_id",
        F.array(
            *[
                similarity.lsh_bucket(F.col("embedding"), dim, 8, s).cast("long")
                for s in seeds
            ]
        ).alias("b"),
    )
    arrow = df.select(
        "vec_id",
        similarity.lsh_buckets_arrow(F.col("embedding"), dim, 8, seeds).alias("b"),
    )

    def norm(rs):
        # a whole-NULL array and an array of NULL entries are
        # indistinguishable to every consumer (element_at reads)
        return {
            (
                r.vec_id,
                None
                if r.b is None or all(x is None for x in r.b)
                else tuple(r.b),
            )
            for r in rs
        }

    got_expr = norm(expr.collect())
    got_arrow = norm(arrow.collect())
    assert got_expr == got_arrow
    by_id = dict(got_arrow)
    for vid in (3, 4, 5):
        assert by_id[vid] is None
    # NaN rows have DEFINED sign bits (NaN-greatest), not null buckets
    assert by_id[2] is not None
    # documented divergence: a null ELEMENT crosses Arrow as NaN, so the
    # Arrow tier buckets it (NaN ordering) where the expression tier
    # yields NULL — keep it loud, not silent
    nulled = spark.createDataFrame(
        [(6, [0.1, None, 0.3, 0.4])], "vec_id bigint, embedding array<float>"
    )
    e6 = nulled.select(
        similarity.lsh_bucket(F.col("embedding"), dim, 8, 42).alias("b")
    ).collect()[0].b
    a6 = nulled.select(
        F.element_at(
            similarity.lsh_buckets_arrow(F.col("embedding"), dim, 8, [42]), 1
        ).alias("b")
    ).collect()[0].b
    assert e6 is None and a6 is not None


def test_ivf_assign_tiers_identical(spark):
    """The Arrow argmin tier must be bit-identical to the expression
    fold on real embedding data — same strict-left-fold doubles, same
    floor quantization, same (dist_bp, cid) tie rule — and must match
    the expression tier's null algebra on unclean rows (null vector /
    wrong length -> dist_bp NULL, cell = min cid)."""
    emb = load(spark, SF_SMALL, "embeddings")
    cents = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<float>").alias("cv"),
    )

    def rows(tier):
        return sorted(
            (r.vec_id, r.cell, r.dist_bp)
            for r in similarity.ivf_assign(emb, cents, tier=tier).collect()
        )

    assert rows("arrow") == rows("expr")

    dim = 64
    unclean = spark.createDataFrame(
        [
            (1, [0.5] * dim),               # clean
            (2, None),                      # null vector
            (3, [0.1, 0.2]),                # too short
            (4, [0.1] * (dim + 3)),         # too long
            (5, [float("nan")] * dim),      # NaN elements
        ],
        "vec_id bigint, embedding array<float>",
    )

    def urows(tier):
        return sorted(
            (r.vec_id, r.cell, r.dist_bp)
            for r in similarity.ivf_assign(unclean, cents, tier=tier).collect()
        )

    a, e = urows("arrow"), urows("expr")
    assert a == e, (a, e)

    # Documented divergence (_argmin_cells_arrow): a null ELEMENT
    # crosses Arrow as NaN, so every distance is NaN -> 0 on the Arrow
    # tier where the expression tier's null algebra gives NULL; both
    # pick the lowest cid.
    cents2 = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid bigint, cv array<float>"
    )
    holey = spark.createDataFrame(
        [(7, [None, 0.5])], "vec_id bigint, embedding array<float>"
    )
    got = {
        tier: [
            (r.cell, r.dist_bp)
            for r in similarity.ivf_assign(holey, cents2, tier=tier).collect()
        ]
        for tier in ("arrow", "expr")
    }
    assert got == {"arrow": [(0, 0)], "expr": [(0, None)]}, got


def test_ivf_assign_arrow_centroid_collect_fails_loudly(spark, monkeypatch):
    """The Arrow tier collects its centroid relation: past the row cap
    it raises and points to tier='expr' instead of filling the driver,
    and a NULL centroid vector raises a ValueError naming the centroid
    (not a bare TypeError from the float conversion)."""
    corpus = spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id bigint, embedding array<float>"
    )
    three = spark.createDataFrame(
        [(c, [float(c), 0.0]) for c in range(3)], "cid bigint, cv array<float>"
    )
    monkeypatch.setattr(similarity, "_CENTROID_COLLECT_CAP", 2)
    with pytest.raises(ValueError, match="tier='expr'"):
        similarity.ivf_assign(corpus, three)
    assert similarity.ivf_assign(corpus, three.filter("cid < 2")).count() == 1
    assert similarity.ivf_assign(corpus, three, tier="expr").count() == 1

    null_vec = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None)], "cid bigint, cv array<float>"
    )
    with pytest.raises(ValueError, match="centroid 1 has a NULL"):
        similarity.ivf_assign(corpus, null_vec)
