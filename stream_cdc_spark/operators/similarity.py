"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring what a 100 TB training-data pipeline needs:

  - brute-force cosine top-k: exact baseline. The dot product is a pure
    Column expression (zip_with + aggregate) so it runs in the JVM; ranking
    is a per-query-vector window. Cost O(n_queries * n_corpus) — correct
    tool below ~10M corpus rows or for oracle checks.
  - LSH-bucketed ANN (random hyperplane signs): corpus is hashed into
    buckets by sign-pattern of dot products with deterministic pseudo-random
    hyperplanes; queries only score their own bucket (+ optional multiprobe).
    Linear scan per bucket -> total cost ~ n_corpus / 2^bits per query.
  - IVF-style variant: coarse centroids from a deterministic sample,
    corpus partitioned by nearest centroid, queries probe nprobe cells.

All computations use double accumulation with explicit rounding at the
boundary so the DuckDB oracle (list_cosine_similarity) agrees.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stream_cdc_spark.operators.util import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Plan shape: broadcast(queries) x corpus -> narrow map computing cosine
    -> window top-k per query. The corpus never shuffles until the window,
    and the window input is pre-filtered to k*|queries| via rank. With AQE
    the per-query partition count stays bounded; similarity is rounded
    before ranking so ordering is reproducible across engines.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_dp).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "sim", "rank")
    )


def _hyperplane(dim: int, bit: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane via an LCG (no numpy
    required at plan-build time; same plane every run)."""
    state = (seed * 1_000_003 + bit * 7919) & 0x7FFFFFFF
    vals = []
    for _ in range(dim):
        state = (1103515245 * state + 12345) & 0x7FFFFFFF
        vals.append((state / 0x7FFFFFFF) * 2.0 - 1.0)
    return vals


def lsh_bucket(vec: Column, dim: int, bits: int = 8, seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket id: sign-bit pattern of `bits` dots.

    Expression tier — reference semantics. Hot paths use
    ``lsh_buckets_arrow`` (bit-identical, proven by
    test_dedup_similarity::test_lsh_bucket_tiers_identical): the
    interpreted higher-order fold here costs ~4 us per (row, plane) and
    the per-table literal plane arrays make a 2k-literal expression tree
    whose first-execution setup alone is seconds per session."""
    bucket = F.lit(0)
    for b in range(bits):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, b, seed)])
        bit = (dot(vec, plane) > 0).cast("int")
        bucket = F.shiftleft(bucket, 1) + bit
    return bucket


def lsh_buckets_arrow(
    vec: Column, dim: int, bits: int, seeds: "list[int]"
) -> Column:
    """All requested hyperplane signatures in ONE Arrow pass: returns
    ``array<long>`` with one bucket id per entry of ``seeds``.

    Bit-identical to ``lsh_bucket`` per seed — including on unclean
    rows: NaN dots take sign bit 1 (Spark's NaN-greatest ordering), and
    null vectors and wrong-length vectors yield NULL buckets exactly
    like the expression tier's null algebra (a whole-row NULL array
    here; every consumer reads entries via element_at, for which the
    two are indistinguishable). Documented divergence: a null ELEMENT
    inside a vector crosses the Arrow boundary as NaN (list<float>
    nulls are unrepresentable in the numpy view), so such a row buckets
    under NaN ordering where the expression tier yields NULL — no
    in-repo corpus produces null elements (guide §4: Arrow batches +
    heavyweight init once, only the vector column crosses the
    boundary). Products are formed per element
    in float64 exactly like dot()'s ``x.cast(double) * y.cast(double)``
    zip, and summed STRICTLY left-to-right via ``np.cumsum`` — NOT a
    BLAS matmul, whose pairwise summation could round a near-zero dot to
    the other side of 0 and flip a sign bit. The plane matrix is built once per task at UDF
    construction; per (row, plane) cost drops from an interpreted
    ~4 us fold to a vectorized C loop (~1000x measured on q29/q30
    shapes)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [[_hyperplane(dim, b, s) for b in range(bits)] for s in seeds],
        dtype=np.float64,
    ).reshape(len(seeds) * bits, dim)
    n_seeds = len(seeds)

    def _buckets(col):
        # Row validation mirrors the expression tier's null algebra
        # (ADVICE r14): a null vector and a vector whose length != dim
        # (zip_with pads the short side with nulls -> null products ->
        # null fold) yield a NULL bucket in lsh_bucket — mark those rows
        # bad and emit None instead of letting np.array build a ragged
        # object array (which raised, failing the whole task where the
        # expression tier degraded gracefully). Explicit row-wise fill,
        # not pandas.where(other=None) (version-dependent None
        # coercion). Null ELEMENTS arrive as NaN (docstring divergence);
        # the except is a belt-and-braces for object-typed rows.
        vals = col.tolist()
        n = len(vals)
        bad = np.zeros(n, dtype=bool)
        X = np.zeros((n, dim), dtype=np.float64)
        for r, v in enumerate(vals):
            if v is None or len(v) != dim:
                bad[r] = True
                continue
            try:
                X[r] = np.asarray(v, dtype=np.float64)
            except (TypeError, ValueError):  # null element in the array
                bad[r] = True
        sign_bits = np.empty((n, planes.shape[0]), dtype=np.int64)
        for p in range(planes.shape[0]):
            # strict sequential left fold of the per-element products —
            # cumsum's last element reproduces dot()'s rounding exactly
            dots = np.cumsum(X * planes[p], axis=1)[:, -1]
            # ~(dots <= 0), NOT dots > 0: Spark orders NaN greater than
            # every number, so a NaN dot takes sign bit 1 in the
            # expression tier; IEEE `NaN > 0` is False and would
            # silently bucket the row differently (ADVICE r14)
            sign_bits[:, p] = ~(dots <= 0)
        buckets = np.zeros((n, n_seeds), dtype=np.int64)
        for s in range(n_seeds):
            for b in range(bits):
                buckets[:, s] = (buckets[:, s] << 1) + sign_bits[:, s * bits + b]
        out = pd.Series(buckets.tolist())
        if bad.any():
            out[bad] = None
        return out

    _buckets.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf(_buckets, "array<long>")(vec)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bp: int | None = None,
) -> DataFrame:
    """Approximate top-k with L independent hash tables (classic LSH):
    a candidate is scored if it shares a bucket with the query in ANY
    table, so recall ~ 1-(1-p^bits)^tables while per-query cost stays
    ~ tables * n / 2^bits. Bucket assignments are narrow maps over the
    corpus (persistable as a bucketed table at scale); the per-table
    bucket equi-join replaces the cross join entirely.

    ``quantize_bp``: when set, similarity is emitted (and ranked) as
    ``sim_bp = FLOOR(quantize_bp * cosine)`` BIGINT instead of a rounded
    double ``sim`` — FLOOR-quantization is stable across engines, so the
    output can be checked value-for-value against a SQL oracle."""

    def bucketed(df: DataFrame, prefix: str) -> DataFrame:
        # one Arrow pass computes all L tables' signatures (bit-equal to
        # the per-table lsh_bucket expressions — see lsh_buckets_arrow);
        # posexplode's index IS the table id
        cols = [F.col(id_col).alias(f"{prefix}_id"), F.col(vec_col).alias(f"{prefix}_vec")]
        tabs = lsh_buckets_arrow(
            F.col(vec_col), dim, bits, [42 + 101 * t for t in range(tables)]
        )
        return df.select(*cols, F.posexplode(tabs).alias("tab", "bucket"))

    c = bucketed(ensure_parallelism(corpus), "c")
    q = bucketed(queries, "q")
    cand = (
        c.join(F.broadcast(q), ["tab", "bucket"])
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "q_vec", "c_id", "c_vec")
        .dropDuplicates(["q_id", "c_id"])
    )
    cos = cosine(F.col("q_vec"), F.col("c_vec"))
    if quantize_bp is not None:
        sim_col = F.floor(F.lit(quantize_bp) * cos).cast("bigint").alias("sim_bp")
        sim_name = "sim_bp"
    else:
        sim_col = F.round(cos, 4).alias("sim")
        sim_name = "sim"
    scored = cand.select("q_id", "c_id", sim_col)
    w = Window.partitionBy("q_id").orderBy(F.col(sim_name).desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", sim_name, "rank")
    )


def squared_distance(a: Column, b: Column) -> Column:
    """||a-b||^2 via the expansion <a,a> - 2<a,b> + <b,b> (each dot a
    sequential fold, reproducible in the SQL oracle)."""
    return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)


def _centroid_array(
    centroids: DataFrame,
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cv",
) -> DataFrame:
    """The centroid set folded into ONE broadcastable row: an array of
    (cid, cv, cvv=<cv,cv>) structs sorted by cid. The argmin/probe
    rewrites below cross-join this single row instead of multiplying the
    corpus by num_cells rows, so the per-vector argmin becomes a pure
    narrow fold — no row explosion, no corpus-wide Exchange, no window
    sort (guide §2.4 "remove shuffles outright"). <cv,cv> is precomputed
    per centroid (the same sequential fold the pairwise form evaluated
    per corpus row), so the per-element work drops from three dot
    products to one."""
    c = centroids.select(
        F.struct(
            F.col(centroid_id_col).cast("long").alias("cid"),
            F.col(centroid_vec_col).alias("cv"),
            dot(F.col(centroid_vec_col), F.col(centroid_vec_col)).alias("cvv"),
        ).alias("c")
    )
    # coalesce(1) before the global aggregate: a one-partition child
    # already satisfies the final aggregate's SinglePartition requirement,
    # so the Exchange(SinglePartition) + extra stage the two-phase
    # aggregate otherwise inserts is elided. The centroid relation is
    # tiny by definition (num_cells rows), and assign/probe callers fold
    # it once per call — the saved stage is per admission trigger.
    return c.coalesce(1).agg(F.sort_array(F.collect_list("c")).alias("__cents"))


_MAXLONG = (1 << 63) - 1


def _argmin_cell(vec: Column) -> Column:
    """struct(dist_bp, cell) of the nearest centroid in the broadcast
    ``__cents`` array — a single sequential fold per row. dist_bp
    reproduces squared_distance's exact double sequence
    ((<v,v> - 2.0*<v,c>) + <c,c>) so the quantized distances are
    bit-identical to the former crossJoin+window formulation; the
    running minimum is F.least over (dist_bp, cid) structs, whose
    lexicographic order IS the window's ORDER BY dist_bp, cid — ties
    break to the lowest centroid id. <v,v> is computed once in the
    fold's initial accumulator (not per element)."""
    sentinel = F.struct(
        F.lit(_MAXLONG).cast("bigint").alias("dist_bp"),
        F.lit(_MAXLONG).cast("bigint").alias("cell"),
    )
    init = F.struct(dot(vec, vec).alias("vv2"), sentinel.alias("best"))

    def merge(acc, c):
        d = F.floor(
            F.lit(10000)
            * ((acc["vv2"] - F.lit(2.0) * dot(vec, c["cv"])) + c["cvv"])
        ).cast("bigint")
        return F.struct(
            acc["vv2"].alias("vv2"),
            F.least(
                acc["best"],
                F.struct(d.alias("dist_bp"), c["cid"].alias("cell")),
            ).alias("best"),
        )

    return F.aggregate(F.col("__cents"), init, merge, lambda acc: acc["best"])


def _argmin_cells_arrow(vec: Column, cents_rows: "list[tuple[int, list[float]]]") -> Column:
    """Arrow tier of the IVF argmin: struct(dist_bp, cell) of the nearest
    centroid, bit-identical to the expression-tier fold ``_argmin_cell``
    (guide §4: the higher-order F.aggregate fold is CodegenFallback —
    interpreted per (row, centroid) — and measured as the ENTIRE wall of
    ivf_assign at sf1: 3.3 s for 20k rows x 200 cells x 64 dims; this
    pass is one vectorized loop over centroids).

    Exactness, term by term (proven by
    test_dedup_similarity::test_ivf_assign_tiers_identical):
    - every dot is a strict left-to-right fold via ``np.cumsum`` (the
      lsh_buckets_arrow argument: BLAS pairwise summation could round a
      distance across a floor boundary);
    - dist_bp reproduces ``floor(10000.0 * ((vv2 - 2.0*dot) + cvv))``
      with vv2/cvv the same strict folds;
    - double->long conversion matches Scala semantics (NaN -> 0,
      saturation at Long.Min/Max) instead of numpy's undefined astype;
    - ties break lexicographically on (dist_bp, cid) with centroids
      iterated in ascending-cid order — the expression tier's F.least;
    - unclean rows (null vector, length != dim) produce
      (dist_bp=NULL, cell=min cid), which is what the expression fold's
      null algebra yields (null products -> null distance -> the
      struct's null-first ordering makes every candidate equal-least and
      cid decides).

    Documented divergence: a null ELEMENT inside a vector crosses the
    Arrow boundary as NaN (list<float> nulls are unrepresentable in the
    numpy view), so every distance of such a row is NaN -> 0 and the
    row gets (dist_bp=0, cell=min cid) where the expression tier gives
    (dist_bp=NULL, cell=min cid) — the same cell, a different residual.
    No in-repo corpus produces null elements (the lsh_buckets_arrow
    divergence; asserted in the tier-identity test).

    ``cents_rows`` must be fully populated: a null cid, a null centroid
    vector or a null element in one raises ValueError (there is no
    null algebra that makes a partial centroid meaningful).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    for c, v in cents_rows:
        if c is None or v is None or any(x is None for x in v):
            raise ValueError(
                f"ivf_assign: centroid {c!r} has a NULL id, vector or "
                f"vector element; every centroid needs a non-null id and "
                f"a fully populated vector"
            )
    rows = sorted(((int(c), list(map(float, v))) for c, v in cents_rows))
    cids = np.array([c for c, _ in rows], dtype=np.int64)
    C = np.array([v for _, v in rows], dtype=np.float64)
    dim = C.shape[1]
    cvv = np.cumsum(C * C, axis=1)[:, -1]
    min_cid = int(cids[0])
    HI = float(_MAXLONG)

    def _assign(col):
        vals = col.tolist()
        n = len(vals)
        bad = np.zeros(n, dtype=bool)
        X = np.zeros((n, dim), dtype=np.float64)
        for r, v in enumerate(vals):
            if v is None or len(v) != dim:
                bad[r] = True
                continue
            try:
                X[r] = np.asarray(v, dtype=np.float64)
            except (TypeError, ValueError):
                bad[r] = True
        vv2 = np.cumsum(X * X, axis=1)[:, -1] if dim else np.zeros(n)
        best_d = np.full(n, _MAXLONG, dtype=np.int64)
        best_c = np.full(n, _MAXLONG, dtype=np.int64)
        for p in range(C.shape[0]):
            dot = (
                np.cumsum(X * C[p], axis=1)[:, -1] if dim else np.zeros(n)
            )
            d = np.floor(10000.0 * ((vv2 - 2.0 * dot) + cvv[p]))
            di = np.empty(n, dtype=np.int64)
            nan_m = np.isnan(d)
            hi_m = d >= HI
            lo_m = d <= float(-(1 << 63))
            ok = ~(nan_m | hi_m | lo_m)
            di[ok] = d[ok].astype(np.int64)
            di[nan_m] = 0  # Scala Double NaN.toLong == 0
            di[hi_m] = _MAXLONG  # Double.toLong saturates
            di[lo_m] = -(1 << 63)
            upd = (di < best_d) | ((di == best_d) & (cids[p] < best_c))
            best_d[upd] = di[upd]
            best_c[upd] = cids[p]
        out = pd.DataFrame(
            {
                "dist_bp": pd.array(best_d, dtype="Int64"),
                "cell": pd.array(best_c, dtype="Int64"),
            }
        )
        if bad.any():
            out.loc[bad, "dist_bp"] = None
            out.loc[bad, "cell"] = min_cid
        return out

    _assign.__annotations__ = {"col": pd.Series, "return": pd.DataFrame}
    return pandas_udf(_assign, "struct<dist_bp:bigint,cell:bigint>")(vec)


# Row cap on the Arrow tier's centroid collect: IVF centroid sets are
# broadcast-small by design (num_cells rows), so a relation past this is
# a caller passing a corpus where centroids belong.
_CENTROID_COLLECT_CAP = 100_000


def _collect_centroid_rows(
    centroids: DataFrame, centroid_id_col: str, centroid_vec_col: str
) -> "list[tuple[int, list[float]]]":
    """The centroid relation as driver-side (cid, vector) rows — a
    planning collect, run when the plan is built. Vectors are widened
    to double by the cast, so array<float> centroids collect as
    float64-of-float32: exactly the values the expression tier's
    per-element cast sees. Capped: a relation over
    ``_CENTROID_COLLECT_CAP`` rows raises instead of filling the driver."""
    rows = (
        centroids.select(
            F.col(centroid_id_col).cast("long"),
            F.col(centroid_vec_col).cast("array<double>"),
        )
        .limit(_CENTROID_COLLECT_CAP + 1)
        .collect()
    )
    if len(rows) > _CENTROID_COLLECT_CAP:
        raise ValueError(
            f"ivf_assign(tier='arrow') collects the centroid relation to "
            f"the driver, and it has more than {_CENTROID_COLLECT_CAP} "
            f"rows; pass tier='expr', which broadcasts the centroid set "
            f"instead of collecting it"
        )
    return [(r[0], r[1] if r[1] is None else list(r[1])) for r in rows]


def _assign_input(
    corpus: DataFrame, id_col: str, vec_col: str, carry_cols: tuple[str, ...]
) -> DataFrame:
    """(vec_id, *carry_cols, vv): the assignment input of both tiers."""
    return ensure_parallelism(corpus).select(
        F.col(id_col).alias("vec_id"),
        *[F.col(c) for c in carry_cols],
        F.col(vec_col).alias("vv"),
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "cv",
    carry_cols: tuple[str, ...] = (),
    tier: str = "arrow",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    (argmin of quantized squared distance, ties to the lowest centroid id).

    Plan: the centroid set rides ONE broadcast row as a sorted struct
    array (`_centroid_array`) and the argmin is a narrow per-row fold
    (`_argmin_cell`) — a true scan-bandwidth pass at 100 TB. The former
    crossJoin + row_number window multiplied every corpus row by
    num_cells and shuffled the corpus by vec_id (Exchange + two sorts);
    values are bit-identical (same quantized-distance doubles, same
    min-cid tie rule), plan-asserted in tests and re-proven against the
    q43/q44/q136/q139 oracles.

    ``carry_cols``: extra identity columns carried through — the
    versioned index assigns per (vec_id, version) row
    (streaming/ann_index.py).

    Contract (ADVICE r14): the argmin is per INPUT ROW — one output row
    per input row. The pre-r14 window formulation instead emitted one
    row per (vec_id, carry) partition, so duplicate-key inputs
    deduplicated silently there; callers must supply unique keys (every
    in-repo caller aggregates per key first — groupBy + min — before
    assigning).

    ``tier`` (r15): 'arrow' (default) scores every centroid in one
    vectorized numpy pass per task — bit-identical to the expression
    fold (see ``_argmin_cells_arrow``; proven by the tier-identity test
    and every IVF consumer oracle) and measured 6–8x faster on the sf1
    corpus, where the interpreted fold WAS the whole assignment wall.
    The centroid relation is collected at plan-build time
    (``_collect_centroid_rows``, capped) and handed to
    ``ivf_assign_rows``; callers that already hold their centroids as
    rows (the streaming ANN sinks) call that directly and run no job.
    'expr' keeps the pure-expression fold: the reference semantics, and
    the composition-safe choice when no job may run at plan
    construction.
    """
    if tier == "arrow":
        return ivf_assign_rows(
            corpus,
            _collect_centroid_rows(
                centroids, centroid_id_col, centroid_vec_col
            ),
            id_col=id_col,
            vec_col=vec_col,
            carry_cols=carry_cols,
        )
    v = _assign_input(corpus, id_col, vec_col, carry_cols)
    cents = _centroid_array(centroids, centroid_id_col, centroid_vec_col)
    # F.inline evaluates the argmin struct ONCE per row (selecting
    # .cell/.dist_bp separately would duplicate the whole fold after
    # projection collapse); the array is always length 1, so row counts
    # are unchanged. Empty centroid set -> empty result, matching the
    # former inner-join semantics.
    return (
        v.crossJoin(F.broadcast(cents.filter(F.size("__cents") > 0)))
        .select(
            "vec_id",
            *carry_cols,
            "vv",
            F.inline(F.array(_argmin_cell(F.col("vv")))),
        )
        .select("vec_id", *carry_cols, "vv", "cell", "dist_bp")
    )


def ivf_assign_rows(
    corpus: DataFrame,
    cents_rows: "list[tuple[int, list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The Arrow tier of ``ivf_assign`` over driver-side centroid rows
    ``[(cid, vector), ...]``: builds the plan without running a job.
    The rows must carry the values the expression tier would see — for
    array<float> centroids, float32 values widened to float64 (what
    ``_collect_centroid_rows`` returns)."""
    v = _assign_input(corpus, id_col, vec_col, carry_cols)
    if not cents_rows:
        # empty centroid set -> empty result, matching the expression
        # tier's inner-join-with-empty semantics
        return v.filter(F.lit(False)).select(
            "vec_id",
            *carry_cols,
            "vv",
            F.lit(None).cast("bigint").alias("cell"),
            F.lit(None).cast("bigint").alias("dist_bp"),
        )
    best = _argmin_cells_arrow(F.col("vv"), cents_rows)
    return v.select(
        "vec_id", *carry_cols, "vv", F.inline(F.array(best))
    ).select("vec_id", *carry_cols, "vv", "cell", "dist_bp")


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bp: int | None = None,
) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest-centroid cell; each
    query probes its `nprobe` closest cells and scores only those vectors.
    Per-query cost ~ nprobe/num_cells of the corpus. The cell assignment is
    computed here; at scale it is precomputed and stored partitioned by
    cell (so a probe is a partition-pruned read, no shuffle at all).

    ``quantize_bp``: emit/rank FLOOR-quantized ``sim_bp`` (see
    lsh_ann_topk) — with deterministic centroids the whole pipeline
    (assignment, probing, scoring, ranking) is then exactly reproducible
    in a SQL oracle."""
    cells = ivf_assign(corpus, centroids, id_col, vec_col)
    return ivf_probe_topk(
        cells, queries, centroids, k, nprobe, id_col, vec_col, quantize_bp
    )


def ivf_query_probes(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The planning half of an IVF probe: each query's ``nprobe``
    nearest cells, as (q_id, qv, cell) rows — |queries| x nprobe of
    them, a planning relation. Shared by ``ivf_probe_topk`` and the
    versioned streaming probe (streaming/ann_index.py) so the probed-
    cell geometry cannot drift between them."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    cents = _centroid_array(centroids)
    # Same narrow rewrite as ivf_assign: score every cell in a per-row
    # transform over the one-row broadcast centroid array, sort the
    # (dist_bp, cell) structs (lexicographic order == the former window's
    # ORDER BY dist_bp, cid) and keep the first nprobe — no Exchange, no
    # window. dist_bp reproduces squared_distance's exact double
    # sequence, so the probed-cell geometry is bit-identical.
    qv2 = dot(F.col("qv"), F.col("qv"))
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            F.floor(
                F.lit(10000)
                * ((qv2 - F.lit(2.0) * dot(F.col("qv"), c["cv"])) + c["cvv"])
            )
            .cast("bigint")
            .alias("dist_bp"),
            c["cid"].alias("cell"),
        ),
    )
    top = F.slice(F.array_sort(scored), 1, nprobe)
    return (
        q.crossJoin(F.broadcast(cents.filter(F.size("__cents") > 0)))
        .select("q_id", "qv", F.explode(top).alias("__p"))
        .select("q_id", "qv", F.col("__p.cell").alias("cell"))
    )


def ivf_score_probes(
    cells: DataFrame,
    probes: DataFrame,
    k: int = 5,
    quantize_bp: int | None = None,
) -> DataFrame:
    """The scoring half of an IVF probe: join the (vec_id, vv, cell)
    candidates against the broadcast (q_id, qv, cell) probes, cosine-
    score, rank top-k per query. Shared by ``ivf_probe_topk`` and the
    versioned streaming probe so the two rankings are equal by
    construction."""
    cos = cosine(F.col("qv"), F.col("vv"))
    if quantize_bp is not None:
        sim_col = F.floor(F.lit(quantize_bp) * cos).cast("bigint").alias("sim_bp")
        sim_name = "sim_bp"
    else:
        sim_col = F.round(cos, 4).alias("sim")
        sim_name = "sim"
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"), sim_col)
    )
    w = Window.partitionBy("q_id").orderBy(F.col(sim_name).desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", sim_name, "rank")
    )


def ivf_probe_topk(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bp: int | None = None,
) -> DataFrame:
    """The probe half of ``ivf_ann_topk`` over a PRECOMPUTED cell
    assignment ``assigned`` (canonical columns vec_id, vv, cell — e.g.
    `ivf_assign` output). Scores every row of ``assigned`` against the
    probes — the persisted index (streaming/ann_index
    .VersionedAnnIndexSnapshot.topk) prunes its scan to the probed
    cells instead, over the same ``ivf_query_probes`` /
    ``ivf_score_probes`` bodies, so the two rankings are equal by
    construction."""
    probes = ivf_query_probes(queries, centroids, nprobe, id_col, vec_col)
    return ivf_score_probes(assigned, probes, k, quantize_bp)


def split_hot_buckets(
    bucketed: DataFrame,
    dim: int,
    max_bucket: int,
    seed: int,
    extra_bits: int = 8,
    rounds: int = 2,
    refined_cols: "list[str] | None" = None,
) -> DataFrame:
    """Bound per-bucket population by adaptively refining hot buckets with
    extra hyperplane bits (the stop_shingle_filter pattern applied to LSH).

    The within-bucket self-join is d^2 in the hottest bucket, and near-dup
    corpora are skewed by definition — at 100 TB one 8-bit bucket can hold
    a large corpus fraction. Buckets whose population exceeds
    ``max_bucket`` get ``extra_bits`` additional sign-bits from a
    *different* seed appended to their bucket id (cold buckets keep theirs
    — no recall cost there), run for ``rounds`` refinements. The hot-bucket
    list is tiny by construction, so membership is a broadcast join and the
    big side never reshuffles.

    Residual risk, documented: vectors with identical sign patterns under
    every refinement seed can never separate; such a cluster is a genuine
    near-dup clique whose pairs the caller wants anyway (its d^2 is output
    cost, not waste). Expects columns (id, vec, bucket).

    ``refined_cols``: optional names of ``rounds`` precomputed
    refinement-signature columns (seed + 7001*(r+1), ``extra_bits`` wide
    — what the default path computes inline). Callers that pin the
    bucketed relation (embedding_near_dup_pairs) precompute these in the
    SAME Arrow pass as the base bucket so every derived branch —
    hot-bucket detection per round plus both self-join sides — reads the
    materialized relation instead of re-running the signature UDF per
    reference (measured 52 ArrowEvalPython nodes in q30's plan without
    this). The columns are dropped from the output."""
    out = bucketed
    for r in range(rounds):
        hot = (
            out.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("bucket")
        )
        if refined_cols is not None:
            refined_bits = F.col(refined_cols[r])
        else:
            refined_bits = F.element_at(
                lsh_buckets_arrow(
                    F.col("vec"), dim, extra_bits, [seed + 7001 * (r + 1)]
                ),
                1,
            )
        is_hot = F.col("__hot").isNotNull()
        out = (
            out.join(
                F.broadcast(hot.withColumn("__hot", F.lit(1))), "bucket", "left"
            )
            .withColumn(
                "bucket",
                F.when(
                    is_hot,
                    F.shiftleft(F.col("bucket"), extra_bits) + refined_bits,
                ).otherwise(F.col("bucket")),
            )
            .drop("__hot")
        )
    if refined_cols is not None:
        out = out.drop(*refined_cols)
    return out


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 100_000,
    pin: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing: pairs are
    only scored within a bucket (plus one rotated-seed pass to reduce
    boundary misses). Returns (id_a, id_b, sim) with id_a < id_b; `sim` is
    the raw double cosine — callers quantize (FLOOR(K*sim), never ROUND)
    when the output must be cross-engine stable.

    ``max_bucket`` bounds the d^2 blow-up of a skewed bucket via
    split_hot_buckets (None disables). The default is a no-op at test
    scale and caps the hottest join group at ~10^10 pair-candidates at
    100 TB — recall for pairs split apart is covered by the second seed
    pass, whose refinement planes are independent."""
    df = ensure_parallelism(df)
    seeds = (42, 1337)
    rounds = 2
    # Every signature any branch will need — both seed passes' base buckets
    # plus their split_hot_buckets refinement bits — in ONE Arrow projection,
    # pinned once. Unpinned, each of the derived branches (hot-bucket
    # detection per round, both self-join sides, per seed) re-evaluated the
    # signature UDF over the corpus: q30's executed plan had 52
    # ArrowEvalPython nodes and zero ReusedExchange before this.
    base = lsh_buckets_arrow(F.col(vec_col), dim, bits, list(seeds))
    refined = (
        lsh_buckets_arrow(
            F.col(vec_col),
            dim,
            8,
            [s + 7001 * (r + 1) for s in seeds for r in range(rounds)],
        )
        if max_bucket is not None
        else None
    )
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("vec")]
    per_seed: list[tuple[int, str, list[str]]] = []
    for i, seed in enumerate(seeds):
        bname = f"b{i}"
        cols.append(F.element_at(base, i + 1).alias(bname))
        rnames = []
        if refined is not None:
            for r in range(rounds):
                rn = f"r{i}_{r}"
                rnames.append(rn)
                cols.append(
                    F.element_at(refined, i * rounds + r + 1).alias(rn)
                )
        per_seed.append((seed, bname, rnames))
    # ``pin=False`` keeps composition fully lazy (no job at
    # plan-construction time — Spark Connect / composition contexts,
    # ADVICE r14) at the cost of re-running the signature UDF per
    # derived branch; the hot-path default pins (52 ArrowEvalPython
    # nodes in q30's plan without it).
    sigs = df.select(*cols)
    if pin:
        sigs = sigs.localCheckpoint(eager=True)
    out = None
    for seed, bname, rnames in per_seed:
        b = sigs.select("id", "vec", F.col(bname).alias("bucket"), *rnames)
        if max_bucket is not None:
            b = split_hot_buckets(
                b, dim, max_bucket, seed, rounds=rounds, refined_cols=rnames
            )
        x, y = b.alias("x"), b.alias("y")
        pairs = (
            x.join(y, (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.id") < F.col("y.id")))
            .select(
                F.col("x.id").alias("id_a"),
                F.col("y.id").alias("id_b"),
                cosine(F.col("x.vec"), F.col("y.vec")).alias("sim"),
            )
            .filter(F.col("sim") >= threshold)
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out.dropDuplicates(["id_a", "id_b"])


def sq8_quantize(vec: Column) -> Column:
    """INT8 scalar quantization of an embedding: struct(q, scale) with
    q_i = round(x_i / scale) in [-127, 127] and scale = max|x| / 127.

    An all-zero vector quantizes to all-zero q with scale 0 — its integer
    dot with anything is 0, which is the right ranking behavior.
    """
    mx = F.aggregate(
        vec, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )
    scale = mx / F.lit(127.0)
    q = F.transform(
        vec,
        lambda x: F.when(scale > 0, F.round(x.cast("double") / scale))
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    return F.struct(q.alias("q"), scale.alias("scale"))


def int_dot(a: Column, b: Column) -> Column:
    """Integer dot product of two quantized arrays (bigint accumulate —
    64 * 127^2 is far inside int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def sq8_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    n_candidates: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bp: int = 10000,
) -> DataFrame:
    """ANN via int8 scalar quantization with exact re-rank: (q_id, c_id,
    sim_bp, rank) — top-k per query by EXACT cosine, selected from the
    top-`n_candidates` by quantized score.

    This is the SQ8 tier every vector store ships (faiss IndexScalarQuantizer
    / Milvus SQ8): the scan ranks candidates with integer dot products over
    an 8x-smaller representation (int8 vs float64 — at 100 TB the quantized
    corpus is what the scan reads, cutting bandwidth 8x), then re-ranks only
    the survivors against the full-precision vectors.

    Correctness contract: output == exact brute-force top-k whenever the
    true top-k sit inside the approx top-`n_candidates` (SQ8's relative
    error is ~1/254 per element, so the margin is enormous for any gate
    like cosine >= 0.95; tests/test_sq8_margin.py measures the worst
    true-top-1 approx-rank on the real corpus).

    Plan shape: quantization is a narrow map; queries (quantized + full)
    broadcast; candidate ranking is one window over ~|Q| x n_corpus scored
    rows pre-filtered per query; the exact re-rank touches only
    |Q| x n_candidates rows. The corpus is scanned once and never shuffles
    until the candidate window.
    """
    c = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            sq8_quantize(F.col(vec_col)).alias("c_sq"),
        )
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        sq8_quantize(F.col(vec_col)).alias("q_sq"),
    )
    approx = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            "q_vec",
            "c_vec",
            (
                int_dot(F.col("q_sq.q"), F.col("c_sq.q"))
                * F.col("q_sq.scale")
                * F.col("c_sq.scale")
                / (l2_norm(F.col("q_vec")) * l2_norm(F.col("c_vec")))
            ).alias("approx_sim"),
        )
    )
    wa = Window.partitionBy("q_id").orderBy(
        F.col("approx_sim").desc(), F.col("c_id").asc()
    )
    cand = (
        approx.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= n_candidates)
    )
    we = Window.partitionBy("q_id").orderBy(
        F.col("sim_bp").desc(), F.col("c_id").asc()
    )
    return (
        cand.select(
            "q_id",
            "c_id",
            F.floor(
                F.lit(float(quantize_bp)) * cosine(F.col("q_vec"), F.col("c_vec"))
            )
            .cast("bigint")
            .alias("sim_bp"),
        )
        .withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Second-moment (Gram) matrix + PCA — embedding-pipeline preprocessing
# ---------------------------------------------------------------------------


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    quant: int = 1_000_000_000,
) -> DataFrame:
    """Quantized uncentered second-moment matrix of an embedding column,
    plus first moments — the one-pass sufficient statistics for
    covariance/PCA/whitening over a 100 TB embedding corpus.

    Output rows: (i, j, s_q) with i <= j carrying
    SUM over rows of FLOOR((quant * x_i) * x_j), and (i, -1, s_q) carrying
    SUM of FLOOR(quant * x_i). Element products are floor-quantized to
    integers BEFORE summation (the q42 convention), so the aggregate is
    order-insensitive, partitioning-insensitive, and engine-exact — a
    DuckDB oracle computes the identical integers.

    Scale shape: per-partition partials via mapInPandas — each Arrow batch
    contributes one d x d integer accumulator (numpy, float32 -> float64
    exact), so the shuffle carries ~num_partitions * d^2/2 rows, never
    n * d^2. The d^2-row result is the planning-aggregate size (d = 64
    -> 2 080 + 64 rows), the canonical driver-side input for the eigen
    step (fit_pca).

    Corpus-size bound: with unit-scale components (|x| <= 1) each row
    contributes at most `quant` to a cell, so s_q fits int64 while
    n * quant < 2^63 — ~9.2e9 rows at the default quant. Beyond that,
    pass a smaller quant (ANSI mode makes an overflow a loud error, not
    a silent wrap): the quantization error is <= n/quant on sums that
    themselves grow ~n, so the RELATIVE precision is n-independent and
    shrinking quant costs nothing at large n. The same bound governs the
    streaming twin's state cells (streaming/stateful.gram_stream).
    """
    return (
        df.select(vec_col)
        .mapInPandas(gram_partials_fn(vec_col, quant), GRAM_PARTIALS_SCHEMA)
        .groupBy("i", "j")
        .agg(F.sum("s_q").cast("bigint").alias("s_q"))
    )


GRAM_PARTIALS_SCHEMA = "i int, j int, s_q long"


def gram_partials_fn(
    vec_col: str, quant: int, emit_count: bool = False
):
    """The per-partition integer Gram accumulator behind `gram_matrix`,
    exposed so the streaming twin (streaming/stateful.gram_stream) runs
    the IDENTICAL per-row math — bit-equality of the drained stream to
    the batch statistics is then a property of the integer monoid, not
    of two implementations agreeing.

    ``emit_count=True`` additionally yields an (i=-1, j=-1, s_q=rows)
    partial so a consumer can maintain the corpus count in the same
    aggregate (batch callers leave it off: gram_matrix's q112 contract
    has no count row)."""

    def part(batches):
        import numpy as np
        import pandas as pd

        acc2 = None
        acc1 = None
        d = None
        n_rows = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            n_rows += len(X)
            if d is None:
                d = X.shape[1]
                acc2 = np.zeros((d, d), dtype=np.int64)
                acc1 = np.zeros(d, dtype=np.int64)
            QX = float(quant) * X
            # chunk rows so the n x d x d outer-product tensor stays small
            for c in range(0, len(X), 256):
                block = np.floor(
                    QX[c : c + 256][:, :, None] * X[c : c + 256][:, None, :]
                )
                # per-element floors are integers <= quant * |x_i x_j|;
                # a 256-row chunk sum stays far inside double's 2^53
                acc2 += block.sum(axis=0).astype(np.int64)
                acc1 += np.floor(QX[c : c + 256]).sum(axis=0).astype(np.int64)
        if d is None:
            return
        iu, ju = np.triu_indices(d)
        i_out = [iu, np.arange(d)]
        j_out = [ju, np.full(d, -1)]
        s_out = [acc2[iu, ju], acc1]
        if emit_count:
            i_out.append(np.array([-1]))
            j_out.append(np.array([-1]))
            s_out.append(np.array([n_rows], dtype=np.int64))
        yield pd.DataFrame(
            {
                "i": np.concatenate(i_out),
                "j": np.concatenate(j_out),
                "s_q": np.concatenate(s_out),
            }
        )

    return part


def fit_pca(
    df: DataFrame,
    vec_col: str = "embedding",
    n_components: int = 8,
    quant: int = 1_000_000_000,
):
    """Principal components from the one-pass Gram statistics.

    Distributed part: gram_matrix (a d^2-row planning aggregate — the
    iterative-ML driver pattern, same as clustering.py's K x dim
    collects). Driver part: reassemble mean/covariance from the quantized
    sums (quantization error <= n/quant per entry — ~1e-6 relative at any
    corpus size, far below eigengap noise) and eigendecompose d x d with
    numpy. Component signs are fixed deterministically (largest-magnitude
    coordinate made positive) so results don't flip between runs/BLAS
    builds. Returns (mean, components) as numpy arrays, components
    row-wise, eigenvalue-descending.
    """
    rows = gram_matrix(df, vec_col, quant).collect()
    return pca_from_gram(rows, df.count(), n_components, quant)


def pca_from_gram(rows, n: int, n_components: int = 8, quant: int = 1_000_000_000):
    """The driver-side eigen step of `fit_pca` over already-aggregated
    (i, j, s_q) Gram rows and a corpus count — shared with consumers of
    the continuously-maintained statistics (streaming/stateful.
    gram_stream), so a PCA refreshed from the drained stream is
    bit-identical to one fit on the batch operator. Rows with i == -1
    (the stream's count partial) are ignored here; pass their value as
    ``n``."""
    import numpy as np

    d = max(r["i"] for r in rows) + 1
    s2 = np.zeros((d, d), dtype=np.float64)
    s1 = np.zeros(d, dtype=np.float64)
    for r in rows:
        if r["i"] == -1:
            continue
        if r["j"] == -1:
            s1[r["i"]] = r["s_q"]
        else:
            s2[r["i"], r["j"]] = r["s_q"]
            s2[r["j"], r["i"]] = r["s_q"]
    mean = s1 / (float(quant) * n)
    cov = s2 / (float(quant) * n) - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1.0
    return mean, comps


def pca_project(
    df: DataFrame,
    mean,
    components,
    vec_col: str = "embedding",
    out_col: str = "projection",
) -> DataFrame:
    """Project embeddings onto fitted components: (x - mean) @ W^T.

    Vectorized pandas_udf (Arrow batches, one BLAS matmul per batch) —
    the d x k weight matrix rides the closure as a broadcast-sized
    constant; the projection is narrow (no shuffle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m = np.asarray(mean, dtype=np.float64)
    w = np.asarray(components, dtype=np.float64)

    def _proj(col):
        X = np.array(col.tolist(), dtype=np.float64)
        out = (X - m) @ w.T
        return pd.Series(list(out))

    # annotate via pandas Series hints resolved here (module scope has no
    # pandas import; string hints would not resolve under PEP 563)
    _proj.__annotations__ = {"col": pd.Series, "return": pd.Series}
    proj = pandas_udf(_proj, "array<double>")

    return df.withColumn(out_col, proj(F.col(vec_col)))


def group_centroid_cosine(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inter-group centroid similarity map: the pairwise cosine between
    per-group mean embeddings — the class-separability / source-affinity
    diagnostic a curation pipeline reads before deciding which sources
    are near-redundant (two sources whose centroids sit at cos ~ 1 are
    candidates for cross-source dedup; a label whose centroid drifts is
    a distribution-shift alarm).

    Cross-engine determinism: vector components are floor-quantized to
    integer ppm PER ROW, so the per-(group, dim) sums are order-
    insensitive integers (the q112 gram-matrix rule); centroids are then
    exact-integer / count doubles, and each pairwise cosine is one
    identical sequential-fold sequence (same dot as q25's oracle-proven
    list_dot_product parity), quantized to basis points.

    Plan shape at 100 TB: ONE shuffle carries (group, dim) partial sums
    — map-side combine collapses each task to |groups| x d rows before
    the exchange, so shuffle volume is partitions x groups x d integers
    regardless of corpus size. Everything pairwise runs on the
    |groups|-row centroid relation via a broadcast self-join; the corpus
    is never joined or re-scanned.
    """
    comps = (
        df.select(
            F.col(group_col).alias("g"),
            F.posexplode(F.col(vec_col)).alias("i", "x"),
        )
        .withColumn(
            "q",
            F.floor(F.lit(1_000_000.0) * F.col("x").cast("double")).cast(
                "bigint"
            ),
        )
        .groupBy("g", "i")
        .agg(F.sum("q").alias("sq"), F.count(F.lit(1)).alias("n"))
    )
    cent = (
        comps.withColumn(
            "m", F.col("sq").cast("double") / F.col("n").cast("double")
        )
        .groupBy("g")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
    )
    # a zero-vector centroid (all-zero / padding embeddings) has no
    # cosine: drop it from the pairwise relation BEFORE the norm divisor
    # so ANSI mode cannot raise DIVIDE_BY_ZERO. Mirrored by the norm > 0
    # predicate in the q127 oracle.
    cent = cent.filter(l2_norm(F.col("c")) > F.lit(0.0))
    a = cent.select(F.col("g").alias("ga"), F.col("c").alias("ca"))
    b = cent.select(F.col("g").alias("gb"), F.col("c").alias("cb"))
    cos = dot(F.col("ca"), F.col("cb")) / (
        l2_norm(F.col("ca")) * l2_norm(F.col("cb"))
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ga") < F.col("gb"))
        .select(
            F.col("ga").cast("bigint").alias("label_a"),
            F.col("gb").cast("bigint").alias("label_b"),
            F.floor(F.lit(10_000.0) * cos).cast("bigint").alias("cos_bp"),
        )
    )
