"""Incremental connected components: streaming dedup-cluster maintenance.

The continuous LSH and media-dedup sinks emit verified near-dup *pairs*
micro-batch by micro-batch, but cluster rollup (q64/q130's
dedup.connected_components) was batch-only — a production curation loop
wants cluster membership, and the survivorship representative, maintained
as edges arrive. This module keeps components as an append-only
union-find forest on statedir state, so new edges only touch the
components they connect:

    members/batch=<id>/  (vertex BIGINT, root BIGINT)   append-only: one
        row per vertex EVER seen, stamped with its canonical component
        root at insertion time. Never rewritten.
    parents/batch=<id>/  (child BIGINT, parent BIGINT)  append-only merge
        log: when components merge, one row per absorbed root pointing at
        the surviving (minimum-id) root. A child is canonical when it is
        merged, so it never re-appears as a child — the log is a forest
        and flattening it is pure path compression, no conflicts.

Current label of a vertex = follow the parent chain from its insertion
root. The reader flattens the parents log (iterated small self-joins —
the log is component-granular, orders of magnitude smaller than the
vertex set) and resolves every member with ONE broadcast left join:
members is streamed, never shuffled, at any corpus size.

Why a forest instead of rewriting labels in place: merging two
components costs O(1) state rows — one parents entry — regardless of
component size, and there are no stale-label rows to race against
between compactions (an in-place design must re-derive "latest label
per vertex" on every read, which is a corpus-sized shuffle per
micro-batch, or tolerate stale rows whose repair is itself a
correctness trap). Compaction path-compresses the log (read-equivalent:
readers flatten anyway) and concatenates members.

Per micro-batch cost model at 100 TB: the batch's vertices probe
members/ with a broadcast semi-join (streamed scan, no shuffle); edge
endpoints resolve through the batch-bounded slice of the flattened log;
the component-merge graph (<= 2|batch edges| nodes) resolves with a
bounded driver-side union-find (a planning collect — microseconds, no
per-iteration distributed rounds) or, past DRIVER_CC_MAX_EDGES, the
proven batch connected_components; deltas are batch-bounded appends.
Nothing corpus-sized ever rides an Exchange.

Equality contract (tests/test_incremental_graph.py, mirroring
test_lsh_snapshot.py's standard): after any sequence of edge batches —
including across a restart from on-disk state — labels() is bit-equal
to dedup.connected_components over the union of all edges. Registry
twin: q135 is that batch plan over the q64 edge set's three
micro-batch slices (recursive-CTE oracle); tests/test_sink_equals_query
.py drains this sink with the same slices and asserts the equality.

Reference analogue: none — the reference (SykesCottages/stream-cdc) has
no graph state at all; this is part of the training-data curation
surface built on top of its CDC feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_cdc_spark.streaming import statedir

MEMBERS_SCHEMA = "vertex bigint, root bigint"
PARENTS_SCHEMA = "child bigint, parent bigint"

# A batch's component-merge graph at or under this many edges resolves
# with a driver-side union-find (microseconds, zero extra Spark jobs);
# above it, the distributed connected_components fallback keeps
# correctness at any drain size. The limit bounds the collect itself
# (limit(N+1) — one action proves the overflow), the same honest
# guard shape as the BPE profile collect. 100k longs ≈ 1.6 MB driver
# memory at the bound — a planning aggregate, not a data path.
DRIVER_CC_MAX_EDGES = 100_000


def _driver_union_find(rows) -> list[tuple[int, int]]:
    """Min-label union-find over a collected (na, nb) edge list:
    returns (node, root) for every node, root = min id of its
    component — exactly the distributed fixpoint's labels."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def flatten_parent_log(parents: DataFrame, max_iter: int = 40) -> DataFrame:
    """Path-compress a merge-log forest to (child -> terminal root).

    Pointer jumping: each pass joins the map against ITSELF (child->p
    composed with p->q becomes child->q), so every chain's surviving
    depth halves per pass — depth after pass k is ceil(depth / 2^k) and
    any forest flattens in O(log depth) passes. The log is
    component-granular and small (one row per merge event ever), so each
    pass is a tiny self-join; the fixpoint test is a count, not a
    collect.
    """
    flat = parents.select("child", "parent").localCheckpoint(eager=True)
    for _ in range(max_iter):
        hop = flat.select(
            F.col("child").alias("h_child"), F.col("parent").alias("h_parent")
        )
        nxt = (
            flat.join(hop, flat["parent"] == hop["h_child"], "left")
            .select(
                "child",
                F.coalesce("h_parent", "parent").alias("parent"),
                (F.col("h_parent").isNotNull()).alias("hopped"),
            )
            .localCheckpoint(eager=True)
        )
        remaining = nxt.filter("hopped").count()
        flat = nxt.select("child", "parent")
        if remaining == 0:
            return flat
    raise RuntimeError(
        f"parent log did not flatten in {max_iter} pointer-jumping passes; "
        "chain depth exceeds 2^max_iter — the log is corrupt (cyclic), "
        "since a merge log is a forest by construction."
    )


def resolve_labels(members: DataFrame, flat_parents: DataFrame) -> DataFrame:
    """(vertex, component) for every member: one broadcast left join —
    members is streamed, never shuffled. The flattened log broadcasts
    because it is component-granular (one row per merge event); if a
    workload ever outgrew that, dropping the hint yields a shuffle join
    keyed on root with the identical result."""
    return members.join(
        F.broadcast(flat_parents), members["root"] == flat_parents["child"], "left"
    ).select(
        "vertex", F.coalesce("parent", "root").alias("component")
    )


def incremental_cc_step(
    members: DataFrame | None,
    flat_parents: DataFrame | None,
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> tuple[DataFrame, DataFrame] | None:
    """One union-find batch step: fold a new edge set into the forest.

    ``members``/``flat_parents`` are the current state (None == empty;
    flat_parents MUST be flattened — resolve chains before calling).
    Returns (members_delta, parents_delta), both batch-bounded, or None
    when the batch is effectively empty. The caller owns persistence and
    pinning (the streaming sink writes statedir dirs; the batch fold
    unions in memory).

    Invariant maintained: every component's root is the minimum vertex
    id in the component (so the root IS the survivorship representative,
    matching batch connected_components' min-label fixpoint), and
    parents_delta's children are canonical roots at merge time — they
    never re-appear as children, keeping the log a forest.
    """
    from stream_cdc_spark.operators.dedup import connected_components

    spark = edges.sparkSession
    e = statedir.pinned_or_none(
        edges.select(
            F.col(id_a).cast("long").alias("u"),
            F.col(id_b).cast("long").alias("v"),
        )
    )
    if e is None:
        return None
    verts = e.select(F.col("u").alias("vertex")).union(
        e.select(F.col("v").alias("vertex"))
    ).distinct()

    empty_members = spark.createDataFrame([], MEMBERS_SCHEMA)
    empty_parents = spark.createDataFrame([], PARENTS_SCHEMA)
    members = members if members is not None else empty_members
    flat_parents = flat_parents if flat_parents is not None else empty_parents

    # Known batch vertices with their CURRENT canonical component:
    # members and the log are probed with broadcast joins (streamed
    # scans), and every relation from here on is batch-bounded.
    known = members.join(F.broadcast(verts), "vertex", "left_semi")
    log_slice = flat_parents.join(
        F.broadcast(known.select(F.col("root").alias("child")).distinct()),
        "child",
        "left_semi",
    )
    cur = known.join(
        F.broadcast(log_slice), known["root"] == log_slice["child"], "left"
    ).select(
        "vertex", F.coalesce("parent", "root").alias("comp")
    ).localCheckpoint(eager=True)

    # Map edge endpoints to component nodes (unseen vertex -> own id) and
    # run the proven batch CC over the component-merge graph — transitive
    # in-batch merges across any number of existing components resolve in
    # O(merge-graph diameter) tiny rounds.
    cu = cur.select(F.col("vertex").alias("u"), F.col("comp").alias("cu"))
    cv = cur.select(F.col("vertex").alias("v"), F.col("comp").alias("cv"))
    e_comp = (
        e.join(F.broadcast(cu), "u", "left")
        .join(F.broadcast(cv), "v", "left")
        .select(
            F.coalesce("cu", "u").alias("na"),
            F.coalesce("cv", "v").alias("nb"),
        )
        .filter(F.col("na") != F.col("nb"))
        .dropDuplicates(["na", "nb"])
    )
    # Resolve the merge graph: driver union-find when it is small (the
    # steady-state micro-batch — one bounded collect instead of
    # O(diameter) distributed rounds of per-iteration checkpoints),
    # distributed CC when a drain-sized batch overflows the bound.
    # Both produce the identical min-label fixpoint.
    comp_rows = e_comp.limit(DRIVER_CC_MAX_EDGES + 1).collect()
    if not comp_rows:
        mapping = spark.createDataFrame([], "node bigint, new_root bigint")
    elif len(comp_rows) <= DRIVER_CC_MAX_EDGES:
        mapping = spark.createDataFrame(
            _driver_union_find(comp_rows), "node bigint, new_root bigint"
        )
    else:
        mapping = connected_components(e_comp, "na", "nb").select(
            F.col("vertex").alias("node"), F.col("component").alias("new_root")
        )
    mapping = mapping.localCheckpoint(eager=True)

    # parents delta: EXISTING canonical roots absorbed by a smaller root.
    # (A new-vertex node needs no log entry — its members row records the
    # final root directly.)
    existing_roots = cur.select(F.col("comp").alias("node")).distinct()
    parents_delta = (
        mapping.filter(F.col("node") != F.col("new_root"))
        .join(F.broadcast(existing_roots), "node", "left_semi")
        .select(F.col("node").alias("child"), F.col("new_root").alias("parent"))
    )

    # members delta: vertices never seen before, stamped with their
    # final (post-merge) root.
    new_verts = verts.join(cur.select("vertex"), "vertex", "left_anti")
    members_delta = new_verts.join(
        F.broadcast(mapping.withColumnRenamed("node", "vertex")), "vertex", "left"
    ).select(
        "vertex", F.coalesce("new_root", "vertex").alias("root")
    )
    return members_delta, parents_delta


class IncrementalComponentsSnapshot:
    """foreachBatch sink over an (id_a, id_b) near-dup pair stream,
    maintaining the union-find forest on statedir state under the
    statedir.SinkTables per-trigger protocol; `labels(spark)` is the
    cluster-membership view consumers (and the equality tests) read.
    """

    def __init__(
        self,
        state_dir: str,
        id_a: str = "id_a",
        id_b: str = "id_b",
        compact_every: int = 16,
        fs: statedir.LocalFS | None = None,
    ):
        self.state_dir = state_dir
        # parents fold = path compression (read-equivalent: readers
        # flatten anyway), bounding the chain depth — and with it the
        # reader's pointer-jumping passes — at O(pending batches)
        self._tables = statedir.SinkTables(
            state_dir,
            [
                statedir.Table("members", MEMBERS_SCHEMA),
                statedir.Table(
                    "parents", PARENTS_SCHEMA, fold=flatten_parent_log
                ),
            ],
            compact_every=compact_every,
            fs=fs,
        )
        self.members_dir = self._tables.dir("members")
        self.parents_dir = self._tables.dir("parents")
        self.id_a = id_a
        self.id_b = id_b
        self.fs = fs

    def labels(self, spark: SparkSession) -> DataFrame:
        """(vertex, component) over everything committed so far."""
        members = self._tables.read(spark, "members")
        parents = self._tables.read(spark, "parents")
        return resolve_labels(members, flatten_parent_log(parents))

    def representatives(self, spark: SparkSession) -> DataFrame:
        """(component, size): the survivorship view — the component id IS
        the minimum member id, i.e. the canonical document to keep."""
        return self.labels(spark).groupBy("component").agg(
            F.count(F.lit(1)).alias("size")
        )

    def is_empty(self, batch_id: int = 1 << 62) -> bool:
        """True while no batch has committed any member row — the
        never-folded-anything state (used by the dedup sinks to decide
        whether a late-enabled cluster_state needs a match-history
        backfill). Metadata-only: no data files are read."""
        return not self._tables.has_state("members", batch_id)

    def fold_matches(
        self,
        spark: SparkSession,
        owner: statedir.SinkTables,
        table: str,
        batch_id: int,
    ) -> None:
        """Fold the matches a dedup sink (LSH or media, cluster_state=
        True) just committed to its ``table`` for ``batch_id`` into the
        forest. The committed rows are read back, so the match plan is
        not recomputed, and a replayed batch re-reads identical rows:
        cluster state inherits the exactly-once rule.

        While the forest is still empty, the owner's whole committed
        match history folds in with this batch: cluster_state enabled
        AFTER matches accrued would otherwise ignore historical pairs
        and report wrong survivorship roots. The one-time O(total
        matches) backfill is replay-exact, because a replayed batch's
        own forest dirs are invisible at its read bound, so it
        recomputes the identical union."""
        cols = (self.id_a, self.id_b)
        edges = owner.read_batch(spark, table, batch_id).select(*cols)
        if self.is_empty(batch_id):
            history = owner.read(spark, table, batch_id).select(*cols)
            edges = history.unionByName(edges)
        self.foreach_batch(edges, batch_id)

    # -- the sink: the statedir.SinkTables protocol ------------------------
    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Edge-free trigger: exit before ANY state read — without this,
        # every zero-edge batch pays the full parents-log flatten and
        # members/parents reads just to discover there is nothing to
        # fold (review finding; the common case on a mostly-unique
        # corpus feeding the dedup sinks' match streams). Compaction is
        # deferred with the commit: pending dirs fold on the next
        # edge-bearing batch, exactly like the skipped-commit rule.
        if not batch_df.take(1):
            return
        self._tables.fold(spark, batch_id)
        step = incremental_cc_step(
            self._tables.read(spark, "members", batch_id),
            flatten_parent_log(self._tables.read(spark, "parents", batch_id)),
            batch_df,
            self.id_a,
            self.id_b,
        )
        if step is None:
            return  # empty trigger: commit nothing (missing == empty)
        m_delta, p_delta = step
        # empty deltas commit nothing too: a redundant-edge batch (all
        # endpoints known, no merges) then adds no batch dir at all
        self._tables.commit(
            batch_id,
            {
                "members": statedir.pinned_or_none(m_delta),
                "parents": statedir.pinned_or_none(p_delta),
            },
        )

    @property
    def sink(self):
        return self.foreach_batch
