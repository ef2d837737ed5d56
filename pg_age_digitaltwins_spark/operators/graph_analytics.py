"""Whole-graph analytics over the twins graph as iterative DataFrame
programs (Pregel supersteps: messages = a join, combiner = a partial
aggregation), so they run anywhere Spark runs.

Contract shared by every kernel:

* **Vertex universe.**  A kernel takes ``universe=`` — the
  :class:`VertexUniverse` of the store snapshot it runs on
  (``GraphStore.universe``, one per snapshot).  It carries |V|
  (counted once, on first use), the store's persisted long-id layout
  when the snapshot has one, and the only broadcast gate.  A kernel
  called without one builds one from the frames it was given; one
  passed in must be that of the ``twins`` passed with it (PageRank
  takes its |V| as n).  Callers
  running a kernel on a PROJECTED edge frame (relTypes filter, weight
  column) pass ``universe.without_layout()``: the layout encodes the
  unprojected edges only.
* **Gate rule.**  Vertex-sized frames (id maps, per-vertex state,
  degree and label dims) are broadcast iff |V| ≤
  :data:`BROADCAST_VERTEX_LIMIT`; above it every join on them is a
  co-partitioned shuffle join.  |V| bounds every vertex-sized frame a
  kernel builds, so the one count decides them all.
* **Checkpoint cadence.**  Loop-invariant edge frames are hoisted once,
  partitioned on the superstep's aggregation key (:func:`_keyed_ckpt`).
  Per-superstep state is a ``localCheckpoint``, so lineage never
  compounds: power iterations cut eagerly every second step (one job
  runs two supersteps), label loops eagerly every step followed by a
  ``take(1)`` convergence probe over the materialized rows.
* **Long-id space.**  With the layout, kernels run their joins and
  aggregations on order-preserving, injective 8-byte vertex ids (every
  ``min``/``<``/tie-break decides as on the dt_id strings) and decode
  once at the end, so results are identical to the string path.

The reference has no whole-graph analytics; this module is a
beyond-reference extension.
"""

from __future__ import annotations

import copy
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

# The largest |V| whose vertex-sized frames are broadcast: ~30 B per
# vertex row, so ~60 MB at the limit.
BROADCAST_VERTEX_LIMIT = 2_000_000

# Spark job tag carried by the universe's own jobs (the |V| count and
# the layout integrity check), so a trace can tell them from a kernel's.
UNIVERSE_JOB_TAG = "graph-vertex-universe"


def _tagged_count(df: DataFrame) -> int:
    sc = df.sparkSession.sparkContext
    sc.addJobTag(UNIVERSE_JOB_TAG)
    try:
        return df.count()
    finally:
        sc.removeJobTag(UNIVERSE_JOB_TAG)


class VertexUniverse:
    """The vertex set of one graph snapshot, and the one place a kernel
    decides whether vertex-sized frames broadcast.

    * ``n`` — |V|: the twin count, or, built from an edge frame alone,
      its distinct endpoint count; counted on first use, then cached.
    * ``bc(df)`` — the gate: ``F.broadcast(df)`` iff ``n`` ≤
      :data:`BROADCAST_VERTEX_LIMIT` (read at call time).
    * ``layout()`` — the ``(vertex_ids, edges_vid)`` tables of
      ``GraphStore.save_bucketed``, or None.  ``vertex_ids`` is (dt_id,
      vid), vid order == dt_id order, over the edge-endpoint universe;
      ``edges_vid`` is the relationships as (source_vid, target_vid,
      name).  Kernels rely on every ``edges_vid`` endpoint having a
      ``vertex_ids`` row; the first call checks that with one left-anti
      count, cached next to ``n``, and raises ``ValueError`` if not.

    Every commit makes a new ``GraphStore`` and so a fresh universe; a
    relationship mutation drops the layout with the tables it encodes.
    ``without_layout()`` shares the cached facts."""

    def __init__(
        self,
        twins: DataFrame | None = None,
        relationships: DataFrame | None = None,
        vertex_ids: DataFrame | None = None,
        edges_vid: DataFrame | None = None,
    ):
        if twins is None and relationships is None:
            raise ValueError("a vertex universe needs twins or relationships")
        self.twins = twins
        self.relationships = relationships
        self._layout = (
            (vertex_ids, edges_vid)
            if vertex_ids is not None and edges_vid is not None
            else None
        )
        self._facts: dict = {}

    def without_layout(self) -> "VertexUniverse":
        view = copy.copy(self)  # shallow: shares the cached facts
        view._layout = None
        return view

    @property
    def n(self) -> int:
        if "n" not in self._facts:
            if self.twins is not None:
                vs = self.twins.select("dt_id")
            else:
                e = self.relationships
                vs = (
                    e.select(F.col("source_id").alias("dt_id"))
                    .union(e.select(F.col("target_id").alias("dt_id")))
                    .distinct()
                )
            self._facts["n"] = _tagged_count(vs)
        return self._facts["n"]

    @property
    def broadcasts(self) -> bool:
        return self.n <= BROADCAST_VERTEX_LIMIT

    def bc(self, df: DataFrame) -> DataFrame:
        return F.broadcast(df) if self.broadcasts else df

    def layout(self) -> tuple[DataFrame, DataFrame] | None:
        if self._layout is None:
            return None
        vertex_ids, edges_vid = self._layout
        if "dangling" not in self._facts:
            ends = edges_vid.select(F.col("source_vid").alias("vid")).union(
                edges_vid.select(F.col("target_vid").alias("vid"))
            )
            self._facts["dangling"] = _tagged_count(
                ends.join(self.bc(vertex_ids.select("vid")), "vid", "left_anti")
            )
        if self._facts["dangling"]:
            raise ValueError(
                "vertex layout breaks endpoint referential integrity: "
                f"{self._facts['dangling']} edges_vid endpoint(s) have no "
                "vertex_ids row; rebuild the layout with "
                "GraphStore.save_bucketed"
            )
        return self._layout


def _keyed_ckpt(df: DataFrame, sort_cols: list | None = None) -> DataFrame:
    """Eager ``localCheckpoint`` that keeps the frame's output
    partitioning (and ordering, with ``sort_cols``) visible to later
    plans.  Under AQE a checkpoint records ``UnknownPartitioning``, so
    every downstream groupBy/join on the key would re-exchange a frame
    that is already laid out; compiling this one materialization with
    AQE off records the ``HashPartitioning`` instead.  The toggle is
    read at compile time and restored at once."""
    spark = df.sparkSession
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _vid_map_for(ids: DataFrame) -> DataFrame:
    """(dt_id, vid) over the distinct ``ids`` with vid order == dt_id
    order: ``monotonically_increasing_id`` over an ``orderBy``'d frame
    (the range shuffle keeps partition order, ids rise within
    partitions).  Eager, because the assignment is deterministic per
    execution only and every encode/decode must see the same one."""
    return (
        ids.distinct()
        .orderBy("dt_id")
        .select("dt_id", F.monotonically_increasing_id().alias("vid"))
        .localCheckpoint(eager=True)
    )


def _edge_vids(edges_vid: DataFrame) -> DataFrame:
    return edges_vid.select(
        F.col("source_vid").alias("source_id"),
        F.col("target_vid").alias("target_id"),
    )


def _decode(
    u: VertexUniverse, df: DataFrame, vertex_ids: DataFrame, *cols: str
) -> DataFrame:
    """Map each long-id column of ``df`` back to its dt_id string."""
    out = df.columns
    for c in cols:
        dec = vertex_ids.select(F.col("vid").alias(c), F.col("dt_id").alias("__s"))
        df = df.join(u.bc(dec), c).drop(c).withColumnRenamed("__s", c)
    return df.select(*out)


def _isolated(
    u: VertexUniverse, twins: DataFrame, vertex_ids: DataFrame
) -> DataFrame:
    """Twins outside the edge-endpoint universe (no edges at all)."""
    return twins.select("dt_id").join(
        u.bc(vertex_ids.select("dt_id")), "dt_id", "left_anti"
    )


def _und_pairs_vid(
    relationships: DataFrame, u: VertexUniverse
) -> tuple[DataFrame, DataFrame]:
    """(und, vid_map): the deduplicated undirected (a < b) pairs in
    order-preserving long id space for the wedge family, and the
    (dt_id, vid) map that decodes them.  Reads the layout when the
    universe has one; otherwise encodes the endpoints per query."""
    layout = u.layout()
    if layout is not None:
        vid_map, edges_vid = layout
        und = (
            _edge_vids(edges_vid)
            .filter(F.col("source_id") != F.col("target_id"))
            .select(
                F.least("source_id", "target_id").alias("a"),
                F.greatest("source_id", "target_id").alias("b"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        return und, vid_map
    # the eager vid-map build is the pair frame's first action, so the
    # encode joins read the materialized dedup back
    und_s = _und_pairs(relationships)
    vmap = _vid_map_for(
        und_s.select(F.col("a").alias("dt_id")).unionByName(
            und_s.select(F.col("b").alias("dt_id"))
        )
    )
    va = vmap.select(F.col("dt_id").alias("a"), F.col("vid").alias("__va"))
    vb = vmap.select(F.col("dt_id").alias("b"), F.col("vid").alias("__vb"))
    # a < b on strings ⇒ __va < __vb on vids (order-preserving encode)
    und = (
        und_s.join(u.bc(va), "a")
        .join(u.bc(vb), "b")
        .select(F.col("__va").alias("a"), F.col("__vb").alias("b"))
        .localCheckpoint(eager=False)
    )
    return und, vmap


def _und_pairs(relationships: DataFrame) -> DataFrame:
    """Distinct undirected (a < b) pairs without self loops, behind a
    lazy cut (callers read it more than once)."""
    e = relationships.select("source_id", "target_id").filter(
        F.col("source_id") != F.col("target_id")
    )
    return e.select(
        F.least("source_id", "target_id").alias("a"),
        F.greatest("source_id", "target_id").alias("b"),
    ).distinct().localCheckpoint(eager=False)


def _undirected(relationships: DataFrame) -> DataFrame:
    e = relationships.select("source_id", "target_id")
    return e.unionByName(
        e.select(
            F.col("target_id").alias("source_id"), F.col("source_id").alias("target_id")
        )
    ).distinct()


def _power_step(
    u: VertexUniverse,
    edges: DataFrame,
    state: DataFrame,
    verts: DataFrame,
    key: str,
    msg: Column,
    scalar: Callable[[DataFrame], DataFrame],
    value: Column,
    eager: bool,
    src: str = "source_id",
    dst: str = "target_id",
) -> DataFrame:
    """One push-sum superstep of a power iteration:

    ``s(v) = Σ msg`` over ``edges ⋈ bc(state)`` (``edges[src] ==
    state[key]``) grouped by ``dst``; then ``verts ⋈ bc(s)`` (left, so
    vertices receiving nothing carry a NULL ``s``) crossed with the
    1-row ``scalar(sums)`` frame, projected to ``key`` and ``value``,
    and checkpointed (``eager`` sets the cadence).  The scalar rides a
    broadcast nested-loop join, so a superstep is one job with no
    driver collect; with the state broadcast and ``edges`` partitioned
    on ``dst`` it runs no exchange at all."""
    sums = (
        edges.join(u.bc(state), edges[src] == state[key])
        .select(F.col(dst).alias(key), msg.alias("__m"))
        .groupBy(key)
        .agg(F.sum("__m").alias("s"))
    )
    return (
        verts.join(u.bc(sums), key, "left")
        .crossJoin(scalar(sums))
        .select(key, value)
        .localCheckpoint(eager=eager)
    )


def _max_of_sums(sums: DataFrame) -> DataFrame:
    return sums.agg(F.max("s").alias("mx"))


def _max_normalized(name: str) -> Column:
    """s / max(s) — the max-normalized power-iteration update (0 when
    nothing received mass)."""
    return (
        F.when(
            F.col("mx").isNotNull() & (F.col("mx") > 0),
            F.coalesce(F.col("s"), F.lit(0.0)) / F.col("mx"),
        )
        .otherwise(F.lit(0.0))
        .alias(name)
    )


def connected_components(
    twins: DataFrame,
    relationships: DataFrame,
    max_iters: int = 20,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(dt_id, component) — component = min twin id reachable over
    undirected edges.

    Star contraction: each level takes every vertex's local min over
    its closed neighborhood (the min of two directed map-side-combined
    groupBys — no join, labels are still the identity), rewrites each
    edge's endpoints to those labels and keeps only cross-label edges,
    so each level strictly shrinks the graph; the per-level maps then
    compose vertex → label → … → root.  Exact: the global min of a
    component is its own local min at every level.

    Scale strategy: the per-level label maps are vertex-sized and ride
    the universe gate, so the |E| frame never shuffles for the
    contraction joins; each level is one eager checkpoint plus a
    ``take(1)`` probe, O(contracted diameter) levels.  With the layout
    the levels run on long ids and one decode maps roots back; twins
    outside the edge-endpoint universe are their own components."""
    u = universe or VertexUniverse(twins, relationships)
    layout = u.layout()
    if layout is not None:
        vid_map, edges_vid = layout
        e = _edge_vids(edges_vid)
    else:
        e = relationships.select("source_id", "target_id")
    e = e.filter(F.col("source_id") != F.col("target_id"))
    level_maps: list[DataFrame] = []
    for _ in range(max_iters):
        in_min = e.groupBy(F.col("target_id").alias("id")).agg(
            F.min("source_id").alias("nmin")
        )
        out_min = e.groupBy(F.col("source_id").alias("id")).agg(
            F.min("target_id").alias("nmin")
        )
        local = (
            in_min.unionByName(out_min)
            .groupBy("id")
            .agg(F.min("nmin").alias("nmin"))
            .select(
                "id", F.least(F.col("id"), F.col("nmin")).alias("label")
            )
            # lazy: the contraction's checkpoint job below computes
            # (and caches) this level map in the same job
            .localCheckpoint(eager=False)
        )
        level_maps.append(local)
        ls = local.select(
            F.col("id").alias("source_id"), F.col("label").alias("__ls")
        )
        lt = local.select(
            F.col("id").alias("target_id"), F.col("label").alias("__lt")
        )
        e = (
            e.join(u.bc(ls), "source_id")
            .join(u.bc(lt), "target_id")
            .select(
                F.col("__ls").alias("source_id"),
                F.col("__lt").alias("target_id"),
            )
            .filter(F.col("source_id") != F.col("target_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if not e.take(1):
            break

    # compose vertex → level-1 label → … → root; vertices absent from a
    # level's map are already roots there (left join + coalesce)
    if layout is not None:
        comp = vid_map.select("dt_id", F.col("vid").alias("component"))
    else:
        comp = twins.select("dt_id", F.col("dt_id").alias("component"))
    for m in level_maps:
        step = m.select(
            F.col("id").alias("component"), F.col("label").alias("__next")
        )
        comp = comp.join(step, "component", "left").select(
            "dt_id",
            F.coalesce(F.col("__next"), F.col("component")).alias("component"),
        )
    if layout is not None:
        comp = _decode(u, comp, vid_map, "component").unionByName(
            _isolated(u, twins, vid_map).select(
                "dt_id", F.col("dt_id").alias("component")
            )
        )
    return comp


def pagerank(
    twins: DataFrame,
    relationships: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    weight_col: str | None = None,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(dt_id, rank) after ``iters`` power iterations on the directed
    twin graph, rounded at 8.  Dangling vertices redistribute
    uniformly, so rank mass never drains.

    Out-degrees count ALL of a twin source's outgoing edges, so mass
    sent to a non-twin target leaks instead of inflating the twin
    targets' shares (the oracle's semantics).  ``weight_col`` (the GDS
    ``relationshipWeightProperty``): a non-negative, non-NULL numeric
    column; each edge carries rank·w(u,v)/W(u) with W(u) the source's
    total outgoing weight, and a zero-total source counts as dangling.

    Scale strategy: vertices get long ids (``monotonically_increasing_id``
    — PageRank needs uniqueness, not order); the edge frame, joined
    with out-degrees, is hoisted once and partitioned on the target, so
    each :func:`_power_step` is one map-side pass over |E| with the
    state broadcast under the gate.  With the layout (unweighted only:
    it carries no weights) the encode disappears; twins outside the
    endpoint universe take negative vids, disjoint from the persisted
    ones."""
    u = universe or VertexUniverse(twins, relationships)
    layout = u.layout() if weight_col is None else None
    if layout is not None:
        vid_map, edges_vid = layout
        extra = (
            twins.select("dt_id")
            .join(vid_map.select("dt_id"), "dt_id", "left_anti")
            .select(
                "dt_id",
                (-F.monotonically_increasing_id() - 1).alias("vid"),
            )
        )
        dec_map = (
            vid_map.select("dt_id", "vid")
            .unionByName(extra)
            .localCheckpoint(eager=False)
        )
        edges = _edge_vids(edges_vid)
        out_deg = edges.groupBy(F.col("source_id").alias("vid")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
        verts = dec_map.select("vid").localCheckpoint(eager=True)
    else:
        # mono_id over a stable scan partitioning is deterministic per
        # layout, and the eager verts cut pins it before any consumer
        # forks
        dec_map = (
            twins.select("dt_id")
            .select("dt_id", F.monotonically_increasing_id().alias("vid"))
            .localCheckpoint(eager=False)
        )
        verts = dec_map.select("vid").localCheckpoint(eager=True)
        sv = dec_map.select(
            F.col("dt_id").alias("source_id"), F.col("vid").alias("__sv")
        )
        tv = dec_map.select(
            F.col("dt_id").alias("target_id"), F.col("vid").alias("__tv")
        )
        ecols = ["source_id", "target_id"] + ([weight_col] if weight_col else [])
        src_edges = relationships.select(*ecols).join(u.bc(sv), "source_id")
        if weight_col is None:
            out_deg = src_edges.groupBy(F.col("__sv").alias("vid")).agg(
                F.count(F.lit(1)).alias("out_deg")
            )
        else:
            out_deg = (
                src_edges.groupBy(F.col("__sv").alias("vid"))
                .agg(F.sum(F.col(weight_col).cast("double")).alias("out_deg"))
                .filter(F.col("out_deg") > 0)
            )
        wcols = (
            [F.col(weight_col).cast("double").alias("__w")] if weight_col else []
        )
        edges = src_edges.join(u.bc(tv), "target_id").select(
            F.col("__sv").alias("source_id"),
            F.col("__tv").alias("target_id"),
            *wcols,
        )
    n = u.n
    spark = edges.sparkSession
    deg_edges = _keyed_ckpt(
        edges.join(out_deg, edges["source_id"] == out_deg["vid"])
        .select(
            "source_id", "target_id", "out_deg",
            *(["__w"] if weight_col else []),
        )
        .repartition(
            spark.sparkContext.defaultParallelism, F.col("target_id")
        )
    )
    dangling_verts = verts.join(out_deg, "vid", "left_anti").localCheckpoint(
        eager=True
    )
    share = (
        F.col("rank") * F.col("__w") / F.col("out_deg")
        if weight_col
        else F.col("rank") / F.col("out_deg")
    )
    update = (
        F.lit((1.0 - damping) / n)
        + F.lit(damping) * F.col("dangling") / F.lit(float(n))
        + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
    ).alias("rank")
    state = verts.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=True)
    for i in range(iters):
        dangling = state.join(u.bc(dangling_verts), "vid", "semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling")
        )
        state = _power_step(
            u, deg_edges, state, verts, "vid", share,
            lambda _: dangling, update,
            eager=(i % 2 == 1) or (i == iters - 1),
        )
    return state.join(u.bc(dec_map), "vid").select(
        "dt_id", F.round("rank", 8).alias("rank")
    )


def personalized_pagerank(
    twins: DataFrame,
    relationships: DataFrame,
    seeds: list[str],
    iters: int = 5,
    damping: float = 0.85,
    weight_col: str | None = None,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(dt_id, rank) — personalized PageRank: teleport (and dangling
    redistribution) target the SEED set only, so rank measures
    proximity to the seeds instead of global centrality — the
    recommendation / related-entities primitive.

    rank_k(v) = s(v)·((1−d) + d·dangling_{k−1}) + d·Σ_in rank(u)/out(u)
    with s(v) = 1/|S| for seeds, 0 elsewhere; r0 = s.  Vertices
    unreachable from the seeds stay at exactly 0.  ``weight_col``: the
    :func:`pagerank` contract.

    Scale strategy: :func:`pagerank`'s, in dt_id space; the seed vector
    is a plan-time IN-list (seeds are query-sized)."""
    if not seeds:
        raise ValueError("personalized_pagerank needs at least one seed")
    u = universe or VertexUniverse(twins, relationships)
    verts = twins.select("dt_id").localCheckpoint(eager=True)
    s_v = F.when(
        F.col("dt_id").isin(list(seeds)), F.lit(1.0 / len(seeds))
    ).otherwise(F.lit(0.0))
    ecols = ["source_id", "target_id"] + ([weight_col] if weight_col else [])
    edges = relationships.select(*ecols)
    if weight_col is None:
        out_deg = edges.groupBy(F.col("source_id").alias("dt_id")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
    else:
        out_deg = (
            edges.groupBy(F.col("source_id").alias("dt_id"))
            .agg(F.sum(F.col(weight_col).cast("double")).alias("out_deg"))
            .filter(F.col("out_deg") > 0)
        )
    spark = edges.sparkSession
    deg_edges = _keyed_ckpt(
        edges.join(out_deg, edges["source_id"] == out_deg["dt_id"])
        .select(
            "source_id", "target_id", "out_deg",
            *(
                [F.col(weight_col).cast("double").alias("__w")]
                if weight_col
                else []
            ),
        )
        .repartition(
            spark.sparkContext.defaultParallelism, F.col("target_id")
        )
    )
    dangling_verts = verts.join(out_deg, "dt_id", "left_anti").localCheckpoint(
        eager=True
    )
    share = (
        F.col("rank") * F.col("__w") / F.col("out_deg")
        if weight_col
        else F.col("rank") / F.col("out_deg")
    )
    update = (
        s_v * (F.lit(1.0 - damping) + F.lit(damping) * F.col("dangling"))
        + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
    ).alias("rank")
    state = verts.withColumn("rank", s_v).localCheckpoint(eager=True)
    for i in range(iters):
        dangling = state.join(u.bc(dangling_verts), "dt_id", "semi").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling")
        )
        state = _power_step(
            u, deg_edges, state, verts, "dt_id", share,
            lambda _: dangling, update,
            eager=(i % 2 == 1) or (i == iters - 1),
        )
    return state.select("dt_id", F.round("rank", 8).alias("rank"))


def degree_distribution(twins: DataFrame, relationships: DataFrame) -> DataFrame:
    """(degree, n_twins): histogram of total (in+out) relationship
    degree, INCLUDING zero-degree twins — the pre-flight check before
    any whole-graph algorithm (hub skew here predicts shuffle skew
    there).  Two map-side-combined aggregations keyed by vertex id and
    one tiny histogram shuffle; no iteration."""
    out_d = relationships.groupBy(F.col("source_id").alias("dt_id")).agg(
        F.count(F.lit(1)).alias("out_d")
    )
    in_d = relationships.groupBy(F.col("target_id").alias("dt_id")).agg(
        F.count(F.lit(1)).alias("in_d")
    )
    deg = (
        twins.select("dt_id")
        .join(out_d, "dt_id", "left")
        .join(in_d, "dt_id", "left")
        .select(
            (
                F.coalesce(F.col("out_d"), F.lit(0))
                + F.coalesce(F.col("in_d"), F.lit(0))
            ).alias("degree")
        )
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_twins"))


def _closed_triangles(und: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(deg, closed) over a deduplicated undirected (a < b) pair frame:
    per-vertex degrees (v, deg), and every triangle exactly once as
    (u, v, w).

    Each edge is oriented from its lower-(degree, id) endpoint to the
    higher one (the Cohen / Suri-Vassilvitskii scheme): the relation is
    acyclic and every out-degree is O(√m), so the wedge self-join
    cannot blow up on hubs.  Two shuffles: the wedge join and the
    closing-edge semi join."""
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )
    ranked = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    )
    fwd = F.struct("da", "a") < F.struct("db", "b")
    oriented = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=False)
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.hi") == F.col("e2.lo"))
        .select(
            F.col("e1.lo").alias("u"),
            F.col("e1.hi").alias("v"),
            F.col("e2.hi").alias("w"),
        )
    )
    closed = wedges.join(
        oriented.select(F.col("lo").alias("u"), F.col("hi").alias("w")),
        ["u", "w"],
        "left_semi",
    )
    return deg, closed


def triangle_count(
    relationships: DataFrame, universe: VertexUniverse | None = None
) -> DataFrame:
    """Global triangle count over the undirected twin graph, in
    order-preserving long id space (orientation ties break on ids, so
    the long orientation is the string one); see
    :func:`_closed_triangles` for the hub-proof plan."""
    u = universe or VertexUniverse(relationships=relationships)
    und, _ = _und_pairs_vid(relationships, u)
    _, closed = _closed_triangles(und)
    return closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def local_clustering(
    relationships: DataFrame, universe: VertexUniverse | None = None
) -> DataFrame:
    """(dt_id, triangles, wedges, lcc_micro) — PER-NODE local
    clustering coefficient over the undirected twin graph: triangles(v)
    / C(deg(v), 2), the classic neighborhood-cohesion feature (Watts-
    Strogatz) behind community features and link-prediction signals.

    Exactness: triangles and wedges are exact BIGINTs; the coefficient
    is reported as floor-divided MICRO units (triangles·1e6 //
    wedges) — no float division in-plan, so the whole frame
    value-checks against SQL.  Degree-1 vertices have wedges = 0 and
    lcc_micro NULL (no defined coefficient); zero-degree twins are
    omitted (join the twins dim for a dense frame).

    Scale strategy: :func:`_closed_triangles` in long id space, closed
    triangles exploded to their three corners and counted map-side
    (three shuffles in all), then one gated decode join."""
    u = universe or VertexUniverse(relationships=relationships)
    und, vid_map = _und_pairs_vid(relationships, u)
    deg, closed = _closed_triangles(und)
    corners = (
        closed.select(F.col("u").alias("v"))
        .unionAll(closed.select("v"))
        .unionAll(closed.select(F.col("w").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    # all-integer: deg·(deg−1) div 2 never leaves BIGINT (float /2
    # would lose bits past 2^53 on extreme hubs)
    wed = F.expr("(deg * (deg - 1)) div 2")
    scored = deg.join(corners, "v", "left").select(
        F.col("v").alias("vid"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        wed.cast("long").alias("wedges"),
        F.when(
            wed > 0,
            F.expr(
                "coalesce(triangles, 0) * 1000000 div "
                "((deg * (deg - 1)) div 2)"
            ).cast("long"),
        ).alias("lcc_micro"),
    )
    return scored.join(u.bc(vid_map), "vid").select(
        "dt_id", "triangles", "wedges", "lcc_micro"
    )


def k_core(
    relationships: DataFrame, k: int = 2, max_iters: int = 10
) -> DataFrame:
    """Vertices of the k-core (the maximal subgraph where every vertex
    has degree ≥ k), with each survivor's within-core degree.

    Iterative peeling: each round recomputes degrees within the surviving
    vertex set (two left-semi joins) and drops sub-k vertices, stopping at
    the fixpoint or ``max_iters`` (rounds past the fixpoint are no-ops, so
    the unrolled-CTE oracle stays exact); one eager checkpoint per round."""
    edges = _undirected(relationships).localCheckpoint(eager=False)
    nodes = edges.select(F.col("source_id").alias("dt_id")).distinct()
    deg = None
    for _ in range(max_iters):
        deg = (
            edges.join(
                nodes.withColumnRenamed("dt_id", "source_id"),
                "source_id",
                "left_semi",
            )
            .join(
                nodes.withColumnRenamed("dt_id", "target_id"),
                "target_id",
                "left_semi",
            )
            .groupBy(F.col("source_id").alias("dt_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        )
        survivors = deg.filter(F.col("core_degree") >= k).localCheckpoint(
            eager=True
        )
        dropped = nodes.join(survivors, "dt_id", "left_anti").take(1)
        nodes = survivors.select("dt_id")
        if not dropped:
            break
    return survivors.select("dt_id", "core_degree") if deg is not None else (
        nodes.withColumn("core_degree", F.lit(0).cast("bigint"))
    )


def k_truss(
    relationships: DataFrame, k: int = 3, max_rounds: int = 3
) -> DataFrame:
    """(src, dst) — edges of the k-truss: the maximal subgraph where
    every edge participates in ≥ k−2 triangles (Cohen's truss).  Canonical
    undirected edges (src < dst).

    Iterative EDGE peeling: each round counts per-edge support within the
    surviving edge set — edge (u, v) joins the adjacency on u to propose
    wedges (u, v, w), the (v, w) join closes them — and drops edges with
    support < k−2.  ``max_rounds`` is fixed so the unrolled-CTE oracle
    stays exact; the early exit at the fixpoint is output-identical.  Per
    round: one wedge join (Σ deg(u) per edge, the triangle-count cost
    envelope) and one closure join; the edge set shrinks every round."""
    e = (
        _undirected(relationships)
        .filter(F.col("source_id") < F.col("target_id"))
        .select(
            F.col("source_id").alias("src"), F.col("target_id").alias("dst")
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(max_rounds):
        adj = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        a = adj.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        b = adj.select(F.col("src").alias("v"), F.col("dst").alias("w2"))
        sup = (
            e.join(a, e["src"] == a["u"])
            .join(b, (e["dst"] == b["v"]) & (a["w"] == b["w2"]))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("__sup"))
        )
        kept = (
            e.join(sup, ["src", "dst"], "left")
            .filter(F.coalesce(F.col("__sup"), F.lit(0)) >= k - 2)
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        if not e.join(kept, ["src", "dst"], "left_anti").take(1):
            return kept
        e = kept
    return e


def label_propagation(
    twins: DataFrame, relationships: DataFrame, iterations: int = 3
) -> DataFrame:
    """(dt_id, label) — synchronous label propagation communities over
    the undirected (deduplicated) edge set: every node adopts its
    neighbors' most frequent label, ties broken by smallest label;
    isolated nodes keep their own id.  The iteration count is FIXED, so
    the result is reproducible and expressible as an unrolled SQL CTE.
    Per superstep: one edge⋈label join, a map-side-combined (node, label)
    count and a per-node top-1 window on the same partitioning."""
    from pyspark.sql import Window

    labels = twins.select("dt_id", F.col("dt_id").alias("label"))
    edges = _undirected(relationships).localCheckpoint(eager=False)
    w = Window.partitionBy("dt_id").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(iterations):
        cand = (
            edges.join(labels, edges["source_id"] == labels["dt_id"])
            .groupBy(F.col("target_id").alias("dt_id"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pick = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("dt_id", F.col("label").alias("new_label"))
        )
        labels = (
            twins.select("dt_id")
            .join(pick, "dt_id", "left")
            .select(
                "dt_id",
                F.coalesce("new_label", F.col("dt_id")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels


def global_clustering_coefficient(
    relationships: DataFrame, universe: VertexUniverse | None = None
) -> DataFrame:
    """Global (transitivity) clustering coefficient:
    3 × triangles / open-triad count, where triads = Σ deg·(deg−1)/2
    over the deduplicated undirected graph — how much of the graph's
    wedge structure actually closes.  The triangle count and the triads
    read one pair frame and one degree dim (:func:`_closed_triangles`);
    the final ratio is a 1×1 cross join."""
    u = universe or VertexUniverse(relationships=relationships)
    und, _ = _und_pairs_vid(relationships, u)
    deg, closed = _closed_triangles(und)
    tri = closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    triads = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("n_triads")
    )
    return tri.crossJoin(triads).select(
        "n_triangles",
        "n_triads",
        F.round(
            3.0 * F.col("n_triangles") / F.col("n_triads"), 6
        ).alias("clustering_coefficient"),
    )


def _min_propagate(
    verts: DataFrame, edges: DataFrame, forward: bool, max_iters: int
) -> tuple[DataFrame, bool]:
    """((dt_id, m), converged) — min vertex id that can reach ``dt_id``
    along edge direction (``forward=True``) or that ``dt_id`` can reach
    (``forward=False``).  Directed min-label propagation, same superstep
    shape as ``connected_components``.  ``converged`` is False when the
    pass exhausted ``max_iters`` with labels still changing — callers
    MUST NOT treat partial labels as final (SCC would silently split a
    component whose diameter exceeds max_iters)."""
    src, dst = ("source_id", "target_id") if forward else ("target_id", "source_id")
    labels = verts.select("dt_id", F.col("dt_id").alias("m"))
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges[src] == labels["dt_id"])
            .groupBy(F.col(dst).alias("dt_id"))
            .agg(F.min("m").alias("n_m"))
        )
        hopped = labels.join(neighbor_min, "dt_id", "left").select(
            "dt_id",
            F.col("m").alias("__m0"),
            F.least(F.col("m"), F.coalesce(F.col("n_m"), F.col("m"))).alias("m"),
        )
        # pointer-doubling shortcut: reachability is transitive, so if
        # m(v)=a then anything reaching a also reaches v — m(v) :=
        # min(m(v), m(m(v))) halves convergence rounds (label-table
        # join, |V|-sized, cheaper than an edge-join round).  The
        # changed flag (final vs pre-hop label) rides the checkpointed
        # frame so the convergence probe is a cached filter, not a join.
        new_labels = (
            hopped.alias("a")
            .join(
                hopped.select(
                    F.col("dt_id").alias("m"), F.col("m").alias("__m2")
                ),
                "m",
                "left",
            )
            .select(
                "dt_id",
                F.least(
                    F.col("m"), F.coalesce(F.col("__m2"), F.col("m"))
                ).alias("m"),
                F.col("__m0"),
            )
            .select(
                "dt_id",
                "m",
                (F.col("m") != F.col("__m0")).alias("__ch"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("__ch")).take(1)
        labels = new_labels.drop("__ch")
        if not changed:
            converged = True
            break
    return labels, converged


def strongly_connected_components(
    twins: DataFrame,
    relationships: DataFrame,
    max_rounds: int = 8,
    max_iters: int = 20,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(dt_id, scc) — SCC id = min twin id in the component, over the
    DIRECTED edge set.

    FW-BW-Trim as supersteps: per round, TRIM first — until stable, a
    vertex with no in-edge or no out-edge in the remaining subgraph is a
    singleton SCC (one degree aggregation per layer), which settles the
    acyclic bulk of the twin graph.  Then fwd(v) = min id reaching v and
    bwd(v) = min id reachable from v; fwd(v) == bwd(v) == c exactly
    identifies c's SCC, which settles and peels off.  Each round settles
    at least the smallest remaining id's SCC.  Raises after
    ``max_rounds`` (or a propagation not converged in ``max_iters``)
    instead of mislabeling the remainder.

    Scale strategy: every peel/trim layer semi-joins the |E| frame against
    the vertex-sized remaining set under the universe gate and cuts
    lineage with an eager checkpoint.  With the layout the pipeline runs
    on long ids, and round 1 skips its semi joins: the remaining set is
    the whole endpoint universe, which ``VertexUniverse.layout`` has
    checked contains every edge endpoint.  Twins outside that universe are
    singleton SCCs, attached at the decode."""
    u = universe or VertexUniverse(twins, relationships)
    layout = u.layout()
    if layout is not None:
        vid_map, edges_vid = layout
        verts = vid_map.select(F.col("vid").alias("dt_id"))
        edges = _edge_vids(edges_vid)
    else:
        verts = twins.select("dt_id")
        edges = relationships.select("source_id", "target_id")
    edges = edges.distinct().localCheckpoint(eager=False)
    remaining = verts.localCheckpoint(eager=True)
    out: DataFrame | None = None

    def within(e: DataFrame, vs: DataFrame) -> DataFrame:
        return (
            e.join(
                u.bc(vs.withColumnRenamed("dt_id", "source_id")),
                "source_id", "left_semi",
            )
            .join(
                u.bc(vs.withColumnRenamed("dt_id", "target_id")),
                "target_id", "left_semi",
            )
            .localCheckpoint(eager=True)
        )

    first_round = True
    for _ in range(max_rounds):
        if not remaining.take(1):
            break
        if first_round and layout is not None:
            e = edges.localCheckpoint(eager=True)
        else:
            e = within(edges, remaining)
        first_round = False
        # settled singleton layers accumulate and union once per round
        # (each is checkpoint-derived, so the union's lineage is flat)
        trivial_parts: list[DataFrame] = []
        while True:
            deg = (
                e.select(
                    F.col("source_id").alias("dt_id"),
                    F.lit(1).alias("o"),
                    F.lit(0).alias("i"),
                )
                .unionByName(
                    e.select(
                        F.col("target_id").alias("dt_id"),
                        F.lit(0).alias("o"),
                        F.lit(1).alias("i"),
                    )
                )
                .groupBy("dt_id")
                .agg(F.max("o").alias("has_out"), F.max("i").alias("has_in"))
            )
            lab = (
                remaining.join(u.bc(deg), "dt_id", "left")
                .select(
                    "dt_id",
                    (
                        F.coalesce(F.col("has_out"), F.lit(0))
                        * F.coalesce(F.col("has_in"), F.lit(0))
                        == 0
                    ).alias("__triv"),
                )
                .localCheckpoint(eager=True)  # one job labels the layer
            )
            trivial = lab.filter(F.col("__triv")).select("dt_id")
            if not trivial.take(1):
                break
            trivial_parts.append(
                trivial.select("dt_id", F.col("dt_id").alias("scc"))
            )
            remaining = lab.filter(~F.col("__triv")).select("dt_id")
            if not remaining.take(1):
                break  # everything settled; skip the dead e rebuild
            e = within(e, remaining)
        for settled_t in trivial_parts:
            out = settled_t if out is None else out.unionByName(settled_t)
        if trivial_parts:
            out = out.localCheckpoint(eager=True)
        if not remaining.take(1):
            break
        fwd, f_ok = _min_propagate(remaining, e, True, max_iters)
        bwd, b_ok = _min_propagate(remaining, e, False, max_iters)
        if not (f_ok and b_ok):
            # partial labels would settle one SCC under several ids
            raise RuntimeError(
                f"SCC min-propagation did not converge in {max_iters} "
                "supersteps (graph diameter too large); raise max_iters"
            )
        settled = (
            fwd.alias("f")
            .join(bwd.alias("b"), "dt_id")
            .filter(F.col("f.m") == F.col("b.m"))
            .select("dt_id", F.col("f.m").alias("scc"))
        )
        out = settled if out is None else out.unionByName(settled)
        out = out.localCheckpoint(eager=True)
        remaining = remaining.join(
            u.bc(settled), "dt_id", "left_anti"
        ).localCheckpoint(eager=True)
    else:
        if remaining.take(1):  # pragma: no cover — pathological chains
            raise RuntimeError(
                f"SCC did not converge in {max_rounds} rounds; raise max_rounds"
            )
    if out is None:
        out = verts.select("dt_id", F.col("dt_id").alias("scc"))
    if layout is not None:
        out = _decode(u, out, vid_map, "dt_id", "scc").unionByName(
            _isolated(u, twins, vid_map).select(
                "dt_id", F.col("dt_id").alias("scc")
            )
        )
    return out


def harmonic_centrality_sampled(
    relationships: DataFrame,
    sources: DataFrame,
    max_depth: int = 3,
) -> DataFrame:
    """(dt_id, h12, n_reached) — sampled harmonic centrality over the
    undirected graph: ``h12 = Σ_sources 12/d(source, node)`` over BFS
    distances 1..max_depth, ``n_reached`` = sources within range.

    The 12/d weighting keeps the score an exact INTEGER sum
    (order-independent, engine-portable); ``max_depth`` ≤ 12 keeps 12/d
    integral at 1, 2, 3, 4, 6, 12.  Cost scales with the frontier, not
    with |sources| BFS runs (:func:`_multi_source_bfs`)."""
    seen = _multi_source_bfs(relationships, sources, max_depth)
    return (
        seen.filter(F.col("depth") > 0)
        .groupBy(F.col("node").alias("dt_id"))
        .agg(
            # per-term floor ≡ integer 12 // depth
            F.sum(F.floor(F.lit(12) / F.col("depth")))
            .cast("bigint")
            .alias("h12"),
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        )
    )


def _multi_source_bfs(
    relationships: DataFrame,
    sources: DataFrame,
    max_depth: int,
    count_paths: bool = False,
    und_edges: DataFrame | None = None,
) -> DataFrame:
    """(node, src, depth[, sigma]) — undirected multi-source BFS
    distances up to ``max_depth`` (depth 0 = the sources themselves).
    Shared by the sampled centralities: one edge join + left-anti
    dedup per depth, O(max_depth) shuffles total regardless of
    |sources|.

    ``count_paths``: the frontier carries per-(src, node) WALK counts
    (σ) instead of being distinct-ed — every minimum-length walk is a
    path, so σ at a pair's first depth is its shortest-path count
    (the same argument as the Cypher allShortestPaths compiler).
    Needed by Brandes-style betweenness.

    ``und_edges``: a caller-built doubled-distinct undirected
    (source_id, target_id) frame, so a caller can share one edge frame
    with its own passes (the BFS keys on column names only, so any id
    dtype works).  The edge frame is loop-invariant and partitioned on
    ``source_id`` once (:func:`_keyed_ckpt`), so per depth only the
    frontier shuffles; callers passing ``und_edges`` do the same."""
    if und_edges is not None:
        edges = und_edges
    else:
        e0 = relationships.select("source_id", "target_id")
        doubled = e0.unionByName(
            e0.select(
                F.col("target_id").alias("source_id"),
                F.col("source_id").alias("target_id"),
            )
        )
        edges = _keyed_ckpt(
            doubled.repartition(
                relationships.sparkSession.sparkContext.defaultParallelism,
                F.col("source_id"),
            ).dropDuplicates(["source_id", "target_id"])
        )
    frontier = sources.select(
        F.col("dt_id").alias("node"), F.col("dt_id").alias("src")
    ).localCheckpoint(eager=True)
    if count_paths:
        frontier = frontier.withColumn("sigma", F.lit(1).cast("long"))
        seen = frontier.withColumn("depth", F.lit(0))
    else:
        seen = frontier.withColumn("depth", F.lit(0))
    for depth in range(1, max_depth + 1):
        step = frontier.join(edges, frontier["node"] == edges["source_id"])
        if count_paths:
            nxt = (
                step.groupBy(
                    F.col("target_id").alias("node"), F.col("src").alias("src")
                )
                .agg(F.sum("sigma").alias("sigma"))
                .join(seen.select("node", "src"), ["node", "src"], "left_anti")
                .withColumn("depth", F.lit(depth))
                .localCheckpoint(eager=True)
            )
        else:
            nxt = (
                step.select(F.col("target_id").alias("node"), "src")
                .distinct()
                .join(seen.select("node", "src"), ["node", "src"], "left_anti")
                .withColumn("depth", F.lit(depth))
                .localCheckpoint(eager=True)
            )
        if not nxt.take(1):
            break
        seen = seen.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return seen


def weighted_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    iters: int = 4,
) -> DataFrame:
    """(dt_id, dist) — weighted shortest distances from a source set by
    ``iters`` Bellman-Ford rounds (paths of at most ``iters`` edges, the
    hop bound of the sampled centralities).  ``edges`` is (source_id,
    target_id, weight) with non-negative integer weights (exact,
    engine-portable); ``sources`` is a (dt_id) frame at distance 0;
    unreached vertices are omitted.

    DELTA-FRONTIER supersteps: each round joins only the vertices whose
    distance improved last round, folds candidates into the running
    minimum with one map-side-combined aggregate, and stops when nothing
    improves.  The edge frame is partitioned and sorted on the join key
    once (:func:`_keyed_ckpt`), so rounds shuffle only the frontier."""
    spark = edges.sparkSession
    e = _keyed_ckpt(
        edges.select(
            F.col("source_id").alias("src"),
            F.col("target_id").alias("dst"),
            F.col("weight").cast("long").alias("w"),
        ).repartition(spark.sparkContext.defaultParallelism, F.col("src")),
        # the per-round frontier sort-merge join reads this ordering
        sort_cols=["src"],
    )
    dist = sources.select(
        F.col("dt_id").alias("node"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist
    for _ in range(max(0, iters)):
        cand = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        improved = (
            cand.join(dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("node", F.col("cand").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if not improved.take(1):
            break
        dist = (
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return dist.select(F.col("node").alias("dt_id"), "dist")


def _walk_starts(starts: DataFrame, walks_per_node: int) -> DataFrame:
    """(start, walk_no, cur): ``walks_per_node`` walks at each start."""
    return starts.select(F.col("dt_id").alias("start")).crossJoin(
        F.broadcast(
            starts.sparkSession.range(walks_per_node).select(
                F.col("id").alias("walk_no")
            )
        )
    ).withColumn("cur", F.col("start"))


def _walk_hash(salt: str, k: int) -> Column:
    """H = the first 8 hex chars of md5(salt|start|walk_no|k) as an
    integer: the seedless, engine-portable step-k draw of a walk."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.lit(salt), F.col("start"), F.col("walk_no"),
                    F.lit(str(k)),
                )
            ),
            1, 8,
        ),
        16, 10,
    ).cast("long")


def random_walks(
    relationships: DataFrame,
    starts: DataFrame,
    steps: int = 4,
    walks_per_node: int = 2,
    salt: str = "walk",
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(start, walk_no, step, node) — DETERMINISTIC random walks over
    the directed deduplicated edge set: the DeepWalk/node2vec corpus
    generator, seedless and engine-portable.  At step k a walk at
    vertex v moves to the neighbor ranked ``1 + H % out_deg(v)`` where
    neighbors are ranked by target id (a total order) and ``H`` is the
    first 8 hex chars of ``md5(salt|start|walk_no|k)`` as an integer —
    any engine with md5 reproduces the exact same walks, so the output
    value-checks against SQL.  Dead ends terminate the walk (no
    restart); step 0 rows (the starts) are not emitted.

    Scale strategy: neighbor ranks and out-degrees are computed once,
    partitioned on the source (:func:`_keyed_ckpt`), so each step is
    two walk-sized equi-joins in which only the walk state shuffles;
    state is walks-sized, never graph-sized.  With the layout the join
    keys are long ids while the md5 inputs stay the original strings
    (``start`` rides the state; ranks by target vid equal ranks by
    target id), and one decode over the output restores ``node``."""
    from pyspark.sql import Window

    u = universe or VertexUniverse(relationships=relationships)
    layout = u.layout()
    if layout is not None:
        vid_map, edges_vid = layout
        edges = _edge_vids(edges_vid).distinct()
    else:
        edges = relationships.select("source_id", "target_id").distinct()
    w_rank = Window.partitionBy("source_id").orderBy("target_id")
    nbrs = _keyed_ckpt(edges.withColumn("rn", F.row_number().over(w_rank)))
    degs = _keyed_ckpt(
        edges.groupBy("source_id").agg(F.count(F.lit(1)).alias("deg"))
    )
    state = _walk_starts(starts, walks_per_node)
    if layout is not None:
        # starts outside the endpoint universe are dead ends at step 1
        # either way, so the inner encode join loses nothing
        state = state.join(
            u.bc(
                vid_map.select(
                    F.col("dt_id").alias("cur"), F.col("vid").alias("__cv")
                )
            ),
            "cur",
        ).select("start", "walk_no", F.col("__cv").alias("cur"))
    outs: list[DataFrame] = []
    for k in range(1, max(0, steps) + 1):
        h = _walk_hash(salt, k)
        picked = (
            state.join(degs, state["cur"] == degs["source_id"])
            .select(
                "start", "walk_no",
                F.col("cur").alias("__cur"),
                (F.lit(1) + h % F.col("deg")).alias("__pick"),
            )
        )
        state = (
            picked.join(
                nbrs,
                (picked["__cur"] == nbrs["source_id"])
                & (picked["__pick"] == nbrs["rn"]),
            )
            .select(
                "start", "walk_no", F.col("target_id").alias("cur")
            )
            .localCheckpoint(eager=False)
        )
        outs.append(
            state.select(
                "start", "walk_no", F.lit(k).alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = reduce(DataFrame.unionByName, outs)
    if layout is not None:
        out = _decode(u, out, vid_map, "node")
    return out


def node2vec_walks(
    relationships: DataFrame,
    starts: DataFrame,
    steps: int = 3,
    walks_per_node: int = 1,
    p: int = 1,
    q: int = 1,
    salt: str = "n2v",
) -> DataFrame:
    """(start, walk_no, step, node) — DETERMINISTIC node2vec
    second-order biased walks (Grover & Leskovec 2016) over the directed
    deduplicated edge set.  From vertex v with previous vertex t, candidate
    x weighs ``1/p`` if x == t, ``1`` if the edge t→x exists, else ``1/q``;
    ``p``/``q`` must be positive INTEGERS, and weights are scaled by p·q so
    every cumulative sum is an exact BIGINT.  The pick is the first
    candidate (ranked by target id) whose cumulative weight exceeds
    ``H % total_weight`` (:func:`_walk_hash`), so the corpus value-checks
    against an unrolled SQL replay.  Step 1 is the uniform first-order
    pick; dead ends terminate.

    Per step: one walk→neighbors join (bounded by Δ·|walks|), one left
    join for the t→x adjacency flag and one per-walk cumulative window."""
    from pyspark.sql import Window

    edges = relationships.select("source_id", "target_id").distinct()
    nbrs = edges.localCheckpoint(eager=False)
    adj = edges.select(
        F.col("source_id").alias("__t"), F.col("target_id").alias("__x")
    ).localCheckpoint(eager=False)
    state = _walk_starts(starts, walks_per_node).withColumn(
        "prev", F.lit(None).cast("string")
    )
    outs: list[DataFrame] = []
    for k in range(1, max(0, steps) + 1):
        h = _walk_hash(salt, k)
        cand = state.join(nbrs, state["cur"] == nbrs["source_id"]).select(
            "start", "walk_no", "prev", "cur",
            F.col("target_id").alias("__cand"),
        )
        if k == 1:
            w = F.lit(1).cast("long")
        else:
            cand = cand.join(
                adj,
                (cand["prev"] == adj["__t"]) & (cand["__cand"] == adj["__x"]),
                "left",
            )
            w = (
                F.when(F.col("__cand") == F.col("prev"), F.lit(q))
                .when(F.col("__x").isNotNull(), F.lit(p * q))
                .otherwise(F.lit(p))
                .cast("long")
            )
        wk = Window.partitionBy("start", "walk_no")
        cum = F.sum(w).over(wk.orderBy("__cand"))
        tot = F.sum(w).over(wk)
        picked = (
            cand.withColumn("__w", w)
            .withColumn("__cum", cum)
            .withColumn("__r", h % tot)
            .filter(
                (F.col("__cum") - F.col("__w") <= F.col("__r"))
                & (F.col("__r") < F.col("__cum"))
            )
        )
        state = picked.select(
            "start", "walk_no",
            F.col("cur").alias("prev"),
            F.col("__cand").alias("cur"),
        ).localCheckpoint(eager=False)
        outs.append(
            state.select(
                "start", "walk_no", F.lit(k).alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return reduce(DataFrame.unionByName, outs)


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, n_pairs) — skip-gram co-occurrence pairs from a
    :func:`random_walks` corpus: two walk positions within ``window`` steps
    co-occur (both directions, center ≠ context).  One walk-keyed
    self-join + a map-side-combined pair rollup."""
    a = walks.select(
        "start", "walk_no", F.col("step").alias("i"),
        F.col("node").alias("center"),
    )
    b = walks.select(
        "start", "walk_no", F.col("step").alias("j"),
        F.col("node").alias("context"),
    )
    return (
        a.join(b, ["start", "walk_no"])
        .filter(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _with_ppmi(pairs: DataFrame) -> DataFrame:
    """``pairs`` plus ``__ppmi`` = ln((n·N)/(cnt_c·cnt_x)) clipped at 0
    — positive PMI over the node marginals (two node-sized aggregates
    joined back, broadcast) and the 1-row corpus total."""
    cc = pairs.groupBy("center").agg(F.sum("n_pairs").alias("__cnt_c"))
    cx = pairs.groupBy("context").agg(F.sum("n_pairs").alias("__cnt_x"))
    tot = pairs.agg(F.sum("n_pairs").alias("__n_tot"))
    return (
        pairs.join(F.broadcast(cc), "center")
        .join(F.broadcast(cx), "context")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "__ppmi",
            F.greatest(
                F.lit(0.0),
                F.log(
                    (F.col("n_pairs") * F.col("__n_tot"))
                    / (F.col("__cnt_c") * F.col("__cnt_x"))
                ),
            ),
        )
    )


def node_embeddings_ri(
    pairs: DataFrame,
    dim: int = 16,
    salt: str = "ri",
    weighting: str = "count",
) -> DataFrame:
    """(dt_id, embedding) — RANDOM-INDEXING node embeddings from a
    skip-gram co-occurrence corpus (Kanerva/Sahlgren): each context x
    carries a ±1 md5-derived index vector, and a node's embedding is the
    weighted sum of the index vectors of everything it co-occurs with::

        emb_j(c) = Σ_x w(c, x) · sign(j, x)
        sign(j, x) = +1 iff md5(f"{salt}-{j}-{x}")[0] in '0'..'7'

    With ``weighting="count"`` (w = n_pairs) every term is BIGINT and the
    sum is order-independent, so the embedding value-checks against SQL.
    ``weighting="ppmi"`` reweights by positive PMI (:func:`_with_ppmi`,
    Levy & Goldberg 2014): better retrieval geometry, but float sums are
    order-dependent, so it is for consumers, not cross-engine hashing.

    One map-side-combined groupBy on the center key computes all ``dim``
    sums with the sign inline; no model materializes on the driver, so
    any vocabulary size works."""
    if weighting not in ("count", "ppmi"):
        raise ValueError(f"unknown weighting {weighting!r}")

    def sign(j: int):
        return F.when(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}-{j}-"), F.col("context"))),
                1, 1,
            ).isin(*list("01234567")),
            F.lit(1),
        ).otherwise(F.lit(-1))

    if weighting == "count":
        w = F.col("n_pairs").cast("long")
        zero = F.lit(0).cast("long")
        aggs = [
            F.coalesce(F.sum(w * sign(j)), zero).alias(f"__e{j}")
            for j in range(dim)
        ]
    else:
        pairs = _with_ppmi(pairs)
        w = F.col("__ppmi")
        aggs = [F.sum(w * sign(j)).alias(f"__e{j}") for j in range(dim)]
    return (
        pairs.groupBy("center")
        .agg(*aggs)
        .select(
            F.col("center").alias("dt_id"),
            F.array(*[F.col(f"__e{j}") for j in range(dim)]).alias(
                "embedding"
            ),
        )
    )


def node_embeddings_sgd(
    pairs: DataFrame,
    dim: int = 8,
    epochs: int = 2,
    lr: float = 0.1,
    negative: int = 2,
    shards: int = 8,
    salt: str = "sgd",
    combine: str = "in+out",
    max_vocab: int = BROADCAST_VERTEX_LIMIT,
) -> DataFrame:
    """(dt_id, embedding) — word2vec-style SGNS (skip-gram with
    negative sampling) over the (center, context, n_pairs) corpus, by
    parameter-averaged sharding:

    1. pairs hash into ``shards`` buckets (md5 of the pair);
    2. each shard trains in one ``applyInPandas`` task, rows sorted by
       (center, context) so per-shard SGD is deterministic; negatives are
       md5-picks from the vocab; the positive gradient scales by
       ln(1 + n_pairs);
    3. shard models average per node, weighted by touch count, and the
       average re-broadcasts for the next epoch.

    Deterministic end to end but not SQL-expressible (rows-only on the
    board); quality is gated by :func:`embedding_neighbor_recall`.  The
    model broadcasts each epoch, so the vocabulary must fit executor
    memory (~1 GB per 10M nodes at dim 8): above ``max_vocab`` it raises
    and points at :func:`node_embeddings_ri`."""
    import hashlib

    spark = pairs.sparkSession

    def h64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    # the vocab cap runs BEFORE the collect, so an oversized corpus
    # fails with a redirect instead of a driver OOM
    nv_probe = (
        pairs.select("center").union(pairs.select("context"))
        .distinct().count()
    )
    if nv_probe > max_vocab:
        raise ValueError(
            f"node_embeddings_sgd: vocabulary {nv_probe} exceeds the "
            f"{max_vocab} cap for parameter-averaged SGNS (the model "
            "broadcasts each epoch) — use node_embeddings_ri, which is "
            "distributed-exact at any vocabulary size"
        )
    vocab = sorted(
        r[0]
        for r in pairs.select("center").union(pairs.select("context"))
        .distinct().collect()
    )
    v_index = {v: i for i, v in enumerate(vocab)}
    nv = len(vocab)
    if nv == 0:
        return spark.createDataFrame(
            [], "dt_id string, embedding array<double>"
        )

    import numpy as np

    # deterministic md5 init in [-0.5/dim, 0.5/dim) — word2vec's
    # canonical init range, seedless
    def init_row(v: str, tag: str) -> "np.ndarray":
        return np.array(
            [
                ((h64(f"{salt}|{tag}|{v}|{j}") % 100_000) / 100_000.0 - 0.5)
                / dim
                for j in range(dim)
            ]
        )

    w_in = np.stack([init_row(v, "in") for v in vocab])
    w_out = np.stack([init_row(v, "out") for v in vocab])

    shard_col = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(salt), "center", "context")),
                1, 8,
            ),
            16, 10,
        ).cast("long") % shards
    ).alias("__shard")
    sharded = pairs.select("center", "context", "n_pairs", shard_col)
    out_schema = (
        "shard long, idx long, touch long, "
        "vec_in array<double>, vec_out array<double>"
    )

    for _ in range(epochs):
        b_in = spark.sparkContext.broadcast(w_in)
        b_out = spark.sparkContext.broadcast(w_out)

        def train(pdf):
            import numpy as _np
            import pandas as _pd

            li, lo = b_in.value.copy(), b_out.value.copy()
            touch = _np.zeros(nv, dtype=_np.int64)
            pdf = pdf.sort_values(["center", "context"])
            for r in pdf.itertuples(index=False):
                ci = v_index[r.center]
                xi = v_index[r.context]
                g = lr * float(_np.log1p(r.n_pairs))
                # positive: push center's in-vec toward context out-vec
                z = float(li[ci] @ lo[xi])
                s = 1.0 / (1.0 + _np.exp(-z))
                grad = g * (1.0 - s)
                li_c = li[ci].copy()
                li[ci] += grad * lo[xi]
                lo[xi] += grad * li_c
                touch[ci] += 1
                touch[xi] += 1
                # negatives: md5-picked vocab rows, pushed away
                for t in range(negative):
                    ni = h64(f"{salt}|neg|{r.center}|{r.context}|{t}") % nv
                    if ni == xi:
                        continue
                    zn = float(li[ci] @ lo[ni])
                    sn = 1.0 / (1.0 + _np.exp(-zn))
                    gn = g * (0.0 - sn)
                    li_c = li[ci].copy()
                    li[ci] += gn * lo[ni]
                    lo[ni] += gn * li_c
                    touch[ni] += 1
            idx = _np.nonzero(touch)[0]
            return _pd.DataFrame(
                {
                    "shard": int(pdf["__shard"].iloc[0]) if len(pdf) else -1,
                    "idx": idx,
                    "touch": touch[idx],
                    "vec_in": [li[i].tolist() for i in idx],
                    "vec_out": [lo[i].tolist() for i in idx],
                }
            )

        rows = (
            sharded.groupBy("__shard")
            .applyInPandas(train, out_schema)
            .collect()
        )
        # touch-weighted parameter average; untouched nodes keep the
        # previous epoch's vectors.  Sorted (idx, shard) accumulation:
        # collect() order varies run to run, and float addition is not
        # commutative at the ulp — the sort makes the merged model (and
        # therefore the recall gate) bit-deterministic.
        rows = sorted(rows, key=lambda r: (r["idx"], r["shard"]))
        acc_in = np.zeros_like(w_in)
        acc_out = np.zeros_like(w_out)
        wsum = np.zeros(nv)
        for r in rows:
            i = int(r["idx"])
            t = float(r["touch"])
            acc_in[i] += t * np.array(r["vec_in"])
            acc_out[i] += t * np.array(r["vec_out"])
            wsum[i] += t
        seen = wsum > 0
        w_in[seen] = acc_in[seen] / wsum[seen, None]
        w_out[seen] = acc_out[seen] / wsum[seen, None]
        b_in.unpersist()
        b_out.unpersist()

    # in+out (Pennington et al.'s W + C̃) measurably improves
    # distributional-similarity retrieval on small corpora; "in"
    # returns the classic word2vec input matrix
    final = w_in + w_out if combine == "in+out" else w_in
    return spark.createDataFrame(
        [(v, [float(x) for x in final[v_index[v]]]) for v in vocab],
        "dt_id string, embedding array<double>",
    )


def embedding_neighbor_recall(
    pairs: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    probes: int = 20,
    floor: float = 0.3,
    method: str = "ri",
    truth_weighting: str = "count",
) -> DataFrame:
    """(method, recall_at_k, meets_floor) — the trainer quality gate:
    for the ``probes`` nodes with the largest co-occurrence mass, compare
    the top-``k`` neighbors by embedding cosine with the top-``k`` by EXACT
    cosine over the sparse co-occurrence vectors (counts, or positive PMI
    with ``truth_weighting="ppmi"`` for the PMI-family trainers).  A
    trainer below the floor no longer reflects the corpus.

    Ground truth is a probe-filtered join (probe-bounded, never
    all-pairs); candidate scoring is one pass over the embedding table + a
    top-k window — brute force by design, since it gates a sampled probe
    set rather than serving queries."""
    from pyspark.sql import Window

    if truth_weighting not in ("count", "ppmi"):
        raise ValueError(f"unknown truth_weighting {truth_weighting!r}")
    probe_nodes = (
        pairs.groupBy("center")
        .agg(F.sum("n_pairs").alias("__mass"))
        .orderBy(F.desc("__mass"), F.asc("center"))
        .limit(probes)
        .select("center")
    )
    # the exact vector each trainer compresses (SGNS: shifted PMI)
    if truth_weighting == "ppmi":
        pairs = (
            _with_ppmi(pairs)
            .filter(F.col("__ppmi") > 0)
            .select("center", "context", F.col("__ppmi").alias("__wt"))
        )
    else:
        pairs = pairs.select(
            "center", "context", F.col("n_pairs").cast("double").alias("__wt")
        )
    # exact cosine over the shared contexts and full-vector l2 norms
    norms = pairs.groupBy("center").agg(
        F.sqrt(F.sum(F.col("__wt") * F.col("__wt"))).alias("__nrm")
    )
    left = pairs.join(F.broadcast(probe_nodes), "center").select(
        F.col("center").alias("__probe"),
        "context",
        F.col("__wt").alias("__na"),
    )
    right = pairs.select(
        F.col("center").alias("__cand"),
        "context",
        F.col("__wt").alias("__nb"),
    )
    truth_w = Window.partitionBy("__probe").orderBy(
        F.desc("__tcos"), F.asc("__cand")
    )
    truth = (
        left.join(right, "context")
        .filter(F.col("__cand") != F.col("__probe"))
        .groupBy("__probe", "__cand")
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("__dot"))
        .join(norms.withColumnRenamed("center", "__probe"), "__probe")
        .withColumnRenamed("__nrm", "__np")
        .join(norms.withColumnRenamed("center", "__cand"), "__cand")
        .withColumn("__tcos", F.col("__dot") / (F.col("__np") * F.col("__nrm")))
        .withColumn("__rk", F.row_number().over(truth_w))
        .filter(F.col("__rk") <= k)
        .select(
            F.col("__probe").alias("center"), F.col("__cand").alias("context")
        )
    )
    probe_vecs = embeddings.join(
        F.broadcast(probe_nodes),
        embeddings["dt_id"] == probe_nodes["center"],
    ).select(
        F.col("center").alias("__probe"),
        F.col("embedding").alias("__pvec"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("__pvec"),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(F.col(c), lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cand_w = Window.partitionBy("__probe").orderBy(
        F.desc("__cos"), F.asc("dt_id")
    )
    got = (
        embeddings.crossJoin(F.broadcast(probe_vecs))
        .filter(F.col("dt_id") != F.col("__probe"))
        .withColumn(
            "__cos",
            F.when(
                (norm("embedding") > 0) & (norm("__pvec") > 0),
                dot / (norm("embedding") * norm("__pvec")),
            ).otherwise(F.lit(-2.0)),
        )
        .withColumn("__rk", F.row_number().over(cand_w))
        .filter(F.col("__rk") <= k)
        .select(
            F.col("__probe").alias("center"), F.col("dt_id").alias("context")
        )
    )
    hits = truth.join(got, ["center", "context"]).count()
    denom = truth.count()
    recall = (hits / denom) if denom else 0.0
    return pairs.sparkSession.createDataFrame(
        [(method, float(round(recall, 4)), recall >= floor)],
        "method string, recall_at_k double, meets_floor boolean",
    )


def distance_distribution(
    relationships: DataFrame,
    sources: DataFrame,
    max_depth: int = 3,
) -> DataFrame:
    """(depth, n_pairs) — hop-distance histogram from a sampled source
    set over the undirected graph: how many (node, source) pairs sit at
    each BFS distance 1..max_depth.  Sizes ``max_depth`` for the sampled
    centralities: the depth where it stops growing is the sampled
    diameter, and the counts are the frontiers they will carry."""
    seen = _multi_source_bfs(relationships, sources, max_depth)
    return (
        seen.filter(F.col("depth") > 0)
        .groupBy("depth")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def closeness_centrality_sampled(
    relationships: DataFrame,
    sources: DataFrame,
    max_depth: int = 3,
) -> DataFrame:
    """(dt_id, dist_sum, n_reached, closeness) — sampled closeness
    centrality over the undirected graph: ``dist_sum = Σ_sources
    d(source, node)`` over BFS distances 1..max_depth and ``closeness =
    n_reached / dist_sum`` rounded to 6 (integers first, so the score is
    engine-portable); unreachable sources do not contribute."""
    seen = _multi_source_bfs(relationships, sources, max_depth)
    return (
        seen.filter(F.col("depth") > 0)
        .groupBy(F.col("node").alias("dt_id"))
        .agg(
            F.sum("depth").cast("bigint").alias("dist_sum"),
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        )
        .select(
            "dt_id",
            "dist_sum",
            "n_reached",
            F.round(F.col("n_reached") / F.col("dist_sum"), 6).alias(
                "closeness"
            ),
        )
    )


def eigenvector_centrality(
    twins: DataFrame,
    relationships: DataFrame,
    iters: int = 5,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(dt_id, score) — eigenvector centrality by max-normalized power
    iteration over the undirected deduplicated edge set: x₀ = 1,
    x_{k+1}(v) = Σ_{u∼v} x_k(u) / max — the dominant-eigenvector
    estimate after ``iters`` supersteps, rounded at 6.  Max
    normalization (not L2) keeps the per-step scale factor a single
    exact comparison instead of a float Σx² whose summation order
    varies, so the result is engine-portable.  Isolated vertices score
    0 (they receive no mass).

    Scale strategy: one :func:`_power_step` per iteration, the
    normalizing max a 1-row aggregate carried as a cross join."""
    u = universe or VertexUniverse(twins, relationships)
    verts = twins.select("dt_id").localCheckpoint(eager=True)
    edges = _undirected(relationships).localCheckpoint(eager=True)
    state = verts.withColumn("score", F.lit(1.0)).localCheckpoint(eager=True)
    for i in range(iters):
        state = _power_step(
            u, edges, state, verts, "dt_id", F.col("score"),
            _max_of_sums, _max_normalized("score"),
            eager=(i % 2 == 1) or (i == iters - 1),
        )
    return state.select("dt_id", F.round("score", 6).alias("score"))


def betweenness_centrality_sampled(
    relationships: DataFrame,
    sources: DataFrame,
    max_depth: int = 3,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(dt_id, betweenness) — Brandes betweenness centrality sampled to
    a pivot (source) set, distances bounded by ``max_depth`` (pairs farther
    apart contribute nothing; GDS's sampled mode picks pivots the same
    way).

    Forward: the multi-source BFS with walk counts gives σ(s, v), the
    number of shortest s→v paths.  Backward, by DESCENDING depth layer:

        δ(s, v) = Σ_{w: v→w, depth(w)=depth(v)+1} σ(s,v)/σ(s,w) · (1 + δ(s,w))

    betweenness(v) = Σ_s δ(s, v) over non-source layers, rounded at 6.
    Output is SPARSE: a node never interior to a sampled pair is omitted.

    Scale strategy: one doubled-distinct undirected edge frame,
    partitioned on the source once, serves the O(max_depth) forward
    frontier joins and every backward layer join; every frame is
    reached-pairs-sized and only the max depth is collected.  With the
    layout the pipeline runs on long ids and decodes once."""
    u = universe or VertexUniverse(relationships=relationships)
    layout = u.layout()
    if layout is not None:
        vid_map, edges_vid = layout
        sources = sources.join(vid_map, "dt_id").select(
            F.col("vid").alias("dt_id")
        )
        e0 = _edge_vids(edges_vid)
    else:
        e0 = relationships.select("source_id", "target_id")
    doubled = e0.unionByName(
        e0.select(
            F.col("target_id").alias("source_id"),
            F.col("source_id").alias("target_id"),
        )
    )
    edges = _keyed_ckpt(
        doubled.repartition(
            relationships.sparkSession.sparkContext.defaultParallelism,
            F.col("source_id"),
        ).dropDuplicates(["source_id", "target_id"])
    )
    seen = _multi_source_bfs(
        relationships, sources, max_depth, count_paths=True, und_edges=edges
    ).localCheckpoint(eager=True)
    max_d = (seen.agg(F.max("depth")).collect()[0][0]) or 0
    if max_d < 2:
        # no interior vertices within range: all-zero contribution set
        spark = relationships.sparkSession
        return spark.createDataFrame([], "dt_id string, betweenness double")
    # deepest layer has no successors: δ = 0 (represented implicitly —
    # the first backward step's left join coalesces missing δ to 0)
    delta = None  # (node, src, delta) for the layer BELOW the current one
    out_layers: list[DataFrame] = []
    for d in range(max_d - 1, 0, -1):
        v_layer = seen.filter(F.col("depth") == d).select(
            F.col("node").alias("v"), "src", F.col("sigma").alias("sv")
        )
        w_layer = seen.filter(F.col("depth") == d + 1).select(
            F.col("node").alias("w"),
            F.col("src").alias("src"),
            F.col("sigma").alias("sw"),
        )
        if delta is not None:
            w_layer = w_layer.join(
                delta.select(
                    F.col("node").alias("w"), "src",
                    F.col("delta").alias("dw"),
                ),
                ["w", "src"],
                "left",
            ).select("w", "src", "sw", F.coalesce("dw", F.lit(0.0)).alias("dw"))
        else:
            w_layer = w_layer.withColumn("dw", F.lit(0.0))
        contrib = (
            v_layer.join(edges, v_layer["v"] == edges["source_id"])
            .join(
                w_layer,
                (F.col("target_id") == F.col("w"))
                & (v_layer["src"] == w_layer["src"]),
            )
            .select(
                "v",
                v_layer["src"].alias("src"),
                (
                    (F.col("sv") / F.col("sw"))
                    * (F.lit(1.0) + F.col("dw"))
                ).alias("term"),
            )
            .groupBy("v", "src")
            .agg(F.sum("term").alias("delta"))
        )
        # vertices of this layer with no depth+1 successors keep δ = 0
        delta = (
            v_layer.select(F.col("v").alias("node"), "src")
            .join(
                contrib.select(F.col("v").alias("node"), "src", "delta"),
                ["node", "src"],
                "left",
            )
            .select("node", "src", F.coalesce("delta", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=True)
        )
        out_layers.append(delta)
    acc = out_layers[0]
    for layer in out_layers[1:]:
        acc = acc.unionByName(layer)
    bw = acc.groupBy(F.col("node").alias("dt_id")).agg(
        F.round(F.sum("delta"), 6).alias("betweenness")
    )
    if layout is not None:
        bw = _decode(u, bw, vid_map, "dt_id")
    return bw


def node_similarity_jaccard(
    relationships: DataFrame,
    rel_name: str | None = None,
    top_k: int = 20,
    max_target_degree: int | None = None,
    candidates: DataFrame | None = None,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """Neighbor-set Jaccard node similarity (GDS nodeSimilarity): for
    every source pair sharing at least one OUT-neighbor, ``|N(a) ∩ N(b)| /
    |N(a) ∪ N(b)|`` over the (optionally name-filtered) directed edge set;
    top-k pairs under the total order (similarity desc, a asc, b asc).

    ``max_target_degree`` (GDS ``upperDegreeCutoff``) drops TARGETS whose
    fan-in exceeds the cutoff before the co-neighbor join (a fan-in-d hub
    emits d²/2 pairs); degrees use the same filtered edges, so the Jaccard
    stays exact on them.  ``candidates`` — an (a, b) pair frame, e.g. from
    MinHash/LSH banding — switches to re-scoring: intersections are
    computed candidate-driven, bounded by the candidate set.

    Scale strategy: ONE co-neighbor self-join on the shared target + an
    (a, b) groupBy — pairs that share nothing never materialize — in
    order-preserving long id space; encode joins ride the universe gate
    and the top_k rows decode at the end."""
    u = universe or VertexUniverse(relationships=relationships)
    layout = u.layout()
    if layout is not None:
        vid_map, edges_vid = layout
        e = edges_vid.select(
            F.col("source_vid").alias("source_id"),
            F.col("target_vid").alias("target_id"),
            "name",
        )
    else:
        e = relationships.select("source_id", "target_id", "name")
    if rel_name is not None:
        e = e.filter(F.col("name") == rel_name)
    e = e.select("source_id", "target_id").distinct()
    if max_target_degree is not None:
        keep = (
            e.groupBy("target_id")
            .agg(F.count(F.lit(1)).alias("__fan_in"))
            .filter(F.col("__fan_in") <= int(max_target_degree))
            .select("target_id")
        )
        e = e.join(keep, "target_id", "left_semi")
    # lazy cut: without the layout the eager vid-map build below is its
    # first action, and the encode joins read it back
    e = e.localCheckpoint(eager=False)
    if layout is None:
        vid_map = _vid_map_for(
            e.select(F.col("source_id").alias("dt_id")).unionByName(
                e.select(F.col("target_id").alias("dt_id"))
            )
        )
        sv = vid_map.select(
            F.col("dt_id").alias("source_id"), F.col("vid").alias("__sv")
        )
        tv = vid_map.select(
            F.col("dt_id").alias("target_id"), F.col("vid").alias("__tv")
        )
        e = (
            e.join(u.bc(sv), "source_id")
            .join(u.bc(tv), "target_id")
            .select(
                F.col("__sv").alias("source_id"), F.col("__tv").alias("target_id")
            )
            .localCheckpoint(eager=False)
        )
    deg = e.groupBy("source_id").agg(F.count(F.lit(1)).alias("deg"))
    if candidates is not None:
        # normalize pairs to a < b and encode them (ids absent from the
        # edge set drop at the inner encode join, as they would at the
        # first edge join); the pair frame bounds every intermediate
        cand = candidates.select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        ).filter(F.col("a") != F.col("b")).distinct()
        ca = vid_map.select(F.col("dt_id").alias("a"), F.col("vid").alias("__ca"))
        cb = vid_map.select(F.col("dt_id").alias("b"), F.col("vid").alias("__cb"))
        cand = (
            cand.join(u.bc(ca), "a")
            .join(u.bc(cb), "b")
            .select(F.col("__ca").alias("a"), F.col("__cb").alias("b"))
        )
        inter = (
            cand.join(e.alias("l"), F.col("a") == F.col("l.source_id"))
            .join(
                e.alias("r"),
                (F.col("b") == F.col("r.source_id"))
                & (F.col("l.target_id") == F.col("r.target_id")),
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        inter = (
            e.alias("l")
            .join(e.alias("r"), "target_id")
            .filter(F.col("l.source_id") < F.col("r.source_id"))
            .groupBy(
                F.col("l.source_id").alias("a"),
                F.col("r.source_id").alias("b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    da = deg.select(F.col("source_id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("source_id").alias("b"), F.col("deg").alias("db"))
    sim = F.col("inter") / (F.col("da") + F.col("db") - F.col("inter"))
    top = (
        inter.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("inter").cast("bigint").alias("inter"),
            (F.col("da") + F.col("db") - F.col("inter"))
            .cast("bigint")
            .alias("union_size"),
            F.round(sim, 4).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), F.col("a"), F.col("b"))
        .limit(top_k)
    )
    return _decode_top(
        top, vid_map, top_k, F.col("jaccard").desc(), F.col("a"), F.col("b")
    )


def neighbor_feature_agg(
    node_features: DataFrame,
    relationships: DataFrame,
    hops: int = 2,
    direction: str = "both",
) -> DataFrame:
    """GraphSAGE-style neighborhood feature aggregation: per node and
    layer k, count/mean/min/max of the (k−1)-layer feature over its
    neighbors, with layer 0 = the node's own feature (``node_features``:
    (dt_id, feature double)).  Neighbors without a feature aggregate to
    NULL and count 0.  ``direction``: "out", "in" or "both".

    One edge⋈state join + one map-side-combined groupBy per layer; layer
    k+1 aggregates layer k's MEAN, so no multi-hop path ever materializes."""
    if direction not in ("out", "in", "both"):
        raise ValueError("direction must be out|in|both")
    e = relationships.select("source_id", "target_id")
    if direction == "out":
        edges = e.select(F.col("source_id").alias("node"), F.col("target_id").alias("nbr"))
    elif direction == "in":
        edges = e.select(F.col("target_id").alias("node"), F.col("source_id").alias("nbr"))
    else:
        edges = e.select(
            F.col("source_id").alias("node"), F.col("target_id").alias("nbr")
        ).unionByName(
            e.select(F.col("target_id").alias("node"), F.col("source_id").alias("nbr"))
        )
    out = node_features.select("dt_id", F.col("feature").cast("double").alias("feature"))
    state = out.select(F.col("dt_id").alias("nbr"), F.col("feature").alias("__f"))
    for k in range(1, hops + 1):
        layer = (
            edges.join(state, "nbr")
            .groupBy(F.col("node").alias("dt_id"))
            .agg(
                F.count("__f").alias(f"h{k}_cnt"),
                F.round(F.avg("__f"), 6).alias(f"h{k}_mean"),
                F.round(F.min("__f"), 6).alias(f"h{k}_min"),
                F.round(F.max("__f"), 6).alias(f"h{k}_max"),
            )
        )
        out = out.join(layer, "dt_id", "left").withColumn(
            f"h{k}_cnt", F.coalesce(F.col(f"h{k}_cnt"), F.lit(0)).cast("bigint")
        )
        state = out.select(
            F.col("dt_id").alias("nbr"), F.col(f"h{k}_mean").alias("__f")
        )
    return out


# ----------------------------------------------------------------------
# Louvain-style modularity communities (deterministic, integer-exact)
# ----------------------------------------------------------------------

def _louvain_round(
    nbr, comm, two_m, parity, bcast=False, checkpoint=True, iso_state=None
):
    """One synchronous local-move round of weighted Louvain.

    ``nbr``: doubled directed edges (src, dst, w) WITHOUT self rows,
    partitioned on the round key and checkpointed by the caller (loop
    invariant); ``comm``: (dt_id, comm, k) — the community state
    carries the weighted degree, so no per-round degree join.

    All move decisions use EXACT integer arithmetic — the classic gain
    ΔQ(v→c) ∝ k_vc/m − k_v·Σ'_c/(2m²) is compared as
    ``2m·k_vc − k_v·Σ'_c`` over BIGINT counts, so the outcome never
    depends on float summation order.  Ties break to the smallest
    community id; only vertices whose hashed parity matches the round
    may move (synchronous swaps between two vertices would otherwise
    oscillate forever).

    Plan shape: σ (with community sizes) is one small aggregation over
    the state; the candidate pipeline runs over the active parity's
    edges only, joins comm on ``dst``, aggregates k_vc per (src, c) on
    the src partitioning, and picks the per-vertex argmax
    ``min(struct(-score, c))`` (max score, min-c tie-break) beside the
    stay score.  ``bcast`` (the universe gate) broadcasts comm and σ —
    the raw frames are joined twice each so the planner reuses each
    exchange (2 broadcast builds per round) — and the round then runs
    no data-sized exchange.  A vertex with no active neighbor in its
    own community gets its stay score from σ(c_v) (the same formula at
    k_vc = 0).  Vertices with no ``nbr`` rows at all (post-contraction
    supernodes with only self loops) can never move; they ride
    ``iso_state``, a per-level constant frame."""
    # the previous round's __moved flag (if any) is not state
    comm = comm.select("dt_id", "comm", "k")
    sigma = comm.groupBy("comm").agg(
        F.sum("k").alias("sigma"), F.count(F.lit(1)).alias("csize")
    )
    active_src = F.pmod(F.xxhash64(F.col("src")), F.lit(2)) == F.lit(parity)
    comm_j = F.broadcast(comm) if bcast else comm
    sigma_j = F.broadcast(sigma) if bcast else sigma
    cand = (
        nbr.filter(active_src)
        .join(comm_j, F.col("dst") == F.col("dt_id"))
        .select("src", F.col("comm").alias("c"), "w")
        .groupBy("src", "c")
        .agg(F.sum("w").alias("k_vc"))
        .join(comm_j, F.col("src") == F.col("dt_id"))
        .select("src", "c", "k_vc", F.col("comm").alias("c_v"), "k")
        .join(sigma_j, F.col("c") == F.col("comm"))
        .drop("comm")
    )
    score = F.lit(two_m) * F.col("k_vc") - F.col("k") * (
        F.col("sigma") - F.when(F.col("c") == F.col("c_v"), F.col("k")).otherwise(F.lit(0))
    )
    per_v = (
        cand.select(
            "src", "c", "c_v", "k", score.alias("score"), "csize"
        )
        .groupBy("src")
        .agg(
            # csize trails (ns, c) in the struct: c is unique per group
            # so it cannot influence the min — it just rides along
            F.min(
                F.struct(
                    (-F.col("score")).alias("ns"), F.col("c"), F.col("csize")
                )
            ).alias("best"),
            F.first("c_v").alias("c_v"),
            F.first("k").alias("k"),
            # when ≥1 active neighbor sits in c_v its candidate score
            # IS the stay score (merged k_vc sum, same formula);
            # otherwise reconstructed below at k_vc = 0
            F.max(
                F.when(F.col("c") == F.col("c_v"), F.col("score"))
            ).alias("stay_raw"),
            F.max(
                F.when(F.col("c") == F.col("c_v"), F.col("csize"))
            ).alias("own_raw"),
        )
        .join(sigma_j, F.col("c_v") == F.col("comm"))
        .select(
            F.col("src").alias("dt_id"),
            (-F.col("best.ns")).alias("best_score"),
            F.col("best.c").alias("c"),
            F.col("best.csize").alias("best_size"),
            "c_v",
            "k",
            F.coalesce(
                F.col("stay_raw"),
                -F.col("k") * (F.col("sigma") - F.col("k")),
            ).alias("stay_score"),
            F.coalesce(F.col("own_raw"), F.col("csize")).alias(
                "own_size"
            ),
        )
    )
    # move_cond implies c != c_v (equal scores cannot be strictly
    # greater), so __moved counts real moves.  Singleton-merge ordering:
    # two mutual-best singletons of the same parity would swap labels
    # every round; a singleton may join another singleton only when the
    # target label sorts below its own, so exactly one of the pair moves.
    move_cond = (F.col("best_score") > F.col("stay_score")) & ~(
        (F.col("own_size") == 1)
        & (F.col("best_size") == 1)
        & (F.col("c") > F.col("c_v"))
    )
    out = per_v.select(
        "dt_id",
        F.when(move_cond, F.col("c")).otherwise(F.col("c_v")).alias("comm"),
        "k",
        F.when(move_cond, F.lit(1)).otherwise(F.lit(0)).alias("__moved"),
    ).unionByName(
        comm.filter(
            F.pmod(F.xxhash64(F.col("dt_id")), F.lit(2)) != F.lit(parity)
        ).select("dt_id", "comm", "k", F.lit(0).alias("__moved"))
    )
    if iso_state is not None:
        # nbr-isolated vertices of the ACTIVE parity (the inactive half
        # already rode the union above)
        out = out.unionByName(
            iso_state.filter(
                F.pmod(F.xxhash64(F.col("dt_id")), F.lit(2)) == F.lit(parity)
            ).select("dt_id", "comm", "k", F.lit(0).alias("__moved"))
        )
    # checkpoint=False exists for plan inspection only.  Eager: a lazy
    # cut would leave the round's lineage for the next round's API calls
    # to re-analyze on the driver.
    return out.localCheckpoint(eager=True) if checkpoint else out


def louvain_communities(
    twins: DataFrame,
    relationships: DataFrame,
    rounds_per_level: int = 4,
    levels: int = 2,
    min_moves_frac: float = 0.0,
    weight_col: str | None = None,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(dt_id, community) — Louvain-style modularity communities: up to
    ``rounds_per_level`` synchronous local-move rounds per level, then
    community contraction to a weighted supergraph, repeated
    ``levels`` times.

    Convergence: each round reports its exact move count (a sum over
    the checkpointed state).  A level stops when the last TWO rounds
    (both move parities) together moved fewer than
    ``max(1, min_moves_frac·|V_level|)`` vertices; at the default 0.0
    that is a true fixed point, so the early exit is output-identical
    to the full schedule.

    Deterministic by construction (integer gain comparisons, min-id
    tie-breaks, hash-parity move gating) but not SQL-expressible, so
    its board key is rows-only; quality is pinned by crafted-graph
    tests (cliques recovered exactly, hand-computed modularity) and a
    modularity floor on the fixture.

    ``weight_col`` (GDS relationshipWeightProperty): a NON-NEGATIVE
    INTEGER edge-weight column — parallel edges SUM their weights on
    the normalized pair, zero-total pairs drop, and 2m becomes the
    weight total; the arithmetic stays exact BIGINT end to end.

    Scale strategy: vertices get ORDER-PRESERVING long ids
    (``monotonically_increasing_id`` over an ``orderBy``, distributed),
    so min-vid tie-breaks pick what min-dt_id would; the move-gating
    parity hashes the vid values, and the board outputs are pinned to
    them.  The id universe is the twins plus any edge endpoint missing
    from them (read from the layout's ``vertex_ids`` when the universe
    has one, instead of a 2|E| endpoint distinct).  The edge frame is
    built once per level, partitioned on the round key through
    :func:`_keyed_ckpt`: under the universe gate the state broadcasts
    and rounds run on the src partitioning with no exchange; above it
    they partition on dst so only the vertex side shuffles.  Each level
    contracts with one exchange keyed on the next level's round key."""
    u = universe or VertexUniverse(twins, relationships)
    layout = u.layout()
    verts = twins.select("dt_id")
    rcols = ["source_id", "target_id"] + ([weight_col] if weight_col else [])
    raw = relationships.select(*rcols).filter(
        F.col("source_id") != F.col("target_id")
    )
    if layout is not None:
        extra = layout[0].select("dt_id").join(verts, "dt_id", "left_anti")
    else:
        extra = (
            raw.select(F.col("source_id").alias("dt_id"))
            .unionByName(raw.select(F.col("target_id").alias("dt_id")))
            .join(verts, "dt_id", "left_anti")
            .distinct()
        )
    # eager: mono_id over orderBy is deterministic per execution only,
    # and four consumers must see one assignment; the lazy cut before
    # the orderBy lets the range sampler and the build share one scan
    vid_map = (
        verts.select("dt_id", F.lit(True).alias("is_v"))
        .unionByName(extra.select("dt_id", F.lit(False).alias("is_v")))
        .localCheckpoint(eager=False)
        .orderBy("dt_id")
        .select("dt_id", "is_v", F.monotonically_increasing_id().alias("vid"))
        .localCheckpoint(eager=True)
    )
    bcast = u.broadcasts
    sv = vid_map.select(
        F.col("dt_id").alias("source_id"), F.col("vid").alias("sv")
    )
    tv = vid_map.select(
        F.col("dt_id").alias("target_id"), F.col("vid").alias("tv")
    )
    enc = raw.join(u.bc(sv), "source_id").join(u.bc(tv), "target_id")
    if weight_col is None:
        # doubled first, deduplicated in the level loop on the round-key
        # partitioning (one 2|E| exchange); the lazy cut keeps the
        # union's two branches on one computation of the encode
        d = enc.select(
            F.least("sv", "tv").alias("src"), F.greatest("sv", "tv").alias("dst")
        ).localCheckpoint(eager=False)
        e = d.unionByName(
            d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    else:
        pairs = (
            enc.select(
                F.least("sv", "tv").alias("a"),
                F.greatest("sv", "tv").alias("b"),
                F.col(weight_col).cast("long").alias("w"),
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
            .filter(F.col("w") > 0)
            .localCheckpoint(eager=False)
        )
        e = pairs.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "w"
        ).unionByName(
            pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
        )
    # 2m is counted on the materialized level-1 edge checkpoint
    two_m = 0
    # per-level community maps, composed into the vertex mapping once
    # at the end
    level_maps: list[DataFrame] = []
    dedges = e
    # level-1 edges are self-free by construction, so the nbr checkpoint
    # IS the full edge set; self rows appear only after contraction
    has_self = False
    spark = dedges.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    part_key = F.col("src") if bcast else F.col("dst")
    for level in range(max(1, levels)):
        if has_self:
            nbr = _keyed_ckpt(dedges.filter(F.col("src") != F.col("dst")))
        elif weight_col is None:
            nbr = _keyed_ckpt(
                dedges.repartition(n_part, part_key)
                .dropDuplicates(["src", "dst"])
                .select("src", "dst", F.lit(1).cast("long").alias("w"))
            )
        else:
            nbr = _keyed_ckpt(dedges.repartition(n_part, part_key))
        if level == 0:
            if weight_col is None:
                two_m = nbr.count()
            else:
                two_m = int(
                    nbr.agg(
                        F.coalesce(F.sum("w"), F.lit(0)).alias("s")
                    ).collect()[0]["s"]
                )
            if two_m == 0:
                return verts.select(
                    "dt_id", F.col("dt_id").alias("community")
                )
        # after contraction, self rows carry the 2·intra weight
        full_edges = dedges if has_self else nbr
        # every endpoint starts in its own community, carrying its
        # weighted degree
        comm = (
            full_edges.groupBy(F.col("src").alias("dt_id"))
            .agg(F.sum("w").alias("k"))
            .select("dt_id", F.col("dt_id").alias("comm"), "k")
            .localCheckpoint(eager=True)
        )
        # vertices with only self edges never move: level-invariant
        iso_state = None
        if has_self:
            iso_state = comm.join(
                nbr.select(F.col("src").alias("dt_id")).distinct(),
                "dt_id",
                "left_anti",
            ).localCheckpoint(eager=True)
        move_floor = 1
        if min_moves_frac > 0:
            n_level_verts = comm.count()
            move_floor = max(1, int(min_moves_frac * n_level_verts))
        prev_moves = None
        n_rounds = max(1, rounds_per_level)
        for r in range(n_rounds):
            comm = _louvain_round(
                nbr, comm, two_m, r % 2, bcast=bcast, iso_state=iso_state
            )
            if r == n_rounds - 1:
                break  # the last round's move count decides nothing
            n_moves = comm.agg(F.sum("__moved")).collect()[0][0] or 0
            if prev_moves is not None and prev_moves + n_moves < move_floor:
                break
            prev_moves = n_moves
        level_maps.append(
            comm.select(
                F.col("dt_id").alias("community"),
                F.col("comm").alias("new_community"),
            )
        )
        if level + 1 < levels:
            # contract: communities become supernodes, intra-community
            # weight lands on self rows (A_cc = 2·intra); the one
            # exchange is keyed on the next level's round key
            cu = comm.select(
                F.col("dt_id").alias("src"), F.col("comm").alias("cu")
            )
            cv = comm.select(F.col("dt_id").alias("dst"), F.col("comm").alias("cv"))
            dedges = _keyed_ckpt(
                full_edges.join(u.bc(cu), "src")
                .join(u.bc(cv), "dst")
                .select(F.col("cu").alias("src"), F.col("cv").alias("dst"), "w")
                .repartition(n_part, part_key)
                .groupBy("src", "dst")
                .agg(F.sum("w").alias("w"))
            )
            has_self = True
    # compose identity ∘ level1 ∘ level2 ∘ … on long ids, then decode
    # each community vid to its vertex's dt_id
    mapping = vid_map.filter("is_v").select(
        "dt_id", F.col("vid").alias("community")
    )
    for level_map in level_maps:
        mapping = mapping.join(u.bc(level_map), "community", "left").select(
            "dt_id",
            F.coalesce("new_community", "community").alias("community"),
        )
    dec = vid_map.select(
        F.col("vid").alias("community"), F.col("dt_id").alias("__comm_str")
    )
    return mapping.join(u.bc(dec), "community").select(
        "dt_id", F.col("__comm_str").alias("community")
    )


def modularity(
    relationships: DataFrame,
    communities: DataFrame,
    round_to: int = 6,
    weight_col: str | None = None,
) -> DataFrame:
    """One-row (n_communities, two_m, q_num, modularity) for a
    (dt_id, community) assignment over the undirected deduplicated
    edge set.  Exact rational arithmetic — Q = (2m·Σ in_c − Σ σ_c²)
    / (2m)² over BIGINT sums — rounded only at the end; ``two_m`` and
    the numerator ``q_num`` are emitted as exact BIGINTs so the whole
    statistic hash-checks against a SQL oracle.

    ``weight_col``: a non-negative integer edge-weight column on
    ``relationships`` — parallel edges SUM on the normalized pair and
    zero-total pairs drop, EXACTLY the weighted-Louvain edge
    construction (:func:`louvain_communities`), so this is the kernel
    that scores its assignments."""
    if weight_col is None:
        e = (
            _undirected(relationships)
            .filter(F.col("source_id") != F.col("target_id"))
            .select(
                "source_id", "target_id", F.lit(1).cast("long").alias("w")
            )
        )
    else:
        pairs = (
            relationships.filter(F.col("source_id") != F.col("target_id"))
            .select(
                F.least("source_id", "target_id").alias("a"),
                F.greatest("source_id", "target_id").alias("b"),
                F.col(weight_col).cast("long").alias("w"),
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
            # lazy cut: the doubling union reads it twice
            .filter(F.col("w") > 0)
            .localCheckpoint(eager=False)
        )
        e = pairs.select(
            F.col("a").alias("source_id"), F.col("b").alias("target_id"), "w"
        ).unionByName(
            pairs.select(
                F.col("b").alias("source_id"),
                F.col("a").alias("target_id"),
                "w",
            )
        )
    cu = communities.select(
        F.col("dt_id").alias("source_id"), F.col("community").alias("cu")
    )
    cv = communities.select(
        F.col("dt_id").alias("target_id"), F.col("community").alias("cv")
    )
    # lazy cut: two driver aggregates read this frame
    tagged = e.join(cu, "source_id").join(cv, "target_id").localCheckpoint(
        eager=False
    )
    two_m = tagged.agg(F.sum("w")).collect()[0][0] or 0
    spark = relationships.sparkSession
    if two_m == 0:
        return spark.createDataFrame(
            [(0, 0, 0, 0.0)],
            "n_communities long, two_m long, q_num long, modularity double",
        )
    per_comm = (
        tagged.groupBy("cu")
        .agg(
            F.sum("w").alias("k_sum"),
            F.sum(F.when(F.col("cu") == F.col("cv"), F.col("w")).otherwise(0)).alias(
                "in_c"
            ),
        )
    )
    agg = per_comm.agg(
        F.sum(F.lit(two_m) * F.col("in_c")).alias("num_in"),
        F.sum(F.col("k_sum") * F.col("k_sum")).alias("num_sq"),
    ).collect()[0]
    n_comms = communities.select("community").distinct().count()
    q_num = agg["num_in"] - agg["num_sq"]
    q = q_num / float(two_m) ** 2
    return spark.createDataFrame(
        [(n_comms, two_m, q_num, round(q, round_to))],
        "n_communities long, two_m long, q_num long, modularity double",
    )


def _decode_top(
    top: DataFrame, vertex_ids: DataFrame, k: int, *order: Column
) -> DataFrame:
    """Decode the (a, b) vid columns of a ≤k-row ranked frame and
    re-impose its order (vid order is dt_id order, so the ranking is
    unchanged).  The k-row side is hash-built and the vertex-sized map
    streams past it — guarded so the hint never broadcasts an
    unbounded frame."""
    dec_a = vertex_ids.select(F.col("vid").alias("a"), F.col("dt_id").alias("__a"))
    dec_b = vertex_ids.select(F.col("vid").alias("b"), F.col("dt_id").alias("__b"))
    tb = (lambda df: F.broadcast(df)) if k <= 1_000_000 else (lambda df: df)
    rest = [c for c in top.columns if c not in ("a", "b")]
    return (
        tb(tb(top).join(dec_a, "a"))
        .join(dec_b, "b")
        .select(F.col("__a").alias("a"), F.col("__b").alias("b"), *rest)
        .orderBy(*order)
    )


def link_prediction(
    relationships: DataFrame,
    k: int = 50,
    max_wedge_degree: int | None = None,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(a, b, common_neighbors, pref_attach) — top-``k`` NON-adjacent
    vertex pairs ranked by common-neighbor count (Newman's CN index),
    preferential attachment deg(a)·deg(b) as the tie-break score.

    Both scores are exact BIGINT counts (no 1/log or 1/deg float sums
    whose ordering could differ across engines), so the whole ranking
    value-checks against a SQL oracle; remaining ties break on
    (a, b).  Generalizes the reference's relationship traversal
    (``AgeDigitalTwins/AgeDigitalTwinsClient.Relationships.cs``) into
    the candidate-edge miner every graph-ML pipeline needs.

    Scale strategy: one wedge self-join keyed on the MIDDLE vertex
    (the shape of triangle counting) + one anti join against the edge
    set + a degree dim joined twice under the universe gate, all in
    order-preserving long id space with a k-row decode at the end.  A
    degree-d middle vertex emits d(d-1)/2 candidate rows, so
    ``max_wedge_degree`` drops hub middles above the cap (the standard
    candidate-generation guard, a documented approximation like
    node_similarity's cap).  Top-k compiles to TakeOrdered."""
    u = universe or VertexUniverse(relationships=relationships)
    und, vid_map = _und_pairs_vid(relationships, u)
    nb = und.select(F.col("a").alias("m"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("m"), F.col("a").alias("x"))
    )
    # lazy cut (NOT eager: union-rooted plans + eager localCheckpoint
    # corrupt the constraint rewrite); the first action materializes it
    deg = (
        nb.groupBy("m")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    mids = nb
    if max_wedge_degree is not None:
        mids = nb.join(
            u.bc(deg.filter(F.col("deg") <= max_wedge_degree)), "m"
        ).select("m", "x")
    cn = (
        mids.select("m", F.col("x").alias("ca"))
        .join(mids.select("m", F.col("x").alias("cb")), "m")
        .filter(F.col("ca") < F.col("cb"))
        .groupBy(F.col("ca").alias("a"), F.col("cb").alias("b"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .join(und, ["a", "b"], "left_anti")
    )
    da = deg.select(F.col("m").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("m").alias("b"), F.col("deg").alias("__db"))
    top = (
        cn.join(u.bc(da), "a")
        .join(u.bc(db), "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            (F.col("__da") * F.col("__db")).alias("pref_attach"),
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("pref_attach"), "a", "b"
        )
        .limit(k)
    )
    return _decode_top(
        top, vid_map, k,
        F.desc("common_neighbors"), F.desc("pref_attach"), F.col("a"), F.col("b"),
    )


def link_prediction_wedge_count(
    relationships: DataFrame, max_wedge_degree: int | None = None
) -> int:
    """Candidate wedge-row count for ``link_prediction`` under the
    same cap: Σ over sub-cap middles of C(deg, 2) — exact BIGINT.

    The work-size attribution for scale probes: capped wedge
    enumeration is linear in this count, so it explains a wall-time
    ratio across scale factors; also the capacity-planning number.
    One groupBy + one 1-row aggregate."""
    und = _und_pairs(relationships)
    nb = und.select(F.col("a").alias("m")).unionByName(
        und.select(F.col("b").alias("m"))
    )
    deg = nb.groupBy("m").agg(F.count(F.lit(1)).alias("deg"))
    if max_wedge_degree is not None:
        deg = deg.filter(F.col("deg") <= max_wedge_degree)
    row = deg.agg(F.expr("sum(deg * (deg - 1) div 2)").alias("w")).head()
    return int(row["w"] or 0)


def node_similarity_pair_count(
    relationships: DataFrame,
    rel_name: str | None = None,
    max_target_degree: int | None = None,
) -> int:
    """Candidate pair-row count for :func:`node_similarity_jaccard`
    under the same filters: Σ over shared TARGETS of C(fan_in, 2) —
    exact BIGINT over the deduped (name-filtered) edge set.

    The work-size attribution for scale probes: the co-neighbor
    self-join is linear in this pair count (fan-in d² growth, not edge
    count), and the capped variant bounds exactly this sum.  One
    groupBy + one 1-row aggregate."""
    e = relationships.select("source_id", "target_id", "name")
    if rel_name is not None:
        e = e.filter(F.col("name") == rel_name)
    e = e.select("source_id", "target_id").distinct()
    fan = e.groupBy("target_id").agg(F.count(F.lit(1)).alias("fan_in"))
    if max_target_degree is not None:
        fan = fan.filter(F.col("fan_in") <= int(max_target_degree))
    row = fan.agg(
        F.expr("sum(fan_in * (fan_in - 1) div 2)").alias("w")
    ).head()
    return int(row["w"] or 0)


def topological_levels(
    twins: DataFrame,
    relationships: DataFrame,
    iters: int = 8,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(dt_id, level) — longest-path LAYERING of the directed graph:
    level(v) = 0 for sources (no in-edges), else 1 + max(level(u))
    over in-edges u→v — the stage assignment a DAG scheduler /
    dependency executor needs (every edge goes strictly level-up; all
    of level k can run once level k−1 finished).

    ``iters`` caps the rounds: the output is the longest path of at
    most ``iters`` edges ending at v — the true level once iters ≥ the
    DAG's depth, and a deterministic lower bound on any longer chain.
    On a cyclic input levels keep growing until the cap; compare the
    ``iters`` and ``iters+1`` outputs to certify acyclicity within the
    horizon.  All-integer arithmetic: value-checks against an unrolled
    SQL oracle.  The update is monotone, so a round that raises no
    level is a fixpoint and the loop stops there — output-identical to
    the full schedule.

    Scale strategy: the edge frame is hoisted once, partitioned on the
    target, and the per-round state joins ride the universe gate, so a
    round is one map-side pass over |E| with no exchange under the
    gate; the change flag rides the eagerly checkpointed state.  With
    the layout the rounds run on long ids; twins outside the endpoint
    universe stay level 0 and are attached at the decode."""
    u = universe or VertexUniverse(twins, relationships)
    layout = u.layout()
    if layout is not None:
        vid_map, edges_vid = layout
        verts = vid_map.select(F.col("vid").alias("dt_id"))
        e = _edge_vids(edges_vid)
    else:
        verts = twins.select("dt_id")
        e = relationships.select("source_id", "target_id")
    e = e.filter(F.col("source_id") != F.col("target_id")).distinct()
    spark = e.sparkSession
    e = _keyed_ckpt(
        e.repartition(
            spark.sparkContext.defaultParallelism, F.col("target_id")
        )
    )
    level = verts.select(
        "dt_id", F.lit(0).cast("long").alias("level")
    ).localCheckpoint(eager=True)
    for _ in range(max(1, iters)):
        nxt = (
            e.join(u.bc(level), e["source_id"] == level["dt_id"])
            .groupBy(F.col("target_id").alias("dt_id"))
            .agg((F.max("level") + F.lit(1)).cast("long").alias("__cand"))
        )
        cand = F.coalesce("__cand", F.lit(0).cast("long"))
        stepped = (
            level.join(u.bc(nxt), "dt_id", "left")
            .select(
                "dt_id",
                F.greatest(F.col("level"), cand).alias("level"),
                (cand > F.col("level")).cast("int").alias("__ch"),
            )
            .localCheckpoint(eager=True)
        )
        level = stepped.select("dt_id", "level")
        if not (stepped.agg(F.sum("__ch")).collect()[0][0] or 0):
            break
    if layout is not None:
        level = _decode(u, level, vid_map, "dt_id").unionByName(
            _isolated(u, twins, vid_map).select(
                "dt_id", F.lit(0).cast("long").alias("level")
            )
        )
    return level


def degree_assortativity(
    relationships: DataFrame, universe: VertexUniverse | None = None
) -> DataFrame:
    """One row (n_edges, assortativity) — Newman's degree
    assortativity r (Pearson correlation of endpoint degrees over the
    doubled undirected edge list).

    Exactness: every moment (Σjk, Σj, Σj², M) is a BIGINT sum over
    integer degrees — order-free — and r is ONE float expression at
    the end, so the value is reproducible and oracle-checkable.
    Degenerate variance (regular graph) yields NULL rather than a
    0/0 NaN.

    Scale strategy: a degree dim (eagerly checkpointed: it is read
    twice) joined onto the edge list twice under the universe gate,
    then one map-side-combined global aggregate.  The BIGINT moments
    of a 10^12-edge graph with 10^6-degree hubs approach overflow
    (Σj² ≤ M·maxdeg²); move them to DECIMAL(38,0) there."""
    u = universe or VertexUniverse(relationships=relationships)
    und = _und_pairs(relationships)
    nb = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = (
        nb.groupBy(F.col("src").alias("v"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    dj = deg.select(F.col("v").alias("src"), F.col("deg").alias("j"))
    dk = deg.select(F.col("v").alias("dst"), F.col("deg").alias("kk"))
    m = (
        nb.join(u.bc(dj), "src")
        .join(u.bc(dk), "dst")
        .agg(
            F.count(F.lit(1)).alias("mm"),
            F.sum(F.col("j") * F.col("kk")).alias("sjk"),
            F.sum("j").alias("sj"),
            F.sum(F.col("j") * F.col("j")).alias("sj2"),
        )
    )
    # by symmetry of the doubled list Σk = Σj and Σk² = Σj²
    num = F.col("mm") * F.col("sjk") - F.col("sj") * F.col("sj")
    var = F.col("mm") * F.col("sj2") - F.col("sj") * F.col("sj")
    return m.select(
        (F.col("mm") / F.lit(2)).cast("bigint").alias("n_edges"),
        F.when(
            var > 0, F.round(num.cast("double") / var.cast("double"), 6)
        ).alias("assortativity"),
    )


def hits(
    twins: DataFrame,
    relationships: DataFrame,
    iters: int = 5,
    universe: VertexUniverse | None = None,
) -> DataFrame:
    """(dt_id, authority, hub) — Kleinberg's HITS by max-normalized
    power iteration over the DIRECTED deduplicated edge set: per
    round, authority(v) = Σ_{u→v} hub(u) then hub(v) = Σ_{v→u}
    authority(v's targets), each half-step divided by its max.  Max
    normalization (the same choice as eigenvector_centrality) keeps
    the per-step scale a single exact comparison instead of an
    order-sensitive float Σx², so the fixed-iteration result is
    engine-portable and value-checks against an unrolled SQL oracle.
    Rounded at 6; vertices with no in-edges score authority 0, no
    out-edges hub 0.

    Directionality is the point (vs eigenvector centrality): in the
    twin graph, orders are hubs (they point at parts/suppliers/
    customers) and dimension twins are authorities — the classic
    query/result bipartition HITS was built for.

    Scale strategy: two :func:`_power_step` half-steps per round (one
    per edge direction), each checkpointed eagerly."""
    u = universe or VertexUniverse(twins, relationships)
    verts = twins.select("dt_id").localCheckpoint(eager=True)
    edges = (
        relationships.select("source_id", "target_id")
        .filter(F.col("source_id") != F.col("target_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = verts.withColumn("hub", F.lit(1.0)).localCheckpoint(eager=True)
    auth = verts.withColumn("authority", F.lit(1.0))
    for _ in range(iters):
        auth = _power_step(
            u, edges, hub, verts, "dt_id", F.col("hub"),
            _max_of_sums, _max_normalized("authority"), eager=True,
        )
        hub = _power_step(
            u, edges, auth, verts, "dt_id", F.col("authority"),
            _max_of_sums, _max_normalized("hub"), eager=True,
            src="target_id", dst="source_id",
        )
    return auth.join(hub, "dt_id").select(
        "dt_id",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def minimum_spanning_forest(
    twins: DataFrame,
    relationships: DataFrame,
    weights: DataFrame | None = None,
    max_rounds: int = 12,
) -> DataFrame:
    """(a, b, w) — minimum spanning forest of the undirected twin graph
    by Borůvka's algorithm (per round every component picks its cheapest
    outgoing edge and components merge).

    Determinism: edges order by the exact key (w, a, b), which makes all
    weights distinct, so the forest is UNIQUE and equals Kruskal's (the
    test replays Kruskal in Python).  Not SQL-expressible (rows-only).
    ``weights``: optional (source_id, target_id, w) BIGINT frame; default
    weight 1 per distinct undirected pair.

    Per round: ONE component-keyed struct-min over the cross-component
    edges, then the merge runs on the component graph via
    :func:`connected_components`, whose gate the twins' universe decides
    once.  ``max_rounds`` is a FAILURE cap: Borůvka at least halves the
    mergeable components per round (12 rounds cover 4k), and edges left
    across components at the cap raise instead of truncating the forest."""
    verts = twins.select("dt_id")
    # component labels are twin ids, so |twins| bounds every merge graph
    u = VertexUniverse(twins)
    base = relationships.select("source_id", "target_id").filter(
        F.col("source_id") != F.col("target_id")
    )
    pairs = base.select(
        F.least("source_id", "target_id").alias("a"),
        F.greatest("source_id", "target_id").alias("b"),
    ).distinct()
    if weights is not None:
        wsrc = weights.select(
            F.least("source_id", "target_id").alias("a"),
            F.greatest("source_id", "target_id").alias("b"),
            F.col("w").cast("long").alias("w"),
        ).groupBy("a", "b").agg(F.min("w").alias("w"))
        edges = pairs.join(wsrc, ["a", "b"], "left").select(
            "a", "b", F.coalesce("w", F.lit(1).cast("long")).alias("w")
        )
    else:
        edges = pairs.select("a", "b", F.lit(1).cast("long").alias("w"))
    edges = edges.localCheckpoint(eager=True)
    spark = edges.sparkSession
    forest = spark.createDataFrame([], "a string, b string, w long")
    comp = verts.select(
        "dt_id", F.col("dt_id").alias("component")
    ).localCheckpoint(eager=True)

    def cross_component(comp: DataFrame) -> DataFrame:
        ca = comp.select(F.col("dt_id").alias("a"), F.col("component").alias("__ca"))
        cb = comp.select(F.col("dt_id").alias("b"), F.col("component").alias("__cb"))
        return (
            edges.join(ca, "a")
            .join(cb, "b")
            .filter(F.col("__ca") != F.col("__cb"))
        )

    converged = False
    for _ in range(max(1, max_rounds)):
        live = cross_component(comp)
        # each component's cheapest outgoing edge, exact (w, a, b)
        # order; the edge rows CARRY both endpoint labels so the merge
        # below never rejoins the vertex-sized state
        pick = F.min(F.struct("w", "a", "b", "__ca", "__cb")).alias("e")
        chosen = (
            live.select(F.col("__ca").alias("c"), "w", "a", "b", "__ca", "__cb")
            .unionByName(
                live.select(
                    F.col("__cb").alias("c"), "w", "a", "b", "__ca", "__cb"
                )
            )
            .groupBy("c")
            .agg(pick)
            .select(
                F.col("e.a").alias("a"),
                F.col("e.b").alias("b"),
                F.col("e.w").alias("w"),
                F.col("e.__ca").alias("__ca"),
                F.col("e.__cb").alias("__cb"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        if chosen.limit(1).count() == 0:
            converged = True
            break
        forest = forest.unionByName(chosen.select("a", "b", "w"))
        # merge on the COMPONENT graph (≤ |C| rows): old label → new
        # label via star-contraction CC, then one vertex-sized relabel
        cverts = comp.select(F.col("component").alias("dt_id")).distinct()
        cedges = chosen.select(
            F.col("__ca").alias("source_id"), F.col("__cb").alias("target_id")
        )
        relabel = connected_components(cverts, cedges, universe=u).select(
            F.col("dt_id").alias("component"), F.col("component").alias("__new")
        )
        comp = (
            comp.join(relabel, "component")
            .select("dt_id", F.col("__new").alias("component"))
            .localCheckpoint(eager=True)
        )
    if not converged:
        # the cap hit mid-merge: a partial forest would be a wrong answer
        if cross_component(comp).limit(1).count() > 0:
            raise ValueError(
                f"minimum_spanning_forest did not converge within "
                f"max_rounds={max_rounds}: cross-component edges remain "
                f"(pass a larger max_rounds; Borůvka needs at most "
                f"ceil(log2(#mergeable components)) rounds)"
            )
    return forest.select("a", "b", "w").distinct()


def coreness(
    twins: DataFrame,
    relationships: DataFrame,
    iters: int = 5,
) -> DataFrame:
    """(dt_id, coreness) — k-core DECOMPOSITION by the distributed
    H-index iteration (Montresor et al. / Lü et al.): c₀ = degree,
    c_{k+1}(v) = min(c_k(v), H-index of neighbors' c_k), converging
    monotonically down to the true coreness.

    ``iters`` is FIXED, so the output is a deterministic upper bound that
    value-checks against an unrolled SQL oracle (tests pin convergence on
    the fixture with a Python peeling replay).  The H-index is tie-order
    invariant.  Per iteration: one edges⋈state join + one ranked-window
    aggregation on the same vertex partitioning."""
    from pyspark.sql import Window

    verts = twins.select("dt_id")
    e = _undirected(relationships).filter(
        F.col("source_id") != F.col("target_id")
    ).localCheckpoint(eager=True)
    deg = e.groupBy(F.col("source_id").alias("dt_id")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    state = (
        verts.join(deg, "dt_id", "left")
        .select("dt_id", F.coalesce("c", F.lit(0).cast("long")).alias("c"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max(1, iters)):
        nbr = e.join(
            state.select(
                F.col("dt_id").alias("target_id"), F.col("c").alias("__nc")
            ),
            "target_id",
        ).select(F.col("source_id").alias("dt_id"), "__nc")
        w = Window.partitionBy("dt_id").orderBy(F.desc("__nc"))
        h = (
            nbr.withColumn("__rn", F.row_number().over(w).cast("long"))
            .groupBy("dt_id")
            .agg(F.max(F.least("__nc", "__rn")).alias("__h"))
        )
        state = (
            state.join(h, "dt_id", "left")
            .select(
                "dt_id",
                F.least(
                    "c", F.coalesce("__h", F.lit(0).cast("long"))
                ).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
    return state.select("dt_id", F.col("c").alias("coreness"))
