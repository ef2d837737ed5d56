"""The graph kernels' vertex universe: one |V| count and one broadcast
gate per store snapshot.

* every gated kernel returns the same answer with the gate forced off
  (the distributed path every large graph takes) as with it on;
* the count runs once per snapshot, a mutated snapshot starts fresh,
  and projected CALLs run without the persisted layout;
* a layout that breaks endpoint referential integrity fails loudly;
* ``graph_analytics.py`` keeps exactly one gate.
"""

from __future__ import annotations

import inspect
import os
import re

import pytest
from pyspark.sql import functions as F

import pg_age_digitaltwins_spark.operators.graph_analytics as ga
from test_plans import SF_DIR  # the sf0.001 fixture the plan pins use


@pytest.fixture(scope="module")
def store(spark):
    from pg_age_digitaltwins_spark.store.tpch_loader import load_graph

    st = load_graph(spark, SF_DIR)
    assert st.vertex_ids is not None and st.edges_vid is not None
    return st


def _region_pivots(st):
    return st.twins.filter(F.col("dt_id").startswith("region-")).select("dt_id")


def _walk_starts(st):
    return st.twins.filter(
        F.col("dt_id").startswith("order-")
        & (F.element_at(F.split("dt_id", "-"), 2).cast("long") % 100 == 0)
    ).select("dt_id")


# name -> (kernel call on a store and a universe, float rounding or None)
GATED = {
    "connected_components": (
        lambda st, u: ga.connected_components(st.twins, st.relationships, universe=u),
        None,
    ),
    "strongly_connected_components": (
        lambda st, u: ga.strongly_connected_components(
            st.twins, st.relationships, universe=u
        ),
        None,
    ),
    "topological_levels": (
        lambda st, u: ga.topological_levels(st.twins, st.relationships, universe=u),
        None,
    ),
    "pagerank": (
        lambda st, u: ga.pagerank(st.twins, st.relationships, iters=2, universe=u),
        8,
    ),
    "personalized_pagerank": (
        lambda st, u: ga.personalized_pagerank(
            st.twins, st.relationships, ["cust-1", "cust-2"], iters=2, universe=u
        ),
        8,
    ),
    "eigenvector_centrality": (
        lambda st, u: ga.eigenvector_centrality(
            st.twins, st.relationships, iters=2, universe=u
        ),
        6,
    ),
    "hits": (
        lambda st, u: ga.hits(st.twins, st.relationships, iters=2, universe=u),
        6,
    ),
    "louvain_communities": (
        lambda st, u: ga.louvain_communities(
            st.twins, st.relationships, rounds_per_level=1, levels=2, universe=u
        ),
        None,
    ),
    "local_clustering": (
        lambda st, u: ga.local_clustering(st.relationships, universe=u),
        None,
    ),
    "link_prediction": (
        lambda st, u: ga.link_prediction(
            st.relationships, k=10, max_wedge_degree=100, universe=u
        ),
        None,
    ),
    # per-query encode (no layout) on the gate-off side as well
    "node_similarity_jaccard": (
        lambda st, u: ga.node_similarity_jaccard(
            st.relationships, "contains", top_k=10, max_target_degree=25,
            universe=u.without_layout(),
        ),
        None,
    ),
    "degree_assortativity": (
        lambda st, u: ga.degree_assortativity(st.relationships, universe=u),
        6,
    ),
    "betweenness_centrality_sampled": (
        lambda st, u: ga.betweenness_centrality_sampled(
            st.relationships, _region_pivots(st), max_depth=2, universe=u
        ),
        6,
    ),
    "random_walks": (
        lambda st, u: ga.random_walks(
            st.relationships, _walk_starts(st), steps=3, universe=u
        ),
        None,
    ),
}


def _fingerprint(df, digits):
    def norm(v):
        return round(v, digits) if digits is not None and isinstance(v, float) else v

    return sorted(
        (tuple(norm(v) for v in r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


@pytest.mark.parametrize("name", sorted(GATED))
def test_gate_off_matches_gate_on(store, monkeypatch, name):
    fn, digits = GATED[name]
    on = _fingerprint(fn(store, store.universe), digits)
    assert store.universe.broadcasts
    monkeypatch.setattr(ga, "BROADCAST_VERTEX_LIMIT", 0)
    assert not store.universe.broadcasts
    off = _fingerprint(fn(store, store.universe), digits)
    assert on, name
    assert off == on, name


def _universe_jobs(spark, group):
    """Job ids of ``group`` that carry the universe's job tag."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    tagged = set(tracker.getJobIdsForTag(ga.UNIVERSE_JOB_TAG))
    in_group = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    assert in_group, group
    return in_group & tagged


def test_universe_counts_once_per_snapshot(spark, store):
    from pg_age_digitaltwins_spark import crud
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    snap = crud._replace(store)  # a new snapshot of the same frames
    assert snap.universe is not store.universe
    client = DigitalTwinsSparkClient(snap)
    q = (
        "CALL graph.connectedComponents() YIELD node, component "
        "RETURN count(*) AS n"
    )
    sc = spark.sparkContext
    counts = []
    try:
        for i in range(2):
            sc.setJobGroup(f"universe-lifetime-{i}", "CC call")
            counts.append(client.query(q).rows[0]["n"])
    finally:
        sc._jsc.clearJobGroup()
    assert counts[0] == counts[1] > 0
    # first call: the |V| count and the layout check (a few Spark jobs
    # each under AQE); second call: none
    assert _universe_jobs(spark, "universe-lifetime-0")
    assert not _universe_jobs(spark, "universe-lifetime-1")
    assert snap.universe.n == snap.twins.count()

    # a relationship mutation makes a snapshot without the layout
    mutated, _, _ = crud.create_or_replace_relationship(
        snap,
        "cust-1",
        "rel-universe-test",
        {"$targetId": "nation-1", "$relationshipName": "locatedIn"},
    )
    assert mutated.universe is not snap.universe
    assert mutated.universe.layout() is None
    # a twin-only mutation keeps the layout (the universe is edge-derived)
    assert crud._replace(snap, twins=snap.twins).universe.layout() is not None


def test_projected_call_encodes_per_query(store, monkeypatch):
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    calls = {"n": 0}
    real = ga._vid_map_for

    def counting(ids):
        calls["n"] += 1
        return real(ids)

    monkeypatch.setattr(ga, "_vid_map_for", counting)
    client = DigitalTwinsSparkClient(store)
    full = client.query(
        "CALL graph.triangleCount() YIELD triangles RETURN triangles"
    ).rows
    assert calls["n"] == 0  # the persisted layout, no per-query encode
    typed = client.query(
        "CALL graph.triangleCount(['locatedIn', 'partOf']) "
        "YIELD triangles RETURN triangles"
    ).rows
    assert calls["n"] == 1  # relTypes projection: per-query encode
    assert full[0]["triangles"] >= typed[0]["triangles"] >= 0


def test_layout_with_dangling_endpoint_fails_loudly(spark, store):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    dropped = store.edges_vid.select("target_vid").limit(1).collect()[0][0]
    crafted = GraphStore(
        spark=spark,
        twins=store.twins,
        relationships=store.relationships,
        models=store.models,
        model_edges=store.model_edges,
        vertex_ids=store.vertex_ids.filter(F.col("vid") != dropped),
        edges_vid=store.edges_vid,
    )
    with pytest.raises(ValueError, match="edges_vid.*vertex_ids"):
        ga.strongly_connected_components(
            crafted.twins, crafted.relationships, universe=crafted.universe
        )
    # the failed check is cached with the universe, and every layout
    # reader refuses it
    with pytest.raises(ValueError, match="referential integrity"):
        ga.connected_components(
            crafted.twins, crafted.relationships, universe=crafted.universe
        )
    # the same frames without the layout run the string path
    assert ga.strongly_connected_components(
        crafted.twins, crafted.relationships,
        universe=crafted.universe.without_layout(),
    ).count() == store.twins.count()


def test_one_broadcast_gate_in_source():
    path = os.path.join(os.path.dirname(ga.__file__), "graph_analytics.py")
    src = open(path).read()
    lines = [ln for ln in src.splitlines() if "2_000_000" in ln]
    assert lines == ["BROADCAST_VERTEX_LIMIT = 2_000_000"], lines
    assert not re.search(r"broadcast_vertex_limit", src)
    assert "_bc_vid_gate" not in src
    retired = {"broadcast_vertex_limit", "vid_edges", "vid_map", "endpoint_ids"}
    for name, fn in inspect.getmembers(ga, inspect.isfunction):
        if fn.__module__ == ga.__name__:
            assert not retired & set(inspect.signature(fn).parameters), name
