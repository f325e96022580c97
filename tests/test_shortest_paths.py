"""Multi-source BFS (operators/graph.shortest_paths): distances must
model a pure-Python BFS exactly — fixed examples (path, diamond,
directed vs undirected, multi-source min) plus a hypothesis law over
generated digraphs — with unreachable nodes absent and the frontier
loop stopping at graph eccentricity, not max_hops."""

from __future__ import annotations

from collections import deque

from hypothesis import HealthCheck, given, settings, strategies as st

from consume_kafka_avro_data_spark.operators.graph import shortest_paths


def _ref_bfs(edges, sources, directed):
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        if not directed:
            adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _edges_df(spark, edges):
    return spark.createDataFrame(
        edges or [(0, 0)], "source_id long, target_id long"
    ).limit(len(edges))


def test_path_graph_and_eccentricity_stop(spark):
    """A 12-node path from one end: dist i == i, and the loop must
    terminate by frontier exhaustion (max_hops far above need)."""
    edges = [(i, i + 1) for i in range(11)]
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(_edges_df(spark, edges), [0]).collect()
    }
    assert got == {i: i for i in range(12)}


def test_directed_vs_undirected_and_unreachable_absent(spark):
    edges = [(1, 2), (2, 3), (5, 1)]
    df = _edges_df(spark, edges)
    directed = {
        r["node"]: r["dist"]
        for r in shortest_paths(df, [1], directed=True).collect()
    }
    assert directed == {1: 0, 2: 1, 3: 2}  # 5 unreachable forward
    undirected = {
        r["node"]: r["dist"] for r in shortest_paths(df, [1]).collect()
    }
    assert undirected == {1: 0, 2: 1, 5: 1, 3: 2}


def test_multi_source_takes_nearest(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(_edges_df(spark, edges), [0, 4]).collect()
    }
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_max_hops_truncates(spark):
    edges = [(i, i + 1) for i in range(10)]
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(
            _edges_df(spark, edges), [0], max_hops=3
        ).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_duplicate_sources_collapse(spark):
    """A source listed twice yields one (node, 0) row, not two."""
    got = shortest_paths(_edges_df(spark, [(5, 6)]), [0, 0]).collect()
    assert [(r["node"], r["dist"]) for r in got] == [(0, 0)]


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=18,
)


@given(edges=EDGES, directed=st.booleans())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bfs_models_reference_on_any_graph(spark, edges, directed):
    """For ANY small digraph (self-loops and multi-edges included) the
    distances equal a queue-based pure-Python BFS from source 0."""
    df = _edges_df(spark, edges)
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(df, [0], directed=directed).collect()
    }
    assert got == _ref_bfs(edges, [0], directed)


def test_graph_suite_over_spo_edges(spark, sf_dir):
    """Integration over the reference's own graph shape: build the SPO
    edge table the engine materializes (xxhash64 ids, the
    Database.cpp:26-78 stand-in), then run BFS, LPA, and CC over it —
    hop-0/1 sets must match the raw triples, and every BFS-reached
    node shares its source's connected component."""
    from pyspark.sql import functions as F

    from consume_kafka_avro_data_spark.operators.graph import (
        connected_components,
        edges_from_triples,
        label_propagation,
        triples_from,
    )
    from consume_kafka_avro_data_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").limit(300)
    triples = triples_from(
        ev,
        F.concat(F.lit("u:"), F.col("user_id").cast("string")),
        F.lit("did"),
        F.concat(F.lit("t:"), F.col("event_type")),
    )
    e = edges_from_triples(triples).localCheckpoint(eager=True)
    try:
        src = e.select(F.min("source_id").alias("m")).collect()[0]["m"]
        bfs = shortest_paths(e, [src])
        dists = {r["node"]: r["dist"] for r in bfs.collect()}
        # hop-1 set == the source's direct neighbors in the edge table
        nbrs = {
            r["target_id"]
            for r in e.where(F.col("source_id") == src).collect()
        } | {
            r["source_id"]
            for r in e.where(F.col("target_id") == src).collect()
        }
        assert {n for n, d in dists.items() if d == 1} == nbrs - {src}
        # every reached node lives in the source's component
        comps = connected_components(e)
        comp_of = {r["node"]: r["comp"] for r in comps.collect()}
        assert {comp_of[n] for n in dists} == {comp_of[src]}
        # LPA runs and labels every connected node
        lpa = label_propagation(e, max_iter=3)
        labeled = {r["node"] for r in lpa.collect()}
        lpa.unpersist()
        assert set(dists) <= labeled
        bfs.unpersist()
    finally:
        e.unpersist()
