"""Connected components: cliques, chains, isolated nodes, convergence."""

from __future__ import annotations

import random

from weather_data_ingestion_gcp_spark.operators import graph
from weather_data_ingestion_gcp_spark.operators.graph import (
    connected_components,
    dedup_cluster_stats,
)


def _cc(spark, node_ids, edge_pairs):
    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id BIGINT")
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_pairs] or [(None, None)], "id_a BIGINT, id_b BIGINT"
    )
    if not edge_pairs:
        edges = edges.filter("id_a IS NOT NULL")
    out = connected_components(nodes, edges)
    return {r.doc_id: r.component for r in out.collect()}


def test_cliques_chain_and_isolated(spark):
    # clique {1,2,3}, chain 10-11-12-13 (diameter > 1), isolated 99
    got = _cc(
        spark,
        [1, 2, 3, 10, 11, 12, 13, 99],
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13)],
    )
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 99: 99}


def test_no_edges_every_node_its_own_component(spark):
    got = _cc(spark, [5, 6, 7], [])
    assert got == {5: 5, 6: 6, 7: 7}


def test_edge_direction_is_irrelevant(spark):
    # min id on the "dst" side both ways
    assert _cc(spark, [1, 2], [(2, 1)]) == {1: 1, 2: 1}
    assert _cc(spark, [1, 2], [(1, 2)]) == {1: 1, 2: 1}


def _cc_star(spark, monkeypatch, node_ids, edge_pairs, cap=0):
    # the union-find cap at 0 forces the distributed star rounds — these
    # tests exist to exercise the contraction algorithm, and every fixture
    # here is far below the default cap
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", cap)
    return _cc(spark, node_ids, edge_pairs)


def test_star_long_chain_and_isolated(spark, monkeypatch):
    # A long path is the adversarial case for min-label propagation
    # (O(diameter) rounds, each planned over the previous round's labels);
    # star contraction must resolve it in O(log n) rounds.
    n = 32
    got = _cc_star(
        spark, monkeypatch, list(range(n)) + [99], [(i, i + 1) for i in range(n - 1)]
    )
    assert got == {**{i: 0 for i in range(n)}, 99: 99}


def test_star_matches_union_find_on_random_graph(spark, monkeypatch):
    rng = random.Random(7)
    n = 30
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(25)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    union_find = _cc(spark, range(n), edges)
    assert _cc_star(spark, monkeypatch, range(n), edges) == union_find


def test_star_no_edges_and_direction_irrelevant(spark, monkeypatch):
    assert _cc_star(spark, monkeypatch, [5, 6, 7], []) == {5: 5, 6: 6, 7: 7}
    assert _cc_star(spark, monkeypatch, [1, 2], [(2, 1)]) == {1: 1, 2: 1}


def test_star_small_graph_path_matches_star_rounds(spark, monkeypatch):
    """connected_components is size-adaptive (union-find under the cap,
    star rounds above it) — both paths must produce identical labelings
    on the same graph, including the chain+clique+isolated mix and the
    exact-boundary edge count."""
    node_ids = list(range(20)) + [99]
    edge_pairs = [(i, i + 1) for i in range(9)] + [(15, 16), (16, 17), (15, 17)]
    adaptive = _cc(spark, node_ids, edge_pairs)
    forced_star = _cc_star(spark, monkeypatch, node_ids, edge_pairs)
    at_boundary = _cc_star(
        spark, monkeypatch, node_ids, edge_pairs, cap=len(edge_pairs)
    )
    assert adaptive == forced_star
    assert at_boundary == forced_star


def test_string_ids_on_both_paths(spark, monkeypatch):
    """Labels take the node id type: string ids through union-find and
    through the forced star rounds, labelled by the minimum string."""
    nodes = spark.createDataFrame([(x,) for x in "abcdez"], "doc_id string")
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d")], "id_a string, id_b string"
    )
    want = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "z": "z"}

    def labels():
        out = connected_components(nodes, edges)
        assert out.schema["component"].dataType.simpleString() == "string"
        return dict(out.collect())

    assert labels() == want
    monkeypatch.setattr(graph, "SMALL_GRAPH_EDGES", 0)
    assert labels() == want


def test_cluster_stats(spark):
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 9]], "doc_id BIGINT")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a BIGINT, id_b BIGINT")
    comp = connected_components(nodes, edges)
    stats = {
        r.component: (r.n_members, r.keep_id)
        for r in dedup_cluster_stats(comp).collect()
    }
    assert stats == {1: (3, 1), 9: (1, 9)}
