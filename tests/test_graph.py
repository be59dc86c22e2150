"""Community detection (operators/graph.py) on a hand-built edge list:
one pinned algorithm, deterministic ids, singleton isolated nodes."""

from __future__ import annotations

from holochatstats_spark.operators.graph import detect_communities

# two triangles joined by one weak edge, plus "g" with no edge at all
_EDGES = [
    ("a", "b", 1.0),
    ("a", "c", 1.0),
    ("b", "c", 1.0),
    ("d", "e", 1.0),
    ("d", "f", 1.0),
    ("e", "f", 1.0),
    ("c", "d", 0.1),
]
_SCHEMA = "src string, dst string, weight double"


def _communities(spark, edges):
    edge_df = spark.createDataFrame(edges, _SCHEMA)
    nodes_df = spark.createDataFrame([(n,) for n in "gfedcba"], "node string")
    return [tuple(r) for r in detect_communities(edge_df, nodes_df).collect()]


def test_detect_communities_is_deterministic_with_singletons(spark):
    out = _communities(spark, _EDGES)
    assert out == [
        ("a", 0, "greedy_modularity"),
        ("b", 0, "greedy_modularity"),
        ("c", 0, "greedy_modularity"),
        ("d", 1, "greedy_modularity"),
        ("e", 1, "greedy_modularity"),
        ("f", 1, "greedy_modularity"),
        ("g", 2, "greedy_modularity"),
    ]
    # input order does not leak into the community ids
    assert _communities(spark, list(reversed(_EDGES))) == out
