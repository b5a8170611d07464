"""Connected components: transitive closure, convergence on graphs
whose diameter forces multiple propagation rounds, singleton handling."""

from __future__ import annotations

from datapipelinedemo_spark.operators.cluster import connected_components


def _run(spark, n_nodes, edges):
    nodes = spark.createDataFrame([(i,) for i in n_nodes], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(nodes, e)
    return {r.id: r.comp for r in out.collect()}


def test_transitive_cluster(spark):
    # A~B, B~C but never A~C directly: one cluster; D~E separate; F alone
    got = _run(spark, range(1, 7), [(1, 2), (2, 3), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_path_graph_needs_many_rounds(spark):
    # a 12-node path: the min label must walk 11 hops — exercises the
    # iteration loop and the convergence check, not just one round
    n = 12
    got = _run(spark, range(n), [(i, i + 1) for i in range(n - 1)])
    assert got == {i: 0 for i in range(n)}


def test_edge_direction_irrelevant(spark):
    got = _run(spark, range(1, 4), [(3, 2), (2, 1)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_label_propagation_refuses_truncation(spark):
    """A diameter larger than max_rounds must raise, not silently
    return wrong labels."""
    import pytest

    n = 30
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, e, max_rounds=5)
