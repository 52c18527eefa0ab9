"""Connected components over match edges."""

import pytest

from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators.clustering import (
    clusters_table,
    connected_components,
    connected_components_edges,
)


def test_components_chain(spark):
    # A1-B1, A2-B1, A2-B2 form one component; A9-B9 another
    matches = spark.createDataFrame(
        [("1", "1"), ("2", "1"), ("2", "2"), ("9", "9")],
        "record1 string, record2 string",
    )
    comps = connected_components(matches)
    rows = {r["node"]: r["component"] for r in comps.collect()}
    assert rows["A:1"] == rows["B:1"] == rows["A:2"] == rows["B:2"] == "A:1"
    assert rows["A:9"] == rows["B:9"] == "A:9"
    ct = {r["component"]: r["size"] for r in clusters_table(comps).collect()}
    assert ct == {"A:1": 4, "A:9": 2}


def test_components_empty(spark):
    matches = spark.createDataFrame([], "record1 string, record2 string")
    assert connected_components(matches).count() == 0


def _nx_components(edges):
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges)
    return {frozenset(c) for c in nx.connected_components(g)}


def _spark_components(comps):
    by_label = {}
    for r in comps.collect():
        by_label.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(m) for m in by_label.values()}


def test_components_short_path_matches_networkx(spark):
    edges = [(i, i + 1) for i in range(10)]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    comps = connected_components_edges(pairs)
    assert _spark_components(comps) == _nx_components(edges) == {frozenset(range(11))}


def test_components_ab_chain_matches_networkx(spark):
    # A1-B1, A2-B1, A2-B2, ..., A8-B8: one alternating chain of 15 links
    links = [(str(i), str(i)) for i in range(1, 9)] + [
        (str(i + 1), str(i)) for i in range(1, 8)
    ]
    matches = spark.createDataFrame(links, "record1 string, record2 string")
    comps = connected_components(matches)
    truth = _nx_components((f"A:{a}", f"B:{b}") for a, b in links)
    assert _spark_components(comps) == truth
    assert len(truth) == 1


def test_components_raise_when_the_round_budget_is_too_short(spark):
    """A 60-node path needs ~59 one-hop rounds; at the 20-round budget
    the labelling is still split (40 components), which must raise, not
    be returned."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(59)], "id1 long, id2 long")
    with pytest.raises(RuntimeError, match="did not converge in 20 rounds"):
        connected_components_edges(pairs)
