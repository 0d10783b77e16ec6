"""Randomized parity of hash-min connected components (J9) against
networkx on seeded random graphs: the PARTITION must match
nx.connected_components exactly, and every component label must be the
string-min node id of its component (the documented determinism
contract)."""

from __future__ import annotations

import random

import networkx as nx
import pytest


def _random_edges(seed: int, n_nodes: int, n_edges: int):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.add((f"n{min(a, b):03d}", f"n{max(a, b):03d}"))
    return sorted(edges)


@pytest.mark.parametrize("seed", [13, 57])
def test_connected_components_match_networkx(spark, seed):
    from dere_spark.operators.graph import connected_components

    rng = random.Random(seed + 1)
    n_nodes = rng.randrange(20, 60)
    edges = _random_edges(seed, n_nodes, rng.randrange(10, n_nodes * 2))

    G = nx.Graph()
    G.add_edges_from((a, b) for a, b in edges)
    want = {}
    for comp in nx.connected_components(G):
        label = min(comp)  # string-min == our component id contract
        for node in comp:
            want[node] = label

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == want, (
        f"seed{seed}: component mismatch "
        f"(only-ours {set(got) - set(want)}, diffs "
        f"{ {k: (got.get(k), want.get(k)) for k in want if got.get(k) != want[k]} })"
    )
