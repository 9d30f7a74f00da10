"""Property tests: large-star/small-star connected components agree
with an independent Python union-find over the vertices and the edge
endpoints, across adversarial graph shapes (chains are the worst case
for diameter-bounded propagation; star convergence must not depend on
it) and the operator's defined edge cases."""

from __future__ import annotations

import random

import pytest

from map_reduce_for_dbpl_dataset_spark.operators import graph
from map_reduce_for_dbpl_dataset_spark.operators.graph import connected_components_star


def _union_find(nodes: list[str], edges: list[tuple[str, str]]) -> dict[str, str]:
    """Component label (min member) of each of ``nodes``; the graph's
    nodes are ``nodes`` plus every edge endpoint."""
    parent = {n: n for n in nodes}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min member, which is the root under min-union
    return {n: find(n) for n in nodes}


def _components(spark, nodes, edges):
    edf = spark.createDataFrame(edges or [("_x", "_x")], "src string, dst string")
    if not edges:
        edf = edf.filter("src != src")  # empty frame, keeps schema
    vdf = spark.createDataFrame([(n,) for n in nodes], "node string")
    rows = connected_components_star(edf, vdf).collect()
    got = {r.node: r.component for r in rows}
    assert len(got) == len(rows), "a vertex has more than one row"
    return got


def _check(spark, nodes, edges):
    assert _components(spark, nodes, edges) == _union_find(nodes, edges)


def test_chain_star_two_cliques_isolated(spark):
    # chain: worst case for diameter-bounded propagation
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)]
    nodes = sorted({a for e in chain for a in e} | {"zz_isolated"})
    _check(spark, nodes, chain)

    # hub star + separate triangle + isolated vertex
    edges = [("hub", f"leaf{i}") for i in range(6)]
    edges += [("t1", "t2"), ("t2", "t3"), ("t1", "t3")]
    nodes = sorted({a for e in edges for a in e} | {"alone"})
    _check(spark, nodes, edges)


def test_random_graphs_match_union_find(spark):
    rng = random.Random(13)
    for trial in range(4):
        n = rng.randint(5, 18)
        nodes = [f"v{trial}_{i:02d}" for i in range(n)]
        m = rng.randint(0, n * 2)
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, nodes, edges)


def test_empty_graph_all_singletons(spark):
    _check(spark, ["a", "b", "c"], [])


def test_endpoint_outside_the_vertex_set_connects_and_labels(spark):
    """0x is no vertex, yet it joins b and c and is their minimum."""
    edges = [("b", "0x"), ("0x", "c")]
    want = {"b": "0x", "c": "0x"}
    assert _union_find(["b", "c"], edges) == want
    assert _components(spark, ["b", "c"], edges) == want


def test_edge_with_a_null_endpoint_is_ignored(spark):
    nodes = ["a", "b", "c"]
    edges = [("b", "c"), ("a", None), (None, "b")]
    want = _union_find(nodes, [e for e in edges if None not in e])
    assert want == {"a": "a", "b": "b", "c": "b"}
    assert _components(spark, nodes, edges) == want


def test_null_vertex_and_empty_vertex_set(spark):
    _check(spark, ["a", "b", None], [("a", "b")])  # gives a (NULL, NULL) row
    _check(spark, [], [("a", "b")])  # gives no rows


def test_triangles_match_bruteforce(spark):
    """Degree-oriented triangle enumeration == brute-force over all
    3-subsets, on random graphs including a hub (the skew case the
    orientation exists for)."""
    from itertools import combinations

    from map_reduce_for_dbpl_dataset_spark.operators.graph import triangles
    rng = random.Random(7)
    for trial in range(4):
        n = 14
        names = [f"v{i:02d}" for i in range(n)]
        edges = sorted(
            {
                (a, b)
                for a, b in (
                    tuple(sorted(rng.sample(names, 2))) for _ in range(30 + 10 * trial)
                )
            }
        )
        # trial 3: bolt on a hub adjacent to everything (max-degree node)
        if trial == 3:
            edges = sorted(set(edges) | {tuple(sorted(("hub", x))) for x in names})
        adj = {e for e in edges}
        nodes = sorted({a for e in edges for a in e})
        want = {
            (a, b, c)
            for a, b, c in combinations(nodes, 3)
            if (a, b) in adj and (b, c) in adj and (a, c) in adj
        }
        edf = spark.createDataFrame(edges, "src string, dst string")
        got = {tuple(sorted((r.a, r.b, r.c))) for r in triangles(edf).collect()}
        n_rows = triangles(edf).count()
        assert got == want, f"trial {trial}: triangle sets differ"
        assert n_rows == len(want), f"trial {trial}: duplicate triangle rows"


def test_star_raises_when_cap_cuts_the_fixpoint(spark, monkeypatch):
    """A 32-node chain needs more than 2 star rounds (plus the round
    that confirms the fixpoint); capped at 2 the edge set is still
    moving, so the operator must raise rather than label vertices from
    an edge set that is not yet a forest of stars."""
    monkeypatch.setattr(graph, "CC_STAR_MAX_ITERS", 2)
    nodes = [f"n{i:02d}" for i in range(32)]
    edf = spark.createDataFrame(list(zip(nodes, nodes[1:])), "src string, dst string")
    vdf = spark.createDataFrame([(n,) for n in nodes], "node string")
    with pytest.raises(RuntimeError, match="CC_STAR_MAX_ITERS=2"):
        connected_components_star(edf, vdf)
