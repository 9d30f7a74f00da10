"""Property tests: large-star/small-star connected components agree
with the min-label-propagation variant AND with an independent Python
union-find, across adversarial graph shapes (chains are the min-label
worst case — supersteps = diameter; star convergence must not depend
on it)."""

from __future__ import annotations

import random

import pytest

from map_reduce_for_dbpl_dataset_spark.operators import graph
from map_reduce_for_dbpl_dataset_spark.operators.graph import (
    connected_components,
    connected_components_star,
)


def _union_find(nodes: list[str], edges: list[tuple[str, str]]) -> dict[str, str]:
    parent = {n: n for n in nodes}

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


def _run_both(spark, nodes, edges):
    edf = spark.createDataFrame(edges or [("_x", "_x")], "src string, dst string")
    if not edges:
        edf = edf.filter("src != src")  # empty frame, keeps schema
    vdf = spark.createDataFrame([(n,) for n in nodes], "node string")
    ml = {r.node: r.component for r in connected_components(edf, vdf).collect()}
    st = {r.node: r.component for r in connected_components_star(edf, vdf).collect()}
    return ml, st


def _check(spark, nodes, edges):
    want = _union_find(nodes, edges)
    ml, st = _run_both(spark, nodes, edges)
    assert ml == want, "min-label disagrees with union-find"
    assert st == want, "large/small-star disagrees with union-find"


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
    nodes = ["a", "b", "c"]
    want = {n: n for n in nodes}
    ml, st = _run_both(spark, nodes, [])
    assert ml == want and st == want


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


def test_label_propagation_raises_when_cap_cuts_the_fixpoint(spark, monkeypatch):
    """A 6-node chain needs 5 label-propagation rounds; capped at 2 the
    labels are still moving, so the operator must raise rather than
    return labels that are not yet component minima."""
    monkeypatch.setattr(graph, "CC_MAX_ITERS", 2)
    nodes = [f"n{i}" for i in range(6)]
    edf = spark.createDataFrame(list(zip(nodes, nodes[1:])), "src string, dst string")
    vdf = spark.createDataFrame([(n,) for n in nodes], "node string")
    with pytest.raises(RuntimeError, match="CC_MAX_ITERS=2"):
        connected_components(edf, vdf)
