"""k-truss decomposition vs a brute-force peeling oracle."""

from __future__ import annotations

from collections import defaultdict

import pytest

from distributed_pagerank_spark.plans.truss import k_truss
from distributed_pagerank_spark.sources.generator import generate_graph

from tests.conftest import cache_base, cached_rdds, edges_df


def brute_truss(pairs, k):
    """Ground truth: iterate support recomputation + deletion."""
    E = set()
    for s, d in pairs:
        if s != d:
            E.add((min(s, d), max(s, d)))
    while True:
        nbrs = defaultdict(set)
        for u, v in E:
            nbrs[u].add(v)
            nbrs[v].add(u)
        sup = {(u, v): len(nbrs[u] & nbrs[v]) for u, v in E}
        drop = {e for e in E if sup[e] < k - 2}
        if not drop:
            return {e: sup[e] for e in E}
        E -= drop


def run(spark, pairs, k):
    got = k_truss(spark, edges_df(spark, pairs), k=k).collect()
    return {(r["src"], r["dst"]): r["support"] for r in got}


def test_k_truss_k4_on_k4_clique_keeps_all(spark):
    # K4: every edge in exactly 2 triangles -> the whole graph is a 4-truss
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = run(spark, pairs, 4)
    assert got == {e: 2 for e in
                   ((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))}


def test_k_truss_cascade(spark):
    # K4 plus a pendant triangle (3,4,5): at k=4 the triangle's edges have
    # support 1 and peel, leaving K4 intact
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs += [(3, 4), (4, 5), (3, 5)]
    got = run(spark, pairs, 4)
    assert set(got) == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}


def test_k_truss_empty_when_no_truss(spark):
    # a single triangle has no 4-truss
    got = run(spark, [(0, 1), (1, 2), (0, 2)], 4)
    assert got == {}


def test_k_truss_rejects_k2(spark):
    with pytest.raises(ValueError):
        k_truss(spark, edges_df(spark, [(0, 1)]), k=2)


@pytest.mark.parametrize("k", [3, 4])
def test_k_truss_generated_matches_brute(spark, k):
    edges = generate_graph(spark, 60, max_edges=6, seed=7)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    assert run(spark, pairs, k) == brute_truss(pairs, k)


def test_k_truss_dups_and_self_loops_ignored(spark):
    pairs = [(0, 1), (1, 0), (0, 1), (2, 2),
             (0, 1), (1, 2), (0, 2)]
    got = run(spark, pairs, 3)
    assert got == {(0, 1): 1, (0, 2): 1, (1, 2): 1}


def test_k_truss_budget_exhausted_raises_and_releases(spark):
    """K4 plus a fan on 4 and 5: one round peels (2,4), (4,5) and (3,5),
    leaving (3,4) without a triangle. Stopped there the survivors are a
    supergraph of the truss: it must raise and leave no cache behind."""
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs += [(3, 4), (2, 4), (4, 5), (3, 5)]
    base = cache_base(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        k_truss(spark, edges_df(spark, pairs), k=4, max_iter=1)
    assert not cached_rdds(spark) - base
    assert set(run(spark, pairs, 4)) == {
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}
