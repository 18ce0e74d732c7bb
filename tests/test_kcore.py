from __future__ import annotations

import pytest

from distributed_pagerank_spark.plans.kcore import coreness, k_core
from distributed_pagerank_spark.sources.generator import generate_graph
from tests.conftest import ALL_FIXTURES, cache_base, cached_rdds, edges_df


def brute_k_core(pairs, k):
    und = set()
    for s, d in pairs:
        if s != d:
            und.add((min(s, d), max(s, d)))
    alive = {x for e in und for x in e}
    while True:
        deg = {v: 0 for v in alive}
        for a, b in und:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        nxt = {v for v in alive if deg[v] >= k}
        if nxt == alive:
            return {v: deg[v] for v in alive}
        alive = nxt


def test_k_core_cascading_peel(spark):
    # path 0-1-2 hanging off triangle 2-3-4: k=2 peels 0 then 1 (two
    # cascade rounds), leaving exactly the triangle with degree 2 each
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 2)]
    got = {r["id"]: r["degree"] for r in
           k_core(spark, edges_df(spark, pairs), k=2).collect()}
    assert got == {2: 2, 3: 2, 4: 2}


def test_k_core_empty_when_none(spark):
    assert k_core(spark, edges_df(spark, ALL_FIXTURES["chain5"]), k=3).count() == 0


def test_k_core_whole_graph_at_k1(spark):
    pairs = ALL_FIXTURES["triangle_plus"]
    got = {r["id"]: r["degree"] for r in
           k_core(spark, edges_df(spark, pairs), k=1).collect()}
    assert got == brute_k_core(pairs, 1)


@pytest.mark.parametrize("k", [2, 4, 5])
def test_k_core_generated_matches_brute(spark, k):
    edges = generate_graph(spark, 80, max_edges=4, seed=13)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    want = brute_k_core(pairs, k)
    got = {r["id"]: r["degree"] for r in k_core(spark, edges, k=k).collect()}
    assert got == want


def test_k_core_rejects_k0(spark):
    with pytest.raises(ValueError):
        k_core(spark, edges_df(spark, ALL_FIXTURES["chain5"]), k=0)


def brute_coreness(pairs):
    """Matula–Beck peeling ground truth."""
    import heapq
    from collections import defaultdict

    nbrs = defaultdict(set)
    for s, d in pairs:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    deg = {v: len(ns) for v, ns in nbrs.items()}
    core, alive = {}, set(deg)
    h = [(d, v) for v, d in deg.items()]
    heapq.heapify(h)
    k = 0
    while h:
        d, v = heapq.heappop(h)
        if v not in alive or d != deg[v]:
            continue
        k = max(k, d)
        core[v] = k
        alive.discard(v)
        for w in nbrs[v]:
            if w in alive:
                deg[w] -= 1
                heapq.heappush(h, (deg[w], w))
    return core


def test_coreness_mid_level_isolation(spark):
    """A vertex whose last edge vanishes mid-level must still be labeled:
    path 0-1-2 at level 2 removes 0 and 2 in round 1, isolating 1 —
    its core is 1, not a silent drop (the alive-set bug)."""
    from distributed_pagerank_spark.plans.kcore import coreness
    pairs = [(0, 1), (1, 2)]
    got = {r["id"]: r["core"] for r in
           coreness(spark, edges_df(spark, pairs)).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_coreness_generated_matches_brute(spark):
    from distributed_pagerank_spark.plans.kcore import coreness
    edges = generate_graph(spark, 80, max_edges=4, seed=13)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    want = brute_coreness(pairs)
    got = {r["id"]: r["core"] for r in coreness(spark, edges).collect()}
    assert got == want


def test_coreness_self_loop_only_vertex_core0(spark):
    from distributed_pagerank_spark.plans.kcore import coreness
    got = {r["id"]: r["core"] for r in
           coreness(spark, edges_df(spark, [(0, 1), (7, 7)])).collect()}
    assert got == {0: 1, 1: 1, 7: 0}


PATH4 = [(1, 2), (2, 3), (3, 4)]


@pytest.mark.parametrize("call", [
    # one round peels 1 and 4 but the 2-core is empty
    lambda s: k_core(s, edges_df(s, PATH4), k=2, max_iter=1),
    # level 2 needs the same two rounds
    lambda s: coreness(s, edges_df(s, PATH4), max_iter_per_level=1),
    # the 2-core {3, 4, 5} is not empty: level 1 cannot label it
    lambda s: coreness(s, edges_df(s, [(1, 2), (2, 3), (3, 4), (4, 5),
                                       (5, 3)]), max_k=1),
], ids=["k_core_max_iter", "coreness_max_iter_per_level", "coreness_max_k"])
def test_peel_budget_exhausted_raises_and_releases(spark, call):
    """A peel stopped by its budget is a supergraph of the core: it must
    raise, not return it, and leave no cache behind."""
    base = cache_base(spark)
    with pytest.raises(RuntimeError, match="did not converge|not empty"):
        call(spark)
    assert not cached_rdds(spark) - base


def test_k_core_budget_that_suffices(spark):
    # the same path with one round more settles on the empty 2-core
    got = k_core(spark, edges_df(spark, PATH4), k=2, max_iter=2).collect()
    assert got == []
