from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from distributed_pagerank_spark.plans.loop import release_local_checkpoint
from distributed_pagerank_spark.plans.scc import strongly_connected_components
from distributed_pagerank_spark.sources.generator import generate_graph
from tests.conftest import cache_base, cached_rdds, edges_df


def brute_scc(pairs):
    """Kosaraju ground truth, labeled by min member id."""
    adj, radj = defaultdict(list), defaultdict(list)
    verts = set()
    for s, d in pairs:
        verts.add(s)
        verts.add(d)
        if s != d:
            adj[s].append(d)
            radj[d].append(s)
    visited, order = set(), []
    for v in verts:
        if v in visited:
            continue
        stack = [(v, iter(adj[v]))]
        visited.add(v)
        while stack:
            node, it = stack[-1]
            adv = False
            for w in it:
                if w not in visited:
                    visited.add(w)
                    stack.append((w, iter(adj[w])))
                    adv = True
                    break
            if not adv:
                order.append(node)
                stack.pop()
    comp = {}
    for v in reversed(order):
        if v in comp:
            continue
        stack, members = [v], [v]
        comp[v] = v
        while stack:
            u = stack.pop()
            for w in radj[u]:
                if w not in comp:
                    comp[w] = v
                    members.append(w)
                    stack.append(w)
        mn = min(members)
        for m in members:
            comp[m] = mn
    return comp


def run(spark, pairs, **kw):
    out = strongly_connected_components(spark, edges_df(spark, pairs), **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_scc_two_cycles_and_bridge(spark):
    # cycle {0,1,2} → cycle {3,4}; the bridge edge must not merge them
    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3)]
    assert run(spark, pairs) == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}


def test_scc_dag_all_singletons(spark):
    pairs = [(0, 1), (0, 2), (1, 3), (2, 3)]
    assert run(spark, pairs) == {v: v for v in range(4)}


def test_scc_chain_decreasing_ids(spark):
    # forward max-coloring's adversarial direction: colors drain one hop
    # per round, but the answer must still be all-singletons
    pairs = [(i + 1, i) for i in range(6)]
    assert run(spark, pairs) == {v: v for v in range(7)}


def test_scc_self_loop_only_vertex(spark):
    pairs = [(0, 1), (1, 0), (7, 7)]
    assert run(spark, pairs) == {0: 0, 1: 0, 7: 7}


def gen80(spark):
    g = generate_graph(spark, 80, max_edges=2, seed=42)
    return g.where(
        (F.col("src") != F.col("dst")) & (F.col("dst") != F.col("src") + 1)
    )


def test_scc_generated_matches_kosaraju(spark):
    edges = gen80(spark)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    want = brute_scc(pairs)
    got = {
        r["id"]: r["component"]
        for r in strongly_connected_components(spark, edges).collect()
    }
    assert got == want
    # sanity: the fixture actually has a non-trivial SCC
    sizes = defaultdict(int)
    for c in want.values():
        sizes[c] += 1
    assert max(sizes.values()) > 1


def test_scc_metrics_and_convergence_cap(spark):
    metrics = []
    pairs = [(0, 1), (1, 0)]
    out = strongly_connected_components(
        spark, edges_df(spark, pairs), metrics_out=metrics
    )
    assert out.count() == 2
    assert metrics and metrics[-1]["remaining"] == 0
    with pytest.raises(RuntimeError):
        strongly_connected_components(
            spark, edges_df(spark, [(i + 1, i) for i in range(4)]), max_outer=1
        )
    # a color fixpoint cut off by max_prop holds partial labels (10
    # singletons here), so it raises instead of returning them
    with pytest.raises(RuntimeError):
        strongly_connected_components(
            spark, edges_df(spark, [(i, (i + 1) % 10) for i in range(10)]),
            max_prop=1,
        )


def test_scc_releases_all_but_its_output(spark):
    """Every cache SCC makes is released except the output, a leaf the
    caller owns and frees with ``release_local_checkpoint``. Compared as
    RDD ids rather than counts: the JVM's context cleaner may drop other
    tests' dead caches meanwhile."""
    edges = gen80(spark).localCheckpoint()
    base = cache_base(spark)
    out = strongly_connected_components(spark, edges)
    out_rdd = out._jdf.queryExecution().analyzed().rdd().id()
    assert cached_rdds(spark) - base == {out_rdd}
    release_local_checkpoint(out)
    assert not cached_rdds(spark) - base
    # the budget error path releases everything too
    with pytest.raises(RuntimeError):
        strongly_connected_components(spark, edges, max_prop=1)
    assert not cached_rdds(spark) - base
    release_local_checkpoint(edges)
