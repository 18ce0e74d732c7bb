"""Multi-root Brandes betweenness vs an exact Python oracle."""

from __future__ import annotations

from collections import defaultdict, deque

from distributed_pagerank_spark.plans.betweenness import betweenness
from distributed_pagerank_spark.plans.loop import conf_scope
from distributed_pagerank_spark.sources.generator import generate_graph

from tests.conftest import edges_df


def brute_brandes(pairs, roots, max_depth=10**9):
    """Exact Brandes dependency accumulation (undirected), truncated to
    paths of at most max_depth hops."""
    nbrs = defaultdict(set)
    for s, d in pairs:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    bc = defaultdict(float)
    for s in roots:
        if s not in nbrs:
            continue
        dist = {s: 0}
        sigma = defaultdict(float)
        sigma[s] = 1.0
        order = []
        dq = deque([s])
        while dq:
            v = dq.popleft()
            order.append(v)
            if dist[v] >= max_depth:
                continue
            for w in nbrs[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    dq.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for w in reversed(order):
            for v in nbrs[w]:
                if dist.get(v) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return dict(bc)


def run(spark, pairs, roots, max_depth=10):
    r = spark.createDataFrame([(int(x),) for x in roots], "root long")
    got = betweenness(
        spark, edges_df(spark, pairs), r, max_depth=max_depth
    ).collect()
    # drop roots' own zero rows and other zeros for comparison vs the
    # sparse oracle dict
    return {
        row["id"]: round(row["betweenness"], 9)
        for row in got
        if abs(row["betweenness"]) > 1e-12
    }


def want(pairs, roots, max_depth=10**9):
    return {
        v: round(x, 9)
        for v, x in brute_brandes(pairs, roots, max_depth).items()
        if abs(x) > 1e-12
    }


def test_betweenness_path_graph_all_roots(spark):
    # path 0-1-2-3-4, all roots: vertex 2 lies on the (0..1)x(3..4)
    # pairs, each counted from both endpoints by the per-root sums -> 8
    pairs = [(i, i + 1) for i in range(4)]
    roots = [0, 1, 2, 3, 4]
    got = run(spark, pairs, roots)
    assert got == want(pairs, roots)
    assert got[2] == 8.0


def test_betweenness_diamond_split_paths(spark):
    # 0-1-3, 0-2-3: two shortest 0→3 paths, 1 and 2 each carry 0.5
    pairs = [(0, 1), (0, 2), (1, 3), (2, 3)]
    got = run(spark, pairs, [0])
    assert got == want(pairs, [0])
    assert got[1] == 0.5 and got[2] == 0.5


def test_betweenness_depth_truncation(spark):
    pairs = [(i, i + 1) for i in range(5)]
    got = run(spark, pairs, [0], max_depth=2)
    assert got == want(pairs, [0], max_depth=2)


def test_betweenness_generated_matches_brute(spark):
    edges = generate_graph(spark, 50, max_edges=4, seed=9)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    roots = sorted({s for s, _ in pairs})[:10]
    got = run(spark, pairs, roots, max_depth=12)
    expected = want(pairs, roots, max_depth=12)
    assert set(got) == set(expected)
    for v in expected:
        assert abs(got[v] - expected[v]) < 1e-6, v


def test_betweenness_root_not_in_graph(spark):
    got = run(spark, [(0, 1), (1, 2)], [99, 0])
    assert got == want([(0, 1), (1, 2)], [99, 0])


def test_betweenness_factor_agg_branch_matches_brute(spark):
    # shrinking-level funnel: root 0 → 20 level-1 vertices → 2 level-2
    # vertices, so the backward pass at level 1 sees |w|=2 < |cur|=20 and
    # takes the broadcast factor-aggregate shape (delta = sigma · Σ f_w);
    # the expanding shape (|w| ≥ |cur|) is covered by the graphs above.
    pairs = [(0, i) for i in range(1, 21)]
    pairs += [(i, 100) for i in range(1, 21)]
    pairs += [(i, 101) for i in range(1, 11)]
    got = run(spark, pairs, [0], max_depth=3)
    expected = want(pairs, [0], max_depth=3)
    assert set(got) == set(expected)
    for v in expected:
        assert abs(got[v] - expected[v]) < 1e-9, v


def test_broadcast_row_limit_parses_size_confs(spark):
    """The row limit reads the session's typed threshold, whatever the
    size string it was set with; -1 (off) clamps to 0."""
    from distributed_pagerank_spark.plans.betweenness import (
        _broadcast_row_limit,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    for raw, want in (("10485760b", 10485760 // 64),
                      ("10MB", 10 * 1024 * 1024 // 64),
                      ("1g", 1024**3 // 64),
                      ("-1", 0)):
        with conf_scope(spark, {key: raw}):
            assert _broadcast_row_limit(spark) == want, raw
