"""Multi-source BFS (plans/bfs.py) vs a Python BFS oracle."""

from __future__ import annotations

from collections import deque

import pytest

from distributed_pagerank_spark.plans.bfs import multi_source_bfs

from tests.conftest import cached_rdds

EDGES = [
    (1, 2), (2, 3), (3, 4), (4, 5),      # path
    (2, 6), (6, 7),                      # branch
    (8, 9),                              # island
]


def bfs_oracle(edges, origins, directed, max_depth):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        if not directed:
            adj.setdefault(v, set()).add(u)
    dist = {v: 0 for v in origins}
    q = deque(origins)
    while q:
        u = q.popleft()
        if dist[u] >= max_depth:
            continue
        for w in adj.get(u, ()):
            if w not in dist:
                dist[w] = dist[u] + 1
                q.append(w)
    return dist


@pytest.mark.parametrize("directed", [False, True])
def test_bfs_matches_oracle_per_root(spark, directed):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    sources = spark.createDataFrame(
        [(1, 1), (5, 5)], "root long, id long"
    )
    got = {
        (r.root, r.id): r.dist
        for r in multi_source_bfs(
            spark, edges, sources, max_depth=10, directed=directed
        ).collect()
    }
    want = {}
    for root in (1, 5):
        for v, d in bfs_oracle(EDGES, [root], directed, 10).items():
            want[(root, v)] = d
    assert got == want
    assert (1, 8) not in got                 # island unreachable


def test_bfs_multi_origin_root_takes_nearest(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    sources = spark.createDataFrame(
        [(0, 1), (0, 5)], "root long, id long"   # one root, two origins
    )
    got = {
        r.id: r.dist
        for r in multi_source_bfs(spark, edges, sources, max_depth=10).collect()
    }
    want = bfs_oracle(EDGES, [1, 5], False, 10)
    assert got == want
    assert got[3] == 2                       # min(dist from 1 = 2, from 5 = 2)
    assert got[4] == 1                       # nearest origin is 5


def test_bfs_max_depth_truncates(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    sources = spark.createDataFrame([(1, 1)], "root long, id long")
    metrics: list[dict] = []
    got = multi_source_bfs(
        spark, edges, sources, max_depth=2, metrics_out=metrics
    )
    assert got.agg({"dist": "max"}).first()[0] == 2
    assert len(metrics) == 2


def test_bfs_empty_sources_raises(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    sources = spark.createDataFrame([], "root long, id long")
    with pytest.raises(ValueError):
        multi_source_bfs(spark, edges, sources)


def test_bfs_empty_sources_releases_caches(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    sources = spark.createDataFrame([], "root long, id long")
    base = cached_rdds(spark)
    with pytest.raises(ValueError):
        multi_source_bfs(spark, edges, sources)
    assert not cached_rdds(spark) - base
