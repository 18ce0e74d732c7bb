"""Multi-seed personalized PageRank (plans/ppr.py) vs a dense oracle."""

from __future__ import annotations

from collections import defaultdict

import pytest

from distributed_pagerank_spark.plans.ppr import personalized_pagerank_multi

from tests.conftest import cache_base, cached_rdds

EDGES = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4),
    (6, 7), (7, 6),                      # separate 2-cycle island
    (8, 1),                              # feeder into the triangle
]
SEEDS = [
    (0, 1, 1.0),                         # set 0: single seed in triangle
    (1, 6, 2.0), (1, 7, 2.0),            # set 1: the island, equal weights
    (2, 8, 1.0), (2, 4, 3.0),            # set 2: skewed two-seed
]


def ppr_oracle(edges, seeds, c, k):
    outdeg = defaultdict(int)
    for u, _ in edges:
        outdeg[u] += 1
    by_set = defaultdict(dict)
    for set_id, v, w in seeds:
        by_set[set_id][v] = by_set[set_id].get(v, 0.0) + w
    out = {}
    for set_id, ws in by_set.items():
        tot = sum(ws.values())
        e = {v: w / tot for v, w in ws.items()}
        r = dict(e)
        for _ in range(k):
            contrib = defaultdict(float)
            for u, v in edges:
                if u in r:
                    contrib[v] += r[u] / outdeg[u]
            support = set(contrib) | set(e)
            r = {
                v: c * contrib.get(v, 0.0) + (1 - c) * e.get(v, 0.0)
                for v in support
            }
        z = sum(r.values())
        for v, rv in r.items():
            out[(set_id, v)] = rv / z
    return out


@pytest.mark.parametrize("k", [1, 5])
def test_ppr_multi_matches_dense_oracle(spark, k):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    seeds = spark.createDataFrame(SEEDS, "set_id int, id long, weight double")
    got = {
        (r.set_id, r.id): r.rank
        for r in personalized_pagerank_multi(spark, edges, seeds, k=k).collect()
    }
    want = ppr_oracle(EDGES, SEEDS, 0.85, k)
    assert set(got) == set(want)
    for key in want:
        assert got[key] == pytest.approx(want[key], abs=1e-9), key


def test_ppr_state_stays_sparse(spark):
    # a long chain: a seed at one end reaches only k+1 vertices in k iters
    n, k = 200, 7
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0, 0, 1.0)], "set_id int, id long, weight double")
    metrics: list[dict] = []
    out = personalized_pagerank_multi(
        spark, edges, seeds, k=k, metrics_out=metrics
    )
    assert out.count() == k + 1              # support = seed + k hops, not n
    # the chained steps are cut, and their state counted, at 5 and at k
    assert [m["state_rows"] for m in metrics] == [
        None, None, None, None, 6, None, k + 1]


def test_ppr_per_set_normalization_and_dangling(spark):
    # seed mass parked on a dangling vertex leaks each iteration but the
    # final per-set normalization restores sum 1 over the support
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame(
        [(0, 2, 5.0)], "set_id int, id long, weight double"
    )
    rows = personalized_pagerank_multi(spark, edges, seeds, k=4).collect()
    assert len(rows) == 1 and rows[0].id == 2
    assert rows[0].rank == pytest.approx(1.0)


def test_ppr_empty_seeds_raises(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([], "set_id int, id long, weight double")
    with pytest.raises(ValueError):
        personalized_pagerank_multi(spark, edges, seeds, k=2)


@pytest.mark.parametrize("k", [0, 2])
def test_ppr_empty_seeds_releases_caches(spark, k):
    """The empty-seeds error leaves no cached RDD behind, after a run of
    k=2 iterations and on the zero-iteration path (k=0)."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([], "set_id int, id long, weight double")
    before = cache_base(spark)
    with pytest.raises(ValueError):
        personalized_pagerank_multi(spark, edges, seeds, k=k)
    assert not cached_rdds(spark) - before
