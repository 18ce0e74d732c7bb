from __future__ import annotations

import numpy as np
import pytest

from distributed_pagerank_spark.plans.hits import hits
from tests.conftest import CHAIN5, STAR_IN, STAR_OUT, edges_df


def hits_numpy(pairs, k):
    """Ground-truth HITS with per-step L1 normalization (plans/hits.py)."""
    verts = sorted({x for e in pairs for x in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for s, d in set(pairs):
        A[idx[s], idx[d]] = 1.0
    hub = np.full(n, 1.0 / n)
    auth = np.full(n, 1.0 / n)
    for _ in range(k):
        auth = A.T @ hub
        auth = auth / auth.sum()
        hub = A @ auth
        hub = hub / hub.sum()
    return {v: (hub[idx[v]], auth[idx[v]]) for v in verts}


@pytest.mark.parametrize("pairs", [CHAIN5, STAR_IN, STAR_OUT,
                                   [(0, 1), (0, 2), (1, 2), (3, 1), (3, 2)]])
def test_hits_matches_numpy(spark, pairs):
    k = 6
    res = hits(spark, edges_df(spark, pairs), max_iter=k)
    got = {r["id"]: (r["hub"], r["auth"]) for r in res.scores.collect()}
    want = hits_numpy(pairs, k)
    assert set(got) == set(want)
    for v in want:
        assert got[v][0] == pytest.approx(want[v][0], abs=1e-9)
        assert got[v][1] == pytest.approx(want[v][1], abs=1e-9)


def test_hits_star_semantics(spark):
    # in-star: center is the sole authority, leaves the sole hubs
    res = hits(spark, edges_df(spark, STAR_IN), max_iter=5)
    rows = {r["id"]: r for r in res.scores.collect()}
    assert rows[0]["auth"] == pytest.approx(1.0)
    assert rows[0]["hub"] == pytest.approx(0.0)
    for leaf in (1, 2, 3, 4):
        assert rows[leaf]["hub"] == pytest.approx(0.25)
        assert rows[leaf]["auth"] == pytest.approx(0.0)


def test_hits_eps_convergence_and_truncation(spark):
    # a bipartite-ish graph converges; run far past truncate_interval so
    # the lineage-truncation path is exercised, and eps stops the loop
    pairs = [(0, 10), (1, 10), (1, 11), (2, 11), (3, 10), (3, 11)]
    res = hits(spark, edges_df(spark, pairs), max_iter=50, eps=1e-12)
    assert res.converged
    assert res.iterations < 50
    want = hits_numpy(pairs, res.iterations)
    got = {r["id"]: (r["hub"], r["auth"]) for r in res.scores.collect()}
    for v in want:
        assert got[v][0] == pytest.approx(want[v][0], abs=1e-9)
        assert got[v][1] == pytest.approx(want[v][1], abs=1e-9)


def test_hits_dup_edges_collapse(spark):
    # duplicate input rows must not double-count contributions
    once = hits(spark, edges_df(spark, [(0, 1), (1, 2)]), max_iter=4)
    dup = hits(spark, edges_df(spark, [(0, 1), (0, 1), (1, 2)]), max_iter=4)
    a = sorted(once.scores.collect(), key=lambda r: r["id"])
    b = sorted(dup.scores.collect(), key=lambda r: r["id"])
    for x, y in zip(a, b):
        assert x["hub"] == pytest.approx(y["hub"])
        assert x["auth"] == pytest.approx(y["auth"])
