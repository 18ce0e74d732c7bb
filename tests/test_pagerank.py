from __future__ import annotations

import math

import pytest

from distributed_pagerank_spark.oracle import numpy_pagerank
from distributed_pagerank_spark.plans.pagerank import pagerank
from distributed_pagerank_spark.sources.generator import generate_graph

from tests.conftest import ALL_FIXTURES, edges_df, partitions

C, EPS = 0.85, 1e-6
# Fixture battery uses fixed-iteration parity (eps=0, 10 rounds): identical
# update math as the convergent runs, bounded wall-clock. Full 1e-6
# convergence (incl. iteration-count parity) is covered by the two
# *_to_convergence tests below.
FIXED_ITERS = 10


def spark_ranks(spark, pairs, **kw):
    res = pagerank(spark, edges_df(spark, pairs), c=C, **kw)
    return {r["id"]: r["rank"] for r in res.ranks.collect()}, res


def assert_close(got, want, tol=1e-6):
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=tol), (v, got[v], want[v])


@pytest.mark.parametrize("name", sorted(ALL_FIXTURES))
def test_fixture_matches_oracle_fixed_iters(spark, name):
    pairs = ALL_FIXTURES[name]
    got, res = spark_ranks(spark, pairs, eps=0.0, max_iter=FIXED_ITERS)
    want, want_iters, _ = numpy_pagerank(pairs, c=C, eps=0.0, max_iter=FIXED_ITERS)
    # DAG-ish fixtures become exactly stationary early (delta hits 0.0);
    # Spark and the oracle must agree on when.
    assert res.iterations == want_iters
    assert_close(got, want)


def test_chain5_to_convergence(spark):
    pairs = ALL_FIXTURES["chain5"]
    got, res = spark_ranks(spark, pairs, eps=EPS)
    want, want_iters, _ = numpy_pagerank(pairs, c=C, eps=EPS)
    assert res.converged and res.iterations == want_iters
    assert_close(got, want)
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_generated_graph_to_convergence(spark):
    # reference web-UI demo scale: n=30, max_edges=5 (cmd/client/main.go:169-199)
    edges = generate_graph(spark, 30, max_edges=5, seed=42)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    res = pagerank(spark, edges, c=C, eps=EPS)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    want, want_iters, _ = numpy_pagerank(pairs, c=C, eps=EPS)
    assert res.converged and res.iterations == want_iters
    assert_close(got, want)


def test_cycle_uniform(spark):
    got, _ = spark_ranks(spark, ALL_FIXTURES["cycle4"], eps=EPS, max_iter=20)
    for v, r in got.items():
        assert math.isclose(r, 0.25, abs_tol=1e-6)


def test_dup_policy_reference_quirk(spark):
    pairs = ALL_FIXTURES["dup_edges"]
    got, _ = spark_ranks(
        spark, pairs, eps=0.0, max_iter=FIXED_ITERS, dup_policy="reference"
    )
    want, _, _ = numpy_pagerank(
        pairs, c=C, eps=0.0, max_iter=FIXED_ITERS, dup_policy="reference"
    )
    assert_close(got, want)
    got_d, _ = spark_ranks(spark, pairs, eps=0.0, max_iter=FIXED_ITERS)
    assert not math.isclose(got_d[1], got[1], abs_tol=1e-9)


def test_dangling_redistribute_conserves_mass(spark):
    pairs = ALL_FIXTURES["chain5"]
    got, _ = spark_ranks(
        spark, pairs, eps=0.0, max_iter=FIXED_ITERS, dangling="redistribute"
    )
    want, _, _ = numpy_pagerank(
        pairs, c=C, eps=0.0, max_iter=FIXED_ITERS, dangling="redistribute"
    )
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6)
    assert_close(got, want)


def test_custom_e_vector(spark):
    pairs = ALL_FIXTURES["cycle4"]
    e = {0: 0.7, 1: 0.1, 2: 0.1, 3: 0.1}
    e_df = spark.createDataFrame(list(e.items()), "id long, e double")
    got, _ = spark_ranks(spark, pairs, eps=0.0, max_iter=FIXED_ITERS, e=e_df)
    want, _, _ = numpy_pagerank(pairs, c=C, eps=0.0, max_iter=FIXED_ITERS, e=e)
    assert_close(got, want)
    assert got[0] > got[1]  # personalization pulls rank toward 0


def test_salted_aggregation_identical(spark):
    edges = generate_graph(spark, 50, max_edges=8, seed=7)
    base = pagerank(spark, edges, c=C, eps=0.0, max_iter=FIXED_ITERS)
    salted = pagerank(
        spark, edges, c=C, eps=0.0, max_iter=FIXED_ITERS, skew_salt=8,
        hub_threshold=2,
    )
    b = {r["id"]: r["rank"] for r in base.ranks.collect()}
    s = {r["id"]: r["rank"] for r in salted.ranks.collect()}
    for v in b:
        assert math.isclose(b[v], s[v], abs_tol=1e-9)


def test_partition_count_invariance(spark):
    edges = generate_graph(spark, 40, max_edges=4, seed=11)
    with partitions(spark, 2):
        a = pagerank(spark, edges, c=C, eps=0.0, max_iter=FIXED_ITERS)
    with partitions(spark, 8):
        b = pagerank(spark, edges, c=C, eps=0.0, max_iter=FIXED_ITERS)
    ra = {r["id"]: r["rank"] for r in a.ranks.collect()}
    rb = {r["id"]: r["rank"] for r in b.ranks.collect()}
    for v in ra:
        assert math.isclose(ra[v], rb[v], abs_tol=1e-12)


def test_max_iter_cap(spark):
    res = pagerank(
        spark, edges_df(spark, ALL_FIXTURES["chain5"]), c=C, eps=0.0, max_iter=5
    )
    assert res.iterations == 5 and not res.converged


def test_redistribute_no_extra_jobs_per_iteration(spark):
    """dangling='redistribute' folds the dangling-mass sum into the
    iteration's materializing job (Observation): an extra iteration costs
    exactly as many Spark jobs as in 'reference' mode — the old
    driver-side agg().first() per iteration is gone."""
    sc = spark.sparkContext
    pairs = ALL_FIXTURES["chain5"]

    def jobs_for(group, max_iter, dangling):
        sc.setJobGroup(group, group)
        try:
            pagerank(
                spark, edges_df(spark, pairs), c=C, eps=0.0,
                max_iter=max_iter, dangling=dangling,
            )
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    ref = jobs_for("ref-4", 4, "reference") - jobs_for("ref-2", 2, "reference")
    red = jobs_for("red-4", 4, "redistribute") - jobs_for("red-2", 2, "redistribute")
    assert red == ref  # zero extra jobs per iteration from redistribution


def test_redistribute_resume_preserves_dang_mass(spark, tmp_path):
    """Resume in redistribute mode must re-seed the dangling mass from the
    checkpointed state, not restart it at 0."""
    pairs = ALL_FIXTURES["chain5"]
    d = str(tmp_path / "ck")
    pagerank(spark, edges_df(spark, pairs), c=C, eps=0.0, max_iter=3,
             dangling="redistribute", checkpoint_dir=d)
    r = pagerank(spark, edges_df(spark, pairs), c=C, eps=0.0, max_iter=FIXED_ITERS,
                 dangling="redistribute", checkpoint_dir=d)
    full, _, _ = numpy_pagerank(
        pairs, c=C, eps=0.0, max_iter=FIXED_ITERS, dangling="redistribute"
    )
    got = {x["id"]: x["rank"] for x in r.ranks.collect()}
    assert_close(got, full)


def test_resume_different_e_restarts(spark, tmp_path):
    """The personalization vector is part of the resume fingerprint: a
    checkpoint written with one e must not seed a run with another."""
    pairs = ALL_FIXTURES["cycle4"]
    d = str(tmp_path / "ck")
    e1 = spark.createDataFrame([(0, 1.0), (1, 0.0), (2, 0.0), (3, 0.0)], "id long, e double")
    e2 = spark.createDataFrame([(0, 0.0), (1, 1.0), (2, 0.0), (3, 0.0)], "id long, e double")
    pagerank(spark, edges_df(spark, pairs), c=C, eps=0.0, max_iter=3,
             e=e1, checkpoint_dir=d)
    r2 = pagerank(spark, edges_df(spark, pairs), c=C, eps=0.0, max_iter=5,
                  e=e2, checkpoint_dir=d)
    fresh = pagerank(spark, edges_df(spark, pairs), c=C, eps=0.0, max_iter=5, e=e2)
    got = {x["id"]: x["rank"] for x in r2.ranks.collect()}
    want = {x["id"]: x["rank"] for x in fresh.ranks.collect()}
    assert_close(got, want, tol=1e-12)


def test_single_scan_of_raw_edge_input(spark):
    """The raw edge input is evaluated EXACTLY ONCE per pagerank run: one
    groupBy(src, dst) derives the distinct edges, out-degrees, and vertex
    set from a shared cache. At 100 TB the input scan is the dominant
    startup cost — the round-2 shape read it 4×. Counted via a per-
    partition accumulator on a 1-partition RDD-backed input."""
    acc = spark.sparkContext.accumulator(0)

    def counting(it):
        acc.add(1)
        return it

    pairs = ALL_FIXTURES["triangle_plus"] + [(0, 1), (0, 1)]  # with dups
    rdd = spark.sparkContext.parallelize(
        [(int(s), int(d)) for s, d in pairs], 1
    ).mapPartitions(counting)
    edges = spark.createDataFrame(rdd, "src long, dst long")
    res = pagerank(spark, edges, c=C, eps=0.0, max_iter=3)
    res.ranks.collect()
    assert acc.value == 1, f"raw edge input scanned {acc.value}× (want 1)"


def test_pagerank_weighted_matches_numpy(spark):
    """weight_col: transition = w/strength instead of 1/out_degree."""
    import numpy as np

    wedges = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 3.0)]
    df = spark.createDataFrame(wedges, "src long, dst long, w double")
    k, c = 7, 0.85
    res = pagerank(spark, df, c=c, eps=0.0, max_iter=k, weight_col="w")
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}

    n = 4
    P = np.zeros((n, n))
    strength = {}
    for s, d, w in wedges:
        strength[s] = strength.get(s, 0.0) + w
    for s, d, w in wedges:
        P[s, d] = w / strength[s]
    rank = np.full(n, 1.0 / n)
    e = np.full(n, 1.0 / n)
    for _ in range(k):
        rank = c * (rank @ P) + (1 - c) * e  # vertex 3 dangling: mass drops
    rank = rank / rank.sum()
    for v in range(n):
        assert got[v] == pytest.approx(rank[v], abs=1e-9), v


def test_pagerank_weighted_merges_duplicate_edges(spark):
    dup = spark.createDataFrame(
        [(0, 1, 1.0), (0, 1, 1.0), (0, 2, 2.0), (1, 0, 1.0)],
        "src long, dst long, w double",
    )
    merged = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, 2.0), (1, 0, 1.0)],
        "src long, dst long, w double",
    )
    a = pagerank(spark, dup, c=0.85, eps=0.0, max_iter=5, weight_col="w")
    b = pagerank(spark, merged, c=0.85, eps=0.0, max_iter=5, weight_col="w")
    ra = {r["id"]: r["rank"] for r in a.ranks.collect()}
    rb = {r["id"]: r["rank"] for r in b.ranks.collect()}
    assert ra.keys() == rb.keys()
    for v in ra:
        assert ra[v] == pytest.approx(rb[v], abs=1e-12)
