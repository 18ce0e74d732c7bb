from __future__ import annotations

import pytest

from distributed_pagerank_spark.oracle import (
    brute_components,
    brute_label_propagation,
    brute_triangles,
)
from distributed_pagerank_spark.plans import components
from distributed_pagerank_spark.plans.components import connected_components
from distributed_pagerank_spark.plans.labelprop import label_propagation
from distributed_pagerank_spark.plans.triangles import (
    local_clustering_coefficient,
    triangle_count,
    triangle_rows,
)
from distributed_pagerank_spark.plans.truss import k_truss
from distributed_pagerank_spark.sources.generator import generate_graph

from tests.conftest import ALL_FIXTURES, edges_df


@pytest.mark.parametrize("name", sorted(ALL_FIXTURES))
def test_components_exact(spark, name):
    pairs = ALL_FIXTURES[name]
    got = {
        r["id"]: r["component"]
        for r in connected_components(spark, edges_df(spark, pairs)).collect()
    }
    assert got == brute_components(pairs)


def test_components_generated(spark):
    edges = generate_graph(spark, 60, max_edges=3, seed=5)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    got = {r["id"]: r["component"] for r in connected_components(spark, edges).collect()}
    assert got == brute_components(pairs)
    # generator chains i-1 -> i, so the graph is connected: 1 component
    assert set(got.values()) == {0}


@pytest.mark.parametrize(
    "name,expected",
    [("triangle_plus", 1), ("chain5", 0), ("cycle4", 0), ("star_in", 0)],
)
def test_triangles_fixtures(spark, name, expected):
    pairs = ALL_FIXTURES[name]
    assert brute_triangles(pairs) == expected  # sanity: oracle agrees
    got = triangle_count(spark, edges_df(spark, pairs)).first()["triangles"]
    assert got == expected


def test_triangles_generated(spark):
    edges = generate_graph(spark, 40, max_edges=6, seed=3)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    got = triangle_count(spark, edges).first()["triangles"]
    assert got == brute_triangles(pairs)
    assert got > 0


@pytest.mark.parametrize("name", ["triangle_plus", "two_components", "chain5"])
def test_label_propagation_matches_oracle(spark, name):
    pairs = ALL_FIXTURES[name]
    rounds = 4
    got = {
        r["id"]: r["label"]
        for r in label_propagation(spark, edges_df(spark, pairs), rounds=rounds).collect()
    }
    assert got == brute_label_propagation(pairs, rounds)


def test_label_propagation_generated(spark):
    edges = generate_graph(spark, 30, max_edges=4, seed=9)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    rounds = 3
    got = {
        r["id"]: r["label"]
        for r in label_propagation(spark, edges, rounds=rounds).collect()
    }
    assert got == brute_label_propagation(pairs, rounds)


def chain_edges(n):
    return [(i, i + 1) for i in range(n - 1)]


# (STALL_DECAY, JUMP_BACKSTOP_ROUND) per jump mode. A decay above 1 can
# never see a stall, so with an unreachable backstop the run is plain
# hash-min; a backstop of 0 arms the jumps from round 2, and a round-1
# jump is a no-op anyway (every label is still its own id).
JUMP_MODES = {
    "hashmin": (2.0, 10**9),
    "pointer": (components.STALL_DECAY, 0),
    "hybrid": (components.STALL_DECAY, components.JUMP_BACKSTOP_ROUND),
}


def _components_in_mode(spark, edges, mode, monkeypatch):
    decay, backstop = JUMP_MODES[mode]
    monkeypatch.setattr(components, "STALL_DECAY", decay)
    monkeypatch.setattr(components, "JUMP_BACKSTOP_ROUND", backstop)
    metrics = []
    got = {r["id"]: r["component"] for r in connected_components(
        spark, edges, metrics_out=metrics).collect()}
    return got, any(m_["jumping"] for m_ in metrics)


@pytest.mark.parametrize("algorithm", ["pointer", "hybrid"])
def test_components_algorithms_match_hashmin(spark, algorithm, monkeypatch):
    """Pointer jumping changes the round count, never the fixpoint: a run
    that jumps from the start and the default stall-armed run both land on
    plain hash-min's labels."""
    edges = generate_graph(spark, 300, max_edges=4, seed=11)
    a, a_jumped = _components_in_mode(spark, edges, "hashmin", monkeypatch)
    b, b_jumped = _components_in_mode(spark, edges, algorithm, monkeypatch)
    assert not a_jumped
    if algorithm == "pointer":
        assert b_jumped
    assert a == b


def test_components_match_brute_on_generated_graph(spark):
    edges = generate_graph(spark, 300, max_edges=4, seed=11)
    got = {r["id"]: r["component"] for r in
           connected_components(spark, edges).collect()}
    assert got == brute_components(
        [(r["src"], r["dst"]) for r in edges.collect()])


def test_components_default_is_logarithmic_on_chain(spark):
    """A length-n chain needs ~n hash-min rounds but O(log n) once pointer
    jumping kicks in — the stall detector must see the linear decay within
    a couple of rounds and still meet the logarithmic bound."""
    import math as m
    n = 1024
    metrics = []
    out = connected_components(
        spark, edges_df(spark, chain_edges(n)), metrics_out=metrics,
    )
    assert out.where("component != 0").count() == 0  # one component, min id 0
    iters = len(metrics)
    assert iters <= m.ceil(m.log2(n)) + 4, iters  # 10 + slack, vs 1023 hash-min
    assert any(m_["jumping"] for m_ in metrics)  # the stall detector fired


def test_components_hybrid_never_jumps_on_shallow_graph(spark):
    """On a shallow graph (diameter ~2) CC must stay plain hash-min: the
    |V|-sized jump self-join is a per-round tax that buys no round
    reduction there (the round-3 bench regression)."""
    star = [(i, 0) for i in range(1, 20)]
    metrics = []
    got = {r["id"]: r["component"] for r in connected_components(
        spark, edges_df(spark, star), metrics_out=metrics).collect()}
    assert got == {i: 0 for i in range(20)}
    assert metrics and all(not m_["jumping"] for m_ in metrics), metrics


def _counting_edges(spark, pairs):
    """1-partition RDD-backed edge DF whose accumulator counts evaluations
    of the raw input — the scan-count probe (see test_pagerank.py)."""
    acc = spark.sparkContext.accumulator(0)

    def counting(it):
        acc.add(1)
        return it

    rdd = spark.sparkContext.parallelize(
        [(int(s), int(d)) for s, d in pairs], 1
    ).mapPartitions(counting)
    return spark.createDataFrame(rdd, "src long, dst long"), acc


@pytest.mark.parametrize(
    "algo", ["cc", "lpa", "triangles", "clustering", "k_truss"]
)
def test_single_scan_of_raw_edge_input(spark, algo):
    """CC / LPA / triangle count / clustering / k-truss each evaluate the
    raw edge input exactly once: the symmetrized table, vertex set, degree
    agg and orientation all derive from one scan (the round-2 shapes
    re-scanned the input 2-4× via union-based symmetrize / vertices, and
    k-truss's own orientation read it 3×)."""
    pairs = ALL_FIXTURES["triangle_plus"] + [(9, 9)]  # incl. a self-loop
    edges, acc = _counting_edges(spark, pairs)
    if algo == "cc":
        out = connected_components(spark, edges)
    elif algo == "lpa":
        out = label_propagation(spark, edges, rounds=3)
    elif algo == "triangles":
        out = triangle_count(spark, edges)
    elif algo == "clustering":
        out = local_clustering_coefficient(spark, edges)
    else:
        out = k_truss(spark, edges, k=3)
    out.collect()
    assert acc.value == 1, f"raw edge input scanned {acc.value}x (want 1)"


def test_components_keeps_self_loop_only_vertices(spark):
    """A vertex whose only edge is a self-loop must still appear in the CC
    output (symmetrize drops self-loops; the vertex set must not)."""
    pairs = [(0, 1), (7, 7)]
    got = {r["id"]: r["component"] for r in
           connected_components(spark, edges_df(spark, pairs)).collect()}
    assert got == {0: 0, 1: 0, 7: 7}


def brute_clustering(pairs):
    """NumPy-free ground truth for the local clustering coefficient."""
    und = set()
    for s, d in pairs:
        if s != d:
            und.add((min(s, d), max(s, d)))
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    out = {}
    for v, ns in nbrs.items():
        d = len(ns)
        t = sum(
            1 for a in ns for b in ns if a < b and (min(a, b), max(a, b)) in und
        ) // 1
        out[v] = (d, t, 0.0 if d < 2 else 2.0 * t / (d * (d - 1)))
    return out


def test_clustering_coefficient_fixture(spark):
    pairs = ALL_FIXTURES["triangle_plus"]
    rows = local_clustering_coefficient(spark, edges_df(spark, pairs)).collect()
    got = {r["id"]: (r["degree"], r["triangles"], r["clustering"]) for r in rows}
    # triangle (0,1,2) plus pendant edge 2-3
    assert got[0] == (2, 1, 1.0)
    assert got[1] == (2, 1, 1.0)
    assert got[2][0] == 3 and got[2][1] == 1
    assert got[2][2] == pytest.approx(1.0 / 3.0)
    assert got[3] == (1, 0, 0.0)


def test_clustering_coefficient_generated(spark):
    edges = generate_graph(spark, 40, max_edges=6, seed=3)
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    want = brute_clustering(pairs)
    rows = local_clustering_coefficient(spark, edges).collect()
    got = {r["id"]: (r["degree"], r["triangles"], r["clustering"]) for r in rows}
    assert set(got) == set(want)
    for v in want:
        assert got[v][0] == want[v][0], v
        assert got[v][1] == want[v][1], v
        assert got[v][2] == pytest.approx(want[v][2]), v
    # corner-sum invariant: Σ per-vertex triangles == 3 × triangle count
    n_tri = triangle_rows(spark, edges).count()
    assert sum(t for _, t, _ in got.values()) == 3 * n_tri
    assert n_tri == brute_triangles(pairs)
