"""The peels, the frontier loops, connected and strongly connected
components, PageRank and the triangle kernel's users against networkx,
label propagation against a pure-Python oracle, and HITS against a dense
numpy oracle, on small generated graphs with self-loops, duplicate
edges, negative ids and ids above 2^31. Every call must also leave
exactly its result's leaves cached. The loops run on 3 partitions
(``conftest.partitions``), so their shuffles run too (sized from bytes,
these graphs get one partition)."""

from __future__ import annotations

from collections import Counter

import networkx as nx
import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from distributed_pagerank_spark.plans.betweenness import betweenness
from distributed_pagerank_spark.plans.bfs import multi_source_bfs
from distributed_pagerank_spark.plans.components import connected_components
from distributed_pagerank_spark.plans.hits import hits
from distributed_pagerank_spark.plans.kcore import coreness, k_core
from distributed_pagerank_spark.plans.labelprop import label_propagation
from distributed_pagerank_spark.plans.pagerank import pagerank
from distributed_pagerank_spark.plans.scc import strongly_connected_components
from distributed_pagerank_spark.plans.triangles import (
    local_clustering_coefficient,
    triangle_count,
    triangle_rows,
)
from distributed_pagerank_spark.plans.truss import k_truss

from tests.conftest import collect_owned, edges_df, partitions
from tests.test_hits import hits_numpy

IDS = [-(2**40), -1, 0, 1, 2**31 - 1, 2**31, 2**62]

# duplicates and self-loops stay in the list: the engine must drop them
graphs = st.lists(
    st.tuples(st.sampled_from(IDS), st.sampled_from(IDS)),
    min_size=3, max_size=20,
)
# each Spark example costs seconds: two generated graphs (the first is
# all self-loops) plus RICH
few = settings(max_examples=2, derandomize=True, deadline=None)

# a K4 on extreme ids, a pendant path with a duplicate, a self-loop on a
# path vertex and a vertex with only a self-loop
K4 = [-(2**40), -1, 2**31, 2**62]
RICH = [(a, b) for i, a in enumerate(K4) for b in K4[i + 1:]] + [
    (2**62, 0), (0, 1), (1, 0), (0, 0), (2**31 - 1, 2**31 - 1)]


def nx_graph(pairs):
    """Undirected simple graph of ``pairs``: self-loops dropped, their
    vertices kept."""
    g = nx.Graph()
    g.add_nodes_from(v for e in pairs for v in e)
    g.add_edges_from((s, d) for s, d in pairs if s != d)
    return g


def nx_digraph(pairs):
    """Directed simple graph of ``pairs``, self-loops kept."""
    g = nx.DiGraph()
    g.add_edges_from(pairs)
    return g


def min_labels(components):
    """Each vertex → the smallest id of its component."""
    return {v: min(c) for c in components for v in c}


@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_connected_components_match_networkx(spark, pairs):
    with partitions(spark, 3):
        rows = collect_owned(spark, lambda: connected_components(
            spark, edges_df(spark, pairs)))
    assert {r["id"]: r["component"] for r in rows} == \
        min_labels(nx.connected_components(nx_graph(pairs)))


@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_scc_matches_networkx(spark, pairs):
    with partitions(spark, 3):
        rows = collect_owned(spark, lambda: strongly_connected_components(
            spark, edges_df(spark, pairs)))
    assert {r["id"]: r["component"] for r in rows} == \
        min_labels(nx.strongly_connected_components(nx_digraph(pairs)))


def lpa_oracle(pairs, rounds):
    """Synchronous label propagation: every vertex takes its neighbours'
    most frequent label, ties to the smallest; no neighbour, no change."""
    g = nx_graph(pairs)
    labels = {v: v for v in g}
    for _ in range(rounds):
        counts = {v: Counter(labels[u] for u in g[v]) for v in g}
        nxt = {v: min(c, key=lambda x: (-c[x], x)) if c else labels[v]
               for v, c in counts.items()}
        if nxt == labels:
            break
        labels = nxt
    return labels


@few
@given(pairs=graphs, rounds=st.integers(1, 4))
@example(pairs=RICH, rounds=3)
def test_label_propagation_matches_oracle(spark, pairs, rounds):
    with partitions(spark, 3):
        rows = collect_owned(spark, lambda: label_propagation(
            spark, edges_df(spark, pairs), rounds=rounds))
    assert {r["id"]: r["label"] for r in rows} == lpa_oracle(pairs, rounds)


@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_pagerank_matches_networkx(spark, pairs):
    """Up to eight power iterations from the uniform vector on networkx's
    Google matrix (fewer when an iteration leaves the ranks unchanged):
    dangling mass redistributed uniformly, a self-loop an out-link on
    both sides."""
    res = None

    def call():
        nonlocal res
        res = pagerank(spark, edges_df(spark, pairs), eps=0.0, max_iter=8,
                       dangling="redistribute")
        return res.ranks

    with partitions(spark, 3):
        rows = collect_owned(spark, call)
    g = nx_digraph(pairs)
    google = nx.google_matrix(g, alpha=0.85, nodelist=list(g))
    x = np.full(len(g), 1.0 / len(g))
    for _ in range(res.iterations):
        x = x @ google
    want = dict(zip(g, x))
    assert {r["id"] for r in rows} == set(want)
    for r in rows:
        assert abs(r["rank"] - want[r["id"]]) < 1e-12, r["id"]


@few
@given(pairs=graphs, k=st.integers(1, 3))
@example(pairs=RICH, k=3)
def test_k_core_matches_networkx(spark, pairs, k):
    with partitions(spark, 3):
        rows = collect_owned(spark, lambda: k_core(
            spark, edges_df(spark, pairs), k))
    core = nx.k_core(nx_graph(pairs), k)
    want = {v: d for v, d in core.degree() if d}  # isolated: no edge row
    assert {r["id"]: r["degree"] for r in rows} == want


@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_coreness_matches_networkx(spark, pairs):
    with partitions(spark, 3):
        rows = collect_owned(spark, lambda: coreness(
            spark, edges_df(spark, pairs)))
    assert {r["id"]: r["core"] for r in rows} == \
        nx.core_number(nx_graph(pairs))


@few
@given(pairs=graphs, k=st.integers(3, 4))
@example(pairs=RICH, k=4)
def test_k_truss_matches_networkx(spark, pairs, k):
    rows = collect_owned(spark, lambda: k_truss(
        spark, edges_df(spark, pairs), k))
    truss = nx.k_truss(nx_graph(pairs), k)
    want = {
        (min(a, b), max(a, b)): len(set(truss[a]) & set(truss[b]))
        for a, b in truss.edges()
    }
    assert {(r["src"], r["dst"]): r["support"] for r in rows} == want


@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_triangle_count_matches_networkx(spark, pairs):
    rows = collect_owned(spark, lambda: triangle_count(
        spark, edges_df(spark, pairs)))
    assert rows[0]["triangles"] == \
        sum(nx.triangles(nx_graph(pairs)).values()) // 3


@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_triangle_rows_match_networkx(spark, pairs):
    """One row per triangle: as many rows as networkx counts, no triangle
    twice, and each row's three corners pairwise adjacent."""
    g = nx_graph(pairs)
    rows = collect_owned(spark, lambda: triangle_rows(
        spark, edges_df(spark, pairs)))
    assert len(rows) == sum(nx.triangles(g).values()) // 3
    assert len({frozenset(r) for r in rows}) == len(rows)
    for a, b, c in rows:
        assert g.has_edge(a, b) and g.has_edge(a, c) and g.has_edge(b, c)


@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_clustering_matches_networkx(spark, pairs):
    """Every vertex with an edge has a row; a vertex with only a
    self-loop has none."""
    g = nx_graph(pairs)
    rows = collect_owned(spark, lambda: local_clustering_coefficient(
        spark, edges_df(spark, pairs)))
    tri, cl = nx.triangles(g), nx.clustering(g)
    assert {r["id"] for r in rows} == {v for v in g if g.degree(v)}
    for r in rows:
        v = r["id"]
        assert (r["degree"], r["triangles"]) == (g.degree(v), tri[v]), v
        assert abs(r["clustering"] - cl[v]) < 1e-12, v


@few
@given(pairs=graphs, n_roots=st.integers(1, 3), max_depth=st.integers(1, 3))
@example(pairs=RICH, n_roots=3, max_depth=2)
def test_bfs_matches_networkx(spark, pairs, n_roots, max_depth):
    g = nx_graph(pairs)
    roots = sorted(g)[:n_roots]
    sources = spark.createDataFrame([(r, r) for r in roots],
                                    "root long, id long")
    with partitions(spark, 3):
        rows = collect_owned(spark, lambda: multi_source_bfs(
            spark, edges_df(spark, pairs), sources, max_depth=max_depth))
    want = {
        (r, v): d
        for r in roots
        for v, d in nx.single_source_shortest_path_length(
            g, r, cutoff=max_depth).items()
    }
    assert {(r["root"], r["id"]): r["dist"] for r in rows} == want


@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_betweenness_all_roots_matches_networkx(spark, pairs):
    """With every vertex a root and no depth cut, each pair is counted
    from both of its endpoints: twice networkx's undirected value."""
    g = nx_graph(pairs)
    roots = spark.createDataFrame([(v,) for v in g], "root long")
    with partitions(spark, 3):
        rows = collect_owned(spark, lambda: betweenness(
            spark, edges_df(spark, pairs), roots, max_depth=len(g)))
    got = {r["id"]: r["betweenness"] for r in rows}
    want = nx.betweenness_centrality(g, normalized=False)
    assert set(got) <= set(want)
    for v, x in want.items():
        assert abs(got.get(v, 0.0) - 2 * x) < 1e-9, v


def brandes_oracle(pairs, roots, max_depth):
    """Brandes dependency accumulation from each of ``roots`` over the
    undirected simple graph, counting only targets at most ``max_depth``
    hops away; a vertex's score is summed over the roots that reach it
    in 1..``max_depth`` hops."""
    g = nx_graph(pairs)
    out = {}
    for s in roots:
        if s not in g:
            continue
        levels, sigma = [[s]], {s: 1.0}
        while len(levels) <= max_depth:
            nxt = {}
            for v in levels[-1]:
                for w in g[v]:
                    if w not in sigma:
                        nxt[w] = nxt.get(w, 0.0) + sigma[v]
            if not nxt:
                break
            sigma.update(nxt)
            levels.append(list(nxt))
        delta = dict.fromkeys(sigma, 0.0)
        for d in range(len(levels) - 1, 0, -1):
            below = set(levels[d + 1]) if d + 1 < len(levels) else set()
            for v in levels[d]:
                delta[v] = sum(sigma[v] / sigma[w] * (1.0 + delta[w])
                               for w in g[v] if w in below)
                out[v] = out.get(v, 0.0) + delta[v]
    return out


@few
@given(pairs=graphs, roots=st.sets(st.sampled_from(IDS), min_size=1,
                                   max_size=3),
       max_depth=st.integers(1, 3))
@example(pairs=RICH, roots={2**62, 0, 2**31 - 1}, max_depth=2)
def test_betweenness_sampled_roots_match_brandes(spark, pairs, roots,
                                                 max_depth):
    """Sampled roots (some may be absent from the graph) and a depth cut:
    the same scores, and the same scored vertices, as the oracle."""
    root_df = spark.createDataFrame([(r,) for r in roots], "root long")
    with partitions(spark, 3):
        rows = collect_owned(spark, lambda: betweenness(
            spark, edges_df(spark, pairs), root_df, max_depth=max_depth))
    got = {r["id"]: r["betweenness"] for r in rows}
    want = brandes_oracle(pairs, roots, max_depth)
    assert set(got) == set(want)
    for v, x in want.items():
        assert abs(got[v] - x) < 1e-9, v


@pytest.mark.parametrize("eps", [0.0, 1e-9])
@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_hits_matches_numpy(spark, pairs, eps):
    """Self-loops count as links; duplicates collapse. With ``eps > 0``
    the run is checked at the iteration it stopped."""
    res = None

    def call():
        nonlocal res
        res = hits(spark, edges_df(spark, pairs), max_iter=6, eps=eps)
        return res.scores

    with partitions(spark, 3):
        rows = collect_owned(spark, call)
    want = hits_numpy(pairs, res.iterations)
    assert {r["id"] for r in rows} == set(want)
    for r in rows:
        hub, auth = want[r["id"]]
        assert abs(r["hub"] - hub) < 1e-9 and abs(r["auth"] - auth) < 1e-9
