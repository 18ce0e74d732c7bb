"""The peels and the frontier loops against networkx on small generated
graphs with self-loops, duplicate edges, negative ids and ids above
2^31. Every call must also leave exactly its result's leaves cached.
Calls that take ``num_partitions`` run on 3, so their shuffles run too
(sized from bytes, these graphs get one partition)."""

from __future__ import annotations

import networkx as nx
from hypothesis import example, given, settings
from hypothesis import strategies as st

from distributed_pagerank_spark.plans.betweenness import betweenness
from distributed_pagerank_spark.plans.bfs import multi_source_bfs
from distributed_pagerank_spark.plans.kcore import coreness, k_core
from distributed_pagerank_spark.plans.truss import k_truss

from tests.conftest import collect_owned, edges_df

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


@few
@given(pairs=graphs, k=st.integers(1, 3))
@example(pairs=RICH, k=3)
def test_k_core_matches_networkx(spark, pairs, k):
    rows = collect_owned(spark, lambda: k_core(
        spark, edges_df(spark, pairs), k, num_partitions=3))
    core = nx.k_core(nx_graph(pairs), k)
    want = {v: d for v, d in core.degree() if d}  # isolated: no edge row
    assert {r["id"]: r["degree"] for r in rows} == want


@few
@given(pairs=graphs)
@example(pairs=RICH)
def test_coreness_matches_networkx(spark, pairs):
    rows = collect_owned(spark, lambda: coreness(
        spark, edges_df(spark, pairs), num_partitions=3))
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
@given(pairs=graphs, n_roots=st.integers(1, 3), max_depth=st.integers(1, 3))
@example(pairs=RICH, n_roots=3, max_depth=2)
def test_bfs_matches_networkx(spark, pairs, n_roots, max_depth):
    g = nx_graph(pairs)
    roots = sorted(g)[:n_roots]
    sources = spark.createDataFrame([(r, r) for r in roots],
                                    "root long, id long")
    rows = collect_owned(spark, lambda: multi_source_bfs(
        spark, edges_df(spark, pairs), sources, max_depth=max_depth,
        num_partitions=3))
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
    rows = collect_owned(spark, lambda: betweenness(
        spark, edges_df(spark, pairs), roots, max_depth=len(g),
        num_partitions=3))
    got = {r["id"]: r["betweenness"] for r in rows}
    want = nx.betweenness_centrality(g, normalized=False)
    assert set(got) <= set(want)
    for v, x in want.items():
        assert abs(got.get(v, 0.0) - 2 * x) < 1e-9, v
