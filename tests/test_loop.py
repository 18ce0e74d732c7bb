"""The execution policy of the plans and operators: partition count
sized from measured bytes, one Spark job per iteration and the same jobs
per call whatever the session's AQE setting, the caller's confs
restored, and statistics that do not depend on task completion order."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from distributed_pagerank_spark.operators.graphstats import (
    avg_neighbor_degree,
    degree_assortativity,
    modularity,
    reciprocity,
)
from distributed_pagerank_spark.operators.linkpred import link_prediction
from distributed_pagerank_spark.plans.bfs import multi_source_bfs
from distributed_pagerank_spark.plans.components import connected_components
from distributed_pagerank_spark.plans.hits import hits
from distributed_pagerank_spark.plans.kcore import k_core
from distributed_pagerank_spark.plans.labelprop import label_propagation
from distributed_pagerank_spark.plans.loop import (
    conf_scope,
    exact_sum,
    fixpoint,
    measure,
)
from distributed_pagerank_spark.plans.pagerank import pagerank
from distributed_pagerank_spark.plans.scc import strongly_connected_components
from distributed_pagerank_spark.plans.triangles import (
    local_clustering_coefficient,
    triangle_count,
)
from distributed_pagerank_spark.plans.truss import k_truss
from distributed_pagerank_spark.sources.generator import generate_graph

from tests.conftest import collect_owned, edges_df, partitions

SCOPED = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
)


def ranks_of(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def test_measure_sized_from_bytes(spark):
    """Tiny inputs size to one partition; an advisory size below the
    input's bytes sizes up to the session's shuffle partitions. The block
    runs under the sized policy, whose count a ``repartition`` by key
    planned in it takes, gets the aggregate's row count, and releases its
    cache on exit."""

    def sized():
        edges = spark.range(2000).selectExpr("id as src", "id + 1 as dst")
        with measure(edges) as (cached, rows):
            assert rows == 2000 and cached.is_cached
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            n = cached.repartition("src").rdd.getNumPartitions()
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
        assert not cached.is_cached
        return n

    assert sized() == 1
    with partitions(spark, 5):
        assert sized() == 5


def _chain(spark, n=30):
    return edges_df(spark, [(i, i + 1) for i in range(n)])


def _run_pagerank(spark, max_iter):
    edges = generate_graph(spark, 40, max_edges=3, seed=2)
    res = pagerank(spark, edges, eps=0.0, max_iter=max_iter)
    res.ranks.collect()
    return len(res.metrics)


def _run_cc(spark, max_iter):
    metrics = []
    connected_components(spark, _chain(spark), max_iter=max_iter,
                         metrics_out=metrics).collect()
    return len(metrics)


def _run_lpa(spark, max_iter):
    metrics = []
    label_propagation(spark, _chain(spark), rounds=max_iter,
                      metrics_out=metrics).collect()
    return len(metrics)


@pytest.mark.parametrize("run", [_run_pagerank, _run_cc, _run_lpa],
                         ids=["pagerank", "cc", "lpa"])
def test_one_job_per_iteration_with_session_aqe_on(spark, run):
    """Under a session with AQE on, two more iterations cost exactly two
    more Spark jobs: the harness turns AQE and automatic broadcasts off
    around its iterations, so each one is a single job."""
    sc = spark.sparkContext

    def jobs_for(max_iter):
        group = f"policy-{run.__name__}-{max_iter}"
        sc.setJobGroup(group, group)
        try:
            assert run(spark, max_iter) == max_iter  # no early stop
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    with conf_scope(spark, {"spark.sql.adaptive.enabled": "true"}):
        assert jobs_for(4) - jobs_for(2) == 2


def test_fixpoint_without_convergence_test_chains_steps(spark):
    """A loop with no convergence test chains its steps lazily and cuts
    the chain every CHAIN (5) iterations and at max_iter: only the cuts'
    records carry the statistic, two more cuts cost two more Spark jobs,
    and the only cache left is the returned leaf."""
    sc = spark.sparkContext
    start = spark.range(40).select("id", F.lit(0).alias("v"))

    def step(state, last):
        return state.select("id", (F.col("v") + 1).alias("v")), {}

    def run(max_iter):
        group = f"chain-{max_iter}"
        metrics = []

        def call():
            with measure(start) as (cached, _rows):
                return fixpoint(
                    spark, "chain", cached, lambda: cached, step,
                    {"rows": F.count(F.lit(1))}, None, max_iter=max_iter,
                    metrics_out=metrics,
                ).state

        sc.setJobGroup(group, group)
        try:
            rows = collect_owned(spark, call)
        finally:
            sc.setJobGroup("", "")
        assert len(rows) == 40 and {r["v"] for r in rows} == {max_iter}
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group)), metrics

    jobs, metrics = run(12)
    assert [m["rows"] for m in metrics] == [
        40 if i in (5, 10, 12) else None for i in range(1, 13)]
    assert not any(m["converged"] for m in metrics)
    assert jobs - run(5)[0] == 2


GRAPH_CALLS = {
    "triangle_count": triangle_count,
    "clustering": local_clustering_coefficient,
    "k_truss": lambda spark, e: k_truss(spark, e, 3),
    "scc": strongly_connected_components,
    "pagerank": lambda spark, e: pagerank(spark, e, max_iter=5).ranks,
    "cc": connected_components,
    "hits": lambda spark, e: hits(spark, e, max_iter=3).scores,
    "k_core": lambda spark, e: k_core(spark, e, 2),
    "bfs": lambda spark, e: multi_source_bfs(
        spark, e, spark.createDataFrame([(0, 0), (9, 9)], "root long, id long"),
        max_depth=3),
    "reciprocity": reciprocity,
    "degree_assortativity": degree_assortativity,
    "avg_neighbor_degree": avg_neighbor_degree,
    "modularity": lambda spark, e: modularity(
        spark, e,
        spark.createDataFrame([(v, v % 3) for v in range(30)],
                              "id long, label long")),
    "link_prediction": lambda spark, e: link_prediction(spark, e, top_k=3),
}

# the dedup tiers read a docs table ``(doc_id, text)``
DOC_CALLS = {
    "jaccard_pairs": lambda spark, d: jaccard_pairs(d, threshold=0.3),
    "jaccard_pairs_capped": lambda spark, d: jaccard_pairs(
        d, threshold=0.3, max_shingle_df=3),
    "minhash_lsh_pairs": lambda spark, d: minhash_lsh_pairs(d, threshold=0.3),
    "simhash_pairs": lambda spark, d: simhash_pairs(d, max_hamming=8),
}

DOCS = [
    (1, "the cat sat on the mat and looked at the dog"),
    (2, "the cat sat on the mat and looked at the dog"),
    (3, "the cat sat on the mat and stared at the dog"),
    (4, "a dog sat on the mat and looked at the cat"),
    (5, "der hund und die katze ist das haus der tiere und mehr"),
    (6, "completely different words entirely unrelated content here"),
]


def _graph_table(spark):
    pairs = [tuple(r) for r in
             generate_graph(spark, 30, max_edges=3, seed=5).collect()]
    return lambda: edges_df(spark, pairs)


def _docs_table(spark):
    return lambda: spark.createDataFrame(DOCS, "doc_id long, text string")


CALLS = {
    **{name: (_graph_table, call) for name, call in GRAPH_CALLS.items()},
    **{name: (_docs_table, call) for name, call in DOC_CALLS.items()},
}


@pytest.mark.parametrize("name", list(CALLS))
def test_plan_jobs_same_with_session_aqe_on(spark, name):
    """Every job a plan or operator runs inside the call runs under its
    own sized policy, so the call runs as many Spark jobs, with the same
    result, whether the session's AQE is on or off; it leaves only its
    result's leaves cached."""
    table, op = CALLS[name]
    make = table(spark)
    sc = spark.sparkContext

    def run(aqe):
        group = f"aqe-{name}-{aqe}"

        def call():
            sc.setJobGroup(group, group)
            try:
                return op(spark, make())
            finally:
                sc.setJobGroup("", "")

        with conf_scope(spark, {"spark.sql.adaptive.enabled": aqe}):
            rows = collect_owned(spark, call)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group)), sorted(rows)

    off = run("false")
    assert off[1]  # a case with an empty result checks little
    assert off == run("true")


def test_fixpoint_restores_caller_confs(spark):
    """The harness's conf scope ends with the call: on return, and when a
    fixpoint raises (SCC's max_prop budget)."""
    caller = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.autoBroadcastJoinThreshold": "1234567",
    }
    with conf_scope(spark, caller):
        want = {k: spark.conf.get(k) for k in SCOPED}
        pagerank(spark, _chain(spark, 10), max_iter=3).ranks.collect()
        assert {k: spark.conf.get(k) for k in SCOPED} == want
        cycle = edges_df(spark, [(i, (i + 1) % 12) for i in range(12)])
        with pytest.raises(RuntimeError, match="did not converge"):
            strongly_connected_components(spark, cycle, max_prop=1)
        assert {k: spark.conf.get(k) for k in SCOPED} == want


def test_exact_sum_order_independent(spark):
    """A double sum whose last bits depend on the order of its terms is
    the same in every order through exact_sum."""
    rows = [(1e16,), (1.0,), (-1e16,)]
    orders = [rows, rows[::-1], [rows[0], rows[2], rows[1]]]

    def total(agg, order):
        df = spark.createDataFrame(order, "x double").coalesce(1)
        return df.agg(agg).first()[0]

    assert {total(F.sum("x"), o) for o in orders} == {0.0, 1.0}
    assert {total(exact_sum(F.col("x")), o) for o in orders} == {1.0}


def test_pagerank_bit_identical_on_many_partitions(spark, tmp_path):
    """At 16 partitions the observed sums (delta, rank_sum) merge partial
    results from 16 tasks: two runs, and a run resumed from a checkpoint,
    still give bit-identical ranks."""
    edges = generate_graph(spark, 300, max_edges=4, seed=11)
    kw = dict(eps=0.0, max_iter=6)
    ck = str(tmp_path / "ck")
    with partitions(spark, 16):
        first = pagerank(spark, edges, **kw)
        second = pagerank(spark, edges, **kw)
        pagerank(spark, edges, checkpoint_dir=ck, **{**kw, "max_iter": 3})
        resumed = pagerank(spark, edges, checkpoint_dir=ck, **kw)
    want = ranks_of(first)
    assert len(want) == 300
    for res in (second, resumed):
        assert (res.iterations, res.delta) == (first.iterations, first.delta)
        assert ranks_of(res) == want
