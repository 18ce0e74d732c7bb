"""The fixpoint harness's execution policy: partition count sized from
measured bytes, one Spark job per iteration whatever the session's AQE
setting, the caller's confs restored, and statistics that do not depend
on task completion order."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_pagerank_spark.plans.components import connected_components
from distributed_pagerank_spark.plans.labelprop import label_propagation
from distributed_pagerank_spark.plans.loop import (
    conf_scope,
    exact_sum,
    loop_partitions,
)
from distributed_pagerank_spark.plans.pagerank import pagerank
from distributed_pagerank_spark.plans.scc import strongly_connected_components
from distributed_pagerank_spark.sources.generator import generate_graph

from tests.conftest import edges_df

SCOPED = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
)


def ranks_of(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def test_loop_partitions_sized_from_bytes(spark):
    """Tiny inputs size to one partition; an advisory size below the
    input's bytes sizes up to the session's shuffle partitions; an
    explicit count wins."""
    cached = spark.range(2000).selectExpr("id as src", "id + 1 as dst") \
        .persist()
    try:
        assert loop_partitions(cached, None) == 1
        assert loop_partitions(cached, 7) == 7
        with conf_scope(spark, {
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1b",
            "spark.sql.shuffle.partitions": "5",
        }):
            assert loop_partitions(cached, None) == 5
    finally:
        cached.unpersist()


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
    kw = dict(eps=0.0, max_iter=6, num_partitions=16)
    first = pagerank(spark, edges, **kw)
    second = pagerank(spark, edges, **kw)
    ck = str(tmp_path / "ck")
    pagerank(spark, edges, checkpoint_dir=ck, **{**kw, "max_iter": 3})
    resumed = pagerank(spark, edges, checkpoint_dir=ck, **kw)
    want = ranks_of(first)
    assert len(want) == 300
    for res in (second, resumed):
        assert (res.iterations, res.delta) == (first.iterations, first.delta)
        assert ranks_of(res) == want
