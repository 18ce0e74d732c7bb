from __future__ import annotations

import math
import os
import warnings

import pytest
from pyspark.sql import functions as F

from distributed_pagerank_spark.plans.components import connected_components
from distributed_pagerank_spark.plans.hits import hits
from distributed_pagerank_spark.plans.labelprop import label_propagation
from distributed_pagerank_spark.plans.loop import CheckpointManager
from distributed_pagerank_spark.plans.pagerank import pagerank
from distributed_pagerank_spark.sources.generator import generate_graph

from tests.conftest import CHAIN5, edges_df, partitions


def ranks_of(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def test_resume_identical_to_uninterrupted(spark, tmp_path):
    ck = str(tmp_path / "ck")
    edges = edges_df(spark, CHAIN5)
    # run 1: "killed" after 2 iterations
    partial = pagerank(spark, edges, eps=1e-6, max_iter=2, checkpoint_dir=ck)
    assert partial.iterations == 2 and not partial.converged
    # run 2: resumes and converges
    resumed = pagerank(spark, edges, eps=1e-6, max_iter=100, checkpoint_dir=ck)
    clean = pagerank(spark, edges, eps=1e-6, max_iter=100)
    assert resumed.iterations == clean.iterations
    a, b = ranks_of(resumed), ranks_of(clean)
    for v in b:
        assert math.isclose(a[v], b[v], abs_tol=1e-12)
    # run 3: already converged -> returns instantly from manifest
    again = pagerank(spark, edges, eps=1e-6, max_iter=100, checkpoint_dir=ck)
    assert again.converged and again.iterations == clean.iterations


def test_manifest_lineage_and_metrics(spark, tmp_path):
    ck = str(tmp_path / "ck")
    edges = generate_graph(spark, 20, max_edges=3, seed=2)
    with partitions(spark, 4):
        pagerank(spark, edges, eps=0.0, max_iter=3, checkpoint_dir=ck)
    mgr = CheckpointManager(spark, ck)
    done = mgr.completed_iterations()
    assert done == [1, 2, 3]
    m = mgr.manifest(2)
    assert m["complete"] and m["iteration"] == 2
    assert "fingerprint" in m and m["algo"] == "pagerank"
    # per-partition lineage present and sums to |V|
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"] == 20
    assert m["metrics"]["delta"] > 0


def test_incomplete_snapshot_ignored(spark, tmp_path):
    ck = str(tmp_path / "ck")
    edges = edges_df(spark, CHAIN5)
    pagerank(spark, edges, eps=1e-6, max_iter=2, checkpoint_dir=ck)
    # simulate a crash mid-write of iteration 3: state dir without manifest
    import shutil
    src = os.path.join(ck, "iter_00002")
    dst = os.path.join(ck, "iter_00003")
    shutil.copytree(src, dst)
    os.remove(os.path.join(dst, "manifest.json"))
    mgr = CheckpointManager(spark, ck)
    assert mgr.completed_iterations() == [1, 2]
    assert mgr.latest()[0] == 2


def test_stale_dir_not_resumed(spark, tmp_path):
    ck = str(tmp_path / "ck")
    g1 = edges_df(spark, [(0, 1), (1, 2)])
    pagerank(spark, g1, max_iter=2, checkpoint_dir=ck)
    g2 = edges_df(spark, [(5, 6)])
    res = pagerank(spark, g2, max_iter=5, checkpoint_dir=ck)
    assert sorted(ranks_of(res)) == [5, 6]


def test_components_resume(spark, tmp_path):
    ck = str(tmp_path / "ck")
    edges = generate_graph(spark, 30, max_edges=2, seed=13)
    partial_metrics = []
    connected_components(spark, edges, max_iter=1, checkpoint_dir=ck,
                         metrics_out=partial_metrics)
    full = connected_components(spark, edges, checkpoint_dir=ck)
    clean = connected_components(spark, edges)
    got = {r["id"]: r["component"] for r in full.collect()}
    want = {r["id"]: r["component"] for r in clean.collect()}
    assert got == want


def test_label_propagation_resume(spark, tmp_path):
    """A run stopped after 3 rounds, then resumed to 10, equals a clean
    10-round run; the stopped run leaves a resume point at its last round."""
    ck = str(tmp_path / "ck")
    edges = edges_df(spark, [(i, i + 1) for i in range(12)])  # never settles
    partial_metrics = []
    label_propagation(spark, edges, rounds=3, checkpoint_dir=ck,
                      metrics_out=partial_metrics)
    assert not partial_metrics[-1]["converged"]
    assert CheckpointManager(spark, ck).completed_iterations() == [2, 3]
    resumed_metrics = []
    resumed = label_propagation(spark, edges, rounds=10, checkpoint_dir=ck,
                                metrics_out=resumed_metrics)
    assert [m["iteration"] for m in resumed_metrics][0] == 4
    clean = label_propagation(spark, edges, rounds=10)
    got = {r["id"]: r["label"] for r in resumed.collect()}
    want = {r["id"]: r["label"] for r in clean.collect()}
    assert got == want


def test_components_budget_stop_leaves_manifest(spark, tmp_path):
    """Stopping at max_iter saves a resume point even off the
    checkpoint_interval cadence."""
    ck = str(tmp_path / "ck")
    edges = edges_df(spark, [(i, i + 1) for i in range(20)])
    metrics = []
    connected_components(spark, edges, max_iter=3, checkpoint_interval=2,
                         checkpoint_dir=ck, metrics_out=metrics)
    assert not metrics[-1]["converged"]
    mgr = CheckpointManager(spark, ck)
    assert mgr.completed_iterations() == [2, 3]
    assert mgr.manifest(3)["metrics"]["iteration"] == 3


LOOPS = {
    "pagerank": lambda spark, e, budget: pagerank(
        spark, e, eps=1e-9, max_iter=budget).ranks,
    "cc": lambda spark, e, budget: connected_components(
        spark, e, max_iter=budget),
    "lpa": lambda spark, e, budget: label_propagation(
        spark, e, rounds=budget),
}


def runtime_warnings(call):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        call()
    return [w for w in caught if issubclass(w.category, RuntimeWarning)]


@pytest.mark.parametrize("name", list(LOOPS))
def test_budget_stop_warns(spark, name):
    """A loop stopped by its budget before converging emits one
    RuntimeWarning, attributed to the caller's line."""
    chain = edges_df(spark, [(i, i + 1) for i in range(12)])
    caught = runtime_warnings(lambda: LOOPS[name](spark, chain, 2))
    assert len(caught) == 1, caught
    assert caught[0].filename == __file__


@pytest.mark.parametrize("name", [*LOOPS, "pagerank_eps0", "hits_eps0"])
def test_converged_or_fixed_k_run_is_silent(spark, name):
    """A run that converges within its budget does not warn, nor do the
    fixed-iteration runs: PageRank and HITS at ``eps=0``."""
    triangle = edges_df(spark, [(0, 1), (1, 2), (2, 0)])
    call = {
        **LOOPS,
        "pagerank_eps0": lambda spark, e, budget: pagerank(
            spark, e, eps=0.0, max_iter=2).ranks,
        "hits_eps0": lambda spark, e, budget: hits(
            spark, e, max_iter=2).scores,
    }[name]
    assert not runtime_warnings(lambda: call(spark, triangle, 10))


def test_loop_metrics_share_one_schema(spark):
    """PageRank, CC, LPA, HITS, PPR and SCC report one record per
    iteration with the same iteration / converged / total_s keys."""
    from distributed_pagerank_spark.plans.ppr import (
        personalized_pagerank_multi,
    )
    from distributed_pagerank_spark.plans.scc import (
        strongly_connected_components,
    )

    edges = edges_df(spark, CHAIN5)
    cc_metrics, lpa_metrics, ppr_metrics, scc_metrics = [], [], [], []
    pr_metrics = pagerank(spark, edges, max_iter=3).metrics
    connected_components(spark, edges, metrics_out=cc_metrics)
    label_propagation(spark, edges, rounds=3, metrics_out=lpa_metrics)
    hits_metrics = hits(spark, edges, max_iter=3).metrics
    seeds = spark.createDataFrame([(0, 0, 1.0)],
                                  "set_id int, id long, weight double")
    personalized_pagerank_multi(spark, edges, seeds, k=3,
                                metrics_out=ppr_metrics)
    strongly_connected_components(spark, edges, metrics_out=scc_metrics)
    assert [m["converged"] for m in ppr_metrics] == [False] * 3
    assert scc_metrics[-1]["converged"] and scc_metrics[-1]["remaining"] == 0
    for metrics in (pr_metrics, cc_metrics, lpa_metrics, hits_metrics,
                    ppr_metrics, scc_metrics):
        assert metrics
        assert [m["iteration"] for m in metrics] == list(
            range(1, len(metrics) + 1))
        for m in metrics:
            assert {"iteration", "converged", "total_s"} <= m.keys()


def test_durable_saves_add_no_jobs_per_iteration(spark, tmp_path):
    """The durable save is the iteration's one job: two more iterations
    cost as many Spark jobs with a checkpoint_dir as without one."""
    sc = spark.sparkContext
    edges = generate_graph(spark, 20, max_edges=3, seed=2)

    def jobs_for(max_iter, ck):
        group = f"pr-{max_iter}-{ck is not None}"
        sc.setJobGroup(group, group)
        try:
            pagerank(spark, edges, eps=0.0, max_iter=max_iter,
                     checkpoint_dir=ck)
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = jobs_for(4, None) - jobs_for(2, None)
    durable = (jobs_for(4, str(tmp_path / "ck4"))
               - jobs_for(2, str(tmp_path / "ck2")))
    assert plain > 0 and durable == plain


def test_manifest_partitions_are_state_partitions(spark, tmp_path):
    """The manifest's per-partition row counts are those of the final
    state's partitions, one per part-NNNNN file of the snapshot."""
    ck = str(tmp_path / "ck")
    edges = generate_graph(spark, 40, max_edges=3, seed=5)
    with partitions(spark, 4):
        res = pagerank(spark, edges, eps=0.0, max_iter=3, checkpoint_dir=ck)
    want = {
        r["pid"]: r["rows"]
        for r in res.ranks.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("rows")).collect()
    }
    m = CheckpointManager(spark, ck).manifest(3)
    got = {p["partition_id"]: p["rows"] for p in m["partitions"]}
    assert got == want and len(want) > 1
    files = os.listdir(os.path.join(ck, "iter_00003", "state.parquet"))
    assert {int(f.split("-")[1]) for f in files
            if f.startswith("part-")} == set(got)


def test_components_self_loops_only(spark, tmp_path):
    """Self-loops only: the symmetrized edges are empty, and every vertex
    is its own component, saved off the checkpoint_interval cadence when
    the run converges after one iteration."""
    ck = str(tmp_path / "ck")
    edges = edges_df(spark, [(0, 0), (1, 1), (7, 7)])
    comps = connected_components(spark, edges, checkpoint_dir=ck,
                                 checkpoint_interval=2)
    assert {r["id"]: r["component"] for r in comps.collect()} == {
        0: 0, 1: 1, 7: 7}
    mgr = CheckpointManager(spark, ck)
    assert mgr.completed_iterations() == [1]
    assert mgr.manifest(1)["metrics"]["converged"]
    assert mgr.manifest(1)["rows"] == 3


def test_pointer_jump_size_estimate_bounded(spark):
    """Pointer jumping joins the state with itself, squaring the size
    estimate its snapshot inherits each iteration; the harness caps it at
    Spark's unknown-size default. A chain's flat decay turns the jumps
    on."""
    edges = edges_df(spark, [(i + 1, i) for i in range(40)])
    metrics = []
    comps = connected_components(spark, edges, metrics_out=metrics)
    assert any(m["jumping"] for m in metrics)
    size = comps._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size <= 2**63 - 1
    assert {r["component"] for r in comps.collect()} == {0}
