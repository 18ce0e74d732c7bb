from __future__ import annotations

import math

from distributed_pagerank_spark.plans.loop import CheckpointManager
from distributed_pagerank_spark.plans.pagerank import pagerank
from distributed_pagerank_spark.plans.components import connected_components
from distributed_pagerank_spark.sources.generator import generate_graph

from tests.conftest import CHAIN5, edges_df


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
    pagerank(spark, edges, eps=0.0, max_iter=3, checkpoint_dir=ck,
             num_partitions=4)
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
    import os, shutil
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
    from distributed_pagerank_spark.plans.labelprop import label_propagation

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
                         checkpoint_dir=ck, algorithm="hashmin",
                         metrics_out=metrics)
    assert not metrics[-1]["converged"]
    mgr = CheckpointManager(spark, ck)
    assert mgr.completed_iterations() == [2, 3]
    assert mgr.manifest(3)["metrics"]["iteration"] == 3


def test_loop_metrics_share_one_schema(spark):
    """PageRank, CC and LPA report one record per iteration with the same
    iteration / converged / total_s keys."""
    from distributed_pagerank_spark.plans.labelprop import label_propagation

    edges = edges_df(spark, CHAIN5)
    cc_metrics, lpa_metrics = [], []
    pr_metrics = pagerank(spark, edges, max_iter=3).metrics
    connected_components(spark, edges, metrics_out=cc_metrics)
    label_propagation(spark, edges, rounds=3, metrics_out=lpa_metrics)
    for metrics in (pr_metrics, cc_metrics, lpa_metrics):
        assert metrics
        assert [m["iteration"] for m in metrics] == list(
            range(1, len(metrics) + 1))
        for m in metrics:
            assert {"iteration", "converged", "total_s"} <= m.keys()
