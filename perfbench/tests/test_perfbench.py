"""Tests of the benchmark's own code, on inputs small enough for seconds-long
Spark runs. Run from the checkout root:

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from perfbench import calls, run, workloads  # noqa: E402

TINY = {"n_convs": 40, "n_docs": 300}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
E2E_UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in BENCH["per_layer"]}


def _run(tmp_path, workload, traced, seed=3):
    return run.run(workload, seed, 0, traced, str(tmp_path / "scratch"),
                   sizes=TINY)


def test_declared_workloads_and_metrics_match_the_driver():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)
    assert set(E2E_UNITS) == set(run.GATED)
    assert [n for n, _ in calls.per_layer_names()] == list(LAYER_UNITS)
    assert len(LAYER_UNITS) == 112


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_every_metric_emitted_with_its_unit(tmp_path, workload):
    res = _run(tmp_path, workload, traced=False)
    assert res["failed"] == 0, res["problems"]
    line = run.result_line(res)
    assert line["correct"] and line["attempted"] == len(workloads.CALLS[workload])
    assert {k: v["unit"] for k, v in line["metrics"].items()} == E2E_UNITS
    assert all(v["value"] > 0 for v in line["metrics"].values())
    docs_only = {"dedup_s", "text_s"}
    per_call = docs_only if workload == "docs" else set(run.END_TO_END) - docs_only
    assert set(res["metrics"]) == (per_call | set(run.GATED)
                                   | {"pipeline_s", "error_rate"})
    assert all(u == "s" for k, (_, u) in res["metrics"].items() if k in per_call)
    assert res["metrics"]["error_rate"] == (0.0, "ratio")
    assert res["host"]["nproc"] == run.nproc()
    assert res["host"]["codegen_cache_max_entries_in_force"] == 8192
    # the driver, its JVM and the Python workers use CPU on every pass, and
    # the JIT compiler threads' share of it is left out of pipeline_cpu_s
    for p in res["pass_times"]:
        assert 0 <= p["jit_s"] < p["cpu_s"]


def test_traced_run_layers_and_span_times(tmp_path):
    res = _run(tmp_path, "transcripts", traced=True)
    assert res["failed"] == 0, res["problems"]
    line = run.result_line(res)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == LAYER_UNITS
    m = {k: v["value"] for k, v in line["metrics"].items()}
    for call in workloads.CALLS["transcripts"]:
        assert m[f"{call}.jobs"] > 0 and m[f"{call}.wall_s"] > 0
    for loop in calls.LOOPS:
        assert m[f"{loop}.iterations"] >= 1 and m[f"{loop}.jobs_per_iter"] > 0
    assert m["plans.loop.ckpt_mb"] > 0 and m["plans.loop.ckpt_snapshots"] > 0
    # calls the workload does not make read 0
    assert m["functions.text.columns.wall_s"] == 0
    assert sum(s["wall_s"] for s in res["spans"]) <= res["metrics"]["pipeline_s"][0]
    assert {s["parent"] for s in res["spans"]} == {"run:transcripts:3"}


def test_corrupted_result_raises_error_rate(tmp_path, monkeypatch):
    real = workloads.near_dup_clusters

    def keep_all(*args, **kw):
        return real(*args, **kw).withColumn("keep", F.lit(1))

    monkeypatch.setattr(workloads, "near_dup_clusters", keep_all)
    res = _run(tmp_path, "docs", traced=False)
    assert [p["call"] for p in res["problems"]] == [
        "operators.dedup.near_dup_clusters"]
    assert res["metrics"]["error_rate"][0] == pytest.approx(1 / 3)
    assert run.result_line(res)["correct"] is False


def test_unconverged_loop_counts_as_failed(tmp_path, monkeypatch):
    monkeypatch.setitem(workloads.PAGERANK, "max_iter", 2)
    res = _run(tmp_path, "transcripts", traced=False)
    assert [p["call"] for p in res["problems"]] == ["plans.pagerank.pagerank"]
    assert "unconverged" in res["problems"][0]["problem"]


def test_docs_inputs_are_a_seeded_permutation_of_one_corpus():
    a, b = (workloads.make_documents(200, s) for s in (1, 2))
    assert a.equals(workloads.make_documents(200, 1))
    assert a["doc_id"].to_pylist() != b["doc_id"].to_pylist()
    assert a.sort_by("doc_id").equals(b.sort_by("doc_id"))
