"""Per-iteration stage diagnostics for the scaling benchmark.

Runs the scaling PageRank job at one parallelism level with the Spark UI
REST API enabled, then dumps per-iteration wall-clock alongside stage-level
executor metrics (run time, CPU time, GC time, shuffle bytes) so the
8-vs-32-core efficiency gap can be attributed (CPU saturation vs GC vs
scheduler gaps vs shuffle) instead of guessed at.

Usage: python tools/bench_diag.py CORES [N_CONVS] [WARMUP] [MEASURE]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
import time
import urllib.request

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def rest(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/v1/{path}", timeout=10) as r:
        return json.loads(r.read())


def main():
    cores = int(sys.argv[1])
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_400_000
    warmup = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    measure = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    from distributed_pagerank_spark.session import get_spark
    from distributed_pagerank_spark.sources.transcripts import (
        derive_edges,
        synth_transcripts,
    )
    from distributed_pagerank_spark.plans.loop import conf_scope
    from distributed_pagerank_spark.plans.pagerank import pagerank

    spark = get_spark(
        app_name=f"diag-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.driver.memory": "48g",
            "spark.ui.enabled": "true",
            "spark.ui.port": "4050",
        },
    )
    sc = spark.sparkContext
    t0 = time.monotonic()
    t = synth_transcripts(spark, n_convs=n_convs, seed=42)
    edges = derive_edges(t).localCheckpoint(eager=True)
    m = edges.count()
    gen_s = time.monotonic() - t0

    app_id = sc.applicationId
    jobs_before = {j["jobId"] for j in rest(4050, f"applications/{app_id}/jobs")}

    # a 1-byte advisory size sizes the run to the shuffle partitions cap
    with conf_scope(spark, {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1b",
        "spark.sql.shuffle.partitions": str(max(cores, 8)),
    }):
        res = pagerank(spark, edges, c=0.85, eps=0.0,
                       max_iter=warmup + measure)
    jobs = [j for j in rest(4050, f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before and j["status"] == "SUCCEEDED"]
    jobs.sort(key=lambda j: j["jobId"])
    # iteration jobs = the count() per iteration; fixed setup jobs precede
    iter_jobs = jobs[-(warmup + measure):]

    out = {"cores": cores, "edges": m, "gen_s": round(gen_s, 1),
           "iters": []}
    for k, j in enumerate(iter_jobs):
        stages = []
        for sid in j["stageIds"]:
            try:
                ss = rest(4050, f"applications/{app_id}/stages/{sid}")
            except Exception:
                continue
            for s in ss:
                if s["status"] != "COMPLETE":
                    continue
                stages.append({
                    "stage": sid,
                    "name": s["name"].split("\n")[0][:60],
                    "tasks": s["numCompleteTasks"],
                    "run_s": round(s["executorRunTime"] / 1e3, 2),
                    "cpu_s": round(s["executorCpuTime"] / 1e9, 2),
                    "gc_s": round(s["jvmGcTime"] / 1e3, 2),
                    "sh_read_mb": round(s["shuffleReadBytes"] / 1e6, 1),
                    "sh_write_mb": round(s["shuffleWriteBytes"] / 1e6, 1),
                    "input_mb": round(s["inputBytes"] / 1e6, 1),
                })
        wall = res.metrics[k]["total_s"] if k < len(res.metrics) else None
        out["iters"].append({"iter": k + 1, "wall_s": wall, "stages": stages})
    meas = [it["wall_s"] for it in out["iters"][warmup:]]
    out["median_wall_s"] = sorted(meas)[len(meas) // 2]
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
