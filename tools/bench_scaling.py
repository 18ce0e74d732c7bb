"""Scaling-efficiency benchmark (BASELINE.md protocol).

No real cluster exists in the sandbox, so the north-rule's N vs 4N
executor criterion is evidenced by running the IDENTICAL PageRank job on
the IDENTICAL deterministic input at two parallelism levels —
``local[8]`` vs ``local[32]`` — in fresh JVMs (subprocess per level), and
reporting iterations/hour at both plus
``efficiency = (throughput_4N / throughput_N) / 4``.

The host is multi-tenant with heavy CPU jitter (same-iteration wall-clock
varies 3-30× run to run), so the protocol is:

- levels run INTERLEAVED (8, 32, 8, 32 — fresh JVM each) so slow host
  phases hit both levels, not one;
- per level, WARMUP iterations are discarded (JIT ramp) and the
  per-iteration wall-clock of the remaining MEASURE iterations is pooled
  across the two runs;
- the loop cuts its lineage every iteration (a local checkpoint on the
  iteration's own job), so every measured iteration is a steady-state
  one; the median is reported with the amortized mean (total measured
  wall / iterations) alongside;
- each level also measures the per-iteration phases once, outside the
  timed loop: scatter join, scatter+gather agg, full update
  (join+project+persist), and the FIXED DRIVER FLOOR
  (a count job over the already-cached state — pure scheduling/py4j/GC
  cost that does not shrink with cores and bounds achievable efficiency:
  ``eff_max = (W/8 + C) / (4 * (W/32 + C))``);
- the input graph is synthesized ONCE by the orchestrator and written to
  parquet; every level reads the identical files (and the gen cost stops
  contaminating the runs).

Usage:
    python tools/bench_scaling.py                 # orchestrate all runs
    python tools/bench_scaling.py --worker 8      # one level (internal)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

N_CONVS = int(os.environ.get("SCALING_N_CONVS", "1400000"))
WARMUP = int(os.environ.get("SCALING_WARMUP", "3"))
MEASURE = int(os.environ.get("SCALING_MEASURE", "10"))
SEQUENCE = tuple(
    int(x) for x in os.environ.get("SCALING_SEQUENCE", "8,32,8,32").split(",")
)
EDGES_PATH = os.environ.get(
    "SCALING_EDGES",
    ("/dev/shm" if os.path.isdir("/dev/shm") else "/tmp")
    + f"/scaling_edges_{N_CONVS}.parquet",
)


SCRATCH_ROOT = "/dev/shm/scaling-scratch"
# the checkout this script belongs to
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "BENCH")


def _population_key() -> dict:
    """Identity of the sample population a campaign draws from: resuming
    may only merge samples generated with identical input + knobs (the
    graph seed is fixed at 42 in the worker, so n_convs + edges path pin
    the graph; warmup/measure pin the iteration protocol)."""
    return {"n_convs": N_CONVS, "warmup": WARMUP, "measure": MEASURE,
            "edges_path": EDGES_PATH}


def _clean_leg_scratch() -> None:
    """tmpfs scratch (shuffle files) is RAM; a crashed or finished leg
    leaving 30+ GB behind starved a later 48g leg into the OOM killer.
    Every leg runs in its OWN subdirectory of SCRATCH_ROOT (never the
    shared spark-local, which foreground sessions may be using), so after
    the leg's subprocess has exited its directory is provably dead and is
    removed — no pgrep heuristics, no race with unrelated JVMs."""
    import shutil

    if os.path.isdir(SCRATCH_ROOT):
        for entry in os.listdir(SCRATCH_ROOT):
            shutil.rmtree(os.path.join(SCRATCH_ROOT, entry), ignore_errors=True)


def _timed(fn, reps=3):
    out = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        out.append(time.monotonic() - t0)
    return round(statistics.median(out), 2)


def generate_once() -> None:
    """Synthesize the deterministic input graph and park it as parquet so
    every level reads identical bytes (BASELINE.md: "same deterministic
    input"). Runs in a subprocess: ``spark.stop()`` leaves the py4j
    gateway JVM alive (child of this process) and it has been observed
    spinning at several cores afterwards — a subprocess exit guarantees
    the JVM is gone before the first measured leg."""
    # a directory without the _SUCCESS marker is a partial write from a
    # killed generation run — regenerate (mode=overwrite replaces it)
    if os.path.exists(os.path.join(EDGES_PATH, "_SUCCESS")):
        return
    if "--generate" in sys.argv:
        sys.path.insert(0, ROOT)
        from distributed_pagerank_spark.session import get_spark
        from distributed_pagerank_spark.sources.transcripts import (
            derive_edges,
            synth_transcripts,
        )

        spark = get_spark(app_name="scaling-gen", master="local[32]",
                          shuffle_partitions=32,
                          extra_conf={"spark.driver.memory": os.environ.get("SCALING_DRIVER_MEM", "48g")})
        t = synth_transcripts(spark, n_convs=N_CONVS, seed=42)
        derive_edges(t).write.mode("overwrite").parquet(EDGES_PATH)
        spark.stop()
        return
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--generate"],
        check=True, timeout=7200, cwd=ROOT,
    )


def worker(cores: int) -> None:
    sys.path.insert(0, ROOT)
    from distributed_pagerank_spark.session import get_spark
    from distributed_pagerank_spark.plans.loop import conf_scope
    from distributed_pagerank_spark.plans.pagerank import pagerank

    parts = max(cores, 8)
    scratch = f"{SCRATCH_ROOT}/leg-{cores}-{os.getpid()}"
    spark = get_spark(
        app_name=f"scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=parts,
        extra_conf={
            "spark.driver.memory": os.environ.get("SCALING_DRIVER_MEM", "48g"),
            # leg-private tmpfs scratch: the orchestrator removes it once
            # this process exits (see _clean_leg_scratch)
            "spark.local.dir": f"{scratch}/local",
        },
    )
    t0 = time.monotonic()
    edges = spark.read.parquet(EDGES_PATH)
    m = edges.count()
    gen_s = time.monotonic() - t0

    # a 1-byte advisory size sizes the run to the shuffle partitions cap
    with conf_scope(spark, {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1b",
        "spark.sql.shuffle.partitions": str(parts),
    }):
        res = pagerank(spark, edges, c=0.85, eps=0.0,
                       max_iter=WARMUP + MEASURE)
    steady = [x["total_s"] for x in res.metrics[WARMUP:]]

    phases = {}
    if os.environ.get("SCALING_PHASES", "1") == "1":
        phases = _measure_phases(spark, edges, parts)

    print(json.dumps({
        "cores": cores,
        "edges": m,
        "vertices": res.ranks.count(),
        "gen_s": round(gen_s, 1),
        "steady_iter_s": [round(x, 2) for x in steady],
        "phases_s": phases,
    }))


def _measure_phases(spark, edges, parts) -> dict:
    """Per-phase breakdown (outside the timed loop, same plan shape)."""
    from pyspark.sql import functions as F

    from distributed_pagerank_spark.operators.degrees import vertices_from_edges

    # same single-scan prepare shape as plans.pagerank._prepare_edges
    ecnt = edges.groupBy("src", "dst").agg(F.count("*").alias("__cnt")).persist()
    deg = ecnt.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("out_degree")
    )
    e = ecnt.select("src", "dst")
    ew = (
        e.join(deg, e["src"] == deg["id"])
        .select("src", "dst", "out_degree")
        .repartition(parts, "src").sortWithinPartitions("src").persist()
    )
    ew.count()
    verts = vertices_from_edges(e)
    n = verts.count()
    state = (
        verts.withColumn("e", F.lit(1.0 / n))
        .withColumn("rank", F.lit(1.0 / n))
        .repartition(parts, "id").persist()
    )
    state.count()
    ecnt.unpersist()
    ranks = state.select("id", "rank")
    contribs = ew.join(ranks, ew["src"] == ranks["id"]).select(
        "src", "dst", (F.col("rank") / F.col("out_degree")).alias("contrib")
    )
    scatter_s = _timed(
        lambda: contribs.write.format("noop").mode("overwrite").save()
    )
    sums = contribs.groupBy("dst").agg(F.sum("contrib").alias("sum"))
    gather_s = _timed(
        lambda: sums.write.format("noop").mode("overwrite").save()
    )
    new_state = state.join(sums, state["id"] == sums["dst"], "left").select(
        "id", "e",
        (F.lit(0.85) * F.coalesce(F.col("sum"), F.lit(0.0))
         + F.lit(0.15) * F.col("e")).alias("rank"),
    )

    def _update():
        snap = new_state.persist()
        snap.count()
        snap.unpersist()
    update_s = _timed(_update)
    # fixed driver floor: a job over the already-cached state does ~zero
    # executor work — what remains is scheduling + py4j + result fetch,
    # the per-iteration cost that does NOT scale with cores.
    floor_s = _timed(lambda: state.count(), reps=5)
    return {
        "scatter_join": scatter_s,
        "scatter_plus_gather": gather_s,
        "full_update": update_s,
        "driver_floor_job": floor_s,
    }


def main() -> None:
    if "--worker" in sys.argv:
        worker(int(sys.argv[sys.argv.index("--worker") + 1]))
        return
    generate_once()
    if "--generate" in sys.argv:
        return
    samples: dict[int, dict] = {}
    seen_levels: set[int] = set()
    skip_legs = 0
    partial_path = os.path.join(BENCH_DIR, "scaling_partial.json")
    if os.environ.get("SCALING_RESUME") == "1" and os.path.exists(partial_path):
        # resume a killed campaign: scaling_partial.json is written after
        # every leg, so completed legs' samples are seeded verbatim and the
        # loop starts at the first leg without a result. Only valid when the
        # sequence matches — a different SCALING_SEQUENCE means a different
        # campaign and the partial is ignored.
        with open(partial_path) as f:
            part = json.load(f)
        # same core sequence AND same sample population: a partial from a
        # different input size / iteration knobs / edge table would
        # silently pool samples from a different distribution.
        if (
            tuple(part.get("sequence", ())) == SEQUENCE
            and part.get("population") == _population_key()
        ):
            skip_legs = part["completed_legs"]
            samples = {int(k): v for k, v in part["samples"].items()}
            seen_levels = {c for c in samples if samples[c]["phases_s"]}
            print(f"# resuming after {skip_legs} completed legs "
                  f"({sum(len(s['steady_iter_s']) for s in samples.values())}"
                  " steady samples seeded)", flush=True)
    max_load = float(os.environ.get("SCALING_MAX_LOAD", "0"))
    for run_i, cores in enumerate(SEQUENCE):
        if run_i < skip_legs:
            continue
        _clean_leg_scratch()
        if max_load > 0:
            # least-load scheduling: start a leg only in a quiet window so
            # host jitter from co-tenants stops inflating one level's
            # samples. Bounded wait — after 20 min, run anyway.
            waited = 0.0
            while os.getloadavg()[0] > max_load and waited < 1200:
                time.sleep(15)
                waited += 15
            if waited:
                print(f"# leg {run_i}: waited {waited:.0f}s for load "
                      f"{os.getloadavg()[0]:.1f} <= {max_load}", flush=True)
        # the phase breakdown (_timed × reps) costs several minutes per
        # 8-core leg at full size; measure it on the first leg per level
        # only — iteration samples are what the pooled stats need.
        env = dict(os.environ)
        env["SCALING_PHASES"] = (
            "1" if cores not in seen_levels
            and os.environ.get("SCALING_NO_PHASES") != "1" else "0"
        )
        seen_levels.add(cores)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(cores)],
            capture_output=True, text=True, timeout=7200, cwd=ROOT,
            env=env,
        )
        json_lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if not json_lines:
            print(f"# worker leg {run_i} (cores={cores}) produced no result; "
                  f"rc={out.returncode}", flush=True)
            print("# stderr tail:\n" + "\n".join(out.stderr.splitlines()[-30:]),
                  flush=True)
            raise RuntimeError(f"worker leg {run_i} failed")
        line = json_lines[-1]
        r = json.loads(line)
        print(line, flush=True)
        s = samples.setdefault(cores, {
            "cores": cores, "edges": r["edges"], "vertices": r["vertices"],
            "gen_s": [], "steady_iter_s": [], "phases_s": [],
        })
        s["gen_s"].append(r["gen_s"])
        s["steady_iter_s"].extend(r["steady_iter_s"])
        if r["phases_s"]:
            s["phases_s"].append(r["phases_s"])
        # crash-safe: park everything gathered so far after every leg
        with open(partial_path, "w") as f:
            json.dump({"completed_legs": run_i + 1, "sequence": SEQUENCE,
                       "population": _population_key(),
                       "samples": {str(k): v for k, v in samples.items()}},
                      f, indent=1)

    # metric label derives from the levels actually run — a hardcoded
    # "local8_vs_local32" on a 4v16 campaign invited silent mispooling
    # (ADVICE r4); pool only result files whose labels match.
    lvl_sorted = sorted(samples)
    metric_label = (
        f"pagerank_scaling_efficiency_local{lvl_sorted[0]}"
        f"_vs_local{lvl_sorted[-1]}"
        if len(lvl_sorted) >= 2 else "pagerank_scaling_efficiency"
    )
    result = {"metric": metric_label,
              "protocol": "interleaved fresh-JVM runs " + repr(SEQUENCE),
              "n_convs": N_CONVS, "warmup": WARMUP, "measure": MEASURE,
              "edges_path": EDGES_PATH, "levels": {}}
    for cores, s in samples.items():
        steady = sorted(s["steady_iter_s"])
        med = statistics.median(steady)
        # the sandbox host is multi-tenant with 3-15× same-work wall-clock
        # jitter; the MINIMUM is the standard least-contended estimate of
        # the true cost, p25 a jitter-robust middle ground. All three are
        # reported; BENCH/BASELINE.md discusses which to trust.
        p25 = steady[(len(steady) - 1) // 4]
        n_iters = len(steady)
        total = sum(steady)
        result["levels"][str(cores)] = {
            **{k: s[k] for k in ("cores", "edges", "vertices", "gen_s",
                                 "steady_iter_s", "phases_s")},
            "median_steady_iter_s": round(med, 3),
            "min_steady_iter_s": round(steady[0], 3),
            "p25_steady_iter_s": round(p25, 3),
            "amortized_iter_s": round(total / n_iters, 3),
            "iters_per_hour_steady": round(3600.0 / med, 1),
            "iters_per_hour_min": round(3600.0 / steady[0], 1),
            "iters_per_hour_amortized": round(3600.0 * n_iters / total, 1),
        }
    # derive lo/hi from the levels actually run (SCALING_SEQUENCE is
    # env-overridable; hardcoding 8/32 crashed on any other sequence)
    levels = sorted(samples)
    if len(levels) >= 2:
        lo, hi = result["levels"][str(levels[0])], result["levels"][str(levels[-1])]
        factor = levels[-1] / levels[0]
        result["scale_factor"] = factor
        result["efficiency_steady"] = round(
            (hi["iters_per_hour_steady"] / lo["iters_per_hour_steady"]) / factor, 3
        )
        result["efficiency_min"] = round(
            (hi["iters_per_hour_min"] / lo["iters_per_hour_min"]) / factor, 3
        )
        result["efficiency_p25"] = round(
            (lo["p25_steady_iter_s"] / hi["p25_steady_iter_s"]) / factor, 3
        )
        result["efficiency_amortized"] = round(
            (hi["iters_per_hour_amortized"] / lo["iters_per_hour_amortized"])
            / factor, 3
        )
    print(json.dumps({k: v for k, v in result.items() if k != "levels"}))
    os.makedirs(BENCH_DIR, exist_ok=True)
    with open(os.path.join(BENCH_DIR, "scaling_result.json"), "w") as f:
        json.dump(result, f, indent=1)
    _clean_leg_scratch()


if __name__ == "__main__":
    main()
