"""Link-graph benchmark driver: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload {transcripts,docs} --seed N \
        --seconds S --trace {0,1}

Run it from the root of a checkout. It makes the workload's inputs from the
seed, starts the engine's Spark session on ``local[nproc]`` with
``nproc`` shuffle partitions, and issues the workload's calls back to back
(one client, closed loop), repeating the whole pass while less than
``--seconds`` have elapsed. Outputs are then checked against independent
oracles. Human-readable lines come first; the last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
All scratch (inputs, checkpoints, Spark local dirs, temp files) lives under
``.perfbench/`` in the checkout and is removed before exit; result and span
files stay in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_SAMPLES = 5
CLK_TCK = os.sysconf("SC_CLK_TCK")
DRIVER_MEM = "1g"  # the engine's 16g default exceeds a 15 GB host

END_TO_END = {  # metric → (unit, call whose wall time it is)
    "pagerank_s": ("s", "plans.pagerank.pagerank"),
    "components_s": ("s", "plans.components.connected_components"),
    "labelprop_s": ("s", "plans.labelprop.label_propagation"),
    "triangles_s": ("s", "plans.triangles.triangle_count"),
    "text_s": ("s", "functions.text.columns"),
    "dedup_s": ("s", ("operators.dedup.minhash_lsh_pairs",
                      "operators.dedup.near_dup_clusters")),
}
# Reported on the last line: the end-to-end metrics every workload has and
# that stay steady on a shared host. Wall times are printed above it: a busy
# host can double them while the CPU a pass uses moves far less, so
# ``pipeline_cpu_s`` (less JIT compilation, which is JVM warm-up) stands for
# ``pipeline_s`` there.
GATED = ("setup_s", "pipeline_cpu_s", "peak_rss_mb")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def shm_used() -> int | None:
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    return (st.f_blocks - st.f_bfree) * st.f_frsize


def jvm_pid(spark) -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """VmHWM (high-water resident set) of the driver JVM."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def _stat_fields(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()  # fields from state on


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every process under
    it (here: this driver, its JVM and the JVM's Python workers), counting
    ended descendants through their parents' waited-for child times."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat_fields(f"/proc/{name}/stat")
        except OSError:  # ended while we looked
            continue
        pid = int(name)
        parent[pid] = int(f[1])
        ticks[pid] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p == root:
            total += t
    return total / CLK_TCK


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads. The driver
    JVM keeps a fixed set of them (``-XX:-UseDynamicNumberOfCompilerThreads``),
    so none ends and takes its time out of the count."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            total += sum(int(x) for x in
                         _stat_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:  # thread ended while we looked
            continue
    return total / CLK_TCK


def codegen_cache_in_force(spark) -> int | None:
    """Capacity of the JVM's generated-class cache, read from the cache
    object itself: ``spark.sql.codegen.cache.maxEntries`` is static and an
    existing JVM ignores a later value silently."""
    jvm = spark.sparkContext._jvm
    try:
        cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
        field = cls.getDeclaredField("cache")
        field.setAccessible(True)
        obj = field.get(cls.getField("MODULE$").get(None))
        # Spark's NonFateSharingCache wraps a Guava cache: follow its
        # `cache` and `localCache` fields down to LocalCache.maxWeight
        for _ in range(4):
            fields, k = {}, obj.getClass()
            while k is not None:
                for f in k.getDeclaredFields():
                    fields.setdefault(f.getName(), f)
                k = k.getSuperclass()
            name = next((n for n in ("maxWeight", "localCache", "cache")
                         if n in fields), None)
            if name is None:
                return None
            fields[name].setAccessible(True)
            obj = fields[name].get(obj)
            if name == "maxWeight":
                return int(obj)
    except Exception:  # py4j/reflection refusal: report it as unknown
        return None
    return None


def host_info(spark, cores: int) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    keys = ("spark.master", "spark.driver.memory", "spark.local.dir",
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.codegen.cache.maxEntries", "spark.ui.enabled")
    return {
        "nproc": cores,
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "confs": {k: spark.conf.get(k, conf.get(k)) for k in keys},
        "codegen_cache_max_entries_in_force": codegen_cache_in_force(spark),
    }


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


@contextlib.contextmanager
def _environ(values: dict[str, str]):
    """Set environment variables for the block, then restore them."""
    saved = {k: os.environ.get(k) for k in values}
    os.environ.update(values)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def run(workload: str, seed: int, seconds: float, traced: bool,
        scratch: str, cache_dir: str | None = None,
        sizes: dict | None = None) -> dict:
    """One benchmark run in this process → a result dict (see ``main``)."""
    import distributed_pagerank_spark as dps

    from perfbench import gate, workloads
    from perfbench.calls import CallFailed, Calls

    if workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; "
                         f"choose from {', '.join(workloads.WORKLOADS)}")
    cores = nproc()
    for d in ("tmp", "spark-local", "rdd-ckpt", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    env = {
        "TMPDIR": os.path.join(scratch, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(scratch, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    conf = {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.checkpoint.dir": os.path.join(scratch, "rdd-ckpt"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # a fixed heap size, so the RSS high-water mark does not follow
        # run-to-run differences in when G1 grows the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    if traced:  # keep every job of the run in the status store
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})

    def session():
        return dps.get_spark(app_name="perfbench", master=f"local[{cores}]",
                             shuffle_partitions=cores, extra_conf=conf)

    with _environ(env):
        t = time.perf_counter()
        spark = session()
        get_spark_cold_s = time.perf_counter() - t
        pid, me = jvm_pid(spark), os.getpid()
        try:
            t = time.perf_counter()
            paths, size_info = workloads.write_inputs(
                spark, workload, seed, os.path.join(scratch, "inputs"), sizes)
            warm_paths, _ = workloads.write_inputs(
                spark, workload, seed, os.path.join(scratch, "warmup"),
                warmup=True)
            inputs_s = time.perf_counter() - t
            pipeline = workloads.PIPELINES[workload]

            def warm_up(i: int) -> float:
                """Untimed pass ``i`` over the warm-up inputs → wall time."""
                t = time.perf_counter()
                try:
                    pipeline(spark, workloads.register(spark, warm_paths, False),
                             Calls(spark, cores, False, -1 - i, ""),
                             os.path.join(scratch, "ckpt", f"warmup{i}"),
                             warmup=True)
                except CallFailed:
                    pass  # the timed pass meets the same failure, counts it
                return time.perf_counter() - t

            warmup_s = warm_up(0)
            # set-up on the warmed JVM; the timed passes run in the last of
            # these sessions, after any further warm-up passes there, which
            # also start that session's Python workers
            setup = []
            for _ in range(SETUP_SAMPLES):
                spark.stop()
                t = time.perf_counter()
                spark = session()
                tables = workloads.register(spark, paths)
                setup.append(time.perf_counter() - t)
            for i in range(1, workloads.WARMUP_PASSES[workload]):
                warmup_s += warm_up(i)

            trace_id = uuid.uuid4().hex
            passes, spans = [], []
            t_run = time.perf_counter()
            while not passes or time.perf_counter() - t_run < seconds:
                calls = Calls(spark, cores, traced, len(passes), trace_id)
                ckpt_root = os.path.join(scratch, "ckpt", str(len(passes)))
                cpu, jit = tree_cpu_s(me), jit_cpu_s(pid)
                t = time.perf_counter()
                try:
                    pipeline(spark, tables, calls, ckpt_root)
                except CallFailed:
                    pass
                passes.append({"pipeline_s": time.perf_counter() - t,
                               "cpu_s": tree_cpu_s(me) - cpu,
                               "jit_s": jit_cpu_s(pid) - jit,
                               "records": calls.records})
                spans += calls.spans(parent=f"run:{workload}:{seed}")
            if traced:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rss = peak_rss_mb(pid)  # before any check collects data
            info = host_info(spark, cores)

            t_gate = time.perf_counter()
            oracles = gate.Oracles(workload, paths, spark, seed, cache_dir)
            planned = workloads.CALLS[workload]
            attempted, problems = 0, []
            for i, p in enumerate(passes):
                bad = gate.check_pass(oracles, p["records"], tables)
                ran = {r["name"] for r in p["records"]}
                bad.update({n: "not run: an earlier call failed"
                            for n in planned if n not in ran})
                attempted += len(planned)
                problems += [{"pass": i, "call": n, "problem": why}
                             for n, why in bad.items()]
            size_info.update(oracles.graph_size)
            gate_s = time.perf_counter() - t_gate
        finally:
            stop_jvm(spark)

    ok_recs = [r for p in passes for r in p["records"] if r["ok"]]
    metrics = {
        "setup_s": (_median(setup), "s"),
        "pipeline_s": (_median([p["pipeline_s"] for p in passes]), "s"),
        "pipeline_cpu_s": (
            _median([p["cpu_s"] - p["jit_s"] for p in passes]), "s"),
        "peak_rss_mb": (rss, "MB"),
        "error_rate": (len(problems) / attempted, "ratio"),
    }
    for name, (unit, call) in END_TO_END.items():
        names = (call,) if isinstance(call, str) else call
        per_pass = [sum(r["wall_s"] for r in p["records"]
                        if r["ok"] and r["name"] in names)
                    for p in passes
                    if any(r["ok"] and r["name"] in names for r in p["records"])]
        if per_pass:
            metrics[name] = (_median(per_pass), unit)
    layers = {}
    if traced:
        layers = layer_metrics(passes, get_spark_cold_s)
    return {
        "workload": workload, "seed": seed, "traced": traced,
        "sizes": size_info, "host": info, "passes": len(passes),
        "setup_samples_s": setup, "get_spark_cold_s": get_spark_cold_s,
        "inputs_s": inputs_s, "warmup_s": warmup_s, "gate_s": gate_s,
        "metrics": metrics, "layers": layers,
        "pass_times": [{k: p[k] for k in ("pipeline_s", "cpu_s", "jit_s")}
                       for p in passes],
        "attempted": attempted, "failed": len(problems), "problems": problems,
        "spans": spans if traced else [],
        "calls": [{k: v for k, v in r.items() if k != "result"}
                  for r in ok_recs],
    }


def layer_metrics(passes: list[dict], get_spark_cold_s: float) -> dict:
    """Per-layer metrics: per call and field, the median over passes; a call
    the workload does not make reads 0."""
    from perfbench.calls import per_layer_names

    def med(name, field):
        return _median([r[field] for p in passes for r in p["records"]
                        if r["ok"] and r["name"] == name and field in r])

    ckpt = {"ckpt_mb": [], "ckpt_snapshots": []}
    for p in passes:
        for k in ckpt:
            ckpt[k].append(sum(r.get(k, 0) for r in p["records"]))
    out = {}
    for name, unit in per_layer_names():
        if name == "session.get_spark.wall_s":
            v = get_spark_cold_s
        elif name == "trace.pipeline_s":
            v = _median([p["pipeline_s"] for p in passes])
        elif name.startswith("plans.loop."):
            v = _median(ckpt[name.rsplit(".", 1)[1]])
        else:
            call, field = name.rsplit(".", 1)
            v = med(call, field)
        out[name] = (v, unit)
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "distributed_pagerank_spark")):
        print(f"perfbench: no distributed_pagerank_spark/ package under {ROOT};"
              " run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    shm0 = shm_used()
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace),
                  scratch, os.path.join(base, "cache"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    shm1 = shm_used()
    res["host"]["shm_used_delta_bytes"] = (
        None if shm0 is None or shm1 is None else shm1 - shm0)
    res["host"]["scratch_removed"] = not os.path.exists(scratch)

    stem = os.path.join(results, f"{args.workload}-s{args.seed}")
    if args.trace:
        base = untraced_pipeline(results, args.workload, args.seed)
        if base is not None:
            traced_pipe = res["metrics"]["pipeline_s"][0]
            res["trace_overhead_s"] = traced_pipe - base[0]
            res["trace_overhead_ratio"] = traced_pipe / base[0] - 1
            res["trace_overhead_base"] = base[1]
        with open(f"{stem}-spans.json", "w") as f:
            json.dump(res["spans"], f, indent=1)
    with open(f"{stem}-t{args.trace}.json", "w") as f:
        json.dump({k: v for k, v in res.items() if k != "spans"}, f, indent=1,
                  default=str)

    report(res)
    print(json.dumps(result_line(res)))
    return 0


def untraced_pipeline(results: str, workload: str, seed: int):
    """Untraced ``pipeline_s`` to compare a traced run with → (value, what):
    the same seed's if it ran, else the median over the workload's seeds
    (inputs differ by seed only in content, not in size or shape)."""
    same = os.path.join(results, f"{workload}-s{seed}-t0.json")
    found = [same] if os.path.exists(same) else [
        os.path.join(results, f) for f in os.listdir(results)
        if f.startswith(f"{workload}-s") and f.endswith("-t0.json")]
    values = []
    for path in found:
        with open(path) as f:
            values.append(json.load(f)["metrics"]["pipeline_s"][0])
    if not values:
        return None
    what = "same seed" if found == [same] else f"median of {len(values)} seeds"
    return statistics.median(values), what


def result_line(res: dict) -> dict:
    """The last stdout line: end-to-end metrics untraced, per-layer traced."""
    chosen = res["layers"] if res["traced"] else {
        k: res["metrics"][k] for k in GATED}
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }


def report(res: dict) -> None:
    """The human-readable lines printed before the result line."""
    print(f"# workload={res['workload']} seed={res['seed']} "
          f"traced={int(res['traced'])} passes={res['passes']} "
          f"sizes={json.dumps(res['sizes'])}")
    print(f"# host {json.dumps(res['host'])}")
    print("# setup samples (s): "
          + " ".join(f"{s:.3f}" for s in res["setup_samples_s"])
          + f"; cold get_spark {res['get_spark_cold_s']:.3f}"
          + f"; inputs {res['inputs_s']:.3f}"
          + f"; untimed warm-up pass {res['warmup_s']:.3f}"
          + f"; correctness gate {res['gate_s']:.3f}")
    print("# passes (wall s / CPU s / of which JIT s): " + " ".join(
        f"{p['pipeline_s']:.2f}/{p['cpu_s']:.2f}/{p['jit_s']:.2f}"
        for p in res["pass_times"]))
    for name in ("setup_s", "pipeline_s", "pipeline_cpu_s", "pagerank_s", "components_s",
                 "labelprop_s", "triangles_s", "dedup_s", "text_s",
                 "peak_rss_mb", "error_rate"):
        if name in res["metrics"]:
            v, unit = res["metrics"][name]
            print(f"# {name} = {v:.6g} {unit}")
        else:
            print(f"# {name} = n/a (no such call in this workload)")
    if "trace_overhead_s" in res:
        print(f"# trace overhead = {res['trace_overhead_s']:.3f} s "
              f"({100 * res['trace_overhead_ratio']:.1f}% of untraced "
              f"pipeline_s, {res['trace_overhead_base']})")
    elif res["traced"]:
        print("# trace overhead: no untraced run of this workload to compare")
    for p in res["problems"]:
        print(f"# FAILED pass {p['pass']} {p['call']}: {p['problem']}")


if __name__ == "__main__":
    sys.exit(main())
