"""Timing every public call from the outside, and the traced run's spans.

Untraced, a call record holds its wall time and result. Traced, each call
also becomes a span (name, start, end, parent = the workload run) whose
Spark jobs are attributed to it with ``setJobGroup`` and read back from
Spark's in-process status store (no UI, no REST port) right after the call
returns. The reads happen outside the call's own ``wall_s``, so they show
only in the traced run's ``pipeline_s``: the tracing overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
import uuid

# Fields recorded for every traced call, in output order.
CALL_FIELDS = (
    "wall_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_write_mb", "driver_only_s", "busy_frac", "codegen_compiles",
    "cached_mb_after",
)
LOOP_FIELDS = ("iterations", "wall_per_iter_s", "jobs_per_iter",
               "shuffle_mb_per_iter")
LOOPS = (
    "plans.pagerank.pagerank",
    "plans.components.connected_components",
    "plans.labelprop.label_propagation",
)
TRACED_CALLS = (
    "sources.transcripts.derive_edges",
    *LOOPS,
    "plans.triangles.triangle_count",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.near_dup_clusters",
    "functions.text.columns",
)
UNITS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "driver_only_s": "s", "busy_frac": "ratio",
    "codegen_compiles": "count", "cached_mb_after": "MB",
    "iterations": "count", "wall_per_iter_s": "s", "jobs_per_iter": "count",
    "shuffle_mb_per_iter": "MB", "ckpt_mb": "MB", "ckpt_snapshots": "count",
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``: 111 layer names plus the
    traced run's own ``trace.pipeline_s``."""
    out = [("session.get_spark.wall_s", "s")]
    for call in TRACED_CALLS:
        out += [(f"{call}.{f}", UNITS[f]) for f in CALL_FIELDS]
        if call in LOOPS:
            out += [(f"{call}.{f}", UNITS[f]) for f in LOOP_FIELDS]
    out += [("plans.loop.ckpt_mb", "MB"), ("plans.loop.ckpt_snapshots", "count"),
            ("trace.pipeline_s", "s")]
    return out


class CallFailed(Exception):
    """A timed call raised; the rest of the pass cannot run."""


def iterations_of(name: str, result) -> int | None:
    """Loop iterations as the call returned them."""
    if name == "plans.pagerank.pagerank":
        return result.iterations
    if name in LOOPS:
        return len(result[1])
    return None


def _seq(scala_seq) -> list[int]:
    text = str(scala_seq.mkString(","))
    return [int(x) for x in text.split(",") if x]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def checkpoint_stats(directory: str) -> tuple[float, int]:
    """(MB on disk, committed manifests) under a loop's checkpoint dir."""
    size, snapshots = 0, 0
    for base, _, files in os.walk(directory):
        for f in files:
            size += os.path.getsize(os.path.join(base, f))
            if f == "manifest.json":
                with open(os.path.join(base, f)) as fh:
                    snapshots += bool(json.load(fh).get("complete"))
    return size / 1e6, snapshots


class Calls:
    """Issues one pass of a workload's calls and records each one."""

    def __init__(self, spark, cores: int, traced: bool, pass_idx: int,
                 trace_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.traced = traced
        self.pass_idx = pass_idx
        self.trace_id = trace_id
        self.records: list[dict] = []

    def call(self, name: str, fn, ckpt: str | None = None):
        group = f"{name}#{self.pass_idx}"
        compiles0 = 0
        if self.traced:
            self.sc.setJobGroup(group, name)
            compiles0 = codegen_compiles(self.sc)
        t0, p0 = time.time(), time.perf_counter()
        try:
            out = fn()
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            self.records.append({"name": name, "ok": False,
                                 "error": f"{type(e).__name__}: {e}"})
            raise CallFailed(name) from e
        wall = time.perf_counter() - p0
        rec = {"name": name, "ok": True, "result": out, "wall_s": wall,
               "start": t0, "end": t0 + wall}
        iters = iterations_of(name, out)
        if iters:
            rec["iterations"] = iters
        if self.traced:
            rec.update(self._layer(group, t0, t0 + wall, wall, compiles0))
            if iters:
                rec["wall_per_iter_s"] = wall / iters
                rec["jobs_per_iter"] = rec["jobs"] / iters
                rec["shuffle_mb_per_iter"] = rec["shuffle_write_mb"] / iters
            if ckpt:
                rec["ckpt_mb"], rec["ckpt_snapshots"] = checkpoint_stats(ckpt)
        self.records.append(rec)
        return out

    def _layer(self, group, t0, t1, wall, compiles0) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        intervals, stage_ids = [], set()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        for j in job_ids:
            jd = store.job(j)
            if jd.submissionTime().isDefined():
                s = jd.submissionTime().get().getTime() / 1000
                e = (jd.completionTime().get().getTime() / 1000
                     if jd.completionTime().isDefined() else t1)
                intervals.append((max(s, t0), min(e, t1)))
            stage_ids.update(_seq(jd.stageIds()))
        f = dict.fromkeys(("stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                           "shuffle_b"), 0)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # never submitted: no attempt recorded
                continue
            if st.status().toString() == "SKIPPED":
                continue
            f["stages"] += 1
            f["tasks"] += st.numCompleteTasks()
            f["run_ms"] += st.executorRunTime()
            f["cpu_ns"] += st.executorCpuTime()
            f["gc_ms"] += st.jvmGcTime()
            f["shuffle_b"] += st.shuffleWriteBytes()
        exec_run_s = f["run_ms"] / 1e3
        return {
            "jobs": len(job_ids),
            "stages": f["stages"],
            "tasks": f["tasks"],
            "exec_run_s": exec_run_s,
            "exec_cpu_s": f["cpu_ns"] / 1e9,
            "gc_s": f["gc_ms"] / 1e3,
            "shuffle_write_mb": f["shuffle_b"] / 1e6,
            "driver_only_s": max(0.0, wall - _union_s(intervals)),
            "busy_frac": exec_run_s / (wall * self.cores),
            "codegen_compiles": codegen_compiles(self.sc) - compiles0,
            "cached_mb_after": cached_mb(self.sc),
        }

    def spans(self, parent: str) -> list[dict]:
        return [
            {"trace_id": self.trace_id, "span_id": uuid.uuid4().hex[:16],
             "parent": parent, "pass": self.pass_idx,
             **{k: v for k, v in r.items() if k != "result"}}
            for r in self.records
        ]


def codegen_compiles(sc) -> int:
    """JVM-wide count of whole-stage/expression codegen compilations."""
    cm = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def cached_mb(sc) -> float:
    """Storage (memory + disk) still held by cached/checkpointed RDDs."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6
