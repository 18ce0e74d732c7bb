"""Checkpointed fixpoint harness shared by PageRank, CC and label propagation.

The reference runs one master loop: scatter, gather, convergence check,
then a ``State`` snapshot replicated to the workers at the iteration
boundary (``pkg/node/master.go:106-241``). ``fixpoint`` is that loop as a
dataflow: each superstep is the algorithm's ``step`` plan (joins and
aggregates over cached, pre-partitioned edges), and the harness owns
everything around it:

- resume: with ``checkpoint_dir`` set, the graph is fingerprinted
  (``bit_xor(xxhash64(src, dst))`` plus the algorithm's parameters) and
  the newest complete snapshot of the same job is resumed; a converged or
  budget-exhausted snapshot is returned as is;
- one job per iteration: the step's output is a lazy
  ``localCheckpoint(eager=False)`` whose materializing action is the
  algorithm's statistic aggregate, so a single job computes the
  iteration, caches it, cuts its lineage and returns the convergence
  statistics; the previous iteration's snapshot is then released;
- durable saves every ``checkpoint_interval`` iterations, on convergence
  and at ``max_iter``: a Parquet snapshot plus a JSON manifest written
  last, as the commit marker, so a killed job resumes from the newest
  complete iteration;
- one metrics record per iteration, ``{iteration, <statistics>,
  converged, total_s}``, returned and stored in that iteration's manifest
  (with the per-partition row counts of the snapshot).

Fault tolerance: without ``checkpoint_dir`` the iteration state lives
only in unreplicated ``localCheckpoint`` blocks. In local mode (one JVM)
there is nothing to lose; on a cluster, losing an executor mid-run makes
the state unrecoverable and aborts the job. Runs that must survive that
pass ``checkpoint_dir`` and rerun the same call after a failure: it
resumes from the last durable manifest with identical results.

Filesystem access goes through the Hadoop ``FileSystem`` API (via the
session's JVM gateway), so the same code works on ``file:``, ``hdfs:``
or ``s3a:`` checkpoint locations.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "manifest.json"

# Runtime confs pinned inside the k-core, k-truss, SCC, betweenness and
# PPR loops: AQE measured neutral-to-worse there on the lazy-checkpoint
# state shape (BENCH/ab_loop_aqe_ckpt_r6.json, sf0.1/local[32]). The other
# loops run under the session's own confs (AQE on).
LOOP_CONFS = {"spark.sql.adaptive.enabled": "false"}


@contextmanager
def loop_conf(spark: SparkSession):
    """Apply LOOP_CONFS for a loop, restoring the caller's values on exit.

    Mutable runtime SQL confs only; safe on any session (the correctness
    driver's included). Restores on exceptions too, so a failed loop never
    leaks its conf into the caller's session.
    """
    old: dict[str, str | None] = {}
    for k, v in LOOP_CONFS.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        try:
            spark.conf.set(k, v)
        except Exception:
            old.pop(k, None)  # immutable/unknown conf: leave untouched
    try:
        yield
    finally:
        for k, v in old.items():
            try:
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            except Exception:
                pass

_OBS_COUNTER = 0


def obs_name(prefix: str) -> str:
    """Session-unique Observation name.

    ``CollectMetrics`` names must be unique within a plan tree; result
    DataFrames keep their observe nodes (post-truncation iterations), so
    two algorithm runs in one session would collide on plain
    ``{prefix}_{iteration}`` names the moment their results are joined
    ([DUPLICATED_METRICS_NAME]). A process-wide counter keeps names unique
    across calls while staying deterministic for tests.
    """
    global _OBS_COUNTER
    _OBS_COUNTER += 1
    return f"{prefix}_r{_OBS_COUNTER}"


def release_local_checkpoint(df: DataFrame) -> None:
    """Release an iteration-state DataFrame the loop owns.

    ``DataFrame.unpersist()`` is a no-op for local checkpoints (they are
    cached at the RDD layer, not in the SQL cache manager); without this,
    an N-iteration loop pins N dead rank vectors in executor memory. The
    checkpointed plan is a LogicalRDD whose ``rdd`` is the cached one.

    OWNERSHIP GUARD: RDD-level release happens only when the DataFrame
    *is* the localCheckpoint product — its analyzed plan is a leaf
    LogicalRDD. Unwrapping derived (single-child) plans to their leaf is
    unsound: a state vector freshly derived from a caller-supplied
    localCheckpoint-ed input (e.g. connected components over the pair
    DataFrame that ``minhash_lsh_pairs`` returns) bottoms out at the
    *input's* LogicalRDD, and unpersisting that destroys blocks the loop
    does not own — the source is gone and every later recompute dies with
    "Checkpoint block not found". Anything else falls back to plain
    ``unpersist()`` (correct for the persist-chain iterates).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if (
            plan.children().size() == 0
            and plan.getClass().getSimpleName() == "LogicalRDD"
        ):
            plan.rdd().unpersist(False)
            return
    except Exception:
        pass
    try:
        df.unpersist()
    except Exception:
        pass


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath, _ = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, hpath, jvm = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def partition_lineage(df: DataFrame) -> list[dict[str, int]]:
    """Rows per physical partition — the per-partition lineage record."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .orderBy("partition_id")
        .collect()
    )
    return [{"partition_id": r["partition_id"], "rows": r["rows"]} for r in rows]


class CheckpointManager:
    """Per-iteration snapshot + manifest directory layout::

        {dir}/iter_00003/state.parquet/...
        {dir}/iter_00003/manifest.json      <- written last (commit marker)
    """

    def __init__(self, spark: SparkSession, directory: str | None):
        self.spark = spark
        self.dir = directory.rstrip("/") if directory else None

    def enabled(self) -> bool:
        return self.dir is not None

    def _iter_dir(self, iteration: int) -> str:
        return f"{self.dir}/iter_{iteration:05d}"

    def save(self, iteration: int, state: DataFrame, meta: dict[str, Any]) -> None:
        """Snapshot ``state`` with ``meta`` and per-partition row counts."""
        d = self._iter_dir(iteration)
        state.write.mode("overwrite").parquet(f"{d}/state.parquet")
        manifest = dict(meta)
        manifest["iteration"] = iteration
        manifest["partitions"] = partition_lineage(
            self.spark.read.parquet(f"{d}/state.parquet")
        )
        manifest["rows"] = sum(p["rows"] for p in manifest["partitions"])
        manifest["complete"] = True
        _write_text(self.spark, f"{d}/{MANIFEST}", json.dumps(manifest, indent=1))

    def completed_iterations(self) -> list[int]:
        if not self.enabled():
            return []
        fs, hpath, _ = _fs(self.spark, self.dir)
        if not fs.exists(hpath):
            return []
        out = []
        for status in fs.listStatus(hpath):
            name = status.getPath().getName()
            if not name.startswith("iter_"):
                continue
            mpath = f"{self.dir}/{name}/{MANIFEST}"
            mfs, mh, _ = _fs(self.spark, mpath)
            if mfs.exists(mh):
                try:
                    if json.loads(_read_text(self.spark, mpath)).get("complete"):
                        out.append(int(name.split("_")[1]))
                except Exception:
                    continue
        return sorted(out)

    def latest(self) -> tuple[int, DataFrame, dict[str, Any]] | None:
        """Newest complete snapshot → (iteration, state, manifest) or None."""
        done = self.completed_iterations()
        if not done:
            return None
        it = done[-1]
        d = self._iter_dir(it)
        manifest = json.loads(_read_text(self.spark, f"{d}/{MANIFEST}"))
        return it, self.spark.read.parquet(f"{d}/state.parquet"), manifest

    def manifest(self, iteration: int) -> dict[str, Any]:
        return json.loads(
            _read_text(self.spark, f"{self._iter_dir(iteration)}/{MANIFEST}")
        )


@dataclass
class Fixpoint:
    state: DataFrame  # the final state, in the initial state's columns
    iterations: int
    last: dict[str, Any] | None  # the newest metrics record, if any
    converged: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def fixpoint(
    spark: SparkSession,
    name: str,
    graph: DataFrame,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame, dict[str, Any] | None], tuple[DataFrame, dict]],
    stats: dict[str, Column],
    converged: Callable[[dict[str, Any]], bool],
    *,
    max_iter: int,
    num_partitions: int,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 1,
    resume: bool = True,
    identity: str = "",
    lazy_init: bool = False,
    inputs: Iterable[DataFrame] = (),
    metrics_out: list[dict[str, Any]] | None = None,
) -> Fixpoint:
    """Iterate ``state ← step(state)`` until ``converged`` or ``max_iter``.

    ``init()`` builds the ``(id, ...)`` start state; it is skipped when a
    checkpoint of the same job is resumed. The state is hash-partitioned
    and sorted by ``id``, then cached: lazily when ``lazy_init`` (the
    first statistic aggregate materializes it), else by an eager count.
    ``inputs`` are caches the start state reads; they are unpersisted as
    soon as that state is materialized.

    ``step(state, last)`` plans the next state with any extra columns the
    ``stats`` aggregates read, plus notes for the metrics record; ``last``
    is this run's previous record (``None`` on the run's first
    iteration). ``converged`` decides on the statistics. ``graph``
    ``(src, dst)`` and ``identity`` (the algorithm's parameters)
    fingerprint the checkpoint directory. See the module docstring for
    the lifecycle.
    """
    ckpt = CheckpointManager(spark, checkpoint_dir)
    fingerprint = None
    if ckpt.enabled():
        g = graph.agg(
            F.count("*").alias("m"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        fingerprint = f"{name}|{identity}|m={g['m']}|h={g['h']}"
    pending = list(inputs)

    def release_inputs() -> None:
        while pending:
            pending.pop().unpersist()

    start, state, last = 0, None, None
    latest = ckpt.latest() if resume and ckpt.enabled() else None
    # a manifest of another graph or parameters is stale: start fresh
    if latest is not None and latest[2].get("fingerprint") == fingerprint:
        start, state, manifest = latest
        last = manifest["metrics"]
        if last["converged"] or start >= max_iter:
            release_inputs()
            return Fixpoint(state, start, last, last["converged"])
    fresh = state is None
    # id-sorted like the edge tables: the per-iteration sort-merge joins
    # skip the state-side Sort, and the snapshots inherit the order
    state = (
        (init() if fresh else state)
        .repartition(num_partitions, "id")
        .sortWithinPartitions("id")
    )
    if fresh and lazy_init:
        state = state.localCheckpoint(eager=False)
    else:
        state = state.persist()
        state.count()
        release_inputs()
    cols = state.columns
    prev, records, iteration, done = state, [], start, False
    while not done and iteration < max_iter:
        iteration += 1
        t0 = time.monotonic()
        nxt, notes = step(state, records[-1] if records else None)
        snapshot = nxt.localCheckpoint(eager=False)
        row = snapshot.agg(*[c.alias(k) for k, c in stats.items()]).first()
        release_inputs()
        state = snapshot.select(*cols)
        release_local_checkpoint(prev)
        prev = snapshot
        # sums over an empty state are NULL
        values = {k: 0 if row[k] is None else row[k] for k in stats}
        done = converged(values)
        record = {"iteration": iteration, **values, **notes,
                  "converged": done,
                  "total_s": round(time.monotonic() - t0, 4)}
        records.append(record)
        if metrics_out is not None:
            metrics_out.append(record)
        if ckpt.enabled() and (
            iteration % checkpoint_interval == 0 or done or iteration >= max_iter
        ):
            # durable resume point; iterating continues on the cached copy
            ckpt.save(iteration, state, {"algo": name, "fingerprint": fingerprint,
                                         "metrics": record})
    release_inputs()  # zero iterations: the lazy start state never ran
    return Fixpoint(state, iteration, records[-1] if records else last, done,
                    records)
