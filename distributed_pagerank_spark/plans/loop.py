"""The loop harnesses every iterative plan runs on: ``fixpoint`` for
PageRank, personalized PageRank, CC, label propagation, HITS, SCC's
color and reach fixpoints and the k-core, coreness and k-truss peels;
``frontier`` for multi-source BFS and betweenness' forward pass.

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
- one Spark action per iteration of a loop with a convergence test:
  the start state (fresh or resumed) and each step's output are lazy
  ``localCheckpoint(eager=False)`` leaves, and the iteration's only
  action is a write of its snapshot. That one job computes the
  iteration (the first one also the start state), caches it and cuts
  its lineage; the convergence statistics are observed on the same job
  (``DataFrame.observe`` with an ``Observation``), so no second
  aggregate runs. The previous leaf is then released, and the final one
  is returned for the caller to free;
- bounded size estimates: a leaf inherits the estimated size of the plan
  it was cut from, which a step joining the state with itself (a
  pointer jump) squares every iteration, until planning stalls in
  big-integer arithmetic. A leaf whose estimate exceeds Spark's
  unknown-size default is re-wrapped without it (``bound_estimate``);
- durable saves every ``checkpoint_interval`` iterations and at
  ``max_iter``: on those iterations (known before the job runs) the
  write goes to a Parquet snapshot of the state columns, on the others
  to the ``noop`` sink. A run that converges between cadence points
  writes its cached state through the same write. The JSON manifest is
  written after the job, as the commit marker, so a killed job resumes
  from the newest complete iteration;
- per-partition lineage comes from the committed part files' Parquet
  footers (``part-NNNNN`` is written by state partition ``NNNNN``), read
  on the driver without a Spark job;
- chained steps for a loop with no convergence test (``converged=None``,
  a fixed iteration count such as personalized PageRank's): nothing is
  observed between its iterations, so each step is planned lazily on top
  of the last, and the chain is cut only every ``CHAIN`` iterations and
  at ``max_iter``. A cut runs as one job, as an iteration does above
  (lazy ``localCheckpoint``, write, statistics observed on it), and the
  previous cut's leaf is released after it. It suits a step that reads
  the state once, so that its plan grows linearly along the chain. Such
  a loop saves durably only on cuts;
- one metrics record per iteration, ``{iteration, <statistics>,
  converged, total_s}``, returned and stored in that iteration's manifest
  (with the per-partition row counts of the snapshot). A chained
  iteration's statistics are ``None``: no job ran to observe them.

The state is keyed by a tuple of columns, ``("id",)`` for a vertex
state, ``("set_id", "id")`` for personalized PageRank's. A peel's state
is its surviving edge set, keyed by an endpoint; its statistic is the
row count, and ``converged`` gets the previous record, so a round that
removes nothing ends it (``rows_settled``).
Loops whose partial state is a wrong answer (SCC's fixpoints, the peels)
raise when their budget stops them unconverged (``Fixpoint.settled``).

``frontier`` is the other loop shape: level-synchronous expansion,
where level ``d`` is what ``expand`` reaches from level ``d−1`` minus
the visited set, a lazy union of the earlier levels' slices. Each level
is one job that caches its slice and observes its row count; the slices
and their counts are the caller's. It stops at an empty slice or at
``max_depth`` (declared truncation, which does not raise).

Execution policy: one for the whole call, chosen once from what the call
measures first. This holds for every plan here and for the one-shot
operators too (``operators.graphstats``, ``operators.linkpred`` and the
dedup tiers of ``operators.dedup``). A call's first job persists and
counts the input aggregate it reads more than once, with AQE off
(``measure``): a plan's edges, an operator's deduped or symmetrized
edges, shingle index or signatures. It sizes the call from the cache's
measured bytes, as AQE's partition coalescing would; no call takes a
partition count, and a session that wants another size sets
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` and
``spark.sql.shuffle.partitions`` (the cap). Every later job of
the call, from its setup tables (``edge_table``) through the loop to the
finalization or an operator's final plan, runs under ``loop_policy`` of
that count: AQE off, ``spark.sql.shuffle.partitions`` at it, and
automatic broadcast joins off; the caller's confs come back on return
and on raise (``conf_scope``), and the cache is released then too. In a
loop the edges ⋈ state and state ⋈ aggregate joins are then
co-partitioned sort-merge joins over the same hash layout: each
iteration is one job with at most one shuffle, and a one-shot plan (the
triangle kernel, an operator) runs its shuffles inside the jobs of its
actions.
The two halves only pay together. AQE on splits every query stage, and
every runtime broadcast, into a job of its own (about 5.5 jobs per loop
iteration; 16 jobs for a triangle count that takes 4 under the
policy, 11 for a MinHash pair search that takes 4), and each job
re-pays the driver's planning and closure cleaning. AQE off at the
session's partition count trades those jobs for many near-empty tasks,
which on a small graph costs more than it saves. Skew is the plan's to
handle (PageRank's ``skew_salt``): AQE's skew-join split does not run
under the policy, and joins broadcast only where the plan hints it
(betweenness and SCC's extraction from counts they know, the Jaccard
tier's hot-shingle anti-join).

Order-independent statistics: observed sums merge per-task partials in
task completion order, so double-valued statistics (PageRank's
``delta``, ``rank_sum``, ``dang_mass``) use ``exact_sum``. In one JVM
(local mode) a run on many partitions then gives bit-identical results
every time, resumed or not. Across executors it does not: a step's own
per-vertex sums (PageRank's ``sum(contrib)``) add in shuffle-fetch order,
which depends on which executor holds which map output, so two runs on
two executors can differ in the last bits (2.2e-19 measured on PageRank).

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
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST = "manifest.json"
# a loop with no convergence test cuts its lazy chain of steps every CHAIN
# iterations (and at ``max_iter``)
CHAIN = 5


def loop_policy(num_partitions: int) -> dict[str, str]:
    """The runtime confs a sized plan runs under (module docstring):
    AQE off, ``num_partitions`` shuffle partitions, no automatic
    broadcast joins."""
    return {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(num_partitions),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]):
    """Apply the runtime SQL ``confs`` for a block, restoring the caller's
    values on exit, also when the block raises.

    Safe on any session (the correctness driver's included): a conf the
    session refuses to change is left untouched.
    """
    old: dict[str, str | None] = {}  # None: unset, so re-unset on exit
    for k, v in confs.items():
        try:
            prior = spark.conf.get(k, None)
            spark.conf.set(k, v)
            old[k] = prior
        except Exception:
            pass  # immutable/unknown conf: leave untouched
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


@contextmanager
def measure(aggregate: DataFrame) -> Iterator[tuple[DataFrame, int]]:
    """Size a plan or operator from the input aggregate it reads more
    than once (a plan's edges, an operator's symmetrized table, shingle
    index or signatures), then run the rest of the call under that size:
    a block that gets ``(cached, rows)``.

    ``aggregate`` (un-persisted) is persisted and counted with AQE off,
    in one job; the cache keeps that AQE-off plan. The partition count is
    sized from the cache's measured in-memory bytes:
    ``ceil(bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes)``,
    clamped to ``[1, spark.sql.shuffle.partitions]`` — the partition size
    AQE would coalesce to, fixed once instead of re-planned every job.
    Those two confs are the only way to set it. The block runs under
    ``loop_policy`` of that count, so every ``repartition(*key)`` and
    shuffle planned in it uses the count; on exit, also on raise, the
    caller's confs are restored and the cache is released.
    """
    spark = aggregate.sparkSession
    try:
        with conf_scope(spark, {"spark.sql.adaptive.enabled": "false"}):
            # AQE would run each shuffle map stage of the cache's plan as
            # a job of its own
            rows = aggregate.persist().count()
        plan = aggregate._jdf.queryExecution().optimizedPlan()
        size = int(plan.stats().sizeInBytes())
        advisory = spark._jvm.org.apache.spark.network.util.JavaUtils \
            .byteStringAsBytes(spark.conf.get(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes"))
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n = max(1, min(cap, -(-size // advisory)))
        with conf_scope(spark, loop_policy(n)):
            yield aggregate, rows
    finally:
        aggregate.unpersist()


def edge_table(edges: DataFrame) -> DataFrame:
    """``edges`` as a loop's static side: hash-partitioned by ``src`` into
    the enclosing ``measure`` block's partition count and sorted by it
    (CSR-style), persisted with the plan of that block's policy. A loop's
    joins on ``src`` then read it in place, with no edge-side shuffle or
    sort. The first job that reads it fills the cache, so ``edges`` must
    stay readable until then; the caller unpersists the table.
    """
    return edges.repartition("src").sortWithinPartitions("src").persist()


def exact_sum(col: Column) -> Column:
    """``sum(col)`` of a double that does not depend on the order in
    which tasks finish.

    Observed statistics merge per-task partial sums in completion order,
    and double addition is not associative, so a loop on more than one
    partition could observe a different last bit on every run. Here each
    term is split into its first 18 decimal places and the 18 after them
    (fixed per-row roundings); each part sums exactly as a decimal, in any
    order, and the two totals combine in double. Holds for totals below
    10^20.
    """
    exact = "decimal(38,18)"  # 20 integer and 18 fraction digits
    hi = col.cast(exact)
    lo = ((col - hi.cast("double")) * 1e18).cast(exact)
    return F.sum(hi).cast("double") + F.sum(lo).cast("double") * 1e-18


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


# Spark's size estimate for a relation of unknown size
# (``spark.sql.defaultSizeInBytes``)
UNKNOWN_SIZE = 2**63 - 1


def bound_estimate(leaf: DataFrame) -> DataFrame:
    """``leaf`` (a ``localCheckpoint``) without a size estimate above
    UNKNOWN_SIZE.

    A checkpoint leaf keeps the estimated size of the plan it was cut from
    (``LogicalRDD.originStats``), and a join estimates the product of its
    sides, so a step that joins the state with itself (a pointer jump)
    squares the estimate every iteration: its bit length doubles until
    planning stalls in big-integer multiplies. Above UNKNOWN_SIZE the
    estimate says nothing a planner can use, so the same RDD, partitioning
    and ordering are re-wrapped without it; smaller estimates are kept.
    """
    plan = leaf._jdf.queryExecution().analyzed()
    if plan.stats().sizeInBytes() <= UNKNOWN_SIZE:
        return leaf
    session = leaf.sparkSession
    jvm, jsession = session._jvm, session._jsparkSession
    option = jvm.scala.Option
    unbounded = plan.copy(
        plan.output(), plan.rdd(), plan.outputPartitioning(),
        plan.outputOrdering(), plan.isStreaming(), plan.stream(),
        jsession, option.empty(), option.apply(plan.constraints()),
    )
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(jsession, unbounded),
        session,
    )


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


def footer_lineage(spark: SparkSession, path: str) -> list[dict[str, int]]:
    """Rows per state partition of a committed Parquet snapshot.

    Read from the part files' footers on the driver (no Spark job): file
    ``part-NNNNN-*`` was written by partition ``NNNNN``. Empty partitions
    write no file and are absent, as in ``groupBy(spark_partition_id())``
    (an all-empty snapshot writes one file, with 0 rows).
    """
    fs, hpath, jvm = _fs(spark, path)
    conf = spark._jsc.hadoopConfiguration()
    hadoop = jvm.org.apache.parquet.hadoop
    parts = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if not name.startswith("part-"):
            continue
        reader = hadoop.ParquetFileReader.open(
            hadoop.util.HadoopInputFile.fromStatus(status, conf)
        )
        try:
            parts.append({"partition_id": int(name.split("-")[1]),
                          "rows": reader.getRecordCount()})
        finally:
            reader.close()
    return sorted(parts, key=lambda p: p["partition_id"])


class CheckpointManager:
    """Per-iteration snapshot + manifest directory layout::

        {dir}/iter_00003/state.parquet/part-NNNNN-*.parquet
        {dir}/iter_00003/manifest.json      <- written last (commit marker)
    """

    def __init__(self, spark: SparkSession, directory: str | None):
        self.spark = spark
        self.dir = directory.rstrip("/") if directory else None

    def enabled(self) -> bool:
        return self.dir is not None

    def _iter_dir(self, iteration: int) -> str:
        return f"{self.dir}/iter_{iteration:05d}"

    def _state_path(self, iteration: int) -> str:
        return f"{self._iter_dir(iteration)}/state.parquet"

    def write(self, df: DataFrame, iteration: int | None) -> None:
        """Run ``df`` as one job: written as ``iteration``'s Parquet
        snapshot, or to the ``noop`` sink when ``iteration`` is None."""
        writer = df.write.mode("overwrite")
        if iteration is None:
            writer.format("noop").save()
        else:
            writer.parquet(self._state_path(iteration))

    def commit(self, iteration: int, meta: dict[str, Any]) -> None:
        """Commit ``iteration``'s written snapshot: its manifest holds
        ``meta`` and the snapshot's per-partition row counts."""
        partitions = footer_lineage(self.spark, self._state_path(iteration))
        manifest = {**meta, "iteration": iteration, "partitions": partitions,
                    "rows": sum(p["rows"] for p in partitions),
                    "complete": True}
        _write_text(self.spark, f"{self._iter_dir(iteration)}/{MANIFEST}",
                    json.dumps(manifest, indent=1))

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
        return it, self.spark.read.parquet(self._state_path(it)), manifest

    def manifest(self, iteration: int) -> dict[str, Any]:
        return json.loads(
            _read_text(self.spark, f"{self._iter_dir(iteration)}/{MANIFEST}")
        )


@dataclass
class Fixpoint:
    """What a ``fixpoint`` run returns. ``metrics`` holds this run's
    records; a loop with no convergence test chains its steps, so its
    records between cuts carry ``None`` statistics. ``last`` is always a
    cut's record (the last iteration is a cut), so its statistics are
    set."""

    state: DataFrame  # the final snapshot leaf (or the resumed Parquet state)
    iterations: int
    last: dict[str, Any] | None  # the newest metrics record, if any
    converged: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)

    def settled(self, what: str) -> DataFrame:
        """The final state of a loop whose partial state is a wrong
        answer: when the budget stopped it unconverged, the state is
        released and a ``RuntimeError`` raised instead."""
        if not self.converged:
            release_local_checkpoint(self.state)
            raise RuntimeError(
                f"{what} did not converge in {self.iterations} iterations")
        return self.state


def rows_settled(rows: int) -> Callable[[dict, dict | None], bool]:
    """Convergence test of a peel whose statistic is its state's row
    count: the round removed nothing (the previous count is the last
    record's, or ``rows`` before the first round), or nothing is left."""
    return lambda s, last: s["rows"] in (0, last["rows"] if last else rows)


def fixpoint(
    spark: SparkSession,
    name: str,
    graph: DataFrame,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame, dict[str, Any] | None], tuple[DataFrame, dict]],
    stats: dict[str, Column],
    converged: Callable[[dict[str, Any], dict[str, Any] | None], bool] | None,
    *,
    max_iter: int,
    key: tuple[str, ...] = ("id",),
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 1,
    resume: bool = True,
    identity: str = "",
    inputs: Iterable[DataFrame] = (),
    metrics_out: list[dict[str, Any]] | None = None,
) -> Fixpoint:
    """Iterate ``state ← step(state)`` until ``converged`` or ``max_iter``.

    ``init()`` builds the start state; it is skipped when a checkpoint of
    the same job is resumed. The start state, fresh or resumed, is
    hash-partitioned and sorted by its ``key`` columns (a vertex ``id``
    by default; a peel's edge set by an endpoint) into a lazy
    ``localCheckpoint`` that the first iteration's job materializes.
    ``inputs`` are caches the start state reads; they are unpersisted
    after that job.

    ``step(state, last)`` plans the next state with any extra columns the
    ``stats`` aggregates read, plus notes for the metrics record; ``last``
    is this run's previous record (``None`` on the run's first
    iteration). ``converged(stats, last)`` decides on the statistics and
    the same previous record. ``graph``
    ``(src, dst)`` and ``identity`` (the algorithm's parameters)
    fingerprint the checkpoint directory. See the module docstring for
    the lifecycle.

    The call runs in a ``measure`` block, whose partition count the
    state's ``repartition`` takes from ``loop_policy``.

    With ``converged=None`` the loop has no convergence test and runs
    ``max_iter`` steps, chained lazily and cut every ``CHAIN`` iterations
    and at ``max_iter`` (module docstring); the records between cuts carry
    ``None`` statistics.

    ``Fixpoint.state`` is the final snapshot itself (a leaf the caller
    frees with ``release_local_checkpoint``), so it may carry the step's
    extra columns besides the start state's; callers select their own.
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
    # key-sorted like the edge tables: the per-iteration sort-merge
    # joins skip the state-side Sort, and the snapshots inherit the order
    state = bound_estimate(
        (init() if state is None else state)
        .repartition(*key)
        .sortWithinPartitions(*key)
        .localCheckpoint(eager=False)
    )
    cols = state.columns
    aggs = [c.alias(k) for k, c in stats.items()]
    records, iteration, done, chain = [], start, False, state
    while not done and iteration < max_iter:
        iteration += 1
        t0 = time.monotonic()
        prev = records[-1] if records else None
        chain, notes = step(chain.select(*cols), prev)
        values, save = dict.fromkeys(stats), False  # None: nothing observed
        if converged is not None or iteration % CHAIN == 0 \
                or iteration >= max_iter:
            snapshot = bound_estimate(chain.localCheckpoint(eager=False))
            save = ckpt.enabled() and (
                iteration % checkpoint_interval == 0 or iteration >= max_iter
            )
            obs = Observation()
            # the cut's one job: computes the chained steps, caches and
            # truncates the snapshot, writes it (durably on a save
            # iteration) and observes the statistics on the way
            ckpt.write(snapshot.observe(obs, *aggs).select(*cols),
                       iteration if save else None)
            release_inputs()
            release_local_checkpoint(state)
            state = chain = snapshot
            # sums over an empty state are NULL
            observed = obs.get
            values = {k: 0 if observed[k] is None else observed[k]
                      for k in stats}
            done = converged is not None and converged(values, prev)
        record = {"iteration": iteration, **values, **notes,
                  "converged": done,
                  "total_s": round(time.monotonic() - t0, 4)}
        records.append(record)
        if metrics_out is not None:
            metrics_out.append(record)
        if ckpt.enabled() and done and not save:
            # converged between cadence points: save the cached state
            save = True
            ckpt.write(state.select(*cols), iteration)
        if save:
            # durable resume point; iterating continues on the cached copy
            ckpt.commit(iteration, {"algo": name, "fingerprint": fingerprint,
                                    "metrics": record})
    release_inputs()  # zero iterations: the lazy start state never ran
    return Fixpoint(state, iteration, records[-1] if records else last, done,
                    records)


def frontier(
    start: DataFrame,
    expand: Callable[[DataFrame, int], DataFrame],
    *,
    key: tuple[str, ...],
    max_depth: int,
    metrics_out: list[dict[str, Any]] | None = None,
) -> tuple[list[DataFrame], list[int]]:
    """Level-synchronous expansion from ``start`` → ``(slices, rows)``.

    Slice 0 is ``start``; slice ``d`` is ``expand(slice d−1, d)`` minus
    every ``key`` an earlier slice holds. That visited set is a lazy
    union of the slice leaves, so no level re-materializes it. Each level
    is one job: the slice is computed into a lazy ``localCheckpoint``,
    cached, and its row count observed on the way. The loop stops after
    an empty slice (released here) or at ``max_depth``; depth truncation
    is the caller's declared semantics, so it does not raise.

    The slices and their exact row counts are the caller's; it frees the
    slices with ``release_local_checkpoint``. The call runs in a
    ``measure`` block, and levels 1.. append ``{iteration, rows,
    converged, total_s}`` records (converged: the slice is empty) to
    ``metrics_out``.
    """
    slices: list[DataFrame] = []
    rows: list[int] = []
    visited = None
    for depth in range(max_depth + 1):
        t0 = time.monotonic()
        plan = (
            start.repartition(*key)
            if visited is None
            else expand(slices[-1], depth).join(visited, list(key),
                                                "left_anti")
        )
        level = bound_estimate(plan.localCheckpoint(eager=False))
        obs = Observation()
        level.observe(obs, F.count("*").alias("rows")) \
            .write.format("noop").mode("overwrite").save()
        n = obs.get["rows"]
        if depth and metrics_out is not None:
            metrics_out.append({"iteration": depth, "rows": n,
                                "converged": n == 0,
                                "total_s": round(time.monotonic() - t0, 4)})
        if n == 0:
            release_local_checkpoint(level)
            break
        slices.append(level)
        rows.append(n)
        seen = level.select(*key)
        visited = seen if visited is None else visited.unionByName(seen)
    return slices, rows
