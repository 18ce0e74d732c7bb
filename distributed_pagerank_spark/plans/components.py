"""Connected components via hash-min label exchange (north-rule N1).

No reference implementation exists (the reference computes only PageRank);
semantics fixed by SURVEY §2.4: treat edges as undirected, iterate
``label(v) ← min(label(v), min over neighbors' labels)`` to fixpoint.
Exact output: ``(id, component)`` where component = min vertex id in the
component.

Per-iteration plan: one join of the label vector into the cached
symmetrized edge table, one min-aggregation by dst, one left join back —
the same shuffle structure as the PageRank loop, so the same scale
properties hold (static edges cached + pre-partitioned; only the label
vector moves). Convergence = zero changed labels (scalar agg).

Three algorithms, identical output (same fixpoint):

- ``algorithm='hashmin'`` — the plain exchange above: O(diameter)
  rounds. Fine for shallow graphs (conversation chains of ≤12 turns),
  and the SQL-twinnable oracle tier (fixed-iteration unrolled twin).
- ``algorithm='pointer'`` — hash-min + pointer jumping: each round
  additionally folds in ``label(label(v))`` via a self-join of the
  label vector, halving pointer-chain depth per round →
  O(log diameter) rounds. Labels only ever decrease and always name a
  vertex of the same component, and any state that is not the
  component-min is not a hash-min fixpoint, so the fixpoint is identical
  to hash-min's. This is the deep-graph path: a 10^5-long chain
  converges in ~17 rounds instead of 10^5.
- ``algorithm='hybrid'`` (DEFAULT) — plain hash-min, switching the jump
  join on permanently the first time the per-round ``changed`` count
  goes FLAT (``0.7 × prev < changed ≤ prev``). Flat decay is the
  signature of a long pointer chain draining one hop per round (a
  length-n chain changes n−t labels in round t → ratio ≈ 1), which is
  exactly when pointer jumping pays. Shallow graphs never trip it:
  their ``changed`` series is an expanding-then-collapsing wave
  (measured on the supplier co-occurrence graph: [1000, 14998, 937,
  1602, 0] — every ratio is either growth > 1 or collapse < 0.7), so
  the |V|-sized jump self-join — a measured ~1.3× per-round tax that
  buys zero round reduction there — never runs. A round-20 backstop
  arms the jumps unconditionally in case an adversarial ``changed``
  series ping-pongs around the flat band forever, bounding any run at
  20 + O(log diameter) rounds.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import (
    symmetrize,
    vertices_from_edges,
)
from distributed_pagerank_spark.plans.loop import (
    conf_scope,
    fixpoint,
    loop_partitions,
    loop_policy,
)

# hybrid: a round whose ``changed`` count stays above this fraction of the
# previous round's (without growing) arms pointer jumping
STALL_DECAY = 0.7
# hybrid: rounds after which pointer jumping is armed unconditionally
JUMP_BACKSTOP_ROUND = 20


def label_exchange(
    spark: SparkSession,
    edges: DataFrame,
    name: str,
    label: str,
    step: Callable[[DataFrame, DataFrame, dict[str, Any] | None],
                   tuple[DataFrame, dict]],
    num_partitions: int | None = None,
    **loop: Any,
) -> DataFrame:
    """Run a label-exchange fixpoint over the undirected view of ``edges``
    → ``(id, <label>)``.

    Every vertex starts labelled with its own id. ``step(sym, labels,
    last)`` gets the cached symmetrized ``(src, dst)`` table and plans
    ``(id, old, <label>)``; the loop stops when no label changed.
    ``loop`` passes ``max_iter`` and the checkpoint options on to
    ``fixpoint``. The loop's partition count is ``num_partitions``, or
    else sized from the measured bytes of the cached input
    (``loop_partitions``).
    """
    # one scan of the raw input: the 2-column projection is cached and the
    # symmetrized table AND the vertex set (which must keep self-loop-only
    # vertices that symmetrize drops) both derive from it
    raw = edges.select("src", "dst").persist()
    num_partitions = loop_partitions(raw, num_partitions)
    with conf_scope(spark, loop_policy(num_partitions)):
        sym = (
            symmetrize(raw)
            .repartition(num_partitions, "src")
            .sortWithinPartitions("src")
            .persist()
        )
        sym.count()
    run = fixpoint(
        spark, name, sym,
        lambda: vertices_from_edges(raw).select("id", F.col("id").alias(label)),
        lambda labels, last: step(sym, labels, last),
        {"changed": F.sum((F.col(label) != F.col("old")).cast("long"))},
        lambda s, _: s["changed"] == 0,
        num_partitions=num_partitions, inputs=[raw], **loop,
    )
    sym.unpersist()
    return run.state.select("id", label)


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 1,
    resume: bool = True,
    num_partitions: int | None = None,
    metrics_out: list[dict[str, Any]] | None = None,
    algorithm: str = "hybrid",
) -> DataFrame:
    """→ ``(id long, component long)`` at fixpoint.

    ``checkpoint_dir`` makes the run resumable (``plans/loop.py``).
    Without it the iteration state lives in unreplicated local
    checkpoints, and losing an executor mid-run aborts the run; with it,
    rerunning the same call resumes from the last durable iteration.
    """
    if algorithm not in ("hashmin", "pointer", "hybrid"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    jumping = algorithm == "pointer"  # hybrid arms this on stall
    prev_changed: int | None = None
    rounds = 0

    def step(sym: DataFrame, labels: DataFrame, last: dict[str, Any] | None):
        nonlocal jumping, prev_changed, rounds
        if last is not None:
            changed = last["changed"]
            if algorithm == "hybrid" and not jumping and (
                (
                    prev_changed is not None
                    and STALL_DECAY * prev_changed < changed <= prev_changed
                )
                or rounds >= JUMP_BACKSTOP_ROUND
            ):
                # flat decay = a long pointer chain draining one hop per
                # round: switch the O(log d) jump join on for the rest of
                # the run. (Growth > 1 is an expanding wave on a shallow
                # graph — healthy hash-min progress, no jumps.)
                jumping = True
            prev_changed = changed
        rounds += 1
        nbr = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("component").alias("nbr_min"))
        )
        candidate = F.coalesce(F.col("nbr_min"), F.col("component"))
        nxt = labels.join(nbr, labels["id"] == nbr["dst"], "left")
        if jumping:
            # pointer jump: label(label(v)). Every label value is a vertex
            # id (init = own id; min over ids), so the self-join resolves.
            # The label vector is |V|-sized — this join shuffles only it.
            jump = labels.select(
                F.col("id").alias("__lid"), F.col("component").alias("__lcomp")
            )
            nxt = nxt.join(jump, F.col("component") == F.col("__lid"), "left")
            candidate = F.least(
                candidate, F.coalesce(F.col("__lcomp"), F.col("component"))
            )
        return nxt.select(
            "id",
            F.col("component").alias("old"),
            F.least(F.col("component"), candidate).alias("component"),
        ), {"jumping": jumping}

    return label_exchange(
        spark, edges, "connected_components", "component", step,
        num_partitions=num_partitions, max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, checkpoint_interval=checkpoint_interval,
        resume=resume, metrics_out=metrics_out,
    )
