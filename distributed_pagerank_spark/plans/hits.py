"""HITS (hubs & authorities) — the directed companion to PageRank.

No reference implementation exists (lioia/distributed-pagerank computes
only PageRank); semantics are Kleinberg's mutual-reinforcement fixpoint
with per-step L1 normalization:

- ``auth_i(v) = Σ_{(u,v)∈E} hub_{i-1}(u)``, then ``auth_i /= Σ auth_i``
- ``hub_i(u)  = Σ_{(u,v)∈E} auth_i(v)``,   then ``hub_i  /= Σ hub_i``

(L1 rather than L2 normalization — the scale factor is arbitrary for the
power iteration, and L1 keeps the fixed-k oracle twin in exact decimal
SQL, no sqrt.)

The loop is one ``fixpoint`` (``plans/loop.py``) of ``max_iter + 1``
supersteps, one Spark job each, over the state ``(id, auth_raw, auth,
hub_raw)``. Because L1 normalization is scale-invariant, the hub vector
needs no normalization of its own inside the loop (the scalar cancels in
the next auth normalization). Superstep ``j``:

- normalizes the raw ``auth_{j-1}`` by the previous record's ``a_mass``
  into ``auth``;
- gathers ``hub_raw = E·auth_{j-1}`` (superstep 1 uses the uniform
  ``hub_0`` of the start state directly) and from it the next raw
  authority vector ``auth_raw = Eᵀ·hub_raw``;
- observes on its write ``a_mass = Σ auth_raw``, ``h_mass = Σ hub_raw``
  and ``delta = Σ|auth_{j-1} − auth_{j-2}|`` (0 on superstep 1), all with
  ``exact_sum`` (exact long digit sums, so the scores do not depend on
  task completion order; each mass must stay below 2^62).

So the metrics record of superstep ``j`` reports iteration ``j − 1``'s
delta, which stops the loop when ``eps > 0`` and ``delta ≤ eps``; the
final leaf then already holds that iteration's authorities and its
un-normalized hubs, read off with ``h_mass``. The last superstep's
``auth_raw`` gather goes unused: it is the price of reading the hubs off
the loop's own write instead of a job of their own.

Scale shape: the edge table is cached twice in the loop's sized
partition count, forward (partitioned by ``src``) and reversed
(partitioned by ``dst``), so both gathers join the state in place and
only the |V|-sized score vectors are shuffled — two shuffles per
superstep, no edge re-shuffle. At 100 TB the duplicated edge cache
trades 2× storage for zero per-iteration edge shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import vertices_from_edges
from distributed_pagerank_spark.plans.loop import (
    edge_table,
    exact_sum,
    fixpoint,
    measure,
)


@dataclass
class HitsResult:
    scores: DataFrame  # (id long, hub double, auth double)
    iterations: int
    delta: float
    converged: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def hits(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 20,
    eps: float = 0.0,
) -> HitsResult:
    """Run HITS to ``max_iter`` rounds, or until the L1 delta of the
    authority vector is ≤ ``eps`` when ``eps > 0``.

    Returns normalized ``(id, hub, auth)`` over all vertices; vertices
    with no in-links get auth 0, with no out-links hub 0. The scores are
    a lazy view over the final snapshot, a ``localCheckpoint`` leaf that
    stays cached until nothing references the scores
    (``release_local_checkpoint`` of the scores does not free it; see
    ``plans/loop.py``). The iteration state lives only in unreplicated
    local checkpoints, so losing an executor mid-run aborts the run.
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    with measure(edges.select("src", "dst").distinct()) as (e, rows):
        if rows == 0:
            raise ValueError("empty edge table: no vertices to score")
        fwd = edge_table(e)
        rev = edge_table(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

        def init() -> DataFrame:
            # auth_0 = hub_0 = 1/n; the vertex count rides the first job
            verts = vertices_from_edges(e)
            cnt = verts.agg(F.count(F.lit(1)).alias("__n"))
            uniform = F.lit(1.0) / F.col("__n")
            return verts.crossJoin(F.broadcast(cnt)).select(
                "id", uniform.alias("auth_raw"), uniform.alias("auth"),
                uniform.alias("hub_raw"),
            )

        def step(state: DataFrame, last: dict[str, Any] | None):
            auth = F.col("auth_raw")
            if last is not None:
                auth = auth / F.lit(float(last["a_mass"] or 1.0))
            cur = state.select("id", auth.alias("auth"),
                               F.col("auth").alias("auth_old"), "hub_raw")
            if last is not None:  # superstep 1 reads the start state's hub_0
                hub = (
                    rev.join(cur, rev["src"] == cur["id"])
                    .groupBy(F.col("dst").alias("hid"))
                    .agg(F.sum("auth").alias("h"))
                )
                cur = cur.join(hub, cur["id"] == hub["hid"], "left").select(
                    "id", "auth", "auth_old",
                    F.coalesce(F.col("h"), F.lit(0.0)).alias("hub_raw"),
                )
            a_sums = (
                fwd.join(cur, fwd["src"] == cur["id"])
                .groupBy("dst")
                .agg(F.sum("hub_raw").alias("a"))
            )
            return cur.join(a_sums, cur["id"] == a_sums["dst"], "left").select(
                "id", F.coalesce(F.col("a"), F.lit(0.0)).alias("auth_raw"),
                "auth", "hub_raw", "auth_old",
            ), {}

        stats = {
            "a_mass": exact_sum(F.col("auth_raw")),
            "h_mass": exact_sum(F.col("hub_raw")),
            "delta": exact_sum(F.abs(F.col("auth") - F.col("auth_old"))),
        }
        run = fixpoint(
            spark, "hits", e, init, step, stats,
            lambda s, last: eps > 0 and last is not None and s["delta"] <= eps,
            max_iter=max_iter + 1, inputs=[e],
        )
    h_mass = float(run.last["h_mass"] or 1.0)
    scores = run.state.select(
        "id", (F.col("hub_raw") / F.lit(h_mass)).alias("hub"), "auth"
    )
    return HitsResult(scores, run.iterations - 1, run.last["delta"],
                      run.converged, run.metrics)
