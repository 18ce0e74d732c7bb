"""Multi-seed personalized PageRank — K personalization vectors in one loop.

Batched PPR is how personalization runs at corpus scale: the expensive
per-iteration artifacts (the edge ⋈ out-degree product, its scan, and
its shuffle) are shared across every seed set, so K vectors cost one
edge pass per iteration plus sparse per-set state — not K independent
PageRank jobs. The state is keyed ``(set_id, id)`` and is SPARSE: a row
exists only where a vertex is in the seed support or has received mass
through an in-edge, so for local seed sets on a large graph the state
stays a small fraction of |V| per set (it grows with the k-hop
neighbourhood, not the graph).

Semantics per set (reference damping, ``pkg/graph/pagerank.go:21-45``):

    rank_0(v)   = e(v)                     (the normalized seed vector)
    rank_i(v)   = c · Σ_{u→v} rank_{i-1}(u) / outdeg(u) + (1−c) · e(v)
    output      = rank_k / Σ_v rank_k      (per-set normalization)

Dangling mass is dropped each iteration and repaired by the final
per-set normalization — the reference's semantics, applied per set.

The loop is one ``fixpoint`` (``plans/loop.py``) with no convergence
test: a fixed iteration count, as PPR is usually run with a small k.
Each step references the state once (the contribution join; the update
joins the pinned seed cache), so the plan grows linearly and the harness
chains the steps lazily, cutting them in one Spark job every
``loop.CHAIN`` iterations and at iteration k. The metrics records carry
``state_rows`` at those cuts and ``None`` between them, and ``converged``
is always False, as HITS reports at ``eps=0``. For convergence-driven
runs and checkpoint/resume use ``plans.pagerank`` per seed vector.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.plans.loop import (
    fixpoint,
    release_local_checkpoint,
)
from distributed_pagerank_spark.plans.pagerank import _prepare_edges


def personalized_pagerank_multi(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    c: float = 0.85,
    k: int = 5,
    dup_policy: str = "reference",
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Run ``k`` PPR iterations for every seed set in ``seeds`` at once.

    ``seeds``: ``(set_id, id, weight)`` with ``weight > 0`` — each set is
    normalized to a distribution internally. Returns ``(set_id, id,
    rank)`` for the sparse support of each set, per-set normalized; it
    reads the final state leaf, which the caller owns (free it with
    ``release_local_checkpoint``).

    Scale shape per iteration: one join of the sparse state against the
    shared edge product (state side exchanges on ``id`` — the sparse
    stream, never the edges), one ``(set_id, dst)`` aggregation, and one
    co-partitioned full-outer against the cached seed vectors. The edge
    product is built and persisted ONCE for all sets and iterations.
    """
    # PPR never needs the vertex set, only edge reach
    with _prepare_edges(edges, dup_policy) as (edges_w, _verts, ecnt, _m):
        # per-set normalized seed vector, pinned on (set_id, id): every
        # iteration's full-outer reuses this layout. No count of its own:
        # the cache fills inside the first cut's job
        totals = seeds.groupBy("set_id").agg(F.sum("weight").alias("__tot"))
        e_vec = (
            seeds.join(F.broadcast(totals), "set_id")
            .select(
                "set_id", "id",
                (F.col("weight").cast("double") / F.col("__tot")).alias("e"),
            )
            .repartition("set_id", "id")
            .persist()
        )

        def step(state: DataFrame, last: dict[str, Any] | None):
            contribs = (
                state.join(edges_w, state["id"] == edges_w["src"])
                .groupBy("set_id", F.col("dst").alias("id"))
                .agg(F.sum(F.col("rank") / F.col("out_degree")).alias("__s"))
            )
            return contribs.join(e_vec, ["set_id", "id"], "full_outer").select(
                "set_id", "id",
                (
                    F.lit(c) * F.coalesce(F.col("__s"), F.lit(0.0))
                    + F.lit(1.0 - c) * F.coalesce(F.col("e"), F.lit(0.0))
                ).alias("rank"),
            ), {}

        try:
            # no convergence test: the harness chains the steps between cuts
            run = fixpoint(
                spark, "ppr", edges_w,
                lambda: e_vec.select("set_id", "id", F.col("e").alias("rank")),
                step, {"state_rows": F.count(F.lit(1))}, None,
                max_iter=k, key=("set_id", "id"), inputs=[ecnt],
                metrics_out=metrics_out,
            )
            # state ⊇ the seed support (full-outer against e_vec): an
            # empty state means the seeds were empty
            rows = run.state.count() if run.last is None \
                else run.last["state_rows"]
            if rows == 0:
                release_local_checkpoint(run.state)
                raise ValueError(
                    "empty seeds: no personalization vectors to rank")
        finally:
            e_vec.unpersist()
    sums = run.state.groupBy("set_id").agg(F.sum("rank").alias("__sum"))
    return (
        run.state.join(F.broadcast(sums), "set_id")
        .select("set_id", "id", (F.col("rank") / F.col("__sum")).alias("rank"))
    )
