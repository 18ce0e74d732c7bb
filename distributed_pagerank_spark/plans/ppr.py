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
Fixed iteration count (PPR is usually run with small fixed k); for
convergence-driven runs and checkpoint/resume use ``plans.pagerank``
per seed vector.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.plans.loop import (
    conf_scope,
    loop_policy,
    release_local_checkpoint,
)
from distributed_pagerank_spark.plans.pagerank import _prepare_edges

# iterations chained lazily between two materialization barriers
BARRIER_INTERVAL = 5


def personalized_pagerank_multi(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    c: float = 0.85,
    k: int = 5,
    num_partitions: int | None = None,
    dup_policy: str = "reference",
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Run ``k`` PPR iterations for every seed set in ``seeds`` at once.

    ``seeds``: ``(set_id, id, weight)`` with ``weight > 0`` — each set is
    normalized to a distribution internally. Returns ``(set_id, id,
    rank)`` for the sparse support of each set, per-set normalized.

    Scale shape per iteration: one join of the sparse state against the
    shared edge product (state side exchanges on ``id`` — the sparse
    stream, never the edges), one ``(set_id, dst)`` aggregation, and one
    co-partitioned full-outer against the cached seed vectors. The edge
    product is built and persisted ONCE for all sets and iterations.
    """
    edges_w, _verts, ecnt, _m, num_partitions = _prepare_edges(
        spark, edges, dup_policy, num_partitions
    )
    ecnt.unpersist()  # PPR never needs the vertex set — only edge reach

    # per-set normalized seed vector, pinned on (set_id, id): both the
    # per-iteration full-outer and the final per-set sum reuse this layout
    totals = seeds.groupBy("set_id").agg(F.sum("weight").alias("__tot"))
    e_vec = (
        seeds.join(F.broadcast(totals), "set_id")
        .select(
            "set_id", "id",
            (F.col("weight").cast("double") / F.col("__tot")).alias("e"),
        )
        .repartition(num_partitions, "set_id", "id")
        .persist()
    )
    # no eager count: the cache fills inside the first barrier job below
    # (the chained plan references e_vec once per iteration — the first
    # task computing a partition caches it, the rest read it), and the
    # empty-seeds check rides the barrier's row count (state is a
    # full-outer against e_vec, so state rows ⊇ seed rows — 0 at a
    # barrier iff the seeds were empty). One setup job less (r6).

    # initial state is a projection over e_vec. Iteration 1 reads it
    # through the (lazily-filled) cache; only a zero-iteration call
    # (k=0) pins and counts it, keeping the check and a materialized
    # backing on that path too.
    state = e_vec.select("set_id", "id", F.col("e").alias("rank"))

    def empty_seeds(snapshot: DataFrame) -> ValueError:
        # the caller gets no result to own: release every cache first
        release_local_checkpoint(snapshot)
        edges_w.unpersist()
        e_vec.unpersist()
        return ValueError("empty seeds: no personalization vectors to rank")

    if k < 1:
        state = state.persist()
        if state.count() == 0:
            raise empty_seeds(state)

    metrics = metrics_out if metrics_out is not None else []
    prev_snapshot = state if k < 1 else None

    # Fixed iteration count, no per-iteration convergence statistic, and
    # the state appears exactly ONCE in each iteration's plan (the
    # contribution join; the update joins the pinned seed cache, not the
    # state) — so the logical plan grows LINEARLY per iteration and
    # iterations can chain LAZILY between materialization barriers.
    # A barrier every ``BARRIER_INTERVAL`` iterations
    # (and always at iteration k) lazily checkpoints the chain and uses
    # the row count as the materializing action: one driver job per
    # barrier instead of one per iteration, with the same exchanges
    # inside. ``state_rows`` is recorded at barriers (None between —
    # nothing materializes there to count).
    with conf_scope(spark, loop_policy(num_partitions)):
        for iteration in range(1, k + 1):
            t0 = time.monotonic()
            contribs = (
                state.join(edges_w, state["id"] == edges_w["src"])
                .groupBy("set_id", F.col("dst").alias("id"))
                .agg(F.sum(F.col("rank") / F.col("out_degree")).alias("__s"))
            )
            new_state = contribs.join(e_vec, ["set_id", "id"], "full_outer").select(
                "set_id", "id",
                (
                    F.lit(c) * F.coalesce(F.col("__s"), F.lit(0.0))
                    + F.lit(1.0 - c) * F.coalesce(F.col("e"), F.lit(0.0))
                ).alias("rank"),
            )
            rows = None
            if iteration % BARRIER_INTERVAL == 0 or iteration == k:
                new_state = new_state.localCheckpoint(eager=False)
                rows = new_state.count()
                if rows == 0:
                    # state ⊇ the seed support (full-outer against e_vec):
                    # an empty barrier means the seeds were empty
                    raise empty_seeds(new_state)
                if prev_snapshot is not None:
                    release_local_checkpoint(prev_snapshot)
                prev_snapshot = new_state
            state = new_state
            metrics.append(
                {"iteration": iteration, "state_rows": rows,
                 "total_s": round(time.monotonic() - t0, 4)}
            )

    sums = state.groupBy("set_id").agg(F.sum("rank").alias("__sum"))
    out = (
        state.join(F.broadcast(sums), "set_id")
        .select("set_id", "id", (F.col("rank") / F.col("__sum")).alias("rank"))
    )
    # the result reads the materialized state cache; inputs can go (a
    # cache eviction would recompute them from lineage, correctly)
    edges_w.unpersist()
    e_vec.unpersist()
    return out
