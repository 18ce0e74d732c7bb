"""k-core decomposition by iterative peeling (degeneracy analysis).

No reference counterpart (the reference computes only PageRank);
standard definition: the k-core is the maximal induced subgraph of the
undirected simple graph in which every vertex has degree ≥ k. Obtained
by repeatedly deleting vertices of degree < k until none remain — the
order of deletion does not matter (the fixpoint is unique), so the
level-synchronous rounds below compute the exact core.

Per-round plan: one degree aggregation over the current (cached) edge
set, then an anti-join of the edge set against the REMOVED vertex set
on each endpoint. The removed set is the small side — after the first
round it is typically a sliver of |V| — so it is broadcast when its
size (already known from the convergence count) is below a threshold,
making steady-state rounds one aggregation shuffle plus two map-side
broadcast anti-joins over an edge set that only ever shrinks. Edges are
re-persisted per round and the predecessor released, so the 100 TB scan
is paid once and each round touches only the surviving subgraph.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import symmetrize
from distributed_pagerank_spark.plans.loop import (
    LOOP_CONFS,
    conf_scope,
    release_local_checkpoint,
)

# removed-vertex sets at or below this row count ship as broadcast
# anti-joins (two map-side passes, no shuffle of the big edge side)
BROADCAST_REMOVED_MAX = 1_000_000


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
    num_partitions: int | None = None,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Vertices of the k-core with their in-core degree → ``(id, degree)``.

    Empty result when no k-core exists. ``k < 1`` is rejected (the 0-core
    is the whole vertex set including isolated vertices, which an edge
    list cannot represent).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    cur = (
        symmetrize(edges)
        .repartition(num_partitions, "src")
        .persist()
    )
    cur.count()
    metrics = metrics_out if metrics_out is not None else []
    # ONE job per round (r6 third wave): the surviving edge set is a
    # LAZY localCheckpoint whose materializing action is the NEXT
    # round's removed-count (which scans it for degrees anyway) — the
    # old shape paid a second count job per round just to materialize.
    # Leaf slices also cut the logical plan every round. Predecessor state
    # is released only AFTER the count that materializes its successor.
    pending: list[DataFrame] = []

    with conf_scope(spark, LOOP_CONFS):
        for rnd in range(1, max_iter + 1):
            t0 = time.monotonic()
            deg = cur.groupBy(F.col("src").alias("id")).agg(
                F.count("*").alias("degree")
            )
            removed = deg.where(F.col("degree") < k).select("id").persist()
            n_removed = removed.count()
            for df in pending:
                release_local_checkpoint(df)
            pending = []
            if n_removed == 0:
                removed.unpersist()
                metrics.append(
                    {"round": rnd, "removed": 0,
                     "total_s": round(time.monotonic() - t0, 4)}
                )
                break
            rem = (
                F.broadcast(removed)
                if n_removed <= BROADCAST_REMOVED_MAX
                else removed
            )
            nxt = (
                cur.join(rem, cur["src"] == rem["id"], "left_anti")
                .join(rem, cur["dst"] == rem["id"], "left_anti")
                .localCheckpoint(eager=False)
            )
            # cur and removed are referenced by nxt's un-materialized
            # plan — release them after the next materializing count
            pending = [cur, removed]
            cur = nxt
            metrics.append(
                {"round": rnd, "removed": n_removed,
                 "total_s": round(time.monotonic() - t0, 4)}
            )

    out = (
        cur.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("long").alias("degree"))
        .localCheckpoint(eager=True)
    )
    for df in pending:
        release_local_checkpoint(df)
    release_local_checkpoint(cur)
    return out


def coreness(
    spark: SparkSession,
    edges: DataFrame,
    max_k: int = 1000,
    max_iter_per_level: int = 100,
    num_partitions: int | None = None,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Full core decomposition → ``(id, core)`` for every vertex of the
    undirected simple graph (core = the largest k whose k-core contains
    the vertex; the degeneracy ordering's level function).

    Level-synchronous peeling: for k = 1, 2, …, peel the current
    subgraph to its k-core; every vertex removed on the way has
    ``core = k − 1``. Total rounds = Σ_k (peel depth at level k) — the
    standard distributed coreness (Montresor et al.'s batch variant),
    each round one degree aggregation + two broadcast anti-joins over a
    monotonically shrinking edge set. Vertices with no qualifying edge
    at level 1 (isolated after self-loop removal) get core 0.
    """
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    metrics = metrics_out if metrics_out is not None else []
    raw = edges.select("src", "dst").persist()
    cur = (
        symmetrize(raw)
        .repartition(num_partitions, "src")
        .localCheckpoint(eager=True)
    )
    # vertex set from the raw input: self-loop-only / isolated-by-dedup
    # vertices never enter the peel and carry core 0
    from distributed_pagerank_spark.operators.degrees import (
        vertices_from_edges,
    )

    all_verts = vertices_from_edges(raw).localCheckpoint(eager=True)
    raw.unpersist()
    # the ALIVE vertex set is tracked explicitly: a vertex that loses all
    # its edges mid-level vanishes from the edge table, so "degree < k"
    # computed from edges alone would never see it (degree 0 rows don't
    # exist) and it would never be assigned its core
    alive = (
        vertices_from_edges(cur.select("src", "dst"))
        .localCheckpoint(eager=True)
    )
    assigned_parts: list[DataFrame] = []
    removed_leaves: list[DataFrame] = []  # released after `out` materializes
    # ONE job per peel round (r6 third wave, same shape as k_core): the
    # removed set's count is the only materializing action — it also
    # computes the previous round's LAZY edge/alive successors on the
    # way (the degree scan reads both), so the old per-round pair of
    # eager edge/alive checkpoint jobs disappears. Predecessors are
    # released only after the count that materializes their successors.
    pending: list[DataFrame] = []

    with conf_scope(spark, LOOP_CONFS):
        k = 0
        while k < max_k:
            k += 1
            level_removed = 0
            t0 = time.monotonic()
            for _ in range(max_iter_per_level):
                deg = cur.groupBy(F.col("src").alias("id")).agg(
                    F.count("*").alias("degree")
                )
                removed = (
                    alive.join(deg, "id", "left")
                    .where(F.coalesce("degree", F.lit(0)) < k)
                    .select("id")
                    .localCheckpoint(eager=False)
                )
                n_removed = removed.count()
                for df in pending:
                    release_local_checkpoint(df)
                pending = []
                if n_removed == 0:
                    release_local_checkpoint(removed)
                    break
                level_removed += n_removed
                removed_leaves.append(removed)
                assigned_parts.append(
                    removed.select(
                        "id", F.lit(k - 1).cast("long").alias("core")
                    )
                )
                rem = (
                    F.broadcast(removed)
                    if n_removed <= BROADCAST_REMOVED_MAX
                    else removed
                )
                nxt = (
                    cur.join(rem, cur["src"] == rem["id"], "left_anti")
                    .join(rem, cur["dst"] == rem["id"], "left_anti")
                    .localCheckpoint(eager=False)
                )
                nxt_alive = alive.join(
                    rem, alive["id"] == rem["id"], "left_anti"
                ).localCheckpoint(eager=False)
                pending = [cur, alive]
                cur, alive = nxt, nxt_alive
            metrics.append(
                {"k": k, "removed": level_removed,
                 "total_s": round(time.monotonic() - t0, 4)}
            )
            if alive.isEmpty():
                break

    release_local_checkpoint(cur)
    for df in pending:
        release_local_checkpoint(df)
    labeled = None
    for part in assigned_parts:
        labeled = part if labeled is None else labeled.unionByName(part)
    if labeled is None:
        out = all_verts.select(
            "id", F.lit(0).cast("long").alias("core")
        ).localCheckpoint(eager=True)
        release_local_checkpoint(all_verts)
        release_local_checkpoint(alive)
        return out
    out = (
        all_verts.join(labeled, "id", "left")
        .select(
            "id", F.coalesce("core", F.lit(0)).cast("long").alias("core")
        )
        .localCheckpoint(eager=True)
    )
    for leaf in removed_leaves:
        release_local_checkpoint(leaf)
    release_local_checkpoint(all_verts)
    release_local_checkpoint(alive)
    return out
