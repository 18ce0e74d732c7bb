"""Betweenness centrality from sampled roots (multi-root Brandes).

No reference counterpart (the reference computes only PageRank,
``pkg/graph/pagerank.go``); standard Brandes (2001) dependency
accumulation, run for K roots simultaneously — the exact algorithm when
the roots are all vertices, the canonical unbiased sampling
approximation (Brandes–Pich) when they are a subset. ``max_depth``
additionally truncates to paths of at most that many hops
(bounded-distance betweenness) so web-scale graphs pay a fixed round
count; both the sampling and the truncation are part of the declared
semantics, not hidden error.

Two level-synchronous passes, each one join per round over a shared
persisted edge table (the multi-source-BFS economy, ``plans/bfs.py``):

- forward: per level, frontier ⋈ edges → ``groupBy(root, dst)
  .sum(sigma)`` → anti-join the visited set — sigma(v) = number of
  shortest s→v paths, accumulated level by level;
- backward: per level (deepest first), successors hand back
  ``sigma(v)/sigma(w) · (1 + delta(w))`` along edges into the level
  below; betweenness(v) = Σ over roots of delta(v), roots excluded.

The forward pass is ``plans.loop.frontier``, keyed ``(root, id)``: one
job per level, each level a flat localCheckpoint slice (bounded by
max_depth) with its exact row count, so lineage never grows and the
backward pass re-reads exactly the rows it needs. The visited set is a
lazy union over those slice leaves, so no level pays an O(|visited|)
re-materialization.

The backward hand-back picks its join shape per level from the EXACT
slice row counts the forward pass already established (checkpoint
leaves have unknown stats, so the planner cannot make these calls
itself): when the successor slice is broadcastable and smaller than
the current level, the per-successor factor ``(1+delta_w)/sigma_w``
joins the edge table broadcast and is summed map-side BEFORE touching
the current level — the (root, v→w) segment stream then lives and
dies inside one codegen stage instead of crossing an exchange
(measured 8× on the bench graph's 26M-segment level); otherwise the
classic agg + left-join shape runs, with size-gated broadcast hints.
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import symmetrize
from distributed_pagerank_spark.plans.loop import (
    conf_scope,
    edge_table,
    frontier,
    loop_partitions,
    loop_policy,
    release_local_checkpoint,
)


def _broadcast_row_limit(spark: SparkSession) -> int:
    """Max rows of a (root, wid, wsigma, wdelta) slice that may broadcast.

    Checkpointed slices are LogicalRDD leaves with UNKNOWN stats, so the
    planner can never auto-broadcast them — but the loop knows each
    slice's exact row count from the forward pass. Gate on the session's
    own ``autoBroadcastJoinThreshold`` (0 when disabled) at a
    conservative 64 bytes/row (32 data + hashed-relation overhead), so
    the hint scales with the conf, not with one host's memory. Read it before
    entering ``loop_policy``, which turns automatic broadcasts off.
    """
    threshold = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    return max(0, threshold) // 64


def betweenness(
    spark: SparkSession,
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int = 10,
    directed: bool = False,
    num_partitions: int | None = None,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Depth-truncated Brandes betweenness from ``roots`` →
    ``(id, betweenness)`` for every vertex reached by some root.

    ``roots``: one ``root`` column (vertex ids). ``directed=False``
    (default) symmetrizes the edge table. A vertex's score counts only
    dependencies of the sampled roots (scale by |V|/K for the
    Brandes–Pich estimate of the full sum). The result is a
    ``localCheckpoint`` the caller owns; every other cache is released.
    """
    cached = (
        (edges if directed else symmetrize(edges))
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    num_partitions = loop_partitions(cached, num_partitions)
    e = edge_table(cached, num_partitions)
    bcast_rows = _broadcast_row_limit(spark)

    # ---- forward pass: per-level (root, id, sigma) slices
    def expand(level: DataFrame, depth: int) -> DataFrame:
        # aggregate BEFORE the anti-join (guide §2.3): the sigma sum
        # gets map-side partial aggregation, so the (root,id,sigma)
        # exchange carries one row per pair instead of one per path,
        # and the anti-join then reuses the groupBy's (root,id)
        # partitioning — one exchange of the candidate stream, not
        # two. Identical result: pairs the anti-join drops are
        # dropped whole, kept pairs sum the same rows.
        return (
            level.join(e, level["id"] == e["src"])
            .select("root", F.col("dst").alias("id"), "sigma")
            .groupBy("root", "id")
            .agg(F.sum("sigma").alias("sigma"))
        )

    # levels[i] = vertices at dist i, level_rows[i] its exact row count
    levels, level_rows = frontier(
        spark,
        roots.select(
            F.col("root").cast("long").alias("root"),
            F.col("root").cast("long").alias("id"),
            F.lit(1.0).alias("sigma"),
        ).distinct(),
        expand, key=("root", "id"), max_depth=max_depth,
        num_partitions=num_partitions, metrics_out=metrics_out,
    )

    # ---- backward pass: delta accumulates deepest-level-first. Each
    # level's delta slice is a LAZY localCheckpoint: no action runs until
    # the final betweenness aggregation below, so the backward data path
    # executes inside that one action — each slice materializes (and cuts
    # lineage) the first time the level below, or the final union,
    # computes it there. (Broadcast-shape levels still submit their own
    # broadcast-collect jobs when the plan compiles.) The per-level
    # join-shape choices only need the forward pass's exact counts, never
    # a backward runtime value, so laziness costs nothing. It runs under
    # the loop's policy, where only the explicit hints below broadcast.
    contributions: list[DataFrame] = []
    delta_slices: list[DataFrame] = []  # released after `out` materializes
    delta_above: DataFrame | None = None  # (root, id, sigma, delta)
    with conf_scope(spark, loop_policy(num_partitions)):
        for lev in range(len(levels) - 1, 0, -1):
            cur = levels[lev]
            if delta_above is None:
                # deepest level: delta is a literal over an
                # already-checkpointed slice — no data to snapshot, no
                # lineage to cut, so no checkpoint job
                cur_delta = cur.select(
                    "root", "id", "sigma", F.lit(0.0).alias("delta")
                )
            else:
                # hand-back: v (level lev) → w (level lev+1) edges. Slice
                # row counts are known EXACTLY from the forward pass
                # (delta slices preserve their level's rows 1:1), so the
                # join shape is chosen per level — a checkpoint leaf has
                # unknown stats, so the planner could never make these
                # calls itself (module docstring, guide §3).
                w_rows = level_rows[lev + 1]
                cur_rows = level_rows[lev]
                bcast_cur = cur_rows <= bcast_rows
                if w_rows <= bcast_rows and w_rows < cur_rows:
                    # factor-aggregate shape: delta_v = sigma_v · Σ f_w
                    # with f = (1+delta_w)/sigma_w per successor pair.
                    # The edge table probes the BROADCAST factor slice
                    # and the (root, v→w) segment stream collapses in
                    # map-side partial aggregation inside the same
                    # codegen stage — no exchange ever carries it.
                    wfac = delta_above.select(
                        "root",
                        F.col("id").alias("wid"),
                        (
                            (F.lit(1.0) + F.col("delta")) / F.col("sigma")
                        ).alias("f"),
                    )
                    efac = (
                        e.join(F.broadcast(wfac), e["dst"] == F.col("wid"))
                        .groupBy("root", F.col("src").alias("id"))
                        .agg(F.sum("f").alias("s"))
                    )
                    cur_delta = (
                        cur.join(efac, ["root", "id"], "left")
                        .select(
                            "root", "id", "sigma",
                            (
                                F.col("sigma")
                                * F.coalesce(F.col("s"), F.lit(0.0))
                            ).alias("delta"),
                        )
                        .localCheckpoint(eager=False)
                    )
                else:
                    # classic shape (w side too big to broadcast or not
                    # smaller than cur): segment stream from cur's side,
                    # agg, left join back — with broadcast hints where a
                    # side provably fits (handed has ≤ cur_rows rows).
                    w = delta_above.select(
                        "root",
                        F.col("id").alias("wid"),
                        F.col("sigma").alias("wsigma"),
                        F.col("delta").alias("wdelta"),
                    )
                    c = F.broadcast(cur) if bcast_cur else cur
                    handed = (
                        c.join(e, c["id"] == e["src"])
                        .select("root", "id", "sigma",
                                F.col("dst").alias("wid"))
                        .join(w, ["root", "wid"])
                        .groupBy("root", "id", "sigma")
                        .agg(
                            F.sum(
                                F.col("sigma") / F.col("wsigma")
                                * (F.lit(1.0) + F.col("wdelta"))
                            ).alias("delta")
                        )
                        .select("root", "id", "delta")
                    )
                    if bcast_cur:
                        handed = F.broadcast(handed)
                    cur_delta = (
                        cur.join(handed, ["root", "id"], "left")
                        .select(
                            "root", "id", "sigma",
                            F.coalesce("delta", F.lit(0.0)).alias("delta"),
                        )
                        .localCheckpoint(eager=False)
                    )
            delta_above = cur_delta
            delta_slices.append(cur_delta)
            contributions.append(cur_delta.select("id", "delta"))

        if not contributions:
            out = spark.createDataFrame([], "id long, betweenness double")
            out = out.localCheckpoint(eager=True)
        else:
            out = (
                reduce(DataFrame.unionByName, contributions)
                .groupBy("id")
                .agg(F.sum("delta").alias("betweenness"))
                .localCheckpoint(eager=True)
            )
    for sl in delta_slices:
        release_local_checkpoint(sl)
    for lv in levels:
        release_local_checkpoint(lv)
    e.unpersist()
    cached.unpersist()
    return out
