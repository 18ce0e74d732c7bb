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

State is keyed ``(root, id)``; per-level slices are kept as flat
localCheckpoint snapshots (bounded by max_depth), so lineage never
grows and the backward pass re-reads exactly the rows it needs. The
visited set is a lazy union over those slice leaves — never its own
checkpoint — so no level pays an O(|visited|) re-materialization
(r6 second wave).

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


def _parse_bytes(raw: object) -> int:
    """Spark size-conf string → bytes (``"10485760b"``, ``"10MB"``, ``-1``)."""
    s = str(raw).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("tb", 1024**4),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = m
            break
    try:
        return int(float(s)) * mult
    except ValueError:
        return 0


def _broadcast_row_limit(spark: SparkSession) -> int:
    """Max rows of a (root, wid, wsigma, wdelta) slice that may broadcast.

    Checkpointed slices are LogicalRDD leaves with UNKNOWN stats, so the
    planner can never auto-broadcast them — but the loop knows each
    slice's exact row count from the forward pass. Gate on the session's
    own ``autoBroadcastJoinThreshold`` (0 when disabled) at a
    conservative 64 bytes/row (32 data + hashed-relation overhead), so
    the hint scales with the conf, not with this sandbox.
    """
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    except Exception:
        return 0
    n = _parse_bytes(raw)
    return max(0, n) // 64


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
    Brandes–Pich estimate of the full sum).
    """
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    metrics = metrics_out if metrics_out is not None else []
    e = edges if directed else symmetrize(edges)
    e = (
        e.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(num_partitions, "src")
        .persist()
    )
    e.count()

    # ---- forward pass: per-level (root, id, sigma) slices
    levels: list[DataFrame] = []  # levels[i] = vertices at dist i
    level_rows: list[int | None] = []  # exact slice counts (index 0 unused)
    frontier = (
        roots.select(
            F.col("root").cast("long").alias("root"),
            F.col("root").cast("long").alias("id"),
            F.lit(1.0).alias("sigma"),
        )
        .distinct()
        # lazy: materialized inside the depth-1 job on first use
        .localCheckpoint(eager=False)
    )
    # The visited set is a LAZY UNION over the checkpointed slice leaves
    # (each already flat) — the anti-join reads the same cached bytes a
    # checkpointed union would hold, but no depth pays the O(|visited|)
    # union re-materialization job, and the slices aren't double-cached
    # (r6 second wave).
    visited = frontier.select("root", "id")
    levels.append(frontier)
    level_rows.append(None)
    with conf_scope(spark, LOOP_CONFS):
        for depth in range(1, max_depth + 1):
            t0 = time.monotonic()
            cand = (
                frontier.join(e, frontier["id"] == e["src"])
                .select("root", F.col("dst").alias("id"), "sigma")
            )
            # aggregate BEFORE the anti-join (guide §2.3): the sigma sum
            # gets map-side partial aggregation, so the (root,id,sigma)
            # exchange carries one row per pair instead of one per path,
            # and the anti-join then reuses the groupBy's (root,id)
            # partitioning — one exchange of the candidate stream, not
            # two. Identical result: pairs the anti-join drops are
            # dropped whole, kept pairs sum the same rows.
            # LAZY checkpoint: the termination count right below is the
            # materializing action, so each depth pays ONE job for
            # compute+cache+count instead of an eager-checkpoint job
            # followed by a count job (r6 third wave).
            nxt = (
                cand.groupBy("root", "id")
                .agg(F.sum("sigma").alias("sigma"))
                .join(visited, ["root", "id"], "left_anti")
                .localCheckpoint(eager=False)
            )
            n = nxt.count()
            metrics.append(
                {"phase": "forward", "depth": depth, "rows": n,
                 "total_s": round(time.monotonic() - t0, 4)}
            )
            if n == 0:
                release_local_checkpoint(nxt)
                break
            visited = visited.unionByName(nxt.select("root", "id"))
            levels.append(nxt)
            level_rows.append(n)
            frontier = nxt

    # ---- backward pass: delta accumulates deepest-level-first. Each
    # level's delta slice is a LAZY localCheckpoint: no driver ACTION
    # runs until the final betweenness aggregation below, so the
    # backward data path executes inside that one action — each slice
    # materializes (and cuts lineage) the first time the level below,
    # or the final union, computes it there. (Broadcast-shape levels
    # still submit their own broadcast-collect jobs when the plan
    # compiles, so the Spark UI shows one action job plus one small
    # broadcast job per factor-aggregate level — the per-level EAGER
    # checkpoint jobs are what disappeared.) The per-level join-shape
    # choices only need the forward pass's exact counts, never a
    # backward runtime value, so laziness costs nothing (r6 fourth
    # wave).
    last = len(levels) - 1
    bcast_rows = _broadcast_row_limit(spark)
    contributions: list[DataFrame] = []
    delta_slices: list[DataFrame] = []  # released after `out` materializes
    delta_above: DataFrame | None = None  # (root, id, sigma, delta)
    with conf_scope(spark, LOOP_CONFS):
        for lev in range(last, 0, -1):
            t0 = time.monotonic()
            cur = levels[lev]
            if delta_above is None:
                # deepest level: delta is a literal over an
                # already-checkpointed slice — no data to snapshot, no
                # lineage to cut, so no checkpoint job (r6: one job less)
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
                bcast_w = (
                    bcast_rows
                    and w_rows is not None
                    and w_rows <= bcast_rows
                )
                bcast_cur = (
                    bcast_rows
                    and cur_rows is not None
                    and cur_rows <= bcast_rows
                )
                if bcast_w and cur_rows is not None and w_rows < cur_rows:
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
            contributions.append(
                cur_delta.select("id", "delta")
            )
            metrics.append(
                {"phase": "backward", "depth": lev,
                 "total_s": round(time.monotonic() - t0, 4)}
            )

    if not contributions:
        out = spark.createDataFrame([], "id long, betweenness double")
        out = out.localCheckpoint(eager=True)
    else:
        allc = contributions[0]
        for c in contributions[1:]:
            allc = allc.unionByName(c)
        out = (
            allc.groupBy("id")
            .agg(F.sum("delta").alias("betweenness"))
            .localCheckpoint(eager=True)
        )
    for sl in delta_slices:
        release_local_checkpoint(sl)
    for lv in levels:
        release_local_checkpoint(lv)
    e.unpersist()
    return out
