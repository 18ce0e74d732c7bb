"""Multi-source BFS — shortest hop distances from K roots in one loop.

The web-graph distance primitive (reachability, radius/eccentricity
estimation, k-hop neighbourhood sizing) run level-synchronously: per
round, the FRONTIER (vertices first reached last round) joins the edge
table once for all roots, candidates already seen are anti-joined away,
and the remainder becomes the next frontier. State is keyed
``(root, id)`` and grows monotonically with the reached set; the
per-round join cost tracks the frontier size — the expensive artifact
(the edge table, partitioned by ``src`` and persisted) is shared across
every root and every round, exactly like the multi-seed PPR loop
(``plans/ppr.py``).

Unweighted shortest paths only: the first round that reaches a vertex
fixes its distance, so no relaxation or re-visits occur — each round is
one join + one distinct + one anti-join against the visited set.

Each round's new frontier is a LAZILY localCheckpoint-ed slice whose
termination count doubles as the materializing action — ONE job per
depth that computes and caches only the |frontier| new rows. The
visited set is a lazy union over those flat slice leaves (the
betweenness forward-pass economy, ``plans/betweenness.py``): the
anti-join reads the same cached bytes a materialized union would hold,
but no depth ever re-writes the O(|visited|) union, and lineage stays
flat without any separate truncation step.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import symmetrize

from distributed_pagerank_spark.plans.loop import release_local_checkpoint


def multi_source_bfs(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 10,
    directed: bool = False,
    num_partitions: int | None = None,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Hop distances ``(root, id, dist)`` from every root in ``sources``.

    ``sources``: ``(root, id)`` — typically ``root == id`` (a root per
    row), but a root may start from several vertices (multi-origin BFS:
    ``dist`` is then the hop count from the nearest origin of that
    root). ``directed=False`` (default) symmetrizes the edge table
    first — link-graph distance queries usually want the undirected
    view; pass ``True`` to follow edge direction.

    Rounds run to ``max_depth`` or until every frontier is empty,
    whichever is first. The visited set is the result.
    """
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    e = edges if directed else symmetrize(edges)
    e = (
        e.select("src", "dst")
        .repartition(num_partitions, "src")
        .persist()
    )
    e.count()

    frontier = (
        sources.select("root", "id", F.lit(0).alias("dist"))
        .distinct()
        .repartition(num_partitions, "id")
        .persist()
    )
    if frontier.count() == 0:
        e.unpersist()
        raise ValueError("empty sources: no BFS roots")
    # the visited set is a lazy union over the per-depth slices (module
    # docstring); every slice is part of the returned result, so nothing
    # is released in-loop
    visited = frontier  # depth 0: the visited set IS the frontier
    metrics = metrics_out if metrics_out is not None else []

    for depth in range(1, max_depth + 1):
        t0 = time.monotonic()
        candidates = (
            frontier.join(e, frontier["id"] == e["src"])
            .select("root", F.col("dst").alias("id"))
            .distinct()
            .withColumn("dist", F.lit(depth))
        )
        # LAZY checkpoint: the termination count below is the
        # materializing action — ONE job per depth, writing only the
        # |frontier| new rows, never the whole visited union.
        new_frontier = (
            candidates.join(visited, ["root", "id"], "left_anti")
            .localCheckpoint(eager=False)
        )
        n_new = new_frontier.count()
        metrics.append(
            {"depth": depth, "frontier_rows": n_new,
             "total_s": round(time.monotonic() - t0, 4)}
        )
        if n_new == 0:
            release_local_checkpoint(new_frontier)
            break
        visited = visited.unionByName(new_frontier)
        frontier = new_frontier

    e.unpersist()
    return visited.select("root", "id", "dist")
