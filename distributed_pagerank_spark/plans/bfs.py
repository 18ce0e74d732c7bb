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

The loop is ``plans.loop.frontier``: each depth is one job that
computes, caches and counts only the new slice of ``(root, id)`` rows.
The visited set is a lazy union over those flat slice leaves, so the
anti-join reads the same cached bytes a materialized union would hold,
but no depth ever re-writes the O(|visited|) union. The edge table is
sized from its measured bytes and laid out once by ``src``.
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import symmetrize
from distributed_pagerank_spark.plans.loop import (
    edge_table,
    frontier,
    loop_partitions,
)


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
    whichever is first. The result is the union of the per-depth slices,
    ``localCheckpoint`` leaves the caller owns (free each with
    ``release_local_checkpoint``). Empty ``sources`` raise ``ValueError``.
    """
    cached = (
        (edges if directed else symmetrize(edges))
        .select("src", "dst")
        .persist()
    )
    num_partitions = loop_partitions(cached, num_partitions)
    e = edge_table(cached, num_partitions)

    def expand(level: DataFrame, depth: int) -> DataFrame:
        return (
            level.join(e, level["id"] == e["src"])
            .select("root", F.col("dst").alias("id"))
            .distinct()
            .withColumn("dist", F.lit(depth))
        )

    slices, _ = frontier(
        spark,
        sources.select("root", "id", F.lit(0).alias("dist")).distinct(),
        expand, key=("root", "id"), max_depth=max_depth,
        num_partitions=num_partitions, metrics_out=metrics_out,
    )
    e.unpersist()
    cached.unpersist()
    if not slices:
        raise ValueError("empty sources: no BFS roots")
    return reduce(DataFrame.unionByName, slices)
