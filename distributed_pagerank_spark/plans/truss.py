"""k-truss decomposition by iterative support peeling.

No reference counterpart (the reference computes only PageRank,
``pkg/graph/pagerank.go``); standard definition (Cohen 2008): the
k-truss is the maximal subgraph of the undirected simple graph in which
every edge participates in at least k−2 triangles *within the
subgraph*. Obtained by repeatedly deleting edges whose in-subgraph
support drops below k−2; the fixpoint is unique (deletion order does
not matter), so level-synchronous rounds compute the exact truss.

The orientation is computed ONCE, on the ORIGINAL degrees, by the setup
triangle counting shares (``plans.triangles.orientation``: cached,
counted and sized, with the whole peel run under the plan's policy at
that partition count), and every round runs the same compact-forward
kernel as triangle counting (``plans.triangles.triangles_of``). Any
acyclic orientation enumerates each triangle exactly once under
compact-forward (the three edges of a discovered triangle a→b, a→c, b→c
are themselves oriented edges), and a fixed orientation stays acyclic on
every subgraph, while its out-degree bound — O(√m) from the degree
ordering — only tightens as edges peel. That makes a round the kernel's
triangles, exploded to their three oriented edges, and one
map-side-combined support count whose ≥ k−2 filter IS the next edge set
(support keys ⊆ edge set). At 100 TB the full-graph enumeration is paid
once on the raw scan; later rounds touch only the surviving (typically
much smaller) subgraph.

The peel is one ``plans.loop.fixpoint``: the state is the oriented
survivor set keyed by ``a``, each round is one job, and its row count,
observed on that job, settles the peel when a round removes no edge. A
peel stopped by its round budget raises ``RuntimeError``: its survivors
are a supergraph of the truss, a wrong answer.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.plans.loop import fixpoint, rows_settled
from distributed_pagerank_spark.plans.triangles import (
    orientation,
    triangles_of,
)


def _oriented_support(o: DataFrame) -> DataFrame:
    """Per-oriented-edge triangle count within ``o`` → ``(a, b, support)``,
    LAZY. Edges in no triangle are absent (support 0 implied)."""
    corners = triangles_of(o).select(
        F.explode(
            F.array(
                F.struct("a", "b"),
                F.struct(F.col("a").alias("a"), F.col("c").alias("b")),
                F.struct(F.col("b").alias("a"), F.col("c").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    return corners.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("support")
    )


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Edges of the k-truss with their in-truss support →
    ``(src, dst, support)``, src < dst.

    Empty result when no k-truss exists. ``k < 3`` is rejected (the
    2-truss is the whole edge set — no triangle constraint to enforce).
    Raises ``RuntimeError`` when ``max_iter`` rounds end before the peel
    settles. The result is a lazy view over the final edge set, a
    ``localCheckpoint`` leaf that stays cached until nothing references
    the result (``release_local_checkpoint`` of the result does not free
    it; see ``plans/loop.py``).
    """
    if k < 3:
        raise ValueError("k must be >= 3")
    with orientation(edges) as (oriented, rows):
        # at the fixpoint the survivors' support was computed on a graph
        # identical to the final subgraph
        truss = fixpoint(
            spark, "k_truss", oriented, lambda: oriented,
            lambda o, last: (
                _oriented_support(o).where(F.col("support") >= k - 2), {}
            ),
            {"rows": F.count("*")}, rows_settled(rows),
            key=("a",), max_iter=max_iter, inputs=[oriented],
            metrics_out=metrics_out,
        ).settled(f"{k}-truss peel")
    # orientation → canonical (src < dst) output
    return truss.select(
        F.least("a", "b").alias("src"),
        F.greatest("a", "b").alias("dst"),
        "support",
    )
