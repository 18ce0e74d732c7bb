"""k-truss decomposition by iterative support peeling.

No reference counterpart (the reference computes only PageRank,
``pkg/graph/pagerank.go``); standard definition (Cohen 2008): the
k-truss is the maximal subgraph of the undirected simple graph in which
every edge participates in at least k−2 triangles *within the
subgraph*. Obtained by repeatedly deleting edges whose in-subgraph
support drops below k−2; the fixpoint is unique (deletion order does
not matter), so level-synchronous rounds compute the exact truss.

The orientation is computed ONCE: undirected edges are oriented
low-(degree, id) → high by the ORIGINAL degrees. Any acyclic
orientation enumerates each triangle exactly once under compact-forward
(the three edges of a discovered triangle a→b, a→c, b→c are themselves
oriented edges), and a fixed orientation stays acyclic on every
subgraph, while its out-degree bound — O(√m) from the degree ordering —
only tightens as edges peel. That makes a round three built-in steps
over the oriented survivor set: adjacency-list aggregation, the
two-sided intersect join exploding each triangle to its three oriented
edges, and one map-side-combined support count whose ≥ k−2 filter IS
the next edge set (support keys ⊆ edge set). At 100 TB the full-graph
enumeration is paid once on the raw scan; later rounds touch only the
surviving (typically much smaller) subgraph.

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

from distributed_pagerank_spark.plans.loop import (
    fixpoint,
    measure,
    rows_settled,
)


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected simple edges as ``(src, dst)`` with src < dst, deduped;
    self-loops carry no triangles and are dropped."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


def _orient_by_degree(canon: DataFrame) -> DataFrame:
    """Orient each canonical edge low-(degree, id) → high → ``(a, b)``."""
    sym = canon.unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("deg")
    )
    return (
        canon.join(
            deg.select(F.col("id").alias("src"), F.col("deg").alias("ds")),
            "src",
        )
        .join(
            deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd")),
            "dst",
        )
        .select(
            F.when(
                (F.col("ds") < F.col("dd"))
                | (
                    (F.col("ds") == F.col("dd"))
                    & (F.col("src") < F.col("dst"))
                ),
                F.struct(
                    F.col("src").alias("a"), F.col("dst").alias("b")
                ),
            )
            .otherwise(
                F.struct(F.col("dst").alias("a"), F.col("src").alias("b"))
            )
            .alias("e")
        )
        .select("e.a", "e.b")
    )


def _oriented_support(o: DataFrame) -> DataFrame:
    """Per-oriented-edge triangle count within ``o`` → ``(a, b, support)``,
    LAZY. Compact-forward: for every oriented edge (a, b) the closing
    corners are N⁺(a) ∩ N⁺(b); each triangle's three edges are oriented
    edges, so support aggregates directly on the oriented key. Edges in
    no triangle are absent (support 0 implied)."""
    adj = o.groupBy(F.col("a").alias("v")).agg(
        F.collect_list("b").alias("nbrs")
    )
    tris = (
        o.join(adj, o["a"] == adj["v"])
        .select("a", "b", F.col("nbrs").alias("na"))
        .join(adj, F.col("b") == adj["v"], "left")
        .select(
            "a",
            "b",
            F.explode(
                F.array_intersect(
                    "na", F.coalesce("nbrs", F.array().cast("array<long>"))
                )
            ).alias("c"),
        )
    )
    corners = tris.select(
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
    settles. The result reads the final edge set, a ``localCheckpoint``
    leaf the caller owns (free it with ``release_local_checkpoint``).
    """
    if k < 3:
        raise ValueError("k must be >= 3")
    oriented = _orient_by_degree(_canonical(edges)).persist()
    rows, num_partitions = measure(oriented, None)
    # at the fixpoint the survivors' support was computed on a graph
    # identical to the final subgraph
    truss = fixpoint(
        spark, "k_truss", oriented, lambda: oriented,
        lambda o, last: (
            _oriented_support(o).where(F.col("support") >= k - 2), {}
        ),
        {"rows": F.count("*")}, rows_settled(rows),
        key=("a",), max_iter=max_iter, num_partitions=num_partitions,
        inputs=[oriented], metrics_out=metrics_out,
    ).settled(f"{k}-truss peel")
    # orientation → canonical (src < dst) output
    return truss.select(
        F.least("a", "b").alias("src"),
        F.greatest("a", "b").alias("dst"),
        "support",
    )
