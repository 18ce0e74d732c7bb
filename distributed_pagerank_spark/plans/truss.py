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
the next edge set (support keys ⊆ edge set) — one eager localCheckpoint
plus its count per round, nothing else. At 100 TB the full-graph
enumeration is paid once on the raw scan; later rounds touch only the
surviving (typically much smaller) subgraph.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.plans.loop import (
    LOOP_CONFS,
    conf_scope,
    release_local_checkpoint,
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
    """
    if k < 3:
        raise ValueError("k must be >= 3")
    metrics = metrics_out if metrics_out is not None else []
    # LAZY checkpoints throughout the peel: each count right below is
    # the materializing action, so every round pays ONE job for
    # compute+cache+count instead of two (r6 third wave).
    cur = (
        _orient_by_degree(_canonical(edges))
        .localCheckpoint(eager=False)
    )
    n_cur = cur.count()
    out = None

    with conf_scope(spark, LOOP_CONFS):
        for rnd in range(1, max_iter + 1):
            t0 = time.monotonic()
            if n_cur == 0:
                break
            survivors = (
                _oriented_support(cur.select("a", "b"))
                .where(F.col("support") >= k - 2)
                .localCheckpoint(eager=False)
            )
            n_next = survivors.count()
            metrics.append(
                {"round": rnd, "removed": n_cur - n_next,
                 "total_s": round(time.monotonic() - t0, 4)}
            )
            if n_next == n_cur:
                # fixpoint: survivors' support was computed on a graph
                # identical to the final subgraph
                release_local_checkpoint(cur)
                out = survivors
                break
            release_local_checkpoint(cur)
            cur = survivors
            n_cur = n_next

    if out is None:
        if n_cur == 0:
            out = (
                cur.select(
                    F.col("a").alias("src"),
                    F.col("b").alias("dst"),
                    F.lit(0).cast("long").alias("support"),
                )
                .where(F.lit(False))
                .localCheckpoint(eager=True)
            )
            release_local_checkpoint(cur)
            return out
        # max_iter exhausted mid-peel: current survivor set with its
        # support — a supergraph of the k-truss (peeling truncated
        # early, never over-deleted)
        sup = _oriented_support(cur.select("a", "b"))
        out = (
            cur.select("a", "b")
            .join(sup, ["a", "b"], "left")
            .select(
                "a", "b",
                F.coalesce("support", F.lit(0))
                .cast("long").alias("support"),
            )
            .localCheckpoint(eager=True)
        )
        release_local_checkpoint(cur)

    # orientation → canonical (src < dst) output
    final = (
        out.select(
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("dst"),
            "support",
        )
        .localCheckpoint(eager=True)
    )
    release_local_checkpoint(out)
    return final
