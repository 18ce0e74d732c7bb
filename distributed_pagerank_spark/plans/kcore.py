"""k-core decomposition by iterative peeling (degeneracy analysis).

No reference counterpart (the reference computes only PageRank);
standard definition: the k-core is the maximal induced subgraph of the
undirected simple graph in which every vertex has degree ≥ k. Obtained
by repeatedly deleting vertices of degree < k until none remain — the
order of deletion does not matter (the fixpoint is unique), so the
level-synchronous rounds below compute the exact core.

Each peel is one ``plans.loop.fixpoint``: the state is the surviving
symmetrized edge set, keyed and sorted by ``src``; its row count is the
statistic, observed on the round's one job, and the peel has converged
when a round removes no edge. A peel stopped by its round budget raises
``RuntimeError``: a partial peel is a supergraph of the core, a wrong
answer rather than an approximate one.

Per-round plan: each edge's source degree is a window over its own
``src`` partition (no shuffle). Edges of a removed vertex (degree < k)
go; each surviving neighbour of a removed vertex is told so by one
message, grouped by that neighbour, and drops the edge back. Only those
messages — each edge at most once over the whole peel — cross the
network; the edge set never reshuffles and only ever shrinks.
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import symmetrize
from distributed_pagerank_spark.plans.loop import (
    fixpoint,
    measure,
    own,
    rows_settled,
)


def _peel(
    spark: SparkSession,
    start: DataFrame,
    k: int,
    rows: int,
    max_iter: int,
    metrics_out: list[dict[str, Any]] | None,
    inputs: list[DataFrame],
) -> tuple[DataFrame, int]:
    """The k-core of the symmetric ``(src, dst)`` edge set ``start``
    (``rows`` rows) → its edge set, a leaf the caller releases, and its
    row count."""

    def step(edges: DataFrame, last: dict[str, Any] | None):
        deg = edges.withColumn(
            "degree", F.count("*").over(Window.partitionBy("src"))
        )
        lost = (
            deg.where(F.col("degree") < k)
            .groupBy(F.col("dst").alias("v"))
            .agg(F.collect_list("src").alias("lost"))
        )
        return (
            deg.where(F.col("degree") >= k)
            .join(lost, F.col("src") == F.col("v"), "left")
            .where(
                F.col("lost").isNull()
                | ~F.array_contains("lost", F.col("dst"))
            )
            .select("src", "dst")
        ), {"k": k}

    run = fixpoint(
        spark, "k_core", start, lambda: start, step,
        {"rows": F.count("*")}, rows_settled(rows),
        key=("src",), max_iter=max_iter, inputs=inputs,
        metrics_out=metrics_out,
    )
    return run.settled(f"{k}-core peel"), run.last["rows"]


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_iter: int = 100,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Vertices of the k-core with their in-core degree → ``(id, degree)``.

    Empty result when no k-core exists. ``k < 1`` is rejected (the 0-core
    is the whole vertex set including isolated vertices, which an edge
    list cannot represent). Raises ``RuntimeError`` when ``max_iter``
    rounds end before the peel settles.

    The result is a lazy view over the final edge set, a
    ``localCheckpoint`` leaf that stays cached until nothing references
    the result (``release_local_checkpoint`` of the result does not free
    it; see ``plans/loop.py``).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    with measure(symmetrize(edges)) as (sym, rows):
        core, _ = _peel(spark, sym, k, rows, max_iter, metrics_out, [sym])
    return core.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("degree")
    )


def coreness(
    spark: SparkSession,
    edges: DataFrame,
    max_k: int = 1000,
    max_iter_per_level: int = 100,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """Full core decomposition → ``(id, core)`` for every vertex of the
    undirected simple graph (core = the largest k whose k-core contains
    the vertex; the degeneracy ordering's level function).

    The k-core peel run level by level: level k peels the (k−1)-core to
    the k-core, until a core is empty. A vertex's core is the last level
    whose core still holds one of its edges; vertices with no edge but
    self-loops get core 0. Total rounds = Σ_k (peel depth at level k) —
    the standard distributed coreness (Montresor et al.'s batch variant).
    Every level's core is held until the labels are written, at most
    (degeneracy × |E|) cached edges.

    Raises ``RuntimeError`` when a level's peel needs more than
    ``max_iter_per_level`` rounds, or when the ``max_k``-core is not
    empty (its vertices' cores are unknown). The result is a
    ``localCheckpoint`` the caller owns.
    """
    # the raw projection is cached for the level-1 labels (self-loop-only
    # vertices, which symmetrize drops, get core 0); the run is sized from
    # the symmetrized table
    with measure(edges.select("src", "dst")) as (raw, _), \
            measure(symmetrize(raw)) as (sym, rows):
        # level 1: every vertex with a non-self-loop edge is in the 1-core
        labels = [raw.select(
            F.explode(F.array("src", "dst")).alias("id"),
            (F.col("src") != F.col("dst")).cast("long").alias("core"),
        )]
        cores: list[DataFrame] = []
        while rows:
            k = len(cores) + 2
            if k > max_k:
                raise RuntimeError(f"the {max_k}-core is not empty")
            # level k starts from the (k−1)-core: sym, then the last core
            core, rows = _peel(
                spark, cores[-1] if cores else sym, k, rows,
                max_iter_per_level, metrics_out,
                [] if cores else [sym],
            )
            cores.append(own(core))
            labels.append(core.select(
                F.col("src").alias("id"),
                F.lit(k).cast("long").alias("core"),
            ))
        return (
            reduce(DataFrame.unionByName, labels)
            .groupBy("id")
            .agg(F.max("core").alias("core"))
            .localCheckpoint(eager=True)
        )
