"""Triangle counting, triangle rows and local clustering over one
degree-ordered compact-forward kernel (north-rule N3).

Semantics (SURVEY §2.4): count each unordered vertex triangle of the
undirected simple graph exactly once. The kernel is two pieces, and
``triangle_count``, ``triangle_rows``, ``local_clustering_coefficient``
and ``plans.truss.k_truss`` all run on them:

- ``oriented_edges`` is the one orientation: every undirected edge goes
  from the lower-(degree, id) endpoint to the higher one. Degree
  ordering bounds every out-degree by O(√m), so the adjacency lists
  below stay small even on power-law graphs — the standard trick the
  naive ``src<dst`` orientation lacks.
- ``compact_forward`` is the one intersect join: for every oriented edge
  ``(a, b)`` the third corners are ``N⁺(a) ∩ N⁺(b)``, an
  ``array_intersect`` of two adjacency lists in codegen. Only ``m`` rows
  flow through its joins instead of the ``Σ deg²`` rows of an explicit
  wedge join.

``orientation`` is the one sized setup every user starts from: a
``plans.loop.measure`` block that caches and counts the orientation in
one AQE-off job and sizes the plan from its bytes. The plan over it —
the final count, rows or per-vertex aggregate, or the truss peel — runs
under the same policy at that partition count, so a triangle count is
one job for the setup and one for the plan (AQE would run each of their
shuffle map stages as a job of its own).

Everything is built-in joins and aggregations; no UDFs, no driver loops.
"""

from __future__ import annotations

from typing import Callable, ContextManager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import symmetrize
from distributed_pagerank_spark.plans.loop import measure


def oriented_edges(sym: DataFrame) -> DataFrame:
    """The symmetrized table ``sym`` (``symmetrize``) oriented
    low-(degree, id) → high-(degree, id) → ``(a, b)``, each undirected
    edge exactly once. ``sym`` is read twice: its degrees and the join."""
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    e = (
        sym.join(deg.withColumnRenamed("deg", "deg_src"), sym["src"] == deg["id"])
        .drop("id")
        .join(
            deg.withColumnRenamed("deg", "deg_dst").withColumnRenamed("id", "id2"),
            F.col("dst") == F.col("id2"),
        )
        .drop("id2")
    )
    return e.where(
        (F.col("deg_src") < F.col("deg_dst"))
        | ((F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"))


def compact_forward(o: DataFrame) -> DataFrame:
    """Every oriented edge of ``o`` (``oriented_edges`` or a subset of
    it) with its closing corners → ``(a, b, common)``, LAZY. ``common`` =
    ``N⁺(a) ∩ N⁺(b)`` within ``o``; each triangle is one corner of one row,
    and its three edges ``a→b``, ``a→c``, ``b→c`` are all in ``o``."""
    adj = o.groupBy(F.col("a").alias("v")).agg(F.collect_list("b").alias("nbrs"))
    with_a = o.join(adj, o["a"] == adj["v"]).select(
        "a", "b", F.col("nbrs").alias("na")
    )
    # left join: a 'b' endpoint with no out-neighbors closes nothing
    return with_a.join(adj, with_a["b"] == adj["v"], "left").select(
        "a",
        "b",
        F.array_intersect(
            "na", F.coalesce("nbrs", F.array().cast("array<long>"))
        ).alias("common"),
    )


def triangles_of(o: DataFrame) -> DataFrame:
    """Each triangle of ``o`` exactly once → ``(a, b, c)``, LAZY."""
    return compact_forward(o).select("a", "b", F.explode("common").alias("c"))


def orientation(edges: DataFrame) -> ContextManager[tuple[DataFrame, int]]:
    """The one sized orientation setup: a ``plans.loop.measure`` block
    over ``oriented_edges`` of ``edges``, which gets ``(o, rows)`` — the
    cached orientation and its edge count — and runs under the plan's
    policy."""
    return measure(oriented_edges(symmetrize(edges)))


def _on_oriented(
    edges: DataFrame, plan: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """``plan`` over the cached orientation of ``edges``, as an eager
    ``localCheckpoint`` the caller owns."""
    with orientation(edges) as (o, _):
        return plan(o).localCheckpoint(eager=True)


def triangle_rows(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Each undirected triangle exactly once → ``(a, b, c)``; rows out =
    triangle count."""
    return _on_oriented(edges, triangles_of)


def local_clustering_coefficient(
    spark: SparkSession, edges: DataFrame
) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected simple
    graph → ``(id, degree, triangles, clustering)``.

    ``clustering(v) = 2·tri(v) / (deg(v)·(deg(v)−1))`` — the fraction of
    a vertex's neighbor pairs that are themselves connected; 0.0 for
    degree < 2. ``tri(v)`` attributes each triangle to its three corners
    and ``deg(v)`` counts the oriented edges at ``v`` (one explode + one
    map-side-combined count each). No reference counterpart (the
    reference computes only PageRank); standard definition, exact.
    """

    def per_vertex(o: DataFrame) -> DataFrame:
        deg = o.select(F.explode(F.array("a", "b")).alias("id")).groupBy(
            "id"
        ).agg(F.count("*").alias("degree"))
        corners = triangles_of(o).select(
            F.explode(F.array("a", "b", "c")).alias("id")
        ).groupBy("id").agg(F.count("*").alias("triangles"))
        tri = F.coalesce("triangles", F.lit(0))
        return deg.join(corners, "id", "left").select(
            "id",
            "degree",
            tri.cast("long").alias("triangles"),
            F.when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(2.0 * tri / (F.col("degree") * (F.col("degree") - 1.0)))
            .alias("clustering"),
        )

    return _on_oriented(edges, per_vertex)


def triangle_count(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """→ single-row ``(triangles long)``: the sum of ``|N⁺(a) ∩ N⁺(b)|``
    over the oriented edges, with no row per triangle."""
    return _on_oriented(
        edges,
        lambda o: compact_forward(o)
        .select(F.size("common").alias("closed"))
        .agg(F.coalesce(F.sum("closed"), F.lit(0)).cast("long").alias("triangles")),
    )
