"""Link prediction by common-neighbor scoring (Adamic–Adar et al.).

No reference counterpart (the reference computes only PageRank); the
standard link-graph primitive: for every non-adjacent vertex pair (u, v)
at distance 2 in the undirected simple graph, score the likelihood of a
future/missing edge from their common neighborhood:

- ``common_neighbors``: |N(u) ∩ N(v)|
- ``jaccard``:          |N(u) ∩ N(v)| / |N(u) ∪ N(v)|
- ``adamic_adar``:      Σ_{w ∈ N(u)∩N(v)} 1 / ln(deg(w))

Plan: one wedge self-join of the symmetrized edge table on the middle
vertex (u—w—v, u < v), an anti-join against existing edges, one
aggregation keyed (u, v), and a per-u window for top-k. Everything is
JVM-side; no UDFs.

Scale: the wedge join emits Σ_w deg(w)² rows — quadratic in hub degree.
``max_middle_degree`` caps the middle role (the standard mitigation: a
vertex adjacent to everything certifies nothing, and its Adamic–Adar
weight 1/ln(deg) is already ~0), turning the worst-case hub fanout into
a bounded candidate stream; the cap column comes from the same degree
aggregate the scores need anyway, so it costs one filter, not an extra
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import symmetrize
from distributed_pagerank_spark.plans.loop import measure

METHODS = ("adamic_adar", "common_neighbors", "jaccard")


def link_prediction(
    spark: SparkSession,
    edges: DataFrame,
    method: str = "adamic_adar",
    top_k: int = 10,
    max_middle_degree: int | None = None,
) -> DataFrame:
    """Top-k predicted links per vertex → ``(u, v, common, score, rank)``.

    ``(u, v)`` is each unordered candidate pair (u < v) at distance 2
    with no existing edge; ``common`` = shared-neighbor count; ``score``
    per ``method``; ``rank`` = 1..top_k within u (score desc, v asc).

    The symmetrized edge table is cached and counted in one AQE-off job
    (``plans.loop.measure``), and the whole plan runs with AQE off at a
    partition count sized from that table's cached bytes, as for the
    graph plans.
    """
    if method not in METHODS:
        raise ValueError(f"unknown method {method!r}; one of {METHODS}")
    with measure(symmetrize(edges)) as (sym, _):
        deg = sym.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("degree")
        )

        # middle-vertex stream (w, endpoint), optionally hub-capped
        mid = sym.select(F.col("src").alias("w"), F.col("dst").alias("end"))
        wdeg = deg.select(F.col("id").alias("w"),
                          F.col("degree").alias("wdeg"))
        mid = mid.join(wdeg, "w")
        if max_middle_degree is not None:
            mid = mid.where(F.col("wdeg") <= max_middle_degree)

        a = mid.select("w", F.col("end").alias("u"), "wdeg")
        b = mid.select(F.col("w").alias("w2"), F.col("end").alias("v"))
        wedges = a.join(b, a["w"] == b["w2"]).where(F.col("u") < F.col("v"))

        und = sym.where(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
        candidates = wedges.join(und, ["u", "v"], "left_anti")

        agg_cols = [F.count("*").cast("long").alias("common")]
        if method == "adamic_adar":
            agg_cols.append(
                F.sum(1.0 / F.log(F.col("wdeg").cast("double"))).alias("score")
            )
        scored = candidates.groupBy("u", "v").agg(*agg_cols)
        if method == "common_neighbors":
            scored = scored.withColumn("score", F.col("common").cast("double"))
        elif method == "jaccard":
            du = deg.select(F.col("id").alias("u"), F.col("degree").alias("du"))
            dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("dv"))
            scored = (
                scored.join(du, "u")
                .join(dv, "v")
                .withColumn(
                    "score",
                    F.col("common")
                    / (F.col("du") + F.col("dv") - F.col("common"))
                    .cast("double"),
                )
                .drop("du", "dv")
            )

        w = Window.partitionBy("u").orderBy(F.desc("score"), F.asc("v"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select("u", "v", "common", "score", "rank")
            .localCheckpoint(eager=True)
        )
