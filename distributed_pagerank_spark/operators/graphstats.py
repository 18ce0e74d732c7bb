"""Whole-graph summary statistics: reciprocity, degree assortativity.

The two single-pass diagnostics a link-graph analysis reports next to
the degree histogram (operators/degrees.py): how mutual the directed
edges are, and whether high-degree vertices attach to high-degree
vertices. No reference counterpart (the reference computes only
PageRank); standard definitions.

Both are one or two shuffles over the edge table with scalar outputs —
no iteration, no UDFs, no driver-side loops. Each runs in a
``plans.loop.measure`` block over the table it reads more than once
(the deduped or the symmetrized edges): one AQE-off job caches and
counts it, and the rest of the call runs at the partition count sized
from its bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import symmetrize
from distributed_pagerank_spark.plans.loop import measure


def reciprocity(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Fraction of directed simple edges (u,v) whose reverse (v,u) also
    exists → one row ``(reciprocal_edges, total_edges, reciprocity)``.

    One self-join of the deduped edge set on the swapped key (left-semi,
    so the big side streams once); 1.0 on a symmetric graph, 0.0 on a
    DAG or bipartite one-way graph.
    """
    simple = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    with measure(simple) as (e, total):
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        return e.join(rev, ["src", "dst"], "left_semi").agg(
            F.count("*").alias("reciprocal_edges"),
            F.lit(total).cast("long").alias("total_edges"),
            # an empty edge set has no reciprocal edge: 0 / 1
            (F.count("*") / F.lit(max(total, 1))).alias("reciprocity"),
        ).localCheckpoint(eager=True)


def degree_assortativity(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Newman's degree assortativity coefficient r over the undirected
    simple graph → one row ``(assortativity double)``.

    r = Pearson correlation of (deg(u), deg(v)) across all directed
    endpoint pairs of the symmetrized edge set (each undirected edge
    contributes both orientations, which is exactly Newman's symmetric
    formulation). Negative on hub-and-spoke / bipartite graphs,
    positive on social-style graphs.
    """
    with measure(symmetrize(edges)) as (sym, _):
        deg = sym.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("deg")
        )
        du = deg.select(F.col("id").alias("src"), F.col("deg").alias("du"))
        dv = deg.select(F.col("id").alias("dst"), F.col("deg").alias("dv"))
        # explicit moments instead of F.corr: under ANSI mode (Spark 4
        # default) corr raises DIVIDE_BY_ZERO on zero-variance input
        # (regular graphs); the CASE guard returns NULL there instead
        moments = (
            sym.join(du, "src")
            .join(dv, "dst")
            .agg(
                F.covar_samp("du", "dv").alias("cov"),
                F.stddev_samp("du").alias("su"),
                F.stddev_samp("dv").alias("sv"),
            )
        )
        return moments.select(
            F.when(
                (F.col("su") > 0) & (F.col("sv") > 0),
                F.col("cov") / (F.col("su") * F.col("sv")),
            ).alias("assortativity")
        ).localCheckpoint(eager=True)


def avg_neighbor_degree(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Degree-correlation report knn(k) over the undirected simple graph
    → ``(degree, knn, n_vertices)``, one row per distinct degree.

    ``knn(k)`` = mean over vertices of degree k of the vertex's average
    neighbor degree (Pastor-Satorras/Vázquez/Vespignani's assortativity
    profile — the distributional view the single scalar
    ``degree_assortativity`` summarizes). Three shuffles total: degree
    aggregation, the per-vertex neighbor-degree mean (one join + agg on
    the already-partitioned symmetric edge set), and the tiny per-degree
    rollup. Output cardinality = number of distinct degrees (≪ |V|).
    """
    with measure(symmetrize(edges)) as (sym, _):
        deg = sym.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("deg")
        )
        dv = deg.select(F.col("id").alias("dst"), F.col("deg").alias("dv"))
        per_vertex = (
            sym.join(dv, "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.avg("dv").alias("avg_nbr_deg"))
        )
        return (
            per_vertex.join(deg, "id")
            .groupBy(F.col("deg").alias("degree"))
            .agg(
                F.avg("avg_nbr_deg").alias("knn"),
                F.count("*").cast("long").alias("n_vertices"),
            )
            .localCheckpoint(eager=True)
        )


def modularity(
    spark: SparkSession, edges: DataFrame, labels: DataFrame
) -> DataFrame:
    """Newman modularity Q of a vertex partition over the undirected
    simple graph → one row ``(modularity, m_edges, n_communities)``.

    ``Q = Σ_c [ m_c/m − (d_c/(2m))² ]`` with m the undirected edge
    count, m_c the intra-community edge count, and d_c the community's
    total degree. ``labels`` is any ``(id, label)`` partition (e.g.
    ``plans/labelprop.py label_propagation`` output); vertices missing
    from ``labels`` form singleton communities of their own id. One
    canonical-edge scan joined twice against the label vector plus one
    degree aggregation — no iteration.
    """
    canonical = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )
    with measure(canonical) as (e, m):
        if m == 0:
            return spark.createDataFrame(
                [(None, 0, 0)],
                "modularity double, m_edges long, n_communities long",
            )
        lab = labels.select("id", "label")
        lu = lab.select(F.col("id").alias("src"), F.col("label").alias("lu"))
        lv = lab.select(F.col("id").alias("dst"), F.col("label").alias("lv"))
        labeled = (
            e.join(lu, "src", "left")
            .join(lv, "dst", "left")
            .select(
                F.coalesce("lu", F.col("src")).alias("lu"),
                F.coalesce("lv", F.col("dst")).alias("lv"),
            )
        )
        intra = (
            labeled.where(F.col("lu") == F.col("lv"))
            .groupBy(F.col("lu").alias("label"))
            .agg(F.count("*").alias("m_c"))
        )
        deg = symmetrize(e).groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("deg")
        )
        d_c = (
            deg.join(lab, "id", "left")
            .select(F.coalesce("label", F.col("id")).alias("label"), "deg")
            .groupBy("label")
            .agg(F.sum("deg").alias("d_c"))
        )
        per_comm = d_c.join(intra, "label", "left").select(
            (
                F.coalesce("m_c", F.lit(0)) / F.lit(float(m))
                - (F.col("d_c") / F.lit(2.0 * m)) ** 2
            ).alias("q_c")
        )
        return per_comm.agg(
            F.sum("q_c").alias("modularity"),
            F.lit(int(m)).cast("long").alias("m_edges"),
            F.count("*").cast("long").alias("n_communities"),
        ).localCheckpoint(eager=True)
