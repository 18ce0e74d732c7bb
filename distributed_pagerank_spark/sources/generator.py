"""Seeded random graph generator.

Deterministic replica of the reference generator semantics
(``pkg/graph/graph.go:101-166`` ``Generate``): for each vertex ``u`` in
``[0, n)`` pick ``k ~ U[1, max_edges]`` random targets ≠ self (duplicates
collapse), then add a chain edge ``u-1 → u`` for every ``u ≥ 1`` to force
connectivity. The reference uses unseeded ``math/rand`` (irreproducible by
design); this generator is seeded via ``xxhash64`` so it is identical
across runs AND partition counts — required for the fixture battery and
the scaling benchmark.

Implementation is pure DataFrame (``spark.range`` + ``explode(sequence)``
+ hash-mod), so generating 10^9 edges is embarrassingly parallel with no
driver data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def generate_graph(
    spark: SparkSession,
    n: int,
    max_edges: int = 5,
    seed: int = 42,
    n_partitions: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Generate ``edges(src long, dst long)`` for a seeded random graph.

    ``hash_fn='md5'`` swaps the per-cell hash for the cross-engine 60-bit
    md5 hash (operators.dedup.hash60_md5), making the generated edge set
    exactly reproducible in ANSI SQL — the oracle tier. ``'xxhash64'``
    (default) is the fast JVM-side production path.
    """
    if n < 2:
        raise ValueError("need at least 2 vertices")
    if hash_fn == "md5":
        from distributed_pagerank_spark.operators.dedup import hash60_md5

        h_k = hash60_md5(F.col("src").cast("string"), seed)
        h_dst = hash60_md5(F.concat_ws("|", F.col("src"), F.col("j")), seed + 1)
    elif hash_fn == "xxhash64":
        h_k = F.xxhash64("src", F.lit(seed))
        h_dst = F.xxhash64("src", "j", F.lit(seed + 1))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    v = spark.range(n, numPartitions=n_partitions).withColumnRenamed("id", "src")
    # k ~ U[1, max_edges]
    v = v.withColumn("k", (F.lit(1) + F.pmod(h_k, F.lit(max_edges))).cast("int"))
    rand_edges = v.select(
        "src", F.explode(F.sequence(F.lit(1), F.col("k"))).alias("j")
    ).select("src", F.pmod(h_dst, F.lit(n)).alias("dst"))
    # exclude self-loops like the reference generator (graph.go:110-112):
    # re-aim a self-loop at (dst+1) mod n instead of rejecting, to stay
    # sample-free and deterministic.
    rand_edges = rand_edges.withColumn(
        "dst",
        F.when(F.col("dst") == F.col("src"), F.pmod(F.col("dst") + 1, F.lit(n))).otherwise(
            F.col("dst")
        ),
    )
    chain = spark.range(1, n, numPartitions=n_partitions).select(
        (F.col("id") - 1).alias("src"), F.col("id").alias("dst")
    )
    return (
        rand_edges.select("src", "dst")
        .unionByName(chain)
        .distinct()
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
    )


def random_e_vector(
    spark: SparkSession,
    vertices: DataFrame,
    seed: int = 42,
    id_col: str = "id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Seeded random personalization vector → ``(id, e)``, e ∈ (0, 1].

    Deterministic replica of the reference's random-E path
    (``pkg/graph/graph.go:150-164``: ``rand.Float64`` per node, then
    normalized on load, graph.go:93-97) — except seeded, so runs are
    reproducible across cluster sizes. ``pagerank`` normalizes it to
    Σe = 1, mirroring the reference's load-time normalization.
    ``hash_fn='md5'`` uses the cross-engine 60-bit hash so the vector has
    an exact ANSI-SQL twin for oracle checks.
    """
    if hash_fn == "md5":
        from distributed_pagerank_spark.operators.dedup import hash60_md5

        h = hash60_md5(F.col(id_col).cast("string"), seed)
    elif hash_fn == "xxhash64":
        h = F.pmod(F.xxhash64(id_col, F.lit(seed)), F.lit(1_000_000))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return vertices.select(
        F.col(id_col).alias("id"),
        ((F.pmod(h, F.lit(1_000_000)) + 1) / 1_000_000.0).alias("e"),
    )
