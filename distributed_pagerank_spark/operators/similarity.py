"""Similarity search over embedding columns (``array<float>``).

Two paths:

- **brute-force cosine top-k** — exact baseline. ``method='sql'`` keeps the
  whole computation in JVM higher-order functions (zip_with/aggregate) for
  oracle parity; ``method='pandas'`` is the throughput path: one Arrow
  batch → one numpy matmul per partition, then a global top-k — at 100 TB
  the corpus streams through executors once, only (q × k) rows shuffle.
- **random-hyperplane LSH** — the scale path: ``n_planes`` sign bits
  bucket the corpus; queries probe their own bucket (plus optional
  multi-probe neighbors at Hamming distance 1). Deterministic, seeded
  hyperplanes derived from xxhash64 — identical across cluster sizes.
- **IVF (inverted-file) top-k** — the coarse-quantizer scale path: a
  small centroid table partitions the corpus into ``n_centroids`` cells
  (assignment is a MAP-ONLY column expression — no shuffle, like LSH
  bucketing); queries probe their ``n_probe`` nearest cells, so the
  candidate join touches ~``n_probe/n_centroids`` of the corpus.
  Centroids are either a deterministic seeded pick (oracle-twin tier) or
  refined in place by distributed Lloyd iterations (spherical k-means).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity_col(a, b):
    """Cosine similarity of two array<float> columns (JVM-side).

    Precondition: non-zero vectors. A zero-norm input divides by zero —
    NaN under Spark's Java double semantics (and NaN sorts GREATER than
    any value in array_max/array_sort) — so ranking paths that may see
    degenerate vectors must guard; the IVF assign/probe kernels below
    coalesce non-finite similarities to −1.0 on both the expression and
    Arrow paths to keep them bit-identical."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    method: str = "pandas",
) -> DataFrame:
    """Exact cosine top-k → ``(query_id, vec_id, cos_sim, rk)``.

    ``queries``: (query_id, embedding). Self-matches (same id) are kept —
    filter upstream if undesired.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    if method == "sql":
        joined = corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")
        ).crossJoin(F.broadcast(q))
        scored = joined.select(
            "query_id",
            "vec_id",
            cosine_similarity_col(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
        )
    elif method == "pandas":
        import numpy as np
        import pandas as pd

        qrows = q.collect()  # queries are small by contract; corpus streams
        qids = [r["query_id"] for r in qrows]
        qmat = np.array([r["qvec"] for r in qrows], dtype=np.float64)
        qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        spark = corpus.sparkSession
        b_qids = spark.sparkContext.broadcast(qids)
        b_qmat = spark.sparkContext.broadcast(qmat)

        topn = k  # per-batch top-k per query; global top-k ⊆ union of these

        def score(batches):
            for pdf in batches:
                ids = pdf["vec_id"].to_numpy()
                c = np.array(list(pdf["cvec"]), dtype=np.float64)
                c = c / np.linalg.norm(c, axis=1, keepdims=True)
                sims = c @ b_qmat.value.T  # (batch, q)
                for qi, qid in enumerate(b_qids.value):
                    s = sims[:, qi]
                    # lexsort keeps the (cos desc, id asc) tie order, so the
                    # per-batch cut never drops a global-top-k tie winner
                    top = np.lexsort((ids, -s))[: min(len(ids), topn)]
                    yield pd.DataFrame(
                        {"query_id": qid, "vec_id": ids[top], "cos_sim": s[top]}
                    )

        scored = corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")
        ).mapInPandas(score, "query_id long, vec_id long, cos_sim double")
    else:
        raise ValueError(f"unknown method {method!r}")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", F.col("cos_sim").cast("double"), "rk")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int):
    """Deterministic pseudo-random hyperplanes: uniform in [-1,1) from a
    splitmix-style integer hash — no RNG state, reproducible anywhere."""
    import numpy as np

    def h(i: int) -> int:
        x = (i + seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return x ^ (x >> 31)

    vals = np.array(
        [h(i) / 2**63 - 1.0 for i in range(n_planes * dim)], dtype=np.float64
    )
    return vals.reshape(n_planes, dim)


MAX_UNROLLED_NODES = 2048  # n_planes × dim ceiling for the codegen path


def lsh_bucket_col(vec_col, planes) -> F.Column:
    """Signature bucket id: sign bits against each hyperplane, packed into
    a long. Pure column expression over array<float>.

    Each dot product is a LEFT-TO-RIGHT fold (``aggregate(zip_with(v, w,
    *), 0.0, +)``) — deliberately: sequential association makes the
    floating-point result (and hence the sign at bucket boundaries)
    bit-reproducible in ANSI SQL oracles that sum the same way, and the
    fold is bit-identical to the r5 unrolled arithmetic chain (verified:
    same double bits) while building ~n_planes expression nodes instead
    of n_planes × dim — the unrolled chain cost ~1.6 s of driver-side
    expression construction PER CALL at dim 64 (r6 measurement), twice
    per query. Still JVM-side only for small ``n_planes × dim``;
    :func:`with_lsh_buckets` switches to the Arrow kernel above the
    guard, where per-row interpreted HOF work would dominate.
    """
    bits = []
    for p_i, plane in enumerate(planes):
        plane_lit = F.lit([float(w) for w in plane])
        dot = F.aggregate(
            F.zip_with(vec_col, plane_lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << p_i).cast("long")).otherwise(F.lit(0)))
    out = F.lit(0).cast("long")
    for b in bits:
        out = out + b
    return out


def _bucket_pandas_udf(planes):
    """Arrow-batched sign-matmul bucket kernel: one numpy matmul per batch.

    The scale path for production embedding dims (768–4096) × many planes,
    where the unrolled expression would be a 10^4–10^5-node Catalyst tree
    (analyzer/codegen blowup, interpreted fallback). Float summation order
    differs from the unrolled chain, so a vector lying EXACTLY on a
    hyperplane could bucket differently — irrelevant in practice and the
    reason the oracle-checked tier keeps the unrolled form.
    """
    import numpy as np

    pmat = planes.T.copy()  # (dim, n_planes)
    weights = (1 << np.arange(planes.shape[0])).astype(np.int64)

    @F.pandas_udf("long")
    def bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        mat = np.array(list(v), dtype=np.float64)  # (batch, dim)
        signs = (mat @ pmat) >= 0.0  # (batch, n_planes)
        return pd.Series((signs * weights).sum(axis=1).astype(np.int64))

    return bucket


def with_lsh_buckets(df: DataFrame, vec_col, planes, out_col: str) -> DataFrame:
    """Add the LSH bucket column, picking codegen vs Arrow by size guard."""
    if planes.size <= MAX_UNROLLED_NODES:
        return df.withColumn(out_col, lsh_bucket_col(F.col(vec_col), planes))
    return df.withColumn(out_col, _bucket_pandas_udf(planes)(F.col(vec_col)))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via hyperplane LSH buckets.

    Corpus is bucketed once (a column expression — free at scan time);
    each query probes its bucket and all buckets at Hamming distance 1
    (n_planes+1 probes) to cut misses near plane boundaries. Join is
    bucket-equi — no cross join anywhere.
    """
    if dim is None:
        # driver roundtrip (scans one row) — pass dim explicitly at scale
        dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    c = with_lsh_buckets(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")
        ),
        "cvec", planes, "bucket",
    )
    q = with_lsh_buckets(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        "qvec", planes, "qbucket",
    )
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(n_planes)
        ],
    )
    q = q.select("query_id", "qvec", F.explode(probes).alias("bucket"))
    scored = c.join(q, "bucket").select(
        "query_id",
        "vec_id",
        cosine_similarity_col(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, candidates via
    shared LSH bucket → ``(id_a, id_b, cos_sim)``."""
    if dim is None:
        # driver roundtrip (scans one row) — pass dim explicitly at scale
        dim = len(embeddings.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    e = with_lsh_buckets(
        embeddings.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ),
        "vec", planes, "bucket",
    )
    pairs = (
        e.alias("x")
        .join(e.alias("y"), "bucket")
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            cosine_similarity_col(F.col("x.vec"), F.col("y.vec")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .distinct()
    )
    return pairs


# --------------------------------------------------------------- IVF ANN


def _const_vec(v) -> F.Column:
    """A centroid as a literal array<double> column (ONE plan node /
    driver call — the per-element F.lit form cost O(dim) py4j roundtrips
    per centroid, r6 measurement)."""
    return F.lit([float(x) for x in v])


def _const_norm(v) -> float:
    """L2 norm of a literal vector, computed driver-side with the exact
    fold order and IEEE ops of :func:`_norm` (left-to-right double
    accumulation, correctly-rounded sqrt) — bit-identical to evaluating
    the norm expression over the literal array, without re-deriving a
    constant per ROW at runtime (HOFs are not constant-folded)."""
    s = 0.0
    for x in v:
        x = float(x)
        s += x * x
    return math.sqrt(s)


def _centroid_sim_structs(vec_col, centroids) -> F.Column:
    """array<struct<s: double, nc: int>> — cosine similarity of ``vec_col``
    (cast to array<double>) against every centroid, with ``nc = -cid`` so
    struct ordering (s asc, nc asc) breaks similarity ties toward the
    SMALLEST centroid id under both array_max and reverse(array_sort).
    """
    v = vec_col.cast("array<double>")
    return F.array(*[
        F.struct(
            # zero-norm guard: a degenerate vector's cosine divides by
            # zero — an error under ANSI (Spark 4 default), NaN otherwise,
            # and NaN would rank ABOVE every real similarity in array_max
            # while the numpy kernel's lexsort ranks it last. try_divide
            # → NULL, nanvl for non-ANSI sessions, then pin both paths to
            # −1.0 (below any true cosine).
            F.coalesce(
                F.nanvl(
                    F.try_divide(
                        _dot(v, _const_vec(cv)),
                        _norm(v) * F.lit(_const_norm(cv)),
                    ),
                    F.lit(-1.0),
                ),
                F.lit(-1.0),
            ).alias("s"),
            F.lit(-int(cid)).cast("int").alias("nc"),
        )
        for cid, cv in centroids
    ])


def ivf_assign_col(vec_col, centroids) -> F.Column:
    """Nearest-centroid id (cosine, ties → smallest cid) as a pure column
    expression — corpus assignment is map-only, no shuffle."""
    best = F.array_max(_centroid_sim_structs(vec_col, centroids))
    return (-best["nc"]).cast("long")


def ivf_probe_col(vec_col, centroids, n_probe: int) -> F.Column:
    """array<long> of the ``n_probe`` nearest centroid ids (desc cosine,
    ties → smallest cid first)."""
    ordered = F.reverse(F.array_sort(_centroid_sim_structs(vec_col, centroids)))
    return F.transform(
        F.slice(ordered, 1, n_probe), lambda s: (-s["nc"]).cast("long")
    )


def _ivf_pandas_udfs(centroids, n_probe: int):
    """Arrow kernel twins of assign/probe for production dims where the
    unrolled expression would blow up the Catalyst tree (same guard story
    as :func:`_bucket_pandas_udf`): one normalized matmul per batch,
    argsort over (−sim, cid) for exact tie parity with the expressions."""
    import numpy as np

    cids = np.array([int(c) for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)

    def _top(mat: "np.ndarray", n: int) -> "np.ndarray":
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (mat / np.linalg.norm(mat, axis=1, keepdims=True)) @ cmat.T
        # zero-norm guard: same −1.0 pin as the expression path, so
        # assign/probe are bit-identical for degenerate vectors too
        sims = np.where(np.isfinite(sims), sims, -1.0)
        order = np.lexsort(
            (np.broadcast_to(cids, sims.shape), -sims), axis=1
        )[:, :n]
        return cids[order]

    @F.pandas_udf("long")
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        return pd.Series(_top(np.array(list(v), dtype=np.float64), 1)[:, 0])

    @F.pandas_udf("array<long>")
    def probe(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        return pd.Series(list(_top(np.array(list(v), dtype=np.float64), n_probe)))

    return assign, probe


def seeded_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid seed: the ``n_centroids`` smallest-id corpus
    vectors. Driver-side collect of ``n_centroids`` rows — tiny by design
    (a coarse quantizer wants 256–65k cells even at 100 TB), and exactly
    reproducible in an ANSI-SQL twin (ORDER BY id LIMIT k)."""
    rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy("cid")
        .limit(n_centroids)
        .collect()
    )
    return [(int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows]


def kmeans_refine(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 2,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd refinement (spherical k-means): assign via the
    map-only expression, recompute each cell's mean DIRECTION entirely on
    executors, and collect exactly k rows of ``array<double>`` back to the
    driver — never k×dim scalar rows (at a 65k-cell × 4096-dim coarse
    quantizer that would be ~2.7×10^8 rows through the driver per
    iteration).

    Spherical update: vectors are L2-NORMALIZED before averaging, so the
    cell mean is the mean direction and the k-means objective (sum of
    cosines to the assigned centroid) is monotone non-decreasing; averaging
    raw vectors would let long vectors dominate the mean direction and the
    monotonicity guarantee would not hold. Cosine assignment is
    scale-invariant, so the mean direction is used as-is (no re-scaling).
    Zero-norm vectors are excluded from the update (they carry no
    direction). Empty cells keep their previous centroid. The refined
    centroids feed :func:`ivf_topk` unchanged — refinement only moves cell
    boundaries.

    Plan shape: one scan per iteration → posexplode of the normalized
    vector → hash-agg ``avg`` by (cid, pos) with map-side partials →
    re-assemble the dim values into one array per cid (k groups of dim
    struct rows — executor-side, tiny) → collect(k)."""
    cur = centroids
    for _ in range(iters):
        v = F.col(vec_col).cast("array<double>")
        asg = corpus.select(
            v.alias("v"),
            _norm(v).alias("nrm"),
            ivf_assign_col(F.col(vec_col), cur).alias("cid"),
        ).where(F.col("nrm") > 0)
        unit = F.transform("v", lambda x: x / F.col("nrm"))
        rows = (
            asg.select("cid", F.posexplode(unit).alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("mean"))
            .collect()  # exactly one row per non-empty cell
        )
        by_cid = {int(r["cid"]): [float(x) for x in r["mean"]] for r in rows}
        cur = [(cid, by_cid.get(cid, v0)) for cid, v0 in cur]
    return cur


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 3,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an inverted-file (IVF) coarse
    quantizer → ``(query_id, vec_id, cos_sim, rk)``.

    Each corpus vector lands in exactly ONE cell (so the probe join never
    duplicates a candidate pair); each query scans its ``n_probe`` nearest
    cells. At scale: centroids are a broadcast-sized constant folded into
    the plan, corpus assignment is embarrassingly parallel at scan time,
    and the only shuffle is the cell-equi candidate join — ~
    ``n_probe/n_centroids`` of the brute-force work. ``centroids``
    default to the seeded ones; pass :func:`kmeans_refine`'s to probe
    refined cells (k-means scale path).
    """
    if centroids is None:
        centroids = seeded_centroids(corpus, n_centroids, id_col, vec_col)
    if dim is None:
        dim = len(centroids[0][1])
    use_arrow = len(centroids) * dim > MAX_UNROLLED_NODES
    if use_arrow:
        assign_udf, probe_udf = _ivf_pandas_udfs(centroids, n_probe)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
        (assign_udf(F.col(vec_col)) if use_arrow
         else ivf_assign_col(F.col(vec_col), centroids)).alias("cell"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
        (probe_udf(F.col(vec_col)) if use_arrow
         else ivf_probe_col(F.col(vec_col), centroids, n_probe)).alias("cells"),
    ).select("query_id", "qvec", F.explode("cells").alias("cell"))
    scored = c.join(q, "cell").select(
        "query_id",
        "vec_id",
        cosine_similarity_col(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )
