"""Deduplication operators for training-data pipelines.

Four tiers, all DataFrame-native:

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle,
  map-side combine; the 100 TB default.
- **n-gram Jaccard (exact near-dup)**: shingle inverted index + self-join.
  Exact but O(pairs sharing a shingle) — the correctness oracle for the
  approximate tiers at test scale.
- **MinHash + LSH**: k minhashes per doc computed as k aggregates in ONE
  pass over the shingle index (no k× data explosion), banded into buckets;
  candidate pairs = bucket co-occupants. Scales to 10^9 docs: cost is
  (shingles × 1) + (docs × bands) rows through two shuffles.
- **SimHash**: 64-bit signature via per-bit signed sums of token hashes —
  64 conditional aggregates in one pass; near-dups = signatures within a
  Hamming ball, candidates via 16-bit chunk banding.

The three pair tiers each run in a ``plans.loop.measure`` block over
what they read more than once (the shingle index, the signatures): one
AQE-off job caches and counts it, and the pair search runs at the
partition count sized from its bytes, AQE off, returning an eager
``localCheckpoint`` the caller owns. Two joins broadcast when the
block's row count bounds their small side under the caller's threshold
(``plans.loop.broadcastable``): the Jaccard cap's hot shingles and one
side of the MinHash bucket self-join (signatures × bands rows).

All hashing is deterministic across runs, partitionings, and cluster
sizes. Two hash families, selected by ``hash_fn``:

- ``"xxhash64"`` (default) — JVM-side, fastest; the production path.
- ``"md5"`` — a 60-bit hash from the md5 hex prefix
  (``conv(substr(md5(x||0x1f||seed),1,15),16,10)``), chosen because the
  identical value is computable in ANSI SQL on other engines
  (DuckDB: ``('0x'||substr(md5(...),1,15))::BIGINT``) — this makes the
  approximate-dedup operators exactly oracle-checkable. ~2-3× slower
  than xxhash64; use for verification tiers, not the 100 TB hot path.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributed_pagerank_spark.functions.text import (
    normalized_fingerprint,
    word_shingles,
)
from distributed_pagerank_spark.plans.loop import (
    broadcastable,
    measure,
    release_local_checkpoint,
)

_SEP = "\x1f"  # unit separator: cannot appear in \s+-split tokens


def hash60_md5(col: Column | str, seed: int) -> Column:
    """Deterministic 60-bit hash with an exact cross-engine SQL twin."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(F.concat_ws(_SEP, c, F.lit(str(seed)))), 1, 15),
        16, 10,
    ).cast("long")


def hash60_md5_sql(expr: str, seed: int) -> str:
    """DuckDB twin of :func:`hash60_md5` (same bits, same type)."""
    return f"('0x' || substr(md5({expr} || chr(31) || '{seed}'), 1, 15))::BIGINT"


# ---------------------------------------------------------------- exact
def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """→ ``(fingerprint, n_docs, keep_id)`` for fingerprints with >1 doc.
    ``keep_id`` = min id (the canonical survivor)."""
    fp = df.select(
        F.col(id_col).alias("id"), normalized_fingerprint(text_col).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


# ------------------------------------------------- exact n-gram Jaccard
def shingle_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Inverted index ``(id, shingle)`` of distinct word n-grams."""
    return df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(text_col, n)).alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs → ``(id_a, id_b, jaccard)``
    with ``id_a < id_b`` and ``jaccard >= threshold``.

    Inverted-index self-join: only docs sharing ≥1 shingle are compared.
    Common-shingle count is a two-phase hash agg; sizes join in after, so
    the wide join carries only (id, id) pairs.

    ``max_shingle_df`` caps the document frequency of shingles admitted to
    the index: a shingle shared by ``k`` docs creates ``k²`` candidate rows
    on one join key, so one stopword n-gram appearing in 10^5 docs would
    emit 10^10 rows. With the cap, hot shingles are dropped from the
    UNIVERSE (both intersection and sizes), i.e. the result is the exact
    Jaccard over the capped shingle set — the standard scale guard.
    Uncapped (None) is the small-scale oracle tier only.
    """
    # The raw index is the outer block's cache: the DF cap, the sizes agg
    # and both sides of the self-join read it, so the document table is
    # scanned exactly once regardless of the cap. The capped index, read
    # three times, is a nested block of its own.
    with ExitStack() as blocks:
        idx, rows = blocks.enter_context(
            measure(shingle_index(df, id_col, text_col, n)))
        if max_shingle_df is not None:
            hot = (
                idx.groupBy("shingle")
                .agg(F.count("*").alias("df"))
                .where(F.col("df") > max_shingle_df)
                .select("shingle")
            )
            # the cap's cost is one agg over the cached index plus an
            # anti-join, run by the nested block's count. A hot shingle
            # holds more than max_shingle_df index rows, which bounds
            # their number
            if broadcastable(rows // (max_shingle_df + 1)):
                hot = F.broadcast(hot)
            idx, _ = blocks.enter_context(measure(
                idx.join(hot, "shingle", "left_anti")))
        sizes = idx.groupBy("id").agg(F.count("*").alias("n_sh"))
        a = idx.withColumnRenamed("id", "id_a")
        b = idx.withColumnRenamed("id", "id_b")
        common = (
            a.join(b, "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("common"))
        )
        return (
            common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
            .withColumn(
                "jaccard",
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
            .localCheckpoint(eager=True)
        )


# ----------------------------------------------------------- MinHash/LSH
def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """→ ``(id, sig array<long>)``: k minhashes in one aggregation pass
    (k min() columns over the shingle index — no row explosion)."""
    idx = shingle_index(df, id_col, text_col, n)
    if hash_fn == "md5":
        mins = [
            F.min(hash60_md5("shingle", seed + i)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    elif hash_fn == "xxhash64":
        mins = [
            F.min(F.xxhash64("shingle", F.lit(seed + i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    sig = idx.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Approximate near-dup pairs → ``(id_a, id_b, est_jaccard)``.

    Bands of r = num_hashes/bands rows; candidates share ≥1 band bucket;
    ``est_jaccard`` = fraction of agreeing minhashes (unbiased Jaccard
    estimator), filtered at ``threshold``.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    if hash_fn == "md5":
        # string bucket with an exact SQL twin: md5 over '|'-joined mins
        def _bucket(bi):
            return F.md5(
                F.concat_ws(
                    "|", *[F.get("sig", bi * r + j).cast("string") for j in range(r)]
                )
            )
    else:
        def _bucket(bi):
            return F.xxhash64(*[F.get("sig", bi * r + j) for j in range(r)])
    band_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                _bucket(bi).alias("bucket"),
            )
            for bi in range(bands)
        ]
    )
    sigs = minhash_signatures(df, num_hashes, id_col, text_col, n, seed,
                              hash_fn)
    with measure(sigs) as (sig, rows):
        buckets = sig.select("id", F.explode(band_arr).alias("bb")).select(
            "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
        y = buckets.alias("y")
        cand = (
            buckets.alias("x")
            .join(F.broadcast(y) if broadcastable(rows * bands) else y,
                  ["band", "bucket"])
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
        sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
        sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
        est = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn(
                "est_jaccard",
                F.aggregate(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).cast("double")
                / F.lit(num_hashes),
            )
            .where(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard")
        )
        return est.localCheckpoint(eager=True)


# --------------------------------------------------------------- SimHash
def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """→ ``(id, simhash long)``: per-bit signed sums of whitespace-token
    hashes, sign → bit. One explode + one aggregation.

    ``hash_fn='md5'`` uses the 60-bit cross-engine hash (and therefore
    ``bits`` must be ≤ 60 — pass ``bits=60``) so the signature has an
    exact ANSI-SQL twin.
    """
    if hash_fn == "md5" and bits > 60:
        raise ValueError("md5 hash_fn provides 60 bits; pass bits<=60")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    if hash_fn == "md5":
        toks = toks.withColumn("h", hash60_md5("tok", seed))
    elif hash_fn == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("tok", F.lit(seed)))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.expr(f"getbit(h, {b})") == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    # assemble bits into one signed 64-bit long (bit 63 = sign bit)
    bit_vals = [
        F.when(
            F.col(f"b{b}") > 0,
            F.lit(2**b if b < 63 else -(2**63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(bits)
    ]
    sig = sums.select(
        "id",
        F.aggregate(
            F.array(*bit_vals), F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("simhash"),
    )
    return sig


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidates via chunk banding with ``max_hamming + 1`` chunks, so the
    pigeonhole guarantee (distance ≤ h ⇒ some chunk identical) holds for
    EVERY ``max_hamming`` — the result is therefore exact: all pairs
    within the Hamming ball, none missed.
    """
    n_chunks = max_hamming + 1
    if n_chunks > bits:
        raise ValueError("max_hamming + 1 chunks need max_hamming < bits")
    width = -(-bits // n_chunks)  # ceil
    spans = [
        (i * width, min((i + 1) * width, bits)) for i in range(n_chunks)
    ]
    sigs = simhash_signatures(df, id_col, text_col, bits=bits, seed=seed,
                              hash_fn=hash_fn)
    with measure(sigs) as (sig, _):
        chunks = sig.select(
            "id",
            "simhash",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("simhash", lo)
                        .bitwiseAND(F.lit((1 << (hi - lo)) - 1))
                        .alias("val"),
                    )
                    for i, (lo, hi) in enumerate(spans)
                ])
            ).alias("cb"),
        ).select("id", "simhash", F.col("cb.chunk").alias("chunk"), F.col("cb.val").alias("val"))
        cand = (
            chunks.alias("x")
            .join(chunks.alias("y"), ["chunk", "val"])
            .where(F.col("x.id") < F.col("y.id"))
            .select(
                F.col("x.id").alias("id_a"),
                F.col("y.id").alias("id_b"),
                F.col("x.simhash").alias("ha"),
                F.col("y.simhash").alias("hb"),
            )
            .distinct()
        )
        return (
            cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
            .localCheckpoint(eager=True)
        )


# ------------------------------------------- fuzzy-dedup clustering
def near_dup_clusters(
    spark,
    df: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
    **lsh_kwargs,
) -> DataFrame:
    """Corpus-level fuzzy dedup → ``(doc_id, cluster_id, keep int)``.

    The shape every large-scale training-data pipeline ends with
    (SlimPajama / Gopher / CCNet style): candidate near-dup *pairs* are
    only half the job — dedup must act on the *transitive closure* (A~B,
    B~C ⇒ {A,B,C} are one cluster even if A~C was never emitted), keeping
    exactly one survivor per cluster.

    Composition, all DataFrame-native:

    1. pairs = :func:`minhash_lsh_pairs` (or any ``(id_a, id_b, ...)``
       DataFrame passed via ``pairs`` — jaccard/simhash/embedding pairs
       all fit).
    2. clusters = connected components
       (:func:`~distributed_pagerank_spark.plans.components.connected_components`,
       hash-min that arms pointer jumps on a long chain) over the pair
       graph; the pair graph holds only near-dup docs, a tiny fraction of
       the corpus, so the CC loop state is small even at 10^9 docs.
       Pairs made here are released once CC has returned;
       caller-supplied ``pairs`` stay the caller's.
    3. left join back to the corpus: unpaired docs are their own
       singleton cluster. ``component`` = min doc id in the cluster; the
       survivor is the min id PRESENT IN ``df`` per cluster (computed on
       the pair-graph-sized cluster map, never the corpus) — for
       self-generated pairs that is simply ``doc_id == cluster_id``, and
       for caller-supplied ``pairs`` referencing ids absent from ``df``
       it guarantees every cluster with at least one present member still
       keeps exactly one survivor (the foreign min id may still name the
       cluster). The result is lazy: it joins the corpus's doc ids with
       the cluster and survivor maps under the caller's session confs.

    ``keep`` is int (1/0) rather than boolean for exact cross-engine
    oracle hashing.
    """
    # local import: plans.* composes operators.*; keep module import acyclic
    from distributed_pagerank_spark.plans.components import connected_components

    made = pairs is None
    if made:
        pairs = minhash_lsh_pairs(
            df, threshold=threshold, id_col=id_col, text_col=text_col,
            hash_fn=hash_fn, **lsh_kwargs,
        )
    # the CC loop sizes its partitions from the pair graph's bytes
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    try:
        comp = connected_components(spark, edges)
    finally:
        if made:  # CC's result is a leaf of its own
            release_local_checkpoint(pairs)
    docs = df.select(F.col(id_col).alias("doc_id"))
    # survivor = min id present in df per cluster. With self-generated
    # pairs this equals the component id (so the twin's doc_id ==
    # cluster_id rule is unchanged); with caller-supplied pairs the
    # cluster min can be a foreign id, which would otherwise leave that
    # cluster with zero keepers. The agg input is the pair-graph-sized
    # cluster map semi-joined against the pruned one-column doc-id scan.
    surv = (
        comp.join(docs, comp["id"] == docs["doc_id"])
        .groupBy("component")
        .agg(F.min("doc_id").alias("__survivor"))
    )
    return (
        docs.join(comp, docs["doc_id"] == comp["id"], "left")
        .join(surv, "component", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            (F.col("doc_id") == F.coalesce("__survivor", "doc_id"))
            .cast("int")
            .alias("keep"),
        )
    )
