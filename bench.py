"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Scaling evidence (local[8] vs local[32] PageRank throughput) lives in
tools/bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from distributed_pagerank_spark.session import get_spark  # noqa: E402
from distributed_pagerank_spark.sources.transcripts import (  # noqa: E402
    derive_edges,
    synth_transcripts,
)
from distributed_pagerank_spark.plans.bfs import multi_source_bfs  # noqa: E402
from distributed_pagerank_spark.plans.betweenness import betweenness  # noqa: E402
from distributed_pagerank_spark.plans.truss import k_truss  # noqa: E402
from distributed_pagerank_spark.plans.hits import hits  # noqa: E402
from distributed_pagerank_spark.plans.kcore import k_core  # noqa: E402
from distributed_pagerank_spark.plans.pagerank import pagerank  # noqa: E402
from distributed_pagerank_spark.plans.triangles import (  # noqa: E402
    local_clustering_coefficient,
)
from distributed_pagerank_spark.operators.linkpred import link_prediction  # noqa: E402
from distributed_pagerank_spark.sources.generator import generate_graph  # noqa: E402
from distributed_pagerank_spark.plans.ppr import (  # noqa: E402
    personalized_pagerank_multi,
)
from distributed_pagerank_spark.plans.components import (  # noqa: E402
    connected_components,
)
from distributed_pagerank_spark.plans.labelprop import label_propagation  # noqa: E402
from distributed_pagerank_spark.plans.triangles import triangle_count  # noqa: E402
from distributed_pagerank_spark.operators.corpus import (  # noqa: E402
    concat_chunk_pack,
    quota_select,
)
from distributed_pagerank_spark.operators.dedup import (  # noqa: E402
    jaccard_pairs,
    minhash_lsh_pairs,
    near_dup_clusters,
    simhash_pairs,
)
from distributed_pagerank_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from distributed_pagerank_spark.functions.text import (  # noqa: E402
    duplicate_line_fraction,
    duplicate_ngram_fraction,
    lang_id,
    quality_score,
    token_count,
    top_ngram_fraction,
)
from distributed_pagerank_spark.streaming.events import (  # noqa: E402
    sessionize,
    windowed_event_counts,
)
import __spark_entry__ as contract  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(
        app_name="dps-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    # Each query is registered once, then the whole suite is run
    # SPARK_GRAFT_REPS times INTERLEAVED (rep 1 of every query, then rep 2
    # of every query, ...) and the per-query MIN is reported. Interleaving
    # means a multi-tenant host storm lands on different queries each rep
    # instead of poisoning all reps of one query, and min-of-reps is the
    # standard noise-floor estimator on a shared box — round-over-round
    # bench deltas become code signal, not host weather.
    suite: list[tuple[str, object]] = []

    def run(name, fn):
        suite.append((name, fn))

    t = lambda n: spark.read.parquet(f"{sf_dir}/{n}.parquet")  # noqa: E731

    # graph suite over the derived customer→supplier graph. persist, not
    # localCheckpoint: a lineage cut cannot recompute if tmpfs pressure
    # evicts a block mid-suite, while a cached join recomputes from parquet.
    edges = contract._graph_edges(spark, sf_dir).persist()
    edges.count()
    run("q_pagerank_k10", lambda: pagerank(
        spark, edges, c=0.85, eps=0.0, max_iter=10).ranks.count())
    run("q_connected_components", lambda: connected_components(
        spark, edges, max_iter=10).count())
    run("q_label_propagation_k3", lambda: label_propagation(
        spark, edges, rounds=3).count())
    run("q_triangles", lambda: triangle_count(
        spark, contract._supplier_pairs(spark, sf_dir)).collect())
    run("q_hits_k10", lambda: hits(spark, edges, max_iter=10).scores.count())
    run("q_k_core", lambda: k_core(
        spark, contract._sparse_edges(spark, sf_dir), k=3).count())
    run("q_link_prediction", lambda: link_prediction(
        spark, contract._sparse_edges(spark, sf_dir),
        method="adamic_adar", top_k=5).count())

    # clustering coefficient on a seeded generated graph (the TPC-H
    # graphs are bipartite / near-complete — vacuous; see the driver
    # entry). ~350k edges: large enough to dominate scheduling overhead.
    # SCC is NOT benched: its wall-clock is outer-round count × fixed
    # per-job cost (a local-mode scheduling artifact, ~60 s regardless of
    # n at these sizes) — the driver row `strongly_connected_components`
    # plus plans/scc.py's measured 788→56 s optimization trail carry its
    # perf story.
    run("q_clustering_coefficient", lambda: local_clustering_coefficient(
        spark, generate_graph(spark, n=50_000, max_edges=5, seed=11)
    ).count())

    # flagship transcript path (BASELINE input shape), sized to the sf knob
    n_convs = {"0.001": 1_000, "0.01": 10_000, "0.1": 100_000}.get(sf, 100_000)
    def _transcripts():
        # no materialization needed: pagerank scans its input exactly once
        tr = synth_transcripts(spark, n_convs=n_convs, seed=42)
        res = pagerank(spark, derive_edges(tr), c=0.85, eps=0.0, max_iter=5)
        res.ranks.count()
    run("q_pagerank_transcripts_k5", _transcripts)

    def _ppr():
        edges = contract._graph_edges(spark, sf_dir)
        custs = edges.select("src").distinct()
        seeds = custs.where(F.col("src") % 50 == 0).select(
            F.lit(1).alias("set_id"), F.col("src").alias("id"),
            F.lit(1.0).alias("weight"),
        ).unionByName(custs.where(F.col("src") % 50 == 1).select(
            F.lit(2).alias("set_id"), F.col("src").alias("id"),
            (F.col("src") % 7 + 1).cast("double").alias("weight"),
        ))
        personalized_pagerank_multi(spark, edges, seeds, k=5).count()
    run("q_ppr_multi_seed", _ppr)

    def _bfs():
        edges = contract._graph_edges(spark, sf_dir)
        roots = (edges.select("src").distinct()
                 .where(F.col("src") % 250 == 0)
                 .select(F.col("src").alias("root"), F.col("src").alias("id")))
        multi_source_bfs(spark, edges, roots, max_depth=3).count()
    run("q_bfs_multi_source", _bfs)

    def _betweenness():
        roots = (edges.select("src").distinct()
                 .where(F.col("src") % 250 == 0)
                 .select(F.col("src").alias("root")))
        betweenness(spark, edges, roots, max_depth=3).count()
    run("q_betweenness", _betweenness)

    run("q_k_truss", lambda: k_truss(
        spark, contract._strong_pairs(spark, sf_dir), k=4).count())

    # training-data toolkit
    run("q_dedup_jaccard", lambda: jaccard_pairs(
        t("documents"), threshold=0.5, max_shingle_df=1000).count())
    run("q_dedup_minhash_lsh", lambda: minhash_lsh_pairs(
        t("documents"), threshold=0.5).count())
    run("q_dedup_clusters", lambda: near_dup_clusters(
        spark, t("documents"), threshold=0.5).count())
    run("q_dedup_simhash", lambda: simhash_pairs(
        t("documents"), max_hamming=3).count())

    def _ann():
        emb = t("embeddings")
        q = emb.limit(32).select(F.col("vec_id").alias("query_id"), "embedding")
        brute_force_topk(emb, q, k=10, method="pandas").count()
    run("q_ann_cosine_topk", _ann)

    def _ann_lsh():
        emb = t("embeddings")
        q = emb.limit(32).select(F.col("vec_id").alias("query_id"), "embedding")
        lsh_topk(emb, q, k=10, n_planes=8).count()
    run("q_ann_lsh_topk", _ann_lsh)

    def _ann_ivf():
        emb = t("embeddings")
        q = emb.limit(32).select(F.col("vec_id").alias("query_id"), "embedding")
        ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4).count()
    run("q_ann_ivf_topk", _ann_ivf)

    run("q_text_analysis", lambda: t("documents").select(
        token_count("text"), lang_id("text"), quality_score("text")
    ).write.format("noop").mode("overwrite").save())

    run("q_text_repetition", lambda: t("documents").select(
        duplicate_line_fraction("text"),
        duplicate_ngram_fraction("text", 3),
        top_ngram_fraction("text", 2),
    ).write.format("noop").mode("overwrite").save())

    run("q_corpus_quota_select", lambda: quota_select(
        t("documents").select("doc_id", "source", "n_chars"), "source", 100,
        order_by=[F.col("n_chars").desc(), F.col("doc_id")],
    ).count())

    run("q_corpus_pack_bins", lambda: concat_chunk_pack(
        t("documents").select("doc_id", token_count("text").alias("tokens")),
        "tokens", "doc_id", chunk_tokens=2048,
    ).write.format("noop").mode("overwrite").save())

    run("q_events_windows", lambda: windowed_event_counts(
        t("events"), window="1 hour").count())
    run("q_events_sessionize", lambda: sessionize(
        t("events"), tiebreak_col="event_id").count())

    def _sessionize_stream():
        # micro-batch throughput of the stateful streaming sessionizer:
        # the whole sf events table through applyInPandasWithState,
        # noop sink (no sink cost in the number)
        import shutil
        import tempfile

        from distributed_pagerank_spark.streaming.events import (
            sessionize_stream,
            stream_events_from_parquet,
        )

        ckpt = tempfile.mkdtemp(prefix="dps-bench-stream-")
        try:
            # FileStreamSource needs a directory; the testdata table is a
            # single file — stage a symlink (zero-copy)
            srcdir = os.path.join(ckpt, "events_dir")
            os.makedirs(srcdir)
            os.symlink(
                os.path.abspath(f"{sf_dir}/events.parquet"),
                os.path.join(srcdir, "events.parquet"),
            )
            src = stream_events_from_parquet(spark, srcdir)
            out = sessionize_stream(src, gap_minutes=30)
            sq = (
                out.writeStream.format("noop")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                sq.processAllAvailable()
            finally:
                sq.stop()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    run("q_events_sessionize_stream", _sessionize_stream)

    def _q1():
        li = t("lineitem")
        (li.where(F.col("l_shipdate") <= "1998-09-02")
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum("l_quantity"), F.sum("l_extendedprice"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                F.count("*"))
           .collect())
    run("q_tpch_q1", _q1)

    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    per_rep: dict[str, list[float]] = {name: [] for name, _ in suite}
    for _ in range(reps):
        for name, fn in suite:
            t0 = time.monotonic()
            fn()
            per_rep[name].append(round(time.monotonic() - t0, 3))

    timings = {name: min(ts) for name, ts in per_rep.items()}
    total = round(sum(timings.values()), 3)
    headline = {
        "metric": "headline_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "sf": sf,
        "cpus": cpus,
    }
    # per-rep raw samples go to a side file, NOT the stdout line: the
    # driver keeps only the last ~2000 bytes of stdout, and r4's line with
    # queries_reps inlined overflowed that window — the captured tail
    # began mid-line and BENCH_r04.json recorded parsed: null.
    try:
        with open(os.path.join(ROOT, "BENCH/bench_detail.json"), "w") as f:
            json.dump({**headline, "queries_reps": per_rep}, f, indent=1)
    except OSError:
        pass
    # the headline JSON is the FINAL stdout line, nothing after it
    sys.stdout.flush()
    print(json.dumps(headline), flush=True)


if __name__ == "__main__":
    main()
