"""spark-submit entry point.

Replaces the reference's deployment surface (gRPC API server +
web client + RabbitMQ workers, ``cmd/server``, ``cmd/client``) with the
Spark-native launch path demanded by the north rule::

    spark-submit --py-files dps.zip -m distributed_pagerank_spark.cli \\
        pagerank --transcripts s3://bucket/transcripts \\
        --checkpoint-dir s3://bucket/ck --output s3://bucket/ranks \\
        -c 0.85 --eps 1e-6

On a cluster, master/executors come from spark-submit config; locally the
session factory defaults apply. All four algorithms share the flags.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="distributed_pagerank_spark")
    p.add_argument("algo", choices=[
        "pagerank", "components", "labelprop", "triangles", "derive-edges",
    ])
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--transcripts", help="path of the transcripts table "
                     "(conv_id, turn_idx, role, text, tool, ts); see --format")
    src.add_argument("--transcripts-table", help="catalog table name of the "
                     "transcripts table (e.g. an Iceberg catalog table)")
    src.add_argument("--edges", help="parquet path of edges(src,dst)")
    src.add_argument("--edge-list", help="text edge-list file (reference format)")
    src.add_argument("--edge-list-url", help="HTTP(S) URL of a reference-format "
                     "edge list (reference LoadGraphResource parity)")
    src.add_argument("--generate", type=int, metavar="N",
                     help="seeded random graph with N vertices")
    p.add_argument("--format", default="parquet",
                   help="transcripts storage format: parquet (default), "
                        "iceberg (needs the iceberg-spark runtime + catalog "
                        "conf), orc, json, csv, ...")
    p.add_argument("--max-edges", type=int, default=5)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("-c", "--damping", type=float, default=0.85)
    p.add_argument("--eps", type=float, default=1e-6)
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--rounds", type=int, default=10, help="LPA rounds")
    p.add_argument("--dangling", choices=["reference", "redistribute"],
                   default="reference")
    p.add_argument("--dup-policy", choices=["distinct", "reference"],
                   default="distinct")
    p.add_argument("--skew-salt", type=int, default=None)
    p.add_argument("--hub-threshold", type=int, default=None)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--checkpoint-interval", type=int, default=1)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--output", default=None, help="parquet output path")
    p.add_argument("--dot", action="store_true",
                   help="print a DOT digraph of the edges (small graphs)")
    return p


def load_edges(spark, args):
    from distributed_pagerank_spark.sources.transcripts import (
        derive_edges,
        load_transcripts,
    )
    from distributed_pagerank_spark.sources.edgelist import (
        read_edge_list,
        read_edge_list_http,
    )
    from distributed_pagerank_spark.sources.generator import generate_graph

    if args.transcripts:
        t = load_transcripts(spark, args.transcripts, format=args.format)
        return derive_edges(t)
    if getattr(args, "transcripts_table", None):
        t = load_transcripts(spark, table=args.transcripts_table)
        return derive_edges(t)
    if args.edges:
        return spark.read.parquet(args.edges).select(
            F.col("src").cast("long"), F.col("dst").cast("long")
        )
    if args.edge_list:
        return read_edge_list(spark, args.edge_list)
    if getattr(args, "edge_list_url", None):
        return read_edge_list_http(spark, args.edge_list_url)
    return generate_graph(spark, args.generate, args.max_edges, args.seed)


def to_dot(edges) -> str:
    """DOT digraph export (reference ``ConvertToDot``, graph.go:168-176);
    driver-side collect — meant for the same ≤60-vertex demo scale the
    reference UI renders."""
    lines = [f"  {r['src']} -> {r['dst']};" for r in edges.collect()]
    return "digraph {\n" + "\n".join(lines) + "\n}"


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from distributed_pagerank_spark.session import get_spark
    from distributed_pagerank_spark.plans.pagerank import pagerank
    from distributed_pagerank_spark.plans.components import connected_components
    from distributed_pagerank_spark.plans.labelprop import label_propagation
    from distributed_pagerank_spark.plans.triangles import triangle_count

    spark = get_spark(app_name=f"dps-{args.algo}")
    edges = load_edges(spark, args)
    if args.dot:
        print(to_dot(edges))

    if args.algo == "derive-edges":
        out = edges
        meta = {"algo": "derive-edges", "edges": out.count()}
    elif args.algo == "pagerank":
        res = pagerank(
            spark, edges, c=args.damping, eps=args.eps, max_iter=args.max_iter,
            dup_policy=args.dup_policy, dangling=args.dangling,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_interval=args.checkpoint_interval,
            resume=not args.no_resume, skew_salt=args.skew_salt,
            hub_threshold=args.hub_threshold,
        )
        out = res.ranks.orderBy("id")
        meta = {"algo": "pagerank", "iterations": res.iterations,
                "delta": res.delta, "converged": res.converged}
    elif args.algo == "components":
        out = connected_components(
            spark, edges, max_iter=args.max_iter,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_interval=args.checkpoint_interval,
            resume=not args.no_resume,
        )
        meta = {"algo": "components",
                "n_components": out.select("component").distinct().count()}
    elif args.algo == "labelprop":
        out = label_propagation(
            spark, edges, rounds=args.rounds,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_interval=args.checkpoint_interval,
            resume=not args.no_resume,
        )
        meta = {"algo": "labelprop",
                "n_labels": out.select("label").distinct().count()}
    else:
        out = triangle_count(spark, edges)
        meta = {"algo": "triangles", "triangles": out.first()["triangles"]}

    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        meta["output"] = args.output
    print(json.dumps(meta))
    return 0


if __name__ == "__main__":
    sys.exit(main())
