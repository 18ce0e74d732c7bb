"""Damped power-iteration PageRank as a per-iteration DataFrame DAG.

Semantics are the reference's, re-derived (not ported) from
``pkg/graph/pagerank.go:11-52`` and ``pkg/node/master.go:106-189``:

- update: ``rank'(u) = c * Σ_{v→u} rank(v)/out_degree(v) + (1-c) * E(u)``
  (scatter ``workerMap`` worker.go:95-103 + gather master.go:336-360 +
  reduce ``workerReduce`` worker.go:105-111);
- convergence: L1 delta ``Σ|rank'-rank| <= eps`` (distributed form,
  master.go:158) with a hard cap of ``max_iter`` (default 100,
  pagerank.go:12);
- dangling vertices contribute nothing per iteration (the reference never
  redistributes dangling mass); total mass is repaired by a one-shot
  normalization ``rank /= Σrank`` at convergence (pagerank.go:38-45).
  ``dangling='redistribute'`` opts into classic per-iteration dangling-mass
  redistribution instead (mass-conserving).
- ``E`` is an explicit input (the reference's is unseeded random,
  graph.go:83 — irreproducible); defaults to uniform ``1/|V|`` and is
  normalized to sum 1 like the reference load path (graph.go:93-97).

The per-iteration physical plan is one job with at most one shuffle:
the rank vector already has the (cached, pre-partitioned) edge table's
layout, so the scatter join reads both in place; the aggregation keyed
by ``dst`` (map-side partial combine — optionally salted two-stage for
hubs) is the shuffle, and its output joins back to the rank vector in
the same layout, with the delta observed on the snapshot write
(``plans/loop.py``). The static ``edges ⋈ out_degree`` product is
computed once, hash-partitioned by ``src`` into the loop's sized
partition count and persisted, so iterations never reshuffle the (huge)
edge table — only the |V|-sized contribution sums move.
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import vertices_from_edges
from distributed_pagerank_spark.operators.salting import hub_ids, salted_sum
from distributed_pagerank_spark.plans.loop import (
    edge_table,
    exact_sum,
    fixpoint,
    measure,
    own,
)


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id long, rank double)
    iterations: int
    delta: float
    converged: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


@contextmanager
def _prepare_edges(
    edges: DataFrame,
    dup_policy: str,
    weight_col: str | None = None,
) -> Iterator[tuple[DataFrame, DataFrame, DataFrame, int]]:
    """Static per-run edge product: (src, dst, out_degree), partitioned by
    src and persisted. The in-link side dedups duplicates in both policies
    (the reference stores in-links in a map, collapsing dups); the
    out-degree side depends on dup_policy (SURVEY §2.1 S4 quirk).

    The raw edge input is scanned EXACTLY ONCE per run: a single
    ``groupBy(src, dst)`` produces the distinct edge set *and* the
    duplicate multiplicities, and everything else — out-degrees under
    either policy, the vertex set, and the edge ⋈ degree product — derives
    from that cached aggregate. At 100 TB the input scan is the dominant
    startup cost, so re-reading it per derived artifact (the round-2 shape:
    distinct + degrees + vertices = 4 scans) is not acceptable.

    A ``measure`` block over that aggregate: it sizes the run and the
    block runs under its policy. The block gets ``(edge_product,
    vertices, cached_distinct_edges, edge_count)``; the edge count is the
    aggregate's, which the edge product shares (the empty-graph check).
    The edge product fills on the first job that reads it, and the
    aggregate must stay cached until then.
    """
    if weight_col is not None:
        # weighted graph: duplicate (src, dst) rows merge by SUMMING their
        # weights; the normalizer is the src's total out-weight (strength),
        # so the transition column is w / strength — dup_policy does not
        # apply (weights subsume multiplicity)
        ecnt = edges.groupBy("src", "dst").agg(
            F.sum(F.col(weight_col).cast("double")).alias("__w"))
        deg = ecnt.groupBy(F.col("src").alias("id")).agg(
            F.sum("__w").alias("out_degree")
        )
        e = ecnt.select("src", "dst", "__w")
        edge_cols = ["src", "dst", "__w", "out_degree"]
    else:
        ecnt = edges.groupBy("src", "dst").agg(F.count("*").alias("__cnt"))
        deg_agg = F.sum("__cnt") if dup_policy == "reference" else F.count("*")
        deg = ecnt.groupBy(F.col("src").alias("id")).agg(
            deg_agg.cast("long").alias("out_degree")
        )
        e = ecnt.select("src", "dst")
        edge_cols = ["src", "dst", "out_degree"]
    with measure(ecnt) as (ecnt, m):
        # the join's own shuffle by src already is the edge table's layout
        ew = edge_table(e.join(deg, e["src"] == deg["id"]).select(*edge_cols))
        # the vertex set reads the cache, not the raw input
        yield ew, vertices_from_edges(e), ecnt, m


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    c: float = 0.85,
    eps: float = 1e-6,
    max_iter: int = 100,
    e: DataFrame | None = None,
    dup_policy: str = "distinct",
    dangling: str = "reference",
    weight_col: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 1,
    resume: bool = True,
    skew_salt: int | None = None,
    hub_threshold: int | None = None,
) -> PageRankResult:
    """Run PageRank to L1 convergence.

    Parameters mirror the reference's ``Configuration`` (c, threshold,
    graph) plus the scale knobs the reference lacks. ``e`` is an optional
    ``(id, e)`` DataFrame, normalized to sum 1 as the reference does on
    load (an all-zero ``e`` is left as is); ``skew_salt=S`` enables
    two-stage salted aggregation over hubs with in-degree >
    ``hub_threshold``.
    ``weight_col`` names an edge-weight column: the transition probability
    becomes ``w(u,v) / Σ_x w(u,x)`` instead of ``1 / out_degree`` (dup
    edges merge by summing weight; ``dup_policy`` is subsumed).
    ``checkpoint_dir`` makes the run resumable (``plans/loop.py``).
    Without it the iteration state lives in unreplicated local
    checkpoints, and losing an executor mid-run aborts the run; with it,
    rerunning the same call resumes from the last durable iteration.

    A run with ``eps > 0`` that stops at ``max_iter`` unconverged emits a
    ``RuntimeWarning`` (and returns ``converged=False``); ``eps=0`` asks
    for exactly ``max_iter`` iterations and does not warn.
    """
    if not 0.0 < c < 1.0:
        raise ValueError("damping c must be in (0,1)")
    with _prepare_edges(edges, dup_policy, weight_col) as (
        edges_w, verts, edges_cached, n_edges
    ):
        # empty-graph check rides measure's count of the edge aggregate (no
        # vertex without an edge): the fresh-start state needs no count
        if n_edges == 0:
            raise ValueError("empty edge table: no vertices to rank")

        # the personalization vector is part of the resume fingerprint:
        # resuming with a different e must NOT continue from the old
        # checkpoint (the old e is baked into the checkpointed ranks)
        e_h = "uniform"
        if e is not None and checkpoint_dir:
            eagg = e.agg(
                F.expr("bit_xor(xxhash64(id, round(e, 12)))").alias("eh")
            ).first()
            # "|norm=True" keeps existing checkpoint directories resumable
            e_h = f"{eagg['eh']}|norm=True"

        # --- E vector ----------------------------------------------------
        if e is not None:
            verts = verts.join(e, "id", "left").withColumn(
                "e", F.coalesce(F.col("e"), F.lit(0.0)).cast("double")
            )
            total_e = verts.agg(F.sum("e")).first()[0] or 1.0
            verts = verts.withColumn("e", F.col("e") / F.lit(float(total_e)))
        # uniform e (1/n) is filled by init() below: the vertex count rides
        # the state materialization as a broadcast one-row aggregate instead
        # of paying its own driver job

        # --- dangling flag (for redistribute mode) -----------------------
        # carried as a state column so the per-iteration dangling mass can be
        # computed inside the iteration's single materializing job (alongside
        # the delta aggregate) — no extra driver-side job per iteration.
        extra_cols = []
        if dangling == "redistribute":
            srcs = edges_w.select(F.col("src").alias("id")).distinct()
            verts = (
                verts.join(srcs.withColumn("__out", F.lit(True)), "id", "left")
                .withColumn("dang", F.col("__out").isNull())
                .drop("__out")
            )
            extra_cols = ["dang"]

        def init() -> DataFrame:
            # ``1.0 / __n`` is the same IEEE double division as a Python
            # literal would be, without a vertex-count job of its own
            cnt = verts.agg(F.count(F.lit(1)).alias("__n"))
            e_col = F.col("e") if e is not None else F.lit(1.0) / F.col("__n")
            return verts.crossJoin(F.broadcast(cnt)).select(
                "id",
                e_col.alias("e"),
                (F.lit(1.0) / F.col("__n")).alias("rank"),
                *extra_cols,
            )

        n = hubs = None
        dang_mass = 0.0

        def step(state: DataFrame, last: dict[str, Any] | None):
            nonlocal n, hubs, dang_mass
            if last is None:
                # first iteration of this run: seed the dangling mass of the
                # start state (the vertex count rides the same aggregate,
                # which also materializes a lazy start state) and the hubs
                if dangling == "redistribute":
                    seed = state.agg(
                        F.sum(F.when(F.col("dang"), F.col("rank"))).alias("__dm"),
                        F.count(F.lit(1)).alias("__n"),
                    ).first()
                    dang_mass, n = seed["__dm"] or 0.0, seed["__n"]
                if skew_salt:
                    n = n or state.count()
                    thr = hub_threshold if hub_threshold is not None else max(
                        64, int(n_edges / max(n, 1)) * 16
                    )
                    hubs = own(hub_ids(edges_w, thr).persist())
                    hubs.count()
            elif dangling == "redistribute":
                dang_mass = last["dang_mass"]

            ranks = state.select("id", "rank")
            contrib_expr = (
                F.col("rank") * F.col("__w") / F.col("out_degree")
                if weight_col is not None
                else F.col("rank") / F.col("out_degree")
            )
            contribs = edges_w.join(ranks, edges_w["src"] == ranks["id"]).select(
                "src", "dst", contrib_expr.alias("contrib")
            )
            if hubs is not None:
                sums = salted_sum(
                    contribs, hubs, key="dst", value="contrib",
                    salt_buckets=skew_salt, salt_source="src",
                )
            else:
                sums = contribs.groupBy("dst").agg(F.sum("contrib").alias("sum"))

            base = F.coalesce(F.col("sum"), F.lit(0.0))
            if dangling == "redistribute":
                base = base + F.lit(float(dang_mass) / n)
            # rank_old rides the snapshot so the L1 delta needs no second input
            new_state = state.join(sums, state["id"] == sums["dst"], "left").select(
                "id",
                "e",
                F.col("rank").alias("rank_old"),
                (F.lit(c) * base + F.lit(1.0 - c) * F.col("e")).alias("rank"),
                *extra_cols,
            )
            return new_state, {}

        stats = {
            "delta": exact_sum(F.abs(F.col("rank") - F.col("rank_old"))),
            # Σrank of the final state feeds the 'reference' normalization
            "rank_sum": exact_sum(F.col("rank")),
        }
        if dangling == "redistribute":
            stats["dang_mass"] = exact_sum(F.when(F.col("dang"), F.col("rank")))
        run = fixpoint(
            spark, "pagerank", edges_w, init, step, stats,
            lambda s, _: s["delta"] <= eps,
            max_iter=max_iter, checkpoint_dir=checkpoint_dir,
            checkpoint_interval=checkpoint_interval,
            resume=resume, inputs=[edges_cached],
            identity=f"c={c}|eps={eps}|dup={dup_policy}|dangling={dangling}|"
                     f"w={weight_col}|e={e_h}",
        )
        if eps > 0 and not run.converged:
            warnings.warn(
                f"pagerank did not converge in {run.iterations} iterations "
                f"(eps={eps})",
                RuntimeWarning, stacklevel=2)

        # --- final normalization (reference: pagerank.go:38-45) ----------
        # checkpoints store PRE-normalized ranks; Σrank of the final state
        # was observed on its materializing job, so only a zero-iteration
        # fresh run pays the aggregate
        ranks = run.state.select("id", "rank")
        if dangling == "reference":
            total = (
                run.last["rank_sum"]
                if run.last is not None
                else ranks.agg(F.sum("rank")).first()[0]
            ) or 1.0
            ranks = ranks.withColumn("rank", F.col("rank") / F.lit(float(total)))

        delta = run.last["delta"] if run.last is not None else float("inf")
        return PageRankResult(ranks, run.iterations, delta, run.converged,
                              run.metrics)
