"""Strongly connected components via iterative coloring (directed SCC).

No reference counterpart (the reference computes only PageRank; its
graph is directed but only ranked). Semantics: exact SCCs of the
directed simple graph, labeled by the minimum member id.

Algorithm — the label-propagation / coloring scheme (Orzan's coloring,
re-derived; the standard distributed SCC that needs no DFS):

Per OUTER round over the remaining subgraph:

1. **Color** (forward max fixpoint): ``c(v) = max id that reaches v``
   (including v). Propagated like hash-min CC but directed and max;
   each color class {v : c(v)=c} always contains its root c (if a
   bigger id reached c it would also reach the whole class — so the
   root is the MAXIMUM id of its class), and an SCC never straddles
   classes (mutually reachable vertices see the same reacher set).
2. **Confirm** (within-class backward reachability to the root):
   because the root is the class maximum, ``v`` reaches its root inside
   the class iff ``m(v) = c(v)``, where ``m(v) = max id reachable from
   v along class-internal edges`` — ANOTHER max fixpoint, over the
   reversed class-restricted edge set (built once per outer round).
   Confirmed vertices reach the root ⇒ the root reaches them (that is
   what the color says) ⇒ together they are exactly SCC(root).
3. **Extract**: assign confirmed vertices, drop them from the subgraph.
   Removing a whole SCC never disconnects another (any path certifying
   mutual reachability lies wholly inside its own SCC), and every
   nonempty class extracts its root SCC, so the remainder strictly
   shrinks — typically by most of the graph in round one.

Both fixpoints POINTER-JUMP: every label value is a vertex id carrying
the fixpoint's reach invariant (``c(v) reaches v``; ``m(v)`` is
reachable from v in-class), so folding in ``label(label(v))`` per round
is sound and halves the remaining propagation distance — O(log d)
rounds instead of O(d). On the 400-vertex functional-graph fixture the
giant SCC's internal cycle is ~10² long: plain propagation paid ~200
one-hop rounds across the two fixpoints of outer round 1 alone (~400 s
at 32 threads, jobs dominated by fixed scheduling cost); jumping closes
the same color fixpoint in 18 rounds (~11 s measured).

Both fixpoints run on the shared ``plans.loop.fixpoint`` harness: one
Spark job per round (the snapshot write, with the changed-label count
observed on it), lineage cut at every round, and a ``RuntimeError``
when ``max_prop`` rounds end before the labels settle — partial labels
would split SCCs. The edge sets and vertex sets between fixpoints are
``localCheckpoint`` leaves too, so no plan deepens across rounds. The
whole call, set-up leaves, outer rounds and canonicalization included,
runs under one policy at one partition count, sized from the input
edges' bytes (``plans.loop.measure``).

Scale shape: both fixpoints move only |V_r|-sized label vectors against
a per-round cached-and-shrinking edge set (same gather-scatter economy
as the PageRank loop). The subgraph shrink keeps the edges whose two
endpoints both remain, in two semi-joins against the remaining vertex
set, which broadcasts when its exact count is broadcastable
(``plans.loop.broadcastable``). Worst case (a chain of SCCs in
adversarial id order) degrades to O(chain length) outer rounds — the
same worst case every coloring-family SCC algorithm has without DFS.

Final labels are canonicalized to the minimum member id (one
aggregation + join), so output is independent of which member happened
to be the color root.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import vertices_from_edges
from distributed_pagerank_spark.plans.loop import (
    broadcastable,
    fixpoint,
    measure,
    own,
    release_local_checkpoint,
)


def _max_prop(
    spark: SparkSession,
    edges_r: DataFrame,
    init: DataFrame,
    max_rounds: int,
    gather_from: str,
    group_to: str,
    name: str,
) -> DataFrame:
    """Jump-accelerated directed max-label fixpoint over ``(id, c)`` →
    the final ``fixpoint`` snapshot, a leaf the caller releases.

    Per round ``c(v)`` folds in (a) the max label across incident edges
    — labels read at the ``gather_from`` endpoint, delivered to the
    ``group_to`` endpoint — and (b) the pointer jump ``c(c(v))``, sound
    because every label is a vertex id carrying the fixpoint's
    reachability invariant. Converges in O(log d) rounds; a run that
    stops at ``max_rounds`` still holds partial labels, so it raises."""

    def step(prev: DataFrame, last: dict[str, Any] | None):
        nbr = (
            edges_r.join(prev, edges_r[gather_from] == prev["id"])
            .groupBy(group_to)
            .agg(F.max("c").alias("mx"))
        )
        jump = prev.select(
            F.col("id").alias("__jid"), F.col("c").alias("__jc")
        )
        return (
            prev.join(nbr, prev["id"] == nbr[group_to], "left")
            .join(jump, prev["c"] == F.col("__jid"), "left")
            .select(
                "id",
                prev["c"].alias("old"),
                F.greatest(
                    prev["c"],
                    F.coalesce("mx", prev["c"]),
                    F.coalesce("__jc", prev["c"]),
                ).alias("c"),
            )
        ), {}

    run = fixpoint(
        spark, name, edges_r, lambda: init, step,
        {"changed": F.sum((F.col("c") != F.col("old")).cast("long"))},
        lambda s, _: s["changed"] == 0,
        max_iter=max_rounds,
    )
    return run.settled(f"SCC {name} fixpoint")


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_outer: int = 50,
    max_prop: int = 200,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """→ ``(id long, component long)``: component = min vertex id of the
    strongly connected component (singletons label themselves).

    The result is a ``localCheckpoint`` the caller owns (free it with
    ``release_local_checkpoint``). A round budget that runs out raises
    ``RuntimeError``. ``metrics_out``
    gets one ``{iteration, assigned, remaining, converged, total_s}``
    record per outer round; ``converged`` is ``remaining == 0``."""
    metrics = metrics_out if metrics_out is not None else []

    def leaf(df: DataFrame, eager: bool) -> DataFrame:
        # a flat lineage leaf: each inner round embeds the plans of the
        # edge sets and start states, so they must not deepen per round
        return own(df.localCheckpoint(eager=eager))

    with measure(edges.select("src", "dst")) as (raw, _):
        cur = leaf(
            raw.where(F.col("src") != F.col("dst"))
            .distinct()
            .repartition("src"),
            eager=True,
        )
        # vertex set from the UN-filtered input: a vertex whose only
        # edge is a self-loop is still a (singleton) SCC and must appear
        verts = leaf(
            vertices_from_edges(raw).repartition("id"),
            eager=True,
        )
        raw.unpersist()
        assigned_parts: list[DataFrame] = []
        for outer in range(1, max_outer + 1):
            t0 = time.monotonic()

            # 1. color: forward max-label fixpoint with pointer jumps
            colors = own(_max_prop(
                spark, cur, verts.select("id", F.col("id").alias("c")),
                max_prop, "src", "dst", f"scc_color_{outer}",
            ))

            # 2. confirm: within-class backward reachability to the
            # root. The class-restricted edge set (both endpoints the
            # same color) gets the same jumping max fixpoint in the
            # REVERSE direction: m(v) = max id reachable from v along
            # class edges; v reaches the root iff m(v) == c(v) (the
            # root is the class maximum). The reach fixpoint's first
            # job materializes the lazy edge leaf.
            csrc = colors.select(
                F.col("id").alias("__cs"), F.col("c").alias("__ccs")
            )
            cdst = colors.select(
                F.col("id").alias("__cd"), F.col("c").alias("__ccd")
            )
            class_edges = leaf(
                cur.join(csrc, cur["src"] == F.col("__cs"))
                .join(cdst, cur["dst"] == F.col("__cd"))
                .where(F.col("__ccs") == F.col("__ccd"))
                .select("src", "dst"),
                eager=False,
            )
            m_final = own(_max_prop(
                spark, class_edges,
                colors.select("id", F.col("id").alias("c")),
                max_prop, "dst", "src", f"scc_reach_{outer}",
            ))
            flags = (
                colors.select("id", F.col("c").alias("color"))
                .join(m_final.select("id", F.col("c").alias("m")), "id")
                .select(
                    "id",
                    F.col("color").alias("c"),
                    (F.col("m") == F.col("color")).alias("flag"),
                )
            )

            # 3. extract. Both outputs are leaves materialized by their
            # counts before the fixpoint states they read are released
            assigned = leaf(
                flags.where(F.col("flag"))
                .select("id", F.col("c").alias("root")),
                eager=False,
            )
            n_done = assigned.count()
            remaining = leaf(
                flags.where(~F.col("flag")).select("id"), eager=False
            )
            n_rem = remaining.count()
            assigned_parts.append(assigned)
            metrics.append(
                {
                    "iteration": outer,
                    "assigned": n_done,
                    "remaining": n_rem,
                    "converged": n_rem == 0,
                    "total_s": round(time.monotonic() - t0, 4),
                }
            )
            for df in (colors, m_final, class_edges, verts):
                release_local_checkpoint(df)
            verts = remaining
            if n_rem == 0:
                break
            # shrink the subgraph to the unassigned remainder
            rem_b = (F.broadcast(remaining) if broadcastable(n_rem)
                     else remaining)
            nxt_edges = leaf(
                cur.join(rem_b, cur["src"] == rem_b["id"], "left_semi")
                .join(rem_b, cur["dst"] == rem_b["id"], "left_semi"),
                eager=True,
            )
            release_local_checkpoint(cur)
            cur = nxt_edges
        else:
            raise RuntimeError(
                f"SCC did not converge in {max_outer} outer rounds"
            )

        labeled = assigned_parts[0]
        for part in assigned_parts[1:]:
            labeled = labeled.unionByName(part)
        # canonicalize: component = min member id (root is the
        # max-reaching member, an artifact of the coloring order).
        # plain equi-join: canon has one row per SCC, which can approach
        # |V| (all-singleton graphs) — not broadcastable in general, so
        # it is a sort-merge join at the run's partition count
        canon = labeled.groupBy("root").agg(F.min("id").alias("component"))
        return (
            labeled.join(canon, "root")
            .select("id", "component")
            .localCheckpoint(eager=True)
        )
