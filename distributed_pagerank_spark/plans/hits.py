"""HITS (hubs & authorities) — the directed companion to PageRank.

No reference implementation exists (lioia/distributed-pagerank computes
only PageRank); semantics are Kleinberg's mutual-reinforcement fixpoint
with per-step L1 normalization:

- ``auth_i(v) = Σ_{(u,v)∈E} hub_{i-1}(u)``, then ``auth_i /= Σ auth_i``
- ``hub_i(u)  = Σ_{(u,v)∈E} auth_i(v)``,   then ``hub_i  /= Σ hub_i``

(L1 rather than L2 normalization — the scale factor is arbitrary for the
power iteration, and L1 keeps the fixed-k oracle twin in exact decimal
SQL, no sqrt.)

One materializing job per iteration over AUTH-ONLY state: because L1
normalization is scale-invariant, substituting the hub update into the
auth update gives ``auth_i = norm(Eᵀ·(E·auth_{i-1}))`` EXACTLY — the
intermediate hub vector needs no normalization of its own (the scalar
cancels inside norm), so the loop carries just the auth vector and
chains both gathers inside a single DAG per iteration. Each iteration's
raw snapshot is a LAZY ``localCheckpoint`` whose materializing action is
the L1 auth-mass aggregate itself (r6: one job per iteration computes
the state, caches it at the RDD layer, cuts lineage, AND returns the
scalar — no Observation, no separate persist, zero truncation jobs);
the normalizing division is applied lazily as a driver literal over the
checkpointed snapshot — exact per-step normalization, no magnitude
drift. The hub vector is derived once after the loop
(``hub = norm(E·auth_k)``).

Cutting lineage EVERY iteration (free here — the checkpoint rides the
mass job) also kills the ×2-per-iteration logical-plan growth the state
double-reference used to cause (row base + gather source), which is why
the old shape needed an interval-2 eager-truncation cadence (r6 A/B:
interval 4 → 11.2 s, 5 → 43 s of pure Catalyst analysis; a
hub-and-auth state would double TWICE per round and measured 14.8 s for
iteration 8 alone).

Scale shape: the edge table is cached TWICE, once partitioned+sorted by
``src`` (the auth gather joins hub contributions on src) and once by
``dst`` (the hub gather joins auth on dst) — both gathers are then
co-located sort-merge joins where only the |V|-sized score vectors move,
the same one-shuffle-per-gather property as the PageRank loop
(``plans/pagerank.py``). At 100 TB the duplicated edge cache trades 2×
storage for zero per-iteration edge shuffles — the right trade when
iterations dominate.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.degrees import vertices_from_edges
from distributed_pagerank_spark.plans.loop import release_local_checkpoint


@dataclass
class HitsResult:
    scores: DataFrame  # (id long, hub double, auth double)
    iterations: int
    delta: float
    converged: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def hits(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 20,
    eps: float = 0.0,
    num_partitions: int | None = None,
) -> HitsResult:
    """Run HITS to ``max_iter`` rounds (or L1-delta ≤ eps on auth, when
    eps > 0 — the delta check costs one extra scalar agg per round over
    the cached state, so the fixed-k path sets eps=0 and pays nothing).

    Returns normalized ``(id, hub, auth)`` over all vertices; vertices
    with no in-links get auth 0, with no out-links hub 0.
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # one scan of the raw input feeds both cached orientations
    e = edges.select("src", "dst").distinct().persist()
    e_src = (
        e.repartition(num_partitions, "src").sortWithinPartitions("src").persist()
    )
    e_dst = (
        e.repartition(num_partitions, "dst").sortWithinPartitions("dst").persist()
    )
    # one materializing job fills BOTH orientation caches: evaluating the
    # union evaluates each child, populating its persisted blocks (r6;
    # same observation-era fusion pattern as plans/bfs.py). Its count also
    # carries the empty-graph check (no vertex without an edge), so the
    # init state below needs no eager count of its own.
    if e_src.unionByName(e_dst).count() == 0:
        e.unpersist()
        e_src.unpersist()
        e_dst.unpersist()
        raise ValueError("empty edge table: no vertices to score")
    verts = vertices_from_edges(e)

    # auth-only state (module docstring): hub_0 is the uniform 1/n vector,
    # so round 1's hub gather source IS the init state. The vertex count
    # rides the state materialization as a broadcast one-row aggregate
    # (1.0/__n is the same IEEE double division as the former Python
    # literal), and the state itself is a LAZY localCheckpoint whose
    # materializing action is iteration 1's mass aggregate (r6) — zero
    # setup jobs beyond the cache fill. ``e`` must outlive that first
    # materialization; it is released inside the loop.
    cnt = verts.agg(F.count(F.lit(1)).alias("__n"))
    state = (
        verts.crossJoin(F.broadcast(cnt))
        .select("id", (F.lit(1.0) / F.col("__n")).alias("auth"))
        .repartition(num_partitions, "id")
        .sortWithinPartitions("id")
        .localCheckpoint(eager=False)
    )

    metrics: list[dict[str, Any]] = []
    iteration, delta, converged = 0, float("inf"), False
    prev_snapshot = state

    # session confs (AQE on): coalescing the two per-iteration gather
    # exchanges measured ~30% faster (BENCH/ab_hits_r6.json)
    while iteration < max_iter and not converged:
        iteration += 1
        t0 = time.monotonic()
        auth_vec = state.select("id", "auth")
        if iteration == 1:
            # hub_0 == the uniform init vector: gather it directly
            h_tmp = auth_vec.select(
                F.col("id").alias("hid"), F.col("auth").alias("h")
            )
        else:
            # un-normalized intermediate hub E·auth — the scalar
            # cancels inside the auth normalization below
            h_tmp = (
                e_dst.join(auth_vec, e_dst["dst"] == auth_vec["id"])
                .groupBy(F.col("src").alias("hid"))
                .agg(F.sum("auth").alias("h"))
            )
        a_sums = (
            e_src.join(h_tmp, e_src["src"] == F.col("hid"))
            .groupBy("dst")
            .agg(F.sum("h").alias("a_raw"))
        )
        # lazy localCheckpoint: the mass aggregate below is the
        # materializing action — ONE job computes the iteration,
        # caches the raw snapshot at the RDD layer, cuts lineage,
        # and returns the L1 mass scalar
        snapshot = (
            state.join(a_sums, state["id"] == a_sums["dst"], "left")
            .select(
                "id", F.coalesce(F.col("a_raw"), F.lit(0.0)).alias("auth_raw")
            )
            .localCheckpoint(eager=False)
        )
        a_mass = snapshot.agg(F.sum("auth_raw")).first()[0] or 1.0
        if iteration == 1:
            # the init state (and everything derived from the raw
            # input) is now baked into the checkpointed snapshot —
            # drop the distinct-edge cache
            e.unpersist()
        # lazy normalization: a driver literal over the cached snapshot
        new_state = snapshot.select(
            "id", (F.col("auth_raw") / F.lit(float(a_mass))).alias("auth")
        )
        if eps > 0.0:
            delta = (
                new_state.select("id", F.col("auth").alias("na"))
                .join(state.select("id", F.col("auth").alias("oa")), "id")
                .agg(F.sum(F.abs(F.col("na") - F.col("oa"))))
                .first()[0]
                or 0.0
            )
            converged = delta <= eps
        if prev_snapshot is not None:
            release_local_checkpoint(prev_snapshot)
        prev_snapshot = snapshot
        state = new_state
        metrics.append(
            {
                "iteration": iteration,
                "a_mass": a_mass,
                "delta": delta if eps > 0 else None,
                "total_s": round(time.monotonic() - t0, 4),
            }
        )

    # final hub vector: hub_k = norm(E·auth_k) — one extra job
    auth_vec = state.select("id", "auth")
    h_sums = (
        e_dst.join(auth_vec, e_dst["dst"] == auth_vec["id"])
        .groupBy(F.col("src").alias("hid"))
        .agg(F.sum("auth").alias("h_raw"))
    )
    scores_raw = (
        state.join(h_sums, state["id"] == F.col("hid"), "left")
        .select(
            "id",
            F.coalesce(F.col("h_raw"), F.lit(0.0)).alias("hub_raw"),
            "auth",
        )
        .localCheckpoint(eager=False)
    )
    h_mass = scores_raw.agg(F.sum("hub_raw")).first()[0] or 1.0

    e_src.unpersist()
    e_dst.unpersist()
    if prev_snapshot is not None and prev_snapshot is not scores_raw:
        release_local_checkpoint(prev_snapshot)
    scores = scores_raw.select(
        "id", (F.col("hub_raw") / F.lit(float(h_mass))).alias("hub"), "auth"
    )
    return HitsResult(scores, iteration, delta, converged, metrics)
