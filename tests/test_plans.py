"""Physical-plan audits: pin the Catalyst properties the 100 TB design
depends on, so a regression that silently de-optimizes a plan (lost
pushdown, lost pruning, a surprise cartesian product, a broadcast that
stopped broadcasting) fails CI instead of only showing up in bench drift.

These assert on ``explain('formatted')`` / queryExecution text at sf0.001 —
plan shape is scale-invariant even though the data is tiny.
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_tpch_q1_pushdown_and_pruning(spark):
    """The filter must reach the parquet scan and the scan must read only
    the 7 referenced columns — not all 16 of lineitem."""
    df = entrymod.queries()["tpch_q1"](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    scan_schema = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ][0]
    for col in ("l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in scan_schema
    assert "l_comment" not in scan_schema  # widest column stays unread


def test_graph_edges_no_cartesian_and_pruned(spark):
    df = entrymod.queries()["graph_edges"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "l_comment" not in plan and "o_comment" not in plan


def test_jaccard_capped_hot_filter_is_broadcast(spark):
    """The hot-shingle anti-join must broadcast the (tiny) hot set, not
    shuffle the full shingle index against it."""
    from distributed_pagerank_spark.operators.dedup import (
        jaccard_pairs,
        shingle_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = shingle_index(docs).persist()
    hot = (
        idx.groupBy("shingle").agg(F.count("*").alias("df"))
        .where(F.col("df") > 3).select("shingle")
    )
    capped = idx.join(F.broadcast(hot), "shingle", "left_anti")
    plan = plan_of(capped)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    idx.unpersist()
    # and the operator output itself still computes (materialized inside)
    out = jaccard_pairs(docs, threshold=0.9, max_shingle_df=3)
    assert out.columns == ["id_a", "id_b", "jaccard"]


def test_pagerank_iteration_no_extra_state_exchange(spark):
    """The per-iteration update must reuse the cached, pre-partitioned
    layouts: the only shuffle is the contribution stream's gather agg, so
    one iteration materializes as ONE job of at most 4 stages (scatter
    join + partial agg | final agg + update join | count) — a lost
    partitioning reuse adds whole exchange stages and fails this.
    Asserted at runtime via the status tracker, not explain text (which
    expands cached subtrees)."""
    from distributed_pagerank_spark.operators.degrees import vertices_from_edges

    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)], "src long, dst long"
    )
    # co-partitioning only holds when cached layouts match the shuffle
    # partition count, exactly like pagerank()'s num_partitions default
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # micro data would broadcast every join (each broadcast build is its
    # own job); at 85M+ edges these are sort-merge joins — probe that shape
    prior_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # pin AQE off for the probe: AQE splits one count() into several jobs,
    # breaking the one-job assertion (the fixpoint and frontier loops and
    # PPR run AQE-off under loop.loop_policy, SCC's outer rounds under
    # loop.LOOP_CONFS; both through loop.conf_scope).
    # The session fixture disables it, but getOrCreate() from
    # any other test's get_spark() call re-applies builder confs to the
    # SHARED session — so the ambient value cannot be trusted here.
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    ew = (
        edges.groupBy("src", "dst").agg(F.count("*").alias("__cnt"))
        .select("src", "dst")
        .join(
            edges.groupBy(F.col("src").alias("id")).agg(
                F.count("*").alias("out_degree")
            ),
            F.col("src") == F.col("id"),
        )
        .select("src", "dst", "out_degree")
        .repartition(parts, "src")
        .persist()
    )
    ew.count()
    verts = vertices_from_edges(edges)
    n = verts.count()
    state = (
        verts.withColumn("e", F.lit(1.0 / n))
        .withColumn("rank", F.lit(1.0 / n))
        .repartition(parts, "id")
        .persist()
    )
    state.count()
    ranks = state.select("id", "rank")
    contribs = ew.join(ranks, ew["src"] == ranks["id"]).select(
        "src", "dst", (F.col("rank") / F.col("out_degree")).alias("contrib")
    )
    sums = contribs.groupBy("dst").agg(F.sum("contrib").alias("sum"))
    new_state = state.join(sums, state["id"] == sums["dst"], "left").select(
        "id",
        "e",
        (F.lit(0.85) * F.coalesce(F.col("sum"), F.lit(0.0))
         + F.lit(0.15) * F.col("e")).alias("rank"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("iter-probe", "iter-probe")
    try:
        snap = new_state.persist()
        snap.count()
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("iter-probe")
    ran: set[int] = set()
    for j in jobs:
        for sid in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(sid)
            # cached lineage shows up as SKIPPED stages (no tasks run) —
            # only stages that executed tasks are real per-iteration work
            if info is not None and info.numCompletedTasks > 0:
                ran.add(sid)
    assert len(jobs) == 1, f"{len(jobs)} jobs for one iteration (want 1)"
    assert len(ran) <= 4, f"{len(ran)} executed stages for one iteration"
    snap.unpersist()
    ew.unpersist()
    state.unpersist()


def test_ann_brute_force_sql_plan_stays_jvm(spark):
    """The SQL-path brute-force top-k must contain no Python row UDF —
    aggregate/zip_with dot products stay in codegen."""
    from distributed_pagerank_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = brute_force_topk(emb, q, k=5, method="sql")
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def _executed(spark, group):
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    ran = set()
    for j in jobs:
        for sid in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                ran.add(sid)
    return jobs, ran


def test_ppr_iteration_shape_one_job_bounded_stages(spark):
    """One multi-seed PPR iteration (plans/ppr.py dataflow mirrored at
    sort-merge scale) must materialize as ONE job with at most 4 executed
    stages: scatter join + partial agg | final agg + full-outer vs the
    co-partitioned seed vector + project | count. The full-outer must
    reuse the (set_id, id) hash layout of both the aggregation output and
    the cached seed vector — an exchange there adds a stage and fails."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prior_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)], "src long, dst long"
    )
    ew = (
        edges.join(
            edges.groupBy(F.col("src").alias("jid")).agg(
                F.count("*").alias("out_degree")
            ),
            F.col("src") == F.col("jid"),
        )
        .select("src", "dst", "out_degree")
        .repartition(parts, "src")
        .persist()
    )
    ew.count()
    e_vec = (
        spark.createDataFrame(
            [(1, i, 0.1) for i in range(0, 50, 5)],
            "set_id int, id long, e double",
        )
        .repartition(parts, "set_id", "id")
        .persist()
    )
    e_vec.count()
    state = e_vec.select("set_id", "id", F.col("e").alias("rank")).persist()
    state.count()
    contribs = (
        state.join(ew, state["id"] == ew["src"])
        .groupBy("set_id", F.col("dst").alias("id"))
        .agg(F.sum(F.col("rank") / F.col("out_degree")).alias("__s"))
    )
    new_state = contribs.join(e_vec, ["set_id", "id"], "full_outer").select(
        "set_id", "id",
        (F.lit(0.85) * F.coalesce(F.col("__s"), F.lit(0.0))
         + F.lit(0.15) * F.coalesce(F.col("e"), F.lit(0.0))).alias("rank"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("ppr-probe", "ppr-probe")
    try:
        snap = new_state.persist()
        snap.count()
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
    jobs, ran = _executed(spark, "ppr-probe")
    assert len(jobs) == 1, f"{len(jobs)} jobs for one PPR iteration (want 1)"
    assert len(ran) <= 4, f"{len(ran)} executed stages for one PPR iteration"
    for df in (snap, state, e_vec, ew):
        df.unpersist()


def test_bfs_round_no_cartesian_two_jobs(spark):
    """One BFS round (plans/bfs.py dataflow) is two materializing jobs
    (frontier count, visited count) with no cartesian product anywhere:
    the frontier ⋈ edges is an equi-join and the visited check is a
    left_anti equi-join on (root, id)."""
    from distributed_pagerank_spark.plans.bfs import multi_source_bfs

    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)], "src long, dst long"
    )
    roots = spark.createDataFrame(
        [(0, 0), (7, 7)], "root long, id long"
    )
    out = multi_source_bfs(spark, edges, roots, max_depth=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_truss_round_reuses_adjacency_exchange_two_jobs(spark):
    """One k-truss peel round: the oriented adjacency aggregation is
    referenced by both sides of the intersect join — the plan must pay
    its shuffle ONCE (ReusedExchange), and materializing the round is at
    most two jobs (the eager localCheckpoint + its count on the cached
    result). A lost reuse doubles the dominant shuffle at scale."""
    from distributed_pagerank_spark.plans.truss import (
        _canonical,
        _orient_by_degree,
        _oriented_support,
    )

    edges = spark.createDataFrame(
        [(i, (i + 1) % 30) for i in range(30)]
        + [(i, (i + 2) % 30) for i in range(30)],
        "src long, dst long",
    )
    prior_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc = spark.sparkContext
    try:
        cur = _orient_by_degree(_canonical(edges)).localCheckpoint(
            eager=True
        )
        survivors = _oriented_support(cur.select("a", "b")).where(
            F.col("support") >= 1
        )
        plan = survivors._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
        assert "Cartesian" not in plan
        sc.setJobGroup("truss-probe", "truss-probe")
        snap = survivors.localCheckpoint(eager=True)
        snap.count()
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
    jobs = sc.statusTracker().getJobIdsForGroup("truss-probe")
    assert len(jobs) <= 2, f"{len(jobs)} jobs for one truss round (want <=2)"
