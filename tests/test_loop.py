"""The execution policy of the plans and operators: partition count
sized from measured bytes, one Spark job per iteration and the same jobs
per call whatever the session's AQE setting, the caller's confs
restored, and statistics that do not depend on task completion order."""

from __future__ import annotations

import math
import random
from fractions import Fraction

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from distributed_pagerank_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from distributed_pagerank_spark.operators.graphstats import (
    avg_neighbor_degree,
    degree_assortativity,
    modularity,
    reciprocity,
)
from distributed_pagerank_spark.operators.linkpred import link_prediction
from distributed_pagerank_spark.plans.betweenness import betweenness
from distributed_pagerank_spark.plans.bfs import multi_source_bfs
from distributed_pagerank_spark.plans.components import connected_components
from distributed_pagerank_spark.plans.hits import hits
from distributed_pagerank_spark.plans.kcore import coreness, k_core
from distributed_pagerank_spark.plans.labelprop import label_propagation
from distributed_pagerank_spark.plans.loop import (
    ROW_BYTES,
    CheckpointManager,
    broadcastable,
    conf_scope,
    exact_sum,
    fixpoint,
    frontier,
    measure,
)
from distributed_pagerank_spark.plans.pagerank import pagerank
from distributed_pagerank_spark.plans.ppr import personalized_pagerank_multi
from distributed_pagerank_spark.plans.scc import strongly_connected_components
from distributed_pagerank_spark.plans.triangles import (
    local_clustering_coefficient,
    triangle_count,
)
from distributed_pagerank_spark.plans.truss import k_truss
from distributed_pagerank_spark.sources.generator import generate_graph

from tests.conftest import (
    cache_base,
    cached_rdds,
    collect_owned,
    edges_df,
    executed_plans,
    partitions,
)

SCOPED = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
)


def ranks_of(res):
    return {r["id"]: r["rank"] for r in res.ranks.collect()}


def test_measure_sized_from_bytes(spark):
    """Tiny inputs size to one partition; an advisory size below the
    input's bytes sizes up to the session's shuffle partitions. The block
    runs under the sized policy, whose count a ``repartition`` by key
    planned in it takes, gets the aggregate's row count, and releases its
    cache on exit."""

    def sized():
        edges = spark.range(2000).selectExpr("id as src", "id + 1 as dst")
        with measure(edges) as (cached, rows):
            assert rows == 2000 and cached.is_cached
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            n = cached.repartition("src").rdd.getNumPartitions()
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
        assert not cached.is_cached
        return n

    assert sized() == 1
    with partitions(spark, 5):
        assert sized() == 5


def _chain(spark, n=30):
    return edges_df(spark, [(i, i + 1) for i in range(n)])


def _run_pagerank(spark, max_iter):
    edges = generate_graph(spark, 40, max_edges=3, seed=2)
    res = pagerank(spark, edges, eps=0.0, max_iter=max_iter)
    res.ranks.collect()
    return len(res.metrics)


def _run_cc(spark, max_iter):
    metrics = []
    connected_components(spark, _chain(spark), max_iter=max_iter,
                         metrics_out=metrics).collect()
    return len(metrics)


def _run_lpa(spark, max_iter):
    metrics = []
    label_propagation(spark, _chain(spark), rounds=max_iter,
                      metrics_out=metrics).collect()
    return len(metrics)


@pytest.mark.parametrize("run", [_run_pagerank, _run_cc, _run_lpa],
                         ids=["pagerank", "cc", "lpa"])
def test_one_job_per_iteration_with_session_aqe_on(spark, run):
    """Under a session with AQE on, two more iterations cost exactly two
    more Spark jobs: the harness turns AQE and automatic broadcasts off
    around its iterations, so each one is a single job."""
    sc = spark.sparkContext

    def jobs_for(max_iter):
        group = f"policy-{run.__name__}-{max_iter}"
        sc.setJobGroup(group, group)
        try:
            assert run(spark, max_iter) == max_iter  # no early stop
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    with conf_scope(spark, {"spark.sql.adaptive.enabled": "true"}):
        assert jobs_for(4) - jobs_for(2) == 2


def test_fixpoint_without_convergence_test_chains_steps(spark):
    """A loop with no convergence test chains its steps lazily and cuts
    the chain every CHAIN (5) iterations and at max_iter: only the cuts'
    records carry the statistic, two more cuts cost two more Spark jobs,
    and the only cache left is the returned leaf."""
    sc = spark.sparkContext
    start = spark.range(40).select("id", F.lit(0).alias("v"))

    def step(state, last):
        return state.select("id", (F.col("v") + 1).alias("v")), {}

    def run(max_iter):
        group = f"chain-{max_iter}"
        metrics = []

        def call():
            with measure(start) as (cached, _rows):
                return fixpoint(
                    spark, "chain", cached, lambda: cached, step,
                    {"rows": F.count(F.lit(1))}, None, max_iter=max_iter,
                    metrics_out=metrics,
                ).state

        sc.setJobGroup(group, group)
        try:
            rows = collect_owned(spark, call)
        finally:
            sc.setJobGroup("", "")
        assert len(rows) == 40 and {r["v"] for r in rows} == {max_iter}
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group)), metrics

    jobs, metrics = run(12)
    assert [m["rows"] for m in metrics] == [
        40 if i in (5, 10, 12) else None for i in range(1, 13)]
    assert not any(m["converged"] for m in metrics)
    assert jobs - run(5)[0] == 2


GRAPH_CALLS = {
    "triangle_count": triangle_count,
    "clustering": local_clustering_coefficient,
    "k_truss": lambda spark, e: k_truss(spark, e, 3),
    "scc": strongly_connected_components,
    "pagerank": lambda spark, e: pagerank(spark, e, max_iter=5).ranks,
    "cc": connected_components,
    "hits": lambda spark, e: hits(spark, e, max_iter=3).scores,
    "k_core": lambda spark, e: k_core(spark, e, 2),
    "bfs": lambda spark, e: multi_source_bfs(
        spark, e, spark.createDataFrame([(0, 0), (9, 9)], "root long, id long"),
        max_depth=3),
    "reciprocity": reciprocity,
    "degree_assortativity": degree_assortativity,
    "avg_neighbor_degree": avg_neighbor_degree,
    "modularity": lambda spark, e: modularity(
        spark, e,
        spark.createDataFrame([(v, v % 3) for v in range(30)],
                              "id long, label long")),
    "link_prediction": lambda spark, e: link_prediction(spark, e, top_k=3),
}

# the dedup tiers read a docs table ``(doc_id, text)``
DOC_CALLS = {
    "jaccard_pairs": lambda spark, d: jaccard_pairs(d, threshold=0.3),
    "jaccard_pairs_capped": lambda spark, d: jaccard_pairs(
        d, threshold=0.3, max_shingle_df=3),
    "minhash_lsh_pairs": lambda spark, d: minhash_lsh_pairs(d, threshold=0.3),
    "simhash_pairs": lambda spark, d: simhash_pairs(d, max_hamming=8),
}

DOCS = [
    (1, "the cat sat on the mat and looked at the dog"),
    (2, "the cat sat on the mat and looked at the dog"),
    (3, "the cat sat on the mat and stared at the dog"),
    (4, "a dog sat on the mat and looked at the cat"),
    (5, "der hund und die katze ist das haus der tiere und mehr"),
    (6, "completely different words entirely unrelated content here"),
]


def _graph_table(spark):
    pairs = [tuple(r) for r in
             generate_graph(spark, 30, max_edges=3, seed=5).collect()]
    return lambda: edges_df(spark, pairs)


def _docs_table(spark):
    return lambda: spark.createDataFrame(DOCS, "doc_id long, text string")


CALLS = {
    **{name: (_graph_table, call) for name, call in GRAPH_CALLS.items()},
    **{name: (_docs_table, call) for name, call in DOC_CALLS.items()},
}


@pytest.mark.parametrize("name", list(CALLS))
def test_plan_jobs_same_with_session_aqe_on(spark, name):
    """Every job a plan or operator runs inside the call runs under its
    own sized policy, so the call runs as many Spark jobs, with the same
    result, whether the session's AQE is on or off; it leaves only its
    result's leaves cached."""
    table, op = CALLS[name]
    make = table(spark)
    sc = spark.sparkContext

    def run(aqe):
        group = f"aqe-{name}-{aqe}"

        def call():
            sc.setJobGroup(group, group)
            try:
                return op(spark, make())
            finally:
                sc.setJobGroup("", "")

        with conf_scope(spark, {"spark.sql.adaptive.enabled": aqe}):
            rows = collect_owned(spark, call)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group)), sorted(rows)

    off = run("false")
    assert off[1]  # a case with an empty result checks little
    assert off == run("true")


THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def test_broadcastable_reads_callers_threshold(spark):
    """The broadcast rule admits ``threshold // ROW_BYTES`` rows of the
    caller's typed threshold, whatever size string set it, and nothing at
    -1. A nested block keeps the caller's threshold, not its outer
    block's policy (-1); outside any block nothing is broadcastable."""
    for raw, threshold in (("10485760b", 10485760), ("10MB", 10 * 1024**2),
                           ("1g", 1024**3), ("-1", -1)):
        limit = threshold // ROW_BYTES

        def admits():
            if threshold < 0:
                return not broadcastable(0)
            return broadcastable(limit) and not broadcastable(limit + 1)

        with conf_scope(spark, {THRESHOLD: raw}):
            assert not broadcastable(0), raw
            with measure(spark.range(3)):
                assert admits(), raw
                with measure(spark.range(2)):
                    assert spark.conf.get(THRESHOLD) == "-1"
                    assert admits(), raw
                assert admits(), raw
            assert not broadcastable(0), raw


# a funnel from root 0 through 4 and 10 vertices into vertex 100: the
# backward pass takes the factor-aggregate shape at level 2 (|w| = 1 <
# |cur| = 10) and the classic shape at level 1 (|w| = 10 >= |cur| = 4)
FUNNEL = ([(0, i) for i in range(1, 5)]
          + [(1 + j % 4, 10 + j) for j in range(10)]
          + [(10 + j, 100) for j in range(10)])
# vertex 5 reaches both cycles, so SCC's first outer round assigns only
# {5} and shrinks the subgraph to the other five vertices
SCC_EDGES = [(5, 0), (0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3)]

SHAPE_CALLS = {
    "minhash_lsh_pairs": lambda spark: minhash_lsh_pairs(
        _docs_table(spark)(), threshold=0.3),
    "jaccard_pairs_capped": lambda spark: jaccard_pairs(
        _docs_table(spark)(), threshold=0.3, max_shingle_df=3),
    "strongly_connected_components": lambda spark:
        strongly_connected_components(spark, edges_df(spark, SCC_EDGES)),
    "betweenness": lambda spark: betweenness(
        spark, edges_df(spark, FUNNEL),
        spark.createDataFrame([(0,)], "root long")),
}


@pytest.mark.parametrize("name", list(SHAPE_CALLS))
def test_join_shapes_agree_without_broadcasts(spark, name):
    """The joins that ``broadcastable`` gates broadcast at the default
    threshold and are sort-merge joins at -1, with the same rows."""
    op = SHAPE_CALLS[name]

    def run(threshold):
        with conf_scope(spark, {THRESHOLD: threshold}):
            rows, plans = executed_plans(
                spark, lambda: collect_owned(spark, lambda: op(spark)))
        return sorted(rows), any("BroadcastHashJoin" in p for p in plans)

    default, broadcast = run("10MB")
    assert default and broadcast
    assert run("-1") == (default, False)


class Injected(Exception):
    """The failure a raise-path test injects."""


# a triangle with a tail pointing back into it: every loop below runs at
# least two iterations on it (SCC's color fixpoint carries 8 down the
# tail, the peels strip the tail one edge a round, the truss peel drops
# the tail in round 1 and checks in round 2)
LOLLIPOP = [(0, 1), (1, 2), (2, 0)] + [(i + 1, i) for i in range(2, 8)]

MID_LOOP_CALLS = {
    "pagerank": lambda spark, e: pagerank(spark, e, eps=0.0, max_iter=5),
    "pagerank_skew_salt": lambda spark, e: pagerank(
        spark, e, eps=0.0, max_iter=5, skew_salt=2, hub_threshold=1),
    # PPR writes only at its cuts, iterations 5 and 10
    "personalized_pagerank_multi": lambda spark, e:
        personalized_pagerank_multi(spark, e, spark.createDataFrame(
            [(0, 8, 1.0)], "set_id int, id long, weight double"), k=10),
    "hits": lambda spark, e: hits(spark, e, max_iter=5),
    "connected_components": connected_components,
    "label_propagation": label_propagation,
    "k_core": lambda spark, e: k_core(spark, e, 2),
    "coreness": coreness,
    "k_truss": lambda spark, e: k_truss(spark, e, 3),
    "strongly_connected_components": strongly_connected_components,
}


def _released_on_raise(spark, error, call):
    """``call()`` raises ``error`` and leaves no cache behind: no new
    persisted RDD and nothing in the SQL cache manager."""
    base = cache_base(spark)
    with pytest.raises(error):
        call()
    assert not cached_rdds(spark) - base


@pytest.mark.parametrize("name", list(MID_LOOP_CALLS))
def test_mid_loop_raise_releases_caches(spark, monkeypatch, name):
    """A call whose second snapshot write raises releases every cache
    it made: its setup tables and the loop's leaves, the one the write
    was cutting included."""
    write, calls = CheckpointManager.write, []

    def failing(self, df, iteration):
        calls.append(iteration)
        if len(calls) == 2:
            raise Injected("second snapshot write")
        write(self, df, iteration)

    monkeypatch.setattr(CheckpointManager, "write", failing)
    edges = edges_df(spark, LOLLIPOP)
    _released_on_raise(
        spark, Injected, lambda: MID_LOOP_CALLS[name](spark, edges))


@pytest.mark.parametrize("call", [multi_source_bfs, betweenness],
                         ids=["multi_source_bfs", "betweenness"])
def test_roots_without_root_column_release_caches(spark, call):
    """A roots frame with no ``root`` column fails after the edge
    table is registered, before any job reads it: the table leaves the
    SQL cache manager all the same."""
    roots = spark.createDataFrame([(0,)], "id long")
    _released_on_raise(
        spark, AnalysisException,
        lambda: call(spark, edges_df(spark, LOLLIPOP), roots))


def test_frontier_level_raise_releases_slices(spark):
    """An ``expand`` that raises at depth 2 leaves none of the slices
    the earlier levels cached."""

    def expand(level, depth):
        if depth == 2:
            raise Injected("depth 2")
        return level.select((F.col("id") + 1).alias("id"))

    def call():
        with measure(spark.range(5)) as (cached, _):
            frontier(cached, expand, key=("id",), max_depth=5)

    _released_on_raise(spark, Injected, call)


def test_fixpoint_restores_caller_confs(spark):
    """The harness's conf scope ends with the call: on return, and when a
    fixpoint raises (SCC's max_prop budget)."""
    caller = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.autoBroadcastJoinThreshold": "1234567",
    }
    with conf_scope(spark, caller):
        want = {k: spark.conf.get(k) for k in SCOPED}
        pagerank(spark, _chain(spark, 10), max_iter=3).ranks.collect()
        assert {k: spark.conf.get(k) for k in SCOPED} == want
        cycle = edges_df(spark, [(i, (i + 1) % 12) for i in range(12)])
        with pytest.raises(RuntimeError, match="did not converge"):
            strongly_connected_components(spark, cycle, max_prop=1)
        assert {k: spark.conf.get(k) for k in SCOPED} == want


def test_exact_sum_order_independent(spark):
    """A double sum whose last bits depend on the order of its terms is
    the same in every order through exact_sum."""
    rows = [(1e16,), (1.0,), (-1e16,)]
    orders = [rows, rows[::-1], [rows[0], rows[2], rows[1]]]

    def total(agg, order):
        df = spark.createDataFrame(order, "x double").coalesce(1)
        return df.agg(agg).first()[0]

    assert {total(F.sum("x"), o) for o in orders} == {0.0, 1.0}
    assert {total(exact_sum(F.col("x")), o) for o in orders} == {1.0}


def _adversarial_terms(seed, n=60):
    """Mixed signs, magnitudes 1e-30 to 1e18, and cancelling pairs, some
    exact negations and some off in their last bits."""
    rng = random.Random(seed)
    terms = []
    for _ in range(n):
        x = rng.choice((-1.0, 1.0)) * 10 ** rng.uniform(-30, 18)
        terms.append(x)
        if rng.random() < 0.5:
            terms.append(-x if rng.random() < 0.5
                         else -x * (1 + rng.uniform(-1e-9, 1e-9)))
    return terms


EXACT_SUM_SETS = [
    _adversarial_terms(1),
    _adversarial_terms(2),
    # large terms cancel exactly, leaving the small ones
    [1e18, 1e-25, -1e18, 3e-30, 7.5, -7.5],
    # digit sums that cancel across digit boundaries
    [1.0, -0.5, -0.5, 1e-27, 3.0, -2.9999999],
    [2.0**-32, -(2.0**-33), -(2.0**-33), 1e-27],
    # positive terms on a rank scale, as PageRank's statistics see them
    [random.Random(3).random() / 7498 for _ in range(500)],
]


def test_exact_sum_matches_exact_rationals(spark):
    """exact_sum gives one double for every row order and partition
    count, within n·2^-96 plus 1 ulp of the exact rational sum."""
    rows = [(i, t) for i, terms in enumerate(EXACT_SUM_SETS) for t in terms]
    shuffled = random.Random(4).sample(rows, len(rows))
    seen = {}
    for order in (rows, rows[::-1], shuffled):
        for n in (1, 4, 16):
            df = spark.createDataFrame(order, "s int, x double")
            for r in df.repartition(n).groupBy("s").agg(
                    exact_sum(F.col("x")).alias("t")).collect():
                seen.setdefault(r["s"], set()).add(r["t"])
    for i, terms in enumerate(EXACT_SUM_SETS):
        (got,) = seen[i]
        exact = sum(map(Fraction, terms))
        bound = len(terms) * Fraction(1, 2**96) + Fraction(
            math.ulp(float(exact)))
        assert abs(Fraction(got) - exact) <= bound, (i, got, float(exact))


@pytest.mark.parametrize("terms", [[1e19], [4e18, 4e18, -1.0]],
                         ids=["term", "total"])
def test_exact_sum_out_of_range_fails(spark, terms):
    """A term or a total past exact_sum's range fails the query under
    ANSI mode rather than wrapping to a wrong total."""
    df = spark.createDataFrame([(t,) for t in terms], "x double")
    with conf_scope(spark, {"spark.sql.ansi.enabled": "true"}):
        with pytest.raises(Exception, match="OVERFLOW|OUT_OF_RANGE"):
            df.agg(exact_sum(F.col("x"))).collect()


def test_pagerank_bit_identical_on_many_partitions(spark, tmp_path):
    """At 16 partitions the observed sums (delta, rank_sum) merge partial
    results from 16 tasks: two runs, and a run resumed from a checkpoint,
    still give bit-identical ranks."""
    edges = generate_graph(spark, 300, max_edges=4, seed=11)
    kw = dict(eps=0.0, max_iter=6)
    ck = str(tmp_path / "ck")
    with partitions(spark, 16):
        first = pagerank(spark, edges, **kw)
        second = pagerank(spark, edges, **kw)
        pagerank(spark, edges, checkpoint_dir=ck, **{**kw, "max_iter": 3})
        resumed = pagerank(spark, edges, checkpoint_dir=ck, **kw)
    want = ranks_of(first)
    assert len(want) == 300
    for res in (second, resumed):
        assert (res.iterations, res.delta) == (first.iterations, first.delta)
        assert ranks_of(res) == want


def test_hits_bit_identical_on_many_partitions(spark):
    """HITS observes its masses and delta with exact_sum too: at 16
    partitions two runs give bit-identical scores, iterations and
    delta."""
    edges = generate_graph(spark, 300, max_edges=4, seed=11)
    with partitions(spark, 16):
        first, second = (hits(spark, edges, max_iter=6) for _ in range(2))
        runs = [(res.iterations, res.delta,
                 {r["id"]: (r["hub"], r["auth"]) for r in res.scores.collect()})
                for res in (first, second)]
    assert len(runs[0][2]) == 300
    assert runs[0] == runs[1]
