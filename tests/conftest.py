from __future__ import annotations

import pytest

from distributed_pagerank_spark.plans.loop import conf_scope
from distributed_pagerank_spark.session import get_spark


# the shared session's get_spark arguments; a test calling get_spark again
# passes these so getOrCreate() re-applies the same runtime confs
SESSION_ARGS = dict(
    app_name="dps-tests",
    master="local[4]",
    shuffle_partitions=2,
    extra_conf={
        "spark.sql.warehouse.dir": "/tmp/dps-warehouse",
        # AQE off in tests: micro-graphs don't need runtime re-planning
        # and it adds per-query latency to 70-iteration loops.
        "spark.sql.adaptive.enabled": "false",
    },
)


@pytest.fixture(scope="session")
def spark():
    yield get_spark(**SESSION_ARGS)


def partitions(spark, n):
    """A block in which every plan and operator runs on ``n`` partitions:
    a 1-byte advisory partition size sizes ``loop.measure`` up to its
    cap, the session's shuffle partitions, here ``n``."""
    return conf_scope(spark, {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1b",
        "spark.sql.shuffle.partitions": str(n),
    })


def edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(s), int(d)) for s, d in pairs], "src long, dst long"
    )


# Micro fixtures (FIXTURES.md §2)
CHAIN5 = [(0, 1), (1, 2), (2, 3), (3, 4)]
CYCLE4 = [(0, 1), (1, 2), (2, 3), (3, 0)]
STAR_IN = [(1, 0), (2, 0), (3, 0), (4, 0)]
STAR_OUT = [(0, 1), (0, 2), (0, 3), (0, 4)]
TWO_COMPONENTS = [(0, 1), (1, 0), (2, 3), (3, 2)]
DANGLING_PAIR = [(0, 1)]
DUP_EDGES = [(0, 1), (0, 1), (1, 2)]
SELF_LOOP = [(0, 0), (0, 1), (1, 0)]
TRIANGLE_PLUS = [
    (0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0), (2, 3),
]

ALL_FIXTURES = {
    "chain5": CHAIN5,
    "cycle4": CYCLE4,
    "star_in": STAR_IN,
    "star_out": STAR_OUT,
    "two_components": TWO_COMPONENTS,
    "dangling_pair": DANGLING_PAIR,
    "dup_edges": DUP_EDGES,
    "self_loop": SELF_LOOP,
    "triangle_plus": TRIANGLE_PLUS,
}


# stands among the RDD ids for a query held by Spark's SQL cache manager
SQL_CACHE = "sql-cache"


def cached_rdds(spark):
    """Ids of the RDDs the JVM holds persisted, plus ``SQL_CACHE`` while
    Spark's SQL cache manager holds a query: a persisted query that no
    job has read has no RDD yet. Compare them as sets: the context
    cleaner may drop other tests' dead caches meanwhile."""
    ids = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        ids.add(SQL_CACHE)
    return ids


def cache_base(spark):
    """``cached_rdds`` at the start of a check, taken after the SQL cache
    manager is emptied, so that a query the checked call leaves in it
    shows as new."""
    spark.catalog.clearCache()
    return cached_rdds(spark)


def _leaves(df):
    plan = df._jdf.queryExecution().analyzed().collectLeaves()
    leaves = (plan.apply(i) for i in range(plan.size()))
    return [p for p in leaves if p.getClass().getSimpleName() == "LogicalRDD"]


def leaf_rdds(df):
    """Ids of the checkpointed RDDs ``df``'s plan reads."""
    return {leaf.rdd().id() for leaf in _leaves(df)}


def collect_owned(spark, call):
    """Rows of the DataFrame ``call()`` returns. Checks that the caches
    the call left are exactly the result's leaves, which the caller owns;
    releases them after the collect and checks nothing else is left."""
    base = cache_base(spark)
    out = call()
    assert cached_rdds(spark) - base == leaf_rdds(out)
    rows = out.collect()
    for leaf in _leaves(out):
        leaf.rdd().unpersist(False)
    assert not cached_rdds(spark) - base
    return rows


def executed_plans(spark, call):
    """``(call(), plans)``: the physical plan text of every SQL execution
    ``call`` started, newest first, read from the session's in-process
    SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest(n):  # the n-th newest retained execution
        bus.waitUntilEmpty(60_000)
        count = store.executionsCount()
        return store.executionsList(count - n, 1).apply(0) \
            if n <= count else None

    last = newest(1)
    before = -1 if last is None else last.executionId()
    out = call()
    plans = []
    while (e := newest(len(plans) + 1)) is not None \
            and e.executionId() > before:
        plans.append(e.physicalPlanDescription())
    return out, plans
