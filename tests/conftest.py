from __future__ import annotations

import pytest

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


def cached_rdds(spark):
    """Ids of the RDDs the JVM holds persisted. Compare them as sets: the
    context cleaner may drop other tests' dead caches meanwhile."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


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
    base = cached_rdds(spark)
    out = call()
    assert cached_rdds(spark) - base == leaf_rdds(out)
    rows = out.collect()
    for leaf in _leaves(out):
        leaf.rdd().unpersist(False)
    assert not cached_rdds(spark) - base
    return rows
