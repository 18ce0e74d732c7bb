"""Contract-surface hygiene: conf scoping and generator oracle mode."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402

from distributed_pagerank_spark.sources.generator import generate_graph  # noqa: E402


def test_scoped_queries_restore_session_confs(spark):
    """Every queries() callable must leave the caller's runtime confs as it
    found them — a foreign (driver) session is tuned only for the duration
    of the call (ADVICE r2: no permanent mutation of sessions this module
    does not own)."""
    keys = list(entrymod._TUNE_CONFS)
    prior = {k: spark.conf.get(k, None) for k in keys}
    # pick a cheap query with eager work inside (writes + reads parquet)
    fn = entrymod.queries()["generated_graph"]
    df = fn(spark, "/root/testdata/sf0.001")
    assert df.count() > 0
    after = {k: spark.conf.get(k, None) for k in keys}
    assert after == prior


def test_scoped_tunes_during_call(spark):
    """Inside the callable the tuning IS active (that's its point)."""
    seen = {}

    def probe(s, d):
        seen["parts"] = s.conf.get("spark.sql.shuffle.partitions")
        return generate_graph(s, n=10, max_edges=2)

    entrymod._scoped(probe)(spark, "unused")
    assert seen["parts"] == entrymod._TUNE_CONFS["spark.sql.shuffle.partitions"]


def test_generate_graph_md5_mode_partition_invariant(spark):
    """md5 (oracle) mode is deterministic across partition counts, like the
    xxhash64 production mode — required for the SQL twin to be exact."""
    a = {(r["src"], r["dst"]) for r in
         generate_graph(spark, 200, max_edges=4, seed=9, hash_fn="md5",
                        n_partitions=1).collect()}
    b = {(r["src"], r["dst"]) for r in
         generate_graph(spark, 200, max_edges=4, seed=9, hash_fn="md5",
                        n_partitions=7).collect()}
    assert a == b
    # chain edges force weak connectivity: every u>=1 has an in-edge u-1→u
    assert {(u - 1, u) for u in range(1, 200)} <= a
