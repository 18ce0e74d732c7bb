"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship PageRank on the sf0.001 derived graph.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data toolkit); each callable takes (spark, sf_dir).
``oracle_sql()`` — DuckDB ANSI-SQL twins for every SQL-expressible query
(iterative fixpoints are unrolled to fixed iteration counts; both sides
run the same count). Hash-compared floats are rounded identically on both
sides; timestamps are exported as epoch longs to dodge TZ representation
skew.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_pagerank_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    bpe_ish_token_count,
    duplicate_line_fraction,
    duplicate_ngram_fraction,
    lang_id,
    normalized_fingerprint,
    quality_score,
    token_count,
    top_ngram_fraction,
    winnow_fingerprints,
)
from distributed_pagerank_spark.operators.corpus import (
    concat_chunk_pack,
    quota_select,
)
from distributed_pagerank_spark.operators.degrees import out_degrees
from distributed_pagerank_spark.operators.dedup import (
    exact_duplicates,
    hash60_md5_sql,
    jaccard_pairs,
    minhash_lsh_pairs,
    near_dup_clusters,
    simhash_pairs,
)
from distributed_pagerank_spark.operators.similarity import _hyperplanes
from distributed_pagerank_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)
from distributed_pagerank_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    ivf_topk,
    kmeans_refine,
    lsh_topk,
    seeded_centroids,
)
from distributed_pagerank_spark.plans.components import connected_components
from distributed_pagerank_spark.plans.hits import hits
from distributed_pagerank_spark.plans.kcore import coreness, k_core
from distributed_pagerank_spark.plans.truss import k_truss
from distributed_pagerank_spark.plans.scc import strongly_connected_components
from distributed_pagerank_spark.operators.linkpred import link_prediction
from distributed_pagerank_spark.operators.graphstats import (
    avg_neighbor_degree,
    degree_assortativity,
    modularity,
    reciprocity,
)
from distributed_pagerank_spark.operators.sampling import (
    sample_edges,
    sample_vertices_induced,
)
from distributed_pagerank_spark.sources.edgelist import (
    read_edge_list,
    read_edge_list_http,
)
from distributed_pagerank_spark.sources.generator import (
    generate_graph,
    random_e_vector,
)
from distributed_pagerank_spark.plans.labelprop import label_propagation
from distributed_pagerank_spark.plans.loop import conf_scope
from distributed_pagerank_spark.plans.pagerank import pagerank
from distributed_pagerank_spark.plans.bfs import multi_source_bfs
from distributed_pagerank_spark.plans.betweenness import betweenness
from distributed_pagerank_spark.plans.ppr import personalized_pagerank_multi
from distributed_pagerank_spark.plans.triangles import (
    local_clustering_coefficient,
    triangle_count,
)
from distributed_pagerank_spark.sources.transcripts import (
    conversation_stats,
    derive_edges,
    synth_transcripts,
    tool_cooccurrence,
    tool_transitions,
)
from distributed_pagerank_spark.streaming.events import (
    epoch_seconds_ntz,
    sessionize,
    sessionize_stream,
    stream_events_from_parquet,
    windowed_event_counts,
)

SUPP_OFFSET = 100_000  # disjoint vertex-id spaces: custkey vs suppkey
PAGERANK_ITERS = 5
TRANSCRIPT_PR_ITERS = 8  # fixed-k so the unrolled SQL twin does identical work
CC_ITERS = 8
LPA_ROUNDS = 3
HITS_ITERS = 8
KCORE_K = 3  # k-core order on the stratified slice (non-vacuous: ~30% peels)
KCORE_UNROLL = 6  # oracle peel rounds; fixpoint measured at 2, margin 3×
LINKPRED_TOPK = 5
# SCC fixture: the chain-stripped generated graph is a random functional
# graph — one giant SCC (~213 vertices), a 2-cycle, and ~185 singleton
# tendrils (measured at these parameters), converging in a handful of
# coloring rounds
SCC_N, SCC_ME, SCC_SEED = 400, 2, 42
GEN_N, GEN_MAX_EDGES, GEN_SEED = 500, 5, 11  # generated_graph parameters
EMB_DIM = 64  # testdata embeddings dimension (TESTDATA.md)
IVF_CENTROIDS = 8  # IVF cells for the contract-scale corpus (500 vecs)
IVF_PROBE = 3  # cells probed per query (~3/8 of the corpus scanned)
NEAR_DUP_THRESHOLD = 0.4  # non-vacuous at sf0.01's cosine distribution
JACCARD_DF_CAP = 5  # hot-shingle DF cap; bites at sf0.01 (max shingle df=7)
DUP_OFFSET = 10_000_000  # re-keyed duplicate sample for exact-dedup check
# the checkout this file lives in; every path below is inside it
ROOT = os.path.dirname(os.path.abspath(__file__))
# the flagship query materializes its derived edge table here so the
# DuckDB twin can read the identical bytes (the driver runs the Spark side
# of each query before its oracle); gitignored scratch inside the repo.
TRANSCRIPT_EDGES_PATH = os.path.join(ROOT, ".cache/transcript_edges.parquet")
# transcript-analytics entries materialize the synthetic table here so
# their DuckDB twins read the identical bytes (driver runs Spark first)
TRANSCRIPTS_PATH = os.path.join(ROOT, ".cache/transcripts.parquet")
# scratch for the streaming-sessionizer driver entry: staged source dir,
# stream checkpoint, and the parquet sink the returned DataFrame reads
SESSIONIZE_STREAM_DIR = os.path.join(ROOT, ".cache/sessionize_stream")
EDGELIST_FILE_DIR = os.path.join(ROOT, ".cache/edgelist_file")
# the refined-IVF entry materializes its Lloyd-refined centroids here so
# the DuckDB twin's cell CTE reads the identical bytes
REFINED_CENTROIDS_PATH = os.path.join(ROOT, ".cache/ivf_refined_centroids.parquet")
IVF_REFINE_ITERS = 2

_TUNE_CONFS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _tune(spark: SparkSession) -> None:
    """Runtime SQL confs on the caller's session (values unaffected).

    The correctness driver runs these queries under ITS OWN SparkSession —
    typically with the 200-partition default, which at sf0.01 spends more
    time scheduling empty tasks than computing. Every query callable is
    wrapped by :func:`_scoped`, which tunes the session for the call and
    restores the caller's values when it returns — the tuning covers the
    eager iterative work inside the query but does not leak into a
    session this module does not own. (Still-lazy results execute under
    the caller's own confs; with Spark's default AQE that is correct and
    adequately fast.) The table readers call this too, for callers such as
    ``bench.py`` that build inputs outside any query."""
    try:
        for k, v in _TUNE_CONFS.items():
            spark.conf.set(k, v)
    except Exception:
        pass


def _scoped(fn):
    """Wrap a query callable: tune the session for its duration, then
    restore the caller's prior conf values, re-unsetting unset keys
    (``conf_scope``)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        with conf_scope(spark, _TUNE_CONFS):
            return fn(spark, sf_dir)

    return wrapped


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _tune(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------- graphs
def _graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → supplier edges via orders ⋈ lineitem (disjoint id spaces)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).cast("long").alias("dst"),
        )
        .distinct()
    )


_EDGES_CTE = f"""edges AS (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + {SUPP_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)"""

_SPARSE_EDGES_CTE = f"""edges AS (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + {SUPP_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_custkey % 10 = l.l_suppkey % 10
)"""

_RAW_EDGES_CTE = f"""edges_raw AS (
  SELECT o.o_custkey AS src, l.l_suppkey + {SUPP_OFFSET} AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)"""

_VERTS_CTE = """verts AS (
  SELECT DISTINCT src AS id FROM edges UNION SELECT DISTINCT dst FROM edges
)"""

_SYM_CTE = """sym AS (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
)"""


def _sparse_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified slice of the customer→supplier graph (edges never cross
    ``custkey % 10 == suppkey % 10`` strata) — the provably-fragmenting /
    partially-peelable surface used where the full graph is too connected
    to be non-vacuous (component sizes, k-core)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .where(F.col("o_custkey") % 10 == F.col("l_suppkey") % 10)
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).cast("long").alias("dst"),
        )
        .distinct()
    )


def _supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier co-occurrence graph: suppliers sharing an order."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = l.alias("a"), l.alias("b")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").cast("long").alias("src"),
            F.col("b.l_suppkey").cast("long").alias("dst"),
        )
        .distinct()
    )


TRUSS_TOP_N = 600  # strongest co-occurrence edges kept for the truss graph
TRUSS_K = 4  # measured at sf0.01: 187 of 600 edges survive over 8 peel rounds


def _strong_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N supplier co-occurrence edges by shared-order count
    (ties → smaller src, then dst — fully deterministic). The full
    co-occurrence graph is complete at every sf (any two suppliers share
    some order), so truss/peeling structure only exists on the strong-tie
    subgraph. orderBy+limit compiles to TakeOrderedAndProject — per-
    partition top-N then a driver merge of N rows, no global sort
    shuffle."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = l.alias("a"), l.alias("b")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").cast("long").alias("src"),
            F.col("b.l_suppkey").cast("long").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
        .orderBy(F.desc("w"), F.asc("src"), F.asc("dst"))
        .limit(TRUSS_TOP_N)
        .select("src", "dst")
    )


_STRONG_PAIRS_CTE = f"""strong AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
           row_number() OVER (ORDER BY count(*) DESC,
                              a.l_suppkey ASC, b.l_suppkey ASC) AS rn
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY a.l_suppkey, b.l_suppkey
  ) WHERE rn <= {TRUSS_TOP_N}
)"""


def _ktruss_sql(k: int = TRUSS_K, rounds: int = 11) -> str:
    """Unrolled support-peel twin (plans/truss.py k_truss) on the
    strong-tie supplier graph: per round, enumerate id-ordered triangles
    (x<y<z once each — orientation-independent, so the engine's
    degree-ordered enumeration lands on identical support counts),
    explode to the three edges, and keep edges with support ≥ k−2.
    Measured fixpoint depth 8 at sf0.01 (+3 idempotent margin). All CTEs
    MATERIALIZED — each round references its predecessor 4×."""
    steps = []
    prev = "strong"
    for i in range(1, rounds + 1):
        steps.append(f"""t{i} AS MATERIALIZED (
  SELECT a.src AS x, a.dst AS y, b.dst AS z
  FROM {prev} a
  JOIN {prev} b ON b.src = a.src AND b.dst > a.dst
  JOIN {prev} c ON c.src = a.dst AND c.dst = b.dst
),
s{i} AS MATERIALIZED (
  SELECT src, dst, count(*) AS support FROM (
    SELECT x AS src, y AS dst FROM t{i}
    UNION ALL SELECT x, z FROM t{i}
    UNION ALL SELECT y, z FROM t{i}
  ) GROUP BY src, dst
),
e{i} AS MATERIALIZED (
  SELECT s.src, s.dst, s.support FROM s{i} s
  WHERE s.support >= {k - 2}
)""")
        prev = f"e{i}"
    return f"""WITH {_STRONG_PAIRS_CTE},
{",".join(steps)}
SELECT src, dst, support::BIGINT AS support FROM {prev}"""


def _pagerank_sql(
    k: int = PAGERANK_ITERS,
    c: float = 0.85,
    e_seed: int | None = None,
    edges_cte: str = _EDGES_CTE,
    dangling: str = "reference",
) -> str:
    """Unrolled k-iteration PageRank twin. ``e_seed`` switches the E term
    from uniform 1/|V| to the seeded md5-hash personalization vector
    (normalized to sum 1), twin of random_e_vector(hash_fn='md5').
    ``edges_cte`` swaps the edge source (default: the TPC-H derived graph;
    the flagship passes a read_parquet CTE over its materialized edges).
    ``dangling='redistribute'`` adds the classic per-iteration dangling
    term c·(Σ rank over out-degree-0 vertices)/n to every vertex and — like
    the engine (plans/pagerank.py) — skips the final renormalization
    (redistribution conserves total mass exactly, so there is nothing to
    repair; the reference semantics instead drop dangling mass each
    iteration and normalize once at the end, pagerank.go:38-45)."""
    if e_seed is None:
        e_cte = ""
        e_term = "1.0 / (SELECT n FROM nn)"
    else:
        raw = hash60_md5_sql("v0.id::VARCHAR", e_seed)
        e_cte = f""",
eraw AS (SELECT v0.id, (({raw}) % 1000000 + 1) / 1000000.0 AS er
         FROM verts v0),
ev AS (SELECT id, er / (SELECT sum(er) FROM eraw) AS e FROM eraw)"""
        e_term = "(SELECT e FROM ev WHERE ev.id = v.id)"
    dang_cte = ""
    if dangling == "redistribute":
        dang_cte = """,
dang AS (SELECT id FROM verts
         WHERE id NOT IN (SELECT DISTINCT src FROM edges))"""
    iters = []
    prev = "r0"
    for i in range(1, k + 1):
        base = "coalesce(s.s, 0)"
        if dangling == "redistribute":
            base += (
                f" + (SELECT coalesce(sum(r.rank), 0) FROM {prev} r "
                f"JOIN dang dg ON r.id = dg.id) / (SELECT n FROM nn)"
            )
        iters.append(f"""r{i} AS (
  SELECT v.id,
         {c} * ({base}) + {1.0 - c} * {e_term} AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.out_degree) AS s
    FROM edges e JOIN {prev} r ON e.src = r.id
                 JOIN deg d ON e.src = d.id
    GROUP BY e.dst
  ) s ON v.id = s.id
)""")
        prev = f"r{i}"
    final = (
        f"round(rank, 6)" if dangling == "redistribute"
        else f"round(rank / (SELECT sum(rank) FROM {prev}), 6)"
    )
    return f"""WITH {edges_cte},
{_VERTS_CTE},
deg AS (SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM verts){e_cte}{dang_cte},
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM verts),
{",".join(iters)}
SELECT id, {final} AS rank FROM {prev}"""


def _bfs_sql(max_depth: int = 3, root_mod: int = 250) -> str:
    """Unrolled level-synchronous multi-source BFS twin (plans/bfs.py,
    undirected): per level, frontier ⋈ sym edges, minus the visited set
    (NOT EXISTS), unioned into the next visited set. Roots = customers
    with id % root_mod = 0, root == origin."""
    levels = []
    for i in range(1, max_depth + 1):
        levels.append(f"""f{i} AS (
  SELECT DISTINCT f.root, s.dst AS id, {i} AS dist
  FROM f{i - 1} f JOIN sym s ON s.src = f.id
  WHERE NOT EXISTS (SELECT 1 FROM v{i - 1} v
                    WHERE v.root = f.root AND v.id = s.dst)
),
v{i} AS (SELECT * FROM v{i - 1} UNION ALL SELECT * FROM f{i})""")
    return f"""WITH {_EDGES_CTE},
{_SYM_CTE},
roots AS (SELECT DISTINCT src AS id FROM edges WHERE src % {root_mod} = 0),
f0 AS (SELECT id AS root, id, 0 AS dist FROM roots),
v0 AS (SELECT * FROM f0),
{",".join(levels)}
SELECT root, id, dist FROM v{max_depth}"""


def _betweenness_sql(max_depth: int = 3, root_mod: int = 250) -> str:
    """Unrolled two-pass Brandes twin (plans/betweenness.py): forward
    levels carry (root, id, sigma) path counts; backward levels hand
    dependencies down one hop at a time. Same roots and depth cap as
    the BFS row; MATERIALIZED throughout (each level is referenced by
    the next level, the visited check, and the backward join)."""
    fwd = []
    for i in range(1, max_depth + 1):
        fwd.append(f"""f{i} AS MATERIALIZED (
  SELECT f.root, s.dst AS id, sum(f.sigma) AS sigma
  FROM f{i - 1} f JOIN sym s ON s.src = f.id
  WHERE NOT EXISTS (SELECT 1 FROM v{i - 1} v
                    WHERE v.root = f.root AND v.id = s.dst)
  GROUP BY f.root, s.dst
),
v{i} AS MATERIALIZED (
  SELECT * FROM v{i - 1} UNION ALL SELECT root, id FROM f{i}
)""")
    bwd = [f"""d{max_depth} AS MATERIALIZED (
  SELECT root, id, sigma, 0.0::DOUBLE AS delta FROM f{max_depth}
)"""]
    for i in range(max_depth - 1, 0, -1):
        bwd.append(f"""d{i} AS MATERIALIZED (
  SELECT f.root, f.id, f.sigma, coalesce(h.delta, 0.0) AS delta
  FROM f{i} f LEFT JOIN (
    SELECT g.root, g.id,
           sum(g.sigma / w.sigma * (1 + w.delta)) AS delta
    FROM f{i} g JOIN sym s ON s.src = g.id
                JOIN d{i + 1} w ON w.root = g.root AND w.id = s.dst
    GROUP BY g.root, g.id
  ) h ON h.root = f.root AND h.id = f.id
)""")
    union = "\n  UNION ALL\n  ".join(
        f"SELECT id, delta FROM d{i}" for i in range(1, max_depth + 1)
    )
    return f"""WITH {_EDGES_CTE},
{_SYM_CTE},
roots AS (SELECT DISTINCT src AS id FROM edges WHERE src % {root_mod} = 0),
f0 AS MATERIALIZED (SELECT id AS root, id, 1.0::DOUBLE AS sigma FROM roots),
v0 AS MATERIALIZED (SELECT root, id FROM f0),
{",".join(fwd)},
{",".join(bwd)},
lab AS (
  {union}
)
SELECT id, round(sum(delta), 6) AS betweenness FROM lab GROUP BY id"""


def _ppr_multi_sql(k: int = PAGERANK_ITERS, c: float = 0.85) -> str:
    """Unrolled k-iteration multi-seed PPR twin (plans/ppr.py semantics):
    state keyed (set_id, id), init = normalized seed vector, sparse
    support via FULL JOIN of contributions with the seed vector, final
    per-set normalization. Seed sets mirror the Spark entry: set 1 =
    customers with id % 50 = 0 (uniform), set 2 = id % 50 = 1 (weight
    id % 7 + 1)."""
    iters = []
    prev = "r0"
    for i in range(1, k + 1):
        iters.append(f"""r{i} AS (
  SELECT coalesce(s.set_id, ev.set_id) AS set_id,
         coalesce(s.id, ev.id) AS id,
         {c} * coalesce(s.s, 0) + {1.0 - c} * coalesce(ev.e, 0) AS rank
  FROM (
    SELECT r.set_id, e.dst AS id, sum(r.rank / d.out_degree) AS s
    FROM edges e JOIN {prev} r ON e.src = r.id
                 JOIN deg d ON e.src = d.id
    GROUP BY r.set_id, e.dst
  ) s FULL JOIN ev ON s.set_id = ev.set_id AND s.id = ev.id
)""")
        prev = f"r{i}"
    return f"""WITH {_EDGES_CTE},
deg AS (SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src),
custs AS (SELECT DISTINCT src AS id FROM edges),
seeds AS (
  SELECT 1 AS set_id, id, 1.0 AS w FROM custs WHERE id % 50 = 0
  UNION ALL
  SELECT 2 AS set_id, id, CAST(id % 7 + 1 AS DOUBLE) AS w
  FROM custs WHERE id % 50 = 1
),
ev AS (SELECT set_id, id,
              w / sum(w) OVER (PARTITION BY set_id) AS e FROM seeds),
r0 AS (SELECT set_id, id, e AS rank FROM ev),
{",".join(iters)}
SELECT set_id, id,
       round(rank / sum(rank) OVER (PARTITION BY set_id), 6) AS rank
FROM {prev}"""


def _weighted_pagerank_sql(k: int = PAGERANK_ITERS, c: float = 0.85) -> str:
    """Weighted-transition PageRank twin: edge weight = duplicate-edge
    multiplicity of the raw orders⋈lineitem pair stream, transition =
    w / out-strength (plans/pagerank.py weight_col path); dangling mass
    dropped per iteration + one-shot final normalization, like the
    unweighted reference semantics."""
    iters = []
    prev = "r0"
    for i in range(1, k + 1):
        iters.append(f"""r{i} AS (
  SELECT v.id,
         {c} * coalesce(s.s, 0) + {1.0 - c} * (1.0 / (SELECT n FROM nn)) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank * e.w / d.strength) AS s
    FROM ew e JOIN {prev} r ON e.src = r.id
              JOIN deg d ON e.src = d.id
    GROUP BY e.dst
  ) s ON v.id = s.id
)""")
        prev = f"r{i}"
    return f"""WITH {_RAW_EDGES_CTE},
ew AS MATERIALIZED (
  SELECT src, dst, count(*)::DOUBLE AS w FROM edges_raw GROUP BY src, dst
),
verts AS MATERIALIZED (
  SELECT DISTINCT src AS id FROM ew UNION SELECT DISTINCT dst FROM ew
),
deg AS MATERIALIZED (SELECT src AS id, sum(w) AS strength FROM ew GROUP BY src),
nn AS (SELECT count(*) AS n FROM verts),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM verts),
{",".join(iters)}
SELECT id, round(rank / (SELECT sum(rank) FROM {prev}), 6) AS rank FROM {prev}"""


def _hits_sql(k: int = HITS_ITERS) -> str:
    """Unrolled k-round HITS twin (plans/hits.py): per round, auth = Eᵀ·hub
    then L1-normalize, hub = E·auth then L1-normalize. The engine computes
    hub from the UN-normalized auth and normalizes afterwards — exactly
    equal (the scalar cancels), so this normalize-each-step SQL is an
    exact twin, not an approximation."""
    steps = []
    prev_h = "h0"
    for i in range(1, k + 1):
        # window-function normalization: each round CTE references its
        # predecessor exactly ONCE. A scalar `(SELECT sum(..) FROM prev)`
        # would reference the previous CTE twice, and DuckDB inlines CTE
        # chains — the expanded plan doubles per round, a 2^k blowup.
        steps.append(f"""a{i} AS (
  SELECT v.id,
         coalesce(s.s, 0) / sum(coalesce(s.s, 0)) OVER () AS auth
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(h.hub) AS s
    FROM edges e JOIN {prev_h} h ON e.src = h.id GROUP BY e.dst
  ) s ON v.id = s.id
),
h{i} AS (
  SELECT v.id,
         coalesce(s.s, 0) / sum(coalesce(s.s, 0)) OVER () AS hub
  FROM verts v LEFT JOIN (
    SELECT e.src AS id, sum(a.auth) AS s
    FROM edges e JOIN a{i} a ON e.dst = a.id GROUP BY e.src
  ) s ON v.id = s.id
)""")
        prev_h = f"h{i}"
    # MATERIALIZED: DuckDB inlines CTEs by default, so the 2k round
    # subqueries would re-expand edges/verts into ~6k parquet scans of
    # orders⋈lineitem — blowing the open-file limit. Materializing the two
    # base CTEs makes every round read the in-memory table instead.
    edges_mat = _EDGES_CTE.replace("edges AS (", "edges AS MATERIALIZED (", 1)
    verts_mat = _VERTS_CTE.replace("verts AS (", "verts AS MATERIALIZED (", 1)
    return f"""WITH {edges_mat},
{verts_mat},
nn AS (SELECT count(*) AS n FROM verts),
h0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS hub FROM verts),
{",".join(steps)}
SELECT a.id, round(h.hub, 6) AS hub, round(a.auth, 6) AS auth
FROM a{k} a JOIN h{k} h ON a.id = h.id"""


def _scc_sql(n: int = SCC_N, max_edges: int = SCC_ME, seed: int = SCC_SEED) -> str:
    """Exact SCC twin via recursive-CTE transitive closure: component(v) =
    min u with u→*v AND v→*u (v itself otherwise). Tractable because the
    fixture graph is small (~400 vertices) — the closure is O(n²) pairs,
    which is exactly why the ENGINE uses iterative coloring instead
    (plans/scc.py) and only the oracle brute-forces reachability."""
    return f"""WITH RECURSIVE g AS MATERIALIZED (
  SELECT src, dst FROM ({_gen_graph_sql(n, max_edges, seed)})
  WHERE src <> dst AND dst <> src + 1
),
verts AS MATERIALIZED (
  -- no top-level UNION here: inside a WITH RECURSIVE list DuckDB gives
  -- union-shaped CTE bodies recursive-evaluation semantics (returns 713
  -- rows instead of the 400 distinct) — nest the union in a subquery
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM g UNION ALL SELECT dst AS id FROM g
  )
),
reach(src, dst) AS (
  SELECT src, dst FROM g
  UNION
  SELECT r.src, e.dst FROM reach r JOIN g e ON r.dst = e.src
),
mutual AS (
  SELECT a.src AS u, a.dst AS v
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
),
mn AS (SELECT v, min(u) AS m FROM mutual GROUP BY v)
SELECT v.id, least(v.id, coalesce(mn.m, v.id)) AS component
FROM verts v LEFT JOIN mn ON v.id = mn.v"""


def _kcore_sql(k: int = KCORE_K, rounds: int = KCORE_UNROLL) -> str:
    """Unrolled peel twin (plans/kcore.py) on the stratified slice:
    per round, drop vertices of degree < k from the symmetrized edge set.
    Extra rounds past the fixpoint are idempotent, so the unroll count
    only needs to be ≥ the peel depth. Every intermediate CTE is
    MATERIALIZED: each round references its predecessor three times
    (degree agg + two NOT-IN endpoints), and DuckDB's default inlining
    would expand the plan 3^rounds."""
    steps = []
    prev = "e0"
    for i in range(1, rounds + 1):
        steps.append(f"""r{i} AS MATERIALIZED (
  SELECT src AS id FROM {prev} GROUP BY src HAVING count(*) < {k}
),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  WHERE e.src NOT IN (SELECT id FROM r{i})
    AND e.dst NOT IN (SELECT id FROM r{i})
)""")
        prev = f"e{i}"
    return f"""WITH {_SPARSE_EDGES_CTE.replace("edges AS (", "edges AS MATERIALIZED (", 1)},
e0 AS MATERIALIZED (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
),
{",".join(steps)}
SELECT src AS id, count(*) AS degree FROM {prev} GROUP BY src"""


def _linkpred_sql(top_k: int = LINKPRED_TOPK) -> str:
    """Adamic–Adar twin on the stratified slice (operators/linkpred.py).
    Ranks on the 6-dp-ROUNDED score (same rounding the hash compare
    uses): the raw score is a float sum whose summation order differs
    between engines, so ranking on the raw value could flip near-ties."""
    return f"""WITH {_SPARSE_EDGES_CTE.replace("edges AS (", "edges AS MATERIALIZED (", 1)},
sym AS MATERIALIZED (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
),
deg AS MATERIALIZED (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src),
mid AS MATERIALIZED (
  SELECT s.src AS w, s.dst AS e, d.degree AS wdeg
  FROM sym s JOIN deg d ON s.src = d.id
),
wedges AS (
  SELECT a.e AS u, b.e AS v, a.wdeg
  FROM mid a JOIN mid b ON a.w = b.w WHERE a.e < b.e
),
cand AS (
  SELECT w.u, w.v, w.wdeg FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.src = w.u AND e.dst = w.v)
),
scored AS (
  SELECT u, v, count(*)::BIGINT AS common,
         round(sum(1.0 / ln(wdeg)), 6) AS score
  FROM cand GROUP BY u, v
),
ranked AS (
  SELECT u, v, common, score,
         row_number() OVER (PARTITION BY u
                            ORDER BY score DESC, v ASC) AS rank
  FROM scored
)
SELECT u, v, common, score, rank FROM ranked WHERE rank <= {top_k}"""


# unrolled peel rounds per core level k=1..7 for the sf0.01 stratified
# slice: measured fixpoint depths {1:1,2:2,3:2,4:2,5:2,6:9,7:6}, each +3
# margin (extra rounds are idempotent); level 7 empties the graph (max
# core = 6)
CORENESS_UNROLL = [4, 5, 5, 5, 5, 12, 9]


def _coreness_sql(levels: list[int] | None = None) -> str:
    """Full core-decomposition twin (plans/kcore.py coreness): nested
    unrolled peels — at level k, vertices dropped on the way to the
    k-core carry core = k-1. Every CTE MATERIALIZED (each round
    references its predecessor 3×; DuckDB inlining would go 3^rounds)."""
    levels = levels or CORENESS_UNROLL
    parts = []
    prev_e, prev_v = "e0", "v0"
    removed_refs = []
    for ki, rounds in enumerate(levels, start=1):
        for r in range(1, rounds + 1):
            rm, e, v = f"rm{ki}_{r}", f"e{ki}_{r}", f"v{ki}_{r}"
            # removal tests the ALIVE set, not the edge table: a vertex
            # whose last edge vanished earlier in this level has no
            # degree row but must still be removed (and labeled) here
            parts.append(f"""{rm} AS MATERIALIZED (
  SELECT vv.id FROM {prev_v} vv LEFT JOIN (
    SELECT src AS id, count(*) AS c FROM {prev_e} GROUP BY src
  ) d ON vv.id = d.id
  WHERE coalesce(d.c, 0) < {ki}
),
{v} AS MATERIALIZED (
  SELECT id FROM {prev_v} WHERE id NOT IN (SELECT id FROM {rm})
),
{e} AS MATERIALIZED (
  SELECT s.src, s.dst FROM {prev_e} s
  WHERE s.src NOT IN (SELECT id FROM {rm})
    AND s.dst NOT IN (SELECT id FROM {rm})
)""")
            removed_refs.append((rm, ki - 1))
            prev_e, prev_v = e, v
    union = "\n  UNION ALL\n  ".join(
        f"SELECT id, {core} AS core FROM {rm}" for rm, core in removed_refs
    )
    return f"""WITH {_SPARSE_EDGES_CTE.replace("edges AS (", "edges AS MATERIALIZED (", 1)},
e0 AS MATERIALIZED (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
),
v0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e0),
{",".join(parts)},
lab AS (
  {union}
)
SELECT id, core::BIGINT AS core FROM lab"""


def _clustering_sql(n: int, max_edges: int, seed: int) -> str:
    """Local clustering coefficient twin on the generated graph: exact
    per-vertex triangle attribution via the src<dst-oriented triple join
    (each unordered triangle enumerated once — same set the engine's
    degree-ordered compact-forward emits, plans/triangles.py)."""
    return f"""WITH gedges AS MATERIALIZED ({_gen_graph_sql(n, max_edges, seed)}),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
  FROM gedges WHERE src <> dst
),
tri AS (SELECT x.src AS a, x.dst AS b, y.dst AS c
        FROM und x JOIN und y ON x.dst = y.src
                   JOIN und z ON z.src = x.src AND z.dst = y.dst),
corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri),
tc AS (SELECT id, count(*) AS triangles FROM corners GROUP BY id),
deg AS (SELECT id, count(*) AS degree FROM (
  SELECT src AS id FROM und UNION ALL SELECT dst FROM und) GROUP BY id)
SELECT d.id, d.degree, coalesce(t.triangles, 0) AS triangles,
       round(CASE WHEN d.degree < 2 THEN 0.0
             ELSE 2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1))
             END, 6) AS clustering
FROM deg d LEFT JOIN tc t ON d.id = t.id"""


_TRANSCRIPT_EDGES_CTE = (
    f"edges AS (SELECT src, dst FROM "
    f"read_parquet('{TRANSCRIPT_EDGES_PATH}/*.parquet'))"
)


def _gen_graph_sql(n: int, max_edges: int, seed: int) -> str:
    """Exact twin of generate_graph(hash_fn='md5'): k ~ 1 + h(src) %
    max_edges random targets per vertex (self-loops re-aimed at
    (dst+1) % n) plus the u-1 → u connectivity chain, deduped."""
    h_k = hash60_md5_sql("src::VARCHAR", seed)
    h_dst = hash60_md5_sql("src::VARCHAR || '|' || j::VARCHAR", seed + 1)
    return f"""WITH v AS (SELECT range AS src FROM range(0, {n})),
kk AS (SELECT src, 1 + ({h_k}) % {max_edges} AS k FROM v),
r AS (SELECT src, unnest(generate_series(1, k)) AS j FROM kk),
d AS (SELECT src, ({h_dst}) % {n} AS dst FROM r),
d2 AS (SELECT src,
              CASE WHEN dst = src THEN (dst + 1) % {n} ELSE dst END AS dst
       FROM d),
chain AS (SELECT range - 1 AS src, range AS dst FROM range(1, {n}))
SELECT DISTINCT src::BIGINT AS src, dst::BIGINT AS dst
FROM (SELECT * FROM d2 UNION ALL SELECT * FROM chain)"""


def _cc_sql(k: int = CC_ITERS) -> str:
    iters = []
    prev = "l0"
    for i in range(1, k + 1):
        iters.append(f"""l{i} AS (
  SELECT v.id, least(v.component, coalesce(m.mn, v.component)) AS component
  FROM {prev} v LEFT JOIN (
    SELECT s.dst AS id, min(l.component) AS mn
    FROM sym s JOIN {prev} l ON s.src = l.id GROUP BY s.dst
  ) m ON v.id = m.id
)""")
        prev = f"l{i}"
    return f"""WITH {_EDGES_CTE},
{_VERTS_CTE},
{_SYM_CTE},
l0 AS (SELECT id, id AS component FROM verts),
{",".join(iters)}
SELECT id, component FROM {prev}"""


def _lpa_sql(k: int = LPA_ROUNDS) -> str:
    iters = []
    prev = "l0"
    for i in range(1, k + 1):
        iters.append(f"""l{i} AS (
  SELECT v.id, coalesce(t.new_label, v.label) AS label
  FROM {prev} v LEFT JOIN (
    SELECT id, new_label FROM (
      SELECT s.dst AS id, l.label AS new_label,
             row_number() OVER (PARTITION BY s.dst
                                ORDER BY count(*) DESC, l.label ASC) AS rn
      FROM sym s JOIN {prev} l ON s.src = l.id
      GROUP BY s.dst, l.label
    ) x WHERE rn = 1
  ) t ON v.id = t.id
)""")
        prev = f"l{i}"
    return f"""WITH {_EDGES_CTE},
{_VERTS_CTE},
{_SYM_CTE},
l0 AS (SELECT id, id AS label FROM verts),
{",".join(iters)}
SELECT id, label FROM {prev}"""


_TRIANGLES_SQL = """WITH pairs AS (
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
)
SELECT count(*) AS triangles
FROM pairs x JOIN pairs y ON x.dst = y.src
             JOIN pairs z ON z.src = x.src AND z.dst = y.dst"""


# ------------------------------------------------------- text SQL twins
_TOKENS_SQL_EXPR = (
    r"CASE WHEN text IS NULL OR trim(text) = '' THEN 0 "
    r"ELSE len(string_split_regex(trim(text), '\s+')) END"
)


def _lang_sql_expr() -> str:
    cnt = {
        lang: rf"len(regexp_extract_all(lower(text), '\b({'|'.join(ws)})\b'))"
        for lang, ws in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(cnt.values()) + ")"
    whens = "\n".join(
        f"WHEN {cnt[lang]} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"CASE WHEN text IS NULL OR {best} = 0 THEN 'und' {whens} ELSE 'und' END"


def _quality_sql_expr() -> str:
    toks = _TOKENS_SQL_EXPR
    stops = rf"len(regexp_extract_all(lower(text), '\b({'|'.join(STOPWORDS)})\b'))"
    punct = (
        r"CASE WHEN length(text) = 0 THEN 0.0 ELSE "
        r"(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))"
        r"::DOUBLE / length(text) END"
    )
    stop_ratio = f"CASE WHEN {toks} = 0 THEN 0.0 ELSE {stops}::DOUBLE / {toks} END"
    return (
        f"CASE WHEN text IS NULL THEN 0.0 ELSE "
        f"0.4 * least({toks}::DOUBLE / 100.0, 1.0) "
        f"+ 0.3 * (1.0 - {punct}) "
        f"+ 0.3 * least({stop_ratio} * 5.0, 1.0) END"
    )


_FINGERPRINT_SQL_EXPR = (
    r"md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),"
    r" '\s+', ' ', 'g')))"
)

_SHINGLES_CTE = r"""toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
  )
)"""


def _jaccard_sql(threshold: float, df_cap: int | None = None) -> str:
    """Exact shingle-Jaccard twin; with ``df_cap`` the hot-shingle DF cap
    is applied to the shingle universe exactly like the Spark operator."""
    src = "sh"
    cap_cte = ""
    if df_cap is not None:
        cap_cte = f""",
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {df_cap}),
sh2 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle))"""
        src = "sh2"
    return f"""WITH {_SHINGLES_CTE}{cap_cte},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM {src} GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(common::DOUBLE / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common JOIN sizes sa ON common.id_a = sa.doc_id
            JOIN sizes sb ON common.id_b = sb.doc_id
WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common) >= {threshold}"""


def _minhash_lsh_sql(
    threshold: float = 0.5, num_hashes: int = 64, bands: int = 16, seed: int = 42
) -> str:
    """Exact twin of minhash_lsh_pairs(hash_fn='md5'): same 60-bit hash,
    same band buckets (md5 over '|'-joined mins), same estimator."""
    r = num_hashes // bands
    hcols = ",\n         ".join(
        f"min({hash60_md5_sql('shingle', seed + i)}) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, md5(concat_ws('|', "
        + ", ".join(f"h{bi * r + j}" for j in range(r))
        + ")) AS bucket FROM mh"
        for bi in range(bands)
    )
    eq = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""WITH {_SHINGLES_CTE},
mh AS (SELECT doc_id, {hcols} FROM sh GROUP BY doc_id),
bk AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bk a JOIN bk b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
est AS (SELECT id_a, id_b, ({eq}) / {num_hashes}.0 AS est_jaccard
        FROM cand JOIN mh a ON cand.id_a = a.doc_id
                  JOIN mh b ON cand.id_b = b.doc_id)
SELECT id_a, id_b, round(est_jaccard, 6) AS est_jaccard
FROM est WHERE est_jaccard >= {threshold}"""


def _dedup_clusters_sql(threshold: float = 0.5) -> str:
    """Twin of near_dup_clusters over minhash md5 pairs: the *exact*
    transitive closure (recursive CTE; terminates because UNION dedups
    the monotone reach set) — which is the fixpoint the pointer-jumping
    CC loop computes, so both sides agree at any graph diameter."""
    return f"""WITH RECURSIVE pairs AS ({_minhash_lsh_sql(threshold=threshold)}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
),
cc AS (SELECT id, min(comp) AS cluster FROM reach GROUP BY id)
SELECT d.doc_id,
       coalesce(cc.cluster, d.doc_id) AS cluster_id,
       (CASE WHEN d.doc_id = coalesce(cc.cluster, d.doc_id)
             THEN 1 ELSE 0 END) AS keep
FROM documents d LEFT JOIN cc ON d.doc_id = cc.id"""


def _simhash_sql(max_hamming: int = 3, bits: int = 60, seed: int = 42) -> str:
    """Exact twin of simhash_pairs(hash_fn='md5', bits=60). The chunk
    banding is complete (pigeonhole with max_hamming+1 chunks), so the
    operator's output equals the brute-force Hamming ball — which is what
    this twin computes."""
    bsums = ",\n         ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    pack = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return rf"""WITH tk AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
),
h AS (SELECT doc_id, {hash60_md5_sql('tok', seed)} AS hv FROM tk),
bs AS (SELECT doc_id, {bsums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, ({pack})::BIGINT AS simhash FROM bs)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


_WINNOW_POW = [pow(257, 7 - j, 2147483647) for j in range(8)]


def _winnow_sql() -> str:
    """Exact twin of winnow_fingerprints (k=8, w=16, Mersenne-31 poly hash
    over code points of lower(text)): count of distinct window-min hashes."""
    term = " + ".join(f"c[i+{j}] * {_WINNOW_POW[j]}" for j in range(8))
    return f"""WITH cp AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN []::BIGINT[]
              ELSE [ord(substr(lower(text), i, 1))::BIGINT
                    FOR i IN generate_series(1, length(lower(text)))]
         END AS c
  FROM documents
),
hs AS (
  SELECT doc_id,
         CASE WHEN len(c) >= 8 THEN
            [({term}) % 2147483647 FOR i IN generate_series(1, len(c) - 7)]
         ELSE []::BIGINT[] END AS h
  FROM cp
),
mins AS (
  SELECT doc_id,
         CASE WHEN len(h) = 0 THEN []::BIGINT[]
              WHEN len(h) <= 16 THEN [list_min(h)]
              ELSE [list_min(h[i:i+15]) FOR i IN generate_series(1, len(h) - 15)]
         END AS m
  FROM hs
)
SELECT doc_id, len(list_distinct(m))::INT AS n_fingerprints FROM mins"""


def _lsh_bucket_sql(vec_expr: str, planes) -> str:
    """Bucket id as an explicit left-to-right double arithmetic chain —
    the exact FP association the Spark unrolled expression uses."""
    terms = []
    for p_i, plane in enumerate(planes):
        dot = "0.0 + " + " + ".join(
            f"{vec_expr}[{d + 1}]::DOUBLE * {float(w)!r}"
            for d, w in enumerate(plane)
        )
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << p_i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


def _ann_lsh_sql(k: int = 10, n_planes: int = 4, dim: int = 64, seed: int = 42) -> str:
    planes = _hyperplanes(dim, n_planes, seed)
    b = _lsh_bucket_sql("embedding", planes)
    return f"""WITH c AS (
  SELECT vec_id, embedding, {b} AS bucket FROM embeddings
),
q0 AS (
  SELECT vec_id AS query_id, embedding AS qv, {b} AS qbucket
  FROM embeddings WHERE vec_id < 10
),
probes AS (
  SELECT query_id, qv,
         unnest([qbucket] || [xor(qbucket, (1::BIGINT << i))
                              FOR i IN generate_series(0, {n_planes - 1})]) AS bucket
  FROM q0
),
scored AS (
  SELECT p.query_id, c.vec_id,
         list_cosine_similarity(p.qv::DOUBLE[], c.embedding::DOUBLE[]) AS cos
  FROM probes p JOIN c ON p.bucket = c.bucket
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, round(cos, 6) AS cos_sim, rk FROM ranked WHERE rk <= {k}"""


def _ann_ivf_sql(
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 3,
    cent_cte: str | None = None,
) -> str:
    """Twin of ivf_topk: cells = the seeded centroids (nearest of the
    ``n_centroids`` smallest-id vectors, ties → smallest cid) or, with
    ``cent_cte``, an arbitrary ``(cid, cvec)`` source — the refined tier
    passes read_parquet() of the centroids the Spark query materialized.
    Queries probe their ``n_probe`` nearest cells; candidates join on the
    cell."""
    cent = cent_cte or f"""SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY vec_id LIMIT {n_centroids}"""
    return f"""WITH cent AS (
  {cent}
),
casg AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                             c.cvec::DOUBLE[]) DESC,
                      c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
),
qasg AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                             c.cvec::DOUBLE[]) DESC,
                      c.cid ASC) AS rn
    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10
  ) WHERE rn <= {n_probe}
),
scored AS (
  SELECT qa.query_id, ca.vec_id,
         list_cosine_similarity(qa.qv::DOUBLE[], ca.embedding::DOUBLE[]) AS cos
  FROM qasg qa JOIN casg ca USING (cid)
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, round(cos, 6) AS cos_sim, rk FROM ranked WHERE rk <= {k}"""


def _near_dups_sql(
    threshold: float, n_planes: int = 4, dim: int = 64, seed: int = 42
) -> str:
    planes = _hyperplanes(dim, n_planes, seed)
    b = _lsh_bucket_sql("embedding", planes)
    return f"""WITH e AS (
  SELECT vec_id, embedding, {b} AS bucket FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos_sim
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= {threshold}"""


# ----------------------------------------------------------- queries()
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the customer→supplier graph at sf0.001."""

    def _run(s: SparkSession, d: str) -> DataFrame:
        edges = _graph_edges(s, d)
        res = pagerank(s, edges, c=0.85, eps=1e-6, max_iter=20)
        return res.ranks.select("id", F.round("rank", 6).alias("rank"))

    # same conf scoping as every queries() entry: tuned for the eager
    # iterative work inside, caller's runtime confs restored on return
    return _scoped(_run)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- graph engine (SURVEY §2.2 / §2.4) ---------------------------
    q["graph_edges"] = lambda s, d: _graph_edges(s, d)

    q["out_degree"] = lambda s, d: out_degrees(_graph_edges(s, d)).select(
        "id", "out_degree"
    )

    # degree distribution — the first thing anyone computes on a new link
    # graph, and the skew diagnostic that decides salting thresholds. Two
    # map-side-combined aggregations, no joins.
    q["degree_histogram"] = lambda s, d: (
        _graph_edges(s, d)
        .groupBy("src").agg(F.count("*").alias("out_degree"))
        .groupBy("out_degree").agg(F.count("*").alias("n_vertices"))
    )

    # S4 duplicate-edge policy quirk (reference graph.go:51-99: duplicate
    # input lines inflate the out-degree but store one in-link). The RAW
    # orders ⋈ lineitem pair stream has genuine duplicates (a customer
    # orders from the same supplier repeatedly), so both policies are
    # non-vacuous: 'reference' counts raw rows, 'distinct' collapses first.
    def _raw_edges(s, d):
        o = _t(s, d, "orders").select("o_orderkey", "o_custkey")
        l = _t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
        return o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + SUPP_OFFSET).cast("long").alias("dst"),
        )

    q["out_degree_dup_reference"] = lambda s, d: out_degrees(
        _raw_edges(s, d), dup_policy="reference"
    ).select("id", "out_degree")

    q["out_degree_dup_distinct"] = lambda s, d: out_degrees(
        _raw_edges(s, d), dup_policy="distinct"
    ).select("id", "out_degree")

    def _q_pagerank(s, d):
        res = pagerank(s, _graph_edges(s, d), c=0.85, eps=0.0,
                       max_iter=PAGERANK_ITERS)
        return res.ranks.select("id", F.round("rank", 6).alias("rank"))
    q["pagerank_k5"] = _q_pagerank

    def _q_pagerank_salted(s, d):
        res = pagerank(s, _graph_edges(s, d), c=0.85, eps=0.0,
                       max_iter=PAGERANK_ITERS, skew_salt=8, hub_threshold=4)
        return res.ranks.select("id", F.round("rank", 6).alias("rank"))
    q["pagerank_k5_salted"] = _q_pagerank_salted

    def _q_pagerank_redistribute(s, d):
        # classic dangling-mass redistribution (every supplier vertex in
        # this graph is dangling, so the term is non-vacuous); no final
        # renormalization — redistribution conserves mass exactly
        res = pagerank(s, _graph_edges(s, d), c=0.85, eps=0.0,
                       max_iter=PAGERANK_ITERS, dangling="redistribute")
        return res.ranks.select("id", F.round("rank", 6).alias("rank"))
    q["pagerank_k5_redistribute"] = _q_pagerank_redistribute

    def _q_pagerank_weighted(s, d):
        """Weighted PageRank: edge weight = how often the customer
        ordered from the supplier (duplicate multiplicity of the raw
        pair stream), transition probability w / out-strength."""
        raw = _raw_edges(s, d).withColumn("w", F.lit(1.0))
        res = pagerank(s, raw, c=0.85, eps=0.0, max_iter=PAGERANK_ITERS,
                       weight_col="w")
        return res.ranks.select("id", F.round("rank", 6).alias("rank"))
    q["pagerank_k5_weighted"] = _q_pagerank_weighted

    def _q_ppr_multi(s, d):
        """Multi-seed personalized PageRank: two seed sets over the
        customer→supplier graph ranked in ONE loop (shared edge product,
        sparse per-set state — plans/ppr.py). Set 1: customers id % 50
        == 0, uniform weights; set 2: id % 50 == 1, weights id % 7 + 1."""
        edges = _graph_edges(s, d)
        custs = edges.select("src").distinct()
        seeds = (
            custs.where(F.col("src") % 50 == 0)
            .select(
                F.lit(1).alias("set_id"),
                F.col("src").alias("id"),
                F.lit(1.0).alias("weight"),
            )
            .unionByName(
                custs.where(F.col("src") % 50 == 1).select(
                    F.lit(2).alias("set_id"),
                    F.col("src").alias("id"),
                    (F.col("src") % 7 + 1).cast("double").alias("weight"),
                )
            )
        )
        out = personalized_pagerank_multi(
            s, edges, seeds, c=0.85, k=PAGERANK_ITERS
        )
        return out.select("set_id", "id", F.round("rank", 6).alias("rank"))
    q["ppr_multi_seed"] = _q_ppr_multi

    def _q_harmonic(s, d):
        """Truncated harmonic centrality from the multi-source BFS run:
        centrality(v) = Σ_roots 1/dist(root, v) over hops 1..3 — the
        standard sampled-roots centrality estimate (exact per root; the
        truncation radius and root sample are the scale knobs)."""
        edges = _graph_edges(s, d)
        roots = (
            edges.select("src").distinct()
            .where(F.col("src") % 250 == 0)
            .select(F.col("src").alias("root"), F.col("src").alias("id"))
        )
        vis = multi_source_bfs(s, edges, roots, max_depth=3)
        return (
            vis.where(F.col("dist") > 0)
            .groupBy("id")
            .agg(F.round(F.sum(1.0 / F.col("dist")), 6).alias("centrality"))
        )
    q["harmonic_centrality"] = _q_harmonic

    def _q_eccentricity(s, d):
        """Per-root eccentricity within the 3-hop horizon (max hop
        distance reached), plus reached-set size — the radius/diameter
        diagnostic over the sampled roots."""
        edges = _graph_edges(s, d)
        roots = (
            edges.select("src").distinct()
            .where(F.col("src") % 250 == 0)
            .select(F.col("src").alias("root"), F.col("src").alias("id"))
        )
        vis = multi_source_bfs(s, edges, roots, max_depth=3)
        return vis.groupBy("root").agg(
            F.max("dist").cast("long").alias("eccentricity"),
            F.count("*").cast("long").alias("n_reached"),
        )
    q["root_eccentricity"] = _q_eccentricity

    def _q_bfs(s, d):
        """Multi-source BFS over the undirected customer↔supplier graph:
        hop distances from every customer with id % 250 == 0, all roots
        expanded in one loop (plans/bfs.py)."""
        edges = _graph_edges(s, d)
        roots = (
            edges.select("src").distinct()
            .where(F.col("src") % 250 == 0)
            .select(F.col("src").alias("root"), F.col("src").alias("id"))
        )
        return multi_source_bfs(s, edges, roots, max_depth=3)
    q["bfs_multi_source"] = _q_bfs

    def _q_betweenness(s, d):
        """Depth-3 Brandes betweenness from the same sampled customer
        roots as the BFS row (plans/betweenness.py): forward sigma
        levels, backward dependency accumulation, per-vertex sum."""
        edges = _graph_edges(s, d)
        roots = (
            edges.select("src").distinct()
            .where(F.col("src") % 250 == 0)
            .select(F.col("src").alias("root"))
        )
        return betweenness(s, edges, roots, max_depth=3).select(
            "id", F.round("betweenness", 6).alias("betweenness")
        )
    q["betweenness_sampled"] = _q_betweenness

    def _q_pagerank_transcripts(s, d):
        # Flagship path over the BASELINE input_hint table shape, now
        # hash-verified: the derived edge table is materialized to a
        # deterministic parquet path (an eager action — pagerank then
        # scans the files once, and no cached state leaks into the
        # caller's session), and the DuckDB twin runs an unrolled
        # fixed-k PageRank over read_parquet() of those same bytes.
        t = synth_transcripts(s, n_convs=300, seed=42)
        derive_edges(t).write.mode("overwrite").parquet(TRANSCRIPT_EDGES_PATH)
        edges = s.read.parquet(TRANSCRIPT_EDGES_PATH)
        res = pagerank(s, edges, c=0.85, eps=0.0, max_iter=TRANSCRIPT_PR_ITERS)
        return res.ranks.select("id", F.round("rank", 6).alias("rank"))
    q["pagerank_transcripts"] = _q_pagerank_transcripts

    def _materialized_transcripts(s):
        t = synth_transcripts(s, n_convs=300, seed=42)
        t.write.mode("overwrite").parquet(TRANSCRIPTS_PATH)
        return s.read.parquet(TRANSCRIPTS_PATH)

    # transcript-corpus analytics (sources/transcripts.py): the summary
    # reports a pipeline runs on the BASELINE input_hint table itself,
    # before/alongside the graph derivation
    q["transcript_stats"] = lambda s, d: conversation_stats(
        _materialized_transcripts(s)
    )
    q["tool_cooccurrence"] = lambda s, d: tool_cooccurrence(
        _materialized_transcripts(s)
    )
    q["tool_transitions"] = lambda s, d: tool_transitions(
        _materialized_transcripts(s)
    )

    def _q_pagerank_seeded_e(s, d):
        # reference-style random personalization (graph.go:150-164),
        # seeded + md5-hash mode so the oracle can reproduce it exactly
        edges = _graph_edges(s, d)
        verts = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        e = random_e_vector(s, verts, seed=7, hash_fn="md5")
        res = pagerank(s, edges, c=0.85, eps=0.0, max_iter=PAGERANK_ITERS, e=e)
        return res.ranks.select("id", F.round("rank", 6).alias("rank"))
    q["pagerank_seeded_e"] = _q_pagerank_seeded_e

    # seeded random-graph generator (reference Generate, graph.go:101-166)
    # in md5-hash mode so the chain + hash-mod arithmetic has an exact
    # ANSI-SQL twin — closes SURVEY §2 row S3 at the driver level.
    q["generated_graph"] = lambda s, d: generate_graph(
        s, n=GEN_N, max_edges=GEN_MAX_EDGES, seed=GEN_SEED, hash_fn="md5"
    )

    def _q_edgelist_http(s, d):
        # reference LoadGraphResource parity (graph.go:19-33): serve the
        # fixture over a real localhost HTTP server, fetch, parse.
        import http.server
        import socketserver
        import threading

        class H(http.server.SimpleHTTPRequestHandler):
            def __init__(self, *a, **kw):
                super().__init__(
                    *a, directory=os.path.join(ROOT, "tests/fixtures"), **kw)

            def log_message(self, *a):
                pass

        with socketserver.TCPServer(("127.0.0.1", 0), H) as httpd:
            port = httpd.server_address[1]
            t = threading.Thread(target=httpd.serve_forever, daemon=True)
            t.start()
            try:
                edges = read_edge_list_http(
                    s, f"http://127.0.0.1:{port}/web_edges.txt"
                )
                edges.count()  # materialize before the server goes away
            finally:
                httpd.shutdown()
        return edges.orderBy("src", "dst")
    q["edgelist_http"] = _q_edgelist_http

    def _q_edgelist_file(s, d):
        """S1 as its own driver row (r4 verdict item 6): the FILE path of
        the reference loader (pkg/graph/graph.go:178-196), exercised on a
        deterministically staged fixture derived from the documents table
        so the DuckDB twin can reproduce the edge multiset with pure SQL.
        Half the lines are space-separated, half comma-separated, and
        comment (#, //) / blank junk lines are interleaved — all three
        skip rules plus both separators go through the codegen'd parse."""
        docs = _t(s, d, "documents").select("doc_id")
        lines = docs.select(
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat_ws(
                    " ",
                    (F.col("doc_id") % 97).cast("string"),
                    ((F.col("doc_id") % 89) + 1000).cast("string"),
                ),
            ).otherwise(
                F.concat_ws(
                    ",",
                    (F.col("doc_id") % 97).cast("string"),
                    ((F.col("doc_id") % 89) + 1000).cast("string"),
                )
            ).alias("value")
        )
        junk = s.createDataFrame(
            [("# header comment",), ("// tool banner",), ("",),
             ("   ",), ("# 7 8",)],
            "value string",
        )
        lines.unionByName(junk).write.mode("overwrite").text(EDGELIST_FILE_DIR)
        return read_edge_list(s, EDGELIST_FILE_DIR)
    q["edgelist_file"] = _q_edgelist_file

    # the oracle twin unrolls exactly CC_ITERS hash-min exchanges; the
    # engine's hash-min arms pointer jumps only when its changed count
    # stalls, which this graph never does (it settles in 4 rounds)
    q["connected_components"] = lambda s, d: connected_components(
        s, _graph_edges(s, d), max_iter=CC_ITERS
    )

    # the connectivity report every web-graph analysis starts with:
    # component-size distribution (how many components of each size) —
    # CC fixpoint + two map-side-combined aggregations. The full
    # customer↔supplier graph is ONE giant component (a vacuous
    # histogram — the ~66 sf0.01 suppliers connect everything), so this
    # runs on the stratified slice (o_custkey % 10 = l_suppkey % 10):
    # edges never cross strata, so the graph provably fragments.
    def _q_component_sizes(s, d):
        return (
            connected_components(s, _sparse_edges(s, d), max_iter=CC_ITERS)
            .groupBy("component").agg(F.count("*").alias("size"))
            .groupBy("size").agg(F.count("*").alias("n_components"))
        )
    q["component_size_histogram"] = _q_component_sizes

    # run to the fixpoint, driver-verified (the sf graph converges well
    # inside CC_ITERS hash-min rounds, so the unrolled k-round twin has
    # already reached the same fixpoint)
    q["connected_components_hybrid"] = lambda s, d: connected_components(
        s, _graph_edges(s, d), max_iter=50
    )

    def _q_hits(s, d):
        """HITS hubs & authorities over the directed customer→supplier
        graph (plans/hits.py): customers score as hubs, suppliers as
        authorities — the natural bipartite mutual-reinforcement demo."""
        res = hits(s, _graph_edges(s, d), max_iter=HITS_ITERS)
        return res.scores.select(
            "id",
            F.round("hub", 6).alias("hub"),
            F.round("auth", 6).alias("auth"),
        )
    q["hits_k8"] = _q_hits

    q["label_propagation_k3"] = lambda s, d: label_propagation(
        s, _graph_edges(s, d), rounds=LPA_ROUNDS
    )

    q["triangle_count"] = lambda s, d: triangle_count(s, _supplier_pairs(s, d))

    def _q_clustering(s, d):
        """Per-vertex local clustering coefficient on the seeded generated
        graph (the supplier co-occurrence graph is complete at small sf —
        coefficient 1.0 everywhere — and the customer→supplier graph is
        bipartite: no triangles at all; the random graph is the
        non-vacuous surface)."""
        g = generate_graph(
            s, n=GEN_N, max_edges=GEN_MAX_EDGES, seed=GEN_SEED, hash_fn="md5"
        )
        return local_clustering_coefficient(s, g).select(
            "id", "degree", "triangles",
            F.round("clustering", 6).alias("clustering"),
        )
    q["clustering_coefficient"] = _q_clustering

    # k-core on the stratified slice (the full graph's min degree is
    # already ≥ 1 everywhere and highly connected; the slice peels ~30%
    # of vertices at k=3, exercising the cascade)
    q["k_core"] = lambda s, d: k_core(s, _sparse_edges(s, d), k=KCORE_K)

    # full core decomposition on the same slice (max core 6 at sf0.01,
    # ~200-340 vertices per level — non-vacuous everywhere)
    q["coreness"] = lambda s, d: coreness(s, _sparse_edges(s, d))

    # k-truss on the strong-tie supplier graph (187 of 600 edges survive
    # at k=4 through an 8-round peel cascade at sf0.01)
    q["k_truss"] = lambda s, d: k_truss(s, _strong_pairs(s, d), k=TRUSS_K)

    def _q_linkpred(s, d):
        """Adamic–Adar link prediction on the stratified slice: top-5
        predicted (customer, customer) / (supplier, supplier) links per
        vertex. Ranked on the 6-dp-rounded score (see _linkpred_sql)."""
        out = link_prediction(
            s, _sparse_edges(s, d), method="adamic_adar", top_k=10**9
        )
        w = Window.partitionBy("u").orderBy(
            F.desc(F.round("score", 6)), F.asc("v")
        )
        return (
            out.select("u", "v", "common", F.round("score", 6).alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= LINKPRED_TOPK)
        )
    q["link_prediction_aa"] = _q_linkpred

    # whole-graph diagnostics (operators/graphstats.py): reciprocity on
    # the generated graph (the TPC-H-derived graphs are one-way bipartite
    # — identically zero), assortativity on the full bipartite graph
    # (strongly negative: customers of few suppliers buy from hub
    # suppliers)
    def _q_reciprocity(s, d):
        g = generate_graph(
            s, n=GEN_N, max_edges=GEN_MAX_EDGES, seed=GEN_SEED, hash_fn="md5"
        )
        return reciprocity(s, g).select(
            "reciprocal_edges", "total_edges",
            F.round("reciprocity", 6).alias("reciprocity"),
        )
    q["graph_reciprocity"] = _q_reciprocity

    q["degree_assortativity"] = lambda s, d: degree_assortativity(
        s, _graph_edges(s, d)
    ).select(F.round("assortativity", 6).alias("assortativity"))

    # degree-correlation profile knn(k): one row per distinct degree
    q["avg_neighbor_degree"] = lambda s, d: avg_neighbor_degree(
        s, _graph_edges(s, d)
    ).select("degree", F.round("knn", 6).alias("knn"), "n_vertices")

    def _q_lp_modularity(s, d):
        """Newman modularity of the deterministic 3-round label-
        propagation partition on the customer-supplier graph — the
        quality scalar a community detection run reports."""
        g = _graph_edges(s, d)
        labels = label_propagation(s, g, rounds=LPA_ROUNDS)
        return modularity(s, g, labels).select(
            F.round("modularity", 6).alias("modularity"),
            "m_edges",
            "n_communities",
        )
    q["lp_modularity"] = _q_lp_modularity

    # seeded deterministic samplers (operators/sampling.py), md5 tier so
    # the kept set is bit-exact across engines
    q["sampled_edges"] = lambda s, d: sample_edges(
        _graph_edges(s, d), 0.25, seed=5, hash_fn="md5"
    )
    q["sampled_vertices_induced"] = lambda s, d: sample_vertices_induced(
        _graph_edges(s, d), 0.5, seed=5, hash_fn="md5"
    )

    def _q_scc(s, d):
        """Strongly connected components of the chain-stripped generated
        graph (a random functional graph: one giant SCC + a 2-cycle +
        singleton tendrils) via iterative coloring (plans/scc.py); the
        DuckDB twin brute-forces the transitive closure."""
        g = generate_graph(
            s, n=SCC_N, max_edges=SCC_ME, seed=SCC_SEED, hash_fn="md5"
        )
        e = g.where(
            (F.col("src") != F.col("dst"))
            & (F.col("dst") != F.col("src") + 1)
        )
        return strongly_connected_components(s, e)
    q["strongly_connected_components"] = _q_scc

    # --- relational / analytics --------------------------------------
    def _q_tpch_q1(s, d):
        li = _t(s, d, "lineitem")
        return (
            li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("sum_disc"),
                F.count("*").alias("n_rows"),
            )
        )
    q["tpch_q1"] = _q_tpch_q1

    def _q_top_suppliers(s, d):
        li = _t(s, d, "lineitem")
        rev = li.groupBy("l_suppkey").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
        )
        w = Window.orderBy(F.desc("rev"), F.asc("l_suppkey"))
        return (
            rev.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .select("l_suppkey", F.round("rev", 2).alias("revenue"), "rk")
        )
    q["top_suppliers_by_revenue"] = _q_top_suppliers

    # --- text analysis ------------------------------------------------
    q["doc_token_counts"] = lambda s, d: _t(s, d, "documents").select(
        "doc_id", token_count("text").alias("tokens")
    )
    # sub-word-ish (BPE-proxy) token counting — the budget unit an LLM
    # trainer actually plans in; runs of letters / digits / single
    # punctuation, one regexp_extract_all per row, pure codegen
    q["doc_token_counts_bpe"] = lambda s, d: _t(s, d, "documents").select(
        "doc_id", bpe_ish_token_count("text").cast("long").alias("bpe_tokens")
    )
    q["doc_lang_id"] = lambda s, d: _t(s, d, "documents").select(
        "doc_id", lang_id("text").alias("pred_lang")
    )
    q["doc_quality"] = lambda s, d: _t(s, d, "documents").select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )
    q["doc_fingerprint"] = lambda s, d: _t(s, d, "documents").select(
        "doc_id", normalized_fingerprint("text").alias("fingerprint")
    )
    q["doc_winnow"] = lambda s, d: _t(s, d, "documents").select(
        "doc_id", F.size(winnow_fingerprints("text")).alias("n_fingerprints")
    )

    def _q_repetition(s, d):
        # Gopher-style repetition filters. The corpus has no newlines, so
        # the line metric is exercised on a deterministic variant: every
        # doc_id % 3 == 0 document has its text duplicated across two
        # lines (dup_line_frac 0.5); the twin applies the identical CASE.
        docs = _t(s, d, "documents").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat_ws("\n", F.col("text"), F.col("text")),
            ).otherwise(F.col("text")).alias("text"),
        )
        return docs.select(
            "doc_id",
            F.round(duplicate_line_fraction("text"), 6).alias("dup_line_frac"),
            F.round(duplicate_ngram_fraction("text", 3), 6).alias("dup_3gram_frac"),
            F.round(top_ngram_fraction("text", 2), 6).alias("top_2gram_frac"),
        )
    q["doc_repetition"] = _q_repetition

    def _q_corpus_select(s, d):
        """End-of-pipeline training-corpus selection — the composition the
        text toolkit exists for: exact-dedup survivor ∧ lang 'en' ∧
        quality ≥ 0.5, in one declarative plan (fingerprint groupBy is the
        only shuffle; filters are pure column expressions that Catalyst
        pushes below the join). Same re-keyed dup union as
        dedup_exact_groups so the dedup leg provably removes rows."""
        docs = _t(s, d, "documents").select("doc_id", "text")
        rekeyed = docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text"
        )
        u = docs.unionByName(rekeyed).select(
            "doc_id", "text", normalized_fingerprint("text").alias("fp")
        )
        keep = u.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
        return (
            u.join(keep, "fp")
            .where(F.col("doc_id") == F.col("keep_id"))
            .where(lang_id("text") == "en")
            .where(quality_score("text") >= 0.5)
            .select("doc_id", F.round(quality_score("text"), 6).alias("quality"))
        )
    q["corpus_select"] = _q_corpus_select

    def _q_quota_select(s, d):
        """Per-source document cap (crawl-pipeline domain quota): keep the
        10 longest documents per source, deterministic integer ordering
        (n_chars desc, doc_id asc). Window partitioned by source — one
        hash shuffle, groups rank in parallel."""
        docs = _t(s, d, "documents").select("doc_id", "source", "n_chars")
        return quota_select(
            docs, "source", 10,
            order_by=[F.col("n_chars").desc(), F.col("doc_id")],
            keep_rank=True,
        )
    q["corpus_quota_select"] = _q_quota_select

    def _q_pack_bins(s, d):
        """Concat-and-chunk sequence packing: documents laid end-to-end by
        doc_id, token stream cut into 256-token training windows; the
        global offset comes from a distributed prefix-sum (range-bucketed
        cumsum + broadcast bucket offsets), never a global unpartitioned
        window. n_buckets=7 at this scale so multiple buckets are
        provably composed."""
        docs = _t(s, d, "documents").select(
            "doc_id", token_count("text").alias("tokens")
        )
        return concat_chunk_pack(
            docs, "tokens", "doc_id", chunk_tokens=256, n_buckets=7
        )
    q["corpus_pack_bins"] = _q_pack_bins

    # --- dedup ---------------------------------------------------------
    def _q_dedup_exact(s, d):
        # the sf0.01 documents table has no exact duplicates, which made
        # this check vacuous (both engines agreeing on zero rows); union in
        # a re-keyed sample of the table so the groupBy provably collapses
        # real duplicate text — identically in the SQL twin.
        docs = _t(s, d, "documents").select("doc_id", "text")
        rekeyed = docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text"
        )
        return exact_duplicates(docs.unionByName(rekeyed)).select(
            "fingerprint", "n_docs", "keep_id"
        )
    q["dedup_exact_groups"] = _q_dedup_exact

    q["dedup_jaccard_pairs"] = lambda s, d: jaccard_pairs(
        _t(s, d, "documents"), threshold=0.5
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

    q["dedup_jaccard_capped"] = lambda s, d: jaccard_pairs(
        _t(s, d, "documents"), threshold=0.5, max_shingle_df=JACCARD_DF_CAP
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

    # hash_fn='md5' = the cross-engine 60-bit hash → exact DuckDB twins
    # for the approximate dedup tiers (xxhash64 stays the fast default).
    q["dedup_minhash_lsh"] = lambda s, d: minhash_lsh_pairs(
        _t(s, d, "documents"), threshold=0.5, hash_fn="md5"
    ).select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))

    # corpus-level fuzzy dedup: LSH pairs → transitive closure (pointer-
    # jumping CC) → one survivor per cluster; oracle = recursive-CTE
    # exact closure over the same md5 pairs.
    q["dedup_clusters"] = lambda s, d: near_dup_clusters(
        s, _t(s, d, "documents"), threshold=0.5, hash_fn="md5"
    )

    q["dedup_simhash"] = lambda s, d: simhash_pairs(
        _t(s, d, "documents"), max_hamming=3, bits=60, hash_fn="md5"
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))

    # --- similarity search ---------------------------------------------
    def _q_ann(s, d):
        emb = _t(s, d, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        queries_df = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return brute_force_topk(emb, queries_df, k=10, method="sql").select(
            "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rk"
        )
    q["ann_cosine_topk"] = _q_ann

    def _q_ann_lsh(s, d):
        # cast to double FIRST so dot products are double arithmetic —
        # bit-identical to the oracle's e[i]::DOUBLE * w chains.
        emb = _t(s, d, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        queries_df = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return lsh_topk(emb, queries_df, k=10, n_planes=4, dim=EMB_DIM).select(
            "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rk"
        )
    q["ann_lsh_topk"] = _q_ann_lsh

    def _q_ann_ivf(s, d):
        # IVF coarse quantizer: seeded centroids (smallest 8 vec_ids, the
        # deterministic tier — unrefined, so the DuckDB twin can
        # reproduce the cells with ORDER BY vec_id LIMIT 8)
        emb = _t(s, d, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        queries_df = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return ivf_topk(
            emb, queries_df, k=10, n_centroids=IVF_CENTROIDS,
            n_probe=IVF_PROBE, dim=EMB_DIM,
        ).select(
            "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rk"
        )
    q["ann_ivf_topk"] = _q_ann_ivf

    def _q_ann_ivf_refined(s, d):
        # IVF with Lloyd-refined centroids (spherical k-means, the scale
        # tier): refine the seeded centroids distributedly, materialize
        # them to parquet (double arrays round-trip exactly), read them
        # back so Spark and the DuckDB twin consume IDENTICAL bytes, then
        # run the same probe join as ann_ivf_topk over the moved cells.
        emb = _t(s, d, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        seeds = seeded_centroids(emb, IVF_CENTROIDS)
        refined = kmeans_refine(emb, seeds, iters=IVF_REFINE_ITERS)
        s.createDataFrame(
            refined, "cid long, cvec array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(REFINED_CENTROIDS_PATH)
        cents = [
            (int(r["cid"]), [float(x) for x in r["cvec"]])
            for r in s.read.parquet(REFINED_CENTROIDS_PATH).collect()
        ]
        queries_df = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return ivf_topk(
            emb, queries_df, k=10, n_probe=IVF_PROBE, dim=EMB_DIM,
            centroids=cents,
        ).select(
            "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rk"
        )
    q["ann_ivf_refined"] = _q_ann_ivf_refined

    def _q_near_dups(s, d):
        emb = _t(s, d, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        return embedding_near_duplicates(
            emb, threshold=NEAR_DUP_THRESHOLD, n_planes=4, dim=EMB_DIM
        ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    q["embedding_near_dups"] = _q_near_dups

    def _q_embedding_stats(s, d):
        emb = _t(s, d, "embeddings")
        norm = F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        )
        return (
            emb.select("label", norm.alias("norm"))
            .groupBy("label")
            .agg(
                F.count("*").alias("n_vecs"),
                F.round(F.avg("norm"), 6).alias("avg_norm"),
            )
        )
    q["embedding_stats"] = _q_embedding_stats

    # --- multimodal plumbing -------------------------------------------
    def _q_multimodal(s, d):
        media = attach_binary_payload(_t(s, d, "documents"), "doc_id", "text")
        return extract_features(media).select("media_id", "kind", "n_bytes")
    q["multimodal_meta"] = _q_multimodal

    # --- events: windows + sessions ------------------------------------
    def _q_windows(s, d):
        out = windowed_event_counts(_t(s, d, "events"), window="1 hour")
        return out.select(
            epoch_seconds_ntz("window_start").alias("window_start_epoch"),
            "event_type",
            "n",
            F.round("total_value", 4).alias("total_value"),
        )
    q["events_windowed_counts"] = _q_windows

    def _q_sessions(s, d):
        ev = _t(s, d, "events")
        out = sessionize(ev, gap_minutes=30, tiebreak_col="event_id")
        return out.select(
            "user_id",
            F.col("session_idx").cast("long").alias("session_idx"),
            epoch_seconds_ntz("session_start").alias("start_epoch"),
            epoch_seconds_ntz("session_end").alias("end_epoch"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    q["events_sessionize"] = _q_sessions

    def _q_sessionize_stream(s, d):
        # The stateful streaming sessionizer (applyInPandasWithState),
        # driver-verified on a static input: one micro-batch of the whole
        # events table, then the no-data batch fires event-time timeouts
        # at the final watermark (delay 0 → floor(max ts, ms)). The
        # emitted set is deterministic: every gap-closed session, plus
        # each user's last session iff end_ms + gap_ms < max_ms. The twin
        # is the batch sessionize SQL restricted to exactly that set.
        import os
        import shutil

        base = SESSIONIZE_STREAM_DIR
        shutil.rmtree(base, ignore_errors=True)
        srcdir = os.path.join(base, "src")
        os.makedirs(srcdir)
        # FileStreamSource wants a directory; the sf table is one file
        os.symlink(
            os.path.abspath(f"{d}/events.parquet"),
            os.path.join(srcdir, "events.parquet"),
        )
        src = stream_events_from_parquet(s, srcdir)
        closed = sessionize_stream(src, gap_minutes=30, watermark="0 seconds")
        sq = (
            closed.writeStream.format("parquet")
            .outputMode("append")
            .option("path", os.path.join(base, "out"))
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .start()
        )
        try:
            sq.processAllAvailable()
        finally:
            sq.stop()
        return s.read.parquet(os.path.join(base, "out")).select(
            "user_id",
            epoch_seconds_ntz("session_start").alias("start_epoch"),
            epoch_seconds_ntz("session_end").alias("end_epoch"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    q["events_sessionize_stream"] = _q_sessionize_stream

    # Registry ORDER is part of the verification contract: the driver's
    # correctness gate checks the first 50 rows. Order = rows whose
    # engine code changed this round FIRST, then by last-driver-verified
    # round (oldest first, from verified.json — regenerated each round
    # from the CORRECTNESS_r0*.json history), then stable registration
    # order. This rotation guarantees no row goes more than one round
    # without a driver check (r5 verdict item 2: the hand-written
    # priority list went stale the moment it shipped — 18 rows skipped
    # in r05 would have been displaced again by it).
    changed_this_round = [
        # r6: corpus.py adaptive quantile probe + salt source
        "corpus_pack_bins", "corpus_quota_select",
        # r6: loop AQE / truncation interval (hits.py, labelprop.py)
        "hits_k8", "label_propagation_k3",
        # r6: similarity.py literal-array expression builders
        "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_refined",
        "embedding_near_dups",
        # r6: bfs.py observation-fused depth job; betweenness.py
        # aggregate-before-anti-join
        "bfs_multi_source", "betweenness_sampled",
        "harmonic_centrality", "root_eccentricity",
        # r6: pagerank.py fused state-init count + observed final norm
        "pagerank_k5", "pagerank_k5_salted", "pagerank_k5_redistribute",
        "pagerank_k5_weighted", "pagerank_seeded_e", "pagerank_transcripts",
        # r6: hits.py fused init count; ppr.py lazy initial state
        "ppr_multi_seed",
        # r6 fourth wave: lazy-checkpoint loops in components.py /
        # labelprop.py (and dedup_clusters' CC pass over the pair graph)
        "connected_components", "connected_components_hybrid",
        "component_size_histogram", "dedup_clusters",
        # r6: kcore.py / truss.py one-job peel rounds
        "k_core", "coreness", "k_truss",
        # r6: triangles.py shared symmetrized cache (triangle_rows)
        "triangle_count", "clustering_coefficient",
    ]
    verified_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "verified.json")
    try:
        with open(verified_path) as fh:
            last_verified = json.load(fh)
    except OSError:
        last_verified = {}
    reg_pos = {name: i for i, name in enumerate(q)}
    changed = set(changed_this_round)
    names = sorted(
        q,
        key=lambda name: (
            0 if name in changed else 1,
            last_verified.get(name, 0),
            reg_pos[name],
        ),
    )
    ordered = {name: q[name] for name in names}
    # every callable gets conf-scoped tuning: priors restored on return
    return {name: _scoped(fn) for name, fn in ordered.items()}


def oracle_sql() -> dict[str, str]:
    return {
        "graph_edges": f"WITH {_EDGES_CTE} SELECT src, dst FROM edges",
        "out_degree": f"""WITH {_EDGES_CTE}
SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src""",
        "degree_histogram": f"""WITH {_EDGES_CTE},
deg AS (SELECT src, count(*) AS out_degree FROM edges GROUP BY src)
SELECT out_degree, count(*) AS n_vertices FROM deg GROUP BY out_degree""",
        # raw (non-distinct) pair stream: 'reference' counts duplicate
        # lines (graph.go:78), 'distinct' collapses (src,dst) pairs first
        "out_degree_dup_reference": f"""WITH {_RAW_EDGES_CTE}
SELECT src AS id, count(*) AS out_degree FROM edges_raw GROUP BY src""",
        "out_degree_dup_distinct": f"""WITH {_RAW_EDGES_CTE}
SELECT src AS id, count(DISTINCT dst) AS out_degree
FROM edges_raw GROUP BY src""",
        "pagerank_k5": _pagerank_sql(),
        "pagerank_k5_salted": _pagerank_sql(),
        "pagerank_k5_redistribute": _pagerank_sql(dangling="redistribute"),
        "pagerank_k5_weighted": _weighted_pagerank_sql(),
        "ppr_multi_seed": _ppr_multi_sql(),
        "bfs_multi_source": _bfs_sql(),
        "betweenness_sampled": _betweenness_sql(),
        "harmonic_centrality": f"""WITH bfs AS ({_bfs_sql()})
SELECT id, round(sum(1.0 / dist), 6) AS centrality
FROM bfs WHERE dist > 0 GROUP BY id""",
        "root_eccentricity": f"""WITH bfs AS ({_bfs_sql()})
SELECT root, max(dist)::BIGINT AS eccentricity,
       count(*)::BIGINT AS n_reached
FROM bfs GROUP BY root""",
        "pagerank_seeded_e": _pagerank_sql(e_seed=7),
        # flagship: unrolled fixed-k PageRank over the parquet edge table
        # the Spark query materialized (the driver runs Spark first)
        "pagerank_transcripts": _pagerank_sql(
            k=TRANSCRIPT_PR_ITERS, edges_cte=_TRANSCRIPT_EDGES_CTE
        ),
        "generated_graph": _gen_graph_sql(GEN_N, GEN_MAX_EDGES, GEN_SEED),
        "transcript_stats": f"""SELECT conv_id,
       count(*)::BIGINT AS n_turns,
       sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_tool_calls,
       count(DISTINCT tool)::BIGINT AS n_distinct_tools,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT)
         - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s
FROM read_parquet('{TRANSCRIPTS_PATH}/*.parquet')
GROUP BY conv_id""",
        "tool_cooccurrence": f"""WITH calls AS (
  SELECT DISTINCT conv_id, tool
  FROM read_parquet('{TRANSCRIPTS_PATH}/*.parquet') WHERE tool IS NOT NULL
)
SELECT a.tool AS tool_a, b.tool AS tool_b, count(*)::BIGINT AS n_convs
FROM calls a JOIN calls b ON a.conv_id = b.conv_id AND a.tool < b.tool
GROUP BY 1, 2""",
        "tool_transitions": f"""WITH calls AS (
  SELECT conv_id, turn_idx, tool
  FROM read_parquet('{TRANSCRIPTS_PATH}/*.parquet') WHERE tool IS NOT NULL
)
SELECT prev_tool, tool, count(*)::BIGINT AS n FROM (
  SELECT tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool
  FROM calls
) WHERE prev_tool IS NOT NULL GROUP BY 1, 2""",
        "edgelist_http": r"""WITH raw AS (
  SELECT unnest(string_split(content, chr(10))) AS l
  FROM read_text('/root/repo/tests/fixtures/web_edges.txt')
),
c AS (
  SELECT trim(l) AS line FROM raw
  WHERE trim(l) <> '' AND NOT starts_with(trim(l), '#')
        AND NOT starts_with(trim(l), '//')
),
n AS (SELECT regexp_replace(line, '^(\S+)\s+', '\1,') AS line FROM c),
p AS (SELECT string_split(line, ',') AS p FROM n)
SELECT try_cast(p[1] AS BIGINT) AS src, try_cast(p[2] AS BIGINT) AS dst
FROM p
WHERE try_cast(p[1] AS BIGINT) IS NOT NULL
  AND try_cast(p[2] AS BIGINT) IS NOT NULL""",
        # the staged fixture is derived from documents deterministically,
        # so the twin is the generator expression itself — junk lines and
        # both separators vanish in the parse
        "edgelist_file": "SELECT doc_id % 97 AS src, doc_id % 89 + 1000 AS dst"
                         " FROM documents",
        "connected_components": _cc_sql(),
        "component_size_histogram": f"""WITH cc AS (
{_cc_sql().replace(_EDGES_CTE, _SPARSE_EDGES_CTE)}),
sizes AS (SELECT component, count(*) AS size FROM cc GROUP BY component)
SELECT size, count(*) AS n_components FROM sizes GROUP BY size""",
        "connected_components_hybrid": _cc_sql(),
        "hits_k8": _hits_sql(),
        "label_propagation_k3": _lpa_sql(),
        "triangle_count": _TRIANGLES_SQL,
        "clustering_coefficient": _clustering_sql(
            GEN_N, GEN_MAX_EDGES, GEN_SEED
        ),
        "k_core": _kcore_sql(),
        "coreness": _coreness_sql(),
        "k_truss": _ktruss_sql(),
        "strongly_connected_components": _scc_sql(),
        "link_prediction_aa": _linkpred_sql(),
        "sampled_edges": f"""WITH {_EDGES_CTE}
SELECT src, dst FROM edges
WHERE ({hash60_md5_sql("src::VARCHAR || '|' || dst::VARCHAR", 5)})
      % 1000000 < 250000""",
        "sampled_vertices_induced": f"""WITH {_EDGES_CTE}
SELECT src, dst FROM edges
WHERE ({hash60_md5_sql("src::VARCHAR", 5)}) % 1000000 < 500000
  AND ({hash60_md5_sql("dst::VARCHAR", 5)}) % 1000000 < 500000""",
        "graph_reciprocity": f"""WITH g AS MATERIALIZED ({_gen_graph_sql(GEN_N, GEN_MAX_EDGES, GEN_SEED)}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM g WHERE src <> dst),
m AS (
  SELECT count(*) AS total,
         coalesce(sum(CASE WHEN EXISTS (
           SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src
         ) THEN 1 ELSE 0 END), 0) AS recip
  FROM e
)
SELECT recip::BIGINT AS reciprocal_edges, total::BIGINT AS total_edges,
       round(CASE WHEN total = 0 THEN 0.0
             ELSE recip::DOUBLE / total END, 6) AS reciprocity
FROM m""",
        "degree_assortativity": f"""WITH {_EDGES_CTE},
sym AS MATERIALIZED (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
),
deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
j AS (
  SELECT d1.deg AS du, d2.deg AS dv
  FROM sym s JOIN deg d1 ON s.src = d1.id JOIN deg d2 ON s.dst = d2.id
)
SELECT round(corr(du, dv), 6) AS assortativity FROM j""",
        "avg_neighbor_degree": f"""WITH {_EDGES_CTE},
sym AS MATERIALIZED (
  SELECT src, dst FROM edges WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
),
deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
pv AS (
  SELECT s.src AS id, avg(d.deg) AS avg_nbr
  FROM sym s JOIN deg d ON s.dst = d.id GROUP BY s.src
)
SELECT d.deg AS degree, round(avg(pv.avg_nbr), 6) AS knn,
       count(*)::BIGINT AS n_vertices
FROM pv JOIN deg d ON pv.id = d.id GROUP BY d.deg""",
        "lp_modularity": f"""WITH {_EDGES_CTE},
canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
  FROM edges WHERE src <> dst
),
lab AS MATERIALIZED (SELECT id, label FROM ({{LPA}}) lpa),
m AS (SELECT count(*)::DOUBLE AS m FROM canon),
intra AS (
  SELECT lu.label, count(*) AS m_c
  FROM canon e JOIN lab lu ON e.src = lu.id JOIN lab lv ON e.dst = lv.id
  WHERE lu.label = lv.label GROUP BY lu.label
),
sym AS MATERIALIZED (
  SELECT src, dst FROM canon
  UNION ALL
  SELECT dst AS src, src AS dst FROM canon
),
deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
d_c AS (
  SELECT coalesce(l.label, d.id) AS label, sum(d.deg) AS d_c
  FROM deg d LEFT JOIN lab l ON d.id = l.id GROUP BY 1
)
SELECT round(sum(coalesce(i.m_c, 0) / (SELECT m FROM m)
              - pow(d.d_c / (2 * (SELECT m FROM m)), 2)), 6) AS modularity,
       (SELECT m FROM m)::BIGINT AS m_edges,
       count(*)::BIGINT AS n_communities
FROM d_c d LEFT JOIN intra i ON d.label = i.label""".replace(
            "{LPA}", _lpa_sql()
        ),
        "tpch_q1": """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
       count(*) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
        "top_suppliers_by_revenue": """SELECT l_suppkey, round(rev, 2) AS revenue, rk FROM (
  SELECT l_suppkey, rev,
         row_number() OVER (ORDER BY rev DESC, l_suppkey ASC) AS rk
  FROM (SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem GROUP BY l_suppkey)
) WHERE rk <= 5""",
        "doc_token_counts": f"SELECT doc_id, {_TOKENS_SQL_EXPR} AS tokens FROM documents",
        "doc_token_counts_bpe": (
            r"SELECT doc_id, len(regexp_extract_all(text,"
            r" '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens"
            r" FROM documents"
        ),
        "doc_lang_id": f"SELECT doc_id, {_lang_sql_expr()} AS pred_lang FROM documents",
        "doc_quality": f"SELECT doc_id, round({_quality_sql_expr()}, 6) AS quality FROM documents",
        "doc_fingerprint": f"SELECT doc_id, {_FINGERPRINT_SQL_EXPR} AS fingerprint FROM documents",
        "doc_repetition": """WITH docs AS (
  SELECT doc_id,
         coalesce(CASE WHEN doc_id % 3 = 0
                       THEN concat_ws(chr(10), text, text)
                       ELSE text END, '') AS text
  FROM documents
),
feats AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)),
                                    l -> trim(l)), l -> l <> '') AS L,
         string_split_regex(trim(text), '\\s+') AS t
  FROM docs
),
g AS (
  SELECT doc_id, L,
         list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3,
         list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                        i -> t[i] || ' ' || t[i+1]) AS g2
  FROM feats
)
SELECT doc_id,
  round(CASE WHEN len(L) = 0 THEN 0.0
        ELSE (len(L) - len(list_distinct(L)))::DOUBLE / len(L) END,
        6) AS dup_line_frac,
  round(CASE WHEN len(g3) = 0 THEN 0.0
        ELSE (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END,
        6) AS dup_3gram_frac,
  round(CASE WHEN len(g2) = 0 THEN 0.0
        ELSE list_max(list_transform(list_distinct(g2),
                x -> len(list_filter(g2, y -> y = x))))::DOUBLE / len(g2)
        END, 6) AS top_2gram_frac
FROM g""",
        "corpus_select": f"""WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DUP_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 10 = 0
),
fp AS (SELECT doc_id, text, {_FINGERPRINT_SQL_EXPR} AS fp FROM docs),
keep AS (SELECT fp, min(doc_id) AS keep_id FROM fp GROUP BY fp)
SELECT f.doc_id, round({_quality_sql_expr()}, 6) AS quality
FROM fp f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.keep_id
WHERE {_lang_sql_expr()} = 'en' AND {_quality_sql_expr()} >= 0.5""",
        "corpus_quota_select": """SELECT doc_id, source, n_chars, rank
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents
)
WHERE rank <= 10""",
        "corpus_pack_bins": f"""WITH t AS (
  SELECT doc_id, {_TOKENS_SQL_EXPR} AS tokens FROM documents
),
c AS (
  -- CAST: DuckDB's windowed sum(BIGINT) is HUGEINT; Spark emits BIGINT
  -- and the driver's value hash is dtype-sensitive (r4 verdict).
  SELECT doc_id, tokens,
         CAST(sum(tokens) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - tokens
              AS BIGINT) AS start
  FROM t
)
SELECT doc_id, tokens, start,
       CAST(floor(start / 256.0) AS BIGINT) AS first_bin,
       CAST(floor((start + greatest(tokens - 1, 0)) / 256.0) AS BIGINT)
         AS last_bin
FROM c""",
        "dedup_exact_groups": f"""WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DUP_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 10 = 0
)
SELECT fp AS fingerprint, count(*) AS n_docs, min(doc_id) AS keep_id
FROM (SELECT doc_id, {_FINGERPRINT_SQL_EXPR} AS fp FROM docs)
GROUP BY fp HAVING count(*) > 1""",
        "dedup_jaccard_pairs": _jaccard_sql(0.5),
        "dedup_jaccard_capped": _jaccard_sql(0.5, df_cap=JACCARD_DF_CAP),
        "dedup_minhash_lsh": _minhash_lsh_sql(threshold=0.5),
        "dedup_clusters": _dedup_clusters_sql(threshold=0.5),
        "dedup_simhash": _simhash_sql(max_hamming=3),
        "doc_winnow": _winnow_sql(),
        "ann_lsh_topk": _ann_lsh_sql(k=10, n_planes=4, dim=EMB_DIM),
        "ann_ivf_topk": _ann_ivf_sql(
            k=10, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE
        ),
        # refined tier: the cells are the Lloyd-refined centroids the
        # Spark query materialized (the driver runs Spark first)
        "ann_ivf_refined": _ann_ivf_sql(
            k=10,
            n_probe=IVF_PROBE,
            cent_cte=(
                "SELECT cid, cvec FROM "
                f"read_parquet('{REFINED_CENTROIDS_PATH}/*.parquet')"
            ),
        ),
        "embedding_near_dups": _near_dups_sql(
            NEAR_DUP_THRESHOLD, n_planes=4, dim=EMB_DIM
        ),
        "ann_cosine_topk": """WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]) AS cos
  FROM embeddings e, q
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, round(cos, 6) AS cos_sim, rk FROM ranked WHERE rk <= 10""",
        "embedding_stats": """SELECT label, count(*) AS n_vecs,
       round(avg(sqrt(list_sum(list_transform(embedding,
             x -> x::DOUBLE * x::DOUBLE)))), 6) AS avg_norm
FROM embeddings GROUP BY label""",
        "multimodal_meta": """SELECT doc_id AS media_id, 'image' AS kind,
       octet_length(encode(text)) AS n_bytes FROM documents""",
        "events_windowed_counts": """SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS window_start_epoch,
       event_type, count(*)::BIGINT AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2""",
        # NB: every output column is cast to BIGINT explicitly — DuckDB's
        # windowed sum() yields HUGEINT, which hash-mismatches Spark's
        # BIGINT even when values are equal.
        "events_sessionize": """WITH m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM m
)
SELECT user_id, session_idx::BIGINT AS session_idx,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch,
       count(*)::BIGINT AS n_events
FROM s GROUP BY user_id, session_idx""",
        # the streaming sessionizer's deterministic emitted set on a
        # static input under watermark delay 0: every gap-closed session
        # (a later session exists for the user), plus each user's final
        # session iff its event-time timeout (end_ms + gap_ms) precedes
        # the final watermark floor(max ts, ms) — Spark fires timeouts
        # strictly below the watermark, both sides floored to millis.
        "events_sessionize_stream": """WITH m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM m
),
sess AS (
  SELECT user_id, session_idx, min(ts) AS session_start,
         max(ts) AS session_end, count(*)::BIGINT AS n_events
  FROM s GROUP BY user_id, session_idx
),
wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events)
SELECT user_id,
       CAST(floor(epoch(session_start)) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(session_end)) AS BIGINT) AS end_epoch,
       n_events
FROM sess, wm
WHERE session_idx < (SELECT max(session_idx) FROM sess s2
                     WHERE s2.user_id = sess.user_id)
   OR epoch_us(session_end) // 1000 + 1800000 < wm_ms""",
    }
