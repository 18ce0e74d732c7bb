"""distributed_pagerank_spark — a PySpark-native link-graph analytics engine.

From-scratch reimplementation of the *capabilities* of
``lioia/distributed-pagerank`` (a Go gRPC/RabbitMQ master-worker PageRank,
see ``/root/reference``), re-expressed Spark-first:

- the graph is two DataFrames (``edges(src,dst)``, ``vertices(id,rank,e)``)
  instead of a master-resident ``map[int32]*GraphNode``
  (reference ``pkg/graph/graph.go:51-53``);
- the Map/Reduce phases over RabbitMQ (reference ``pkg/node/master.go``,
  ``pkg/node/worker.go``) become one ``join → groupBy → join`` DataFrame DAG
  per iteration, optimized by Catalyst/AQE;
- orchestration (FSM, queues, leader election, health checks) is replaced by
  the Spark scheduler; the engine keeps only the iteration loop, the
  checkpoint/resume protocol, and skew handling.

Beyond the reference's single algorithm, the engine implements connected
components (hash-min), label propagation, and triangle counting (degree
ordered compact-forward), plus a training-data toolkit (dedup, similarity
search, text analysis, multimodal plumbing) over document/embedding tables.
"""

from distributed_pagerank_spark.session import get_spark
from distributed_pagerank_spark.sources.transcripts import (
    synth_transcripts,
    derive_edges,
)
from distributed_pagerank_spark.sources.transcripts import (
    iceberg_available,
    load_transcripts,
)
from distributed_pagerank_spark.sources.edgelist import (
    read_edge_list,
    read_edge_list_http,
)
from distributed_pagerank_spark.sources.generator import (
    generate_graph,
    random_e_vector,
)
from distributed_pagerank_spark.operators.corpus import (
    concat_chunk_pack,
    quota_select,
)
from distributed_pagerank_spark.operators.degrees import (
    out_degrees,
    symmetrize,
    vertices_from_edges,
)
from distributed_pagerank_spark.plans.pagerank import pagerank, PageRankResult
from distributed_pagerank_spark.plans.bfs import multi_source_bfs
from distributed_pagerank_spark.plans.ppr import personalized_pagerank_multi
from distributed_pagerank_spark.plans.components import connected_components
from distributed_pagerank_spark.plans.labelprop import label_propagation
from distributed_pagerank_spark.plans.triangles import triangle_count

__all__ = [
    "get_spark",
    "synth_transcripts",
    "derive_edges",
    "load_transcripts",
    "iceberg_available",
    "read_edge_list",
    "read_edge_list_http",
    "generate_graph",
    "random_e_vector",
    "concat_chunk_pack",
    "quota_select",
    "out_degrees",
    "symmetrize",
    "vertices_from_edges",
    "pagerank",
    "PageRankResult",
    "personalized_pagerank_multi",
    "multi_source_bfs",
    "connected_components",
    "label_propagation",
    "triangle_count",
]

__version__ = "0.1.0"
