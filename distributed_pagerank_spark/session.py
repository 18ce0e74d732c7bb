"""SparkSession factory tuned for the engine.

Local-mode defaults match the sandbox (single JVM, many cores); on a real
cluster the same settings apply except master/memory, which come from
``spark-submit``. AQE is on for one-shot queries: it coalesces their
shuffles and splits skewed join partitions at 100 TB scale. The graph
plans (``plans/``) turn it off for the whole call, setup, loop and
finalization alike, and size their partitions from the measured bytes
of their edge aggregate instead (``plans/loop.py``), since AQE would
split every loop iteration and every one-shot plan into several jobs.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def get_spark(
    app_name: str = "distributed_pagerank_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; under
    ``spark-submit`` on a cluster, leave it None and don't set the env var.
    Warns when an existing session keeps a different
    ``spark.sql.codegen.cache.maxEntries`` than the one asked for.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # local mode: shuffle/spill through tmpfs instead of virtio disk
        # (cluster deployments configure executor local dirs themselves)
        **(
            {"spark.local.dir": "/dev/shm/spark-local"}
            if os.path.isdir("/dev/shm")
            else {}
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # The default 100-entry generated-class cache thrashes in any
        # long-lived session running many distinct queries: each query
        # compiles 5-15 WholeStageCodegen classes, so a few dozen
        # queries evict each other and EVERY re-run re-pays Janino
        # compilation on the driver. Measured on a 16-query interleaved
        # suite (sf0.1, local[32], alternated subprocesses, replicated):
        # 54.2/51.5 s at 100 entries vs 38.0/37.4 s at a large cache
        # (-27%), with codegen-heavy loops 27-42% faster and
        # expression-interpreted queries unmoved. Scale-neutral: the
        # cache holds compiled bytecode keyed by source (KBs/entry), and
        # the value bounds memory, not data size.
        CODEGEN_CACHE: "8192",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # a static conf: an existing session returned by getOrCreate() keeps
    # its own value, and the builder's is dropped without an error
    kept = spark.conf.get(CODEGEN_CACHE)
    if kept != conf[CODEGEN_CACHE]:
        warnings.warn(
            f"{CODEGEN_CACHE} is {kept}, not the "
            f"{conf[CODEGEN_CACHE]} asked for: getOrCreate() returned an "
            "existing session, whose static confs cannot change",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
