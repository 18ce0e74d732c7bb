"""Label propagation (north-rule N2) — synchronous, deterministic.

Semantics (SURVEY §2.4): init ``label(v) = v``; each round every vertex
takes the most frequent label among its (undirected) neighbors, breaking
ties toward the SMALLEST label — fully deterministic, unlike classic
async LPA. Runs a fixed round budget or stops early at fixpoint.

Plan per round: join label vector into cached symmetrized edges →
``groupBy(dst, label).count()`` (two-phase hash agg, map-side combine) →
top-1 per dst via ``max_by`` on the (count, -label) ordering — expressed
as ``max(struct(count, -label))`` so it stays a single aggregation
(no window sort shuffle).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_pagerank_spark.plans.components import label_exchange


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 2,
    resume: bool = True,
    num_partitions: int | None = None,
    metrics_out: list[dict[str, Any]] | None = None,
) -> DataFrame:
    """→ ``(id long, label long)`` after ``rounds`` synchronous rounds
    (early-stops at fixpoint). ``checkpoint_dir`` makes the run resumable
    (``plans/loop.py``). Without it the iteration state lives in
    unreplicated local checkpoints, and losing an executor mid-run aborts
    the run; with it, rerunning the same call resumes from the last
    durable iteration.
    """

    def step(sym: DataFrame, labels: DataFrame, last: dict[str, Any] | None):
        freq = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
        )
        # top-1 label per dst: max over (cnt, -label) orders by frequency
        # then smallest label — one agg, no window sort.
        top = freq.groupBy("dst").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
        ).select("dst", (-F.col("m.neg")).alias("new_label"))
        return labels.join(top, labels["id"] == top["dst"], "left").select(
            "id",
            F.col("label").alias("old"),
            F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
        ), {}

    return label_exchange(
        spark, edges, "label_propagation", "label", step,
        num_partitions=num_partitions, max_iter=rounds,
        checkpoint_dir=checkpoint_dir, checkpoint_interval=checkpoint_interval,
        resume=resume, metrics_out=metrics_out,
    )
