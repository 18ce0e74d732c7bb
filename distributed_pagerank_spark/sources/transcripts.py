"""Transcript table source and edge derivation.

The production input (BASELINE.json ``input_hint``) is an Iceberg table of
multi-turn conversation / agent transcripts::

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

From it the engine derives the link graph ``edges(src long, dst long)``:

- **reply-to edges**: within each conversation, turn *i* links to turn
  *i-1* under the stable ``(conv_id, turn_idx)`` ordering;
- **tool-invocation edges**: an ``assistant`` turn with a non-null ``tool``
  links to the next ``tool``-role turn in the same conversation
  (caller → result adjacency).

Vertex ids are ``xxhash64(conv_id, turn_idx)`` — shuffle-free,
deterministic, and collision-safe enough at 10^12 turns (birthday bound
~3e-4); the reference's ``int32`` ids (``pkg/graph/graph.go:16``) would
overflow at that scale.

Everything here is pure DataFrame + window functions — no per-row Python —
so at 100 TB the derivation is one shuffle (the window partition by
``conv_id``) followed by narrow maps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TOOL_NAMES = ["search", "python", "browser", "calculator", "sql"]

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def synth_transcripts(
    spark: SparkSession,
    n_convs: int,
    min_turns: int = 3,
    max_turns: int = 12,
    tool_call_rate: float = 0.5,
    seed: int = 42,
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic, seeded synthetic transcripts (FIXTURES.md §1).

    Scales linearly via ``spark.range`` — no driver-side data. Roles cycle
    ``user → assistant → tool``; an assistant turn invokes a tool with
    probability ``tool_call_rate`` (seeded hash, not RNG state, so the table
    is identical across partition counts and runs).
    """
    rng = F.xxhash64  # deterministic per-cell "randomness"
    conv = spark.range(n_convs, numPartitions=n_partitions).select(
        F.format_string("conv-%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_seq"),
    )
    span = max_turns - min_turns + 1
    conv = conv.withColumn(
        "n_turns",
        (F.lit(min_turns) + F.pmod(rng("conv_id", F.lit(seed)), F.lit(span))).cast(
            "int"
        ),
    )
    turns = conv.select(
        "conv_id",
        "conv_seq",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    role = (
        F.when(F.pmod("turn_idx", F.lit(3)) == 0, F.lit("user"))
        .when(F.pmod("turn_idx", F.lit(3)) == 1, F.lit("assistant"))
        .otherwise(F.lit("tool"))
    )
    turns = turns.withColumn("role", role)
    calls_tool = (F.col("role") == "assistant") & (
        F.pmod(rng("conv_id", "turn_idx", F.lit(seed + 1)), F.lit(1000))
        < int(tool_call_rate * 1000)
    )
    tool_idx = F.pmod(rng("conv_id", "turn_idx", F.lit(seed + 2)), F.lit(len(TOOL_NAMES)))
    tool_name = F.element_at(
        F.array(*[F.lit(t) for t in TOOL_NAMES]), (tool_idx + 1).cast("int")
    )
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        F.concat_ws(":", "conv_id", "turn_idx", "role").alias("text"),
        F.when(calls_tool, tool_name).alias("tool"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("conv_seq") * 3600 + F.col("turn_idx"))
        ).alias("ts"),
    )


def derive_edges(
    transcripts: DataFrame,
    reply_to: bool = True,
    tool_invocation: bool = True,
) -> DataFrame:
    """Transcripts → distinct ``edges(src long, dst long)``.

    One window shuffle on ``conv_id`` produces both edge kinds; the stable
    ``turn_idx`` ordering is the per-row invariant demanded by the
    BASELINE input_hint (tested in tests/test_transcripts.py).
    """
    if not (reply_to or tool_invocation):
        raise ValueError("at least one edge kind must be enabled")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        "tool",
        F.xxhash64("conv_id", F.col("turn_idx").cast("int")).alias("vid"),
    )
    # Single pass: both edge kinds come out of ONE scan + ONE window node
    # (lag/lead over the same spec collapse into one Window operator), then
    # an array+explode emits 0-2 edges per turn. A union of two separately
    # windowed branches would scan and shuffle the transcripts twice.
    win_cols = []
    if reply_to:
        win_cols.append(F.lag("vid").over(w).alias("prev_vid"))
    if tool_invocation:
        win_cols.append(F.lead("vid").over(w).alias("nxt_vid"))
        win_cols.append(F.lead("role").over(w).alias("nxt_role"))
    base = t.select("role", "tool", "vid", *win_cols)
    kinds = []
    if reply_to:
        kinds.append(
            F.when(
                F.col("prev_vid").isNotNull(),
                F.struct(F.col("vid").alias("src"),
                         F.col("prev_vid").alias("dst")),
            )
        )
    if tool_invocation:
        kinds.append(
            F.when(
                (F.col("role") == "assistant")
                & F.col("tool").isNotNull()
                & (F.col("nxt_role") == "tool"),
                F.struct(F.col("vid").alias("src"),
                         F.col("nxt_vid").alias("dst")),
            )
        )
    return (
        base.select(F.explode(F.array(*kinds)).alias("edge"))
        .where(F.col("edge").isNotNull())
        .select("edge.src", "edge.dst")
        .distinct()
    )


def conversation_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation summary → ``(conv_id, n_turns, n_tool_calls,
    n_distinct_tools, start_epoch, end_epoch, duration_s)``.

    The first report run on a new transcript corpus: one map-side-combined
    aggregation keyed ``conv_id``, no joins, no windows. Timestamps are
    exported as epoch seconds (BIGINT) per the repo's oracle convention.
    """
    return transcripts.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.col("tool").isNotNull().cast("long")).alias("n_tool_calls"),
        F.count_distinct("tool").alias("n_distinct_tools"),
        F.floor(F.unix_timestamp(F.min("ts"))).cast("long").alias("start_epoch"),
        F.floor(F.unix_timestamp(F.max("ts"))).cast("long").alias("end_epoch"),
        (
            F.floor(F.unix_timestamp(F.max("ts")))
            - F.floor(F.unix_timestamp(F.min("ts")))
        ).cast("long").alias("duration_s"),
    )


def tool_cooccurrence(transcripts: DataFrame) -> DataFrame:
    """Tool co-invocation graph → ``(tool_a, tool_b, n_convs)``.

    An edge between two tools weighted by how many conversations invoke
    BOTH — the derived graph over the tool vocabulary (the brief's
    "tool-invocation edges" aggregated to the tool level, where PageRank /
    components / link prediction run on tools instead of turns). One
    distinct + a self-join on ``conv_id``; the join's fan-out is bounded
    by (distinct tools per conversation)², a small constant at any corpus
    scale.
    """
    calls = (
        transcripts.where(F.col("tool").isNotNull())
        .select("conv_id", "tool")
        .distinct()
    )
    a = calls.select("conv_id", F.col("tool").alias("tool_a"))
    b = calls.select("conv_id", F.col("tool").alias("tool_b"))
    return (
        a.join(b, "conv_id")
        .where(F.col("tool_a") < F.col("tool_b"))
        .groupBy("tool_a", "tool_b")
        .agg(F.count("*").cast("long").alias("n_convs"))
    )


def tool_transitions(transcripts: DataFrame) -> DataFrame:
    """Markov transition counts between consecutive tool invocations
    within a conversation → ``(prev_tool, tool, n)``.

    The same single window shuffle shape as ``derive_edges`` (partition by
    ``conv_id``, order by ``turn_idx``), restricted to tool-invoking turns.
    """
    calls = transcripts.where(F.col("tool").isNotNull()).select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "tool"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        calls.withColumn("prev_tool", F.lag("tool").over(w))
        .where(F.col("prev_tool").isNotNull())
        .groupBy("prev_tool", "tool")
        .agg(F.count("*").cast("long").alias("n"))
    )


def load_transcripts(
    spark: SparkSession,
    path: str | None = None,
    format: str = "parquet",
    table: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Load the transcripts table from its storage format.

    The production input (BASELINE.json ``input_hint``) is an **Iceberg**
    table: pass ``format='iceberg'`` with either a catalog ``table`` name
    (``spark.table``) or a metadata ``path``
    (``spark.read.format('iceberg').load``). Requires the
    iceberg-spark-runtime jar and a ``spark.sql.catalog.*`` configuration
    on the session — both standard cluster deployment concerns; this
    sandbox has no such jar, so the Iceberg path is exercised by tests
    only when the runtime is present (see tests/test_transcripts.py).
    Any other Spark DataSourceV2 format (parquet/orc/json/csv/delta)
    dispatches through the same reader.
    """
    if table is not None:
        df = spark.table(table)
    else:
        if path is None:
            raise ValueError("need path or table")
        reader = spark.read.format(format)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        df = reader.load(path)
    missing = [c for c in TRANSCRIPT_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"transcripts table missing columns: {missing}")
    return df.select(*TRANSCRIPT_COLUMNS)


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False
