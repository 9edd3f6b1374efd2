"""The end-to-end Spark pipeline: parse → mine → enrich → route → aggregate.

Each stage is a plain function DataFrame→DataFrame (the Spark-native analog
of the reference's pybind surface `parse_log_file` / `extract_attributes`,
reference: src/python_bindings.cpp:193-212). All scalar work is native
`pyspark.sql.functions` (JVM-side, whole-stage codegen); Python appears only
in the Arrow-vectorized Drain UDFs (operators/drain.py). The stages are
composed in one place, `job.run_checkpointed`, which commits each stage's
output before the next stage reads it.

Plan-shape invariants (checked via .explain during development):
- parse/enrich are narrow + one broadcast hash join each — no shuffle.
- mining shuffles once on (shard_key, salt); rarity shuffles once on
  (window_start, template_id); both keys are high-cardinality and salted.
- the routed fanout is ONE partitioned write (partitionBy sink key), not a
  per-sink loop — at 1000 executors a loop of filtered writes would rescan
  the input once per sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DETECTED_TS_RE, LEVEL_RE, PipelineConfig
from .operators.drain import mine_and_assign

# Dropped from turns_parsed before enrich/route: both are recomputable per
# row from (text, template_str), and the params map is a turn's widest
# column, so the turns_parsed scan, the route joins and the routed write
# all shrink. turns_parsed itself keeps the full schema.
ROUTED_DROP_COLS = ("params", "detected_ts")


def parse(df: DataFrame) -> DataFrame:
    """Vectorized field extraction over the text column (the grok stage).

    Analog of the reference's regex attribute extraction
    (src/file_data_loader.cpp:713-748) — expressed as native JVM-side
    `regexp_extract`, not a UDF."""
    return df.withColumn(
        "level", F.nullif(F.regexp_extract(F.col("text"), LEVEL_RE, 1), F.lit(""))
    ).withColumn(
        "detected_ts", F.nullif(F.regexp_extract(F.col("text"), DETECTED_TS_RE, 1), F.lit(""))
    )


def mine(df: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """Two-pass Drain (operators/drain.py): (turns+template cols, templates)."""
    return mine_and_assign(df, cfg)


def enrich(df: DataFrame, tool_lookup: DataFrame, role_lookup: DataFrame) -> DataFrame:
    """Broadcast hash joins against the small lookup dims — no shuffle."""
    return df.join(F.broadcast(tool_lookup), "tool", "left").join(
        F.broadcast(role_lookup), "role", "left"
    )


def route(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Frequency-based rarity scoring over event-time windows + sink keys.

    Counts are computed as partial-aggregated groupBys and broadcast-joined
    back — NOT window functions: `Window.partitionBy(template_id)` would
    funnel every row of a hot template through one task at 10^12 rows, and
    a shuffle join would move the wide fact twice. The count tables are
    bounded by (#windows × #templates) ≪ rows — catalog-sized, so the
    explicit broadcast hints keep the fact table unshuffled end-to-end.
    anomaly_flag = window count below threshold; template_class from
    param-count + global frequency (FIXTURES.md §4 sink key space).

    Lazy: building the plan runs no Spark job and holds no cached table.
    The global counts roll up the window counts. The null filter makes both
    count branches one plan: without it the optimizer infers a different
    IS NOT NULL filter under each join (both keys vs template_id only), and
    the window counts are computed twice; with it, AQE reads the window-count
    shuffle back as a ReusedExchange. The inner joins drop NULL-key rows
    anyway, so no output row changes. A count table past Spark's broadcast
    size limit fails the job loudly; it never returns other rows."""
    df = df.withColumn("window_start", F.date_trunc("hour", F.col("ts")))
    window_counts = (
        df.filter(F.col("window_start").isNotNull() & F.col("template_id").isNotNull())
        .groupBy("window_start", "template_id")
        .agg(F.count(F.lit(1)).alias("window_count"))
    )
    global_counts = window_counts.groupBy("template_id").agg(
        F.sum("window_count").alias("global_count")
    )
    n_params = F.size(F.split(F.col("template_str"), r"<\*>")) - F.lit(1)
    return (
        df.join(F.broadcast(window_counts), ["window_start", "template_id"])
        .join(F.broadcast(global_counts), ["template_id"])
        .withColumn("rarity_score", F.lit(1.0) / F.col("window_count"))
        .withColumn("anomaly_flag", F.col("window_count") < F.lit(cfg.anomaly_min_count))
        .withColumn(
            "template_class",
            F.when(F.col("global_count") < F.lit(cfg.rare_min_count), F.lit("rare"))
            .when(n_params == 0, F.lit("fixed"))
            .otherwise(F.lit("parameterized")),
        )
        .drop("window_count", "global_count")
    )


def aggregate(routed: DataFrame) -> DataFrame:
    """Per-template/per-tool windowed counts (partial agg map-side, one
    shuffle on the group keys)."""
    return routed.groupBy("window_start", "template_id", "tool").agg(
        F.count(F.lit(1)).alias("n_turns")
    )


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink row counts — the correctness gate vs the oracle."""
    return routed.groupBy("template_class", "anomaly_flag").agg(F.count(F.lit(1)).alias("n"))
