"""Checkpointed pipeline job: stage-by-stage materialization with lineage
and idempotent resume (north rule: "resumable from checkpoint with
per-partition lineage + metrics").

Stage graph:
  transcripts ─ validate ─> dead_letter (committed rejects) + valid rows
  valid ─ parse+mine ─> turns_parsed, templates
  turns_parsed ─ enrich+route ─> routed  (partitioned by sink key)
  routed ─> agg_template_tool, sink_counts

Each stage reads the PREVIOUS stage's committed table (not the lazy plan),
so a resumed run recomputes nothing upstream of the first missing stage.

Dead-letter contract (VERDICT r4 next-round #4 — the reference silently
DROPS malformed rows, src/file_data_loader.cpp:766-777): structurally
invalid rows (null conv_id / null text / null ts / text ≥ the 1 MB line
guard, plus parser-flagged `_valid == false` rows when the input came
through parse_format) are routed to a committed `dead_letter` table with a
`reject_reason` column instead of entering the miner. Empty text is NOT
dead-lettered — by spec it routes to the reserved <EMPTY> template."""

from __future__ import annotations

import dataclasses
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .hashing import xxh64
from .lineage import SinkStore
from .pipeline import ROUTED_DROP_COLS, aggregate, enrich, mine, parse, route, sink_counts


def _fingerprint(cfg: PipelineConfig, inputs: dict[str, str]) -> str:
    payload = json.dumps({"cfg": dataclasses.asdict(cfg), "inputs": inputs}, sort_keys=True)
    return f"{xxh64(payload) & 0xFFFFFFFFFFFFFFFF:016x}"


def reject_reason(df: DataFrame):
    """First-match-wins structural reject reason, NULL for valid rows.
    Pure codegen (no UDF); the 1 MB bound mirrors sources.readers'
    MAX_LINE_BYTES scan guard so file-fed and DataFrame-fed inputs agree."""
    from .sources.readers import MAX_LINE_BYTES

    reason = (
        F.when(F.col("conv_id").isNull(), F.lit("null_conv_id"))
        .when(F.col("text").isNull(), F.lit("null_text"))
        .when(F.octet_length("text") >= F.lit(MAX_LINE_BYTES), F.lit("oversize_text"))
    )
    if "ts" in df.columns:
        reason = reason.when(F.col("ts").isNull(), F.lit("null_ts"))
    if "_valid" in df.columns:
        reason = reason.when(~F.col("_valid"), F.lit("parser_invalid"))
    return reason


def split_rejects(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(dead, valid): rows with a reject_reason, carrying it as a column,
    and the rest. Both drop the parser's `_valid` flag. Lazy: one narrow
    codegen filter per side, no extra shuffle."""
    flagged = df.withColumn("_reject", reject_reason(df))
    valid_col = ["_valid"] if "_valid" in df.columns else []
    dead = flagged.filter(F.col("_reject").isNotNull()).withColumnRenamed(
        "_reject", "reject_reason"
    ).drop(*valid_col)
    valid = flagged.filter(F.col("_reject").isNull()).drop("_reject", *valid_col)
    return dead, valid


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    tool_lookup: DataFrame,
    role_lookup: DataFrame,
    store: SinkStore,
    cfg: PipelineConfig | None = None,
    resume: bool = True,
    input_desc: str = "inline",
) -> dict[str, DataFrame]:
    """Run (or resume) the checkpointed pipeline; returns the committed tables."""
    cfg = cfg or PipelineConfig()
    fp = _fingerprint(cfg, {"transcripts": input_desc})

    # stage 0: validate -> dead_letter (committed even when empty, so a
    # clean run is distinguishable from a run that never validated); valid
    # rows flow on.
    dead, transcripts = split_rejects(transcripts)
    if not (resume and store.committed("dead_letter", fp)):
        store.write_table(dead, "dead_letter", fp)

    # stage 1: parse + mine -> turns_parsed, templates
    if not (resume and store.committed("turns_parsed", fp) and store.committed("templates", fp)):
        parsed = parse(transcripts)
        t0 = time.time()
        assigned, templates = mine(parsed, cfg)
        mine_s = round(time.time() - t0, 3)
        store.write_table(assigned, "turns_parsed", fp)
        # the catalog size comes from the committed snapshot's footers, not
        # from a Spark job over the templates table
        n_templates = store.write_table(templates, "templates", fp)["rows"]
        store.record(
            {
                "stage": "mine_catalog", "fingerprint": fp, "run_id": "-",
                "rows": n_templates, "partitions": {},
                "wall_s": mine_s, "status": "computed", "ts": time.time(),
            }
        )
    turns_parsed = store.read_table(spark, "turns_parsed")
    templates = store.read_table(spark, "templates")

    # stage 2: enrich + route -> routed (ONE partitioned fanout write)
    if not (resume and store.committed("routed", fp)):
        routed = route(
            enrich(turns_parsed.drop(*ROUTED_DROP_COLS), tool_lookup, role_lookup), cfg
        )
        store.write_table(routed, "routed", fp, partition_by=["template_class", "anomaly_flag"])
    routed = store.read_table(spark, "routed")

    # stage 3: aggregates
    if not (resume and store.committed("agg_template_tool", fp)):
        store.write_table(aggregate(routed), "agg_template_tool", fp)
    if not (resume and store.committed("sink_counts", fp)):
        store.write_table(sink_counts(routed), "sink_counts", fp)

    return {
        "dead_letter": store.read_table(spark, "dead_letter"),
        "turns_parsed": turns_parsed,
        "templates": templates,
        "routed": routed,
        "agg_template_tool": store.read_table(spark, "agg_template_tool"),
        "sink_counts": store.read_table(spark, "sink_counts"),
    }
