"""Checkpoint/resume idempotency (SURVEY.md §5.5) and partition/order
invariance (§5.4 — the in-process proxy for the N→4N cluster criterion;
the true local[8]-vs-local[32] run is bench.py's scaling report)."""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from log_analysis_ai_spark.config import PipelineConfig
from log_analysis_ai_spark.job import run_checkpointed
from log_analysis_ai_spark.lineage import SinkStore

CFG = PipelineConfig()


def _sink_counts(out) -> dict:
    return {(r.template_class, r.anomaly_flag): r.n for r in out["sink_counts"].collect()}


@pytest.fixture()
def frames(spark, tiny_pdf, lookups_pdf):
    tool_l, role_l = lookups_pdf
    return (
        spark.createDataFrame(tiny_pdf),
        spark.createDataFrame(tool_l),
        spark.createDataFrame(role_l),
    )


def _run(spark, t, tool_l, role_l, path, cfg=CFG) -> dict:
    return run_checkpointed(spark, t, tool_l, role_l, SinkStore(str(path)), cfg)


def test_partition_and_order_invariance(spark, frames, tmp_path):
    """Identical results when the input arrives in a different partitioning
    and a scrambled row order — the property that makes counts stable
    between N and 4N executors."""
    t, tool_l, role_l = frames
    a = _run(spark, t.repartition(2), tool_l, role_l, tmp_path / "a")
    b = _run(spark, t.orderBy(F.desc("ts")).repartition(17), tool_l, role_l, tmp_path / "b")
    assert _sink_counts(a) == _sink_counts(b)
    ta = {(r.template_id, r.template_str) for r in a["templates"].collect()}
    tb = {(r.template_id, r.template_str) for r in b["templates"].collect()}
    assert ta == tb
    ra = a["routed"].select("conv_id", "turn_idx", "template_id", "template_class", "anomaly_flag")
    rb = b["routed"].select("conv_id", "turn_idx", "template_id", "template_class", "anomaly_flag")
    assert ra.exceptAll(rb).count() == 0 and rb.exceptAll(ra).count() == 0


def test_resume_is_idempotent(spark, frames, tmp_path):
    t, tool_l, role_l = frames
    wh = str(tmp_path / "wh")
    store = SinkStore(wh)
    out1 = run_checkpointed(spark, t, tool_l, role_l, store, CFG, input_desc="tiny")
    clean = _sink_counts(out1)
    n_lineage = len(store.lineage_rows())
    # the mine_catalog row counts the committed catalog, <EMPTY> included
    (mined,) = [r for r in store.lineage_rows() if r["stage"] == "mine_catalog"]
    assert mined["rows"] == out1["templates"].count()
    assert out1["templates"].filter(F.col("template_str") == "<EMPTY>").count() == 1

    # full re-run with resume: a no-op (no new lineage rows)
    out2 = run_checkpointed(spark, t, tool_l, role_l, store, CFG, resume=True, input_desc="tiny")
    assert len(store.lineage_rows()) == n_lineage
    assert _sink_counts(out2) == clean

    # simulate a kill after stage 1: drop stage-2+ outputs, resume
    shutil.rmtree(store.table_path("routed"))
    shutil.rmtree(store.table_path("agg_template_tool"))
    shutil.rmtree(store.table_path("sink_counts"))
    out3 = run_checkpointed(spark, t, tool_l, role_l, store, CFG, resume=True, input_desc="tiny")
    assert _sink_counts(out3) == clean
    rows = store.lineage_rows()
    # stage 1 was NOT recomputed (still exactly one committed row each)
    assert sum(r["stage"] == "turns_parsed" for r in rows) == 1
    assert sum(r["stage"] == "routed" for r in rows) == 2
    # per-partition lineage: the routed fanout recorded per-sink counts
    routed_rows = [r for r in rows if r["stage"] == "routed"]
    assert all(r["partitions"] for r in routed_rows)
    assert sum(routed_rows[-1]["partitions"].values()) == sum(clean.values())

    # a manifest without a recorded schema (the layout before manifests
    # carried one) is not committed: resume recomputes that stage
    fp = routed_rows[-1]["fingerprint"]
    with open(store._current_path("routed")) as f:
        mpath = os.path.join(store._manifest_dir("routed"), json.load(f)["manifest"])
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["schema"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    assert not store.committed("routed", fp)
    out4 = run_checkpointed(spark, t, tool_l, role_l, store, CFG, resume=True, input_desc="tiny")
    assert _sink_counts(out4) == clean
    assert store.committed("routed", fp)
    assert sum(r["stage"] == "routed" for r in store.lineage_rows()) == 3
    assert sum(r["stage"] == "turns_parsed" for r in store.lineage_rows()) == 1


def _row_bag(df) -> Counter:
    return Counter(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str) for r in df.collect()
    )


def test_read_table_pins_manifest_schema(spark, frames, tmp_path):
    """Every committed table reads back through its manifest's schema: no
    Spark job (no schema inference), the written columns in written order
    with their written types, and the same rows. `routed` is partitioned on
    its own sink keys, and its boolean `anomaly_flag` reads back boolean."""
    t, tool_l, role_l = frames
    written = {}

    class CapturingStore(SinkStore):
        def write_table(self, df, name, *args, **kwargs):
            written[name] = (df.schema, _row_bag(df))
            return super().write_table(df, name, *args, **kwargs)

    run_checkpointed(spark, t, tool_l, role_l, CapturingStore(str(tmp_path)), CFG)
    assert set(written) == {
        "dead_letter", "turns_parsed", "templates", "routed", "agg_template_tool", "sink_counts"
    }
    store, sc = SinkStore(str(tmp_path)), spark.sparkContext
    for name, (schema, rows) in written.items():
        group = f"read-{name}-{tmp_path.name}"
        sc.setJobGroup(group, "read_table")
        try:
            df = store.read_table(spark, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], name
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in schema
        ], name
        assert _row_bag(df) == rows, name
    assert dict(store.read_table(spark, "routed").dtypes)["anomaly_flag"] == "boolean"


def test_snapshot_isolation_on_overwrite(spark, tmp_path):
    """Iceberg-semantic commits: a reader that resolved the table before an
    overwrite still sees its snapshot (the round-1 rmtree+rename had a window
    where the table vanished); retention keeps exactly the last 2 snapshots."""
    store = SinkStore(str(tmp_path / "wh_snap"))
    store.write_table(spark.range(10).withColumn("v", F.lit("a")), "t", "fp1")
    old_reader = store.read_table(spark, "t")  # resolves snap-000001
    store.write_table(spark.range(5).withColumn("v", F.lit("b")), "t", "fp2")
    # previous snapshot still readable by the in-flight reader
    assert old_reader.count() == 10
    assert store.read_table(spark, "t").count() == 5
    # third commit prunes snap-1; exactly 2 snapshots + manifests retained
    store.write_table(spark.range(7).withColumn("v", F.lit("c")), "t", "fp3")
    snaps = sorted(d for d in os.listdir(store.table_path("t")) if d.startswith("snap-"))
    assert len(snaps) == 2 and snaps[0].startswith("snap-000002")
    manifests = os.listdir(store._manifest_dir("t"))
    assert len(manifests) == 2
    # manifest metrics come from footers and match the data
    m = store.current_manifest("t")
    assert m["rows"] == 7 and m["fingerprint"] == "fp3" and len(m["files"]) >= 1


def test_resume_rejects_stale_fingerprint_after_interleaved_run(spark, frames, tmp_path):
    """Warehouse reused across configs: run A, run B (overwrites tables), then
    resume A — A must RECOMPUTE, not silently serve B's tables (the old
    committed() accepted any historical lineage row for the fingerprint)."""
    t, tool_l, role_l = frames
    store = SinkStore(str(tmp_path / "wh_aba"))
    cfg_a, cfg_b = CFG, PipelineConfig(anomaly_min_count=3)
    out_a = run_checkpointed(spark, t, tool_l, role_l, store, cfg_a, input_desc="tiny")
    counts_a = _sink_counts(out_a)
    out_b = run_checkpointed(spark, t, tool_l, role_l, store, cfg_b, resume=True, input_desc="tiny")
    counts_b = _sink_counts(out_b)
    assert counts_a != counts_b  # configs genuinely diverge
    out_a2 = run_checkpointed(spark, t, tool_l, role_l, store, cfg_a, resume=True, input_desc="tiny")
    assert _sink_counts(out_a2) == counts_a
    # A was recomputed (3 committed turns_parsed rows: A, B, A-again)
    assert sum(r["stage"] == "turns_parsed" for r in store.lineage_rows()) == 3


def test_config_change_invalidates_checkpoint(spark, frames, tmp_path):
    t, tool_l, role_l = frames
    store = SinkStore(str(tmp_path / "wh2"))
    run_checkpointed(spark, t, tool_l, role_l, store, CFG, input_desc="tiny")
    cfg2 = PipelineConfig(anomaly_min_count=3)
    out = run_checkpointed(spark, t, tool_l, role_l, store, cfg2, resume=True, input_desc="tiny")
    # different fingerprint -> stages recomputed (2 committed rows per stage)
    assert sum(r["stage"] == "turns_parsed" for r in store.lineage_rows()) == 2
    assert out["sink_counts"].count() > 0


def test_dead_letter_routes_malformed_rows(spark, frames, tmp_path):
    """Structurally invalid rows (null conv_id/text/ts, ≥1MB text, parser
    `_valid` flags) land in the committed dead_letter table with a reason;
    valid rows flow through untouched; a clean input commits an EMPTY
    dead_letter table (distinguishable from never-validated)."""
    t, tool_l, role_l = frames

    bad = spark.createDataFrame(
        [
            ("dl-1", 0, "user", None, "none"),                  # null text
            (None, 0, "user", "hello world", "none"),           # null conv_id
            ("dl-3", 0, "user", "x" * (1 << 20), "none"),       # 1MB text
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    bad = bad.unionByName(
        spark.createDataFrame(
            [("dl-4", 0, "user", "null ts row", "none")],
            "conv_id string, turn_idx int, role string, text string, tool string",
        ).withColumn("ts", F.lit(None).cast("timestamp"))
    )
    mixed = t.unionByName(bad.select(*t.columns))

    store = SinkStore(str(tmp_path / "wh_dl"))
    out = run_checkpointed(spark, mixed, tool_l, role_l, store, CFG, input_desc="dl")
    reasons = {r.reject_reason: r.n for r in
               out["dead_letter"].groupBy("reject_reason").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert reasons == {"null_text": 1, "null_conv_id": 1, "oversize_text": 1, "null_ts": 1}
    # dead rows never reached the miner; valid rows all did
    assert out["turns_parsed"].filter(F.col("conv_id").startswith("dl-")).count() == 0
    assert out["turns_parsed"].count() == t.count()
    # lineage committed the stage
    assert sum(r["stage"] == "dead_letter" for r in store.lineage_rows()) == 1

    # clean input → empty but COMMITTED dead_letter
    store2 = SinkStore(str(tmp_path / "wh_clean"))
    out2 = run_checkpointed(spark, t, tool_l, role_l, store2, CFG, input_desc="clean")
    assert out2["dead_letter"].count() == 0
    assert sum(r["stage"] == "dead_letter" for r in store2.lineage_rows()) == 1

    # parser-invalid rows (from parse_format's _valid) get their own reason
    flagged = t.withColumn("_valid", ~F.col("conv_id").startswith("conv-000000"))
    store3 = SinkStore(str(tmp_path / "wh_pv"))
    out3 = run_checkpointed(spark, flagged, tool_l, role_l, store3, CFG, input_desc="pv")
    dl = out3["dead_letter"]
    assert dl.filter(F.col("reject_reason") == "parser_invalid").count() == dl.count() > 0
    assert "_valid" not in dl.columns and "_valid" not in out3["turns_parsed"].columns
