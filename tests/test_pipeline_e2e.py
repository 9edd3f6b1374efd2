"""End-to-end equality: the checkpointed Spark pipeline (run_checkpointed)
vs the pure-pandas oracle at sf-tiny (SURVEY.md §5.3). These are THE
correctness gates from BASELINE.json: per-sink count equality, routed-row-set
equality, per-turn text equality under (conv_id, turn_idx) ordering,
template-set equality."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from log_analysis_ai_spark.config import PipelineConfig
from log_analysis_ai_spark.hashing import xxh64
from log_analysis_ai_spark.job import run_checkpointed
from log_analysis_ai_spark.lineage import SinkStore
from log_analysis_ai_spark.oracle import run_oracle

CFG = PipelineConfig()


@pytest.fixture(scope="module")
def oracle(tiny_pdf, lookups_pdf):
    tool_l, role_l = lookups_pdf
    return run_oracle(tiny_pdf, tool_l, role_l, CFG)


@pytest.fixture(scope="module")
def spark_out(spark, tiny_pdf, lookups_pdf, tmp_path_factory):
    tool_l, role_l = lookups_pdf
    df = spark.createDataFrame(tiny_pdf)
    store = SinkStore(str(tmp_path_factory.mktemp("e2e_wh")))
    return run_checkpointed(
        spark, df, spark.createDataFrame(tool_l), spark.createDataFrame(role_l), store, CFG
    )


def test_xxhash64_parity_with_spark(spark):
    """Python xxh64 == Spark F.xxhash64 (both seed 42) — the contract that
    lets the oracle and the engine mint identical ids."""
    vals = ["", "a", "conv-00000042", "User <*> logged in", "x" * 100]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for v in vals:
        assert got[v] == xxh64(v), v


def test_per_sink_counts_equal(oracle, spark_out):
    got = {
        (r.template_class, r.anomaly_flag): r.n for r in spark_out["sink_counts"].collect()
    }
    want = {
        (r.template_class, r.anomaly_flag): r.n
        for r in oracle.sink_counts.itertuples(index=False)
    }
    assert got == want


def test_template_set_equal(oracle, spark_out):
    got = {(r.template_id, r.template_str, r.token_count) for r in spark_out["templates"].collect()}
    want = {
        (r.template_id, r.template_str, r.token_count)
        for r in oracle.templates.itertuples(index=False)
    }
    assert got == want


def test_per_turn_assignment_and_text_equality(oracle, spark_out):
    got = (
        spark_out["turns_parsed"]
        .select("conv_id", "turn_idx", "text", "template_id", "template_str", "level")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = oracle.turns_parsed[
        ["conv_id", "turn_idx", "text", "template_id", "template_str", "level"]
    ].reset_index(drop=True)
    assert len(got) == len(want)
    # byte-equal text under stable (conv_id, turn_idx) ordering (input_hint)
    assert got["text"].tolist() == want["text"].astype(str).tolist()
    assert got["template_id"].tolist() == want["template_id"].tolist()
    assert got["template_str"].tolist() == want["template_str"].tolist()
    assert got["level"].fillna("∅").tolist() == want["level"].fillna("∅").tolist()


def test_routed_row_set_equality(spark, oracle, spark_out):
    """Two-way exceptAll emptiness on the routed rows (SURVEY.md §2.8)."""
    cols = [
        "conv_id", "turn_idx", "template_id", "tool_class", "role_kind",
        "window_start", "rarity_score", "anomaly_flag", "template_class",
    ]
    got = spark_out["routed"].select(*cols)
    want_pdf = oracle.routed[cols].copy()
    want = spark.createDataFrame(want_pdf)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_agg_template_tool_equal(oracle, spark_out):
    got = (
        spark_out["agg_template_tool"]
        .orderBy("window_start", "template_id", "tool")
        .toPandas()
    )
    want = oracle.agg_template_tool.reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"n_turns": "int64"}), want.astype({"n_turns": "int64"}), check_dtype=False
    )


def test_params_extracted(spark_out):
    rows = (
        spark_out["turns_parsed"]
        .filter(F.col("text").rlike("^User \\d+ logged in$"))
        .select("text", "params")
        .limit(5)
        .collect()
    )
    assert rows
    for r in rows:
        uid = r.text.split(" ")[1]
        assert r.params == {"param_1": uid}


def test_connected_components_union_find_parity(spark):
    """Random-graph parity: the distributed min-label propagation must equal
    a classic python union-find on the same edges (min member id per
    component), across several seeded graphs including self-loops."""
    import random

    from log_analysis_ai_spark.operators.dedup import connected_components

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        nodes = sorted({v for e in edges for v in e})
        comp_min: dict[int, int] = {}
        for v in nodes:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        want = {v: comp_min[find(v)] for v in nodes}
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        # both physical strategies must agree with the reference union-find:
        # driver path (default threshold) AND distributed loop (threshold=0)
        got_driver = {r.node: r.label for r in connected_components(df).collect()}
        got_dist = {
            r.node: r.label
            for r in connected_components(df, driver_threshold=0).collect()
        }
        assert got_driver == want, f"seed {seed} (driver path)"
        assert got_dist == want, f"seed {seed} (distributed path)"


def test_pipeline_empty_table_and_edge_texts(spark, lookups_pdf, tmp_path):
    """Verify-skill probes: an all-empty input table is a no-op (no crash,
    zero sinks); empty text routes to <EMPTY>; double space stays two
    tokens; unicode text survives byte-equal."""
    from log_analysis_ai_spark import drain_core as dc

    tool_l, role_l = lookups_pdf
    tl, rl = spark.createDataFrame(tool_l), spark.createDataFrame(role_l)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    empty = spark.createDataFrame([], schema)
    out = run_checkpointed(spark, empty, tl, rl, SinkStore(str(tmp_path / "empty")), CFG)
    assert out["sink_counts"].count() == 0
    assert out["turns_parsed"].count() == 0
    # the routed fanout wrote no file; its committed schema still reads back
    assert out["routed"].count() == 0 and "template_class" in out["routed"].columns

    from datetime import datetime

    ts = datetime(2025, 1, 1, 10, 0, 0)
    rows = [
        ("c1", 0, "user", "", "none", ts),
        ("c1", 1, "user", "héllo wörld 42 ünïcode ok", "none", ts),
        ("c2", 0, "user", "a  b", "none", ts),
        ("c2", 1, "user", "a  b", "none", ts),
    ]
    out2 = run_checkpointed(
        spark, spark.createDataFrame(rows, schema), tl, rl, SinkStore(str(tmp_path / "edge")), CFG
    )
    got = {(r.conv_id, r.turn_idx): (r.text, r.template_str) for r in out2["turns_parsed"].collect()}
    assert got[("c1", 0)] == ("", dc.EMPTY_TEMPLATE)
    # unicode text byte-equal; the numeric token pre-masks
    assert got[("c1", 1)][0] == "héllo wörld 42 ünïcode ok"
    assert got[("c1", 1)][1] == "héllo wörld <*> ünïcode ok"
    # "a  b" is THREE tokens (a, empty, b) — folly::split semantics preserved
    assert got[("c2", 0)] == ("a  b", "a  b") and got[("c2", 1)] == ("a  b", "a  b")
