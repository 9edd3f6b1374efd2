"""Event-context joins, preprocessor scalars, logical-line reassembly,
compressed + multi-file reading."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from log_analysis_ai_spark.functions.preprocess import (
    clean_text,
    collapse_whitespace,
    custom_replace,
    delimiters_to_space,
)
from log_analysis_ai_spark.operators.context import causal_window, event_context
from log_analysis_ai_spark.sources import multi_file_merge
from log_analysis_ai_spark.sources.readers import reassemble_logical_lines


def test_event_context_range_join(spark):
    rows = [
        (1, "ok", "2025-01-01 10:00:00"),
        (2, "error", "2025-01-01 10:05:00"),
        (3, "ok", "2025-01-01 10:07:00"),
        (4, "ok", "2025-01-01 10:20:00"),
        (5, "error", "2025-01-01 10:21:00"),
    ]
    df = spark.createDataFrame(rows, "event_id long, kind string, ts_s string").withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    ).drop("ts_s")
    ctx = event_context(df, F.col("kind") == "error", window_s=300)
    got = {(r.anchor_event_id, r.event_id) for r in ctx.collect()}
    # anchor 2 (10:05): rows within ±5min -> 1,2,3; anchor 5 (10:21): 4,5
    assert got == {(2, 1), (2, 2), (2, 3), (5, 4), (5, 5)}


def test_event_context_on_events_table(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ctx = event_context(ev, F.col("event_type") == "error", window_s=600)
    n_anchors = ev.filter(F.col("event_type") == "error").count()
    assert ctx.count() >= n_anchors  # every anchor sees at least itself
    # each (anchor,row) pair is within the window
    bad = ctx.filter(
        F.abs(F.unix_timestamp("ts") - F.unix_timestamp("anchor_ts")) > 600
    ).count()
    assert bad == 0


def test_causal_window(spark):
    rows = [(i, "x" if i == 7 else "y", f"2025-01-01 10:{i:02d}:00") for i in range(10)]
    df = spark.createDataFrame(rows, "event_id long, kind string, ts_s string").withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    )
    got = sorted(r.event_id for r in causal_window(df, F.col("kind") == "x", window_s=180).collect())
    assert got == [4, 5, 6, 7]  # [10:07 - 3min, 10:07]


def test_delimiters_and_collapse(spark):
    df = spark.createDataFrame([("a,b;c|d[e]{f}(g)<h>  i",)], "s string")
    got = df.select(clean_text("s").alias("c")).first().c
    assert got == "a b c d e f g h i"
    assert df.select(collapse_whitespace(F.lit("  x   y ")).alias("c")).first().c == "x y"
    assert df.select(delimiters_to_space(F.lit("a\tb")).alias("c")).first().c == "a b"


def test_custom_replace_with_capture(spark):
    df = spark.createDataFrame([("ip=10.0.0.1 user=jane",)], "s string")
    out = custom_replace(
        df, "s", [(r"\d+\.\d+\.\d+\.\d+", "<IP>"), (r"user=\w+", "user=<U>")], capture_as="terms"
    ).first()
    assert out.s == "ip=<IP> user=<U>"
    assert out.terms == ["10.0.0.1", "user=jane"]


def test_custom_preprocess_patterns_engine_and_oracle(spark):
    """User-supplied preprocess patterns REPLACE the defaults (reference:
    src/drain_parser.cpp:256-267) and flow through config to BOTH the Spark
    miner and the pandas oracle, which must still agree exactly. Patterns
    must be start-anchored (^) — the vectorized engine path matches at the
    line start."""
    import pandas as pd

    from log_analysis_ai_spark import drain_core as dc
    from log_analysis_ai_spark.config import PipelineConfig
    from log_analysis_ai_spark.operators.drain import mine_and_assign
    from log_analysis_ai_spark.oracle.pipeline import mine_catalogs

    cfg = PipelineConfig(preprocess_patterns=(r"^REQID-\d+", r"^\[[^\]]*\]"))
    rows = [
        # the varying token sits PAST the depth-4 prefix so the lines share
        # a Drain leaf and merge (a difference inside the prefix correctly
        # routes to different shards)
        ("c0", 0, "REQID-17 fetch user from cache key alpha"),
        ("c0", 1, "REQID-18 fetch user from cache key beta"),
        ("c1", 0, "[node1] fetch user from cache key gamma"),
        ("c1", 1, "2024-01-01T10:00:00 stays because iso pattern was replaced x"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"]))
    assigned, templates = mine_and_assign(df, cfg)
    got = {r.conv_id + str(r.turn_idx): r.template_str for r in assigned.collect()}
    # REQID/bracket prefixes stripped -> the three fetch lines share a shard
    # and merge; the ISO timestamp is NOT stripped (custom set replaced it)
    assert got["c00"] == "fetch user from cache key <*>"
    assert got["c01"] == "fetch user from cache key <*>"
    assert got["c10"] == "fetch user from cache key <*>"
    assert got["c11"].startswith("2024-01-01T10:00:00 stays")
    # oracle with the same cfg mines the identical catalog
    pats = dc.compile_patterns(tuple(cfg.preprocess_patterns))
    by_sub = {}
    from log_analysis_ai_spark.hashing import xxh64

    for conv, _turn, text in rows:
        sk = dc.shard_key_str(text, cfg.depth, pats)
        by_sub.setdefault((sk, xxh64(conv) % cfg.salt_buckets), []).append(text)
    want = {
        " ".join(tpl) for cat in mine_catalogs(by_sub, cfg).values() for tpl in cat
    }
    got_templates = {r.template_str for r in templates.collect()} - {dc.EMPTY_TEMPLATE}
    assert got_templates == want


def test_reassemble_logical_lines(spark, tmp_path):
    p = tmp_path / "cont.log"
    p.write_text(
        "first line \\\ncontinued here\nsecond line\n  indented continuation\nthird\n"
    )
    rows = reassemble_logical_lines(spark, str(p)).collect()
    assert [r.value for r in rows] == [
        "first line continued here",
        "second line indented continuation",
        "third",
    ]


def test_gzip_source(spark, tmp_path):
    p = tmp_path / "logs.jsonl.gz"
    recs = [{"timestamp": "2025-03-01T10:00:00", "level": "INFO", "message": f"m{i}"} for i in range(5)]
    with gzip.open(p, "wt") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
    from log_analysis_ai_spark.sources import parse_jsonl, read_lines

    df = parse_jsonl(read_lines(spark, str(p)))
    assert df.count() == 5 and df.filter("_valid").count() == 5


def test_multi_file_merge_ordered(spark, tmp_path):
    for i, hours in enumerate([(10, 12), (11, 13)]):
        with open(tmp_path / f"f{i}.jsonl", "w") as f:
            for h in hours:
                f.write(json.dumps({"timestamp": f"2025-03-01T{h}:00:00", "level": "INFO", "message": f"h{h}"}) + "\n")
    merged = multi_file_merge(spark, [str(tmp_path / "f0.jsonl"), str(tmp_path / "f1.jsonl")])
    msgs = [r.message for r in merged.collect()]
    assert msgs == ["h10", "h11", "h12", "h13"]  # k-way timestamp order


def test_asof_join_hand_case(spark):
    """Hand-built AS-OF case: latest right row with ts <= left.ts per key;
    same-instant right row visible (<=); no preceding row → NULLs;
    duplicate right (key, ts) resolved to the max value tuple
    deterministically."""
    from log_analysis_ai_spark.operators.context import asof_join

    L = spark.createDataFrame(
        [("a", 5, "l1"), ("a", 10, "l2"), ("a", 2, "l0"), ("b", 7, "l3"), ("c", 1, "l4")],
        "k string, ts long, payload string",
    )
    R = spark.createDataFrame(
        [("a", 3, 30), ("a", 10, 100), ("a", 10, 101), ("b", 7, 70), ("b", 9, 90)],
        "k string, ts long, rv int",
    )
    got = {
        (r.k, r.ts): (r.asof_ts, r.asof_rv)
        for r in asof_join(L, R, "k", ts_col="ts").collect()
    }
    assert got == {
        ("a", 5): (3, 30),
        ("a", 10): (10, 101),   # same-instant visible; dup resolved to max
        ("a", 2): (None, None),  # nothing at or before
        ("b", 7): (7, 70),       # b@9 is in the future → ignored
        ("c", 1): (None, None),  # key with no right rows at all
    }
    # partition invariance: identical result from a scrambled layout
    again = {
        (r.k, r.ts): (r.asof_ts, r.asof_rv)
        for r in asof_join(
            L.orderBy(F.desc("ts")).repartition(7), R.repartition(3), "k", ts_col="ts"
        ).collect()
    }
    assert again == got


def test_group_percentiles_exact_and_approx(spark):
    """Exact percentiles interpolate linearly (pinned against numpy);
    the approx path returns values from the column's actual domain."""
    import numpy as np

    from log_analysis_ai_spark.queries import group_percentiles

    vals = [1.0, 3.0, 4.5, 7.25, 9.0, 100.0, 2.5]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    r = group_percentiles(df, "g", "v", ps=(0.5, 0.9)).collect()[0]
    assert abs(r.p5 - np.percentile(vals, 50)) < 1e-9
    assert abs(r.p9 - np.percentile(vals, 90)) < 1e-9
    ra = group_percentiles(df, "g", "v", ps=(0.5,), exact=False).collect()[0]
    assert ra.p5 in vals  # KLL sketch returns an actual element


def test_asof_join_single_key_exchange(spark):
    """Plan pin: asof_join costs exactly ONE hash exchange (on the key) —
    the union must not introduce extra fact-scale shuffles."""
    from log_analysis_ai_spark.operators.context import asof_join

    L = spark.range(100).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("ts"), F.col("id").alias("v")
    )
    R = spark.range(50).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 2).alias("ts"), F.col("id").alias("rv")
    )
    plan = asof_join(L, R, "k", ts_col="ts")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(k#" in plan


def test_asof_join_matches_pandas_merge_asof_randomized(spark):
    """Property check on random data: asof_join must agree with pandas'
    battle-tested merge_asof (backward direction, by-key) wherever the
    right side has unique (key, ts) — 200 left rows × 3 seeds."""
    import numpy as np
    import pandas as pd

    from log_analysis_ai_spark.operators.context import asof_join

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        left = pd.DataFrame({
            "k": rng.integers(0, 6, 200).astype("int64"),
            "ts": rng.integers(0, 1000, 200).astype("int64"),
        })
        left["lid"] = np.arange(200, dtype="int64")
        right = pd.DataFrame({
            "k": rng.integers(0, 6, 80).astype("int64"),
            "ts": rng.integers(0, 1000, 80).astype("int64"),
        }).drop_duplicates(["k", "ts"]).reset_index(drop=True)
        right["rv"] = np.arange(len(right), dtype="int64") * 10

        want = pd.merge_asof(
            left.sort_values("ts", kind="mergesort"),
            right.sort_values("ts", kind="mergesort"),
            on="ts", by="k", direction="backward",
        )
        want_map = {
            int(r.lid): (None if pd.isna(r.rv) else int(r.rv)) for r in want.itertuples()
        }
        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right), "k", ts_col="ts"
        ).collect()
        got_map = {int(r.lid): (None if r.asof_rv is None else int(r.asof_rv)) for r in got}
        assert got_map == want_map
