"""Structured Streaming: file-source micro-batch parse+assign, resumable
via checkpoint; streamed assignment equals the batch run."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from log_analysis_ai_spark.config import PipelineConfig
from log_analysis_ai_spark.fixtures import gen_transcripts
from log_analysis_ai_spark.operators.drain import mine_catalog, with_shard_key
from log_analysis_ai_spark.streaming import stream_lines, stream_pipeline

CFG = PipelineConfig()
SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def test_stream_pipeline_matches_batch(spark, tmp_path):
    pdf = gen_transcripts(60)
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(in_dir)
    # two input files, as a tailed directory would see them
    for i, part in enumerate((pdf.iloc[:300], pdf.iloc[300:])):
        with open(f"{in_dir}/f{i}.jsonl", "w") as f:
            for _, r in part.iterrows():
                f.write(
                    json.dumps(
                        {
                            "conv_id": r.conv_id, "turn_idx": int(r.turn_idx), "role": r.role,
                            "text": r.text, "tool": r.tool, "ts": r.ts.isoformat(),
                        }
                    )
                    + "\n"
                )

    batch_df = spark.createDataFrame(pdf)
    catalogs = mine_catalog(with_shard_key(batch_df, CFG), CFG)

    q = stream_pipeline(stream_lines(spark, in_dir, SCHEMA), catalogs, out_dir, ckpt, CFG)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    assert got.count() == len(pdf)
    # streamed assignment == batch assignment (same catalog, pure pass 2)
    from log_analysis_ai_spark.operators.drain import assign_templates

    want = assign_templates(batch_df, catalogs, CFG)
    g = got.select("conv_id", "turn_idx", "template_id").orderBy("conv_id", "turn_idx").collect()
    w = want.select("conv_id", "turn_idx", "template_id").orderBy("conv_id", "turn_idx").collect()
    assert g == w
    # restart with the same checkpoint: no new rows (exactly-once resume)
    q2 = stream_pipeline(stream_lines(spark, in_dir, SCHEMA), catalogs, out_dir, ckpt, CFG)
    q2.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == len(pdf)
    # simulate a batch RETRY: a fresh checkpoint replays the same input with
    # the same batch ids into the same sink — the dynamic-partition-overwrite
    # write must REPLACE each _batch_id partition, not duplicate it
    q3 = stream_pipeline(
        stream_lines(spark, in_dir, SCHEMA), catalogs, out_dir, str(tmp_path / "ck_retry"), CFG
    )
    q3.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == len(pdf)


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_online_miner_mines_unseen_shapes_across_batches(spark, tmp_path):
    """A template shape absent from the offline seed catalog must get MINED
    online (merged <*> cluster carried in state across micro-batches), not
    per-line fallback-assigned — the reference's online behavior
    (src/drain_parser.cpp:187-207)."""
    from log_analysis_ai_spark.streaming import stream_pipeline_online

    pdf = gen_transcripts(20)
    seed = mine_catalog(with_shard_key(spark.createDataFrame(pdf), CFG), CFG)
    base_ts = pdf.ts.iloc[0].isoformat()
    # non-numeric param PAST the depth-4 prefix (a differing token inside the
    # prefix would route to different Drain leaves — correct behavior, but
    # not what this test exercises): fallback would leave each line literal;
    # online mining merges them to 'deploy the rocket payload <*> now'
    rocket = lambda w, i: {  # noqa: E731
        "conv_id": f"rkt-{i}", "turn_idx": 0, "role": "user",
        "text": f"deploy the rocket payload {w} now", "tool": "none", "ts": base_ts,
    }
    in_dir, out_dir, ckpt = str(tmp_path / "in3"), str(tmp_path / "out3"), str(tmp_path / "ck3")
    os.makedirs(in_dir)
    _write_jsonl(f"{in_dir}/f0.jsonl", [rocket("alpha", 0)])
    _write_jsonl(f"{in_dir}/f1.jsonl", [rocket("beta", 1), rocket("gamma", 2)])
    q = stream_pipeline_online(
        stream_lines(spark, in_dir, SCHEMA, max_files_per_trigger=1),
        out_dir, ckpt, CFG, seed_catalogs=seed,
    )
    q.awaitTermination(120)
    got = {r.conv_id: r.template_str for r in spark.read.parquet(out_dir).collect()}
    # arrival-time: first line creates a literal cluster
    assert got["rkt-0"] == "deploy the rocket payload alpha now"
    # later lines merge into the state-carried cluster — cross-batch mining
    assert got["rkt-1"] == "deploy the rocket payload <*> now"
    assert got["rkt-2"] == "deploy the rocket payload <*> now"


def test_online_miner_emits_params_like_batch_assign(spark, tmp_path):
    """ONLINE_OUT_SCHEMA carries the params map (batch-assign parity):
    wildcard-position tokens keyed param_<token idx>, at arrival time."""
    from log_analysis_ai_spark.streaming import stream_pipeline_online

    pdf = gen_transcripts(10)
    base_ts = pdf.ts.iloc[0].isoformat()
    in_dir, out_dir, ckpt = str(tmp_path / "in5"), str(tmp_path / "out5"), str(tmp_path / "ck5")
    os.makedirs(in_dir)
    _write_jsonl(
        f"{in_dir}/f0.jsonl",
        [
            {"conv_id": "p-0", "turn_idx": 0, "role": "user",
             "text": "User 42 logged in", "tool": "none", "ts": base_ts},
            {"conv_id": "p-1", "turn_idx": 0, "role": "user",
             "text": "User 77 logged in", "tool": "none", "ts": base_ts},
        ],
    )
    q = stream_pipeline_online(stream_lines(spark, in_dir, SCHEMA), out_dir, ckpt, CFG)
    q.awaitTermination(120)
    got = {r.conv_id: (r.template_str, dict(r.params)) for r in spark.read.parquet(out_dir).collect()}
    # numeric token pre-masks on cluster creation -> params from line 1
    assert got["p-0"] == ("User <*> logged in", {"param_1": "42"})
    assert got["p-1"] == ("User <*> logged in", {"param_1": "77"})


def test_online_miner_salted_state_distributes_hot_shard(spark, tmp_path):
    """salt_state=True: one dominant template shape must spread across >1
    state group (the streaming analog of the batch miner's salting) while
    still mining the merged template within each group."""
    from log_analysis_ai_spark.streaming import stream_pipeline_online

    base_ts = gen_transcripts(2).ts.iloc[0].isoformat()
    rows = [
        {"conv_id": f"hot-{i:04d}", "turn_idx": 0, "role": "user",
         "text": f"deploy the rocket payload stage{i} now", "tool": "none", "ts": base_ts}
        for i in range(200)
    ]
    in_dir, out_dir, ckpt = str(tmp_path / "in6"), str(tmp_path / "out6"), str(tmp_path / "ck6")
    os.makedirs(in_dir)
    _write_jsonl(f"{in_dir}/f0.jsonl", rows)
    q = stream_pipeline_online(
        stream_lines(spark, in_dir, SCHEMA), out_dir, ckpt, CFG, salt_state=True
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 200
    salts = [r.salt for r in got.select("salt").distinct().collect()]
    assert len(salts) > 1  # the hot shard is NOT funneled through one state task
    # within every salt group, later arrivals merged into the <*> cluster
    merged = got.filter(F.col("template_str") == "deploy the rocket payload <*> now")
    assert merged.count() >= 200 - len(salts)  # at most one literal first-arrival per salt


def test_online_miner_equals_sequential_draintree(spark, tmp_path):
    """Arrival-time online assignment over one micro-batch must equal a
    sequential DrainTree run over the same lines in the same canonical
    order (per-shard state == the tree's leaf miners)."""
    from log_analysis_ai_spark import drain_core as dc
    from log_analysis_ai_spark.streaming import stream_pipeline_online

    pdf = gen_transcripts(30).sort_values(["conv_id", "turn_idx"], kind="mergesort")
    in_dir, out_dir, ckpt = str(tmp_path / "in4"), str(tmp_path / "out4"), str(tmp_path / "ck4")
    os.makedirs(in_dir)
    _write_jsonl(
        f"{in_dir}/all.jsonl",
        [
            {
                "conv_id": r.conv_id, "turn_idx": int(r.turn_idx), "role": r.role,
                "text": r.text, "tool": r.tool, "ts": r.ts.isoformat(),
            }
            for _, r in pdf.iterrows()
        ],
    )
    q = stream_pipeline_online(stream_lines(spark, in_dir, SCHEMA), out_dir, ckpt, CFG)
    q.awaitTermination(120)
    got = {
        (r.conv_id, r.turn_idx): r.template_str
        for r in spark.read.parquet(out_dir).collect()
    }
    tree = dc.DrainTree(CFG.depth, CFG.sim_threshold)
    want = {
        (r.conv_id, int(r.turn_idx)): tree.add_line(r.text) for _, r in pdf.iterrows()
    }
    assert len(got) == len(want)
    assert got == want


def test_windowed_template_counts_stream(spark, tmp_path):
    from log_analysis_ai_spark.streaming import windowed_template_counts

    pdf = gen_transcripts(40)
    in_dir, ckpt = str(tmp_path / "in2"), str(tmp_path / "ck2")
    os.makedirs(in_dir)
    with open(f"{in_dir}/all.jsonl", "w") as f:
        for _, r in pdf.iterrows():
            f.write(
                json.dumps(
                    {
                        "conv_id": r.conv_id, "turn_idx": int(r.turn_idx), "role": r.role,
                        "text": r.text, "tool": r.tool, "ts": r.ts.isoformat(),
                    }
                )
                + "\n"
            )
    stream = stream_lines(spark, in_dir, SCHEMA).withColumn(
        "template_id", F.xxhash64("text")  # stand-in assignment for the agg test
    )
    counts = windowed_template_counts(stream)
    q = (
        counts.writeStream.format("memory")
        .queryName("wtc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = spark.sql("select sum(n) as s from wtc").collect()[0].s
    assert total == len(pdf)


def test_compaction_converges_salted_catalogs_to_unsalted(spark, tmp_path):
    """Cross-salt compaction (stop -> read_online_state ->
    compact_salted_catalogs -> restart with seeds): salted sub-shard
    catalogs that diverged -- each salt saw a different variant of one
    shard's lines -- must compact to EXACTLY the unsalted run's catalog,
    and a reseeded restart must assign the merged template in every salt."""
    from log_analysis_ai_spark.hashing import xxh64
    from log_analysis_ai_spark.streaming import stream_pipeline_online
    from log_analysis_ai_spark.streaming.stream import (
        compact_salted_catalogs,
        read_online_state,
    )

    base_ts = gen_transcripts(2).ts.iloc[0].isoformat()
    # conv ids bucketed by the engine's own salt fn; the variant follows the
    # salt's parity so each salted state group sees ONE variant only --
    # catalogs provably diverge per salt, while an unsalted run (all lines,
    # one group) merges them to 'task run step go <*>'
    rows = []
    for i in range(120):
        cid = f"cv-{i:04d}"
        salt = xxh64(cid) % CFG.salt_buckets
        variant = "alpha" if salt % 2 == 0 else "beta"
        rows.append({"conv_id": cid, "turn_idx": 0, "role": "user",
                     "text": f"task run step go {variant}", "tool": "none", "ts": base_ts})
    in1 = str(tmp_path / "cin1"); os.makedirs(in1)
    _write_jsonl(f"{in1}/f0.jsonl", rows)

    # phase 1: salted run -> divergent per-salt catalogs
    out1, ck1 = str(tmp_path / "cout1"), str(tmp_path / "cck1")
    q = stream_pipeline_online(stream_lines(spark, in1, SCHEMA), out1, ck1, CFG, salt_state=True)
    q.awaitTermination(120)
    state = read_online_state(spark, ck1)
    assert len(state) > 1  # the hot shard is split across salts
    assert {t for cat in state.values() for t in cat} == {
        "task run step go alpha", "task run step go beta"
    }

    # unsalted reference over the same input
    out_u, ck_u = str(tmp_path / "coutu"), str(tmp_path / "ccku")
    qu = stream_pipeline_online(stream_lines(spark, in1, SCHEMA), out_u, ck_u, CFG)
    qu.awaitTermination(120)
    unsalted = read_online_state(spark, ck_u)
    unsalted_catalog = {sk: sorted(" ".join(t) if isinstance(t, list) else t for t in cat)
                        for (sk, _), cat in unsalted.items()}

    # compaction merges the divergent forms with the Drain rule
    merged = compact_salted_catalogs(state, CFG)
    merged_str = {sk: sorted(" ".join(t) for t in cats) for sk, cats in merged.items()}
    assert merged_str == unsalted_catalog == {
        "5|task run step go": ["task run step go <*>"]
    }

    # phase 2: restart salted with the merged seeds on fresh data -- every
    # salt now assigns the merged template from the first arrival
    rows2 = [{"conv_id": f"nw-{i:04d}", "turn_idx": 0, "role": "user",
              "text": f"task run step go gamma{i}", "tool": "none", "ts": base_ts}
             for i in range(60)]
    in2 = str(tmp_path / "cin2"); os.makedirs(in2)
    _write_jsonl(f"{in2}/f0.jsonl", rows2)
    out2, ck2 = str(tmp_path / "cout2"), str(tmp_path / "cck2")
    q2 = stream_pipeline_online(
        stream_lines(spark, in2, SCHEMA), out2, ck2, CFG,
        seed_catalogs=merged, salt_state=True,
    )
    q2.awaitTermination(120)
    got = spark.read.parquet(out2)
    assert got.count() == 60
    assert {r.template_str for r in got.select("template_str").distinct().collect()} == {
        "task run step go <*>"
    }
    assert len({r.salt for r in got.select("salt").distinct().collect()}) > 1


def test_online_schema_version_gate(spark, tmp_path):
    """Resuming an online-miner checkpoint (or appending to its sink)
    written under a DIFFERENT state schema must raise the friendly
    up-front error, not die in state deserialization; pre-versioning
    directories are refused with recovery instructions."""
    import pytest

    from log_analysis_ai_spark.streaming import stream_pipeline_online
    from log_analysis_ai_spark.streaming.stream import _online_schema_version

    base_ts = gen_transcripts(2).ts.iloc[0].isoformat()
    rows = [{"conv_id": f"sv-{i}", "turn_idx": 0, "role": "user",
             "text": f"metric probe value {i}", "tool": "none", "ts": base_ts}
            for i in range(10)]
    in_dir = str(tmp_path / "svin"); os.makedirs(in_dir)
    _write_jsonl(f"{in_dir}/f0.jsonl", rows)
    out_dir, ckpt = str(tmp_path / "svout"), str(tmp_path / "svck")

    q = stream_pipeline_online(stream_lines(spark, in_dir, SCHEMA), out_dir, ckpt, CFG)
    q.awaitTermination(120)
    ver = _online_schema_version()
    with open(f"{ckpt}/_engine_schema_version") as f:
        assert f.read().strip() == ver

    # same version resumes cleanly (availableNow over already-seen files -> no-op)
    q2 = stream_pipeline_online(stream_lines(spark, in_dir, SCHEMA), out_dir, ckpt, CFG)
    q2.awaitTermination(120)

    # simulated upgrade: the old checkpoint carries a different version
    with open(f"{ckpt}/_engine_schema_version", "w") as f:
        f.write("feedfacecafebeef\n")
    with pytest.raises(RuntimeError, match="state-schema version .* cannot migrate"):
        stream_pipeline_online(stream_lines(spark, in_dir, SCHEMA), out_dir, ckpt, CFG)

    # pre-versioning checkpoint (contents, no marker) is refused with recovery help
    legacy = str(tmp_path / "legacy_ck"); os.makedirs(legacy)
    with open(f"{legacy}/metadata", "w") as f:
        f.write("{}")
    with pytest.raises(RuntimeError, match="predates state-schema versioning"):
        stream_pipeline_online(stream_lines(spark, in_dir, SCHEMA),
                               str(tmp_path / "svout2"), legacy, CFG)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """At-least-once input (the same (conv_id, turn_idx) keys redelivered
    in a later file) must reach the sink exactly once; state stays bounded
    by the watermark horizon (dropDuplicatesWithinWatermark)."""
    from log_analysis_ai_spark.streaming.stream import stream_dedup

    base_ts = gen_transcripts(2).ts.iloc[0]
    rows = [{"conv_id": f"dd-{i:03d}", "turn_idx": 0, "role": "user",
             "text": f"payload number {i}", "tool": "none",
             "ts": (base_ts + __import__("pandas").Timedelta(seconds=i)).isoformat()}
            for i in range(30)]
    in_dir = str(tmp_path / "ddin"); os.makedirs(in_dir)
    _write_jsonl(f"{in_dir}/f0.jsonl", rows)
    _write_jsonl(f"{in_dir}/f1.jsonl", rows[:20])   # redelivery of 20 keys
    _write_jsonl(f"{in_dir}/f2.jsonl", rows[10:])   # and another overlap
    out_dir, ckpt = str(tmp_path / "ddout"), str(tmp_path / "ddck")

    stream = stream_lines(spark, in_dir, SCHEMA, max_files_per_trigger=1)
    deduped = stream_dedup(stream, ["conv_id", "turn_idx"], watermark="10 minutes")
    q = (deduped.writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).groupBy("conv_id", "turn_idx").count().collect()
    assert len(got) == 30
    assert all(r["count"] == 1 for r in got)


def test_stream_pipeline_dead_letter_routing(spark, tmp_path):
    """Streaming mirror of the batch stage-0 contract: planted malformed
    rows (null text / null ts) land in the dead-letter sink with reasons;
    valid rows are assigned; totals reconcile."""
    from log_analysis_ai_spark.operators.drain import mine_catalog, with_shard_key
    from log_analysis_ai_spark.streaming import stream_lines, stream_pipeline

    pdf = gen_transcripts(20)
    rows = []
    for i, (_, r) in enumerate(pdf.iterrows()):
        rows.append({
            "conv_id": r.conv_id, "turn_idx": int(r.turn_idx), "role": r.role,
            "text": None if i % 11 == 0 else r.text, "tool": r.tool,
            "ts": None if i % 13 == 0 and i % 11 != 0 else r.ts.isoformat(),
        })
    n_bad = sum(1 for r in rows if r["text"] is None or r["ts"] is None)
    in_dir = str(tmp_path / "dlsin"); os.makedirs(in_dir)
    _write_jsonl(f"{in_dir}/f0.jsonl", rows)

    clean = spark.createDataFrame(pdf)
    cats = mine_catalog(with_shard_key(clean, CFG), CFG)
    out_dir, dl_dir, ckpt = str(tmp_path / "dlsout"), str(tmp_path / "dlsdl"), str(tmp_path / "dlsck")
    q = stream_pipeline(
        stream_lines(spark, in_dir, SCHEMA), cats, out_dir, ckpt, CFG,
        dead_letter_path=dl_dir,
    )
    q.awaitTermination(120)
    dead = spark.read.parquet(dl_dir)
    assert dead.count() == n_bad > 0
    reasons = {r.reject_reason for r in dead.select("reject_reason").distinct().collect()}
    assert reasons == {"null_text", "null_ts"}
    assigned = spark.read.parquet(out_dir)
    assert assigned.count() == len(rows) - n_bad
    assert assigned.filter(F.col("template_id").isNull()).count() == 0


def test_compact_and_restart_generation_loop(spark, tmp_path):
    """The one-call operational loop across TWO restarts: gen 0 starts
    unseeded and diverges per salt, gen 1 must start seeded with the
    cross-salt-compacted catalog (new data assigns the merged template in
    every salt from first arrival), gen 2 carries the catalog forward again;
    all generations read back as ONE partitioned table with a `gen` column."""
    from log_analysis_ai_spark.hashing import xxh64
    from log_analysis_ai_spark.streaming import compact_and_restart

    base_ts = gen_transcripts(2).ts.iloc[0].isoformat()
    base_out, base_ck = str(tmp_path / "gout"), str(tmp_path / "gck")

    # gen 0 input: variant follows the salt's parity so per-salt catalogs
    # provably diverge (same construction as the compaction unit test)
    rows0 = []
    for i in range(120):
        cid = f"cv-{i:04d}"
        variant = "alpha" if (xxh64(cid) % CFG.salt_buckets) % 2 == 0 else "beta"
        rows0.append({"conv_id": cid, "turn_idx": 0, "role": "user",
                      "text": f"task run step go {variant}", "tool": "none", "ts": base_ts})
    in0 = str(tmp_path / "gin0"); os.makedirs(in0)
    _write_jsonl(f"{in0}/f0.jsonl", rows0)
    q0, gen0, seeds0 = compact_and_restart(
        spark, stream_lines(spark, in0, SCHEMA), base_ck, base_out, CFG)
    q0.awaitTermination(120)
    assert gen0 == 0 and seeds0 is None

    # restart 1: fresh input, seeds must be the compacted merged template
    rows1 = [{"conv_id": f"nw-{i:04d}", "turn_idx": 0, "role": "user",
              "text": f"task run step go gamma{i}", "tool": "none", "ts": base_ts}
             for i in range(60)]
    in1 = str(tmp_path / "gin1"); os.makedirs(in1)
    _write_jsonl(f"{in1}/f0.jsonl", rows1)
    q1, gen1, seeds1 = compact_and_restart(
        spark, stream_lines(spark, in1, SCHEMA), base_ck, base_out, CFG)
    q1.awaitTermination(120)
    assert gen1 == 1
    assert {" ".join(t) for cats in seeds1.values() for t in cats} == {"task run step go <*>"}
    g1 = spark.read.parquet(f"{base_out}/gen=1")
    assert g1.count() == 60
    assert {r.template_str for r in g1.select("template_str").distinct().collect()} == {
        "task run step go <*>"}
    assert len({r.salt for r in g1.select("salt").distinct().collect()}) > 1

    # restart 2: catalog carries forward through another compaction
    rows2 = [{"conv_id": f"zz-{i:04d}", "turn_idx": 0, "role": "user",
              "text": f"task run step go delta{i}", "tool": "none", "ts": base_ts}
             for i in range(40)]
    in2 = str(tmp_path / "gin2"); os.makedirs(in2)
    _write_jsonl(f"{in2}/f0.jsonl", rows2)
    q2, gen2, seeds2 = compact_and_restart(
        spark, stream_lines(spark, in2, SCHEMA), base_ck, base_out, CFG)
    q2.awaitTermination(120)
    assert gen2 == 2
    assert {" ".join(t) for cats in seeds2.values() for t in cats} == {"task run step go <*>"}

    # union read: one table, `gen` partition column, all rows present
    allg = spark.read.parquet(base_out)
    assert {r.gen for r in allg.select("gen").distinct().collect()} == {0, 1, 2}
    assert allg.count() == 120 + 60 + 40


@pytest.fixture()
def index_table(spark):
    """A managed-table name of this run only, dropped at teardown even when
    the test fails: a fixed name left behind by an interrupted run would be
    appended to by the next one."""
    name = f"t_stream_minhash_idx_{uuid.uuid4().hex[:12]}"
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_stream_incremental_dedup_across_batches_and_retry(spark, tmp_path, index_table):
    """Streaming corpus dedup against the growing persisted index:
    batch 1 dedupes within itself; batch 2 (a separate availableNow run
    over a new file) drops its clone-of-batch-1 doc and keeps novel docs;
    replaying a batch with the same batch_id (the foreachBatch retry
    contract) reproduces the identical kept set even though the failed
    attempt already appended signatures to the index."""
    import json as _json

    from log_analysis_ai_spark.streaming.stream import (
        incremental_dedup_batch,
        stream_incremental_dedup,
    )

    base = "The quick brown fox jumps over the lazy dog near the river bank today"
    d1 = [
        (1, base),
        (2, base + " extra"),          # near-dup of 1 within batch 1
        (3, "completely different text about spark structured streaming state"),
    ]
    d2 = [
        (10, base),                    # exact clone of corpus doc 1
        (11, "a genuinely novel document mentioning bucketed minhash indexes"),
    ]
    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    out_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")
    idx = index_table

    def write_file(name, rows):
        with open(f"{in_dir}/{name}", "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    def run():
        src = (
            spark.readStream.schema("doc_id long, text string")
            .json(in_dir)
        )
        q = stream_incremental_dedup(
            src, idx, out_dir, ckpt, threshold=0.8, shingle_n=3
        )
        q.awaitTermination(120)

    write_file("b1.jsonl", d1)
    run()
    kept1 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert kept1 == {1, 3}  # 2 lost within-batch to 1

    write_file("b2.jsonl", d2)
    run()
    kept2 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert kept2 == {1, 3, 11}  # 10 matched the index; 11 novel
    assert spark.table(idx).select("_id").distinct().count() == 3

    # retry contract: replay batch 1's data under its original batch_id —
    # the kept partition is REPLACED (not duplicated) and decisions are
    # unchanged even though the index now holds later batches' signatures
    # plus whatever the "failed attempt" appended.
    replay = spark.createDataFrame(d1, "doc_id long, text string")
    incremental_dedup_batch(
        spark, replay, 0, idx, out_dir, threshold=0.8, shingle_n=3
    )
    kept_after = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert kept_after == {1, 3, 11}
    # duplicate signatures exist (at-least-once index) yet change nothing:
    # a fresh batch cloning doc 3 is still matched exactly once per corpus doc
    probe = spark.createDataFrame(
        [(20, "completely different text about spark structured streaming state")],
        "doc_id long, text string",
    )
    incremental_dedup_batch(
        spark, probe, 9, idx, out_dir, threshold=0.8, shingle_n=3
    )
    kept_final = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert kept_final == {1, 3, 11}  # 20 dropped as a dup of 3

    # offline compaction removes the duplicate signature rows the retry
    # appended, keeps the bucketed layout (zero-Exchange probes), and
    # changes no probe decision
    from log_analysis_ai_spark.operators.dedup import compact_minhash_index

    total = spark.table(idx).count()
    distinct_rows = spark.table(idx).distinct().count()
    assert total > distinct_rows  # the replay really did duplicate rows
    removed = compact_minhash_index(spark, idx, n_buckets=64)
    assert removed == total - distinct_rows
    assert spark.table(idx).count() == distinct_rows
    desc = spark.sql(f"DESCRIBE EXTENDED {idx}").collect()
    assert any("band" in str(r) and "Bucket" in str(r.col_name) for r in desc) or any(
        "Num Buckets" in str(r.col_name) for r in desc
    )
    probe2 = spark.createDataFrame(
        [(30, "completely different text about spark structured streaming state")],
        "doc_id long, text string",
    )
    incremental_dedup_batch(
        spark, probe2, 10, idx, out_dir, threshold=0.8, shingle_n=3
    )
    assert {r.doc_id for r in spark.read.parquet(out_dir).collect()} == {1, 3, 11}


def test_stream_curate_rows_reasons_and_idempotency(spark, tmp_path):
    """Streaming curation: per-batch row-local reasons with the audit
    totality contract (every row in the sink exactly once, 'kept' for
    survivors); a second availableNow run over a NEW file adds only the
    new batch; corpus-stage configs fail fast."""
    import json as _json

    import pytest as _pytest

    from log_analysis_ai_spark.curate import CurationConfig
    from log_analysis_ai_spark.streaming.stream import stream_curate

    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    out_dir = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ck")
    en = ("the cat sat on the mat and then the dog ran to the park with a "
          "ball while the sun was high")
    b1 = [(0, en), (1, "le chat est sur le tapis et le chien dans le jardin"),
          (2, None)]
    b2 = [(3, en + " again"), (4, "??!!..~~//||@@##====!!!!")]

    def write_file(name, rows):
        with open(f"{in_dir}/{name}", "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    cfg = CurationConfig(exact_dedup=False)

    def run():
        src = spark.readStream.schema("doc_id long, text string").json(in_dir)
        stream_curate(src, out_dir, ckpt, cfg).awaitTermination(120)

    write_file("b1.jsonl", b1)
    run()
    got1 = {r.doc_id: r.reason for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {0: "kept", 1: "lang", 2: "null_text"}

    write_file("b2.jsonl", b2)
    run()
    got2 = {r.doc_id: r.reason for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {0: "kept", 1: "lang", 2: "null_text", 3: "kept", 4: "lang"}
    # totality: one row per input, batch partitions disjoint
    assert spark.read.parquet(out_dir).count() == 5

    with _pytest.raises(ValueError, match="stream_curate runs row-local"):
        src = spark.readStream.schema("doc_id long, text string").json(in_dir)
        stream_curate(src, out_dir, ckpt, CurationConfig())
