"""Driver-contract smoke + physical-plan shape assertions.

The plan tests pin the performance-critical properties the engine relies on
at 100 TB: filters reach the parquet scan, small dims broadcast, top-k
compiles to TakeOrderedAndProject (no full sort), and no row-at-a-time
Python (BatchEvalPython) appears anywhere — Python is Arrow-vectorized only.
"""

from __future__ import annotations

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_entry_contract(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"template_id", "template_str", "count"} <= set(df.columns)


def test_queries_oracle_key_consistency():
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(os_) <= set(qs)  # every oracle has a query
    assert len(os_) >= 20  # broad oracled coverage


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(entry.queries()["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_joins_are_broadcast(spark):
    plan = _plan(entry.queries()["q5_region_supplier_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    plan3 = _plan(entry.queries()["q3_top_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan3


def test_topk_compiles_to_take_ordered(spark):
    plan = _plan(entry.queries()["top_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def _enriched(t):
    """enrich(mine(parse(t))) as a lazy plan, slimmed the way run_checkpointed
    slims it before route()."""
    from log_analysis_ai_spark.config import PipelineConfig
    from log_analysis_ai_spark.fixtures import gen_role_lookup, gen_tool_lookup
    from log_analysis_ai_spark.pipeline import ROUTED_DROP_COLS, enrich, mine, parse

    lookup = t.sparkSession.createDataFrame
    assigned, _ = mine(parse(t), PipelineConfig())
    tool_l, role_l = lookup(gen_tool_lookup()), lookup(gen_role_lookup())
    return enrich(assigned.drop(*ROUTED_DROP_COLS), tool_l, role_l)


def test_no_row_at_a_time_python_udf_anywhere(spark):
    """BatchEvalPython = per-row Python serde; the engine must only ever use
    Arrow evals (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas)."""
    from log_analysis_ai_spark.config import PipelineConfig
    from log_analysis_ai_spark.fixtures import gen_transcripts
    from log_analysis_ai_spark.pipeline import aggregate, route

    routed = route(_enriched(spark.createDataFrame(gen_transcripts(30))), PipelineConfig())
    for df in (routed, aggregate(routed)):
        assert "BatchEvalPython" not in _plan(df)


def test_zscore_group_stats_broadcast_no_window(spark):
    """zscore_by_group must be agg + broadcast-join back, never a window over
    the (low-cardinality) group key — a window funnels the whole fact table
    through #groups tasks at scale (VERDICT r1, item 3)."""
    plan = _plan(entry.queries()["events_zscore"](spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_media_features_rows_are_scalar(spark):
    """The driver canonicalizer hashes cell values — no array cells allowed."""
    df = entry.queries()["media_features"](spark, SF)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "string", "int", "double",
    ]
    assert df.count() == 48 * 16  # one row per (media, dim)


def test_scan_prunes_columns(spark):
    """A 2-column projection must not read the full lineitem schema."""
    df = entry.queries()["top_orders"](spark, SF)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "o_orderpriority" not in read_schema  # unused column pruned


def _formatted(spark, df) -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(jmode)


def test_mine_pass1_single_fact_exchange(spark):
    """Pass 1 (VERDICT r3 next-round #7): the only FACT-scale exchange is
    the explicit repartition on (shard_key, salt); the second exchange is
    the catalog-scale cross-salt template dedup AFTER MapInPandas."""
    from log_analysis_ai_spark.config import PipelineConfig
    from log_analysis_ai_spark.fixtures import materialize_transcripts
    from log_analysis_ai_spark.operators.drain import mined_templates_df, with_shard_key

    t = spark.read.parquet(materialize_transcripts(60))
    keyed = with_shard_key(t, PipelineConfig(salt_buckets=2))
    plan = _plan(mined_templates_df(keyed, PipelineConfig(salt_buckets=2)))
    assert plan.count("Exchange hashpartitioning") == 2
    fact = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning(shard_key" in l and "salt" in l
    ]
    assert len(fact) == 1 and "REPARTITION_BY_NUM" in fact[0]


def test_assign_pass2_no_exchange(spark):
    """Pass 2 must run over the input partitioning: mapInPandas + JVM param
    map assembly, ZERO exchanges (the broadcast catalog is the only data
    movement, and it is driver->executor, not a shuffle)."""
    from log_analysis_ai_spark.config import PipelineConfig
    from log_analysis_ai_spark.fixtures import materialize_transcripts
    from log_analysis_ai_spark.operators.drain import (
        assign_templates,
        mine_catalog,
        with_shard_key,
    )

    cfg = PipelineConfig(salt_buckets=2)
    t = spark.read.parquet(materialize_transcripts(60))
    assigned = assign_templates(t, mine_catalog(with_shard_key(t, cfg), cfg), cfg)
    assert "Exchange" not in _plan(assigned)


def test_assign_plain_frame_matches_oracle(spark, lookups_pdf):
    """Pass 2 keys each row of the plain frame (no shard_key column) itself:
    per-turn template_id/template_str/params equal the pandas oracle on
    fixture turns plus NULL, empty, numeric-only, leading-noise, noise-only
    and double-space text."""
    import pandas as pd

    from log_analysis_ai_spark.config import PipelineConfig
    from log_analysis_ai_spark.fixtures import gen_transcripts
    from log_analysis_ai_spark.operators.drain import assign_templates, mine_catalog, with_shard_key
    from log_analysis_ai_spark.oracle import run_oracle

    pdf = gen_transcripts(40)
    edge = [None, "", "12345", "3.5 -7 +2", "2024-01-01T10:00:00 cache miss for key 7",
            "2024-01-01T10:00:00", "cache  miss for key 7", "  lead space 9"]
    edge_ids = [f"edge{i}" for i in range(len(edge))]
    pdf = pd.concat([pdf, pdf.iloc[: len(edge)].assign(conv_id=edge_ids, text=edge)])
    cfg, plain = PipelineConfig(), spark.createDataFrame(pdf)
    got = assign_templates(plain, mine_catalog(with_shard_key(plain, cfg), cfg), cfg)
    want = run_oracle(pdf, *lookups_pdf, cfg).turns_parsed
    cols = ["conv_id", "turn_idx", "template_id", "template_str", "params"]

    def per_turn(rows):
        return {(c, t): (i, s, dict(p)) for c, t, i, s, p in rows}

    assert per_turn(got.select(*cols).collect()) == per_turn(want[cols].itertuples(index=False))


def test_route_is_lazy_broadcast_with_reused_count_exchange(spark):
    """route() builds its plan without a Spark job or a cache, joins both
    count tables back by broadcast, and once run, the global counts read the
    window-count shuffle as a ReusedExchange instead of recounting."""
    from log_analysis_ai_spark.config import PipelineConfig
    from log_analysis_ai_spark.fixtures import gen_transcripts
    from log_analysis_ai_spark.pipeline import route

    enriched = _enriched(spark.createDataFrame(gen_transcripts(60)))
    sc, group = spark.sparkContext, "route-build"
    sc.setJobGroup(group, "route")
    try:
        routed = route(enriched, PipelineConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    plan = _plan(routed)
    assert "InMemoryRelation" not in plan
    joins = [l.lstrip(" :+-").split("#")[0] for l in plan.splitlines() if "Inner" in l]
    assert joins == ["BroadcastHashJoin [template_id", "BroadcastHashJoin [window_start"]
    routed.collect()
    reused = [l for l in _plan(routed).splitlines() if "ReusedExchange" in l]
    assert any("Exchange hashpartitioning(window_start" in l for l in reused)


def test_emb_neardup_bucket_exchange_ships_no_vectors(spark):
    """The skew-exposed bucket self-join must shuffle only (_id, _bucket);
    vectors re-attach via the id joins afterwards (VERDICT r3 next-round
    #3). Checked on the formatted plan: every exchange partitioned on
    _bucket has a vector-free input."""
    from log_analysis_ai_spark.operators.similarity import near_dup_embeddings

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        nd = near_dup_embeddings(emb, threshold=0.92, dim=64)
        fmt = _formatted(spark, nd)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    lines = fmt.splitlines()
    bucket_exchanges = 0
    for i, l in enumerate(lines):
        if "Arguments: hashpartitioning(_bucket" in l.strip():
            bucket_exchanges += 1
            # the matching Input [...] line precedes the Arguments line
            inputs = [x for x in lines[max(0, i - 3): i] if x.strip().startswith("Input")]
            assert inputs and "_v#" not in inputs[-1] and "embedding" not in inputs[-1]
    assert bucket_exchanges >= 2  # both self-join sides shuffled narrow


def test_pivot_kinds_cover_fixture(spark):
    """events_pivot_user hardcodes EVENT_KINDS on both engine and oracle
    side; an unexpected kind in a future fixture must fail HERE instead of
    silently getting no column in either (ADVICE r3)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet")
    distinct = {r[0] for r in ev.select(F.col("event_type")).distinct().collect()}
    assert distinct <= set(entry.EVENT_KINDS)


def test_lsh_signature_computed_once(spark):
    """minhash/simhash/embedding near-dup plans must read the signature
    stage from ONE materialization (compute_once): both self-join sides
    scan the checkpointed RDD instead of re-running the signature
    expressions (HOF lambdas never fold into ReusedExchange — NOTES_r3)."""
    from log_analysis_ai_spark.operators.dedup import minhash_candidates, simhash_near_dups

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cand_plan = _plan(minhash_candidates(docs))
    # signature lives behind the checkpoint: no per-scan recompute nodes
    assert "ExistingRDD" in cand_plan
    assert "xxhash64" not in cand_plan  # the 64-hash signature is upstream
    sim_plan = _plan(simhash_near_dups(docs))
    assert "ExistingRDD" in sim_plan
    assert "ArrowEvalPython" not in sim_plan  # bit-fold UDF is upstream


def test_bucketed_join_has_zero_exchanges(spark, tmp_path):
    """Bucketing contract: same-bucketed tables join with ZERO exchanges
    (the ingest-time shuffle amortizes across every later join); results
    equal the plain join."""
    from pyspark.sql import functions as F

    from log_analysis_ai_spark.bucketing import bucketed_join, write_bucketed

    a = spark.range(2000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    b = spark.range(900).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
    write_bucketed(a, "bk_a", "k", n_buckets=8)
    write_bucketed(b, "bk_b", "k", n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "bk_a", "bk_b", "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0
        assert j.count() == 900
        want = {(r.k, r.v, r.w) for r in a.join(b, "k").collect()}
        assert {(r.k, r.v, r.w) for r in j.collect()} == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_ngram_jaccard_prefix_computed_once(spark):
    """ngram_jaccard_near_dups: the prefix table (df-count join + per-doc
    window — two shuffles) must be materialized ONCE and read from the
    checkpoint by both candidate self-join sides; the final plan carries
    no Window/Aggregate recompute nodes."""
    from log_analysis_ai_spark.operators.dedup import ngram_jaccard_near_dups

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(ngram_jaccard_near_dups(docs, threshold=0.7))
    assert "ExistingRDD" in plan
    assert "Window" not in plan
    assert "row_number" not in plan
