"""Query tool surface tests (SURVEY.md §2.2/2.4/2.7 — the reference's
DuckDB tools re-expressed as DataFrame ops)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from log_analysis_ai_spark import queries as Q


@pytest.fixture(scope="module")
def turns(spark, tiny_pdf):
    return spark.createDataFrame(tiny_pdf).cache()


def test_search(turns):
    rows = Q.search(turns, "logged in", limit=5).collect()
    assert 0 < len(rows) <= 5
    assert all("logged in" in r.text for r in rows)


def test_filter_by_time(turns):
    n = Q.filter_by_time(turns, "2025-01-01 00:00:00", "2025-01-02 00:00:00").count()
    assert 0 < n < turns.count()


def test_filter_by_level(turns):
    assert Q.filter_by_level(turns, ["user"]).select("role").distinct().collect() == [("user",)]
    ex = Q.filter_by_level(turns, ["user"], exclude=True)
    assert "user" not in {r.role for r in ex.select("role").distinct().collect()}


def test_filter_relative_time(turns):
    n = Q.filter_relative_time(turns, "1 HOUR", "2025-01-04 00:00:00").count()
    assert n > 0


def test_counts(turns):
    assert Q.count_occurrences(turns, "logged in") > 0
    by_role = {r.role: r["count"] for r in Q.count_by(turns, "role").collect()}
    assert set(by_role) == {"user", "assistant", "tool", "system"}
    assert sum(by_role.values()) == turns.count()


def test_summarize_rollup(turns):
    rows = Q.summarize(turns).collect()
    total = [r for r in rows if r.role is None][0]["count"]
    assert total == turns.count()


def test_time_range(turns):
    r = Q.time_range(turns).collect()[0]
    assert r.min_ts < r.max_ts


def test_statistics(turns):
    r = Q.statistics(turns.withColumn("n", F.length("text")), "n").collect()[0]
    assert r["count"] == turns.count() and r["min"] <= r["median"] <= r["max"]
    assert r["nunique"] > 1 and r["approx_nunique"] > 1


def test_pivot_counts(turns):
    pdf = Q.pivot_counts(turns, "role", "tool", ["search", "browser", "none"]).toPandas()
    assert set(pdf.columns) == {"role", "search", "browser", "none"}
    expected = turns.filter(F.col("tool").isin(["search", "browser", "none"])).count()
    assert pdf[["search", "browser", "none"]].to_numpy().sum() == expected


def test_logs_page(turns):
    a = Q.logs_page(turns, limit=10, offset=0).collect()
    b = Q.logs_page(turns, limit=10, offset=10).collect()
    assert len(a) == len(b) == 10
    assert {(r.conv_id, r.turn_idx) for r in a}.isdisjoint({(r.conv_id, r.turn_idx) for r in b})


def test_trending_windowed_growth(spark):
    """Hand-computed window-over-window growth: counts per (hour, key)
    and growth = n - previous window's n (NULL for a key's first hour)."""
    from datetime import datetime

    rows = [
        ("a", datetime(2025, 1, 1, 10, m)) for m in (0, 1, 2)
    ] + [
        ("a", datetime(2025, 1, 1, 11, m)) for m in (0, 1, 2, 3, 4)
    ] + [
        ("b", datetime(2025, 1, 1, 11, 0)),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    out = {
        (r.key, r.window_start.hour): (r.n, r.growth)
        for r in Q.trending_windowed(df, key_col="k").collect()
    }
    assert out == {
        ("a", 10): (3, 3),   # first window: baseline 0 -> growth = n
        ("a", 11): (5, 2),
        ("b", 11): (1, 1),
    }


def test_logs_page_keyset_equals_offset_paging(turns):
    """Keyset pages must equal OFFSET pages row-for-row (same total order),
    while the plan is a pushed-down filter + top-k instead of a global
    row_number."""
    a = Q.logs_page(turns, limit=10, offset=0).collect()
    b = Q.logs_page(turns, limit=10, offset=10).collect()
    ka = Q.logs_page_keyset(turns, limit=10).collect()
    last = (ka[-1].conv_id, ka[-1].turn_idx)
    kb = Q.logs_page_keyset(turns, limit=10, after=last).collect()
    key = lambda rows: [(r.conv_id, r.turn_idx) for r in rows]  # noqa: E731
    assert key(ka) == key(a)
    assert key(kb) == key(b)


def test_execute_sql(spark, turns):
    df = Q.execute_sql(spark, "SELECT role, count(*) AS n FROM t GROUP BY role", {"t": turns})
    assert df.count() == 4


def test_trending(spark, turns):
    from log_analysis_ai_spark.config import PipelineConfig
    from log_analysis_ai_spark.operators.drain import mine_and_assign

    assigned, _ = mine_and_assign(turns, PipelineConfig())
    top = Q.trending_templates(assigned, k=5).collect()
    assert len(top) == 5
    assert top[0]["count"] >= top[-1]["count"]


def test_bm25_hand_computed(spark):
    """Pin the Okapi formula against a by-hand computation on a 3-doc
    corpus, including tokenization (case fold, punctuation split, empties
    dropped) and the dl/avgdl length normalization."""
    import math

    from log_analysis_ai_spark.queries import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "Spark spark SPARK!"),          # tf=3, dl=3
            (2, "spark is fast, very fast"),    # tf=1, dl=5
            (3, "duck pond water"),             # tf=0, dl=3
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.score for r in bm25_search(docs, ["spark"], top_n=10).collect()}
    n, df_t, avgdl, k1, b = 3, 2, (3 + 5 + 3) / 3, 1.2, 0.75
    idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))

    def s(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert set(got) == {1, 2}  # doc 3 never scores
    assert abs(got[1] - s(3, 3)) < 1e-12
    assert abs(got[2] - s(1, 5)) < 1e-12
    assert got[1] > got[2]  # higher tf, shorter doc ranks first


def test_funnel_hand_case(spark):
    """Hand-built funnel: order matters (B-before-A doesn't count), the
    within window drops late completions, steps shrink monotonically."""
    from log_analysis_ai_spark.queries import funnel_counts

    rows = [
        # u1 completes A(10) -> B(20) -> C(30)
        (1, "A", 10), (1, "B", 20), (1, "C", 30),
        # u2 has B BEFORE A only -> reaches just A
        (2, "B", 5), (2, "A", 9),
        # u3 completes A -> B, no C
        (3, "A", 1), (3, "B", 2),
        # u4 never does A
        (4, "B", 1), (4, "C", 2),
        # u5: A(0) -> B(100) — dropped by within_s=50, kept unbounded
        (5, "A", 0), (5, "B", 100),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, sec long").select(
        "user_id", "event_type", F.timestamp_seconds("sec").alias("ts")
    )
    un = {r.step: r.n_users for r in funnel_counts(df, ["A", "B", "C"]).collect()}
    assert un == {"A": 4, "B": 3, "C": 1}
    win = {r.step: r.n_users for r in funnel_counts(df, ["A", "B", "C"], within_s=50).collect()}
    assert win == {"A": 4, "B": 2, "C": 1}


def test_value_histogram_edges(spark):
    """Bucket edges: lo lands in bucket 0, hi overflows to nbuckets,
    below-lo underflows to -1; counts cover every row."""
    from log_analysis_ai_spark.queries import value_histogram

    df = spark.createDataFrame(
        [(v,) for v in [-1.0, 0.0, 4.9, 5.0, 9.99, 10.0, 42.0]], "v double"
    )
    got = {r.bucket: (r.edge_lo, r.n) for r in value_histogram(df, "v", 0.0, 10.0, 2).collect()}
    assert got == {-1: (-5.0, 1), 0: (0.0, 2), 1: (5.0, 2), 2: (10.0, 2)}
    assert sum(n for _, n in got.values()) == 7  # every row lands somewhere


def test_retention_cohorts_hand_case(spark):
    """Hand-built cohorts: week-0 row always counts every cohort member;
    returns count distinct-per-period; beyond max_offset is dropped."""
    from log_analysis_ai_spark.queries import retention_cohorts

    day = 86400
    rows = [
        # u1: first week w0, returns w1 twice (counted once) and w2
        (1, 0), (1, 7 * day), (1, 8 * day), (1, 14 * day),
        # u2: first week w0 only
        (2, 2 * day),
        # u3: first week w1, returns w2
        (3, 7 * day), (3, 15 * day),
        # u4: first w0, returns WAY later (dropped by max_offset=2)
        (4, 0), (4, 50 * 7 * day),
    ]
    df = spark.createDataFrame(rows, "user_id long, sec long").select(
        "user_id", F.timestamp_seconds(F.col("sec") + 4 * day).alias("ts")  # 1970-01-05 = Monday
    )
    got = {
        (r.cohort_start.isoformat(), r.period_offset): r.n_users
        for r in retention_cohorts(df, max_offset=2).collect()
    }
    assert got == {
        ("1970-01-05T00:00:00", 0): 3,  # u1, u2, u4
        ("1970-01-05T00:00:00", 1): 1,  # u1
        ("1970-01-05T00:00:00", 2): 1,  # u1
        ("1970-01-12T00:00:00", 0): 1,  # u3
        ("1970-01-12T00:00:00", 1): 1,  # u3
    }


def test_trending_decayed_hand_case(spark):
    """Half-life math pinned by hand: a key with old volume loses to a key
    with recent volume; weights are exactly 0.5^(age/half_life)."""
    from datetime import datetime

    from log_analysis_ai_spark.queries import trending_decayed

    rows = (
        [("old", datetime(2025, 1, 1, 0, m)) for m in range(10)]      # 10 @ age 48h
        + [("new", datetime(2025, 1, 3, 0, m)) for m in range(4)]     # 4 @ age 0
    )
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    got = {r.key: r.score for r in trending_decayed(df, key_col="k", half_life_hours=24.0).collect()}
    assert abs(got["new"] - 4.0) < 1e-9          # age 0 -> weight 1
    assert abs(got["old"] - 10 * 0.25) < 1e-9    # 48h = 2 half-lives -> 0.25
    assert got["new"] > got["old"]
