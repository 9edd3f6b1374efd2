"""Dedup / similarity-search / text-analysis operator tests, over the
driver-provided documents and embeddings tables (TESTDATA.md) plus
hand-built cases with known answers."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from log_analysis_ai_spark.functions import with_text_stats
from log_analysis_ai_spark.functions.text import lang_id
from log_analysis_ai_spark.operators.dedup import (
    dedup_exact,
    jaccard_pairs,
    minhash_near_dups,
    simhash_docs,
    simhash_near_dups,
)
from log_analysis_ai_spark.operators.similarity import (
    ann_topk,
    cosine_topk,
    cosine_topk_numpy,
    near_dup_embeddings,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_dedup_exact_known_dups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "same text")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup_exact(df).collect())
    assert kept == [1, 3]  # lowest id per distinct text


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words in this sentence with no overlap at all here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_near_dups(df, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert all(r.jaccard > 0.5 for r in pairs)


def test_jaccard_exact_value(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    j = jaccard_pairs(df, pairs, shingle_n=2).collect()[0].jaccard
    # 2-shingles: {a b, b c, c d} vs {a b, b c, c e}: |∩|=2, |∪|=4
    assert abs(j - 0.5) < 1e-9


def test_simhash_identical_and_near(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz qq ww ee")],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash for r in simhash_docs(df).collect()}
    assert sh[1] == sh[2] != sh[3]
    pairs = simhash_near_dups(df, max_hamming=0).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_minhash_on_documents_table(docs):
    pairs = minhash_near_dups(docs, threshold=0.8)
    rows = pairs.collect()
    assert len(rows) > 0  # corpus contains seeded near-dups
    assert all(0.8 <= r.jaccard <= 1.0 for r in rows)


def test_cosine_topk_variants_agree(emb):
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    a = [(r.vec_id, round(r.cosine, 6)) for r in cosine_topk(emb, q, k=10).collect()]
    b = [(r.vec_id, round(r.cosine, 6)) for r in cosine_topk_numpy(emb, q, k=10).collect()]
    assert a == b
    assert a[0][0] == 0 and abs(a[0][1] - 1.0) < 1e-6  # self is the top hit


def test_cosine_topk_matches_numpy_oracle(emb):
    q = np.asarray(emb.filter(F.col("vec_id") == 7).select("embedding").first()[0])
    pdf = emb.toPandas()
    m = np.stack(pdf.embedding.to_numpy())
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    want = set(pdf.vec_id.to_numpy()[np.argsort(-cos)[:5]].tolist())
    got = {r.vec_id for r in cosine_topk(emb, q.tolist(), k=5).collect()}
    assert got == want


def test_ann_topk_recalls_self_and_reranks(emb):
    q = emb.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    rows = ann_topk(emb, q, k=5, n_planes=4, multiprobe=4).collect()
    assert rows[0].vec_id == 3  # exact rerank puts self first
    exact = {r.vec_id for r in cosine_topk(emb, q, k=5).collect()}
    assert {r.vec_id for r in rows} & exact  # nontrivial recall


def test_ann_topk_multi_recall_floor_on_clustered_corpus(spark):
    """The documented multi-table LSH operating point (VERDICT r4 weak item):
    at the DEFAULT budget (10 planes × 10 tables, multiprobe 4), recall@10
    on a realistic clustered corpus (same-cluster cosine ≈ 0.84) must hold
    the stated ≥0.8 floor — measured 0.98 when this was pinned — while
    scanning a small fraction of the corpus (no degenerate full-scan)."""
    import pandas as pd

    from log_analysis_ai_spark.operators.similarity import (
        _table_planes,
        ann_topk_multi,
        cosine_topk_numpy,
        multi_lsh_sigs_udf,
    )

    rng = np.random.default_rng(7)
    C, M, D = 60, 40, 32
    centers = rng.standard_normal((C, D))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.repeat(centers, M, axis=0) + rng.standard_normal((C * M, D)) * 0.08
    pdf = pd.DataFrame(
        {"vec_id": np.arange(C * M, dtype="int64"), "embedding": list(vecs.astype("float32"))}
    )
    df = spark.createDataFrame(pdf).repartition(8).cache()
    n = df.count()
    qidx = rng.choice(C * M, 8, replace=False)
    recalls = []
    for qi in qidx:
        q = [float(x) for x in (vecs[qi] + rng.standard_normal(D) * 0.05)]
        truth = {r.vec_id for r in cosine_topk_numpy(df, q, 10).collect()}
        got = {r.vec_id for r in ann_topk_multi(df, q, 10).collect()}
        recalls.append(len(truth & got) / 10)
    assert sum(recalls) / len(recalls) >= 0.8

    # scan fraction at the same budget: candidates for one query ≤ 15%
    q = [float(x) for x in vecs[int(qidx[0])]]
    qv = np.asarray(q, dtype="float32")
    tables = _table_planes(D, 10, 10, 42)
    w = 1 << np.arange(10, dtype=np.int64)
    sigs = multi_lsh_sigs_udf(D, 10, 10, 42)
    sigged = df.withColumn("_sigs", sigs(F.col("embedding")))
    cond = None
    for t, planes in enumerate(tables):
        qs = int(((qv @ planes.T) > 0) @ w)
        probes = [qs] + [qs ^ (1 << i) for i in range(4)]
        c = F.element_at("_sigs", t + 1).isin(probes)
        cond = c if cond is None else cond | c
    assert sigged.filter(cond).count() / n <= 0.15
    df.unpersist()


def test_ivf_topk_exact_when_probing_all_lists(spark, emb):
    """IVF with nprobe == n_lists scans everything → must equal exact
    brute-force top-k; with fewer probes it still recalls self."""
    from log_analysis_ai_spark.operators.similarity import ivf_centroids, ivf_topk

    q = [float(x) for x in emb.filter(F.col("vec_id") == 5).select("embedding").first()[0]]
    cent = ivf_centroids(emb, n_lists=8, sample_size=256)
    full = [(r.vec_id, round(r.cosine, 6)) for r in ivf_topk(emb, q, cent, k=5, nprobe=8).collect()]
    exact = [(r.vec_id, round(r.cosine, 6)) for r in cosine_topk(emb, q, k=5).collect()]
    assert full == exact
    probed = ivf_topk(emb, q, cent, k=5, nprobe=2).collect()
    assert probed[0].vec_id == 5  # self lands in the probed list


def test_cosine_topk_batch_equals_per_query(spark, emb):
    """Batch multi-query top-k (one corpus scan) must equal per-query exact
    brute force, including the (cosine desc, id asc) tie-break."""
    from log_analysis_ai_spark.operators.similarity import cosine_topk_batch

    qrows = emb.filter(F.col("vec_id").isin([1, 4, 7])).select("vec_id", "embedding").collect()
    queries = {int(r.vec_id): [float(x) for x in r.embedding] for r in qrows}
    got = {
        (r.query_id, r.vec_id): round(r.cosine, 6)
        for r in cosine_topk_batch(emb, queries, k=5).collect()
    }
    want = {}
    for qid, vec in queries.items():
        for r in cosine_topk(emb, vec, k=5).collect():
            want[(qid, r.vec_id)] = round(r.cosine, 6)
    assert got == want
    # self always ranks first
    for qid in queries:
        assert (qid, qid) in got and got[(qid, qid)] == 1.0


def test_ivf_indexed_prunes_partitions_and_is_exact(spark, emb, tmp_path):
    """The persisted IVF index must (a) equal exact brute force at
    nprobe == n_lists and (b) push the probe filter into PartitionFilters —
    the scan reads nprobe/n_lists of the files, not all of them."""
    from log_analysis_ai_spark.operators.similarity import (
        build_ivf_index,
        ivf_centroids,
        ivf_topk_indexed,
    )

    q = [float(x) for x in emb.filter(F.col("vec_id") == 5).select("embedding").first()[0]]
    cent = ivf_centroids(emb, n_lists=8, sample_size=256)
    path = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, cent, path)

    full = ivf_topk_indexed(spark, path, q, cent, k=5, nprobe=8)
    exact = [(r.vec_id, round(r.cosine, 6)) for r in cosine_topk(emb, q, k=5).collect()]
    assert [(r.vec_id, round(r.cosine, 6)) for r in full.collect()] == exact

    probed = ivf_topk_indexed(spark, path, q, cent, k=5, nprobe=2)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_list" in plan.split("PartitionFilters", 1)[1][:200]
    assert probed.collect()[0].vec_id == 5  # self lands in the probed list


def test_lsh_indexed_equals_multi_and_prunes_partitions(spark, emb, tmp_path):
    """The persisted LSH signature index must (a) return EXACTLY what the
    query-time ann_topk_multi returns (same planes/probes ⇒ same candidate
    set ⇒ same reranked top-k), (b) prune probe 0 at the FILE LISTING level
    (PartitionFilters on _sig0), and (c) compute no signatures at query time
    (the one matmul UDF ran at ingest; the probe plan has no Python eval
    over the index scan)."""
    from log_analysis_ai_spark.operators.similarity import (
        ann_topk_indexed,
        ann_topk_multi,
        build_lsh_index,
    )

    q = [float(x) for x in emb.filter(F.col("vec_id") == 5).select("embedding").first()[0]]
    path = str(tmp_path / "lsh_idx")
    build_lsh_index(emb, path, n_planes=6, n_tables=4)

    got = ann_topk_indexed(spark, path, q, k=5, n_planes=6, n_tables=4)
    want = ann_topk_multi(emb, q, k=5, n_planes=6, n_tables=4)
    assert [(r.vec_id, round(r.cosine, 6)) for r in got.collect()] == [
        (r.vec_id, round(r.cosine, 6)) for r in want.collect()
    ]

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_sig0" in plan.split("PartitionFilters", 1)[1][:300]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # residual tables' probes are pushed to the parquet scan
    assert "PushedFilters" in plan and "_sig1" in plan


def test_near_dup_embeddings_finds_planted(spark, emb):
    v = emb.limit(2).toPandas()
    base = np.asarray(v.embedding[0], dtype="float64")
    planted = spark.createDataFrame(
        [(9001, base.tolist()), (9002, (base * 1.001).tolist())],
        "vec_id long, embedding array<float>",
    )
    pairs = near_dup_embeddings(
        emb.select("vec_id", "embedding").unionByName(planted), threshold=0.999
    ).collect()
    assert any({r.id_a, r.id_b} >= {9001, 9002} or (r.id_a, r.id_b) == (9001, 9002) for r in pairs)


def test_connected_components_hand_graph(spark):
    from log_analysis_ai_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "id_a long, id_b long"
    )
    got = {r.node: r.label for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_near_dup_groups_transitive_chain(spark):
    """A≈B and B≈C (A not directly paired with C) must land in ONE group —
    the keep/drop set needs transitive closure, not raw pairs."""
    from log_analysis_ai_spark.operators.dedup import near_dup_groups

    a = "the quick brown fox jumps over the lazy dog again and again today ok"
    b = a.replace("today", "tomorrow")
    c = b.replace("quick", "slow")
    far = "completely different words in this sentence with no overlap at all"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, far)], "doc_id long, text string"
    )
    groups = near_dup_groups(df, threshold=0.5)
    rows = {r.doc_id: (r.group_id, r.keep) for r in groups.collect()}
    assert rows[1] == (1, True)
    assert rows.get(2) == (1, False) and rows.get(3) == (1, False)
    assert 9 not in rows  # no near-dup partner -> implicitly kept


def test_dedup_groups_by_keys_merges_across_keys(spark):
    """Prefix connects (1,2); suffix connects (2,3): one group of three."""
    from log_analysis_ai_spark.operators.dedup import dedup_groups_by_keys

    df = spark.createDataFrame(
        [
            (1, "PREFIXAAA middle one ENDX"),
            (2, "PREFIXAAA middle two ENDY"),
            (3, "OTHERSTART middle xx ENDY"),
            (4, "LONELY document text ENDZ"),
        ],
        "doc_id long, text string",
    )
    keys = [F.expr("substring(text, 1, 9)"), F.expr("substring(text, length(text) - 3, 4)")]
    got = {r.doc_id: (r.group_id, r.keep) for r in dedup_groups_by_keys(df, keys).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False), 4: (4, True)}


def test_dedup_exact_shuffles_on_hash_not_text(docs):
    """Plan pin: the exact-dedup exchange must partition on the 8-byte
    xxhash64 projection (_w0 = xxhash64(text)), not the raw text bytes —
    at 100 TB that is the difference between shuffling 8 B and ~1 KB per
    row for the partitioning key."""
    from log_analysis_ai_spark.operators.dedup import dedup_exact

    plan = dedup_exact(docs)._jdf.queryExecution().executedPlan().toString()
    proj = [ln for ln in plan.splitlines() if "xxhash64(text" in ln]
    assert proj, plan  # the hash is computed as a projection...
    exch = [ln for ln in plan.splitlines() if "Exchange hashpartitioning(_w" in ln]
    assert exch, plan  # ...and the exchange partitions on that projection


def test_dedup_groups_null_keys_become_singletons(spark):
    """NULL blocking keys carry no blocking value: null-text docs must
    surface as their own singleton keep=true groups, not vanish (ADVICE r2)
    and not merge with each other (a window PARTITION BY would)."""
    from log_analysis_ai_spark.operators.dedup import dedup_groups_by_keys

    df = spark.createDataFrame(
        [
            (1, "PREFIXAAA middle one ENDX"),
            (2, "PREFIXAAA middle two ENDY"),
            (5, None),
            (6, None),
        ],
        "doc_id long, text string",
    )
    keys = [F.expr("substring(text, 1, 9)"), F.expr("substring(text, length(text) - 3, 4)")]
    got = {r.doc_id: (r.group_id, r.keep) for r in dedup_groups_by_keys(df, keys).collect()}
    assert got == {1: (1, True), 2: (1, False), 5: (5, True), 6: (6, True)}


def test_connected_components_raises_on_non_convergence(spark):
    """Exhausting max_iter without reaching the fixpoint must raise, never
    silently return wrong labels (ADVICE r2). A 12-node chain cannot finish
    in one propagation+jump round."""
    import pytest

    from log_analysis_ai_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    # driver_threshold=0 forces the DISTRIBUTED loop (the driver union-find
    # path has no iteration limit to exercise)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1, driver_threshold=0)
    # and with jumping it DOES converge in O(log n) rounds
    got = {
        r.node: r.label
        for r in connected_components(chain, max_iter=6, driver_threshold=0).collect()
    }
    assert set(got.values()) == {0}


def test_hot_bucket_guard_keeps_candidates_linear(spark):
    """Adversarial skew fixture: 1,000 near-identical docs all but collide in
    every LSH band. Unguarded, the self-join yields ~n²/2 ≈ 500k candidate
    pairs; with a bucket cap the candidate count stays linear (here: zero
    from the capped buckets) and the report names what was dropped."""
    from log_analysis_ai_spark.operators.dedup import (
        hot_bucket_report,
        minhash_banded,
        minhash_candidates,
    )

    base = "session opened for user admin from host10 port 22 via ssh protocol two"
    rows = [(i, base) for i in range(1000)] + [
        (2000, "a totally unrelated document about spark window functions"),
        (2001, "a totally unrelated document about spark window functions"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 50
    report: dict = {}
    cand = minhash_candidates(df, max_bucket_size=cap, report=report)
    n_cand = cand.count()
    # the planted unrelated near-pair survives; the 1000-clone blowup doesn't
    assert n_cand < 1000  # linear, nowhere near the ~500k unguarded pairs
    assert (2000, 2001) in {(r.id_a, r.id_b) for r in cand.collect()}
    # drop accounting: when the guard fires, the report it filled must name
    # exactly the oversized buckets (no silent caps)
    dropped = report["dropped_buckets"].collect()
    assert len(dropped) >= 1 and all(r.bucket_size > cap for r in dropped)
    # standalone report helper agrees
    report2 = hot_bucket_report(minhash_banded(df), ["band", "bucket"], cap)
    assert {(r.band, r.bucket) for r in report2.collect()} == {
        (r.band, r.bucket) for r in dropped
    }
    print(f"hot-bucket guard dropped {len(dropped)} buckets "
          f"(max size {max(r.bucket_size for r in dropped)})")


def test_unguarded_default_has_full_recall(spark):
    """Default (max_bucket_size=None) must NOT cap: pairs whose only shared
    bucket is a hot one are still found — the completeness semantics the
    guard knowingly trades away (ADVICE r2)."""
    from log_analysis_ai_spark.operators.dedup import minhash_near_dups

    base = "session opened for user admin from host10 port 22 via ssh protocol two"
    df = spark.createDataFrame(
        [(i, base) for i in range(60)], "doc_id long, text string"
    )
    pairs = minhash_near_dups(df, threshold=0.99)
    assert pairs.count() == 60 * 59 // 2  # every clone pair found


def test_simhash_guard_drops_clone_bucket(spark):
    from log_analysis_ai_spark.operators.dedup import simhash_near_dups

    rows = [(i, "identical clone text repeated everywhere") for i in range(300)] + [
        (900, "some other sentence entirely"),
        (901, "some other sentence entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    report: dict = {}
    pairs = simhash_near_dups(df, max_hamming=0, max_bucket_size=50, report=report).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (900, 901) in got
    assert len(got) < 300 * 299 // 2  # clone blowup suppressed
    assert report["dropped_buckets"].count() >= 1  # and the drop is accounted


def test_text_stats(docs):
    out = with_text_stats(docs).select(
        "doc_id", "text", "n_tokens_ws", "n_tokens_bpe", "quality", "lang_pred", "fingerprint"
    )
    r = out.first()
    assert r.n_tokens_ws == len(r.text.split(" "))
    assert 0.0 <= r.quality <= 1.0
    assert len(r.fingerprint) == 32


def test_lang_id_known_sentences(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the market in a hurry"),
            (2, "le chat et le chien pour la maison dans un jardin"),
            (3, "el gato y el perro es una casa por la ciudad"),
            (4, "der hund und die katze ist ein haus mit von zu"),
            (5, "xqz brp mlk"),
        ],
        "id long, text string",
    )
    got = {r.id: r.lang for r in df.select("id", lang_id().alias("lang")).collect()}
    assert got == {1: "en", 2: "fr", 3: "es", 4: "de", 5: "und"}


def test_fingerprint_normalization(spark):
    from log_analysis_ai_spark.functions.text import doc_fingerprint

    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        "id long, text string",
    )
    fps = {r.id: r.fp for r in df.select("id", doc_fingerprint().alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_scrub_pii_masks_all_shapes(spark):
    """Every DEFAULT_SCRUB_PATTERNS shape masks to its typed token; clean
    text passes through untouched; application order protects emails from
    the phone rule."""
    from log_analysis_ai_spark.functions.text import scrub_pii

    rows = [
        ("contact bob.smith+x@ex-ample.co.uk now", "contact <EMAIL> now"),
        ("from 10.0.12.7 port 443", "from <IP> port 443"),
        ("card 4111111111111111 used", "card <NUM> used"),
        ("key deadbeefdeadbeefdeadbeefdeadbeef12 set", "key <SECRET> set"),
        ("call +1 (555) 123-4567 ok", "call <PHONE> ok"),
        # \b guards: a letter-prefixed dotted version is NOT an IP
        ("digits 123 and v1.2.3.4 stay semver-ish", "digits 123 and v1.2.3.4 stay semver-ish"),
        ("bare 1.2.3.4 IS an ip", "bare <IP> IS an ip"),
        ("user42@host.org or 555 867 5309", "<EMAIL> or <PHONE>"),
        ("no pii here at all", "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "t string, want string")
    got = df.select("want", scrub_pii("t").alias("got")).collect()
    for r in got:
        assert r.got == r.want, (r.want, r.got)


def test_scrub_pii_arrow_engine_bit_equal(spark):
    """The r8 Arrow/RE2 one-pass engine must be bit-equal to the JVM
    regexp_replace chain on every mask shape, order-sensitive overlaps
    (email digits vs the phone rule), NULL/empty rows, unicode
    neighbours, and the sf0.001 events-shaped planted corpus."""
    from log_analysis_ai_spark.functions.text import scrub_pii, scrub_pii_arrow

    rows = [
        (0, "contact bob.smith+x@ex-ample.co.uk now"),
        (1, "from 10.0.12.7 port 443"),
        (2, "card 4111111111111111 used"),
        (3, "key deadbeefdeadbeefdeadbeefdeadbeef12 set"),
        (4, "call +1 (555) 123-4567 ok"),
        (5, "digits 123 and v1.2.3.4 stay semver-ish"),
        # email whose local part is phone-shaped: order must protect it
        (6, "write 123456789@ex.co or ring 555 867 5309"),
        (7, None),
        (8, ""),
        (9, "naïve café user42@host.org —東京 1.2.3.4 end"),
        (10, "nested ip 10.0.0.1mail@x.io tail"),
    ]
    df = spark.createDataFrame(rows, "event_id long, t string").repartition(3)
    jvm = df.select("event_id", scrub_pii("t").alias("clean"))
    arrow = scrub_pii_arrow(df, "t", out_col="clean").select("event_id", "clean")
    a = {r.event_id: r.clean for r in jvm.collect()}
    b = {r.event_id: r.clean for r in arrow.collect()}
    assert a == b
    assert a[7] is None and a[8] == ""

    # events-shaped corpus (the entry's planted line) at sf0.001
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    lines = ev.select(
        "event_id",
        F.format_string(
            "user%d@example.com from 10.0.%d.%d card 4111111111111111 "
            "key deadbeefdeadbeefdeadbeefdeadbeef%04d +1 (555) 123-%04d %s",
            F.pmod("user_id", F.lit(1000)),
            F.pmod("event_id", F.lit(256)),
            F.pmod("user_id", F.lit(256)),
            F.pmod("event_id", F.lit(10000)).cast("int"),
            F.pmod("user_id", F.lit(10000)).cast("int"),
            "event_type",
        ).alias("t"),
    )
    jvm2 = lines.select("event_id", scrub_pii("t").alias("a"))
    ar2 = scrub_pii_arrow(lines, "t", out_col="b").select("event_id", "b")
    n_bad = (
        jvm2.join(ar2, "event_id")
        .filter("a IS DISTINCT FROM b")
        .count()
    )
    assert n_bad == 0


def test_ngram_jaccard_exact_vs_bruteforce(spark):
    """Prefix filtering must be lossless: the prefix-filtered result equals
    the brute-force all-pairs shingle Jaccard at the same threshold, on a
    randomized corpus with planted near-dups (Bayardo WWW'07 soundness)."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        n = rng.randint(3, 12)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted near-dups: superset texts
    for i in range(5):
        rows.append((100 + i, rows[i][1] + " zz aug pad"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from log_analysis_ai_spark.operators.dedup import ngram_jaccard_near_dups

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_near_dups(df, threshold=0.6, shingle_n=3).collect()
    }

    def shingles(text, n=3):
        t = text.lower().split()
        k = max(len(t) - n + 1, 1)
        return {" ".join(t[i : i + n]) for i in range(k)}

    sh = {i: shingles(t) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= 0.6:
            want[(a, b)] = j
    assert set(got) == set(want) and len(want) >= 4
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_ngram_jaccard_boundary_pair_at_exact_threshold(spark):
    """A pair with Jaccard EXACTLY t must be returned: the PPJoin size and
    positional prunes compare against t*max and t/(1+t)*(|A|+|B|) in
    floats, and double(0.7)*10 > 7 — the 1e-9 slack exists precisely so
    this boundary pair is admitted to verify rather than dropped."""
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # 7 shingles
    b = a + " x1 x2 x3"  # 10 shingles, superset: J = 7/10 = t
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "q1 q2 q3 q4")], "doc_id long, text string"
    )
    from log_analysis_ai_spark.operators.dedup import ngram_jaccard_near_dups

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_near_dups(df, threshold=0.7, shingle_n=3).collect()
    }
    assert set(got) == {(1, 2)} and abs(got[(1, 2)] - 0.7) < 1e-12


def test_ngram_jaccard_threshold_one_is_clones_only(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c d f")],
        "doc_id long, text string",
    )
    from log_analysis_ai_spark.operators.dedup import ngram_jaccard_near_dups

    pairs = {(r.id_a, r.id_b) for r in ngram_jaccard_near_dups(df, threshold=1.0).collect()}
    assert pairs == {(1, 2)}


def test_decontaminate_drops_overlapping_docs(spark):
    """Docs sharing any word n-gram with the benchmark are dropped (or
    flagged); disjoint docs survive untouched."""
    from log_analysis_ai_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different sentence with no overlap at all"),
            (3, "another clean document talking about other things entirely"),
            (4, "we said the quick brown fox jumps again here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps over obstacles",)],
        "doc_id long, text string",
    )
    # n=6: docs 1 shares "the quick brown fox jumps over"; doc 4's only
    # 5-gram overlap ("the quick brown fox jumps") is too short to match
    clean6 = decontaminate(train, bench, shingle_n=6)
    assert sorted(r.doc_id for r in clean6.collect()) == [2, 3, 4]
    # n=5: doc 4 shares "the quick brown fox jumps" and is dropped too
    clean5 = decontaminate(train, bench, shingle_n=5)
    assert sorted(r.doc_id for r in clean5.collect()) == [2, 3]
    flagged = decontaminate(train, bench, shingle_n=4, flag_only=True)
    f = {r.doc_id: r.contaminated for r in flagged.collect()}
    assert f == {1: True, 2: False, 3: False, 4: True}


def test_repetition_stats_match_bruteforce(spark):
    """The sorted-array folds must reproduce brute-force values for the
    COMPLETE Gopher Table A1 repetition metric set (dup line/para + char
    fractions, top-{2,3,4}-gram, dup-{5..10}-gram) on crafted and random
    docs, including paragraph structure (blank-line splits)."""
    import random
    import re

    from log_analysis_ai_spark.functions.text import (
        GOPHER_DUP_NGRAMS,
        GOPHER_TOP_NGRAMS,
        repetition_stats,
    )

    rng = random.Random(5)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [
        (0, "a b\na b\nc d"),                        # dup lines
        (1, "x y x y x y x y"),                      # heavy 2-gram repeat
        (2, "unique line one\nsecond line here"),    # clean
        (3, ""),                                     # empty
        (4, "w w w w w w w w w w"),                  # one token repeated
        (5, "para one text\n\npara one text\n\npara two"),  # dup paragraphs
        (6, "p q r s t u v w x y z " * 3),           # long-gram repeats
    ]
    for i in range(7, 27):
        n = rng.randint(1, 30)
        txt = " ".join(rng.choice(vocab) for _ in range(n))
        if i % 3 == 0:
            txt = txt + "\n" + txt
        if i % 4 == 0:
            txt = txt + "\n\n" + txt
        rows.append((i, txt))
    rows.append((27, None))  # NULL text: all-zero in BOTH engines (r8 fix)
    from log_analysis_ai_spark.functions.text import REPETITION_METRICS as metrics

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: tuple(round(r[m], 9) for m in metrics)
        for r in repetition_stats(df).collect()
    }
    # the two engines (Arrow vectorized pass vs pure-expression sorted
    # folds) are independent implementations — they must agree bit-exactly
    got_sql = {
        r.doc_id: tuple(round(r[m], 9) for m in metrics)
        for r in repetition_stats(df, engine="sql").collect()
    }
    assert got == got_sql

    def shingles(t, n):
        # word_shingles tokenizes on space runs ONLY (" +"), not all
        # whitespace — newlines stay inside tokens
        toks = re.split(" +", t.lower())
        k = max(len(toks) - n + 1, 1)
        return [" ".join(toks[i : i + n]) for i in range(k)]

    from collections import Counter

    for i, t in rows:
        t = t if isinstance(t, str) else ""  # NULL scores like empty text
        L = len(t)
        want = []
        for units in (t.split("\n"), re.split("\n{2,}", t)):
            uc = Counter(units)
            dupn = sum(c for c in uc.values() if c > 1)
            dupch = sum(c * len(x) for x, c in uc.items() if c > 1)
            want += [round(dupn / len(units), 9), round(dupch / L, 9) if L else 0.0]
        for n in GOPHER_TOP_NGRAMS:
            g = Counter(shingles(t, n)) if t else Counter({"": 1})
            top = max(g.items(), key=lambda kv: (kv[1], kv[0]))
            want.append(round(top[1] * len(top[0]) / L, 9) if L else 0.0)
        for n in GOPHER_DUP_NGRAMS:
            g = Counter(shingles(t, n)) if t else Counter({"": 1})
            d = sum(c * len(x) for x, c in g.items() if c > 1)
            want.append(round(d / L, 9) if L else 0.0)
        assert got[i] == tuple(want), (i, t, got[i], tuple(want))


def test_c4_span_dedup_matches_bruteforce(spark):
    """C4's corpus-level 3-sentence-span dedup: exact parity with a pure-
    Python brute force under the documented conventions (first occurrence
    by (id, position) kept; every sentence of a non-kept duplicate span
    removed; unterminated tails untouched), on docs with cross-doc AND
    within-doc duplicated spans, short docs, empty text, a tail fragment,
    and LEADING terminal-punctuation runs (the r8 head-capture fix: a text
    starting '...' must keep its head verbatim, not drop it and duplicate
    trailing bytes)."""
    import re

    from log_analysis_ai_spark.operators.dedup import c4_span_dedup

    shared = " The weather was fine. Everyone agreed on that! Then it rained?"
    rows = [
        (10, "Unique lead for ten." + shared + " A ten-only tail sentence."),
        (20, "Twenty starts differently here." + shared),
        # within-doc duplicate span (identical INCLUDING each sentence's
        # leading space, which is part of the exact-text comparison)
        (30, "Intro line. Alpha one. Alpha two! Alpha three? filler. Alpha one. Alpha two! Alpha three?"),
        (40, "Too short. Really."),
        (50, "Only fragment without terminal punctuation"),
        (60, ""),
        (70, "Omega one. Omega two. Omega three. Omega four. trailing fragment"),
        # leading punctuation runs: head survives verbatim, byte-identical
        (80, "...abc."),
        (81, "!?Eighty-one leads with bangs." + shared),
        (82, "..."),
        (83, "...unterminated fragment only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_removed_sentences)
        for r in c4_span_dedup(df).collect()
    }

    def sents_of(t):
        return re.findall(r"[^.!?]+[.!?]+", t)

    spans = {}
    for did, t in rows:
        s = sents_of(t)
        for i in range(max(len(s) - 2, 0)):
            spans.setdefault("".join(s[i : i + 3]), []).append((did, i))
    removed = {}
    for occ in spans.values():
        for did, i in sorted(occ)[1:]:
            removed.setdefault(did, set()).update((i, i + 1, i + 2))
    for did, t in rows:
        s = sents_of(t)
        rem = removed.get(did, set())
        m = re.match(r"^[.!?]+", t)
        head = m.group(0) if m else ""
        tail = t[len(head) + sum(len(x) for x in s):]
        want = (
            head + "".join(x for j, x in enumerate(s) if j not in rem) + tail,
            len(rem),
        )
        assert got[did] == want, (did, got[did], want)
    # the shared span was removed from doc 20 (10 is globally first)
    assert got[20][1] == 3 and shared not in got[20][0]
    assert got[10][1] == 0
    # within-doc repeat: second occurrence removed from doc 30
    assert got[30][1] == 3
    # short/fragment/empty docs untouched — tail fragments survive verbatim
    assert got[40] == ("Too short. Really.", 0) and got[60] == ("", 0)
    assert got[50] == ("Only fragment without terminal punctuation", 0)
    assert got[70] == (rows[6][1], 0)
    # r8 head fix: leading punctuation runs are byte-identical round-trips
    assert got[80] == ("...abc.", 0) and got[82] == ("...", 0)
    assert got[83] == ("...unterminated fragment only", 0)
    assert got[81][0].startswith("!?Eighty-one leads with bangs.")
    assert got[81][1] == 3 and shared not in got[81][0]


def _hof_calls(plan: str) -> list[str]:
    """Every filter(...)/transform(...)/aggregate(...) call in a plan
    string, with its balanced argument text."""
    import re

    calls = []
    for m in re.finditer(r"\b(?:filter|transform|aggregate)\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        calls.append(plan[m.start():i])
    return calls


@pytest.mark.parametrize(
    "op, prefix, kw",
    [
        ("c4_span_dedup", "One sentence. Two here. Three now. Tail ", {}),
        ("substring_dedup", "shared boiler tokens one two three four five six ",
         {"window_tokens": 5}),
    ],
    ids=["c4", "substring"],
)
def test_window_dedup_plan_shape(spark, op, prefix, kw):
    """Scale pins for both callers of the window-dedup core
    (`_window_dedup`). (a) Keep-first is a PARTIAL-aggregating groupBy over
    the window hash: partial_min upstream of the exchange absorbs a
    boilerplate window occurring millions of times, and there is NO
    WindowExec (the r7 shape, which serialized the hottest window into one
    task). (b) Window TEXT never reaches an exchange key: the Arrow stream
    ships (_id, _ti, _h) rows, and the transient confirm columns
    `_wt`/`_kwt`, the unit arrays `_toks` and the reconstruction pieces
    `_pcs` are never part of a hashpartitioning key, nor of the
    min(struct) buffer. (c) At most five hash exchanges: keeper agg,
    occurrence-marking probe, the two candidate-sized confirm joins and
    the duplicate-sized groupBy(id), all hash/id-keyed and skew-safe;
    never a cartesian product. (d) bind_once's shape: the reconstruction's
    filter/transform/aggregate lambdas read the materialized `_pcs`
    column and never contain a regexp_extract_all, which would
    re-extract the whole text once per piece position. (min(struct)
    plans as SortAggregate, since struct buffers aren't hash-aggregable;
    PARTIAL mode, the property that absorbs the hot key, is what's
    pinned.)"""
    import re

    from log_analysis_ai_spark.operators import dedup

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), F.concat(F.lit(prefix), F.col("id")).alias("text")
    )
    plan = getattr(dedup, op)(df, **kw)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # no WindowExec anywhere in this operator
    assert "partial_min" in plan  # map-side combine BEFORE the keeper shuffle
    assert "MapInPandas" in plan and "xxhash64" in plan  # the rolling-hash stream
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 5
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    text_cols = ("_wt#", "_kwt#", "_toks#", "_pcs#")
    assert "_wt#" in plan and "_kwt#" in plan  # the names pinned here exist
    for key in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert not any(c in key for c in text_cols), key
    aggs = re.findall(r"partial_min\(([^)]*)\)", plan)
    assert aggs
    for agg in aggs:
        assert "_ti#" in agg and not any(c in agg for c in text_cols), agg
    hofs = _hof_calls(plan)
    for call in hofs:
        assert "regexp_extract_all" not in call, call
    assert any("_pcs#" in c for c in hofs)  # the lambdas read the pieces column


def test_c4_span_dedup_invariant_to_parallelism(spark):
    """The keep-first rule is order-DEFINED (global min by (id, position)),
    so output must be bit-identical at any partition count — pinned in the
    style of test_pack_documents_invariant_to_parallelism."""
    from log_analysis_ai_spark.operators.dedup import c4_span_dedup

    base = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("Lead "), F.col("id"), F.lit(". "),
            F.when(F.col("id") % 3 == 0,
                   F.lit("Hot one. Hot two! Hot three? ")).otherwise(F.lit("")),
            F.when(F.col("id") % 7 == 0,
                   F.lit("Cold a. Cold b. Cold c. ")).otherwise(F.lit("")),
            F.lit("tail fragment "), F.col("id"),
        ).alias("text"),
    )
    want = None
    for parts in (1, 7, 32):
        got = sorted(
            (r.doc_id, r.clean_text, r.n_removed_sentences)
            for r in c4_span_dedup(base.repartition(parts)).collect()
        )
        if want is None:
            want = got
        assert got == want, parts


def test_c4_span_dedup_hot_span(spark):
    """Planted hot key: ONE boilerplate 3-sentence span shared by 95% of
    docs (the C4 'All rights reserved' shape the r8 partial-agg defuses).
    Functional truth: exactly the globally-first doc keeps the span; every
    other carrier loses exactly those 3 sentences; non-carriers untouched."""
    from log_analysis_ai_spark.operators.dedup import c4_span_dedup

    boiler = " All rights reserved. Copyright note here! Do not reproduce?"
    n = 400
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("Doc "), F.col("id"), F.lit(" opens uniquely."),
            F.when(F.col("id") % 20 != 7, F.lit(boiler)).otherwise(F.lit("")),
        ).alias("text"),
    )
    got = {r.doc_id: (r.clean_text, r.n_removed_sentences)
           for r in c4_span_dedup(base.repartition(16)).collect()}
    carriers = [i for i in range(n) if i % 20 != 7]
    keeper = min(carriers)
    assert got[keeper][1] == 0 and boiler in got[keeper][0]
    for i in carriers:
        if i != keeper:
            assert got[i] == (f"Doc {i} opens uniquely.", 3), i
    for i in range(n):
        if i % 20 == 7:
            assert got[i] == (f"Doc {i} opens uniquely.", 0), i


def test_top_2gram_tie_break_convention(spark):
    """Rae et al. leave the tie-break among equally-frequent top 2-grams
    unspecified; this engine's documented convention — the lexicographically
    LARGEST tied gram wins — is pinned here on corpora where tied grams have
    DIFFERENT lengths (the only case where the choice changes the metric)."""
    from log_analysis_ai_spark.functions.text import repetition_stats

    rows = [
        (0, "aa bb cc aa bb cc"),  # 'aa bb'x2, 'bb cc'x2, 'cc aa'x1 → tie
        (1, "q w q w"),            # 'q w'x2, 'w q'x1 → unique max
        (2, "longword x longword x"),  # 'longword x'x2 vs 'x longword'x1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.top_2gram_char_frac for r in repetition_stats(df).collect()}
    # doc0: tied at 2 occurrences; lexicographically largest of
    # {'aa bb','bb cc'} is 'bb cc' (len 5) → 2*5/17
    assert abs(got[0] - 2 * 5 / len(rows[0][1])) < 1e-12
    assert abs(got[1] - 2 * 3 / len(rows[1][1])) < 1e-12
    assert abs(got[2] - 2 * 10 / len(rows[2][1])) < 1e-12


def test_gopher_repetition_filter_flags(spark):
    """Full Table A1 keep flag: a clean long doc passes every one of the 13
    bounds; heavy 2-gram repetition, duplicated paragraphs, and a repeated
    10-gram each fail their own rule. (Short docs fail the singleton
    top-4gram bound by construction — the paper applies these rules to
    >=50-word pages; the clean case here is sized accordingly.)"""
    from log_analysis_ai_spark.functions.text import gopher_repetition_filter

    clean = " ".join(f"word{i:02d} token{i:02d}" for i in range(20))  # 40 uniques
    para = "same paragraph body here\n\nsame paragraph body here"
    tengram = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, "x y x y x y x y"),        # top-2gram frac way over 0.20
            (2, clean),
            (3, para + "\n\nunique closing paragraph text"),  # dup_para over 0.30
            (4, (tengram + " ") * 2 + clean),  # repeated 10-gram over 0.10
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_repetition_filter(df).collect()}
    got = {k: r.keep_repetition for k, r in out.items()}
    assert got == {1: False, 2: True, 3: False, 4: False}
    assert out[3].dup_para_frac > 0.30
    assert out[4].dup_10gram_char_frac > 0.10


def test_gopher_quality_stats_match_bruteforce(spark):
    import re

    from log_analysis_ai_spark.functions.text import gopher_quality_filter

    rows = [
        (0, "the cat sat on the mat with a hat and that was that to be sure of it have fun " * 4),
        (1, "short text"),
        (2, "- bullet one\n- bullet two\nplain line"),
        (3, "trailing dots...\nand more…\nclean"),
        (4, "#### #tags# everywhere # here"),
        (5, "12 34 56 78 90"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.n_words,
            round(r.mean_word_len, 9),
            round(r.symbol_word_ratio, 9),
            round(r.bullet_line_frac, 9),
            round(r.ellipsis_line_frac, 9),
            round(r.alpha_word_frac, 9),
            r.stopword_count,
            r.keep_quality,
        )
        for r in gopher_quality_filter(df).collect()
    }
    stop = ("the", "be", "to", "of", "and", "that", "have", "with")
    for i, t in rows:
        toks = re.split(" +", t)
        nw = len(toks)
        wc = len(re.sub(" +", "", t))
        sym = t.count("#") + t.count("…") + (len(t) - len(t.replace("...", ""))) / 3
        lines = t.split("\n")
        bl = sum(1 for x in lines if re.match(r"^\s*[-*•]", x))
        el = sum(1 for x in lines if x.endswith("...") or x.endswith("…"))
        aw = sum(1 for x in toks if re.search("[A-Za-z]", x))
        low = [x.lower() for x in toks]
        sc = sum(1 for s in stop if s in low)
        mean = wc / nw
        keep = (
            50 <= nw <= 100000 and 3.0 <= mean <= 10.0 and sym / nw <= 0.1
            and bl / len(lines) <= 0.9 and el / len(lines) <= 0.3
            and aw / nw >= 0.8 and sc >= 2
        )
        want = (
            nw, round(mean, 9), round(sym / nw, 9),
            round(bl / len(lines), 9), round(el / len(lines), 9),
            round(aw / nw, 9), sc, keep,
        )
        assert got[i] == want, (i, got[i], want)


def test_c4_clean_matches_bruteforce(spark):
    import re

    from log_analysis_ai_spark.functions.text import c4_clean

    rows = [
        (0, 'Good sentence one. Another fine line!\nno punctuation here\nUses javascript today.\nKept line?\n"Quoted."'),
        (1, "One two three. Four five six. Seven eight nine. Ten eleven twelve. So many words. The end here."),
        (2, "Lorem Ipsum dolor sit amet oh yes. " * 6),
        (3, "code = { x: 1 }. Valid sentence here. More words now. And more again. Again some more. Final full stop."),
        (4, "Too short here. Really truly."),
        (5, "Wait for it... then it happened! A cliffhanger ensued... More prose followed. Then some more. And an end."),
        (6, "ok.\nJust two.\nThree words kept. Plus more here. Another one kept. Final line stays. Yes truly kept."),
        # the 4-vs-5-word line boundary (paper: MIN_WORDS_PER_LINE = 5)
        (7, "Four words right here.\nFive words are right here. Plus filler sentence words more. Third sentence is here too."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_sentences, r.keep_c4)
        for r in c4_clean(df).collect()
    }
    for i, t in rows:
        kept = [
            x
            for x in t.split("\n")
            if re.search(r'[.!?"]\s*$', x)
            and len(re.split(r" +", x.strip(" "))) >= 5
            and "javascript" not in x.lower()
        ]
        clean = "\n".join(kept)
        # a sentence is a RUN of terminal punctuation: '...' counts once
        ns = len(re.findall(r"[.!?]+", clean))
        keep = ns >= 3 and "lorem ipsum" not in t.lower() and "{" not in t
        assert got[i] == (clean, ns, keep), (i, got[i], (clean, ns, keep))
    assert got[1][2] and not got[2][2] and not got[3][2] and not got[4][2]
    # ellipses: doc 5 has 6 sentence runs (two of them '...'), keepable
    assert got[5][1] == 6 and got[5][2]
    # <5-word lines dropped: doc 6 keeps only the last line's 5 sentences
    assert got[6][0].startswith("Three words kept.") and got[6][1] == 5 and got[6][2]
    # doc 4 keeps its 5-word line but fails the 3-sentence doc rule (2)
    assert got[4] == ("Too short here. Really truly.", 2, False)
    # doc 7: the 4-word first line is dropped, the 5-word line survives
    assert got[7][0].startswith("Five words are right here.") and got[7] == (
        rows[7][1].split("\n")[1], 3, True,
    )


def test_substring_dedup_matches_bruteforce(spark):
    """EXACTSUBSTR-style duplicated-substring removal (Lee et al. 2022):
    exact parity with a pure-Python brute force under the documented
    conventions (windows = overlapping W-token runs compared as token
    sequences; globally-first occurrence by (id, position) kept; every
    token of a non-kept occurrence removed; each surviving token carries
    its own leading whitespace; trailing whitespace survives verbatim).
    Covers: runs longer than W (union of overlapping windows), whitespace
    variation between occurrences (same token sequence, different
    separators), within-doc repeats, exact-duplicate docs, docs shorter
    than W, empty / all-whitespace text, and leading/trailing whitespace."""
    import re

    from log_analysis_ai_spark.operators.dedup import substring_dedup

    W = 5
    run = "the quick brown fox jumps over seven lazy"  # 8 tokens > W
    rows = [
        (10, "unique ten opener " + run + " ten closing words"),
        # same token sequence, different whitespace (tabs + double spaces)
        (20, "twenty starts\tdifferently  " + run.replace(" over", "  over\tseven").replace(" seven lazy", " lazy")),
        (30, "thirty has " + run + " then again " + run + " twice"),
        (40, "short doc only"),
        (50, ""),
        (60, "   \t "),
        (70, "  leading whitespace then " + run + " and trailing spaces   "),
        (80, "unique ten opener " + run + " ten closing words"),  # exact dup of 10
        (90, "ninety " + run + " mid " + run[:19] + " overlapping partial run end pad pad2 pad3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_removed_tokens)
        for r in substring_dedup(df, window_tokens=W).collect()
    }

    wins: dict[str, list] = {}
    for did, t in rows:
        toks = re.findall(r"\S+", t)
        for i in range(max(len(toks) - W + 1, 0)):
            wins.setdefault(" ".join(toks[i : i + W]), []).append((did, i))
    removed: dict[int, set] = {}
    for occ in wins.values():
        if len(occ) > 1:
            for did, i in sorted(occ)[1:]:
                removed.setdefault(did, set()).update(range(i, i + W))
    for did, t in rows:
        wtoks = re.findall(r"\s*\S+", t)
        rem = removed.get(did, set())
        tail = t[sum(len(x) for x in wtoks):]
        want = ("".join(x for j, x in enumerate(wtoks) if j not in rem) + tail, len(rem))
        assert got[did] == want, (did, got[did], want)
    # cross-checks of the interesting rows
    assert got[10][1] == 0                      # globally first: untouched
    assert got[80] == ("", len(re.findall(r"\S+", rows[0][1])))  # exact dup: fully removed
    assert got[20][1] >= W and "quick" not in got[20][0]         # whitespace variant deduped
    assert got[30][1] >= 8                      # within-doc second run removed
    assert got[40] == ("short doc only", 0) and got[50] == ("", 0)
    assert got[60] == ("   \t ", 0)             # all-whitespace round-trips
    assert got[70][0].startswith("  leading") and got[70][0].endswith("   ")


def test_substring_dedup_invariant_to_parallelism(spark):
    """Keep-first is order-DEFINED (global min by (id, position)), so the
    output must be bit-identical at any partition count."""
    from log_analysis_ai_spark.operators.dedup import substring_dedup

    base = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("Lead "), F.col("id"), F.lit(" "),
            F.when(F.col("id") % 3 == 0,
                   F.lit("hot shared run alpha beta gamma delta epsilon ")).otherwise(F.lit("")),
            F.when(F.col("id") % 7 == 0,
                   F.lit("cold shared run omega psi chi phi upsilon ")).otherwise(F.lit("")),
            F.lit("tail "), F.col("id"),
        ).alias("text"),
    )
    want = None
    for parts in (1, 7, 32):
        got = sorted(
            (r.doc_id, r.clean_text, r.n_removed_tokens)
            for r in substring_dedup(base.repartition(parts), window_tokens=5).collect()
        )
        if want is None:
            want = got
        assert got == want, parts


def test_substring_dedup_hot_window(spark):
    """Planted hot key: ONE boilerplate token run shared by 95% of docs
    (the 'All rights reserved' shape the partial agg absorbs map-side).
    Exactly the globally-first carrier keeps the run; every other carrier
    loses the full duplicated run — the boiler tokens PLUS the two opener
    tokens ('opens uniquely') that extend it, since windows sliding over
    them avoid the doc-id token and are therefore also corpus-duplicated;
    non-carriers untouched."""
    from log_analysis_ai_spark.operators.dedup import substring_dedup

    boiler = " all rights reserved contact the site owner today"  # 8 tokens
    n = 400
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("doc "), F.col("id"), F.lit(" opens uniquely"),
            F.when(F.col("id") % 20 != 7, F.lit(boiler)).otherwise(F.lit("")),
        ).alias("text"),
    )
    got = {r.doc_id: (r.clean_text, r.n_removed_tokens)
           for r in substring_dedup(base.repartition(16), window_tokens=8).collect()}
    carriers = [i for i in range(n) if i % 20 != 7]
    keeper = min(carriers)
    assert got[keeper][1] == 0 and boiler in got[keeper][0]
    for i in carriers:
        if i != keeper:
            assert got[i] == (f"doc {i}", 10), i
    for i in range(n):
        if i % 20 == 7:
            assert got[i] == (f"doc {i} opens uniquely", 0), i


def test_incremental_minhash_dedup_exact_append_and_bucketed_index(spark):
    """Batch-vs-persisted-index dedup: at threshold=1.0 exactly the planted
    clones match (modified/novel docs never do); appending a corpus delta
    to the index makes its clones findable without a rebuild; and the
    bucketed index layout saves exactly one Exchange vs the same probe
    against an unbucketed signature table."""
    from log_analysis_ai_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_dedup,
        minhash_banded,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i} zeta{i} eta{i}")
         for i in range(30)],
        "doc_id long, text string",
    )
    clones = corpus.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    modified = (
        corpus.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 15))
        .withColumn("doc_id", F.col("doc_id") + 2000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" novel suffix")))
    )
    novel = spark.createDataFrame(
        [(3000 + i, f"totally new content row {i} nothing shared") for i in range(3)],
        "doc_id long, text string",
    )
    batch = clones.unionByName(modified).unionByName(novel)
    try:
        build_minhash_index(corpus, "t_inc_idx", n_buckets=4)
        out = incremental_minhash_dedup(
            spark, batch, "t_inc_idx", corpus, threshold=1.0
        )
        got = {(r.new_id, r.corpus_id, r.jaccard) for r in out.collect()}
        assert got == {(1000 + i, i, 1.0) for i in range(10)}

        # append a corpus delta: its clones become findable, no rebuild
        delta = spark.createDataFrame(
            [(100, "fresh delta doc tokens one two three four")],
            "doc_id long, text string",
        )
        build_minhash_index(delta, "t_inc_idx", n_buckets=4, mode="append")
        full_corpus = corpus.unionByName(delta)
        probe = delta.withColumn("doc_id", F.col("doc_id") + 5000)
        got2 = {
            (r.new_id, r.corpus_id)
            for r in incremental_minhash_dedup(
                spark, probe, "t_inc_idx", full_corpus, threshold=1.0
            ).collect()
        }
        assert got2 == {(5100, 100)}

        # bucketed layout: the candidate band-bucket join reads the index
        # with ZERO exchange on its side (Bucketed: true scan; only the
        # batch side shuffles, into the index's 4-bucket layout) — one
        # fewer Exchange than the same join against an unbucketed
        # signature table. Pinned on the candidate stage itself because
        # compute_once checkpoints it out of the operator's final plan.
        minhash_banded(corpus).write.mode("overwrite").saveAsTable("t_inc_plain")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            def cand_plan(table):
                nb = minhash_banded(batch).withColumnRenamed("_id", "_nid")
                cand = (
                    spark.table(table)
                    .join(nb, ["band", "bucket"])
                    .select(
                        F.col("_nid").alias("new_id"), F.col("_id").alias("corpus_id")
                    )
                    .distinct()
                )
                return cand._jdf.queryExecution().executedPlan().toString()

            bucketed, plain = cand_plan("t_inc_idx"), cand_plan("t_inc_plain")
            assert "Bucketed: true" in bucketed
            assert bucketed.count("Exchange") == plain.count("Exchange") - 1, (
                bucketed.count("Exchange"), plain.count("Exchange"),
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_inc_idx")
        spark.sql("DROP TABLE IF EXISTS t_inc_plain")


def test_normalize_text_rules_and_engine_parity(spark):
    """strip-controls -> unicode-normalize -> collapse-ws, each pinned on a
    targeted row, with DuckDB's utf8proc nfc_normalize as the independent
    UAX#15 cross-check (the entry oracle runs it corpus-wide; this pins the
    exact planted cases)."""
    import duckdb

    from log_analysis_ai_spark.functions.text import normalize_text

    rows = [
        # control byte BETWEEN base and combining mark: strip-first lets
        # NFC compose; NFC-first could not (order property)
        (1, "Cafe\x01́"),
        (2, "étude"),        # plain decomposed -> composed
        (3, "a  b\t\nc"),          # ws collapse
        (4, ""),                   # empty stays empty
        (5, None),                 # NULL stays NULL
        (6, "d\x00e\x7ff\x1fg"),   # strip set incl NUL/DEL/unit-sep
        (7, "café"),          # already NFC: is_normalized fast path
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.text
        for r in normalize_text(d, collapse_ws=True).collect()
    }
    assert got[1] == "Café"
    assert got[2] == "étude"
    assert got[3] == "a b c"
    assert got[4] == ""
    assert got[5] is None
    assert got[6] == "defg"
    assert got[7] == "café"
    con = duckdb.connect()
    for doc_id, text in rows:
        if text is None:
            continue
        oracle = con.execute(
            "select regexp_replace(nfc_normalize(regexp_replace(?, "
            "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')), "
            "'\\s+', ' ', 'g')",
            [text],
        ).fetchone()[0]
        assert got[doc_id] == oracle, doc_id


def test_normalize_text_forms_flags_and_plan(spark):
    """NFKC folds compatibility chars (ligature fi); strip/collapse flags
    are independently togglable; the op is a narrow single pass — NO
    Exchange in the plan; bad form raises."""
    import pytest

    from log_analysis_ai_spark.functions.text import normalize_text

    d = spark.createDataFrame(
        [(1, "ﬁle  x\x01y")], "doc_id long, text string"
    )
    nfkc = normalize_text(d, form="NFKC").collect()[0].text
    assert nfkc == "file  xy"  # ligature folded, ws kept (collapse off)
    raw = normalize_text(d, strip_controls=False).collect()[0].text
    assert "\x01" in raw and raw.startswith("ﬁ")  # NFC keeps ligature
    out = normalize_text(d, out_col="text_norm", collapse_ws=True)
    assert out.columns == ["doc_id", "text", "text_norm"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="form"):
        normalize_text(d, form="NFCX")


def test_semantic_dedup_geometry_and_keep_rule(spark):
    """SemDeDup on planted geometry: two well-separated clusters; inside
    cluster A three near-identical vectors (pairwise cos > 1-eps) of which
    the LEAST-prototypical (lowest centroid cosine) must be the keeper;
    the far-off member of A and all of B are singletons (absent rows).
    Brute-force check uses the operator's own deterministic centroids."""
    import numpy as np

    from log_analysis_ai_spark.operators.similarity import (
        ivf_centroids,
        semantic_dedup,
    )

    rows = [
        (1, [10.0, 0.0, 0.1]),
        (2, [10.0, 0.0, 0.0]),   # ~same direction as 1
        (3, [10.0, 0.05, 0.05]), # ~same direction as 1
        (4, [7.0, 7.0, 0.0]),    # cluster A-ish but distinct direction
        (5, [0.0, 0.0, 9.0]),    # cluster B
        (6, [0.1, 0.0, 9.0]),    # cluster B, near-dup of 5
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    eps = 0.002
    out = {r.vec_id: r for r in semantic_dedup(d, eps=eps, n_lists=2).collect()}
    # groups: {1,2,3} and {5,6}; 4 is a singleton (absent)
    assert set(out) == {1, 2, 3, 5, 6}
    assert len({out[i].group_id for i in (1, 2, 3)}) == 1
    assert len({out[i].group_id for i in (5, 6)}) == 1
    assert out[1].group_id != out[5].group_id
    # keep rule: lowest centroid_sim within each group, ties by id
    cent = ivf_centroids(d, n_lists=2).astype("float64")

    def csim(v):
        m = np.asarray(v, dtype="float64")
        # mirror ivf_assign_udf: argmin over -2x·c + ||c||², float64 cents
        d2 = -2.0 * (m @ cent.T) + (cent * cent).sum(1)
        c = cent[d2.argmin()]
        return float(m @ c / (np.linalg.norm(m) * np.linalg.norm(c)))

    for group in ({1, 2, 3}, {5, 6}):
        expect_keeper = min(group, key=lambda i: (csim(rows[i - 1][1]), i))
        keepers = {i for i in group if out[i].keep}
        assert keepers == {expect_keeper}, group
        for i in group:
            assert out[i].centroid_sim == pytest.approx(csim(rows[i - 1][1]), abs=1e-12)


def test_semantic_dedup_invariance_and_validation(spark):
    import pytest as _pytest

    from log_analysis_ai_spark.operators.similarity import semantic_dedup

    d = spark.range(60).selectExpr(
        "id AS vec_id",
        "array(cast(id % 5 AS double), cast((id % 5) * 2 AS double), 1.0d) AS embedding",
    )
    base = {
        (r.vec_id, r.group_id, r.keep)
        for r in semantic_dedup(d, eps=1e-9, n_lists=4).collect()
    }
    again = {
        (r.vec_id, r.group_id, r.keep)
        for r in semantic_dedup(d.repartition(7), eps=1e-9, n_lists=4).collect()
    }
    assert base == again and len(base) > 0
    # exactly one keeper per group, keeper id == group label (min id here)
    per: dict = {}
    for vec_id, gid, keep in base:
        per.setdefault(gid, []).append((vec_id, keep))
    for gid, members in per.items():
        assert sum(1 for _, k in members if k) == 1
        assert min(v for v, _ in members) == gid
    with _pytest.raises(ValueError, match="eps"):
        semantic_dedup(d, eps=1.0)


def test_semantic_dedup_csim_independent_of_batch_shape(spark):
    """A vector and its clone must get the SAME centroid cosine wherever
    the Arrow batching puts them, or the (csim, id) keep order stops being
    a function of the data and the clone can win. Each 3-row batch here
    holds an original at row 0 and its clone at row 2; a BLAS matmul
    computes those two rows with different kernels, which differ in the
    last ulp for most vectors."""
    from log_analysis_ai_spark.operators.similarity import (
        ivf_assign_udf,
        ivf_centroids,
        semantic_dedup,
    )

    rng = np.random.default_rng(11)
    n = 24
    orig, filler = rng.standard_normal((2, n, 64))
    rows = []
    for k in range(n):
        rows += [(k, orig[k].tolist()), (1000 + k, filler[k].tolist()),
                 (2000 + k, orig[k].tolist())]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        cent = ivf_centroids(d, n_lists=4)
        got = {
            r.vec_id: r.csim
            for r in d.select(
                "vec_id", ivf_assign_udf(cent)(F.col("embedding")).csim.alias("csim")
            ).collect()
        }
        out = {r.vec_id: r for r in semantic_dedup(d, eps=1e-6, n_lists=4).collect()}
    finally:
        spark.conf.set(key, old)
    for k in range(n):
        assert got[k] == got[2000 + k], k
        assert out[k].keep and not out[2000 + k].keep, k
        assert out[k].group_id == out[2000 + k].group_id
    assert set(out) == set(range(n)) | {2000 + k for k in range(n)}


def test_strip_html_rules_and_duckdb_parity(spark):
    """Targeted rows pin each rule: script/style payloads removed whole
    (incl. a '</p>' hidden in a script string), comments gone, block
    closers become line breaks, stray '<' survives, entities decode ONE
    level after stripping, NULL stays NULL; each non-null row is
    cross-checked against DuckDB replaying the same pattern chain."""
    import duckdb

    from log_analysis_ai_spark.functions.text import (
        HTML_ENTITY_REPLACEMENTS,
        HTML_STRIP_PATTERNS,
        strip_html,
    )

    rows = [
        (1, '<p>Hello <b>world</b></p><p>next</p>'),
        (2, '<script>var p="</p>";</script>after'),
        (3, '<style>p{}</style>kept<!-- gone -->'),
        (4, 'a < b and <3 stay'),
        (5, '&amp;amp; &lt;script&gt;x&lt;/script&gt;'),
        (6, 'A<br>B</div>C'),
        (7, None),
        (8, '<SCRIPT SRC="x">y</SCRIPT><P CLASS="z">case</P>'),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in strip_html(d).collect()}
    assert got[1] == "Hello world next"
    assert got[2] == "after"
    assert got[3] == "kept"
    assert got[4] == "a < b and <3 stay"
    # one-level decode, inert text: literal '&amp;' and '<script>' remain
    assert got[5] == "&amp; <script>x</script>"
    assert got[6] == "A B C"
    assert got[7] is None
    assert got[8] == "case"
    con = duckdb.connect()
    for doc_id, text in rows:
        if text is None:
            continue
        expr, params = "?", [text]
        for pat, repl in HTML_STRIP_PATTERNS:
            expr = f"regexp_replace({expr}, ?, ?, 'g')"
            params += [pat, repl]
        for ent, ch in HTML_ENTITY_REPLACEMENTS:
            expr = f"replace({expr}, ?, ?)"
            params += [ent, ch]
        expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
        # duckdb binds ?s in textual order: text first, then chain args
        oracle = con.execute(f"select {expr}", params).fetchone()[0]
        assert got[doc_id] == oracle, doc_id


def test_strip_html_plan_narrow_and_flags(spark):
    from log_analysis_ai_spark.functions.text import strip_html

    d = spark.createDataFrame([(1, "<p>x  y</p>")], "doc_id long, text string")
    out = strip_html(d, out_col="clean", collapse_ws=False)
    assert out.columns == ["doc_id", "text", "clean"]
    # collapse off: the tag replacements' raw spaces/newlines survive
    assert out.collect()[0].clean != "x y"
    plan = strip_html(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan
