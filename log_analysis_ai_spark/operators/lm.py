"""Corpus-trained n-gram language-model quality scoring (CCNet-style).

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data", LREC) ranks web documents by the perplexity
of a KenLM 5-gram model and keeps the low-perplexity tail — the standard
"does this read like language" curation signal. KenLM is a native C++
dependency this container doesn't have, and its exact scores are not
reproducible in SQL; this module implements the same SIGNAL as a
deterministic add-α smoothed BIGRAM model trained on the corpus itself
(or any reference corpus), entirely in Spark expressions:

    P(w_i | w_{i-1}) = (C(w_{i-1}, w_i) + α) / (C(w_{i-1}) + α·V)
    cross_entropy(doc) = mean_i  −ln P(w_i | w_{i-1})     (natural log)
    perplexity(doc)    = exp(cross_entropy)

with a BOS sentinel `<s>` prepended so the first token is predicted too.
Everything is a pure function of the corpus — no RNG, no native deps — so
the whole pipeline is hash-ORACLED against DuckDB running the identical
arithmetic (the entry query rounds to 6 decimals; the float-sum ordering
slack across engines is ~1e-13 relative, nine orders below the rounding).

Scale shape (the 100 TB reading):
- bigram construction is a NARROW whole-stage-codegen Generate
  (`arrays_zip(slice(toks,1,n), slice(toks,2,n))` + explode — no lambda
  higher-order functions, which are CodegenFallback; see NOTES_r8).
- training is two partial aggregations: groupBy(w1, w2) over the corpus
  (map-side combine absorbs hot bigrams), then the context totals
  groupBy(w1) computed FROM the bigram table (model-sized input, one row
  per distinct bigram — the hot `<s>` context is at most V rows there,
  never corpus-sized).
- scoring joins the corpus bigram stream to the model on (w1, w2): a
  shuffle hash join whose build side is model-sized; hot bigrams are AQE
  skew-splittable. The model DataFrame can be persisted as a parquet
  table and reused to score NEW batches incrementally (unseen bigrams
  back off to cb=0 / cu=0 via the left join + coalesce).

Reference parallel: the reference engine has no LM scorer; the closest
surface is its quality-score tooling. Rule source is the published CCNet
recipe, simplified to an order-2 model with add-α smoothing (Lidstone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BOS = "<s>"


def _bigrams(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) bigram stream with BOS context — narrow codegen
    Generate, one output row per token. NULL texts produce no rows (the
    scorer re-attaches them with NULL scores)."""
    toks = F.concat(F.array(F.lit(BOS)), F.split(F.col(col), " "))
    n = F.size(F.split(F.col(col), " "))
    z = F.arrays_zip(
        F.slice(toks, 1, n).alias("w1"), F.slice(toks, 2, n).alias("w2")
    )
    return df.select(id_col, F.explode(z).alias("_bg")).select(
        id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2")
    )


def _train(bg: DataFrame) -> DataFrame:
    """Model from a bigram stream: (w1, w2, cb, cu)."""
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    return cb.join(cb.groupBy("w1").agg(F.sum("cb").alias("cu")), "w1")


def _score(df: DataFrame, bg: DataFrame, model: DataFrame, id_col: str, alpha: float) -> DataFrame:
    """`df` + lm_cross_entropy / lm_perplexity of its bigram stream `bg`
    under `model` (add-α smoothing, flat backoff for unseen bigrams)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    scored = (
        bg.join(model, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(vocab_size(model)))
        .select(
            id_col,
            (
                -F.log(
                    (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(alpha))
                    / (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(alpha) * F.col("V"))
                )
            ).alias("_nll"),
        )
        .groupBy(id_col)
        .agg(F.avg("_nll").alias("lm_cross_entropy"))
        .withColumn("lm_perplexity", F.exp("lm_cross_entropy"))
    )
    return df.join(scored, id_col, "left")


def train_bigram_lm(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Train the model: one row per distinct corpus bigram with its count
    `cb` and its context's total count `cu`. Two partial aggs + one
    model-sized join (broadcast-able when the vocab is small; never
    corpus-sized). Persist the result as parquet to score future batches
    against a frozen model."""
    return _train(_bigrams(df, col, id_col))


def vocab_size(model: DataFrame) -> DataFrame:
    """1-row vocabulary size V = distinct predicted tokens in the model
    (used as the smoothing denominator's α·V term)."""
    return model.agg(F.countDistinct("w2").alias("V"))


def bigram_lm_score(
    df: DataFrame,
    model: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Score each row of `df` against `model`: adds `lm_cross_entropy`
    (mean −ln P, natural log) and `lm_perplexity` (its exp). Rows whose
    text is NULL keep NULL scores (left join back to the input). Bigrams
    unseen in the model take a FLAT backoff cb=0, cu=0 → P = 1/V — one
    corpus-sized join on (w1, w2) instead of two (an exact context-aware
    backoff would need a second join on w1 alone); self-trained scoring
    (`lm_perplexity`) never hits the backoff path, so its scores are the
    exact Lidstone estimates."""
    return _score(df, _bigrams(df, col, id_col), model, id_col, alpha)


def lm_perplexity(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", alpha: float = 0.5
) -> DataFrame:
    """Self-trained convenience: train on `df`, score `df` — the CCNet
    shape where the reference corpus IS the crawl being ranked. For a
    frozen external model, call train_bigram_lm once, persist, and pass
    it to bigram_lm_score.

    r9: the training counts and the scoring stream are the SAME bigram
    explode, so it is materialized once (compute_once) and both sides
    read it — the pre-r9 composition ran the corpus tokenize+explode
    twice (guide §2.3: don't compute things twice). Same expressions,
    identical output. (No widen_if_narrow here: the explode's output is
    immediately shuffled by the aggregations, so pre-widening a narrow
    scan only adds a repartition — measured slower at sandbox scale and
    a no-op decision at cluster scale where scans arrive wide.)"""
    from .dedup import compute_once

    bg = compute_once(_bigrams(df, col, id_col))
    return _score(df, bg, _train(bg), id_col, alpha)
