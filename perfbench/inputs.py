"""Seeded benchmark inputs and their expected outputs, cached on disk.

Inputs are a pure function of (kind, size, seed) and land under
`.bench_cache/` in the checkout, so a repeated seed reuses them. Every
expected output is computed here, once per seed, outside every timer:

- transcripts: a disjoint conv-id range picked by the seed, generated by
  the package's own fixture generator; the expectation comes from the
  independent pandas reference (`oracle.pipeline.run_oracle`).
- dedup corpus: documents of unique filler words with planted exact clones,
  a boilerplate sentence block and a boilerplate token run; the generator
  writes the planted ground truth next to the corpus.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

CACHE = ".bench_cache"
N_FILES = 8  # input part files: enough splits that the scan is not one task


def digest(pdf: pd.DataFrame) -> int:
    """Order-independent 64-bit digest of a frame's rows."""
    h = pd.util.hash_pandas_object(pdf.reset_index(drop=True), index=False)
    return int(h.to_numpy(np.uint64).sum(dtype=np.uint64))


def turns_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """(conv_id, turn_idx, text, template_id) with fixed dtypes, the per-turn
    identity both sides digest."""
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].astype(str).to_numpy(dtype=object),
            "turn_idx": pdf["turn_idx"].to_numpy(dtype=np.int64),
            "text": pdf["text"].astype(str).to_numpy(dtype=object),
            "template_id": pdf["template_id"].to_numpy(dtype=np.int64),
        }
    )


def agg_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "window_start": pd.to_datetime(pdf["window_start"]).astype("datetime64[ns]").astype(np.int64),
            "template_id": pdf["template_id"].to_numpy(dtype=np.int64),
            "tool": pdf["tool"].astype(str).to_numpy(dtype=object),
            "n_turns": pdf["n_turns"].to_numpy(dtype=np.int64),
        }
    )


def sink_rows(pdf: pd.DataFrame) -> list[list]:
    return sorted(
        [str(c), bool(a), int(n)]
        for c, a, n in zip(pdf["template_class"], pdf["anomaly_flag"], pdf["n"])
    )


def _write_parts(pdf: pd.DataFrame, out_dir: str) -> None:
    os.makedirs(out_dir)
    for j, part in enumerate(np.array_split(np.arange(len(pdf)), N_FILES)):
        pdf.iloc[part].to_parquet(
            f"{out_dir}/part-{j:04d}.parquet", index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )


def _cached(name: str, build) -> tuple[str, dict]:
    """(input dir, expected) for cache entry `name`, built once by
    `build(tmp_dir) -> expected`; the entry appears atomically."""
    path = os.path.join(CACHE, name)
    exp_path = os.path.join(path, "expected.json")
    if not os.path.exists(exp_path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        expected = build(tmp)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(expected, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(exp_path) as f:
        return os.path.join(path, "input"), json.load(f)


# --- transcripts ----------------------------------------------------------------


def transcripts(seed: int, n_conv: int) -> tuple[str, dict]:
    """Transcripts for conversations [s, s + n_conv), s picked by the seed
    (disjoint ranges for distinct seeds below 10^5)."""

    def build(tmp: str) -> dict:
        from log_analysis_ai_spark.fixtures import gen_role_lookup, gen_tool_lookup, gen_transcripts_range
        from log_analysis_ai_spark.oracle.pipeline import run_oracle

        start = (seed % 100_000) * n_conv
        pdf = gen_transcripts_range(start, start + n_conv)
        _write_parts(pdf, os.path.join(tmp, "input"))
        ref = run_oracle(pdf, gen_tool_lookup(), gen_role_lookup())
        return {
            "rows": len(pdf),
            "dead_letter_rows": 0,
            "sink_counts": sink_rows(ref.sink_counts),
            "agg_rows": len(ref.agg_template_tool),
            "agg_digest": digest(agg_frame(ref.agg_template_tool)),
            "template_ids": sorted(int(t) for t in ref.templates["template_id"]),
            "turn_rows": len(ref.turns_parsed),
            "turn_digest": digest(turns_frame(ref.turns_parsed)),
        }

    return _cached(f"transcripts-{n_conv}-{seed}", build)


# --- dedup corpus ------------------------------------------------------------------

BLOCK_SENTENCES = 4      # boilerplate block: 4 sentences x 15 tokens = 60 tokens
BLOCK_WORDS = 15
RUN_TOKENS = 60          # boilerplate token run inside a filler sentence
BOILER_SHARE = 0.35      # share of docs carrying each boilerplate
CLONE_SHARE = 0.05       # share of docs that are exact clones of an earlier doc


def make_corpus(seed: int, n_docs: int, doc_tokens: int) -> tuple[pd.DataFrame, dict]:
    """Documents of unique filler words plus planted duplication, and the
    exact outcome the three dedup operators must produce on them.

    Filler words are unique per (doc, position), so the only shared text is
    what is planted: a sentence block B (in 35% of docs), a token run R
    inside a filler sentence (in 35%), and exact clones (5%, each of a
    distinct earlier non-clone doc). The seed picks which docs carry what
    and the words' letters, not how many docs or how long a word is, so
    every seed gives the operators the same amount of work. Hence:
    - near-dup pairs at Jaccard >= 0.8 are exactly the clone pairs (B and R
      together stay under a quarter of a doc's shingles);
    - C4 span dedup removes all sentences of a clone and B's sentences from
      every non-clone carrying B except the first;
    - substring dedup (W <= 60 tokens) removes all tokens of a clone and
      B's and R's tokens from every non-clone carrying them except the first.
    Both rules hold for any MinHash that gives equal signatures to equal
    texts, so the check does not depend on the permutation scheme."""
    rng = np.random.default_rng(seed)
    block = " ".join(
        " ".join(f"boiler{s}x{w}" for w in range(BLOCK_WORDS)) + "."
        for s in range(BLOCK_SENTENCES)
    )
    run = " ".join(f"tokrun{w}" for w in range(RUN_TOKENS))
    tag = "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 6))
    # clones only after the first tenth, so an unused original always exists
    clone_at = set(rng.choice(np.arange(n_docs // 10, n_docs), round(CLONE_SHARE * n_docs), replace=False))
    b_docs = set(rng.choice(n_docs, round(BOILER_SHARE * n_docs), replace=False))
    r_docs = set(rng.choice(n_docs, round(BOILER_SHARE * n_docs), replace=False))
    texts: list[str] = []
    info: list[dict] = []  # per doc: sentences, tokens, B, R, clone_of
    originals: list[int] = []
    for d in range(n_docs):
        if originals and d in clone_at:
            o = originals.pop(int(rng.integers(len(originals))))
            texts.append(texts[o])
            info.append(dict(info[o], clone_of=o))
            continue
        has_b, has_r = d in b_docs, d in r_docs
        sents, n_tok, w = [], 0, 0
        while n_tok < doc_tokens:
            k = int(rng.integers(8, 21))
            words = [f"{tag}d{d}w{w + j}" for j in range(k)]
            w += k
            sents.append(words)
            n_tok += k
        sent_txt = [" ".join(ws) + "." for ws in sents]
        if has_r:  # inside a filler sentence, filler words on both sides
            i = int(rng.integers(len(sents)))
            cut = int(rng.integers(1, len(sents[i])))
            sent_txt[i] = " ".join(sents[i][:cut] + [run] + sents[i][cut:]) + "."
            n_tok += RUN_TOKENS
        if has_b:  # after at least one filler sentence
            sent_txt.insert(int(rng.integers(1, len(sent_txt) + 1)), block)
            n_tok += BLOCK_SENTENCES * BLOCK_WORDS
        texts.append(" ".join(sent_txt))
        n_sent = len(sents) + (BLOCK_SENTENCES if has_b else 0)
        info.append({"sentences": n_sent, "tokens": n_tok, "b": has_b, "r": has_r, "clone_of": None})
        originals.append(d)

    first_b = min((d for d, x in enumerate(info) if x["b"]), default=None)
    first_r = min((d for d, x in enumerate(info) if x["r"]), default=None)
    removed_sent, removed_tok, pairs = [], [], []
    for d, x in enumerate(info):
        if x["clone_of"] is not None:
            pairs.append([x["clone_of"], d])
            removed_sent.append(x["sentences"])
            removed_tok.append(x["tokens"])
            continue
        removed_sent.append(BLOCK_SENTENCES if x["b"] and d != first_b else 0)
        removed_tok.append(
            (BLOCK_SENTENCES * BLOCK_WORDS if x["b"] and d != first_b else 0)
            + (RUN_TOKENS if x["r"] and d != first_r else 0)
        )
    pdf = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    truth = {
        "docs": n_docs,
        "tokens": int(sum(x["tokens"] for x in info)),
        "clone_pairs": sorted(pairs),
        "removed_sentences": removed_sent,
        "removed_tokens": removed_tok,
    }
    return pdf, truth


def corpus(seed: int, n_docs: int, doc_tokens: int) -> tuple[str, dict]:
    def build(tmp: str) -> dict:
        pdf, truth = make_corpus(seed, n_docs, doc_tokens)
        _write_parts(pdf, os.path.join(tmp, "input"))
        return truth

    return _cached(f"corpus-{n_docs}x{doc_tokens}-{seed}", build)
