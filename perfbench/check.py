"""Output checks against the expectations from `inputs`, and a self-test
proving the checks catch a wrong answer.

A check takes what a run produced, already collected into plain Python
values, and returns the list of mismatches (empty = correct)."""

from __future__ import annotations

import copy


def check_pipeline(got: dict, exp: dict) -> list[str]:
    bad = []
    for key in ("dead_letter_rows", "sink_counts", "agg_rows", "agg_digest",
                "template_ids", "turn_rows", "turn_digest"):
        if got.get(key) != exp[key]:
            g, e = got.get(key), exp[key]
            if isinstance(e, list) and len(e) > 8:
                g, e = f"{len(g or [])} items", f"{len(e)} items"
            bad.append(f"{key}: got {g}, want {e}")
    return bad


def check_corpus(got: dict, exp: dict) -> list[str]:
    bad = []
    if got.get("near_dup_pairs") != exp["clone_pairs"]:
        missing = [p for p in exp["clone_pairs"] if p not in (got.get("near_dup_pairs") or [])]
        bad.append(
            f"near_dup_pairs: got {len(got.get('near_dup_pairs') or [])}, "
            f"want {len(exp['clone_pairs'])} (missing {missing[:3]})"
        )
    for key in ("removed_sentences", "removed_tokens"):
        g = got.get(key)
        if g != exp[key]:
            diff = [i for i, (a, b) in enumerate(zip(g or [], exp[key])) if a != b]
            bad.append(f"{key}: totals {sum(g or [])} vs {sum(exp[key])}, first bad docs {diff[:3]}")
    return bad


def failed_frac(results: list[dict], exp: dict, checker) -> float:
    return sum(1 for r in results if checker(r, exp)) / max(len(results), 1)


def self_test(got: dict, exp: dict, checker) -> dict:
    """Corrupt a correct result and require the check to reject it: one sink
    count off by one (pipeline) or one planted clone pair dropped (corpus).
    Returns the failed_frac of the clean and corrupted results."""
    bad = copy.deepcopy(got)
    if checker is check_pipeline:
        bad["sink_counts"][0][2] += 1
    else:
        bad["near_dup_pairs"] = bad["near_dup_pairs"][1:]
    clean = failed_frac([got], exp, checker)
    corrupted = failed_frac([bad], exp, checker)
    return {"clean_failed_frac": clean, "corrupted_failed_frac": corrupted,
            "ok": clean == 0 and corrupted > 0}
