"""Pipeline configuration shared by the Spark engine and the pandas oracle.

Drain defaults mirror the reference (depth=4, similarity=0.5 — reference:
src/data_loader_config.h:32-34); its max_children has no field, because the
sharded miner never overflows (deviation note in operators/drain.py).
Everything else is this engine's spec; the oracle consumes the SAME
instance, so the golden outputs always agree on thresholds.
"""

from __future__ import annotations

from dataclasses import dataclass

from .drain_core import DEFAULT_PREPROCESS_PATTERNS


# Shared parse regexes (used verbatim by both Spark `F.regexp_extract` and
# pandas `.str.extract` so the two sides cannot drift).
LEVEL_RE = r"^(?:\[[^\]]*\] ?)?(ERROR|WARNING|WARN|INFO|DEBUG|TRACE|FATAL)"
DETECTED_TS_RE = r"(\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}Z?|\d{2}:\d{2}:\d{2})"


@dataclass(frozen=True)
class PipelineConfig:
    # Drain (reference defaults, src/data_loader_config.h:32-34)
    depth: int = 4
    sim_threshold: float = 0.5
    # first-match-wins leading-noise strip patterns; user-supplied sets
    # REPLACE the defaults (reference: src/drain_parser.cpp:256-267).
    # Strings, not compiled — they ship to Spark workers and into the run
    # fingerprint; drain_core.compile_patterns caches compilation.
    preprocess_patterns: tuple[str, ...] = DEFAULT_PREPROCESS_PATTERNS
    # skew defusal: each logical shard splits into this many salted
    # sub-shards (salt = xxh64(conv_id) % salt_buckets — deterministic per
    # row, independent of parallelism); sub-shard catalogs merge by
    # identical masked form. The bucket count caps a HOT shard's mining
    # parallelism (one dominant template = one shard = salt_buckets tasks):
    # 4 was enough for 2 cores but starved 8+ (mine-stage scaling eff 0.74
    # at 60M turns); the cross-salt distributed dedup keeps the driver
    # collect size independent of this knob.
    salt_buckets: int = 16
    # routing / rarity (frequency-based rarity scoring per template over
    # hourly event-time windows — BASELINE.json north_star)
    anomaly_min_count: int = 5   # window count below this => anomaly_flag
    rare_min_count: int = 10     # global template count below this => class 'rare'
