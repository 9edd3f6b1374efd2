"""The three workloads. Each one prepares its inputs (untimed), runs one
iteration through the public entry points (timed by the caller), and
collects what the iteration produced into plain values for the checker
(untimed).

- pipeline_full: cold warehouse, `job.run_checkpointed(resume=False)` —
  the paper's path, where Drain's two passes dominate.
- pipeline_resume: warehouse restored to "validate + parse/mine committed",
  then `run_checkpointed(resume=True)` recomputes routed and the aggregates
  from the checkpoint; Drain does no work (the bypass case for Drain
  changes), lineage reads and writes both run.
- corpus_dedup: `minhash_near_dups`, `c4_span_dedup` and
  `substring_dedup(window_tokens=50)` on a planted-duplicate corpus, each
  written out in full; no pipeline code runs.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

from . import check, inputs
from .tracing import TracedStore, patched, tree_bytes

# Sized so that a run (session start, set-up, timed loop, checks) stays
# well inside the benchmark's per-run budget on a 4-core host.
PIPELINE_CONVS = 2500          # ~27k turns
CORPUS_DOCS = 600
CORPUS_DOC_TOKENS = 300


class Workload:
    checker = None

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work = work_dir
        self._n = 0

    def _fresh(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{name}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path


class _Pipeline(Workload):
    checker = staticmethod(check.check_pipeline)

    def prepare(self) -> None:
        self.input_dir, self.expected = inputs.transcripts(self.seed, PIPELINE_CONVS)
        self.rows = self.expected["rows"]

    def open_session(self, spark) -> None:
        from log_analysis_ai_spark.fixtures import gen_role_lookup, gen_tool_lookup

        self.spark = spark
        self.tool = spark.createDataFrame(gen_tool_lookup())
        self.role = spark.createDataFrame(gen_role_lookup())

    def _run(self, wh: str, input_dir: str, resume: bool, tracer=None) -> dict:
        from log_analysis_ai_spark.job import run_checkpointed
        from log_analysis_ai_spark.lineage import SinkStore

        store = TracedStore(wh, tracer=tracer) if tracer else SinkStore(wh)
        with (patched(tracer) if tracer else contextlib.nullcontext()):
            with (tracer.span("job.run_checkpointed") if tracer else contextlib.nullcontext()):
                transcripts = self.spark.read.parquet(input_dir)
                return run_checkpointed(
                    self.spark, transcripts, self.tool, self.role, store,
                    resume=resume, input_desc=input_dir,
                )

    def warm(self) -> None:
        self.last_warm = self._fresh("warm")
        self._run(self.last_warm, self.input_dir, resume=False)

    def collect(self, out: dict) -> dict:
        tp = out["turns_parsed"].select("conv_id", "turn_idx", "text", "template_id").toPandas()
        agg = out["agg_template_tool"].toPandas()
        return {
            "dead_letter_rows": out["dead_letter"].count(),
            "sink_counts": inputs.sink_rows(out["sink_counts"].toPandas()),
            "agg_rows": len(agg),
            "agg_digest": inputs.digest(inputs.agg_frame(agg)),
            "template_ids": sorted(
                int(r.template_id) for r in out["templates"].select("template_id").collect()
            ),
            "turn_rows": len(tp),
            "turn_digest": inputs.digest(inputs.turns_frame(tp)),
        }


class PipelineFull(_Pipeline):
    def before(self) -> str:
        self.wh = self._fresh("wh")
        return self.wh

    def iteration(self, tracer=None) -> dict:
        return self._run(self.wh, self.input_dir, resume=False, tracer=tracer)


class PipelineResume(_Pipeline):
    RECOMPUTED = ("routed", "agg_template_tool", "sink_counts")

    def warm(self) -> None:
        # the checkpoint every iteration resumes from: a full run's
        # warehouse with the stages after parse/mine taken out (their tables
        # and lineage rows); then one resume from it, since the resume path's
        # driver-side planning keeps warming over several iterations
        super().warm()
        self.base = self.last_warm
        for t in self.RECOMPUTED:
            shutil.rmtree(os.path.join(self.base, t))
        lineage = os.path.join(self.base, "_lineage.jsonl")
        with open(lineage) as f:
            rows = [r for r in f if json.loads(r)["stage"] not in self.RECOMPUTED]
        with open(lineage, "w") as f:
            f.writelines(rows)
        self.before()
        self.iteration()

    def before(self) -> str:
        self.wh = self._fresh("wh")
        shutil.copytree(self.base, self.wh)
        return self.wh

    def iteration(self, tracer=None) -> dict:
        return self._run(self.wh, self.input_dir, resume=True, tracer=tracer)


class CorpusDedup(Workload):
    checker = staticmethod(check.check_corpus)

    def prepare(self) -> None:
        self.input_dir, self.expected = inputs.corpus(self.seed, CORPUS_DOCS, CORPUS_DOC_TOKENS)
        self.rows = self.expected["docs"]

    def open_session(self, spark) -> None:
        self.spark = spark

    def _ops(self):
        from log_analysis_ai_spark.operators import dedup

        return (
            ("minhash", lambda df, c: dedup.minhash_near_dups(df, threshold=0.8, caches=c)),
            ("c4", lambda df, c: dedup.c4_span_dedup(df, caches=c).select(
                "doc_id", "clean_text", "n_removed_sentences")),
            ("substring", lambda df, c: dedup.substring_dedup(df, window_tokens=50, caches=c).select(
                "doc_id", "clean_text", "n_removed_tokens")),
        )

    def _run(self, out_dir: str, input_dir: str, tracer=None) -> dict:
        df = self.spark.read.parquet(input_dir)
        for name, op in self._ops():
            caches: list = []
            with (tracer.span(f"dedup.{name}") if tracer else contextlib.nullcontext()):
                op(df, caches).write.parquet(os.path.join(out_dir, name))
                for c in caches:
                    c.unpersist()
        return {"dir": out_dir}

    def warm(self) -> None:
        self._run(self._fresh("warm"), self.input_dir)

    def before(self) -> str:
        self.wh = self._fresh("out")
        return self.wh

    def iteration(self, tracer=None) -> dict:
        return self._run(self.wh, self.input_dir, tracer)

    def collect(self, out: dict) -> dict:
        read = lambda name: self.spark.read.parquet(os.path.join(out["dir"], name))  # noqa: E731
        pairs = sorted([int(r.id_a), int(r.id_b)] for r in read("minhash").select("id_a", "id_b").collect())
        sent = read("c4").select("doc_id", "n_removed_sentences").toPandas().sort_values("doc_id")
        tok = read("substring").select("doc_id", "n_removed_tokens").toPandas().sort_values("doc_id")
        return {
            "near_dup_pairs": pairs,
            "removed_sentences": [int(x) for x in sent["n_removed_sentences"]],
            "removed_tokens": [int(x) for x in tok["n_removed_tokens"]],
        }

    def traced_counts(self, out: dict, tracer) -> None:
        """Candidate pairs of the LSH stage and the operators' removal counts,
        recorded on the dedup spans (untimed, traced iterations only)."""
        from log_analysis_ai_spark.operators import dedup

        got = self.collect(out)
        cands = dedup.minhash_candidates(self.spark.read.parquet(self.input_dir)).count()
        verified = len(got["near_dup_pairs"])
        spans = {s["name"]: s for s in tracer.spans}
        spans["dedup.minhash"].update({
            "dedup.minhash.candidate_pairs": cands,
            "dedup.minhash.verified_pairs": verified,
            "dedup.minhash.verify_yield": verified / cands if cands else 0.0,
        })
        spans["dedup.c4"]["dedup.c4.removed_sentences"] = sum(got["removed_sentences"])
        spans["dedup.substring"]["dedup.substring.removed_tokens"] = sum(got["removed_tokens"])


WORKLOADS = {
    "pipeline_full": PipelineFull,
    "pipeline_resume": PipelineResume,
    "corpus_dedup": CorpusDedup,
}


def written_bytes(path: str) -> int:
    return tree_bytes(path) if os.path.exists(path) else 0
