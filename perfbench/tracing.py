"""Tracing for the per-layer run, built from the benchmark's own code.

- `Tracer.span` records name, start, end, parent and run id in memory, and
  sets a Spark job group for its duration, so every Spark job launched
  inside the span is attributable to it (jobs of a nested span belong to
  the nested span).
- `TracedStore` is a `SinkStore` whose table writes, reads and commit
  checks are spans; `patched` wraps the module-level calls into the drain
  and pipeline layers that `run_checkpointed` makes.
- `Tracer.collect` reads each span's jobs and stage metrics from the
  driver's status store (`sc._jsc.sc().statusStore()`, which exists with
  `spark.ui.enabled=false`), after the timed region.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass

from log_analysis_ai_spark.lineage import SinkStore


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        self._n += 1
        rec = {
            "id": self._n, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{self.run_id}-{self._n}", **attrs,
        }
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])
            self.spans.append(rec)

    # --- status store ------------------------------------------------------------

    def collect(self) -> None:
        """Attach Spark job and stage metrics to every span that has none yet."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        todo = [s for s in self.spans if "jobs" not in s]
        if not todo:
            return
        # full Spark 4 signature: (statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); null statuses = every stage
        stages = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            store.stageList(None, False, False, self.sc._gateway.new_array(jvm.double, 0), None)
        )
        by_id: dict[int, list] = {}
        for st in stages:
            by_id.setdefault(st.stageId(), []).append(st)
        tracker = self.sc.statusTracker()
        for s in todo:
            s.update(jobs=0, job_s=0.0, executor_run_s=0.0, shuffle_write_bytes=0,
                     spill_bytes=0, gc_s=0.0, widest_stage=None)
            widest = None
            for j in tracker.getJobIdsForGroup(s["group"]):
                s["jobs"] += 1
                jd = store.job(j)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    s["job_s"] += (jd.completionTime().get().getTime()
                                   - jd.submissionTime().get().getTime()) / 1000
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    for st in by_id.pop(sid, []):  # a stage shared by jobs counts once
                        s["executor_run_s"] += st.executorRunTime() / 1000
                        s["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        s["spill_bytes"] += st.diskBytesSpilled()
                        s["gc_s"] += st.jvmGcTime() / 1000
                        if widest is None or st.numCompleteTasks() > widest.numCompleteTasks():
                            widest = st
            if widest is not None and s["name"] == "drain.mine_catalog":
                s["task_skew"] = _task_skew(store, widest)

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def _task_skew(store, stage) -> float:
    """Slowest task ÷ median task of a stage (task durations from the store).
    The mining stage is the widest stage that ran in the mine_catalog job
    group: its width is fixed by the miner's explicit repartition (AQE splits
    the collect into several jobs and skips stages it reuses)."""
    tasks = store.taskList(stage.stageId(), stage.attemptId(), stage.numCompleteTasks() + 1)
    it = tasks.iterator()
    durs = []
    while it.hasNext():
        d = it.next().duration()
        if d.isDefined():
            durs.append(d.get())
    if not durs:
        return 0.0
    durs.sort()
    med = durs[len(durs) // 2]
    return durs[-1] / med if med else float(durs[-1])


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


@dataclass
class TracedStore(SinkStore):
    """SinkStore whose writes, reads and commit checks are spans."""

    tracer: Tracer | None = None

    def write_table(self, df, name, fingerprint, partition_by=None, run_id=None):
        with self.tracer.span(f"lineage.write.{name}") as sp:
            row = super().write_table(df, name, fingerprint, partition_by, run_id)
        sp.update(rows=row["rows"], files=row["n_files"],
                  bytes=tree_bytes(os.path.join(self.table_path(name), row["snapshot"])))
        return row

    def read_table(self, spark, name):
        with self.tracer.span(f"lineage.read.{name}"):
            return super().read_table(spark, name)

    def committed(self, stage, fingerprint):
        with self.tracer.span("lineage.committed", stage=stage):
            return super().committed(stage, fingerprint)


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Wrap the layer calls `run_checkpointed` makes through module globals:
    drain's passes (looked up in operators.drain by mine_and_assign) and the
    pipeline stages (looked up in job). route's eager count is captured by
    wrapping DataFrame.count for the duration of the route call."""
    from log_analysis_ai_spark import job
    from log_analysis_ai_spark.operators import drain

    saved = []

    def wrap(mod, attr, name, after=None):
        fn = getattr(mod, attr)

        def traced(*a, **kw):
            with tracer.span(name) as sp:
                out = fn(*a, **kw)
            if after:
                after(sp, out)
            return out

        saved.append((mod, attr, fn))
        setattr(mod, attr, traced)

    wrap(drain, "with_shard_key", "drain.with_shard_key")
    wrap(drain, "mine_catalog", "drain.mine_catalog",
         lambda sp, cat: sp.update(templates=sum(len(v) for v in cat.values())))
    wrap(drain, "assign_templates", "drain.assign_templates")
    for attr in ("parse", "mine", "enrich", "aggregate", "sink_counts"):
        wrap(job, attr, f"pipeline.{attr}")

    route = job.route

    def traced_route(df, *a, **kw):
        counted = []
        cls = type(df)  # the concrete DataFrame class (pyspark.sql.classic)
        count = cls.count

        def counting(self):
            n = count(self)
            counted.append(n)
            return n

        with tracer.span("pipeline.route") as sp:
            cls.count = counting
            try:
                out = route(df, *a, **kw)
            finally:
                cls.count = count
        sp.update(count_rows=sum(counted))
        return out

    saved.append((job, "route", route))
    job.route = traced_route
    try:
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


PIPELINE_TABLES = ("dead_letter", "turns_parsed", "templates", "routed",
                   "agg_template_tool", "sink_counts")
WRITE_FIELDS = ("s", "rows", "bytes", "files", "shuffle_write_bytes",
                "spill_bytes", "executor_run_s", "gc_s")
DEDUP_OPS = ("minhash", "c4", "substring")


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced iteration. A layer the workload does
    not exercise reads 0."""
    m: dict[str, float] = {
        k: 0.0 for k in (
            "job.self_s", "job.spark_jobs",
            "drain.mine_catalog.s", "drain.mine_catalog.executor_run_s",
            "drain.mine_catalog.shuffle_write_bytes", "drain.mine_catalog.task_skew",
            "drain.catalog_templates", "pipeline.route.count_s", "pipeline.route.count_rows",
            "lineage.commit_s",
            *(f"lineage.write.{t}.{f}" for t in PIPELINE_TABLES for f in WRITE_FIELDS),
            *(f"dedup.{o}.{f}" for o in DEDUP_OPS
              for f in ("s", "executor_run_s", "shuffle_write_bytes")),
            "dedup.minhash.candidate_pairs", "dedup.minhash.verified_pairs",
            "dedup.minhash.verify_yield", "dedup.c4.removed_sentences",
            "dedup.substring.removed_tokens",
        )
    }
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        yield s
        for c in children.get(s["id"], ()):
            yield from subtree(c)

    for s in spans:
        name, d = s["name"], dur[s["id"]]
        if name == "job.run_checkpointed":
            m["job.self_s"] = d - sum(dur[c["id"]] for c in children.get(s["id"], ()))
            m["job.spark_jobs"] = sum(x["jobs"] for x in subtree(s))
        elif name == "drain.mine_catalog":
            m.update({
                "drain.mine_catalog.s": d,
                "drain.mine_catalog.executor_run_s": s["executor_run_s"],
                "drain.mine_catalog.shuffle_write_bytes": s["shuffle_write_bytes"],
                "drain.mine_catalog.task_skew": s.get("task_skew", 0.0),
                "drain.catalog_templates": s["templates"],
            })
        elif name == "pipeline.route":
            m["pipeline.route.count_s"] = d
            m["pipeline.route.count_rows"] = s["count_rows"]
        elif name.startswith("lineage.write."):
            t = name[len("lineage.write."):]
            for f in WRITE_FIELDS:
                m[f"lineage.write.{t}.{f}"] = d if f == "s" else s[f]
            m["lineage.commit_s"] += d - s["job_s"]
        elif name.startswith("dedup."):
            op = name[len("dedup."):]
            m[f"dedup.{op}.s"] = d
            m[f"dedup.{op}.executor_run_s"] = s["executor_run_s"]
            m[f"dedup.{op}.shuffle_write_bytes"] = s["shuffle_write_bytes"]
            for k, v in s.items():
                if k.startswith("dedup."):
                    m[k] = v
    return m
