"""The Spark-worker zip-archive guard (log_analysis_ai_spark/_worker.py):
an unchanged archive on a worker's sys.path is not re-read before every
task, a changed one is, and the driver keeps the stock importer."""

from __future__ import annotations

import zipimport

import log_analysis_ai_spark  # noqa: F401  (installs the guard when in a worker)
from log_analysis_ai_spark import _worker


def test_driver_keeps_stock_zipimporter():
    assert not _worker.in_spark_worker()
    assert zipimport.zipimporter.invalidate_caches is _worker._stock_invalidate
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_worker_rereads_no_unchanged_archive_after_first_task(spark):
    """32 tasks on 4 reused workers. In each worker the first task swaps in
    counters around the guard and around the stock re-read; every later task
    in that worker runs setup_spark_files' importlib.invalidate_caches()
    through them. The guard must be called and the stock re-read never."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        from log_analysis_ai_spark import _worker as w

        for _ in batches:
            pass
        counts = getattr(w, "_test_counts", None)
        first = counts is None
        installed = zipimport.zipimporter.invalidate_caches is w._invalidate_caches
        if first:
            counts = w._test_counts = {"guard": 0, "reread": 0}
            guard, stock = zipimport.zipimporter.invalidate_caches, w._stock_invalidate

            def counting_guard(self):
                counts["guard"] += 1
                return guard(self)

            def counting_stock(self):
                counts["reread"] += 1
                return stock(self)

            zipimport.zipimporter.invalidate_caches = counting_guard
            w._stock_invalidate = counting_stock
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pd.DataFrame({
            "pid": [os.getpid()], "first": [first], "installed": [installed],
            "zips": [zips], "guard": [counts["guard"]], "reread": [counts["reread"]],
        })

    got = spark.range(32, numPartitions=32).mapInPandas(
        probe, "pid long, first boolean, installed boolean, zips long, guard long, reread long"
    ).toPandas()
    first = got[got["first"]]
    later = got[~got["first"]]
    assert len(got) == 32
    assert first["installed"].all()  # the guard was in place in every worker
    assert len(later) > 0  # workers were reused across tasks
    assert (got["zips"] > 0).all()  # the worker's path holds zip archives
    later_max = later.groupby("pid")[["guard", "reread"]].max()
    assert (later_max["guard"] > 0).all()  # setup_spark_files went through the guard
    assert (later_max["reread"] == 0).all(), later_max


def test_changed_archive_is_reread_in_worker(spark, tmp_path):
    """Inside a worker: an archive rewritten with a new module is re-read by
    importlib.invalidate_caches(), an unchanged one is not."""
    path = str(tmp_path / "lib.zip")

    def scenario(batches):
        import importlib
        import sys
        import zipfile

        import pandas as pd

        from log_analysis_ai_spark import _worker as w

        for _ in batches:
            pass
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("guard_mod_a.py", "X = 1\n")
        sys.path.insert(0, path)
        try:
            import guard_mod_a

            reads = []
            stock = w._stock_invalidate

            def counting_stock(self):
                reads.append(self.archive)
                return stock(self)

            w._stock_invalidate = counting_stock
            try:
                importlib.invalidate_caches()  # first sight of this importer: read, stamped
                first = reads.count(path)
                importlib.invalidate_caches()  # unchanged: skipped
                unchanged = reads.count(path) - first
                with zipfile.ZipFile(path, "w") as z:
                    z.writestr("guard_mod_a.py", "X = 1\n")
                    z.writestr("guard_mod_b.py", "Y = 2\n")
                importlib.invalidate_caches()  # changed: re-read
                changed = reads.count(path) - first - unchanged
            finally:
                w._stock_invalidate = stock
            import guard_mod_b

            val = guard_mod_a.X + guard_mod_b.Y
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            sys.modules.pop("guard_mod_a", None)
            sys.modules.pop("guard_mod_b", None)
        yield pd.DataFrame({"first": [first], "unchanged": [unchanged],
                            "changed": [changed], "val": [val]})

    got = spark.range(1, numPartitions=1).mapInPandas(
        scenario, "first long, unchanged long, changed long, val long"
    ).toPandas()
    assert got.to_dict("records") == [{"first": 1, "unchanged": 0, "changed": 1, "val": 3}]

