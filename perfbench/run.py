"""Repository benchmark: seeded transcript-pipeline and corpus-dedup
workloads, each timed run checked against an independent reference.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 20 --trace 0

One Spark session at local[nproc], one client, one job at a time (a closed
loop). The run:
1. builds (or reuses from `.bench_cache/`) the seeded input and its
   expected output, outside every timer;
2. sets up several times — session start plus an untimed warm run of the
   workload in the same JVM — and reports the median as `setup_s`;
3. runs one untimed warm-up iteration, then timed iterations for
   `--seconds`, checking every timed iteration's output;
4. prints a detail line (`perfbench-detail {...}`: every sample with its
   host stamp, the set-up times, the driver heap, the checker self-test)
   and, last, one JSON result line.

`--trace 0` reports the end-to-end metrics; `--trace 1` alternates
untraced and traced iterations and reports the per-layer metrics (medians
over traced iterations), with the span tree written to
`.bench_out/trace-<workload>-<seed>.json`.

Exits non-zero without a result line when the package is not under the
current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

SETUP_REPS = 3
PACKAGE = "log_analysis_ai_spark"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _configure(root: str, work: str) -> dict:
    """Environment for the session, set before the JVM starts: every
    scratch path inside the checkout, the driver heap sized from this
    host's memory, local[nproc]."""
    from perfbench import host

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap_mb = host.driver_heap_mb()
    nproc = os.cpu_count() or 1
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        SPARK_GRAFT_CPUS=str(nproc),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    return {
        "nproc": nproc,
        "heap_mb": heap_mb,
        "conf": {
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        },
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    from perfbench import host

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    for pid in host.process_tree()[1:]:  # anything left (Python workers)
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "job.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[0] = root  # import perfbench as a package, never its modules bare

    from perfbench import check, host
    from perfbench.tracing import Tracer, layer_metrics
    from perfbench.workloads import WORKLOADS, written_bytes

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = _configure(root, work)

    from log_analysis_ai_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, work)
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t

    # --- set-up, several times: session start + warm run ----------------------
    setup_s, get_spark_s = [], []
    for r in range(SETUP_REPS):
        if r:
            wl.spark.stop()  # the JVM stays; the next context starts in it
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{env['nproc']}]",
                          extra_conf=env["conf"])
        get_spark_s.append(time.perf_counter() - t0)
        wl.open_session(spark)
        wl.warm()
        setup_s.append(time.perf_counter() - t0)

    # --- warm-up: the first iteration in a fresh context runs slow; untimed ----
    wh = wl.before()
    wl.iteration()
    shutil.rmtree(wh, ignore_errors=True)

    # --- timed loop ------------------------------------------------------------
    samples, traced_layers, selftest = [], [], None
    t_loop = time.perf_counter()
    i = 0
    while True:
        traced = bool(args.trace) and i % 2 == 1
        wh = wl.before()
        b0 = written_bytes(wh)
        stamp0 = host.host_stamp()
        cpu0 = host.tree_cpu_s()
        tracer = Tracer(spark, f"i{i}") if traced else None
        err = None
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            try:
                out = wl.iteration(tracer)
            except Exception as e:  # counted as a failed run, never dropped
                out, err = None, f"{type(e).__name__}: {e}"[:500]
            wall = time.perf_counter() - t0
        cpu = host.tree_cpu_s() - cpu0
        stamp1 = host.host_stamp()
        sample = {
            "i": i, "traced": traced, "wall_s": wall, "cpu_s": cpu,
            "peak_rss_mb": rss.peak / 2**20, "written_bytes": written_bytes(wh) - b0,
            "steal_ticks": stamp1["steal_ticks"] - stamp0["steal_ticks"],
            "loadavg": stamp1["loadavg"], "nproc": stamp1["nproc"],
        }
        if out is None:
            sample["problems"] = [err]
        else:
            got = wl.collect(out)
            sample["problems"] = wl.checker(got, wl.expected)
            if selftest is None and not sample["problems"]:
                selftest = check.self_test(got, wl.expected, wl.checker)
            if traced:
                tracer.collect()
                if hasattr(wl, "traced_counts"):
                    wl.traced_counts(out, tracer)
                traced_layers.append(layer_metrics(tracer.spans))
                tracer.dump(os.path.join(root, ".bench_out",
                                         f"trace-{args.workload}-{args.seed}.json"))
        samples.append(sample)
        shutil.rmtree(wh, ignore_errors=True)
        i += 1
        n_plain = sum(1 for s in samples if not s["traced"])
        if (time.perf_counter() - t_loop >= args.seconds and n_plain
                and (traced_layers or not args.trace or i > 50)):
            break

    plain = [s for s in samples if not s["traced"]]
    failed = sum(1 for s in samples if s["problems"])
    attempted = len(samples)
    wall = _median([s["wall_s"] for s in plain])
    if args.trace:
        metrics = {"session.get_spark_s": {"value": _median(get_spark_s), "unit": "s"}}
        for k in traced_layers[0] if traced_layers else ():
            metrics[k] = {"value": _median([m[k] for m in traced_layers]), "unit": _unit(k)}
        traced_wall = _median([s["wall_s"] for s in samples if s["traced"]])
        metrics["trace.overhead"] = {"value": traced_wall / wall - 1 if wall else 0.0,
                                     "unit": "ratio"}
    else:
        metrics = {
            "wall_s": {"value": wall, "unit": "s"},
            "rows_per_s": {"value": wl.rows / wall if wall else 0.0, "unit": "1/s"},
            "cpu_s": {"value": _median([s["cpu_s"] for s in plain]), "unit": "s"},
            "written_bytes": {"value": _median([s["written_bytes"] for s in plain]), "unit": "bytes"},
            "peak_rss_mb": {"value": _median([s["peak_rss_mb"] for s in plain]), "unit": "MB"},
            "setup_s": {"value": _median(setup_s), "unit": "s"},
        }
    correct = failed == 0 and bool(selftest and selftest["ok"])
    detail = {
        "workload": args.workload, "seed": args.seed, "rows": wl.rows,
        "driver_heap_mb": env["heap_mb"], "prepare_s": prepare_s,
        "setup_s": setup_s, "get_spark_s": get_spark_s,
        "failed_frac": failed / attempted, "checker_self_test": selftest,
        "samples": samples,
    }
    _stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    print("perfbench-detail " + json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("task_skew") or name.endswith("verify_yield"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
