"""End-to-end benchmark of the validation engine's batch jobs.

    python3 perfbench/run.py --workload validate_full --seed 1 --seconds 40 --trace 0

Run from the repository root. One process, one ``local[4]`` Spark
session, closed loop: one job at a time, each checked against the
generator's ground truth. The last stdout line is the result JSON; with
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a traced run. Scratch files live under
``perfbench/.work/`` (the generated image table is kept there, keyed by
the generator's source, and reused by later runs).

Workloads (see ``workloads.py``):

- ``validate_full``: ``validate.main`` over an 8k-image, 32-part table.
- ``curate_corpus``: ``curate.main --near-dup`` over a seeded
  8k-document corpus.

End-to-end metrics (``--trace 0``):

- ``setup_s``: process start to first job: imports, session start and
  input copy or generation. The one-off image-table build is excluded.
- ``job_s``: median wall time of the jobs in the window. A job here
  costs 40-55 s, mostly fixed per-job engine work in a JVM that is
  still compiling, so a run measures one job: the first job of a fresh
  session, Python-worker start-up included, which is what a
  ``spark-submit`` user waits for. (No warm-up job: 48 runs of this
  benchmark must fit in 3,420 s.)
- ``rows_per_s``: input rows (images or documents) / ``job_s``.
- ``cpu_s``: median user+sys CPU of the process tree (driver, JVM,
  Python workers) per job, from ``/proc``.
- ``peak_py_rss_mb``: median over jobs of the peak RSS, during a job, of
  the tree's Python processes (driver and workers). The JVM's RSS is
  printed as an annotation only: it follows G1 heap growth from a small
  initial heap, and its quartile spread over 10 validate_full runs was
  0.68, wider than any bound allows.
- ``ok_ratio``: jobs that completed and passed the output check /
  jobs attempted (``1 - failed_ratio``; never 0 while anything works).

Host noise (pre-run load1, steal share) is printed as annotations.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CPUS = 4
# a run must end within 180 s: past this, abort (no result) so the
# session still has time to shut down
DEADLINE_S = 160


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _engine_present() -> bool:
    return all(
        os.path.exists(os.path.join(REPO, p))
        for p in ("validate.py", "curate.py", "anomaly_detection_toolkit_spark/__init__.py")
    )


def _isolate_env(work: str) -> None:
    """Keep Spark's scratch files, the JVM's temp dir and Python's inside
    the checkout, and let Python workers import the engine."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def _stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM this process
    launched, and wait until every descendant process has exited."""
    import signal
    import subprocess

    import procstat
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        left = [int(p) for p in procstat.descendants()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _abort(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    t_setup = time.perf_counter()
    args = _parse(argv)
    import signal

    signal.signal(signal.SIGALRM, _abort)
    signal.alarm(DEADLINE_S)
    if not _engine_present():
        print(f"engine sources not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, REPO)

    import procstat
    import stats
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    noise = procstat.HostNoise()
    root = os.path.join(HERE, ".work")
    work = os.path.join(root, f"run-{os.getpid()}")
    cache = os.path.join(root, "cache")
    os.makedirs(cache, exist_ok=True)
    _isolate_env(work)

    from anomaly_detection_toolkit_spark.session import get_spark

    wl = WORKLOADS[args.workload](REPO, work, cache, args.seed)
    layer: dict[str, float] = {}
    annotations: dict = {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench", cpus=CPUS, extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
        layer["session.start_s"] = time.perf_counter() - t0
        build_s = wl.build_cache(spark)
        if build_s is not None:
            # once per checkout; kept out of setup_s
            annotations["image_table_build_s"] = build_s
        t0 = time.perf_counter()
        wl.materialize_input()
        layer["sources.generate_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup - (build_s or 0.0)

        results = run_jobs(spark, wl, args, layer)
        if args.trace and not results["errors"]:
            wl.layers(spark, layer)
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    annotations.update(noise.annotations())
    annotations["peak_rss_mb"] = results["rss_mb"]
    annotations["peak_jvm_rss_mb"] = results["jvm_rss_mb"]
    annotations["peak_cache_mb"] = results["cache_mb"]
    attempted = len(results["job_s"]) + results["errors"]
    failed = results["failed"]
    if args.trace:
        from workloads import per_layer_names

        unknown = set(layer) - set(per_layer_names())
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        metrics = {k: (layer.get(k, 0.0), _layer_unit(k)) for k in per_layer_names()}
    else:
        job_s, n = stats.median_n(results["job_s"])
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (job_s, "s"),
            "rows_per_s": (wl.rows / job_s, "rows/s"),
            "cpu_s": (stats.median_n(results["cpu_s"])[0], "s"),
            "peak_py_rss_mb": (stats.median_n(results["py_rss_mb"])[0], "MB"),
            "ok_ratio": (stats.ok_ratio(attempted, failed), "ratio"),
        }
        print(f"job_s median of {n} job(s)")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    if results["failures"]:
        print("output check failures: " + "; ".join(results["failures"][:10]))
    print("annotations: " + json.dumps(annotations))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if name.endswith("shuffle_bytes") or name.endswith("bytes_sent"):
        return "bytes"
    if name.endswith(("ratio", "share", "yield")):
        return "ratio"
    return "count"


def run_jobs(spark, wl, args, layer: dict) -> dict:
    """Closed loop over ``--seconds``: the next job starts only if the
    previous job's duration still fits in the window, so a run measures
    at least one job and overruns the window by at most one job's
    variation. A traced run traces its first job only."""
    import procstat
    from sparkstats import GroupCounter, storage_used_mb
    from tracer import Tracer, patched

    out = {"job_s": [], "cpu_s": [], "rss_mb": [], "jvm_rss_mb": [], "py_rss_mb": [],
           "cache_mb": [], "failed": 0, "errors": 0, "failures": []}
    window_start = time.perf_counter()
    last = 0.0
    with procstat.MemSampler(lambda: storage_used_mb(spark)) as mem:
        while not out["job_s"] or (time.perf_counter() - window_start) + last <= args.seconds:
            wl.reset()
            spark.catalog.clearCache()
            tracer = None
            if args.trace and not out["job_s"]:
                counter = GroupCounter(spark, f"{wl.name}-traced")
                tracer = Tracer(f"{wl.name}-{args.seed}", counter)
            mem.reset()
            cpu0 = procstat.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    wl.job()
                else:
                    with patched(tracer, wl.trace_targets()), tracer.span("job.main"):
                        wl.job()
            except Exception as e:  # a failed job is counted, not fatal
                out["errors"] += 1
                out["failed"] += 1
                out["failures"].append(f"job raised {type(e).__name__}: {e}")
                break
            last = time.perf_counter() - t0
            out["cpu_s"].append(procstat.tree_cpu_s() - cpu0)
            peaks = mem.peaks()
            out["rss_mb"].append(peaks["rss_mb"])
            out["jvm_rss_mb"].append(peaks["jvm_rss_mb"])
            out["py_rss_mb"].append(peaks["py_rss_mb"])
            out["cache_mb"].append(peaks["extra_mb"])
            out["job_s"].append(last)
            try:
                bad = wl.check()
            except Exception as e:  # missing or unreadable outputs
                bad = [f"output check raised {type(e).__name__}: {e}"]
            if bad:
                out["failed"] += 1
                out["failures"].extend(bad)
            if tracer is not None:
                _trace_metrics(tracer, counter, layer, last)
                counter.close()
                tracer.dump(os.path.join(HERE, ".work", f"trace-{wl.name}-{args.seed}.jsonl"))
    spark.catalog.clearCache()
    if not out["job_s"]:
        raise RuntimeError("no job completed: " + "; ".join(out["failures"]))
    return out


def _trace_metrics(tracer, counter, layer: dict, job_s: float) -> None:
    import stats

    layer["trace.job_s"] = job_s
    layer["trace.overhead_s"] = tracer.overhead_s
    total = counter.counts()
    layer["job.spark_jobs"] = total.jobs
    layer["job.spark_stages"] = total.stages
    layer["job.spark_tasks"] = total.tasks
    for name, t in stats.self_time_by_name(tracer.spans).items():
        layer[f"{name}_s"] = t
    runner_ids = set()
    for s, ids in zip(tracer.spans, tracer.job_ids):
        if s.name == "runner.job":
            runner_ids |= ids
    if runner_ids:
        c = counter.counts(runner_ids)
        layer["runner.jobs"] = c.jobs
        layer["runner.stages"] = c.stages
        layer["runner.tasks"] = c.tasks


if __name__ == "__main__":
    raise SystemExit(main())
