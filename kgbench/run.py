"""Benchmark entry point: one workload, one closed-loop client, one session.

    python3 kgbench/run.py --workload kg_resume --seed 1 --seconds 1 --trace 0

Run from the repository root. Everything the run writes goes under
``.kgbench_work/`` in the repository and is deleted at exit. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the Spark event log is switched on,
spans label the layers, and the metrics are the per-layer ones. Lines
starting with ``#`` are context. See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent

LAYERS = [
    "pipeline", "extract", "linking", "canonicalize", "tableio.write",
    "tableio.post_check", "tableio.stage_input", "checkpoint",
    "dedup", "sketches", "graph",
]
LAYER_METRICS = [
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("build_jobs", "count"),
    ("tasks", "count"), ("task_s", "s"), ("task_skew", "ratio"),
    ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("read_mb", "MB"), ("py_mb", "MB"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def context(**kv) -> None:
    print("# " + " ".join(f"{k}={v}" for k, v in kv.items()), flush=True)


def mem_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def isolate(work: Path) -> dict:
    """Point Spark, the JVM and Python workers at ``work``; return session conf."""
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # session.get_spark sizes master and shuffle partitions from this (default 32)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, spark-submit's launcher included: temp files under the work
    # dir and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    return {
        "spark.driver.memory": f"{max(1, min(4, int(mem_gb() // 4)))}g",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def event_log_conf(work: Path) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": (work / "eventlog").as_uri(),
        "spark.eventLog.compress": "false",
    }


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin from this process closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(wall: dict, self_: dict, events: dict, n_jobs: int) -> dict:
    """Every LAYERS x LAYER_METRICS value, per job (``task_skew`` as is)."""
    out = {}
    for layer in LAYERS:
        ev = events.get(layer, {})
        for name, unit in LAYER_METRICS:
            if name == "wall_s":
                v = wall.get(layer, 0.0) / n_jobs
            elif name == "self_s":
                v = self_.get(layer, 0.0) / n_jobs
            elif name == "task_skew":
                v = ev.get(name, 0.0)
            else:
                v = ev.get(name, 0) / n_jobs
            out[f"{layer}.{name}"] = {"value": v, "unit": unit}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not (ROOT / "wikidata_pq_spark" / "__init__.py").is_file():
        print(f"error: no wikidata_pq_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    work = ROOT / ".kgbench_work" / f"{args.workload}-{os.getpid()}"
    conf = isolate(work)
    if args.trace:
        conf.update(event_log_conf(work))

    import proctree
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import pyspark
    from wikidata_pq_spark.session import get_spark

    context(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        cpus=os.environ["SPARK_GRAFT_CPUS"], mem_gb=round(mem_gb(), 1),
        driver_memory=conf["spark.driver.memory"], pyspark=pyspark.__version__,
    )

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"kgbench_{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0

        tracer = spans.Tracer(spark.sparkContext)
        wl = workloads.WORKLOADS[args.workload](
            spark, str(work), args.seed, tracer, bool(args.trace)
        )
        t0 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t0

        attempted = failed = 0
        results, cpus_s, written, peaks = [], [], [], []
        sampler_cpu_s = spent = 0.0
        with wl.instrumented():
            # the first job runs in a cold session; more follow only while
            # less than --seconds of job time is spent
            while attempted == 0 or spent < args.seconds:
                out = str(work / "out" / f"job{attempted}")
                attempted += 1
                t0 = time.perf_counter()
                try:
                    c0 = proctree.cpu_seconds()
                    with proctree.PeakMem() as peak:
                        with tracer.job() if args.trace else contextlib.nullcontext():
                            res = wl.job(out)
                    cpu = proctree.cpu_seconds() - c0 - peak.cpu_s
                    sampler_cpu_s += peak.cpu_s
                    spark.catalog.clearCache()
                    wl.check(out, res)
                    results.append(res)
                    cpus_s.append(cpu)
                    peaks.append(peak.peak_mb)
                    written.append(workloads.dir_mb(out))
                except Exception:
                    failed += 1
                    traceback.print_exc(file=sys.stderr)
                finally:
                    spent += time.perf_counter() - t0
                    shutil.rmtree(out, ignore_errors=True)

        walls = [r["wall_s"] for r in results]
        job_s = statistics.median(walls) if walls else 0.0
        for k, v in wl.context(results).items() if results else ():
            context(**{k: round(v, 4)})
        context(
            session_s=round(session_s, 3), setup_s=round(setup_s, 3),
            job_walls=[round(w, 3) for w in walls],
            sampler_cpu_s=round(sampler_cpu_s / attempted, 4),
        )
        if args.trace:
            stop_session(spark)
            spark = None
            events = spans.parse_event_log(str(work / "eventlog"))
            wall, self_, covered = spans.span_times(tracer.timeline)
            metrics = layer_metrics(wall, self_, events, max(1, len(results)))
            metrics["trace.job_s"] = {"value": job_s, "unit": "s"}
            # the share of job time inside a module layer: the `pipeline`
            # span's own time is the pipeline's glue, which no layer owns
            metrics["trace.span_cover"] = {
                "value": (covered - self_.get("pipeline", 0.0)) / sum(walls) if walls else 0.0,
                "unit": "ratio",
            }
            unlabelled = events.get(spans.UNLABELLED, {}).get("jobs", 0)
            context(unlabelled_jobs_in_timed_jobs=unlabelled)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "job_s": {"value": job_s, "unit": "s"},
                "rows_per_s": {"value": wl.rows / job_s if job_s else 0.0, "unit": "1/s"},
                "cpu_s": {"value": statistics.median(cpus_s) if cpus_s else 0.0, "unit": "s"},
                "peak_rss_mb": {"value": max(peaks) if peaks else 0.0, "unit": "MB"},
                "written_mb": {"value": statistics.median(written) if written else 0.0, "unit": "MB"},
            }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".kgbench_work").rmdir()
        except OSError:
            pass

    context(run_wall_s=round(time.perf_counter() - t_start, 2))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
