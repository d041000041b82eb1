#!/usr/bin/env python3
"""Benchmark of the translation-recommendation job and the curation chain.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload translate_wide --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One process runs one workload as a closed loop: one job at a time, one
``local[<cores>]`` session.  Set-up (session start, input generation
from the seed, a warm-up job) is timed as
``setup_s``; then jobs run until ``--seconds`` have passed (at least
the workload's ``min_jobs``), each one checked against the generator's
ground truth, with the session's caches dropped between jobs.
``--trace 1`` alternates timed jobs with traced ones, which have every
engine module wrapped
(perfbench/layertrace.py), prints the per-layer metrics and writes the
full per-layer table to ``.bench_out/layers_<workload>.json``.
``--workload all`` runs each workload in a fresh process.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The exit code is 1
when any check fails.  See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

from layertrace import STAGE_METRICS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ORDER = ("translate_wide", "translate_tall", "translate_rescore", "curate_mix")

#: input generation is repeated this many times; setup_s takes the median
GEN_REPEATS = 3

_UNITS = {"call_s": "s", "task_s": "s", "gc_s": "s", "jobs": "count", "calls": "count",
          "util": "ratio", "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
          "spill_bytes": "bytes", "output_bytes": "bytes"}


def _layer(prefixes, metrics) -> list[tuple[str, str]]:
    return [(f"{p}.{m}", _UNITS[m]) for p in prefixes for m in metrics]


#: per-layer metrics of a traced run: (name, unit).  Modules that run
#: Spark actions get the status-store metrics; lazy modules record the
#: driver time spent building plans and any job they fire eagerly.
PER_LAYER = (
    [("session.call_s", "s")]
    + _layer(("sources.readers", "sources.writers", "pipeline.train", "cli",
              "pipeline.curate"), ("call_s",) + STAGE_METRICS)
    + _layer(("operators.rank", "operators.features", "pipeline.assemble",
              "pipeline.score", "operators.dedup", "operators.curation",
              "operators.text"), ("call_s", "calls", "jobs"))
    + _layer([f"sources.writers.{f}" for f in
              ("write_parquet", "write_predictions_csv", "write_jsonl")],
             ("call_s", "task_s", "util"))
    + [("pipeline.train.site_s.p50", "s"), ("pipeline.train.site_s.p90", "s"),
       ("pipeline.train.site_task_s", "s"), ("cli.model_load_s", "s"),
       ("cli.unattributed_s", "s"), ("pipeline.train.rmse_mean", "rank"),
       ("trace.job_s", "s"), ("trace.overhead_s", "s")]
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=ORDER + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_env(work: str) -> dict[str, str]:
    """Pin the session to this host: every core, a driver heap of a
    quarter of memory (at most 4g), spill and temp files in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_gb = mem_kb // (1024 * 1024)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "HOST_MEM_GB": str(mem_gb),
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM (the gateway process,
    which the launcher scripts exec into) plus this process."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        total_kb += int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return total_kb / 1024.0


def run_all(args) -> int:
    code, results = 0, {}
    for name in ORDER:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, ValueError):
            results[name] = None
        if proc.returncode != 0 or not (results[name] or {}).get("correct"):
            code = 1
    print(json.dumps({"workloads": results}))
    return code


def release(spark) -> None:
    """Drop what the previous job left in the session, outside the clock.

    ``cli.run`` caches the feature matrix and nothing unpersists it; the
    next job's identical plan would read that cache and skip ranking and
    the pivot.  The curation operators cache their shingle frames the
    same way.  ``clearCache`` drops them all; a Python then a JVM
    collection lets the context cleaner free blocks that only dead
    references still hold (local checkpoints, broadcasts).  Every job
    therefore starts from the state a fresh CLI run would see, apart
    from a warm JVM.
    """
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def one_job(wl, spark, errors: list[str]):
    res = wl.job(spark)
    release(spark)
    errors += res.errors
    return res


def run_jobs(wl, spark, seconds: float, errors: list[str]) -> list:
    """At least ``wl.min_jobs`` jobs, then more until ``seconds`` have
    passed."""
    results = []
    t_end = time.perf_counter() + seconds
    while len(results) < wl.min_jobs or time.perf_counter() < t_end:
        results.append(one_job(wl, spark, errors))
    return results


def traced_window(wl, spark, seconds: float, errors: list[str]):
    """Timed and traced jobs in turn, starting and ending with a timed
    one, so that both sides sit at the same point of the warm-up
    slope.  Returns the timed results, the traced results and one row
    dict per traced job."""
    from layertrace import Tracer

    tracer = Tracer(spark)
    timed, traced, rows = [one_job(wl, spark, errors)], [], []
    t_end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < t_end:
        tracer.install()
        try:
            tracer.begin_job()
            traced.append(one_job(wl, spark, errors))
            rows.append(tracer.end_job())
        finally:
            tracer.uninstall()
        timed.append(one_job(wl, spark, errors))
    return timed, traced, rows


def median_rows(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = sorted({k for r in rows for k in r})
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def layer_metrics(rows, traced, walls, session_s: float) -> dict:
    med = median_rows(rows)
    med["session.call_s"] = session_s
    med["cli.model_load_s"] = med.get("cli.model_load.call_s", 0.0)
    rmse = [v for r in traced for v in r.rmse.values()]
    med["pipeline.train.rmse_mean"] = statistics.fmean(rmse) if rmse else 0.0
    med["trace.job_s"] = statistics.median(r.wall_s for r in traced)
    med["trace.overhead_s"] = med["trace.job_s"] - statistics.median(walls)
    return {name: {"value": med.get(name, 0.0), "unit": unit} for name, unit in PER_LAYER}


def write_table(workload: str, spark, info: dict, rows, metrics: dict) -> str:
    """The per-layer table: every wrapped function's medians, the
    per-job rows, the run's environment and the host probe."""
    from recommendation_translation_spark.bench_common import host_probe

    info = dict(info, host_probe=host_probe(spark, runs=1))
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"layers_{workload}.json")
    with open(path, "w") as f:
        json.dump({"info": info, "metrics": metrics, "median": median_rows(rows),
                   "jobs": rows}, f, indent=1, sort_keys=True)
    return path


def stop_session(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    env = host_env(work)
    os.environ.update(env)
    sys.path[:0] = [ROOT, HERE]
    # fails outside a checkout of the engine, before any result is printed
    from recommendation_translation_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
        },
    )
    session_s = time.perf_counter() - t0
    try:
        return measure(args, spark, work, env, session_s)
    finally:
        stop_session(spark)


def measure(args, spark, work: str, env: dict[str, str], session_s: float) -> int:
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    errors: list[str] = []
    gen_walls = []
    for k in range(GEN_REPEATS):
        shutil.rmtree(os.path.join(work, f"gen{k - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        wl.generate(os.path.join(work, f"gen{k}"), args.seed)
        gen_walls.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare(spark)
    prep_s = time.perf_counter() - t0
    release(spark)
    # one warm-up job: the first job of a process runs 2-3x slower than
    # later ones (class loading, JIT, codegen); the next few still gain
    # 5-10% a job.  A second warm-up job did not make runs steadier and
    # costs 10-15 s a run, which the run budget does not leave (NOTES.md).
    warm = [one_job(wl, spark, errors)]
    setup_s = session_s + statistics.median(gen_walls) + prep_s + sum(r.wall_s for r in warm)

    if args.trace:
        timed, traced, rows = traced_window(wl, spark, args.seconds, errors)
    else:
        timed = run_jobs(wl, spark, args.seconds, errors)
        traced, rows = [], []

    jobs = warm + timed + traced
    walls = [r.wall_s for r in timed]
    q1, job_s, q3 = quartiles(walls)
    attempted = sum(r.attempted for r in jobs)
    failed = sum(r.failed for r in jobs)
    rmse = [v for r in jobs for v in r.rmse.values()]
    e2e = {
        "job_s": (job_s, "s"),
        "setup_s": (setup_s, "s"),
        "artifact_bytes": (statistics.median(r.artifact_bytes for r in timed), "bytes"),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "rows": wl.rows,
        "job_s_p25": q1, "job_s_p75": q3, "jobs": len(walls), "job_walls": walls,
        "rows_per_s": wl.rows / job_s,
        "warmup_s": [r.wall_s for r in warm], "session_s": session_s,
        "fail_ratio": failed / attempted, "rmse_mean": statistics.fmean(rmse) if rmse else None,
        "rmse_baseline_ratio_max": max(
            (v / wl.truth.baseline_rmse[s] for r in jobs for s, v in r.rmse.items()),
            default=None),
        "peak_rss_mb": peak_rss_mb(spark),
        "cores": env["SPARK_GRAFT_CPUS"], "driver_memory": env["SPARK_DRIVER_MEMORY"],
        "host_mem_gb": env["HOST_MEM_GB"], "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    for name, (value, unit) in e2e.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    print("# " + json.dumps(info))
    for e in errors[:20]:
        print(f"# CHECK FAILED: {e}", file=sys.stderr)

    if args.trace:
        metrics = layer_metrics(rows, traced, walls, session_s)
        print(f"# per-layer table: {write_table(args.workload, spark, info, rows, metrics)}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
