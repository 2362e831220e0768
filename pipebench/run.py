#!/usr/bin/env python3
"""Benchmark the two flagship pipelines warm, end to end, or per layer.

    python3 pipebench/run.py --workload kg_crawl --seed 7 --seconds 20 --trace 0

Run from the repository root.  One process generates the workload's
inputs from the seed (cached under ``.pipebench/cache``), starts a
session at ``local[<cores>]``, warms it with two concurrent untimed calls on
the same inputs, then times whole pipeline calls, each into a fresh work
directory, until ``--seconds`` would be overrun (at least one).  Every
timed call's outputs are checked.  The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
event log and the layer spans and reports the per-layer metrics instead.
The line before it, ``pipebench-record {...}``, holds the run's context
(seed, cores, input size, CPU steal and load average over the timed
window, every job's figures).  The exit code is 0 only when every job
completed and passed its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".pipebench"
#: bump when a generator changes, so cached inputs are not reused
GEN_VERSION = 5
#: untimed, concurrent pipeline calls before the first timed one
WARMUP_CALLS = 2
CACHE_KEEP = 6

import procfs  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402
from assemble import Workload as Assemble  # noqa: E402
from kg_crawl import Workload as KgCrawl  # noqa: E402

WORKLOADS = {w.name: w for w in (KgCrawl, Assemble)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size as a share of the workload's size "
                        "(for sizing measurements)")
    return p.parse_args(argv)


def materialize(cls, seed: int, scale: float):
    """Generate the workload's tables once per (workload, seed, size)
    and return (directory, seconds spent generating)."""
    cache = WORK / "cache"
    data = cache / f"{cls.name}-v{GEN_VERSION}-s{seed}-x{scale:g}"
    t = time.perf_counter()
    if not (data / ".done").exists():
        shutil.rmtree(data, ignore_errors=True)
        cls(data).generate(seed, scale)
        (data / ".done").touch()
    os.utime(data)
    # keep the cache bounded: drop the least recently used entries
    entries = sorted((p for p in cache.iterdir() if p.is_dir()),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return data, time.perf_counter() - t


def confine_scratch() -> Path:
    """Point every temp and spill directory the session uses (the
    shipped package zip, Spark's local dirs, the JVM's tmpdir) inside
    the checkout, so the run writes nowhere else."""
    tmp = WORK / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"),
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")))
    return tmp


def stop_session(spark) -> None:
    """Stop the session, end the JVM and wait until every process the
    session started has exited."""
    from pyspark import SparkContext
    started = [p for p in procfs.tree(procfs.read_stats(), os.getpid())
               if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()           # the JVM exits on stdin EOF
            proc.wait(timeout=60)
    left = procfs.wait_gone(started)
    for pid in left:
        os.kill(pid, 9)
    procfs.wait_gone(left)


def run(args, tmp: Path) -> int:
    t_proc = procfs.process_start_time()
    from ner_extractor_spark.session import get_spark

    cls = WORKLOADS[args.workload]
    data, gen_s = materialize(cls, args.seed, args.scale)
    wl = cls(data)
    cores = len(os.sched_getaffinity(0))
    tracer = None
    if args.trace:
        from layers import Tracer
        tracer = Tracer(tmp / "eventlog")

    spark = get_spark(app_name="pipebench", master=f"local[{cores}]",
                      extra_conf=tracer.spark_conf() if tracer else None)
    jobs: list[dict] = []
    traced = None                        # the first timed job's trace
    try:
        wl.load(spark)
        t_warm = time.time()
        # full-size calls, run at once: after a single cold call the next
        # one still spent 15-60% more CPU than later ones; two concurrent
        # cold calls take about as long as one and leave the next call
        # warm (NOTES.md, "Warm-up")
        pool = ThreadPoolExecutor(WARMUP_CALLS)
        try:
            warm = [pool.submit(wl.run, spark, str(tmp / f"warmup{i}"))
                    for i in range(WARMUP_CALLS)]
            for f in warm:
                f.result()
        finally:
            # on an error, stopping the session below ends the other call
            pool.shutdown(wait=False)
        for i in range(WARMUP_CALLS):
            shutil.rmtree(tmp / f"warmup{i}", ignore_errors=True)
        setup_end = time.time()
        setup_s = setup_end - t_proc - gen_s

        if tracer:
            tracer.install()
        t_first = time.monotonic()
        while True:
            wd = tmp / f"job{len(jobs)}"
            mon = procfs.TreeMonitor().start()
            t0 = time.perf_counter()
            error = None
            try:
                with (tracer.span("job") if tracer else nullcontext()):
                    wl.run(spark, str(wd))
            except Exception:            # a failed job is a failed operation
                error = traceback.format_exc()
            wall = time.perf_counter() - t0
            job = {"wall_s": wall, **mon.stop()}
            if error is None:
                job["stored_bytes"] = stats.tree_bytes(wd)
                try:
                    check = wl.check(wd)
                except Exception:        # unreadable output fails the job
                    check = {"gold_f1": 0.0, "detail": {},
                             "failures": [traceback.format_exc()]}
                job.update(gold_f1=check["gold_f1"],
                           failures=check["failures"], detail=check["detail"])
                if tracer and traced is None:
                    traced = (tracer.roots[-1], _lineage_rows(wd),
                              _stage_bytes(wd, wl.stages),
                              wl.layer_extras(wd, check), job)
            else:
                job["failures"] = [error]
            jobs.append(job)
            shutil.rmtree(wd, ignore_errors=True)
            elapsed = time.monotonic() - t_first
            if elapsed + wall > args.seconds:
                break
        if tracer:
            tracer.uninstall()
    finally:
        stop_session(spark)

    failed = sum(bool(j["failures"]) for j in jobs)
    for j in jobs:
        for f in j["failures"]:
            print(f"pipebench: job failed: {f}", file=sys.stderr)
    ok = [j for j in jobs if not j["failures"]] or jobs
    input_bytes = tables.num_bytes(data / cls.input_table)
    input_rows = tables.num_rows(data / cls.input_table)
    if tracer and traced:
        from layers import layer_metrics, metric_specs, read_event_log
        ev_jobs, ev_stages = read_event_log(tracer.log_dir)
        span, rows, stage_bytes, extras, job = traced
        values = layer_metrics(span, (t_warm, setup_end), ev_jobs,
                               ev_stages, rows, stage_bytes, extras)
        values["job.peak_rss_mb"] = job["peak_rss_bytes"] / 1e6
        values["job.cpu_s_per_krow"] = job["cpu_s"] / (input_rows / 1000)
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u, _ in metric_specs()}
    elif tracer:
        from layers import metric_specs
        metrics = {n: {"value": 0.0, "unit": u} for n, u, _ in metric_specs()}
    e2e = stats.end_to_end(
        [{**j, "stored_bytes": j.get("stored_bytes", 0),
          "gold_f1": j.get("gold_f1", 0.0)} for j in ok],
        input_rows, input_bytes, setup_s)
    if not tracer:
        metrics = {n: {"value": e2e[n][0], "unit": e2e[n][1]}
                   for n in stats.GATED}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "input_rows": input_rows, "input_bytes": input_bytes,
        "gen_s": gen_s, "setup_s": setup_s, "warmup_s": setup_end - t_warm,
        "job_s": e2e["job_s"][0], "cpu_s_per_krow": e2e["cpu_s_per_krow"][0],
        "jobs": [{k: v for k, v in j.items() if k != "failures"}
                 for j in jobs],
        "steal_share": _mean(j["steal_share"] for j in jobs),
        "loadavg_mean": _mean(j["loadavg_mean"] for j in jobs),
    }
    print("pipebench-record " + json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": len(jobs),
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs)


def _lineage_rows(wd: Path) -> dict[str, int]:
    import pyarrow.parquet as pq
    t = pq.read_table(wd / "_lineage").to_pydict()
    out: dict[str, int] = {}
    for stage, n in zip(t["stage"], t["row_count"]):
        out[stage] = out.get(stage, 0) + n
    return out


def _stage_bytes(wd: Path, stages) -> int:
    return sum(stats.tree_bytes(wd / s) for s in stages)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)      # run the cleanup in ``finally``


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, str(ROOT))
    try:
        import ner_extractor_spark.plans.kg_pipeline  # noqa: F401
    except ImportError as e:
        print(f"pipebench: cannot import the program: {e}", file=sys.stderr)
        return 2
    tmp = confine_scratch()
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
