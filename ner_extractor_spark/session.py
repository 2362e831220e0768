"""SparkSession factory with the scale-posture defaults (SURVEY §4).

Single place where the engine's physical knobs live so tests, bench and
spark-submit entrypoints agree:

  * AQE on (runtime re-plan, skew-join splitting, coalesce) — the backstop
    for the explicit salting in operators/link.py.
  * Arrow batch size sized for the NER UDF (the single biggest throughput
    knob — reference analog is DataLoader batch 32; we use larger Arrow
    batches because the tagger is vectorized).
  * the master defaults to one local thread per CPU this process may run
    on (``default_master``); shuffle.partitions defaults to
    ``DEFAULT_SHUFFLE_PARTITIONS`` whatever the core count.  Both have env
    overrides; on a real cluster set the partitions from input size.
  * Iceberg catalog is configured ONLY if the runtime jars are present
    (this sandbox has none) — all writers in this repo go through
    plans/checkpoints.py which falls back to partitioned parquet with the
    same table semantics.
"""

from __future__ import annotations

import os
import tempfile
import uuid
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
ARROW_MAX_RECORDS = "2048"


def default_master(env=os.environ) -> str:
    """``SPARK_GRAFT_MASTER``, else ``local[SPARK_GRAFT_CPUS]``, else
    ``local[n]`` with ``n`` the CPUs this process may run on: a fixed
    thread count would oversubscribe a small host."""
    cpus = env.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return env.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"


def get_spark(app_name: str = "ner-extractor-spark",
              master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    master = master or default_master()
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_MAX_RECORDS)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Scheduler mode stays FIFO (measured, r07): FAIR improves the
        # concurrent-chain queries ~0.5 s each (web_corpus_verdict
        # 4.34→3.91, neardup 6.19→5.62 — the chains stop head-of-line
        # blocking each other) but costs the sequential iterative
        # queries about the same (kg_transe +0.40, trained_gate +0.33,
        # khop +0.21 medians), a net wash across the suite (full-suite
        # totals 93.7–94.4 FIFO vs 95.4 FAIR).  Flip per-deployment
        # when chain-style jobs dominate.
        .config("spark.scheduler.mode",
                os.environ.get("SPARK_SCHEDULER_MODE", "FIFO"))
        # localCheckpoint blocks are only dropped after the JVM GCs the
        # RDD reference (ContextCleaner is weak-reference driven), and
        # the default periodic forced GC is 30min — longer than an
        # entire multi-query session here, so barrier blocks from
        # hundreds of finished queries accumulate in storage memory and
        # evict later queries' state.  1min bounds that accumulation;
        # scale-neutral (any long-lived many-query driver benefits) and
        # overridable via env.
        .config("spark.cleaner.periodicGC.interval",
                os.environ.get("SPARK_PERIODIC_GC", "1min"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the --py-files contract).

    Python workers do not inherit the driver's sys.path; without this,
    any UDF closure referencing package code fails on a cluster (and on
    local[] when the driver isn't launched from the repo root).

    A no-op when this SparkContext already has the zip: ``addPyFile``
    would log "has been added already" and still append to the
    context's includes and to ``sys.path`` on every call.
    """
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / f"ner_extractor_spark-{os.getpid()}.zip"
    sc = spark.sparkContext
    if zip_path.name in sc._python_includes:
        return
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
    sc.addPyFile(str(zip_path))


def run_concurrently(*thunks):
    """Run independent driver chains (zero-argument callables that
    launch Spark jobs) on one thread each; return their results in order.

    Each chain inherits the calling thread's local properties (job
    tags, job group, scheduler pool) and adds its own job tag, so a
    nested chain is cancelled with its parent.  The first chain to
    raise cancels its siblings' jobs, and its error is re-raised once
    they have stopped."""
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    from pyspark.util import inheritable_thread_target

    spark = SparkSession.builder.getOrCreate()
    sc = spark.sparkContext
    tags = [f"chain-{uuid.uuid4().hex}" for _ in thunks]

    def tagged(thunk, tag):
        # job tags are thread-local: set them on the chain's own thread
        sc.addJobTag(tag)
        try:
            return thunk()
        finally:
            sc.clearJobTags()

    with ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(tagged),
                               thunk, tag)
                   for thunk, tag in zip(thunks, tags)]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        failed = [f for f in futures if f in done and f.exception()]
        if failed:
            # a sibling between two jobs escapes one cancel and starts
            # its next job, so cancel until every sibling has stopped
            while pending:
                for f, tag in zip(futures, tags):
                    if not f.done():
                        sc.cancelJobsWithTag(tag)
                _, pending = wait(pending, timeout=0.1)
            raise failed[0].exception()
    return [f.result() for f in futures]
