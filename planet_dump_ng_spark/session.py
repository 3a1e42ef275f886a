"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); production targets a
multi-executor cluster reading ~100 TB.  All scale-sensitive knobs are
centralized here so the same code runs in both.

Reference parity: the C++ engine hand-tunes external-sort run size (64 MiB,
src/dump_reader.cpp:34), merge fan-in (16, :595-613) and per-table thread
caps (:527-531).  On Spark those jobs belong to Tungsten's
UnsafeExternalSorter and the shuffle service; the knobs that matter are
``spark.sql.shuffle.partitions``, AQE, and file split sizes.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
DAEMON_MODULE = "planet_dump_ng_spark.worker_daemon"


def get_spark(
    app_name: str = "planet_dump_ng_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE on: runtime coalescing + skew-join splitting stand in for the
      reference's hand-tuned merge cascade.
    - Arrow on: every Pandas-UDF operator (dedup hashing, sinks) rides the
      vectorized path.
    - UTC session timezone: the reference treats all timestamps as UTC
      (src/time_epoch.cpp custom 2004 epoch); we must too or rendered
      timestamps drift.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # ~128 MB splits: at 100 TB this yields ~800k input partitions, the
        # right granularity for a 1000-executor cluster; local SFs produce
        # one partition per file, which AQE then keeps cheap.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Scan-parallelism FLOOR (split size = min(maxPartitionBytes,
        # max(openCostInBytes, bytes/minPartitionNum))): the default 4 MB
        # openCost splits an 11 MB staged table into 3 scan tasks, which
        # strands the other cores in the assembly joins over it.  128 KB
        # only binds when bytes/core < 4 MB — at 100 TB bytes/core >>
        # maxPartitionBytes, so production splits stay 128 MB and this
        # knob is inert; it is a small-input floor, not a local[N] tuning
        # constant (operators.compact_python_input undoes it for Python
        # stages).
        .config("spark.sql.files.openCostInBytes", "131072")
        # Same floor for AQE-coalesced reduce partitions: the 1 MB
        # default minPartitionSize collapses a 5 MB shuffle to ~5 tasks
        # under parallelismFirst.  At scale advisoryPartitionSizeInBytes
        # (bytes/core >> advisory) governs coalescing and this floor is
        # inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
        # AQE sort-merge -> shuffled-hash rewrite (guide §3.1): when
        # every post-shuffle build-side map is under this bound, the
        # join builds per-partition hash tables instead of externally
        # SORTING both sides.  Decisive for joins whose rows carry wide
        # array payloads (the ngram-jaccard verify join measured 19 GB
        # of sort spill at the 10x corpus; hash-building the same
        # partitions spills nothing).  Runtime- and size-gated by AQE
        # itself — partitions above the bound keep sort-merge, so this
        # is scale-adaptive, not a local[N] constant; pre-AQE plans are
        # untouched.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "134217728"
        )
        # NOTE on spark.sql.optimizer.canChangeCachedPlanOutputPartitioning:
        # deliberately NOT set globally.  Letting AQE re-partition cached
        # plans coalesces tiny persisted arrangements (a measured ~2x on
        # the multicast emit, which scopes the conf around itself —
        # pipeline.write_outputs), but it also makes the planner treat
        # every cache's output partitioning as unknown, so consumers that
        # REUSE a cache's hash partitioning re-shuffle it — e.g. each
        # round of graph.connected_components over its persisted label
        # state — so the conf stays scoped to the emit.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # JVM unified logging -> STDERR: the default (-Xlog to stdout)
        # interleaves async GC warnings ("[gc,alloc] ... GCLocker too
        # often") with whatever a caller prints on stdout, such as the
        # CLIs' JSON reports.  Warnings stay visible, just on the
        # diagnostic channel.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-Xlog:disable -Xlog:all=warning:stderr:uptime,level,tags",
            ),
        )
        # Python workers fork from the package's daemon: the stock
        # pyspark.daemon plus a zip importer that re-reads pyspark.zip
        # only when the archive changed.  The stock importer re-reads it
        # for every cached package path on every task (about 0.2 s per
        # task on CPython 3.11) — see worker_daemon.py.  The workers
        # import this package for the engine's UDFs anyway.
        .config("spark.python.daemon.module", DAEMON_MODULE)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_side_by_side(spark: SparkSession, calls: dict[str, Callable]) -> dict:
    """Run the calls side by side, from a pool with one thread per call,
    and return {key: result} — the engine's one way to submit Spark jobs
    concurrently (the reference's one thread per writer or table,
    planet-dump.cpp:127-140, 242-259).

    Local properties are per Python thread in PySpark's pinned-thread
    mode, so a plain pool thread would drop the caller's job
    description, job group and scheduler pool.  Each call is wrapped on
    THIS thread by ``inheritable_thread_target``, which copies them once
    per call: a call may set its own description without touching a
    sibling's.  Every call runs to its end.  When several fail, one
    error names every failed key, chained from the first of them; a
    lone failure is raised as itself, its key added as a note, so
    callers still catch its type (the PBF changeset check's
    ValueError).

    The jobs share Spark's default FIFO scheduler.  Per-output FAIR
    pools paid when each output was many jobs; with each output one job
    over finished caches they measured no faster (CHANGES.md)."""
    with ThreadPoolExecutor(max_workers=max(len(calls), 1)) as pool:
        futures = {
            key: pool.submit(inheritable_thread_target(spark)(call))
            for key, call in calls.items()
        }
    failed = {key: f.exception() for key, f in futures.items() if f.exception()}
    if len(failed) > 1:
        detail = "; ".join(f"{key}: {type(e).__name__}: {e}" for key, e in failed.items())
        raise RuntimeError(
            f"{len(failed)}/{len(calls)} calls failed: {detail}"
        ) from next(iter(failed.values()))
    for key, e in failed.items():
        e.add_note(f"raised by the side-by-side call {key!r}")
        raise e
    return {key: f.result() for key, f in futures.items()}
