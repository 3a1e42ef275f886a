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

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
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
      (src/time_epoch.cpp custom 2004 epoch); we must too or oracle
      comparisons drift.
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
        # openCost floored an 11 MB table into 3 splits, so single-task
        # scan stages strand the other 31 cores at bench SFs (profiled:
        # assemble_order_lines ran its probe-side scan+join as ONE 0.9 s
        # task).  128 KB only binds when bytes/core < 4 MB — at 100 TB
        # bytes/core >> maxPartitionBytes, so production splits stay
        # 128 MB and this knob is inert; it is a small-input floor, not a
        # local[32] tuning constant.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "131072"),
        )
        # Same floor for AQE-coalesced reduce partitions: the 1 MB
        # default minPartitionSize collapses a 5 MB shuffle to ~5 tasks
        # under parallelismFirst.  At scale advisoryPartitionSizeInBytes
        # (bytes/core >> advisory) governs coalescing and this floor is
        # inert.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_COALESCE", "65536"),
        )
        # AQE sort-merge -> shuffled-hash rewrite (guide §3.1): when
        # every post-shuffle build-side map is under this bound, the
        # join builds per-partition hash tables instead of externally
        # SORTING both sides.  Decisive for joins whose rows carry wide
        # array payloads (the ngram-jaccard verify join measured 19 GB
        # of sort spill at the 10x corpus; hash-building the same
        # partitions spills nothing).  Runtime- and size-gated by AQE
        # itself — partitions above the bound keep sort-merge, so this
        # is scale-adaptive, not a local[32] constant; pre-AQE plans
        # (and the pinned exchange budgets) are untouched.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "134217728"),
        )
        # NOTE on spark.sql.optimizer.canChangeCachedPlanOutputPartitioning:
        # deliberately NOT set globally.  Letting AQE re-partition cached
        # plans coalesces tiny persisted arrangements (a measured ~2x on
        # the multicast emit, which scopes the conf around itself —
        # pipeline.write_outputs), but it also makes the planner treat
        # every cache's output partitioning as unknown, so consumers that
        # REUSE a cache's hash partitioning re-shuffle: measured +3
        # exchanges on supplier_part_pagerank (one per rank round) and a
        # flapping plan on ngram_containment_pairs.  Per-round shuffles of
        # the rank table are exactly the scale regression the budgets
        # exist to catch, so the conf stays scoped to the emit.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # JVM unified logging -> STDERR: the default (-Xlog to stdout)
        # interleaves async GC warnings with the bench's one-line JSON
        # contract on stdout — observed: "[gc,alloc] ... GCLocker too
        # often" landing mid-stream during a memory-pressured stage,
        # which would corrupt the driver's 2000-char stdout tail parse.
        # Warnings stay visible, just on the diagnostic channel.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-Xlog:disable -Xlog:all=warning:stderr:uptime,level,tags",
            ),
        )
        # FAIR task scheduling: the multicast emit (pipeline.write_outputs)
        # submits one job per output from threads — under FIFO an
        # earlier output's wide stage monopolizes every task slot and the
        # sibling outputs' stages queue whole-stage-at-a-time behind it
        # (observed as multi-second straggler gaps on the XML outputs).
        # FAIR round-robins slots between the concurrent jobs, which is
        # the reference's one-thread-per-writer concurrency model
        # (planet-dump.cpp:242-259) expressed in scheduler terms.
        .config("spark.scheduler.mode", "FAIR")
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


def capture_job_context(spark: SparkSession):
    """Capture the calling thread's scheduler pool + job description and
    return a thunk that re-applies them on whatever thread calls it.

    PySpark local properties are PER PYTHON THREAD (pinned-thread mode):
    a plain ``ThreadPoolExecutor`` worker does NOT inherit them, so jobs
    fanned out through a pool silently drop the caller's FAIR pool and
    job description — they land in the default FIFO pool, unlabelled
    (llm_pipeline._write_dedup_artifact applies it).  Each pool task
    calls the thunk first; worker threads are reused, so it must be
    applied per task, not per thread."""
    sc = spark.sparkContext
    pool = sc.getLocalProperty("spark.scheduler.pool")
    desc = sc.getLocalProperty("spark.job.description")

    def apply() -> None:
        sc.setLocalProperty("spark.scheduler.pool", pool)
        sc.setLocalProperty("spark.job.description", desc)

    return apply


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's synthetic parquet tables as a dict of DataFrames
    and register each as a temp view (mirrors DuckDB's pre-registered
    views so ``spark.sql`` text matches ``oracle_sql`` text closely)."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    from planet_dump_ng_spark.plans.registry import table

    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            # registry.table handles the events TIMESTAMP(NANOS) quirk
            df = table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
