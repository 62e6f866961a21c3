"""SparkSession factory with the engine's scale-oriented defaults.

Local mode in this sandbox; on a real cluster the same configs apply (AQE,
skew-join splitting, Arrow batching) and the master/executor settings come
from spark-submit.  Iceberg extensions are attached only when the runtime
jars are available (gated; parquet tables otherwise — see plans/catalog.py).
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

WORKER_DAEMON = "minimizer_jaccard_estimator_spark.plans.worker_daemon"


def _jvm_pythonpath_has(path: str) -> bool:
    """Whether the JVM that starts the Python daemon has ``path`` on its
    PYTHONPATH: the running JVM's own environment, or this process's when
    this session launches the JVM.  A JVM started by spark-submit is not
    checked (its environment is not readable before the session exists)."""
    if SparkContext._jvm is not None:
        env = SparkContext._jvm.java.lang.System.getenv("PYTHONPATH") or ""
    elif "PYSPARK_GATEWAY_PORT" in os.environ:
        return False
    else:
        env = os.environ.get("PYTHONPATH", "")
    return path in env.split(os.pathsep)


def get_spark(
    app_name: str = "minimizer-jaccard-estimator-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # make this package importable on python workers regardless of the
    # driver's cwd (cluster equivalent: spark-submit --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root

    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster AQE coalesces from a higher initial
        shuffle_partitions = max(2 * cpus, 8)
    builder = SparkSession.builder
    # spark-submit's --master must win; only default to local[] when nothing
    # configured it (builder options would otherwise override spark-submit)
    # -- spark-submit sets no PYSPARK_SUBMIT_ARGS for a Python application;
    # it hands this process the port of the JVM it launched instead
    # (pyspark sets no PYSPARK_GATEWAY_PORT for a gateway it launches
    # itself), and that JVM already holds the master spark-submit configured
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    submitted_jvm = "PYSPARK_GATEWAY_PORT" in os.environ
    if (not submitted_jvm and "--master" not in submit_args
            and not os.environ.get("SPARK_MASTER_URL")):
        builder = builder.master(f"local[{cpus}]")
        # Python workers fork from a daemon that stops re-reading Spark's
        # jar and pyspark.zip at the start of every task (0.14-0.23 CPU-s
        # per task before Python 3.13; see plans/worker_daemon.py).  The
        # daemon must import this package at start-up, which only holds
        # when its JVM inherits the PYTHONPATH set above; a --py-files zip
        # reaches workers per task, too late for the daemon
        if _jvm_pythonpath_has(pkg_root):
            builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
    # join-strategy envelope (guide §3.1/§9), parameterised for scale:
    # - prefer shuffled-hash over sort-merge: the engine's joins are narrow
    #   equi-joins (pair tables vs per-doc sketch tables) where the sort adds
    #   nothing; sort-merge remains the planner's fallback when the
    #   shuffled-hash size conditions don't hold
    # - AQE runtime broadcast threshold raised above the 10 MB static default:
    #   the per-doc sketch/signature tables sit behind Arrow UDFs, so the
    #   static planner cannot estimate them, but at runtime a corpus-keyed
    #   side that materialises under this many bytes is cheaper to broadcast
    #   than to shuffle the (quadratic-ish) pair table towards — 64 MB is
    #   safe on any executor with >= 2 GB of memory; tune down via env on
    #   memory-constrained clusters
    adaptive_broadcast = os.environ.get("SPARK_GRAFT_ADAPTIVE_BROADCAST", "64m")
    builder = (
        builder.appName(app_name)
        # AQE: runtime re-plan, skew-join splitting, partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", adaptive_broadcast)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow is the hot path for every sketch kernel
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # sized so a 128MB-ish input split per task at 100TB scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # local mode: the driver JVM is also every executor, so size the heap
        # with the task-slot count (~0.75 GB of execution memory per
        # concurrent task, floor 8g) — at 8 GB fixed, 32 slots get ~250 MB
        # each and wide hash aggregates (the 50M-row candidate distinct)
        # spill and fall back to sort-based aggregation (measured 47 s -> 13 s
        # at sf1.0).  On a real cluster --executor-memory supersedes this;
        # the same GB-per-slot sizing rule applies there (guide §5).
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", f"{max(8, (cpus * 3) // 4)}g"))
        # generated-code cache sized to the engine's working set: at the
        # default 100 entries one dedup pass evicts its own classes, so every
        # pass Janino-compiles them again and the JVM re-JITs each reloaded
        # class (measured at local[4]: a warm transcripts_dedup pass compiled
        # 123 classes, a warm committed delta 243).  One session held 136
        # distinct classes after a transcripts dedup, 154 after adding the
        # documents verify workload, and 483 after all three benchmark
        # workloads; 2048 leaves ~4x headroom over the largest.  Static
        # conf: it only takes effect when set before the session starts
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # the cache is keyed by the generated source, and the whole-stage id
        # in the class name varies between runs of one plan with AQE's stage
        # submission order: with the id, warm passes kept compiling 0-12
        # classes each; without it, none after the first warm pass (and
        # delta's first pass reuses its base dedup's classes: 117 compiles
        # instead of ~180).  explain() still shows the stage ids
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
