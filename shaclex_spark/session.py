"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; every config
here is chosen to also be the right default at cluster scale:
AQE on (skew joins over hot canonical entities — SURVEY.md §4.2),
shuffle partitions sized to parallelism, Arrow enabled for the
pandas-UDF extraction stage, UTC timezone pinned for oracle parity.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half the host's physical memory (MemTotal), clamped to 1-56 GB:
    a heap larger than the host gets the JVM OOM-killed mid-session."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "56g"
    return f"{max(1, min(56, kb // (2 * 1024 * 1024)))}g"


def default_parallelism() -> int:
    """$SPARK_GRAFT_CPUS, else the number of CPUs this process may run
    on (its affinity mask, not the machine's core count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _launcher_master() -> str | None:
    """The master already set for this process — a running session's,
    or spark-submit's (whose JVM is up before Python starts) — else
    None. Launches no JVM of its own."""
    from pyspark import SparkConf, SparkContext

    if SparkContext._active_spark_context is not None:
        return SparkContext._active_spark_context.master
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None)


def get_spark(
    app_name: str = "shaclex_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    Without a master set before it (by spark-submit, or a running
    session), the session is local and sized from this host:
    parallelism (default_parallelism()), driver heap and
    spark.local.dir. With one, that master and its topology stand and
    none of those is set. ``extra_conf`` is applied last, so it can
    name the master itself.

    shuffle_partitions: locally defaults to max(parallelism, 32); under
    a launcher's master it is left to the cluster's conf unless given
    (AQE coalesces the excess at runtime).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode: big heaps GC rarely, so ContextCleaner (which
        # piggybacks on GC) never reclaims old shuffle/block state —
        # force a periodic GC so long sessions stay flat.
        .config("spark.cleaner.periodicGC.interval", "60s")
        # Broadcast threshold: shape dictionaries / focus dims are small;
        # let Catalyst broadcast up to 64 MB before falling back to SMJ.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes `size(e)>0 AND e IS NOT
        # NULL` under every non-outer explode/posexplode, and predicate
        # pushdown then inlines the generator's FULL expression tree
        # into that filter — for our higher-order shingle/gram builders
        # (tokenizer regex inside a per-position lambda) that re-runs
        # the whole tokenize+slice pipeline twice more per row, once
        # per position (measured: explode of 50k docs' 5-gram arrays
        # 30.8s -> 2.9s, decontaminate 61s -> 3.4s with the rule off).
        # The rule's only benefit is skipping empty-array rows before
        # the generate, irrelevant for these operators at any scale.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
    )
    if _launcher_master() is None:
        if parallelism is None:
            parallelism = default_parallelism()
        if shuffle_partitions is None:
            shuffle_partitions = max(parallelism, 32)
        builder = (
            builder.master(f"local[{parallelism}]")
            .config("spark.default.parallelism", str(parallelism))
            .config("spark.driver.memory",
                    os.environ.get("SPARK_DRIVER_MEM",
                                   default_driver_memory()))
            # shuffle spill dir on tmpfs: the VM block device is
            # throttled and makes shuffle-heavy stage times wildly
            # variable.
            .config("spark.local.dir",
                    os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")))
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_scan(df):
    """Scale-adaptive scan re-spread (guide §2.5 'input skew: one huge
    unsplittable file ... repartition immediately after the read').

    The local fixture tables are single-row-group parquet files, so a
    scan is ONE split and everything before the first exchange —
    tokenization HOFs, regex scans, Arrow/pandas batches, vector math —
    runs serially on one core while the rest idle (measured:
    txt_profile spent its entire 0.89 s in one task at sf0.1 on
    local[32]). A production table arrives as many files/row groups,
    where this is a no-op: it only repartitions when the scan has
    fewer than half a partition per core. The round-robin exchange
    moves the table once — strictly cheaper than leaving (cores - 1)
    of the machine idle for the whole first stage whenever per-row
    work dominates the payload move; operators whose first stage is a
    trivial projection (pii scrub, stratified sample, event windows)
    deliberately do not use it."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 >= cores:
        return df
    return df.repartition(cores)
