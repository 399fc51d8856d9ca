"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness/bench harness; the conf is chosen so the same
logical plans survive a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), UTC session timezone (oracle
parity), Arrow transfers for the pandas-UDF slow path.

Code-generation cache: Spark compiles every generated class with Janino and
keeps the compiled classes in a JVM-wide cache keyed by their source. The
cache holds 100 entries by default, fewer than one pass of the registered
read queries generates (~260 classes for the benchmark's 13-query mix), so a
repeated query mix evicts its own classes and recompiles all of them on
every pass. ``get_session`` sizes the cache for the query mix; the conf is
static, so it only takes effect in a session this module builds.

Top-k sort fallback: Spark plans ``orderBy(...).limit(k)`` as
TakeOrderedAndProject, and every task then reserves a 2k-slot buffer before
it reads a row (Guava's ``TopKSelector``). Spark's default threshold is
``Int.MaxValue - 15``, so a "take every row" k such as 10**9 reserves 2·10^9
references per task and kills the driver JVM with ``OutOfMemoryError``.
Both ``get_session`` and ``configure_runtime`` lower the threshold to
``TOPK_SORT_FALLBACK``: below it the plan stays TakeOrderedAndProject (no
exchange), at or above it Spark plans a sort plus limit, which spills
instead of reserving.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 2k references × 4 B (8 B on heaps over 32 GB, without compressed oops)
# = 8-16 MB reserved per task at k = 10**6: 32-64 MB on 4 cores, against
# the 3 GB heap the benchmark runs with. Each buffered row is a copy on
# top of its reference, so at this k a task may hold a few hundred MB of
# rows.
# Every registered top-k is far smaller (the largest is the KMV sketch's
# k = 256), so their plans are unchanged.
TOPK_SORT_FALLBACK = 1_000_000


def _local_dir() -> str:
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    return "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp/spark-local"


def get_session(
    app_name: str = "sport_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — not Spark's 200 — because at
    local scale 200 partitions of a 60k-row shuffle is pure scheduling
    overhead, and on a real cluster this knob is sized to data volume.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the bronze_snapshot Python data source prunes snapshot files at
        # the listing via pushFilters; off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Janino class cache: ~4× the ~260 classes one round of the
        # benchmark's 13 analytics_read queries generates. Measured on 4
        # cores with a 3 GB heap: at Spark's default of 100 every round
        # recompiled 217–261 classes (~1.2–1.6 s of a ~14 s round); at
        # 1000 the rounds after the first compiled none, with no rise in
        # peak RSS (tools/driver_work_probe.py).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.topKSortFallbackThreshold", str(TOPK_SORT_FALLBACK))
        # local mode = driver-only JVM: give it real heap (32 executor
        # threads × shuffle buffers + broadcasts); override via env.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g"))
        # Shuffle/spill to tmpfs when available: local-mode shuffles write
        # many small files and filesystem syscall overhead dominates small
        # stages (observed ~70% system time). A real cluster writes shuffle
        # to local SSDs — tmpfs is the single-node equivalent.
        .config("spark.local.dir", _local_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The driver harness owns its own SparkSession; these are the confs our
    operators rely on that can be applied after the fact. The code-generation
    cache size is a static conf, so an externally built session keeps Spark's
    100-entry cache and recompiles the classes of a repeated query mix (see
    the module docstring).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as long and convert (catalog.load_table does the conversion).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Spark 4.1 refuses to initialize a pushFilters-implementing Python
    # data source reader while this is off (its default) — required for
    # the bronze_snapshot source's file-level pruning; runtime-settable.
    # load_snapshots() additionally degrades to the no-pushdown reader
    # for sessions that never pass through here.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # Externally built sessions default to 200 shuffle partitions — pure
    # scheduling overhead at harness scale (see get_session); runtime-
    # settable, results are partition-layout-invariant by construction.
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    # a huge orderBy().limit(k) sorts instead of reserving a 2k buffer per
    # task (see the module docstring); runtime-settable.
    spark.conf.set(
        "spark.sql.execution.topKSortFallbackThreshold", str(TOPK_SORT_FALLBACK)
    )
    return spark
