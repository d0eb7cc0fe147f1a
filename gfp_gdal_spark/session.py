"""SparkSession factory with the engine's tuned defaults.

Local-mode defaults target the sandbox (local[N], single JVM); the
same conf block is what we'd pass to spark-submit on a real cluster —
AQE on, skew-join on, Arrow on, shuffle partitions sized to
parallelism instead of the stock 200.
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app: str = "gfp_gdal_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the local session with the engine's defaults.

    Trade: ``spark.python.sql.dataFrameDebugging.enabled`` is off.
    With it on, PySpark wraps every DataFrame/Column API call to record
    the Python call site, which costs several extra py4j round trips per
    call (a north_star_pipeline build: ~6,000 round trips with it,
    ~2,300 without). The price is that analysis errors lose the Python
    file:line "DataFrame context"; the error class, message and plan
    are unchanged. Pass ``extra_conf`` to turn it back on while
    debugging.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 2x cores: enough tasks for AQE coalescing headroom without
        # tiny-task overhead at sandbox scale. On a 1000-executor
        # cluster this knob scales with total cores (set via submit conf).
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 4096, not the stock 10000: multi-MB Arrow batches in many
        # concurrent Python workers trigger allocator large-extent
        # mmap/madvise churn (kernel-dominated walls measured at 32
        # workers); ~4-8MB batches sidestep it with no throughput cost.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # NOTE: bigger is not better — a 48g heap showed multi-second GC
        # spirals on the 1.6M-group aggregate (runs degraded 5s -> 47s);
        # 16g is stable. On a real cluster this is executor memory and
        # the same lesson applies: size the heap to the working set.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # ANSI off: the engine relies on wrap-around 64-bit hash arithmetic
        # (splitmix64-style) staying an expression, not an error.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, str(v))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jvm_cached(build):
    """Memoize a function that builds Columns, per live py4j gateway.

    Each Column node costs at least one py4j round trip to build, so a
    spatial expression tree rebuilt on every call costs hundreds of
    them. A Column is an unresolved expression tree, resolved anew by
    every plan that uses it, so one built tree can serve every call.
    ``build`` takes only plain hashable values (column names, zoom
    levels), never a Column, and returns Columns or tuples of them, so
    no caller can change what the next one gets. The memo is dropped
    when the gateway changes, so a restarted JVM never gets a JavaObject
    of a dead one. Two threads racing on a key only build it twice.
    """
    memo: dict = {}
    owner = [None]

    @functools.wraps(build)
    def cached(*key):
        gateway = SparkContext._gateway
        if gateway is not owner[0]:
            memo.clear()
            owner[0] = gateway
        if key not in memo:
            memo[key] = build(*key)
        return memo[key]

    return cached
