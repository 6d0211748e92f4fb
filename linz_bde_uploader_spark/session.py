"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings are what we would
ship as ``spark-defaults`` for a 1000-executor cluster run: AQE on (runtime
join-strategy + skew handling), Arrow on (Pandas-UDF slow path), shuffle
partitions sized to the cluster rather than the 200 default.

Two settings trade something away:

- ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` lets AQE
  coalesce the shuffle partitions of a persisted frame, as it does for an
  unpersisted one. The staged write reads the persisted action set, and
  without it each of the set's shuffle partitions becomes a write task and
  a part file. The cost, as Spark documents the flag: a query over
  cached data may need an extra shuffle to read it.
- ``spark.python.sql.dataFrameDebugging.enabled=false`` stops PySpark from
  capturing the Python call site of every ``Column`` and ``DataFrame``
  call (several Py4J round trips each). The cost: an analysis or runtime
  error no longer carries the "DataFrame query context" lines that name
  the Python line which built the failing expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding this package; Python workers must be able to
#: import it from any working directory
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else 24g
    capped at three quarters of physical memory, so a large run cannot
    grow the heap past what the machine has. 24g where ``sysconf`` cannot
    tell the memory size."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "24g"
    mib = phys * 3 // 4 // 2**20
    return f"{mib}m" if 0 < mib < 24 * 1024 else "24g"


def get_spark(app_name: str = "linz_bde_uploader_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so bench.py and tests
    share one code path. At cluster scale the master/core settings come from
    spark-submit; everything below the master line is scale-independent.
    """
    # Python workers are forked by the JVM and see its environment, not
    # this process's sys.path; the JVM copies os.environ when it launches
    # (on the first getOrCreate), so the package root must be on
    # PYTHONPATH by then or a UDF run outside the repo root cannot import
    # the package.
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        # GC note: default G1. ZGC was measured here and REJECTED — its
        # concurrent collector threads compete with local[32]'s fully
        # saturated executor threads (bench total regressed ~50%). The
        # occasional multi-second pause on one query per run is cheaper
        # than a constant throughput tax.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
