"""SparkSession factory with the engine's standard configuration.

The master is the caller's or the launcher's; local masters also get the
shuffle width and worker start-up, which clusters take from --conf. UTC
timezone is pinned so timestamps agree with the DuckDB oracle.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


# Arrow batches handed to mapInArrow (the decode) and mapInPandas (the
# other kernels) close at whichever cap they reach first: 4096 rows bounds
# per-batch bookkeeping on small pages, 1 MB bounds worker memory on large
# ones. The byte cap came with one decode task per input split, at least
# one per core (operators.extract.derived_width, in place of a fixed 32):
# fuller tasks hold more rows at once. On the extraction benchmark (4
# cores) worker peak RSS was 147 MB with the row cap alone and 137.6 MB
# with 1 MB batches, against 131.4 MB for the old 32-way layout (all
# measured under mapInPandas).
# These two caps are the only Arrow settings those workers read.
# arrow.pyspark.enabled and its selfDestruct flag steer only driver-side
# toPandas / createDataFrame(pandas) / toArrow, which the jobs never call
# on document data, so both stay at Spark's defaults.
ARROW_MAX_RECORDS_PER_BATCH = 4096
ARROW_MAX_BYTES_PER_BATCH = 1 << 20

# The directory or archive holding this package: a source checkout, a
# site-packages directory, or the zip shipped with --py-files.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local_slots(master: str) -> int | None:
    """Task slots of a local master, None for any other. local[*] counts
    this process's CPU affinity, so unlike Spark it misses a cgroup quota."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\d+)?\])?", master)
    if m is None:
        return None
    return len(os.sched_getaffinity(0)) if m[1] == "*" else int(m[1] or 1)


def get_spark(master: str | None = None,
              app_name: str = "pdf-extract-spark") -> SparkSession:
    # 16g stays until bench.py's 300k-doc legs at local[32] are measured
    # lower; 4g against 16g on a 96k-page corpus run at local[4] is
    # unresolved at three pairs (BENCH.md "Driver heap")
    driver_memory = os.environ.get("SPARK_DRIVER_MEM", "16g")
    if master is None:
        # The launcher's master: spark-submit's, or local[*] in plain
        # python. Its JVM starts here, so it takes the driver heap here.
        SparkContext._ensure_initialized(
            conf=SparkConf().set("spark.driver.memory", driver_memory))
        master = SparkConf().get("spark.master", "local[*]")
    builder = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_MAX_BYTES_PER_BATCH))
        # let Python Data Source connectors receive pushed filters
        # (sources/synth_pages.py prunes rows before payload synthesis)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Input-split sizing: default 128 MB splits + 4 MB open-cost starve a
        # 32-core box of parallelism on the small sandbox fixtures (a 60 MB
        # table becomes 2 splits). At 100 TB the cluster default is right;
        # here we size splits so the scan saturates the cores.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # Output path: task-side commit (v1 renames every file serially on
        # the driver — seconds per job at 100s of files), and no parquet
        # dictionary pages (the dominant column is unique document text;
        # dictionary encoding burns CPU for zero compression there).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
                "2")
        .config("spark.hadoop.parquet.enable.dictionary", "false")
        # zstd beats snappy on BOTH write wall (10.8s -> 7.2s for the 300k
        # extraction write, measured) and size (99 vs 168 MB) here, and at
        # 100 TB the smaller footprint also shrinks every downstream scan
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"))
    )
    slots = _local_slots(master)
    if slots is not None:
        # Shuffle width: the slots, at least 8. A builder conf, so sessions
        # cloned with newSession keep it.
        # Local workers run on this machine, so they can start from the
        # installed pyspark (worker_daemon). The daemon module is imported
        # before any task adds the --py-files archives, so the package root
        # goes on the workers' path too. Other masters keep Spark's daemon:
        # their executors need not have the package installed (SCALE.md).
        builder = (
            builder
            .config("spark.sql.shuffle.partitions", str(max(slots, 8)))
            .config("spark.python.daemon.module",
                    "pdf_extract_spark.worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
