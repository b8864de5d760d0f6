"""SparkSession factory with the engine's standard configuration.

Local-mode defaults tuned for the sandbox (local[N], single JVM); on a real
cluster these same settings ride along via spark-submit --conf. UTC session
timezone is pinned so timestamp results agree with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Arrow batches handed to mapInPandas close at whichever cap they reach
# first: 4096 rows bounds per-batch bookkeeping on small pages, 1 MB
# bounds worker memory on large ones. The byte cap came with one decode
# task per input split, at least one per core (operators.extract.
# derived_width, in place of a fixed 32): fuller tasks hold more
# rows at once. On the extraction benchmark (4 cores) worker peak RSS is
# 147 MB with the row cap alone and 137.6 MB with 1 MB batches, against
# 131.4 MB for the old 32-way layout.
# Fewer tasks pay off because each Python task costs ~0.3 core-s whatever
# it holds (a passthrough mapInPandas over 6,000 rows: 2.2 CPU-s at 4
# tasks, 10.4 at 32). A cProfile of the worker puts that cost in
# pyspark's worker_util.setup_spark_files: importlib.invalidate_caches()
# re-reads the pyspark.zip directory 16 times per task. The url-hash
# spread stays: decoding the scan splits in place leaves the split
# holding a block of many-page PDFs a straggler.
# These two caps are the only Arrow settings mapInPandas workers read.
# arrow.pyspark.enabled and its selfDestruct flag steer only driver-side
# toPandas / createDataFrame(pandas) / toArrow, which the jobs never call
# on document data, so both stay at Spark's defaults.
ARROW_MAX_RECORDS_PER_BATCH = 4096
ARROW_MAX_BYTES_PER_BATCH = 1 << 20


def get_spark(master: str | None = None,
              app_name: str = "pdf-extract-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else "8"
        shuffle_partitions = cpus if n == "*" else max(int(n), 8)
    builder = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_MAX_BYTES_PER_BATCH))
        # let Python Data Source connectors receive pushed filters
        # (sources/synth_pages.py prunes rows before payload synthesis)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Input-split sizing: default 128 MB splits + 4 MB open-cost starve a
        # 32-core box of parallelism on the small sandbox fixtures (a 60 MB
        # table becomes 2 splits). At 100 TB the cluster default is right;
        # here we size splits so the scan saturates the cores.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"))
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
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
