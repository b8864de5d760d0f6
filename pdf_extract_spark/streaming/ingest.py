"""Structured Streaming ingestion: incremental extraction of newly-landed
page files, plus watermarked event-time rollups.

The reference has no streaming (SURVEY.md §2.10 — strictly one-shot
batch); its closest analog is re-invoking the pipeline per uploaded file
(/root/reference/streamlit_app.py:174-211). This module is that capability
done Spark-native: a file-source stream over the pages directory runs the
SAME extraction operator (operators/extract.extract_text works unchanged
under readStream — mapInArrow is streaming-compatible), checkpointed so
each file is processed exactly once across restarts — the streaming twin
of the batch pipeline's lineage/anti-join resume.

Trigger availableNow drains everything pending then stops: the
batch-incremental mode a 100 TB ingest actually runs (periodic catch-up
jobs), and the only mode testable without a long-lived cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..fixtures.pages import PAGES_SCHEMA
from ..operators.extract import extract_text


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """pages files landing in input_dir → extracted parquet, exactly-once.

    Returns the started query; caller awaits termination (availableNow
    stops by itself when the backlog is drained)."""
    reader = (spark.readStream.schema(PAGES_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.load(input_dir)
    extracted = extract_text(pages)  # no repartition: keep stream narrow
    return (
        extracted.writeStream
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_event_rollup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> tuple[StreamingQuery, str]:
    """Watermarked tumbling-window rollup over an events file stream —
    update output mode, so the watermark actually evicts window state and
    drops late rows (complete mode would retain all state forever and
    ignore the watermark for dropping) — the streaming form of
    relational.events_hourly_rollup.

    Updates land in an in-memory sink table: one row per (window, type)
    per micro-batch that touched it, counts cumulative — read the final
    state with ``rollup_result``. The memory sink cannot recover from a
    checkpoint (the aggregation state would resume against an empty
    table), so a fresh ``checkpoint_dir`` is required per rollup session;
    an existing one raises. Returns (query, table_name)."""
    import os
    if os.path.exists(checkpoint_dir):
        raise ValueError(
            "stream_event_rollup requires a fresh checkpoint_dir per "
            "session: the memory sink cannot recover sink contents, so "
            "resuming aggregation state against an empty table would "
            "under-report every previously-emitted window")
    events = (
        spark.readStream
        .schema("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")
        .format("parquet").load(input_dir)
    )
    agg = (
        events
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)")
             .alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )
    name = "stream_event_rollup"
    q = (
        agg.writeStream
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    return q, name


def rollup_result(spark: SparkSession, table_name: str) -> DataFrame:
    """Final state of an update-mode rollup: counts per key are cumulative
    across the per-batch update rows, so the row with the highest n_events
    per (window, type) is the latest — keep exactly that one."""
    from pyspark.sql.window import Window

    w = (Window.partitionBy("window_start", "event_type")
         .orderBy(F.desc("n_events")))
    return (spark.table(table_name)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn"))


def run_incremental(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str) -> int:
    """Drain the current backlog once (catch-up job shape); returns the
    number of rows now present in the output."""
    import os

    q = stream_extract(spark, input_dir, output_dir, checkpoint_dir)
    q.awaitTermination()
    # only the nothing-written-yet case maps to 0 — real read failures
    # (torn files, permissions) must propagate, not masquerade as an
    # empty backlog
    if not os.path.isdir(output_dir):
        return 0
    return spark.read.parquet(output_dir).count()
