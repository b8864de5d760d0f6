"""End-to-end extraction job: scan → salted repartition (one partition per
input split and at least one per core, unless told otherwise) → extract →
single partitioned write + per-partition lineage, checkpoint-resumable.

North-rule mechanics (BASELINE.json:14): per-partition lineage rows
(partition id, counts, checksum) and resume via left-anti join of the input
against already-committed urls — re-running after a partial failure never
duplicates output and converges to the identical final table digest
(SURVEY.md §2.4 A8, §7.1 M6).

Single-pass layout (one decode pass, one data write — no persist, no
second full-table action):

    <out>/extracted/status={ok,err}/...   rows carry run_id + partition_id
    <out>/lineage/                        one row per task partition per run

ok/err are directory partitions of ONE write (Catalyst routes rows by the
status column), so the quarantine table (reference error_final analog,
/root/reference/modules/graphs.py:22-30) is a partition filter, not a
second job. Lineage is counted by the decode tasks themselves
(operators.extract.partition_tally): each task sums its rows, shas,
errors and digest terms in the pass that decodes them and hands the
driver one entry keyed by its partition id, the same id its rows carry
in `partition_id`. So nothing is read back: a run is the write's Spark
jobs plus one marker file, the counters hold wherever the writer puts
the rows, and run counters come from the same entries.

Crash safety (run-level commit protocol, plans/commit.py): lineage is
written LAST and published as ONE atomically-renamed parquet file per
run, so its presence is the commit marker for a run and can never be
half-visible. Before its write a run leaves an empty file under
<out>/_started/. At resume, run_id= directories with no lineage
(crashed mid-write — committer v2 exposes task files as tasks finish,
possibly torn) are deleted wholesale and their input reprocessed; in a
writer directory outside <out>, which other outputs may share, only the
runs <out> started are. Committed runs are never touched, and a lineage
file that is unreadable without being provably torn ABORTS the resume
rather than risking deletion of committed data. Iceberg would make
data+lineage one transaction; this protocol is the parquet equivalent at
run granularity, tested including a torn-parquet-file crash.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import quote, unquote

import pyarrow as pa
from pyspark.accumulators import _accumulatorRegistry
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import derived_width, extract_text, partition_tally
from .commit import (format_digest, publish_marker, read_marker, sum_digest,
                     sweep_tmp)

# the Arrow schema lineage_rows(...).toArrow() gives: the marker's rows are
# the same whichever builds them
LINEAGE_SCHEMA = pa.schema([
    pa.field("run_id", pa.string(), nullable=False),
    pa.field("partition_id", pa.int32()),
    pa.field("n_in", pa.int64(), nullable=False),
    pa.field("n_out", pa.int64(), nullable=False),
    pa.field("n_err", pa.int64()),
    pa.field("digest", pa.string()),
])


def _committed_run_ids(lineage_dir: str) -> set[str]:
    """Runs whose lineage exists are committed: lineage is the LAST write
    of a run, so its presence proves the data write completed.

    Read file-by-file: a torn lineage file belongs to a run that crashed
    DURING its lineage write (still uncommitted) — it must not poison the
    whole-directory read, or every committed run would look uncommitted
    and be wrongly deleted. Any other unreadable file aborts the resume
    (commit.read_marker): wrongly dropping a committed run's lineage would
    cascade into the writer's cleanup rmtree-ing its DATA."""
    if not os.path.isdir(lineage_dir):
        return set()
    committed: set[str] = set()
    for name in sorted(os.listdir(lineage_dir)):
        if name.endswith(".parquet"):
            tab = read_marker(os.path.join(lineage_dir, name))
            if tab is not None:
                committed.update(tab.column("run_id").to_pylist())
    return committed


def lineage_rows(extracted: DataFrame, run_id: str) -> DataFrame:
    """One row per task partition: counts + order-insensitive checksum
    (modular sum of per-row text digests — constant agg state). The SQL
    form of the marker run_extraction builds from the decode's tallies,
    derived from written rows: the reference the marker is tested
    against."""
    return (
        extracted
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("n_in"),
            F.count("text_sha256").alias("n_out"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_err"),
            sum_digest("coalesce(text_sha256, '0')").alias("digest"),
        )
        .select(F.lit(run_id).alias("run_id"), "partition_id",
                "n_in", "n_out", "n_err", "digest")
    )


class ParquetRunWriter:
    """Default output writer: directory-partitioned parquet append. Run
    atomicity comes from the surrounding run-level commit protocol
    (lineage file as commit marker + crashed-run directory cleanup) —
    see the module docstring."""

    def __init__(self, extracted_dir: str):
        self.extracted_dir = extracted_dir

    def write_run(self, ext: DataFrame) -> None:
        # run_id is a directory partition too: a per-run audit prunes
        # straight to this run's files
        (ext.write.partitionBy("run_id", "status")
         .mode("append").parquet(self.extracted_dir))

    def discard_crashed(self, out_dir: str, committed: set[str],
                        started: set[str]) -> None:
        """Delete the run_id= directories of crashed runs: runs with no
        commit marker in ``out_dir``. Committer v2 makes task files
        visible as tasks finish, so a crashed run leaves partial —
        possibly torn — files behind; the run_id partition makes the
        whole crashed run removable without touching committed data (on a
        cluster: the same through the Hadoop FS API). A directory inside
        ``out_dir`` belongs to that output alone, so every uncommitted run
        in it crashed; a directory elsewhere may hold other outputs' runs,
        so only the runs ``out_dir`` started are removed."""
        if not os.path.isdir(self.extracted_dir):
            return
        out = os.path.abspath(out_dir)
        owned = os.path.commonpath(
            [out, os.path.abspath(self.extracted_dir)]) == out
        for name in os.listdir(self.extracted_dir):
            if not name.startswith("run_id="):
                continue
            # Spark percent-escapes partition values in directory names
            # (run_id='run 1' → 'run_id=run%201') — unescape before
            # comparing, or committed runs would be taken for crashed
            run_id = unquote(name.split("=", 1)[1])
            if run_id not in committed and (owned or run_id in started):
                shutil.rmtree(os.path.join(self.extracted_dir, name),
                              ignore_errors=True)

    def committed_urls(self, spark: SparkSession,
                       committed: set[str]) -> DataFrame | None:
        """The urls the ``committed`` runs wrote (None when there are
        none); the scan prunes to those runs' directories, so other
        outputs' runs in a shared directory are not read."""
        if not committed:
            return None
        # Explicit schema: a committed empty run leaves no data file to
        # infer it from. A read error raises — taking it for "nothing
        # committed" would decode and append every committed url twice.
        return (spark.read.schema("url string, run_id string")
                .parquet(self.extracted_dir)
                .filter(F.col("run_id").isin(sorted(committed)))
                .select("url"))


class IcebergRunWriter:
    """DataFrameWriterV2 seam for an Iceberg output table: one
    `writeTo(table).append()` — the table format's snapshot commit makes
    the whole run atomic, subsuming the parquet run-commit protocol
    (north rule BASELINE.json:14 names Iceberg tables).

    This sandbox cannot ship the iceberg-spark-runtime jar (no installs,
    no network — waiver recorded in SCALE.md §Iceberg), so construction
    verifies the catalog is actually configured and fails with the exact
    spark-submit flags a real cluster needs. Swapping this writer into
    run_extraction is the ONLY change required — the seam is the point.
    The lineage marker counts what the writer is handed, wherever the rows
    land. Resume is not supported: a run whose table commit succeeded but
    whose marker did not would need its rows deleted from the table.
    """

    def __init__(self, spark: SparkSession, table: str):
        catalog = table.split(".", 1)[0]
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if impl is None:
            raise RuntimeError(
                f"no Spark catalog {catalog!r} configured for Iceberg table "
                f"{table!r}; launch with --packages org.apache.iceberg:"
                "iceberg-spark-runtime-4.0_2.13:<ver> --conf spark.sql."
                f"catalog.{catalog}=org.apache.iceberg.spark.SparkCatalog "
                f"--conf spark.sql.catalog.{catalog}.type=hadoop|hive")
        self.table = table

    def write_run(self, ext: DataFrame) -> None:
        # createOrReplace on first run would drop history; append is the
        # incremental-run semantic. Partitioning (run_id, status) is part
        # of the table DDL, not the write.
        ext.writeTo(self.table).append()

    def discard_crashed(self, out_dir: str, committed: set[str],
                        started: set[str]) -> None:
        if started | committed:
            raise RuntimeError(
                f"IcebergRunWriter cannot resume: {out_dir} already has "
                f"runs {sorted(started | committed)}; start from a fresh "
                f"output directory")

    def committed_urls(self, spark: SparkSession,
                       committed: set[str]) -> None:
        return None  # discard_crashed refused any output with runs


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    num_partitions: int | None = None,
    writer=None,
) -> dict:
    """Run (or resume) the extraction job. Returns counters for the run.

    `num_partitions` is the width of the url-hash spread before the
    decode; None (the default) takes it from `pages` itself — one decode
    task per input split, at least one per core (operators.extract.
    derived_width).

    `writer` is the output-format seam (default ParquetRunWriter; pass an
    IcebergRunWriter on a cluster with the runtime jar). Resume reads the
    committed rows from wherever the writer put them."""
    lineage_dir = os.path.join(out_dir, "lineage")
    started_dir = os.path.join(out_dir, "_started")
    if writer is None:
        writer = ParquetRunWriter(os.path.join(out_dir, "extracted"))

    # run-level commit protocol: sweep marker temp files orphaned by a
    # crash inside the publish, and drop data from runs that crashed
    # before their lineage (= commit marker) was written
    sweep_tmp(out_dir)
    committed = _committed_run_ids(lineage_dir)
    # runs this output began: each leaves <out>/_started/<run_id> first
    started = (set(map(unquote, os.listdir(started_dir)))
               if os.path.isdir(started_dir) else set())
    writer.discard_crashed(out_dir, committed, started)
    done = writer.committed_urls(spark, committed)
    if run_id in committed:
        # re-using a committed run_id would re-append its lineage rows and
        # double the audit counters — require a fresh id per invocation
        raise ValueError(
            f"run_id {run_id!r} is already committed in {out_dir}; "
            "use a new run_id for each invocation (resume is automatic)")

    if num_partitions is None:
        # counted on `pages` before the resume anti-join enters the plan
        # (a joined plan would run its stages just to report a count), and
        # always resolved: extract_text reads None as "no shuffle"
        num_partitions = derived_width(pages)
    todo = pages
    if done is not None:
        # Anti-join against the committed urls in place. The scan lists
        # only the committed runs' directories, so no crashed row is read;
        # the scan's file listing is fixed when this DataFrame is built, the
        # decode plan runs once (in write_run), and the run appends under a
        # new run_id= directory — it never overwrites a file it reads.
        todo = pages.join(done, "url", "left_anti")

    tally = partition_tally(spark)
    ext = (
        extract_text(todo, num_partitions=num_partitions, tally=tally)
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn("run_id", F.lit(run_id))
        .withColumn("status",
                    F.when(F.col("error").isNull(), "ok").otherwise("err"))
    )
    # recorded before any row lands, so a resume can tell this output's
    # crashed runs from another output's runs in a shared writer directory
    os.makedirs(started_dir, exist_ok=True)
    open(os.path.join(started_dir, quote(run_id, safe="")), "w").close()
    try:
        writer.write_run(ext)
        parts = sorted(tally.value.items())
    finally:
        # pyspark has no unregister: without this every run leaves its
        # tally in the driver's registry for the session's lifetime
        _accumulatorRegistry.pop(tally.aid, None)

    # The lineage marker from the decode's own tallies, one row per task
    # that decoded rows. ONE marker file, not a Spark append: a multi-file
    # append under committer v2 can crash having committed a subset of its
    # part files, leaving a run that looks committed with under-reported
    # counters.
    tab = pa.Table.from_pydict({
        "run_id": [run_id] * len(parts),
        "partition_id": [p for p, _ in parts],
        "n_in": [t[0] for _, t in parts],
        "n_out": [t[1] for _, t in parts],
        "n_err": [t[2] for _, t in parts],
        "digest": [format_digest(t[3]) for _, t in parts],
    }, schema=LINEAGE_SCHEMA)
    publish_marker(tab, out_dir, os.path.join(
        lineage_dir, f"run-{quote(run_id, safe='')}.parquet"))

    n_in = sum(t[0] for _, t in parts)
    n_err = sum(t[2] for _, t in parts)
    return {"run_id": run_id, "n_in": n_in, "n_ok": n_in - n_err,
            "n_err": n_err}


def extracted_ok(spark: SparkSession, out_dir: str) -> DataFrame:
    """The clean extracted table (partition-pruned scan of status=ok)."""
    return (spark.read.parquet(os.path.join(out_dir, "extracted"))
            .filter(F.col("status") == "ok"))


def quarantine(spark: SparkSession, out_dir: str) -> DataFrame:
    """Quarantine rows: (url, stage, error) — a partition filter."""
    return (spark.read.parquet(os.path.join(out_dir, "extracted"))
            .filter(F.col("status") == "err")
            .select("url", F.lit("extract").alias("stage"), "error"))


def final_digest(spark: SparkSession, out_dir: str) -> str:
    """Order-insensitive digest of the clean output table (resume tests):
    modular sum over per-row sha256(url|text_sha256) — O(1) agg state,
    same construction as the lineage checksum."""
    row = extracted_ok(spark, out_dir).agg(
        sum_digest("sha2(concat_ws('|', url, text_sha256), 256)")
        .alias("d")).collect()[0]
    return row["d"]
