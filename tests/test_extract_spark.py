"""Distributed-vs-single-node golden tests (the BASELINE.json:6 gate):
the Spark pipeline's per-url SHA-256 must be byte-identical to the pure
single-node kernel on the same synthesized pages, under any partitioning,
and the job must be checkpoint-resumable without duplicates.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
from urllib.parse import quote

import pyspark
import pytest
from pyspark.sql import functions as F

from pdf_extract_spark.fixtures import pages
from pdf_extract_spark.kernels.decode import decode_payload, text_sha256
from pdf_extract_spark.operators.extract import extract_text
from pdf_extract_spark.plans.pipeline import (
    extracted_ok,
    final_digest,
    lineage_rows,
    quarantine,
    run_extraction,
)

N_PAGES = 400
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def golden():
    """Single-node kernel run — the oracle. url → (sha or None, error)."""
    out = {}
    for row in pages.make_rows(N_PAGES):
        url, _, payload, _, _ = row
        text, err = decode_payload(payload)
        out[url] = (text_sha256(text) if text is not None else None, err)
    return out


@pytest.fixture(scope="module")
def pages_sdf(spark):
    return spark.createDataFrame(pages.make_rows(N_PAGES),
                                 schema=pages.PAGES_SCHEMA)


def _collect_shas(df):
    return {r["url"]: (r["text_sha256"], r["error"])
            for r in df.select("url", "text_sha256", "error").collect()}


def _marker_and_reference(spark, base, run_id, data_dir=None):
    """The run's published lineage marker, and lineage_rows over a re-read
    of the rows the run wrote (`data_dir`, default <base>/extracted)."""
    import pyarrow.parquet as pq

    marker = pq.read_table(
        f"{base}/lineage/run-{quote(run_id, safe='')}.parquet")
    # explicit schema: an empty run writes no data file to infer it from
    staged = (spark.read.schema("partition_id int, text_sha256 string, "
                                "error string, run_id string")
              .parquet(data_dir or f"{base}/extracted")
              .filter(F.col("run_id") == run_id))
    ref = lineage_rows(staged, run_id).toArrow().sort_by("partition_id")
    return marker, ref


def test_spark_extract_matches_golden(spark, pages_sdf, golden):
    got = _collect_shas(extract_text(pages_sdf, num_partitions=8))
    assert got == golden


def test_partitioning_invariance(spark, pages_sdf, golden):
    """Byte-identity must hold for any partition count / layout."""
    for p in (1, 3, 16):
        got = _collect_shas(extract_text(pages_sdf.repartition(p),
                                         num_partitions=p))
        assert got == golden, f"divergence at partitions={p}"


def test_error_taxonomy(spark, pages_sdf, golden):
    got = _collect_shas(extract_text(pages_sdf, num_partitions=4))
    errs = {e for _, e in got.values() if e}
    assert "empty_payload" in errs
    assert "invalid_utf8" in errs
    assert "truncated_pdf" in errs
    n_err = sum(1 for _, e in got.values() if e)
    assert 0 < n_err < N_PAGES * 0.1


def test_resume_no_duplicates(spark, tmp_path_factory, golden):
    """Kill-after-partial simulation: run on a prefix, then resume with the
    full input; final table must equal a from-scratch run (same digest),
    with no duplicate urls and lineage metrics accounting for every row."""
    base = str(tmp_path_factory.mktemp("resume"))
    full = spark.createDataFrame(pages.make_rows(N_PAGES), schema=pages.PAGES_SCHEMA)
    prefix = spark.createDataFrame(pages.make_rows(250), schema=pages.PAGES_SCHEMA)

    out_a = f"{base}/a"
    run_extraction(spark, prefix, out_a, run_id="r1", num_partitions=4)
    stats = run_extraction(spark, full, out_a, run_id="r2", num_partitions=4)
    assert stats["n_in"] == N_PAGES - 250  # only the remainder was processed

    out_b = f"{base}/b"
    run_extraction(spark, full, out_b, run_id="scratch", num_partitions=4)

    df_a = extracted_ok(spark, out_a)
    assert df_a.count() == df_a.select("url").distinct().count()
    assert final_digest(spark, out_a) == final_digest(spark, out_b)

    lineage = spark.read.parquet(f"{out_a}/lineage")
    rows = lineage.groupBy().sum("n_in", "n_err").collect()[0]
    assert rows["sum(n_in)"] == N_PAGES  # 250 in r1 + 150 in r2, no overlap

    n_golden_err = sum(1 for _, e in golden.values() if e)
    assert quarantine(spark, out_a).count() == n_golden_err

    shutil.rmtree(base, ignore_errors=True)


def test_rerun_when_complete_is_noop(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("noop"))
    df = spark.createDataFrame(pages.make_rows(100), schema=pages.PAGES_SCHEMA)
    run_extraction(spark, df, base, run_id="r1", num_partitions=2)
    d1 = final_digest(spark, base)
    stats = run_extraction(spark, df, base, run_id="r2", num_partitions=2)
    assert stats["n_in"] == 0
    assert final_digest(spark, base) == d1
    shutil.rmtree(base, ignore_errors=True)


def test_writer_seam_swaps_output_format(spark, tmp_path_factory):
    """The output-format seam: run_extraction writes through the injected
    writer exactly once per run, and the commit protocol (lineage marker,
    resume) is unchanged by the indirection."""
    from pdf_extract_spark.plans.pipeline import ParquetRunWriter

    base = str(tmp_path_factory.mktemp("seam"))

    calls = []

    class RecordingWriter(ParquetRunWriter):
        def write_run(self, ext):
            calls.append(sorted(ext.columns))
            super().write_run(ext)

    df = spark.createDataFrame(pages.make_rows(80), schema=pages.PAGES_SCHEMA)
    w = RecordingWriter(f"{base}/extracted")
    run_extraction(spark, df, base, run_id="r1", num_partitions=2, writer=w)
    assert len(calls) == 1
    assert {"url", "run_id", "status", "text_sha256",
            "partition_id"} <= set(calls[0])
    # resume through the seam: nothing left to process, digest stable
    d1 = final_digest(spark, base)
    stats = run_extraction(spark, df, base, run_id="r2",
                           num_partitions=2, writer=w)
    assert stats["n_in"] == 0 and len(calls) == 2
    assert final_digest(spark, base) == d1
    shutil.rmtree(base, ignore_errors=True)


def test_iceberg_writer_requires_configured_catalog(spark):
    """IcebergRunWriter must fail AT CONSTRUCTION with the exact launch
    flags when the catalog is absent (this sandbox cannot ship the
    runtime jar — SCALE.md waiver), not at write time on an executor."""
    import pytest as _pytest

    from pdf_extract_spark.plans.pipeline import IcebergRunWriter

    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergRunWriter(spark, "nocat.db.extracted")


def test_salted_repartition_balances_oversized_tail(spark):
    """O7 skew evidence: with a heavy oversized tail, salted partitioning
    must cap the max partition byte load near the mean; naive url-hash
    partitioning would let multiple oversized docs co-locate by chance."""
    import pyspark.sql.functions as F
    from pdf_extract_spark.operators.extract import (derived_width,
                                                     salted_repartition)

    # 400 small docs (~1 KB) + 96 oversized (~512 KB): heavy tail ~99% of
    # bytes; unique-url hashing must spread it near-uniformly
    rows = [(f"https://s.example/{i:06d}", None, bytearray(b"x" * 1024), None, "en")
            for i in range(400)]
    rows += [(f"https://big.example/{i:03d}", None,
              bytearray(b"y" * (512 * 1024)), None, "en") for i in range(96)]
    df = spark.createDataFrame(rows, pages.PAGES_SCHEMA)

    # an explicit width, and None: the derived width (the heavy rows are
    # contiguous, so the input's own layout packs them into its last
    # partitions)
    for width in (12, None):
        n = width or derived_width(df)
        parts = (salted_repartition(df, width)
                 .select(F.spark_partition_id().alias("p"),
                         F.length("html").alias("n"))
                 .groupBy("p").agg(F.sum("n").alias("part_bytes"))
                 .collect())
        loads = [r["part_bytes"] for r in parts]
        total = sum(loads)
        assert len(loads) <= n
        # uniform hash of 96 heavy keys over n partitions; no partition
        # may carry more than ~2.5× the mean byte load
        assert max(loads) * n < 2.52 * total, (width, loads)


def test_crash_between_data_and_lineage_writes(spark, tmp_path_factory):
    """Run-level commit protocol: lineage is the commit marker. A run whose
    lineage never landed (crash window) is treated as uncommitted — its
    data is dropped at resume and reprocessed exactly once, converging to
    the identical digest with no duplicates."""
    import shutil as sh

    base = str(tmp_path_factory.mktemp("crashwin"))
    df = spark.createDataFrame(pages.make_rows(120), schema=pages.PAGES_SCHEMA)
    run_extraction(spark, df, base, run_id="r1", num_partitions=3)
    d1 = final_digest(spark, base)

    sh.rmtree(f"{base}/lineage")  # crash happened before lineage commit

    stats = run_extraction(spark, df, base, run_id="r2", num_partitions=3)
    assert stats["n_in"] == 120  # uncommitted run dropped → full reprocess
    assert final_digest(spark, base) == d1
    ok = extracted_ok(spark, base)
    assert ok.count() == ok.select("url").distinct().count()
    shutil.rmtree(base, ignore_errors=True)


def test_crash_mid_write_torn_file(spark, tmp_path_factory):
    """Committer v2 exposes task files as tasks finish: a crash mid-write
    leaves a torn parquet file in the crashed run's directory. The resume
    cleanup must remove the whole uncommitted run (torn file included) and
    reprocess it — committed runs stay untouched."""
    import glob
    import os as _os

    base = str(tmp_path_factory.mktemp("torn"))
    df1 = spark.createDataFrame(pages.make_rows(80), schema=pages.PAGES_SCHEMA)
    run_extraction(spark, df1, base, run_id="r1", num_partitions=2)
    d1 = final_digest(spark, base)

    # simulate a crashed second run: partial dir with one torn file, no lineage
    crashed = f"{base}/extracted/run_id=crashed/status=ok"
    _os.makedirs(crashed)
    good = glob.glob(f"{base}/extracted/run_id=r1/status=ok/*.parquet")[0]
    with open(good, "rb") as f:
        torn = f.read()[:100]  # truncated parquet = unreadable
    with open(f"{crashed}/part-torn.parquet", "wb") as f:
        f.write(torn)

    full = spark.createDataFrame(pages.make_rows(130), schema=pages.PAGES_SCHEMA)
    stats = run_extraction(spark, full, base, run_id="r2", num_partitions=2)
    assert stats["n_in"] == 50  # only the genuinely new rows
    assert not _os.path.exists(f"{base}/extracted/run_id=crashed")
    ok = extracted_ok(spark, base)
    assert ok.count() == ok.select("url").distinct().count()
    assert ok.count() + quarantine(spark, base).count() == 130
    assert final_digest(spark, base) != d1  # grew by the new rows
    shutil.rmtree(base, ignore_errors=True)


def test_torn_lineage_removed_but_unreadable_aborts(spark, tmp_path_factory):
    """A lineage file without the parquet footer magic is a crashed lineage
    write → removed, run reprocessed. A lineage file that fails to read
    while LOOKING complete (footer intact) must ABORT the resume: deleting
    it would cascade into deleting the committed run's data."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path_factory.mktemp("tornlin"))
    df = spark.createDataFrame(pages.make_rows(60), schema=pages.PAGES_SCHEMA)
    run_extraction(spark, df, base, run_id="r1", num_partitions=2)
    d1 = final_digest(spark, base)

    # torn lineage (crashed during its own write): footer magic missing
    lin = f"{base}/lineage"
    good = next(n for n in _os.listdir(lin) if n.endswith(".parquet"))
    with open(f"{lin}/{good}", "rb") as f:
        head = f.read()[:50]
    with open(f"{lin}/run-crashed.parquet", "wb") as f:
        f.write(head)
    stats = run_extraction(spark, df, base, run_id="r2", num_partitions=2)
    assert stats["n_in"] == 0  # r1 stayed committed; torn marker ignored
    assert not _os.path.exists(f"{lin}/run-crashed.parquet")
    assert final_digest(spark, base) == d1

    # complete-looking but unreadable (wrong schema would read fine, so use
    # a valid-footer file whose body is garbage): bytes end in PAR1 yet
    # pyarrow cannot parse the footer length/metadata
    bad = head + b"\x00" * 20 + b"PAR1"
    with open(f"{lin}/run-odd.parquet", "wb") as f:
        f.write(bad)
    with pytest.raises(RuntimeError, match="refusing to resume"):
        run_extraction(spark, df, base, run_id="r3", num_partitions=2)
    _os.remove(f"{lin}/run-odd.parquet")
    # data untouched by the aborted resume
    assert final_digest(spark, base) == d1
    shutil.rmtree(base, ignore_errors=True)


def test_unreadable_committed_data_aborts_resume(spark, tmp_path_factory):
    """Resume reads the committed urls of every committed run; a read
    failure must raise, never pass for "nothing committed" (which would
    decode and append every committed url a second time). A committed
    run that wrote no rows still resumes."""
    import glob

    base = str(tmp_path_factory.mktemp("unreadable"))
    empty = spark.createDataFrame([], pages.PAGES_SCHEMA)
    assert run_extraction(spark, empty, base, run_id="r0")["n_in"] == 0
    df = spark.createDataFrame(pages.make_rows(60), schema=pages.PAGES_SCHEMA)
    assert run_extraction(spark, df, base, run_id="r1",
                          num_partitions=2)["n_in"] == 60

    files = glob.glob(f"{base}/extracted/run_id=r1/*/*.parquet")
    assert files
    for path in files:
        with open(path, "wb") as f:
            f.write(b"garbage" * 10)
    with pytest.raises(Exception, match="(?i)parquet"):
        run_extraction(spark, df, base, run_id="r2", num_partitions=2)
    assert sorted(n for n in os.listdir(f"{base}/lineage")) == [
        "run-r0.parquet", "run-r1.parquet"]
    shutil.rmtree(base, ignore_errors=True)


def test_lineage_marker_is_single_atomic_file(spark, tmp_path_factory):
    """The commit marker is ONE file per run (atomic rename), so a run can
    never be half-committed with under-reported audit counters. Its rows
    and Arrow schema, counted by the decode tasks, equal lineage_rows over
    a re-read of what the run wrote — also with partitions left empty, an
    all-error input and a run with nothing left to do."""
    import pyarrow.parquet as pq

    base = str(tmp_path_factory.mktemp("atomiclin"))
    df = spark.createDataFrame(pages.make_rows(90), schema=pages.PAGES_SCHEMA)
    run_extraction(spark, df, base, run_id="a b/1", num_partitions=3)
    files = [n for n in os.listdir(f"{base}/lineage") if n.endswith(".parquet")]
    assert len(files) == 1
    # all partitions' audit rows live in that one file
    tab = pq.read_table(f"{base}/lineage/{files[0]}")
    assert tab.num_rows == 3
    assert set(tab.column("run_id").to_pylist()) == {"a b/1"}
    assert sum(tab.column("n_in").to_pylist()) == 90
    # no temp droppings left behind
    assert not [n for n in os.listdir(base) if n.startswith("_lineage_tmp")]

    # the same input again: an empty run, whose marker has no rows
    assert run_extraction(spark, df, base, run_id="again",
                          num_partitions=3)["n_in"] == 0
    # 6 rows over 16 partitions leaves most of them empty
    few = spark.createDataFrame(pages.make_rows(6), schema=pages.PAGES_SCHEMA)
    run_extraction(spark, few, f"{base}/wide", run_id="w", num_partitions=16)
    # every payload empty: every row an error, no row a sha
    bad = spark.createDataFrame(
        [(f"https://e.example/{i}", None, b"", None, "en") for i in range(25)],
        schema=pages.PAGES_SCHEMA)
    stats = run_extraction(spark, bad, f"{base}/bad", run_id="b",
                           num_partitions=4)
    assert (stats["n_in"], stats["n_err"]) == (25, 25)

    for out, run_id, n_rows in ((base, "a b/1", 3), (base, "again", 0),
                                (f"{base}/wide", "w", None),
                                (f"{base}/bad", "b", None)):
        marker, ref = _marker_and_reference(spark, out, run_id)
        assert marker.schema == ref.schema, run_id
        assert marker.to_pylist() == ref.to_pylist(), run_id
        if n_rows is not None:
            assert marker.num_rows == n_rows
    shutil.rmtree(base, ignore_errors=True)


def test_python_digest_equals_sql_sum_digest(spark):
    """The digest a decode task keeps in Python (commit.digest_term,
    format_digest) equals SQL sum_digest over the same rows: random shas,
    leading-zero prefixes, nulls counted as '0', sums past 2^60."""
    import random

    from pdf_extract_spark.plans.commit import (digest_term, format_digest,
                                                sum_digest)

    rng = random.Random(12)
    groups = {
        "random": [rng.randbytes(32).hex() for _ in range(300)],
        "leading_zeros": ["0" * k + rng.randbytes(32).hex()[k:]
                          for k in range(16)],
        "zero_prefix_only": ["0" * 15 + rng.randbytes(32).hex()[15:]],
        "with_nulls": [None, rng.randbytes(32).hex(), None, "f" * 64],
        "nulls_only": [None, None],
    }
    assert sum(map(digest_term, groups["random"])) > 1 << 60
    rows = [(g, h) for g, hs in groups.items() for h in hs]
    got = {r["g"]: r["d"] for r in
           spark.createDataFrame(rows, "g string, sha string").groupBy("g")
           .agg(sum_digest("coalesce(sha, '0')").alias("d")).collect()}
    assert got == {g: format_digest(sum(digest_term(h or "0") for h in hs))
                   for g, hs in groups.items()}
    assert got["nulls_only"] == got["zero_prefix_only"] == "0" * 15


def test_tally_merge_is_a_keyed_union(spark):
    """A partition's tally merged twice (a resubmitted decode task) leaves
    the accumulator unchanged: the merge is a union, not a sum."""
    from pdf_extract_spark.operators.extract import partition_tally

    acc = partition_tally(spark)
    acc.add({0: (5, 4, 1, 1234), 2: (3, 3, 0, 99)})
    once = dict(acc.value)
    acc.add({0: (5, 4, 1, 1234)})
    assert acc.value == once == {0: (5, 4, 1, 1234), 2: (3, 3, 0, 99)}


def test_writer_elsewhere_still_gets_its_marker(spark, tmp_path_factory):
    """A writer that puts the rows somewhere other than <out>/extracted
    still commits a marker counting every row it was handed."""
    from pdf_extract_spark.plans.pipeline import ParquetRunWriter

    base = str(tmp_path_factory.mktemp("elsewhere"))
    df = spark.createDataFrame(pages.make_rows(70), schema=pages.PAGES_SCHEMA)
    stats = run_extraction(spark, df, f"{base}/out", run_id="r1",
                           num_partitions=3,
                           writer=ParquetRunWriter(f"{base}/rows"))
    assert stats["n_in"] == 70
    assert not os.path.exists(f"{base}/out/extracted")
    marker, ref = _marker_and_reference(spark, f"{base}/out", "r1",
                                        data_dir=f"{base}/rows")
    assert sum(marker.column("n_in").to_pylist()) == 70
    assert marker.to_pylist() == ref.to_pylist()
    # resume reads the committed rows where the writer put them
    again = run_extraction(spark, df, f"{base}/out", run_id="r2",
                           num_partitions=3,
                           writer=ParquetRunWriter(f"{base}/rows"))
    assert again["n_in"] == 0
    assert not os.path.exists(f"{base}/out/extracted")
    shutil.rmtree(base, ignore_errors=True)


def test_iceberg_writer_refuses_to_resume(spark, tmp_path_factory):
    """An output directory with committed runs cannot be resumed through
    IcebergRunWriter: run_extraction raises a clear error before any
    decode, not a missing-path error from a parquet read."""
    from pdf_extract_spark.plans.pipeline import IcebergRunWriter

    base = str(tmp_path_factory.mktemp("iceresume"))
    df = spark.createDataFrame(pages.make_rows(20), schema=pages.PAGES_SCHEMA)
    run_extraction(spark, df, base, run_id="r1", num_partitions=2)
    # the catalog is named only so the writer can be built; the refusal
    # comes before anything would load it
    key = "spark.sql.catalog.icetest"
    spark.conf.set(key, "org.apache.iceberg.spark.SparkCatalog")
    try:
        writer = IcebergRunWriter(spark, "icetest.db.extracted")
    finally:
        spark.conf.unset(key)
    with pytest.raises(RuntimeError, match="IcebergRunWriter cannot resume"):
        run_extraction(spark, df, base, run_id="r2", num_partitions=2,
                       writer=writer)
    # a run that started and never committed may have rows in the table
    crashed = f"{base}/crashed"
    os.makedirs(f"{crashed}/_started")
    open(f"{crashed}/_started/r9", "w").close()
    with pytest.raises(RuntimeError, match=r"runs \['r9'\]"):
        run_extraction(spark, df, crashed, run_id="r10", num_partitions=2,
                       writer=writer)
    shutil.rmtree(base, ignore_errors=True)


def test_outputs_sharing_a_writer_directory(spark, tmp_path_factory):
    """Two output directories write through one ParquetRunWriter
    directory. A fresh output neither deletes nor reads the other's
    committed runs, and its resume removes only its own crashed run."""
    from pdf_extract_spark.plans.pipeline import ParquetRunWriter

    class CrashBeforeMarker(ParquetRunWriter):
        def write_run(self, ext):
            super().write_run(ext)
            raise RuntimeError("crash before the marker")

    base = str(tmp_path_factory.mktemp("shared"))
    rows = f"{base}/rows"
    df = spark.createDataFrame(pages.make_rows(60), schema=pages.PAGES_SCHEMA)
    assert run_extraction(spark, df, f"{base}/a", run_id="a1",
                          num_partitions=3,
                          writer=ParquetRunWriter(rows))["n_in"] == 60
    with pytest.raises(RuntimeError, match="crash before the marker"):
        run_extraction(spark, df, f"{base}/b", run_id="b1", num_partitions=3,
                       writer=CrashBeforeMarker(rows))
    assert os.path.isdir(f"{rows}/run_id=b1")

    # b has committed nothing: it decodes every row, keeps a's run and
    # drops its own crashed one
    assert run_extraction(spark, df, f"{base}/b", run_id="b2",
                          num_partitions=3,
                          writer=ParquetRunWriter(rows))["n_in"] == 60
    assert not os.path.exists(f"{rows}/run_id=b1")
    # each output resumes from its own runs only
    for out, run_id in ((f"{base}/a", "a2"), (f"{base}/b", "b3")):
        assert run_extraction(spark, df, out, run_id=run_id,
                              num_partitions=3,
                              writer=ParquetRunWriter(rows))["n_in"] == 0
    per_run = {r["run_id"]: r["count"] for r in
               spark.read.parquet(rows).groupBy("run_id").count().collect()}
    assert per_run == {"a1": 60, "b2": 60}
    shutil.rmtree(base, ignore_errors=True)


def test_runs_leave_no_accumulator_behind(spark, tmp_path_factory):
    """Each run's tally accumulator leaves the driver's registry once its
    marker is built: three runs do not grow it."""
    from pyspark.accumulators import _accumulatorRegistry

    base = str(tmp_path_factory.mktemp("accreg"))
    before = len(_accumulatorRegistry)
    for n, run_id in ((20, "r1"), (30, "r2"), (40, "r3")):
        df = spark.createDataFrame(pages.make_rows(n),
                                   schema=pages.PAGES_SCHEMA)
        run_extraction(spark, df, base, run_id=run_id, num_partitions=2)
    assert len(_accumulatorRegistry) == before
    shutil.rmtree(base, ignore_errors=True)


_RETRY_SCRIPT = """
import json, os, sys

import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import functions as F

from pdf_extract_spark.fixtures import pages
from pdf_extract_spark.plans.pipeline import (ParquetRunWriter,
                                              lineage_rows, run_extraction)
from pdf_extract_spark.session import get_spark

out = sys.argv[1]
spark = get_spark()
df = spark.createDataFrame(pages.make_rows(60), pages.PAGES_SCHEMA)
clean = run_extraction(spark, df, f"{out}/clean", "r1", num_partitions=3)
clean_marker = pq.read_table(f"{out}/clean/lineage/run-r1.parquet")
# fail partition 1's first attempt at its last row, after its decode saw
# every row
fail_pid = 1
fail_at = dict(zip(clean_marker.column("partition_id").to_pylist(),
                   clean_marker.column("n_in").to_pylist()))[fail_pid]
flag = f"{out}/injected"


class FailingWriter(ParquetRunWriter):
    def write_run(self, ext):
        seen = {}

        @F.udf("boolean")
        def keep(pid):
            ctx = TaskContext.get()
            key = (ctx.partitionId(), ctx.attemptNumber())
            seen[key] = seen.get(key, 0) + 1
            if key == (fail_pid, 0) and seen[key] == fail_at:
                open(flag, "w").close()
                raise RuntimeError("injected failure")
            return True

        super().write_run(ext.filter(keep("partition_id")))


retried = run_extraction(spark, df, f"{out}/retried", "r1",
                         num_partitions=3,
                         writer=FailingWriter(f"{out}/retried/extracted"))
marker = pq.read_table(f"{out}/retried/lineage/run-r1.parquet")
staged = (spark.read.parquet(f"{out}/retried/extracted")
          .filter(F.col("run_id") == "r1"))
ref = lineage_rows(staged, "r1").toArrow().sort_by("partition_id")
print(json.dumps({
    "injected": os.path.exists(flag),
    "stats": [clean, retried],
    "markers": [clean_marker.to_pylist(), marker.to_pylist(),
                ref.to_pylist()],
    "schemas_equal": marker.schema == ref.schema,
}))
spark.stop()
"""


def test_tally_exact_under_task_retry(tmp_path):
    """On a master that retries failed tasks (local[2,2]; plain local[N]
    never retries), a decode task whose first attempt fails after decoding
    its whole partition leaves stats and the marker equal to a failure-free
    run and to lineage_rows over the re-read: Spark drops the failed
    attempt's tally."""
    script = tmp_path / "retry.py"
    script.write_text(_RETRY_SCRIPT)
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g")
    res = subprocess.run(
        [os.path.join(os.environ.get("SPARK_HOME")
                      or os.path.dirname(pyspark.__file__),
                      "bin", "spark-submit"),
         "--master", "local[2,2]", str(script), str(tmp_path / "out")],
        cwd=tmp_path, capture_output=True, text=True, timeout=600, env=env)
    assert res.returncode == 0, res.stderr[-4000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got["injected"]
    clean, retried = got["stats"]
    assert clean == retried and clean["n_in"] == 60
    clean_marker, marker, ref = got["markers"]
    assert marker == clean_marker == ref
    assert got["schemas_equal"]


def test_charset_declared_pages_flow_through_extract(spark):
    """Charset-sniffing plumbing: declared-encoding payloads must decode
    through the distributed operator byte-identically to the kernel, and
    a lying declaration must land in quarantine as charset_mismatch."""
    import datetime as dt

    para = ("word " * 30).strip()
    doc = (lambda head: f"<html><head>{head}</head><body>"
           f"<article><p>{para} café résumé</p></article></body></html>")
    ts = dt.datetime(2026, 1, 1)
    rows = [
        ("cs://meta-cp1252", ts,
         doc('<meta charset="iso-8859-1">').encode("cp1252"), None, "en"),
        ("cs://bom-utf8", ts,
         b"\xef\xbb\xbf" + doc("").encode("utf-8"), None, "en"),
        ("cs://bom-utf16le", ts,
         b"\xff\xfe" + doc("").encode("utf-16-le"), None, "en"),
        ("cs://lying-decl", ts,
         doc('<meta charset="utf-8">').encode("cp1252"), None, "en"),
        ("cs://undeclared", ts, doc("").encode("cp1252"), None, "en"),
    ]
    df = spark.createDataFrame(rows, schema=pages.PAGES_SCHEMA)
    got = _collect_shas(extract_text(df, num_partitions=3))
    for url, _, payload, _, _ in rows:
        text, err = decode_payload(payload)
        assert got[url] == (text_sha256(text) if text is not None else None,
                            err), url
    assert got["cs://meta-cp1252"][1] is None
    assert got["cs://bom-utf16le"][1] is None
    assert got["cs://lying-decl"][1] == "charset_mismatch"
    assert got["cs://undeclared"][1] == "invalid_utf8"
    # the two BOM/meta decodes must agree with the plain-utf8 text
    plain, _ = decode_payload(doc("").encode("utf-8"))
    assert got["cs://bom-utf8"][0] == text_sha256(plain)


def test_run_extraction_derives_layout_from_input(spark, tmp_path_factory):
    """With no num_partitions, run_extraction decodes in one url-hash
    partition per input partition: a table with more partitions than
    cores, whose heavy rows all sit in one input partition, commits one
    lineage partition per input partition, spreads the heavy rows across
    them, and matches the single-node golden and an explicit-width run."""
    import datetime as dt

    import pyspark.sql.functions as F

    base = str(tmp_path_factory.mktemp("derived"))
    ts = dt.datetime(2026, 1, 1)
    heavy = [(f"https://heavy.example/{i:02d}", ts,
              ("<html><body><article><p>"
               + f"heavy document {i} paragraph words " * 6000
               + "</p></article></body></html>").encode(), None, "en")
             for i in range(8)]
    rows = pages.make_rows(120) + heavy  # heavy rows: the last input slice
    n_in = spark.sparkContext.defaultParallelism + 4
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, n_in),
                               pages.PAGES_SCHEMA)
    assert df.rdd.getNumPartitions() == n_in

    stats = run_extraction(spark, df, f"{base}/derived", run_id="r1")
    assert stats["n_in"] == len(rows)
    lineage = spark.read.parquet(f"{base}/derived/lineage")
    assert lineage.count() == n_in
    heavy_parts = (extracted_ok(spark, f"{base}/derived")
                   .filter(F.col("url").startswith("https://heavy."))
                   .select("partition_id").distinct().count())
    assert heavy_parts > 1

    golden = {}
    for url, _, payload, _, _ in rows:
        text, err = decode_payload(payload)
        golden[url] = (text_sha256(text) if text is not None else None, err)
    got = _collect_shas(spark.read.parquet(f"{base}/derived/extracted"))
    assert got == golden
    run_extraction(spark, df, f"{base}/explicit", run_id="r1",
                   num_partitions=5)
    assert final_digest(spark, f"{base}/derived") \
        == final_digest(spark, f"{base}/explicit")
    shutil.rmtree(base, ignore_errors=True)


def test_derived_width_floors_at_the_cores(spark, tmp_path_factory):
    """An input with fewer partitions than cores, or none at all (an empty
    table), still decodes one url-hash partition per core, and
    run_extraction runs on an empty pages table."""
    from pdf_extract_spark.operators.extract import derived_width

    cores = spark.sparkContext.defaultParallelism
    few = spark.createDataFrame(
        spark.sparkContext.parallelize(pages.make_rows(20), 2),
        pages.PAGES_SCHEMA)
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                  pages.PAGES_SCHEMA)
    assert empty.rdd.getNumPartitions() == 0
    assert derived_width(few) == derived_width(empty) == cores

    base = str(tmp_path_factory.mktemp("empty"))
    stats = run_extraction(spark, empty, base, run_id="r1")
    assert (stats["n_in"], stats["n_err"]) == (0, 0)
    shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("operator", ["mapInPandas", "mapInArrow"])
def test_arrow_batches_are_byte_bounded(spark, operator):
    """mapInPandas (other kernels) and mapInArrow (the decode) receive
    Arrow batches no larger than the session's byte bound, well before
    the row cap closes them."""
    from pdf_extract_spark.session import (ARROW_MAX_BYTES_PER_BATCH,
                                           ARROW_MAX_RECORDS_PER_BATCH)

    rows = [(f"https://b.example/{i:05d}", bytes([65 + i % 26]) * 3000)
            for i in range(2000)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                               "url string, html binary")

    def pandas_sizes(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "rows": [len(pdf)],
                "bytes": [int(pdf["html"].map(len).sum()
                              + pdf["url"].str.len().sum())]})

    def arrow_sizes(batches):
        import pyarrow as pa
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "rows": [b.num_rows],
                "bytes": [sum(map(len, b.column("html").to_pylist()))
                          + sum(map(len, b.column("url").to_pylist()))]})

    sizes = pandas_sizes if operator == "mapInPandas" else arrow_sizes
    got = getattr(df, operator)(sizes, "rows long, bytes long").collect()
    assert sum(r["rows"] for r in got) == len(rows)
    assert len(got) > 1
    assert max(r["bytes"] for r in got) <= ARROW_MAX_BYTES_PER_BATCH
    assert max(r["rows"] for r in got) < ARROW_MAX_RECORDS_PER_BATCH
