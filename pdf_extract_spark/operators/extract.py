"""Distributed extraction operator: binary payloads → extracted text.

The Spark face of the S1 scan kernel (SURVEY.md §2.1; reference
/root/reference/modules/tools.py:27-50). Arrow-batched ``mapInArrow`` —
never per-row Python at the plan level (BASELINE.json:15 input_hint) —
calling the same pure kernel (`kernels.decode.decode_payload`) that produces
the single-node golden SHA-256s, so distributed output is byte-identical by
construction; tests assert it stays that way under any partitioning. No
pandas sits between Spark and the kernel: the task reads the Arrow
batches Spark hands it, url and warc_ts go back as the columns they came
in as, and the rest is built with ``pa.array``.

Lineage (SURVEY.md §A8): given a ``tally`` accumulator, each decode task
also counts its rows, non-null shas and errors and sums their digest
terms, in the same pass, and adds one entry under its partition id once
its last batch is out — run_extraction's commit marker is built from
these, with no Spark job after the write.

Skew handling (SURVEY.md O7): payloads spread by unique-url hash — at
scale statistically round-robin for the oversized tail — over as many
partitions as the input has, and at least as many as there are cores,
unless told otherwise (see derived_width). AQE cannot fix map-side
payload skew, so this is explicit.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pyarrow as pa
from pyspark import TaskContext
from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame, SparkSession, functions as F

EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "text string, text_sha256 string, n_bytes long, doc_kind string, "
    "error string"
)
EXTRACT_COLUMNS = [c.split()[0] for c in EXTRACT_SCHEMA.split(", ")]

def derived_width(df: DataFrame) -> int:
    """Url-hash spread width when the caller gives none: one partition per
    input partition of ``df`` — for a file scan, one per byte-bounded
    split (``spark.sql.files.maxPartitionBytes``) — and never fewer than
    the cores (``defaultParallelism``, always >= 1). Each decode task pays
    a fixed cost whatever it holds, mostly on the JVM side once local
    workers start from the installed pyspark (``worker_daemon``), so a
    width that follows the input's bytes instead of a constant keeps that
    cost proportional to the data; the floor keeps inputs with few
    partitions (``synth:``'s generator splits, one per unsplittable WARC
    file, an empty table's zero) from leaving cores idle or asking for
    zero partitions.

    Call it before any join or aggregation enters ``df``'s plan: with AQE
    on, asking an exchange-bearing plan for its partitions runs its
    stages."""
    return max(df.rdd.getNumPartitions(),
               df.sparkSession.sparkContext.defaultParallelism)


def salted_repartition(df: DataFrame, num_partitions: int | None,
                       key: str = "url") -> DataFrame:
    """Skew-spreading repartition on the key hash (BASELINE.json north_star:
    'salted repartitioning on url-hash to break skew from oversized
    documents'): ONE scan, ONE shuffle, exactly num_partitions outputs.

    ``num_partitions=None`` takes the count from ``derived_width(df)``.

    Why plain key-hash suffices for the oversized tail: keys are unique, so
    heavy rows land uniformly at random; with B heavy rows over P
    partitions the relative load deviation is ~sqrt(P/B) — at design scale
    (B ≈ 10⁹ oversized docs, P ≈ 10⁵) statistically indistinguishable from
    round-robin, and measured balanced at sandbox scale (test-gated). An
    earlier two-class variant (filter big/small, round-robin the big rows)
    gave exact balance but scanned the payload column twice and produced
    2×P partitions — worse at 100 TB than the hash spread it replaced.
    The spread stays even at the input's own width: heavy documents
    written together share a row group, and decoding the scan splits in
    place leaves that one split's task as the job's straggler.

    Hash directly on the key column — NOT on a precomputed
    pmod(xxhash64(key), n) bucket id: repartition hashes its expression
    again, and re-hashing n distinct bucket ids into n partitions is a
    balls-in-bins throw (~1/e of partitions empty, others 2-3 buckets) — a
    3× straggler skew that halves scaling efficiency."""
    if num_partitions is None:
        num_partitions = derived_width(df)
    return df.repartition(num_partitions, F.col(key))


class _KeyedUnion(AccumulatorParam):
    """Merge rule of the decode's per-task tallies: a union keyed by
    partition id, not a sum. Spark drops the updates of failed attempts,
    but a partition whose decode succeeds twice (a resubmitted stage)
    reports the same tally twice — the decode is deterministic — so the
    union stays exact where a sum would double it."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, v1: dict, v2: dict) -> dict:
        v1.update(v2)
        return v1


def partition_tally(spark: SparkSession) -> Accumulator:
    """A driver accumulator for ``extract_text(..., tally=...)``: once the
    decode has run, its value maps each decode partition id to
    ``(n_in, n_out, n_err, digest_sum)``."""
    return spark.sparkContext.accumulator({}, _KeyedUnion())


def _decode_batches(batches: Iterator[pa.RecordBatch],
                    tally: Accumulator | None = None
                    ) -> Iterator[pa.RecordBatch]:
    # import inside the task so --py-files shipping works without driver state
    from pdf_extract_spark.kernels.decode import decode_payload, text_sha256
    from pdf_extract_spark.kernels.textstats import detect_language
    from pdf_extract_spark.plans.commit import digest_term

    n_in = n_out = n_err = digest = 0
    for batch in batches:
        # the kernel call is necessarily per-row (it parses bytes); all
        # bookkeeping around it runs as whole-batch comprehensions, and
        # url/warc_ts go back to Spark as the Arrow columns they came in as
        raws = [b"" if p is None else p
                for p in batch.column("html").to_pylist()]
        decoded = [decode_payload(r) for r in raws]
        texts = [t for t, _ in decoded]
        errors = [e for _, e in decoded]
        shas = [text_sha256(t) if t is not None else None for t in texts]
        # the string type Spark hands in is the one it expects back
        # (string, or large_string under arrow.useLargeVarTypes)
        str_t = batch.schema.field("url").type
        # crawl archives (WARC source) carry no lang label — detect it
        # from a bounded prefix of the extracted text (the heuristic
        # saturates long before 4 KB; a full-document scan would dominate
        # decode cost on large docs); labeled inputs pass through verbatim
        # — and a fully-labeled batch (the common case) skips the row loop
        langs = batch.column("lang")
        if langs.null_count:
            langs = pa.array(
                [detect_language(t[:4096]) if (lg is None and t) else lg
                 for lg, t in zip(langs.to_pylist(), texts)], str_t)
        yield pa.RecordBatch.from_arrays([
            batch.column("url"),
            batch.column("warc_ts"),
            langs,
            pa.array(texts, str_t),
            pa.array(shas, str_t),
            pa.array([len(r) for r in raws], pa.int64()),
            # container kind, from the same magic-byte dispatch the decode
            # kernel uses — downstream label-trust decisions key on it
            # (plans/corpus.classify_docs fits only on html-carried labels)
            pa.array(["pdf" if r[:5] == b"%PDF-" else "html" for r in raws],
                     str_t),
            pa.array(errors, str_t),
        ], names=EXTRACT_COLUMNS)
        ok = [s for s in shas if s is not None]
        n_in += batch.num_rows
        n_out += len(ok)
        n_err += sum(e is not None for e in errors)
        digest += sum(map(digest_term, ok))
    # one entry per task, under the id that spark_partition_id() gives the
    # task's rows; a task with no rows adds none (groupBy gives it no row)
    if tally is not None and n_in:
        tally.add({TaskContext.get().partitionId(): (n_in, n_out, n_err,
                                                     digest)})


def extract_text(pages: DataFrame, num_partitions: int | None = None, *,
                 tally: Accumulator | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extracted table.

    ``num_partitions`` spreads the rows over that many url-hash
    partitions before the decode. None here means NO shuffle: decode in
    the input's own partitions (the streaming ingest keeps its
    micro-batches narrow this way) — unlike ``salted_repartition`` and
    ``run_extraction``, where None means ``derived_width``. Callers that
    want the derived spread resolve it first and pass the int.

    ``tally`` (from ``partition_tally``) has each decode task count its
    own rows in the same pass; run_extraction builds its lineage marker
    from it.

    Column pruning note: only url/warc_ts/html/lang are read — the input
    `text` column is never deserialized (Catalyst prunes it from the scan).
    """
    df = pages.select("url", "warc_ts", "html", "lang")
    if num_partitions:
        df = salted_repartition(df, num_partitions)
    return df.mapInArrow(partial(_decode_batches, tally=tally),
                         schema=EXTRACT_SCHEMA)
