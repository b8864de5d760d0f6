"""`synthpages` — a PySpark Python Data Source (DataSource V2 API) for the
Common-Crawl-style pages table (url, warc_ts, html, text, lang).

It is the engine's one executor-side page generator, behind the idiomatic
connector face (SURVEY S2/S7: sources as first-class plugs): each
InputPartition owns an index range, workers synthesize their ranges
independently (zero driver materialization, zero shuffle), and rows
stream out as Arrow RecordBatches — the fast path the Python Data Source
API offers over per-row tuples.

Usage:
    spark.dataSource.register(SynthPagesDataSource)
    spark.read.format("synthpages").option("n", 300_000) \\
         .option("numPartitions", 32).load()

The deterministic content contract is fixtures/pages.make_rows — the same
rows regardless of partitioning, so outputs are byte-comparable across
parallelism levels (the scaling-bench invariant).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    In,
    InputPartition,
)

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")

ROWS_PER_BATCH = 2048  # bound worker memory: multi-KB payloads per row


class _Range(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SynthPagesReader(DataSourceReader):
    """Default reader: deliberately does NOT override pushFilters — the
    PySpark worker hard-fails ANY reader that overrides it when
    spark.sql.python.filterPushdown.enabled is false, so the override
    lives only on the opt-in subclass below."""

    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.num_partitions = int(options.get("numPartitions", 8))
        self.langs: set[str] | None = None  # pushed lang filter, if any

    def partitions(self):
        span = (self.n + self.num_partitions - 1) // self.num_partitions
        return [_Range(p * span, min((p + 1) * span, self.n))
                for p in range(self.num_partitions)
                if p * span < self.n]

    def read(self, partition: _Range):
        # import inside read(): runs on executors under --py-files
        import pyarrow as pa

        from ..fixtures.pages import _lang_for, make_rows_at

        idxs = range(partition.start, partition.end)
        if self.langs is not None:
            # materialize ONCE, only in the filtered case
            idxs = [i for i in idxs if _lang_for(i) in self.langs]
        for a in range(0, len(idxs), ROWS_PER_BATCH):
            rows = make_rows_at(idxs[a:a + ROWS_PER_BATCH])
            urls, tss, htmls, texts, langs = zip(*rows)
            yield pa.RecordBatch.from_arrays(
                [pa.array(urls, pa.string()),
                 pa.array(tss, pa.timestamp("us")),
                 pa.array(htmls, pa.binary()),
                 pa.array(texts, pa.string()),
                 pa.array(langs, pa.string())],
                names=["url", "warc_ts", "html", "text", "lang"],
            )


class PushdownSynthPagesReader(SynthPagesReader):
    """Opt-in variant (.option("langPushdown", "true")): accepts lang
    EqualTo/In filters — lang is a cheap pure function of the row index,
    so matching rows are decided BEFORE the (expensive) payload
    synthesis, the same reason a database connector pushes predicates
    below the scan.

    OPT-IN CONTRACT — load() once per query: Spark 4.1 caches the
    planned Python scan on the shared DataSourceV2Relation node, so a
    second, differently-filtered query over the SAME loaded DataFrame
    reuses the first plan's baked-in pruning (verified empirically).
    Claimed filters are ALSO returned as remaining, so Spark re-applies
    them post-scan: a pushed query can never return extra rows even if
    state goes stale; only DataFrame reuse against the documented
    contract can under-produce. Requires
    spark.sql.python.filterPushdown.enabled=true (session.py sets it)."""

    def pushFilters(self, filters):
        self.langs = None
        out = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("lang",):
                self.langs = {f.value} if self.langs is None \
                    else self.langs & {f.value}
            elif isinstance(f, In) and f.attribute == ("lang",):
                vals = set(f.value)
                self.langs = vals if self.langs is None \
                    else self.langs & vals
            out.append(f)  # defense in depth: Spark re-filters post-scan
        return out


class SynthPagesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthpages"

    def schema(self) -> str:
        return PAGES_DDL

    def reader(self, schema) -> SynthPagesReader:
        if self.options.get("langPushdown", "false") == "true":
            return PushdownSynthPagesReader(self.options)
        return SynthPagesReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SynthPagesDataSource)


def synth_pages(spark, n: int, partitions: int = 8):
    """pages DataFrame via the registered connector."""
    register(spark)
    return (spark.read.format("synthpages")
            .option("n", n).option("numPartitions", partitions).load())
