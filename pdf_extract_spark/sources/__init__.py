"""Pluggable sources (SURVEY S2/S7): Python Data Source API connectors."""

from __future__ import annotations


def read_pages(spark, spec: str, splits: int | None = None):
    """The pages a job's --input names: `synth:N` fixture pages (in `splits`
    splits, default one per core), `warc:<glob>` or a parquet path."""
    kind, _, arg = spec.partition(":")
    if kind == "synth":
        from .synth_pages import synth_pages
        return synth_pages(spark, int(arg), partitions=splits
                           or spark.sparkContext.defaultParallelism)
    if kind == "warc":
        from .warc import read_warc
        return read_warc(spark, arg)
    return spark.read.parquet(spec)
