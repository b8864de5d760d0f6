"""Structured Streaming tests: exactly-once incremental extraction across
restarts (checkpoint) and watermarked windowed rollup via availableNow."""

from __future__ import annotations

import os

import pytest

from pdf_extract_spark.fixtures.pages import PAGES_SCHEMA, make_rows
from pdf_extract_spark.streaming.ingest import (
    run_incremental,
    stream_event_rollup,
)


def _land_pages(spark, input_dir: str, n: int, start: int, tag: str) -> None:
    # append: new part files land in the watched directory (the file stream
    # source does not recurse into subdirectories)
    df = spark.createDataFrame(make_rows(n, start=start), PAGES_SCHEMA)
    df.coalesce(2).write.mode("append").parquet(input_dir)


def test_incremental_extract_exactly_once(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    input_dir = os.path.join(base, "in")
    output_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(input_dir)

    _land_pages(spark, input_dir, 60, 0, "batch1")
    n1 = run_incremental(spark, input_dir, output_dir, ckpt)
    assert n1 == 60

    # second drain with nothing new: no reprocessing
    assert run_incremental(spark, input_dir, output_dir, ckpt) == 60

    # new files land → only the delta is processed, totals are exact
    _land_pages(spark, input_dir, 40, 60, "batch2")
    n2 = run_incremental(spark, input_dir, output_dir, ckpt)
    assert n2 == 100

    out = spark.read.parquet(output_dir)
    assert out.count() == out.select("url").distinct().count() == 100


def test_stream_matches_batch_extraction(spark, tmp_path_factory):
    from pdf_extract_spark.operators.extract import extract_text

    base = str(tmp_path_factory.mktemp("stream_eq"))
    input_dir = os.path.join(base, "in")
    os.makedirs(input_dir)
    _land_pages(spark, input_dir, 50, 0, "b1")

    run_incremental(spark, input_dir, os.path.join(base, "out"),
                    os.path.join(base, "ckpt"))
    streamed = {r["url"]: r["text_sha256"] for r in
                spark.read.parquet(os.path.join(base, "out")).collect()}
    batch = {r["url"]: r["text_sha256"] for r in
             extract_text(spark.read.parquet(input_dir)).collect()}
    assert streamed == batch


def test_watermarked_rollup(spark, tmp_path_factory):
    import datetime as dt

    base = str(tmp_path_factory.mktemp("stream_ev"))
    input_dir = os.path.join(base, "in")
    os.makedirs(input_dir)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(i, t0 + dt.timedelta(minutes=7 * i), i % 5,
             ["view", "click"][i % 2], float(i), '{"k": 1}')
            for i in range(100)]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).coalesce(1).write.mode("append").parquet(input_dir)

    from pdf_extract_spark.streaming.ingest import rollup_result

    q, table = stream_event_rollup(spark, input_dir,
                                   os.path.join(base, "ckpt"))
    q.awaitTermination()
    res = rollup_result(spark, table).collect()
    assert res
    # 100 events over ~11.6h → every hour×type bucket sums to the batch truth
    total = sum(r["n_events"] for r in res)
    assert total == 100
    assert {r["event_type"] for r in res} == {"view", "click"}


@pytest.mark.parametrize("variant", ["watermark", "bloom"])
def test_stateful_stream_dedup(spark, tmp_path_factory, variant):
    """Cross-batch dedup in both bounded-state variants: re-crawled urls
    in later batches are dropped; state survives across drains via
    checkpoint."""
    from pdf_extract_spark.streaming.stateful import run_stream_dedup

    base = str(tmp_path_factory.mktemp(f"sdedup_{variant}"))
    input_dir = os.path.join(base, "in")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(input_dir)

    _land_pages(spark, input_dir, 80, 0, "b1")
    assert run_stream_dedup(spark, input_dir, out, ckpt,
                            variant=variant) == 80

    # batch 2: 40 re-crawled urls (indices 40-79) + 30 new (80-109)
    _land_pages(spark, input_dir, 70, 40, "b2")
    total = run_stream_dedup(spark, input_dir, out, ckpt, variant=variant)
    # only the 30 genuinely new urls pass the stateful filter
    assert total == 110
    df = spark.read.parquet(out)
    assert df.count() == df.select("url").distinct().count() == 110


def test_bloom_state_is_bounded():
    """The custom operator's state is a FIXED-SIZE bloom filter: its byte
    size is identical after 10 urls and after 5000 urls (the round-1
    version stored the full seen set — O(corpus) state)."""
    import hashlib

    import pandas as pd

    from pdf_extract_spark.streaming.stateful import BLOOM_BITS, _dedup_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def batch(urls):
        return pd.DataFrame({
            "url": urls,
            "url_sha": [hashlib.sha256(u.encode()).hexdigest()
                        for u in urls],
        })

    st = FakeState()
    small = [f"https://a.example/{i}" for i in range(10)]
    out1 = list(_dedup_fn(("00",), iter([batch(small)]), st))
    size_after_small = len(st.get[0])
    assert sum(len(o) for o in out1) == 10

    big = [f"https://b.example/{i}" for i in range(5000)]
    list(_dedup_fn(("00",), iter([batch(big)]), st))
    assert len(st.get[0]) == size_after_small == BLOOM_BITS // 8

    # duplicates of the first batch are all dropped (one-sided error)
    out3 = list(_dedup_fn(("00",), iter([batch(small)]), st))
    assert sum(len(o) for o in out3) == 0


def test_synthpages_data_source(spark):
    """The Python Data Source connector generates the pages table on the
    executors, partition-parallel, byte-identical to the content contract
    (fixtures.pages.make_rows) regardless of partitioning."""
    from pdf_extract_spark.sources.synth_pages import synth_pages

    ds = synth_pages(spark, 700, partitions=5)
    assert ds.rdd.getNumPartitions() == 5
    digest = ("sha2(concat_ws('|', url, cast(warc_ts as string), "
              "sha2(html, 256), coalesce(text, ''), lang), 256) AS h")
    a = ds.selectExpr(digest)
    b = spark.createDataFrame(make_rows(700), PAGES_SCHEMA).selectExpr(digest)
    assert a.count() == 700
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_synthpages_pushdown_optin_and_default_safety(spark):
    """Default connector path never claims filters (a reused DataFrame
    stays exact for filterless queries); the opt-in langPushdown path
    prunes generation and matches ground truth per freshly-loaded plan."""
    import pyspark.sql.functions as F

    from pdf_extract_spark.sources.synth_pages import register

    register(spark)
    # default: same df reused across filtered + filterless queries
    df = (spark.read.format("synthpages")
          .option("n", 600).option("numPartitions", 3).load())
    nz = df.filter(F.col("lang") == "zh").count()
    assert df.count() == 600  # reuse stays exact without pushdown
    truth = spark.createDataFrame(make_rows(600), PAGES_SCHEMA)
    assert nz == truth.filter(F.col("lang") == "zh").count()

    # opt-in: one load() per query (documented contract), rows identical
    def loaded():
        return (spark.read.format("synthpages")
                .option("n", 600).option("numPartitions", 3)
                .option("langPushdown", "true").load())
    got = {r["url"] for r in loaded().filter(F.col("lang") == "zh")
           .select("url").collect()}
    want = {r["url"] for r in truth.filter(F.col("lang") == "zh")
            .select("url").collect()}
    assert got == want
    both = loaded().filter(F.col("lang").isin("fr", "de")).count()
    assert both == truth.filter(F.col("lang").isin("fr", "de")).count()


def test_warc_source_end_to_end_golden(spark, tmp_path_factory):
    """WARC archives (Common Crawl format, per-record gzip members) read
    through the `warc` Data Source must feed the extraction pipeline to
    the SAME per-url SHA-256 as the single-node kernel on the same rows
    — the crawl-archive ingest path inherits the golden contract."""
    import hashlib
    import os

    from pdf_extract_spark.fixtures.warc import write_warc
    from pdf_extract_spark.kernels.decode import decode_payload
    from pdf_extract_spark.plans.pipeline import run_extraction
    from pdf_extract_spark.sources.warc import read_warc

    base = str(tmp_path_factory.mktemp("warc"))
    # 3 archives: 2 gzipped (CC convention) + 1 plain, disjoint row ranges
    write_warc(os.path.join(base, "seg-00.warc.gz"), 70, start=0)
    write_warc(os.path.join(base, "seg-01.warc.gz"), 70, start=70)
    write_warc(os.path.join(base, "seg-02.warc"), 60, start=140)

    pages = read_warc(spark, os.path.join(base, "seg-*.warc*"))
    assert pages.count() == 200
    assert pages.rdd.getNumPartitions() == 3  # one per archive file

    out = os.path.join(base, "out")
    stats = run_extraction(spark, pages, out, run_id="w1", num_partitions=4)
    assert stats["n_in"] == 200

    got = {r["url"]: r["text_sha256"] for r in
           spark.read.parquet(f"{out}/extracted")
           .filter("status = 'ok'").select("url", "text_sha256").collect()}
    from pdf_extract_spark.fixtures.pages import make_rows
    n_ok = 0
    for url, ts, payload, _t, _l in make_rows(200):
        text, err = decode_payload(payload)
        if err is None:
            n_ok += 1
            want = hashlib.sha256(text.encode()).hexdigest()
            assert got.get(url) == want, url
    assert n_ok == len(got) > 0


def test_warc_file_url_scheme_matches_plain_path(spark, tmp_path_factory):
    """A `file://` URL must list and read through the SAME scheme-dispatch
    branch remote schemes take (fsspec swap point) and yield rows
    identical to the schemeless local read — no network needed to prove
    the URL plumbing holds."""
    import os

    from pdf_extract_spark.fixtures.warc import write_warc
    from pdf_extract_spark.sources.warc import _split_scheme, read_warc

    assert _split_scheme("s3://bucket/key.warc.gz") == \
        ("s3", "bucket/key.warc.gz")
    assert _split_scheme("/plain/path.warc") == (None, "/plain/path.warc")

    base = str(tmp_path_factory.mktemp("warc_url"))
    write_warc(os.path.join(base, "u-00.warc.gz"), 30, start=0)
    write_warc(os.path.join(base, "u-01.warc"), 20, start=30)

    plain = read_warc(spark, os.path.join(base, "u-*.warc*"))
    via_url = read_warc(spark, "file://" + os.path.join(base, "u-*.warc*"))
    assert via_url.rdd.getNumPartitions() == 2
    a = sorted((r["url"], bytes(r["html"])) for r in plain.collect())
    b = sorted((r["url"], bytes(r["html"])) for r in via_url.collect())
    assert a == b and len(a) == 50


def test_warc_hardening_chunked_oversized_langdetect(spark, tmp_path_factory):
    """Chunked transfer-encoding bodies are de-chunked, records with
    invalid/oversized Content-Length are skipped without buffering,
    WARC/1.1 fractional dates parse as UTC, and extraction detects lang
    for label-less crawl rows."""
    import os

    from pdf_extract_spark.operators.extract import extract_text
    from pdf_extract_spark.sources.warc import read_warc

    base = str(tmp_path_factory.mktemp("warc_hard"))
    body = (b"<html><body><p>chunked body paragraph with plenty of real "
            b"words to keep the extractor busy here today</p></body></html>")
    half = len(body) // 2
    chunked = (f"{half:x}".encode() + b"\r\n" + body[:half] + b"\r\n"
               + f"{len(body) - half:x}".encode() + b"\r\n" + body[half:]
               + b"\r\n0\r\n\r\n")
    http_chunked = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Transfer-Encoding: chunked\r\n\r\n" + chunked)

    def rec(url, date, http):
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: " + url + b"\r\n"
                b"WARC-Date: " + date + b"\r\n"
                b"Content-Length: " + str(len(http)).encode() + b"\r\n"
                b"\r\n" + http + b"\r\n\r\n")

    bogus_len = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                 b"WARC-Target-URI: https://x.example/bad\r\n"
                 b"Content-Length: notanumber\r\n\r\n")
    huge_len = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: https://x.example/huge\r\n"
                b"Content-Length: 999999999999\r\n\r\n" + b"x" * 100)
    plain_http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                  + body)
    with open(os.path.join(base, "h.warc"), "wb") as f:
        f.write(rec(b"https://x.example/chunked",
                    b"2017-10-17T02:33:52.123456Z", http_chunked))
        f.write(bogus_len)
        f.write(huge_len)
        f.write(rec(b"https://x.example/plain",
                    b"2024-01-01T00:00:00Z", plain_http))

    df = read_warc(spark, os.path.join(base, "h.warc"))
    rows = {r["url"]: r for r in df.collect()}
    # bogus/huge records skipped; plain record after them still parsed
    assert set(rows) == {"https://x.example/chunked",
                         "https://x.example/plain"}
    assert bytes(rows["https://x.example/chunked"]["html"]) == body
    assert rows["https://x.example/chunked"]["warc_ts"].microsecond == 123456
    assert bytes(rows["https://x.example/plain"]["html"]) == body

    # lang detection for label-less crawl rows in the extract operator
    ext = {r["url"]: r for r in extract_text(df).collect()}
    assert ext["https://x.example/chunked"]["error"] is None
    assert ext["https://x.example/chunked"]["lang"] == "en"


def test_stream_incremental_near_dedup(spark, tmp_path_factory):
    """Streaming twin of dedup_incremental: new snapshots stream against
    the retained corpus. Asserts (a) the batch contract per verdict row
    (near-copies flagged with the right dup_of, fresh docs kept, short
    docs kept), (b) NO old×old work — output rows are exactly the new
    urls, retained urls never appear as subjects, and (c) BOUNDED STATE:
    the only stateful operator holds zero rows after every drain, because
    candidates are batch-local stream-static joins."""
    from pdf_extract_spark.streaming.incremental import (
        retained_sketch, stream_dedup_incremental)

    base = str(tmp_path_factory.mktemp("stream_inc"))
    input_dir, out_dir, ckpt = (os.path.join(base, d)
                                for d in ("in", "out", "ckpt"))
    os.makedirs(input_dir)

    def doc(i: int, n: int = 30) -> str:
        return " ".join(f"w{i}x{j}" for j in range(n))

    retained = spark.createDataFrame(
        [(f"old{i}", doc(i)) for i in range(20)], "url string, text string")
    band_table, sig_table = retained_sketch(retained)
    band_table = band_table.persist()
    sig_table = sig_table.persist()

    def drain() -> dict:
        stream = (spark.readStream.schema("url string, text string")
                  .format("parquet").load(input_dir))
        out = stream_dedup_incremental(stream, band_table, sig_table)
        q = (out.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        progress = q.lastProgress
        return progress

    # batch 1: near-copy of old3 (first word dropped), a fresh doc, a
    # too-short doc
    spark.createDataFrame(
        [("new_a", doc(3).split(" ", 1)[1]),
         ("new_b", doc(999)),
         ("new_c", "just two")], "url string, text string"
    ).coalesce(1).write.mode("append").parquet(input_dir)
    p1 = drain()

    # batch 2: exact text of old7 (jaccard 1.0), another fresh doc
    spark.createDataFrame(
        [("new_d", doc(7)), ("new_e", doc(777))],
        "url string, text string"
    ).coalesce(1).write.mode("append").parquet(input_dir)
    p2 = drain()

    rows = {r["url"]: r for r in spark.read.parquet(out_dir).collect()}
    # (b) exactly the new urls — no retained url ever becomes a subject
    assert set(rows) == {"new_a", "new_b", "new_c", "new_d", "new_e"}

    assert rows["new_a"]["keep"] is False
    assert rows["new_a"]["dup_of"] == "old3"
    assert rows["new_a"]["best_jaccard"] >= 0.5
    assert rows["new_b"]["keep"] is True and rows["new_b"]["n_dups"] == 0
    assert rows["new_c"]["keep"] is True  # < SHINGLE_N words: kept
    assert rows["new_d"]["keep"] is False
    assert rows["new_d"]["dup_of"] == "old7"
    assert rows["new_d"]["best_jaccard"] == 1.0
    assert rows["new_e"]["keep"] is True

    # (c) bounded state: zero rows in the state store after every drain
    for progress in (p1, p2):
        assert progress is not None
        ops = progress["stateOperators"]
        assert ops, "expected the applyInPandasWithState operator"
        assert all(op["numRowsTotal"] == 0 for op in ops), ops

    band_table.unpersist()
    sig_table.unpersist()
