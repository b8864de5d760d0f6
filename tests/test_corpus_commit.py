"""The corpus-prep stage commit (plans/corpus.py): each stage's counts and
digest are observed on the stage's own write, and stay exact under a task
retry; a run, finished or crashed, leaves nothing in the session's cache."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess

import pyspark
import pytest

from pdf_extract_spark.plans.corpus import (CorpusJobInterrupted,
                                            run_corpus_prep)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RETRY_SCRIPT = """
import json, os, sys

import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import functions as F

from pdf_extract_spark.fixtures import pages
from pdf_extract_spark.plans import corpus
from pdf_extract_spark.plans.commit import sum_digest
from pdf_extract_spark.session import get_spark

out = sys.argv[1]
spark = get_spark()
df = spark.createDataFrame(pages.make_rows(400), pages.PAGES_SCHEMA)


def extract_marker(run):
    # commits extract, then stops after clean's write
    try:
        corpus.run_corpus_prep(spark, f"{out}/{run}", pages=df,
                               num_partitions=2, fail_after="clean")
    except corpus.CorpusJobInterrupted:
        pass
    m = pq.read_table(f"{out}/{run}/lineage/extract.parquet").to_pylist()[0]
    return [m["n_out"], m["n_quarantined"], m["digest"]]


clean = extract_marker("clean")

# fail partition 1's first attempt at its 150th row: the UDF evaluates 100
# rows a batch, so the first batch has already passed the observation
# above it when the attempt fails
fail_pid, fail_at = 1, 150
flag = f"{out}/injected"
seen = {}


@F.udf("boolean", useArrow=False)
def keep(url):
    ctx = TaskContext.get()
    key = (ctx.partitionId(), ctx.attemptNumber())
    seen[key] = seen.get(key, 0) + 1
    if key == (fail_pid, 0) and seen[key] == fail_at:
        open(flag, "w").close()
        raise RuntimeError("injected failure")
    return True


decode = corpus.extract_text
corpus.extract_text = lambda p, **kw: decode(p, **kw).filter(keep("url"))
retried = extract_marker("retried")

# the summary the stage commit used to take: a groupBy(st) re-read
ref = {r["st"]: (r["n"], r["d"]) for r in (
    spark.read.parquet(f"{out}/retried/stages/extract/data")
    .groupBy("st").agg(
        F.count("*").alias("n"),
        sum_digest("sha2(concat_ws('|', url, coalesce(text_sha, '0')), "
                   "256)").alias("d"))
    .collect())}
print(json.dumps({
    "injected": os.path.exists(flag),
    "markers": [clean, retried],
    "reread": [ref.get("ok", (0,))[0], ref.get("err", (0,))[0],
               ref.get("ok", (0, None))[1]],
}))
"""


def test_observed_summary_exact_under_task_retry(tmp_path):
    """On a master that retries failed tasks (local[2,2]; plain local[N]
    never retries), a task of the extract stage's post-shuffle half fails
    after rows have passed the stage's observation. The committed marker
    equals a failure-free run and the groupBy(st) re-read of the written
    rows: Spark drops the failed attempt's observed metrics."""
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
    clean, retried = got["markers"]
    assert retried == clean == got["reread"]
    assert clean[0] + clean[1] == 400


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_corpus_run_leaves_no_cached_frame(spark, tmp_path):
    """Neither a run crashed after dedup_doc's write nor the resume that
    completes it leaves a cached Dataset in the session."""
    from pdf_extract_spark.fixtures.pages import PAGES_SCHEMA
    from pdf_extract_spark.sources.synth_pages import synth_pages

    # two planted near-duplicates, so dedup_doc has pairs to contract
    ts = dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc)
    words = " ".join(f"w{k}" for k in range(60))
    planted = [(f"https://dup.example.com/{tag}", ts,
                f"<html><body><article><p>{body}</p></article></body>"
                f"</html>".encode(), None, "en")
               for tag, body in (("a", words), ("b", words + " extra"))]
    pages = synth_pages(spark, 60, partitions=4).unionByName(
        spark.createDataFrame(planted, PAGES_SCHEMA))
    spark.catalog.clearCache()  # whatever earlier tests left
    out = str(tmp_path / "job")
    with pytest.raises(CorpusJobInterrupted):
        run_corpus_prep(spark, out, pages=pages, num_partitions=4,
                        fail_after="dedup_doc")
    assert _cache_empty(spark)
    stats = run_corpus_prep(spark, out, pages=pages, num_partitions=4)
    assert stats["stages"]["dedup_doc"]["status"] == "ran"
    assert stats["stages"]["dedup_doc"]["n_quarantined"] >= 1
    assert _cache_empty(spark)
