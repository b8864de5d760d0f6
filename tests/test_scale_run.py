"""Smoke test of tools/scale_run.py: each job runs in a fresh process on
a small pages table and prints its one JSON line."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 200


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from pdf_extract_spark.sources.synth_pages import synth_pages

    path = str(tmp_path_factory.mktemp("scale") / "pages.parquet")
    synth_pages(spark, N_PAGES, partitions=2).write.parquet(path)
    return path


@pytest.mark.parametrize("job", ["extract", "corpus"])
def test_scale_run_prints_docs(pages_path, tmp_path, job):
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scale_run.py"),
         "--job", job, "--pages", pages_path, "--cpus", "2",
         "--out", str(tmp_path / "out"), "--no-warmup"],
        capture_output=True, text=True, timeout=900,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"})
    assert res.returncode == 0, res.stderr[-4000:]
    line = json.loads(res.stdout.strip().splitlines()[-1])
    assert line["cpus"] == 2 and line["docs"] == N_PAGES
    if job == "corpus":
        assert list(line["stage_walls"]) == [
            "extract", "clean", "gate", "classify", "dedup_para",
            "dedup_doc", "split", "pack"]
