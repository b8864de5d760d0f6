"""The Python workers of a local session import pyspark from its installed
copy, not from Spark's archives (pdf_extract_spark.worker_daemon), and the
spark-submit --py-files recipe still starts them from any directory."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import zipfile

import pyspark

from pdf_extract_spark.worker_daemon import spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_start_without_spark_archives(spark):
    def probe(batches):
        import sys

        import pandas as pd
        import pyspark
        for _ in batches:
            pass
        yield pd.DataFrame({"probe": [json.dumps({
            "pyspark": pyspark.__file__,
            "importers": list(sys.path_importer_cache)})]})

    rows = (spark.range(4, numPartitions=2)
            .mapInPandas(probe, "probe string").collect())
    assert len(rows) == 2
    for row in rows:
        seen = json.loads(row.probe)
        assert ".zip" not in seen["pyspark"] \
            and ".jar" not in seen["pyspark"], seen["pyspark"]
        stale = [k for k in seen["importers"]
                 if re.search(r"pyspark\.zip|py4j-[^/]*\.zip|\.jar", k)]
        assert stale == []


def _fake_pyspark(root, version: str) -> str:
    os.makedirs(os.path.join(root, "pyspark"))
    for name, text in (("__init__.py", ""),
                       ("version.py", f'__version__: str = "{version}"\n')):
        with open(os.path.join(root, "pyspark", name), "w") as f:
            f.write(text)
    return str(root)


def test_spark_archives_drops_only_the_spark_archives(tmp_path):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    bundle = str(lib / "pyspark.zip")
    with zipfile.ZipFile(bundle, "w") as z:
        z.writestr("pyspark/version.py", "__version__: str = '9.9.1'\n")
    py4j = str(lib / "py4j-0.10.9.9-src.zip")
    with zipfile.ZipFile(py4j, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = str(tmp_path / "spark" / "spark-core_2.13-9.9.1.jar")
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("pyspark/__init__.py", "")
    package = str(tmp_path / "pdf_extract_spark.zip")
    with zipfile.ZipFile(package, "w") as z:
        z.writestr("pdf_extract_spark/__init__.py", "")
    same = _fake_pyspark(tmp_path / "same", "9.9.1")
    other = _fake_pyspark(tmp_path / "other", "9.9.2")

    assert spark_archives([bundle, py4j, jar, package, same]) \
        == [bundle, py4j, jar]
    assert spark_archives([bundle, py4j, jar, package, other]) == []
    assert spark_archives([py4j, jar, package, same]) == []


def test_py_files_submit_from_another_directory(tmp_path):
    """spark-submit --py-files with the package zip, run outside the
    repo: the workers' daemon module is only importable from the
    package root get_spark puts on their path."""
    package = shutil.make_archive(
        str(tmp_path / "pdf_extract_spark"), "zip", REPO, "pdf_extract_spark")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [os.path.join(os.environ.get("SPARK_HOME")
                      or os.path.dirname(pyspark.__file__),
                      "bin", "spark-submit"),
         "--master", "local[2]", "--py-files", package,
         os.path.join(REPO, "jobs", "extract_job.py"),
         "--input", "synth:200", "--output", str(tmp_path / "out")],
        cwd=tmp_path, capture_output=True, text=True, timeout=900, env=env)
    assert res.returncode == 0, res.stderr[-4000:]
    assert json.loads(res.stdout.strip().splitlines()[-1])["n_in"] == 200
