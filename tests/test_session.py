"""get_spark: the master is the caller's or the launcher's, and a local
master derives the rest of the session from it."""

from __future__ import annotations

import json
import os
import subprocess

import pyspark

from pdf_extract_spark.session import (
    ARROW_MAX_BYTES_PER_BATCH, ARROW_MAX_RECORDS_PER_BATCH, _local_slots)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_local_slots():
    cores = len(os.sched_getaffinity(0))
    assert _local_slots("local") == 1
    assert _local_slots("local[3]") == 3
    assert _local_slots("local[2,4]") == 2
    assert _local_slots("local[*]") == cores
    assert _local_slots("local[*,3]") == cores
    for other in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]",
                  "k8s://https://host:443"):
        assert _local_slots(other) is None


def test_session_settings(spark):
    conf = spark.conf.get
    assert spark.sparkContext.master == "local[8]"
    assert conf("spark.sql.shuffle.partitions") == "8"
    assert spark.newSession().conf.get("spark.sql.shuffle.partitions") == "8"
    assert conf("spark.sql.execution.arrow.maxRecordsPerBatch") \
        == str(ARROW_MAX_RECORDS_PER_BATCH) == "4096"
    assert conf("spark.sql.execution.arrow.maxBytesPerBatch") \
        == str(ARROW_MAX_BYTES_PER_BATCH) == str(1 << 20)
    assert conf("spark.sql.files.maxPartitionBytes") == "4m"
    sc_conf = spark.sparkContext.getConf()
    assert sc_conf.get("spark.python.daemon.module") \
        == "pdf_extract_spark.worker_daemon"
    assert sc_conf.get("spark.executorEnv.PYTHONPATH") == REPO


def test_spark_submit_master_is_kept(tmp_path):
    """A job calling get_spark() runs on spark-submit's --master, with the
    shuffle width derived from it (local[2]: 2 slots, at least 8)."""
    script = tmp_path / "probe.py"
    script.write_text(
        "import json\n"
        "from pdf_extract_spark.session import get_spark\n"
        "s = get_spark()\n"
        "print(json.dumps([s.sparkContext.master,\n"
        "                  s.sparkContext.defaultParallelism,\n"
        "                  s.conf.get('spark.sql.shuffle.partitions')]))\n"
        "s.stop()\n")
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [os.path.join(os.environ.get("SPARK_HOME")
                      or os.path.dirname(pyspark.__file__),
                      "bin", "spark-submit"),
         "--master", "local[2]", str(script)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600, env=env)
    assert res.returncode == 0, res.stderr[-4000:]
    assert json.loads(res.stdout.strip().splitlines()[-1]) \
        == ["local[2]", 2, "8"]
