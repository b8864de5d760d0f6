"""Per-layer measurements for the traced run.

Every figure comes from outside the program: calls into each module's
public functions are timed here, and Spark's task metrics are read from
the event log that the benchmark enables for the traced run. Each Spark
action is tagged with the id of the span that issued it (local property
`perfbench.span`), so event-log metrics attach to spans.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

TAG = "perfbench.span"
PAGE_COLS = ("url", "warc_ts", "html", "lang")  # what extract_text reads
PAGE_COLS_DDL = "url string, warc_ts timestamp, html binary, lang string"

# fixture class -> rows timed per kernel
KERNEL_SAMPLES = {"html": 150, "html_oversized": 6, "empty": 20,
                  **{f"pdf{k}": 20 for k in range(9)}}
PDF_FEATURES = {"classic": ("pdf0", "pdf1", "pdf2", "pdf3", "pdf4"),
                "encrypted": ("pdf5",), "simple_enc": ("pdf6",),
                "form": ("pdf7",), "xref_stream_filters": ("pdf8",)}


@contextmanager
def tagged(spark, tracer, name: str, **attrs):
    """A span whose Spark jobs carry the span id in the event log."""
    with tracer.span(name, **attrs) as rec:
        spark.sparkContext.setLocalProperty(TAG, str(rec["id"]))
        try:
            yield rec
        finally:
            spark.sparkContext.setLocalProperty(TAG, None)


def default_partitions() -> int:
    """The salted-repartition width run_extraction uses by default."""
    from pdf_extract_spark.plans.pipeline import run_extraction
    return inspect.signature(run_extraction).parameters[
        "num_partitions"].default


def _median_ms_per_doc(fn, items: list, reps: int = 3) -> float:
    per_pass = []
    for _ in range(reps):
        t = time.perf_counter()
        for x in items:
            fn(x)
        per_pass.append((time.perf_counter() - t) * 1000 / len(items))
    return statistics.median(per_pass)


def kernel_metrics(samples: dict[str, list[bytes]]) -> dict[str, float]:
    """Single-core, in-process kernel cost per document, by fixture class
    and by PDF document feature."""
    from pdf_extract_spark.kernels.decode import decode_payload, text_sha256
    from pdf_extract_spark.kernels.html_extract import extract_main_text
    from pdf_extract_spark.kernels.pdf_extract import extract_pdf_text

    pdfs = [p for k in PDF_FEATURES.values() for c in k for p in samples[c]]
    html = samples["html"]
    out = {
        "kernels.decode_payload.html.ms_per_doc":
            _median_ms_per_doc(decode_payload, html),
        "kernels.decode_payload.html_oversized.ms_per_doc":
            _median_ms_per_doc(decode_payload, samples["html_oversized"]),
        "kernels.decode_payload.pdf.ms_per_doc":
            _median_ms_per_doc(decode_payload, pdfs),
        "kernels.decode_payload.empty.ms_per_doc":
            _median_ms_per_doc(decode_payload, samples["empty"]),
    }
    for feature, classes in PDF_FEATURES.items():
        docs = [p for c in classes for p in samples[c]]
        out[f"kernels.extract_pdf_text.{feature}.ms_per_doc"] = \
            _median_ms_per_doc(extract_pdf_text, docs)
    html_str = [p.decode("utf-8") for p in html]
    out["kernels.extract_main_text.ms_per_doc"] = \
        _median_ms_per_doc(extract_main_text, html_str)
    texts = [t for t, _ in map(decode_payload, html)]
    out["kernels.text_sha256.ms_per_doc"] = \
        _median_ms_per_doc(text_sha256, texts)
    return out


def _passthrough(batches):
    """Identity mapInPandas: the floor cost of the Arrow/Python boundary."""
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 1e6


def job_layers(spark, tracer, pages_path: str, tmp: str, reps: int) -> dict:
    """Wall time of the extraction job's layers, each the median of `reps`
    runs on the workload's own pages table. Returns metric -> value and
    metric -> [span ids] for the event-log figures."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.operators.extract import (extract_text,
                                                     salted_repartition)
    from pdf_extract_spark.plans.pipeline import (ParquetRunWriter,
                                                  lineage_rows)

    parts = default_partitions()

    def pages():
        return spark.read.parquet(pages_path).select(*PAGE_COLS)

    probes = {
        "scan": lambda: _noop(pages()),
        "operators.salted_repartition":
            lambda: _noop(salted_repartition(pages(), parts)),
        "operators.arrow_handoff":
            lambda: _noop(pages().mapInPandas(_passthrough,
                                              schema=PAGE_COLS_DDL)),
        "operators.extract_text":
            lambda: _noop(extract_text(pages(), num_partitions=None)),
    }
    walls: dict[str, list[float]] = {}
    spans: dict[str, list[int]] = {}
    for _ in range(reps):
        for name, fn in probes.items():
            with tagged(spark, tracer, name) as rec:
                fn()
            walls.setdefault(name, []).append(tracer.wall(rec))
            spans.setdefault(name, []).append(rec["id"])

    # the write layer on a pre-decoded table, laid out as run_extraction
    # hands it to the writer
    run_id = "layers"
    decoded = os.path.join(tmp, "decoded")
    with tagged(spark, tracer, "predecode"):
        (extract_text(spark.read.parquet(pages_path), num_partitions=parts)
         .withColumn("partition_id", F.spark_partition_id())
         .withColumn("run_id", F.lit(run_id))
         .withColumn("status",
                     F.when(F.col("error").isNull(), "ok").otherwise("err"))
         .write.parquet(decoded))
    out_mb = []
    for rep in range(reps):
        out = os.path.join(tmp, f"written{rep}")
        ext = spark.read.parquet(decoded)
        with tagged(spark, tracer, "plans.pipeline.write_run") as rec:
            ParquetRunWriter(out).write_run(ext)
        walls.setdefault("plans.pipeline.write_run", []).append(
            tracer.wall(rec))
        out_mb.append(_dir_mb(out))
        staged = (spark.read.parquet(out).filter(F.col("run_id") == run_id)
                  .select("partition_id", "text_sha256", "error"))
        with tagged(spark, tracer, "plans.pipeline.lineage") as rec:
            lineage_rows(staged, run_id).toArrow()
        walls.setdefault("plans.pipeline.lineage", []).append(
            tracer.wall(rec))
        shutil.rmtree(out)
    shutil.rmtree(decoded)

    med = {k: statistics.median(v) for k, v in walls.items()}
    metrics = {
        "scan.wall_s": med["scan"],
        "operators.salted_repartition.wall_s":
            med["operators.salted_repartition"] - med["scan"],
        "operators.arrow_handoff.wall_s": med["operators.arrow_handoff"],
        "operators.extract_text.wall_s": med["operators.extract_text"],
        "plans.pipeline.write_run.wall_s": med["plans.pipeline.write_run"],
        "plans.pipeline.write_run.output_mb": statistics.median(out_mb),
        "plans.pipeline.lineage.wall_s": med["plans.pipeline.lineage"],
    }
    return {"metrics": metrics, "spans": spans}


# --- Spark event log ---------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress"):
            continue  # an application that did not stop cleanly
        with open(path) as f:
            events.extend(json.loads(line) for line in f)
    return events


def task_stats_by_span(events: list[dict]) -> dict[str, dict]:
    """Per span id: task count, shuffle write and fetch wait, executor CPU
    and GC time, and per-stage task durations."""
    stage_span: dict[tuple, str] = {}
    out: dict[str, dict] = {}
    app = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerApplicationStart":
            app += 1  # stage ids restart with each application
        elif kind == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get(TAG)
            if tag is not None:
                for sid in e["Stage IDs"]:
                    stage_span[(app, sid)] = tag
        elif kind == "SparkListenerTaskEnd":
            tag = stage_span.get((app, e["Stage ID"]))
            m = e.get("Task Metrics")
            if tag is None or m is None:
                continue
            s = out.setdefault(tag, {"tasks": 0, "shuffle_write_mb": 0.0,
                                     "fetch_wait_s": 0.0,
                                     "executor_cpu_s": 0.0, "gc_s": 0.0,
                                     "stages": {}})
            info = e["Task Info"]
            s["tasks"] += 1
            s["shuffle_write_mb"] += \
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
            s["fetch_wait_s"] += \
                m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
            s["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            s["gc_s"] += m["JVM GC Time"] / 1e3
            st = s["stages"].setdefault(str(e["Stage ID"]),
                                        {"run_ms": 0, "task_ms": []})
            st["run_ms"] += m["Executor Run Time"]
            st["task_ms"].append(info["Finish Time"] - info["Launch Time"])
    return out


def straggler_ratio(span_stats: dict) -> float:
    """max/median task time of the span's costliest stage (the decode)."""
    stage = max(span_stats["stages"].values(), key=lambda s: s["run_ms"])
    # event-log times are whole milliseconds
    return max(stage["task_ms"]) / max(statistics.median(stage["task_ms"]), 1)
