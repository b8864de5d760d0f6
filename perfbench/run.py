#!/usr/bin/env python3
"""Benchmark of the extraction and corpus-prep jobs.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \\
        --seconds 10 --trace 0

One run is a closed loop from one driver process at local[nproc]: set up
a SparkSession three times (start + a small warm-up decode job; once when
traced), run the workload's job once untimed on a quarter of the input,
then run it back to back for --seconds (at least twice), checking every
job's output against a single-node decode of the same rows. `--trace 1`
also enables Spark's event log and measures each layer (see
perfbench/README.md). The run waits for every process it started to exit
before it exits itself. The last stdout line is the result:

    {"correct": true, "attempted": 6, "failed": 0, "metrics": {...}}

and the line before it records the environment. Per-job samples, every
metric, event-log summaries and trace spans go to a sidecar JSON file
under .perfbench/runs/.

    python3 perfbench/run.py --smoke      # every workload, 300 docs each
    python3 perfbench/run.py --self-test  # a wrong expected digest must fail
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

# job: which public entry point the workload drives; docs: input size
WORKLOADS = {
    "extract_mixed": {"job": "extract", "docs": 6000},
    "extract_pdf_tail": {"job": "extract", "docs": 2000},
    "corpus_prep": {"job": "corpus", "docs": 1000},
}
SETUPS = 3
WARMUP_ROWS = 256
WARMUP_FRACTION = 0.25  # share of the input the untimed warm-up job runs on
# timed jobs a run makes even when --seconds ends sooner, so docs_per_s is
# never a single job's figure
MIN_TIMED_JOBS = 2
LAYER_REPS = 3
# share of an extract workload's input that the traced run's corpus-prep
# probe runs on (about the size of the corpus_prep workload)
CORPUS_PROBE_FRACTION = 1 / 6
SMOKE_DOCS = 300


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="override the workload's input size")
    ap.add_argument("--tamper-expected", action="store_true",
                    help="corrupt the expected digest (self-test)")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if not (args.smoke or args.self_test or args.workload):
        ap.error("--workload is required")
    return args


def configure_environment(tmp: str, trace: bool) -> None:
    """Keep Spark, the JVM and the Python workers inside `tmp`, make the
    package importable in the workers, silence the console progress bar,
    and enable the event log for the traced run only. Must run before the
    JVM starts."""
    local = os.path.join(tmp, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_SUBMIT_OPTS"), jvm_opts]))
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local}
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    """State of one benchmark run."""

    def __init__(self, args, tmp: str) -> None:
        from perfbench.sysmon import Tracer

        self.args = args
        self.tmp = tmp
        self.wl = WORKLOADS[args.workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.tracer = Tracer()
        self.spark = None
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.n_iter = 0
        self.n_failed = 0
        self.warmup_rows = None
        self.corpus_probe = None
        self.event_log = None

    # --- set-up -------------------------------------------------------------

    def setup(self) -> float:
        from pdf_extract_spark.fixtures.pages import PAGES_SCHEMA, make_rows
        from pdf_extract_spark.operators.extract import extract_text
        from pdf_extract_spark.session import get_spark

        if self.warmup_rows is None:
            self.warmup_rows = make_rows(WARMUP_ROWS)
        with self.tracer.span("setup") as rec:
            with self.tracer.span("session_start"):
                self.spark = get_spark(master=self.master,
                                       app_name="perfbench")
            with self.tracer.span("warmup_decode"):
                (extract_text(self.spark.createDataFrame(self.warmup_rows,
                                                         PAGES_SCHEMA))
                 .write.format("noop").mode("overwrite").save())
        return self.tracer.wall(rec)

    # --- one job --------------------------------------------------------------

    def run_job(self, timed: bool, kind: str | None = None) -> dict | None:
        """Run the workload's job once (or `kind` for the corpus layer
        probe) and check its output. Returns the job's sample, or None if
        it raised; a job whose output is wrong keeps its sample but counts
        as failed."""
        from perfbench.layers import tagged
        from perfbench.sysmon import tree_cpu_s

        kind = kind or self.wl["job"]
        i = self.n_iter
        self.n_iter += 1
        out = os.path.join(self.tmp, f"out{i}")
        try:
            pages = self.spark.read.parquet(self.meta["pages"])
            cpu0 = tree_cpu_s()
            with tagged(self.spark, self.tracer, "job", kind=kind,
                        iteration=i, timed=timed) as rec:
                stats = JOBS[kind][0](self.spark, pages, out, f"it{i}")
            cpu = tree_cpu_s() - cpu0
            with tagged(self.spark, self.tracer, "check", iteration=i):
                problems, sample = JOBS[kind][1](self, stats, out)
        except Exception:
            traceback.print_exc()
            problems, sample = [f"job {i} raised"], None
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if problems:
            self.n_failed += 1
            self.failures.extend(problems)
            print(f"[perfbench] job {i} FAILED: {problems}", file=sys.stderr)
        if sample is None:
            return None
        wall = self.tracer.wall(rec)
        sample.update(iteration=i, span=rec["id"], timed=timed, wall_s=wall,
                      docs_per_s=sample["n_in"] / wall,
                      cpu_util=cpu / (wall * self.nproc), ok=not problems)
        self.samples.append(sample)
        return sample

    def warm_up(self) -> None:
        """One untimed, unchecked job over a sample of the input, so the
        timed jobs start with warm caches, JIT and Python workers."""
        pages = self.spark.read.parquet(self.meta["pages"]).sample(
            fraction=WARMUP_FRACTION, seed=0)
        out = os.path.join(self.tmp, "warmup")
        try:
            with self.tracer.span("warmup_job"):
                JOBS[self.wl["job"]][0](self.spark, pages, out, "warmup")
        finally:
            shutil.rmtree(out, ignore_errors=True)

    # --- the run --------------------------------------------------------------

    def prepare_inputs(self) -> None:
        from perfbench import inputs

        n = self.args.docs or self.wl["docs"]
        with self.tracer.span("inputs"):
            self.meta = inputs.prepare(
                os.path.join(STATE, "cache"), self.args.workload,
                self.args.seed, n, procs=min(4, self.nproc))
        self.expected = dict(self.meta["expected"])
        if self.args.tamper_expected:
            self.expected["final_digest"] = "0" * 15

    def run(self) -> dict:
        from perfbench import inputs, layers
        from perfbench.sysmon import WorkerPeakRss

        trace = bool(self.args.trace)
        per_layer: dict[str, float] = {}
        setups = []
        try:
            # inputs are generated while the JVM launches; the first set-up
            # is the slowest of the three either way, so the median is
            # unaffected
            with ThreadPoolExecutor(1) as pool:
                gen = pool.submit(self.prepare_inputs)
                setups.append(self.setup())
                gen.result()
            if trace:
                with self.tracer.span("kernels"):
                    per_layer.update(layers.kernel_metrics(
                        inputs.kernel_samples(self.args.seed,
                                              layers.KERNEL_SAMPLES)))
            # setup_s is an end-to-end metric, so a traced run sets up once
            for _ in range(0 if trace else SETUPS - 1):
                self.spark.stop()
                setups.append(self.setup())
            self.warm_up()
            t_end = time.monotonic() + self.args.seconds
            with WorkerPeakRss() as rss:
                n = 0
                while n < MIN_TIMED_JOBS or time.monotonic() < t_end:
                    self.run_job(timed=True)
                    n += 1
            if trace:
                with self.tracer.span("layers"):
                    jl = layers.job_layers(self.spark, self.tracer,
                                           self.meta["pages"], self.tmp,
                                           LAYER_REPS)
                    if self.wl["job"] != "corpus":
                        self.corpus_probe = self.run_job(
                            timed=False, kind="corpus_probe")
            self.env = self.environment()
        finally:
            stop_spark(self.spark)

        timed = [s for s in self.samples if s["timed"]]
        if not timed:
            raise RuntimeError("every timed job raised; see stderr")
        qf = statistics.median(s["n_err"] / s["n_in"] for s in timed)
        end_to_end = {
            "docs_per_s": statistics.median(s["docs_per_s"] for s in timed),
            "setup_s": statistics.median(setups),
            "worker_peak_rss_mb": rss.peak_mb,
            "quarantine_frac": qf,
        }
        if trace:
            per_layer.update(self.trace_metrics(timed, jl))
        self.setups = setups
        return {"end_to_end": end_to_end, "per_layer": per_layer}

    def trace_metrics(self, timed: list[dict], jl: dict) -> dict:
        from perfbench import layers

        by_span = layers.task_stats_by_span(
            layers.read_event_log(os.path.join(self.tmp, "eventlog")))
        self.event_log = by_span
        med = statistics.median
        m = {"trace.docs_per_s": med(s["docs_per_s"] for s in timed)}
        m.update(jl["metrics"])
        rep = [by_span[str(i)] for i in
               jl["spans"]["operators.salted_repartition"]]
        for key in ("shuffle_write_mb", "fetch_wait_s", "tasks"):
            m[f"operators.salted_repartition.{key}"] = med(r[key] for r in rep)
        corpus = (timed if self.wl["job"] == "corpus"
                  else [self.corpus_probe] if self.corpus_probe else [])
        if not corpus:
            raise RuntimeError("corpus layer probe failed; see stderr")
        for stage in corpus[0]["stage_wall_s"]:
            m[f"plans.corpus.{stage}.wall_s"] = med(
                s["stage_wall_s"][stage] for s in corpus)
        jobs = [by_span[str(s["span"])] for s in timed]
        m["spark.decode_stage.task_max_over_median"] = med(
            layers.straggler_ratio(j) for j in jobs)
        for key in ("shuffle_write_mb", "executor_cpu_s", "gc_s"):
            m[f"spark.{key}"] = med(j[key] for j in jobs)
        m["spark.cpu_util"] = med(s["cpu_util"] for s in timed)
        return m

    def environment(self) -> dict:
        from pdf_extract_spark.fixtures.pages import FIXTURE_VERSION

        commit = None
        if os.path.isdir(os.path.join(ROOT, ".git")):
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        jvm = self.spark._jvm.java.lang.System
        return {
            "nproc": self.nproc, "master": self.master,
            "python": platform.python_version(),
            "spark": self.spark.version,
            "java": jvm.getProperty("java.version"),
            "fixture_version": FIXTURE_VERSION,
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "input_docs": self.expected["n_in"],
            "input_bytes": self.meta["input_bytes"],
            "input_file_bytes": self.meta["file_bytes"],
            "inputs_cached": self.meta["cached"],
            "git_commit": commit,
        }


# --- the two jobs and their output checks --------------------------------------

def _run_extraction(spark, pages, out, run_id):
    from pdf_extract_spark.plans.pipeline import run_extraction
    return run_extraction(spark, pages, out, run_id)


def _check_extraction(bench: Bench, stats: dict, out: str):
    from pdf_extract_spark.plans.pipeline import final_digest

    exp = bench.expected
    problems = [f"{k}={stats[k]} expected {exp[k]}" for k in ("n_in", "n_err")
                if stats[k] != exp[k]]
    digest = final_digest(bench.spark, out)
    if digest != exp["final_digest"]:
        problems.append(f"final_digest={digest} expected "
                        f"{exp['final_digest']}")
    return problems, {"n_in": stats["n_in"], "n_err": stats["n_err"]}


def _run_corpus(spark, pages, out, _run_id):
    from pdf_extract_spark.plans.corpus import run_corpus_prep
    return run_corpus_prep(spark, out, pages=pages)


def _run_corpus_probe(spark, pages, out, run_id):
    return _run_corpus(spark, pages.sample(fraction=CORPUS_PROBE_FRACTION,
                                           seed=0), out, run_id)


def _check_corpus(bench: Bench, stats: dict, out: str, probe: bool = False):
    """The extract stage must match the single-node decode (not checked
    for the probe's sample of the input), every stage must conserve
    documents and feed the next, and job_digest must equal the value
    recorded for this input by its first run."""
    from pdf_extract_spark.plans.corpus import job_digest

    exp = bench.expected
    st = stats["stages"]
    problems = []
    if not probe and (st["extract"]["n_in"],
                      st["extract"]["n_quarantined"]) != (exp["n_in"],
                                                          exp["n_err"]):
        problems.append(f"extract stage {st['extract']} expected {exp}")
    prev = None
    for name, s in st.items():
        if prev is not None and s["n_in"] != prev:
            problems.append(f"{name}: n_in {s['n_in']} != previous n_out")
        if name != "pack" and s["n_in"] != s["n_out"] + s["n_quarantined"]:
            problems.append(f"{name}: documents not conserved {s}")
        prev = s["n_out"]
    digest = job_digest(out)
    record = os.path.join(os.path.dirname(bench.meta["pages"]),
                          f"{'corpus_probe' if probe else 'corpus'}"
                          "_job_digest.txt")
    if not os.path.exists(record):
        with open(record + ".tmp", "w") as f:
            f.write(digest)
        os.replace(record + ".tmp", record)
    with open(record) as f:
        want = f.read()
    if bench.args.tamper_expected:
        want = "tampered"
    if digest != want:
        problems.append(f"job_digest={digest} expected {want}")
    n_in = st["extract"]["n_in"]
    return problems, {
        "n_in": n_in,
        "n_err": sum(s["n_quarantined"] for s in st.values()),
        "stage_wall_s": {k: s["wall_s"] for k, s in st.items()},
        "job_digest": digest}


JOBS = {"extract": (_run_extraction, _check_extraction),
        "corpus": (_run_corpus, _check_corpus),
        "corpus_probe": (_run_corpus_probe,
                         lambda *a: _check_corpus(*a, probe=True))}


# --- entry points ----------------------------------------------------------------

def bench_main(args) -> int:
    tmp = os.path.join(STATE, "tmp", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        configure_environment(tmp, bool(args.trace))
        bench = Bench(args, tmp)
        result = bench.run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in declared_metrics()[kind]}
    values = result[kind]
    if set(values) != set(units):
        raise RuntimeError(
            f"{kind} metrics differ from BENCHMARK.json: missing "
            f"{sorted(set(units) - set(values))}, undeclared "
            f"{sorted(set(values) - set(units))}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    headline = {"correct": bench.n_failed == 0, "attempted": bench.n_iter,
                "failed": bench.n_failed, "metrics": metrics}
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    sidecar = os.path.join(
        STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-"
                       f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(sidecar, "w") as f:
        json.dump({"env": bench.env, "headline": headline,
                   "end_to_end": result["end_to_end"],
                   "per_layer": result["per_layer"],
                   "setup_s": bench.setups, "samples": bench.samples,
                   "failures": bench.failures,
                   "event_log": bench.event_log,
                   "spans": bench.tracer.spans}, f, indent=1)
    print(f"[perfbench] sidecar {sidecar}", file=sys.stderr)
    print(json.dumps({"env": bench.env}, separators=(",", ":")))
    print(json.dumps(headline, separators=(",", ":")))
    return 0


def declared_metrics() -> dict:
    """Metric names and units, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _child(*argv: str) -> dict | None:
    """Run this script in a child process; its parsed result line."""
    res = subprocess.run([sys.executable, os.path.abspath(__file__), *argv],
                         capture_output=True, text=True, timeout=600)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def smoke() -> int:
    """Every workload, untraced and traced, on a few hundred documents."""
    ok = True
    for name in sorted(WORKLOADS):
        for trace in ("0", "1"):
            res = _child("--workload", name, "--seed", "1", "--seconds", "1",
                         "--trace", trace, "--docs", str(SMOKE_DOCS))
            good = bool(res and res["correct"] and res["failed"] == 0)
            ok &= good
            print(f"smoke {name} trace={trace}: "
                  f"{'ok' if good else 'FAILED'} {res}")
    return 0 if ok else 1


def self_test() -> int:
    """A tampered expected digest must be reported as failed jobs."""
    ok = True
    for name in ("extract_mixed", "corpus_prep"):
        res = _child("--workload", name, "--seed", "2", "--seconds", "1",
                     "--trace", "0", "--docs", str(SMOKE_DOCS),
                     "--tamper-expected")
        good = bool(res and not res["correct"]
                    and res["failed"] == res["attempted"] > 0)
        ok &= good
        print(f"self-test {name}: tampered digest "
              f"{'reported' if good else 'NOT reported'} {res}")
    return 0 if ok else 1


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through the clean-up below


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    from perfbench.sysmon import adopt_orphans, end_descendants

    signal.signal(signal.SIGTERM, _terminate)
    adopt_orphans()
    try:
        if args.smoke:
            return smoke()
        if args.self_test:
            return self_test()
        return bench_main(args)
    finally:
        left = end_descendants()
        if left:
            print(f"[perfbench] had to signal leftover processes {left}",
                  file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
