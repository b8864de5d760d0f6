"""Seeded workload inputs and their single-node expected outputs.

A workload's pages table is a pure function of (workload, seed, size):
the seed picks a region of the fixture index space
(`pdf_extract_spark.fixtures.pages`), and rows are taken from it class by
class until each class has its quota. Different seeds therefore give
different documents with exactly the same composition, so throughput and
quarantine counts compare across seeds.

Each generated table is cached under `.perfbench/cache/` in the checkout
together with what a single-node `kernels.decode.decode_payload` pass says
the extraction job must produce (`n_in`, `n_err`, `final_digest`).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import multiprocessing
import os
import random
import shutil

from pdf_extract_spark.fixtures import pdf_writer
from pdf_extract_spark.fixtures.pages import (FIXTURE_VERSION, _h,
                                              make_payload, make_rows_at)
from pdf_extract_spark.kernels.decode import decode_payload, text_sha256

GEN_VERSION = 2  # bump when anything below changes the generated rows

PDF_KINDS = tuple(f"pdf{k}" for k in range(9))
ADVERSARIAL = ("empty", "truncated_pdf", "bad_utf8", "locked_pdf",
               "html_oversized")

# Shares of the fixture-v4 default mix (FIXTURES.md): 85% HTML of which
# 0.1% oversized, 10% PDF over nine layout kinds, 5% adversarial over
# five kinds (the fifth is an oversized HTML page).
MIXED_SHARES = {"html_oversized": 0.85 * 0.001 + 0.01,
                **{k: 0.10 / 9 for k in PDF_KINDS},
                **{k: 0.01 for k in ADVERSARIAL[:4]}}

# PDF-only tail: broken and password-locked PDFs quarantine, the nine
# layout kinds share the rest, and a block of many-page PDFs sits together
# at the front of the table.
PDF_TAIL_SHARES = {"truncated_pdf": 0.02, "locked_pdf": 0.02,
                   **{k: 0.96 / 9 for k in PDF_KINDS}}
MULTIPAGE_DOCS = 32

_SEED_SLOTS = 1000       # keeps every index's warc_ts inside pandas' range
_SLOT_WIDTH = 100_003    # wider than any scan a workload needs
_MOD_2_60 = 1 << 60


def fixture_class(i: int) -> str:
    """The class `fixtures.pages.make_payload(i)` produces for row i."""
    r = _h(i, "mix") % 100
    if r < 85:
        return "html_oversized" if _h(i, "big") % 1000 == 0 else "html"
    if r < 95:
        return PDF_KINDS[_h(i, "pdfkind") % 9]
    return ADVERSARIAL[_h(i, "adv") % 5]


def seed_offset(seed: int, region: int = 0) -> int:
    return 1_000_000 + (seed % _SEED_SLOTS) * _SLOT_WIDTH + region


def quotas(shares: dict[str, float], n: int, rest: str | None) -> dict:
    """Per-class row counts for n rows; `rest` takes what rounding leaves."""
    q = {k: round(n * s) for k, s in shares.items()}
    if rest is not None:
        q[rest] = n - sum(q.values())
    return q


def pick_indices(quota: dict[str, int], start: int) -> list[int]:
    """Fixture indices from `start` upward, in index (generation) order,
    until every class quota is met."""
    left = dict(quota)
    need = sum(left.values())
    out = []
    i = start
    while need:
        c = fixture_class(i)
        if left.get(c, 0) > 0:
            left[c] -= 1
            need -= 1
            out.append(i)
        i += 1
        if i - start >= _SLOT_WIDTH:
            raise RuntimeError(f"quota {quota} not met within one seed slot")
    return out


def multipage_pdf(seed: int, k: int) -> tuple:
    """One many-page PDF row (60-90 uncompressed pages, 200-320 KB)."""
    rng = random.Random(f"multipage:{seed}:{k}")
    words = ("data spark engine query table column partition shuffle join "
             "filter aggregate window stream batch vector index").split()
    n_pages = 60 + 10 * (k % 4)
    pages = [pdf_writer.page_ops_simple(
        [" ".join(rng.choice(words) for _ in range(10)) for _ in range(40)])
        for _ in range(n_pages)]
    return (f"https://bulk.example.com/report/{seed}-{k:03d}",
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
            pdf_writer.build_pdf(pages), None, "en")


def _decoded_rows(job: tuple) -> list[tuple]:
    """Pool task: generate rows and their single-node decode results."""
    kind, args = job
    rows = (make_rows_at(args) if kind == "fixture"
            else [multipage_pdf(*a) for a in args])
    out = []
    for url, ts, payload, _text, lang in rows:
        text, err = decode_payload(payload)
        out.append((url, ts, payload, lang,
                    None if text is None else text_sha256(text), err))
    return out


def expected_outputs(rows: list[tuple]) -> dict:
    """What run_extraction must report and commit for these rows: counts,
    and `plans.pipeline.final_digest` computed the same way in Python."""
    acc = 0
    n_err = 0
    for url, _ts, _payload, _lang, sha, err in rows:
        if err is not None:
            n_err += 1
            continue
        acc += int(hashlib.sha256(f"{url}|{sha}".encode()).hexdigest()[:15],
                   16)
    return {"n_in": len(rows), "n_err": n_err,
            "final_digest": format(acc % _MOD_2_60, "015X")}


def _write_pages(rows: list[tuple], path: str, row_groups: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tab = pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us", "UTC")),
        "html": pa.array([r[2] for r in rows], pa.binary()),
        "text": pa.nulls(len(rows), pa.string()),
        "lang": pa.array([r[3] for r in rows], pa.string()),
    })
    # several row groups, so Spark can split the single file across cores
    pq.write_table(tab, path,
                   row_group_size=max(1, -(-len(rows) // row_groups)))


def _jobs(workload: str, seed: int, n: int) -> list[tuple]:
    if workload == "extract_pdf_tail":
        idx = pick_indices(quotas(PDF_TAIL_SHARES, n - MULTIPAGE_DOCS, None),
                           seed_offset(seed))
        # the many-page block is contiguous, so it lands in few scan splits
        head = [("multipage", [(seed, k)]) for k in range(MULTIPAGE_DOCS)]
    else:
        idx = pick_indices(quotas(MIXED_SHARES, n, rest="html"),
                           seed_offset(seed))
        head = []
    step = 200
    return head + [("fixture", idx[a:a + step])
                   for a in range(0, len(idx), step)]


def prepare(cache_root: str, workload: str, seed: int, n: int,
            procs: int) -> dict:
    """Generate (or reuse) the workload's pages parquet; returns
    {"pages": path, "expected": {...}, "input_bytes": int, "cached": bool}."""
    key = f"{workload}-s{seed}-n{n}-fx{FIXTURE_VERSION}-g{GEN_VERSION}"
    d = os.path.join(cache_root, key)
    meta_path = os.path.join(d, "expected.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cached"] = True
        return meta
    jobs = _jobs(workload, seed, n)
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        rows = [r for chunk in pool.map(_decoded_rows, jobs) for r in chunk]
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pages = os.path.join(tmp, "pages.parquet")
    _write_pages(rows, pages, row_groups=16)
    meta = {"pages": os.path.join(d, "pages.parquet"),
            "expected": expected_outputs(rows),
            "input_bytes": sum(len(r[2]) for r in rows),
            "file_bytes": os.path.getsize(pages)}
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    meta["cached"] = False
    return meta


def kernel_samples(seed: int, per_class: dict[str, int]) -> dict:
    """Payloads by fixture class for the in-process kernel timings, from a
    region of the seed's slot that no workload table uses."""
    picked = pick_indices(per_class, seed_offset(seed, region=60_000))
    out: dict[str, list[bytes]] = {}
    for i in picked:
        out.setdefault(fixture_class(i), []).append(make_payload(i)[0])
    return out
