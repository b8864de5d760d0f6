"""Document-pipeline queries: the flagship extraction round-trip (S1), the
recursive chunker (V1), and the hash embedder (V3) — SURVEY.md §2.1/§2.8,
reference /root/reference/modules/tools.py:27-50 (extract), :76-82 (chunk),
:85-121 (embed).

`extract_roundtrip` is the oracle-checked face of the north rule: each
document's text is wrapped into a boilerplate-heavy HTML page (nav, ads,
footer — high link density) inside the executor, then the REAL extraction
kernel (kernels/html_extract, the same code the golden pytest uses) strips
the boilerplate back off. The DuckDB oracle independently applies the
extractor's block-keep semantics (whitespace-normalize, ≥25 chars,
≥4 words per paragraph block) to the original text — so Spark and DuckDB
agree iff the kernel is byte-exact through encode→parse→classify→join.
"""

from __future__ import annotations

import html as _html
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import register, tbl

_BOILER_NAV = "".join(f'<a href="/s{k}">section {k} link</a> ' for k in range(8))
_BOILER_ADS = "".join(
    f'<div class="ad"><a href="/buy{k}">buy now {k}</a></div>' for k in range(5))
_BOILER_FOOT = ("<footer><a href='/tos'>terms</a> <a href='/priv'>privacy</a>"
                " copyright</footer>")


def encode_page(text: str) -> bytes:
    """Deterministic Common-Crawl-style page around the document text:
    one <p> per blank-line paragraph, boilerplate all around."""
    paras = "".join(f"<p>{_html.escape(p)}</p>" for p in text.split("\n\n"))
    page = (
        "<!DOCTYPE html><html><head><title>d</title>"
        "<script>var x=1;</script><style>.a{color:red}</style></head><body>"
        f"<header><nav>{_BOILER_NAV}</nav></header>{_BOILER_ADS}"
        f"<article>{paras}</article>{_BOILER_FOOT}</body></html>"
    )
    return page.encode("utf-8")


def _roundtrip_batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from pdf_extract_spark.kernels.decode import decode_payload, text_sha256

    for pdf in pdfs:
        shas, errs = [], []
        for text in pdf["text"]:
            extracted, err = decode_payload(encode_page(text or ""))
            shas.append(text_sha256(extracted) if extracted is not None else None)
            errs.append(err)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "extracted_sha": shas,
                            "error": errs})


@register(
    "extract_roundtrip",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id,
             trim(array_to_string(list_filter(list_transform(
               string_split(text, chr(10) || chr(10)),
               p -> trim(regexp_replace(p, '\s+', ' ', 'g'))),
               p -> length(p) >= 25 AND len(string_split(p, ' ')) >= 4),
               chr(10) || chr(10))) AS extracted
      FROM documents)
    SELECT doc_id,
           CASE WHEN extracted = '' THEN NULL
                ELSE sha256(extracted) END AS extracted_sha,
           CASE WHEN extracted = '' THEN 'no_main_content'
                ELSE NULL END AS error
    FROM norm
    """,
)
def extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 flagship: encode → HTML-parse → boilerplate-strip → SHA-256, all
    inside one Arrow-batched mapInPandas (narrow: zero shuffles).

    The oracle mirrors the extractor's spec (kernels/html_extract constants
    MIN_BLOCK_CHARS=25 / MIN_WORDS=4; link-density never trips because
    document paragraphs carry no links) — any parser/escaping/normalization
    divergence flips the digest."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        _roundtrip_batches, schema="doc_id long, extracted_sha string, error string")


def _chunk_batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from pdf_extract_spark.kernels.chunker import check_chunks, split_text

    for pdf in pdfs:
        out = {"doc_id": [], "n_chunks": [], "total_chunk_chars": [],
               "chunks_valid": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            chunks = split_text(text or "", chunk_size=200, chunk_overlap=40)
            out["doc_id"].append(doc_id)
            out["n_chunks"].append(len(chunks))
            out["total_chunk_chars"].append(sum(len(c) for c in chunks))
            out["chunks_valid"].append(
                check_chunks(chunks, min_len=20, max_len=200))
        yield pd.DataFrame(out)


@register("chunk_recursive", oracle=None)
def chunk_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 recursive splitter (reference tools.py:76-82 semantics: split on
    ["\\n\\n","\\n"," ",""], greedy repack ≤size, overlap carry) at
    size=200/overlap=40, plus the P3 validity gate — kernel-backed,
    golden-tested in pytest; driver does a rows-only check."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        _chunk_batches,
        schema=("doc_id long, n_chunks long, total_chunk_chars long, "
                "chunks_valid boolean"))


def _embed_batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from pdf_extract_spark.kernels.chunker import split_text
    from pdf_extract_spark.kernels.embed import embed_batch

    for pdf in pdfs:
        doc_ids, idxs, vecs = [], [], None
        all_chunks = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            chunks = split_text(text or "", chunk_size=200, chunk_overlap=40)
            for i, c in enumerate(chunks):
                doc_ids.append(doc_id)
                idxs.append(i)
                all_chunks.append(c)
        vecs = embed_batch(all_chunks) if all_chunks else np.zeros((0, 64), "f4")
        norms = np.sqrt((vecs.astype("f8") ** 2).sum(axis=1))
        yield pd.DataFrame({
            "doc_id": doc_ids,
            "chunk_idx": idxs,
            "dim": [vecs.shape[1]] * len(doc_ids),
            "norm_r": np.round(norms, 6),
        })


@register("embed_chunks", oracle=None)
def embed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 deterministic hash embedding over V1 chunks (reference
    tools.py:85-121: batched embed, float32, fixed dim) — emits per-chunk
    dimension and L2 norm; determinism across partitionings is the pytest
    property."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        _embed_batches,
        schema="doc_id long, chunk_idx long, dim long, norm_r double")


# --- markdown extraction roundtrip ------------------------------------------

def encode_md_page(doc_id: int, text: str) -> bytes:
    """encode_page plus document STRUCTURE: a (short) <h2> title the
    extractor must rescue via heading-adjacency, and a trailing two-item
    <ul> — so the markdown renderer has all three block kinds (heading /
    paragraph / list item) to prove on."""
    paras = "".join(f"<p>{_html.escape(p)}</p>" for p in text.split("\n\n"))
    lis = "".join(
        f"<li>supporting point {g} for document {doc_id} in the corpus</li>"
        for g in ("alpha", "beta"))
    page = (
        "<!DOCTYPE html><html><head><title>d</title>"
        "<script>var x=1;</script><style>.a{color:red}</style></head><body>"
        f"<header><nav>{_BOILER_NAV}</nav></header>{_BOILER_ADS}"
        f"<article><h2>Document {doc_id}</h2>{paras}<ul>{lis}</ul></article>"
        f"{_BOILER_FOOT}</body></html>"
    )
    return page.encode("utf-8")


def _markdown_batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from pdf_extract_spark.kernels.decode import text_sha256
    from pdf_extract_spark.kernels.html_extract import extract_main_markdown

    for pdf in pdfs:
        shas, blocks = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            md = extract_main_markdown(
                encode_md_page(int(doc_id), text or "").decode("utf-8"))
            shas.append(text_sha256(md))
            blocks.append(len(md.split("\n\n")) if md else 0)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "md_sha": shas,
                            "n_blocks": blocks})


@register(
    "extract_markdown",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id,
             list_filter(list_transform(
               string_split(text, chr(10) || chr(10)),
               p -> trim(regexp_replace(p, '\s+', ' ', 'g'))),
               p -> p <> '') AS nb
      FROM documents),
    kept AS (
      SELECT doc_id, nb,
             list_filter(nb, p -> length(p) >= 25
                                  AND len(string_split(p, ' ')) >= 4) AS kp,
             (len(nb) = 0 OR (length(nb[1]) >= 25
                              AND len(string_split(nb[1], ' ')) >= 4))
                 AS head_kept
      FROM norm),
    md AS (
      SELECT doc_id,
             array_to_string(
               list_concat(list_concat(
                 CASE WHEN head_kept
                      THEN ['## Document ' || CAST(doc_id AS VARCHAR)]
                      ELSE CAST([] AS VARCHAR[]) END,
                 list_transform(kp, p ->
                   CASE WHEN regexp_matches(p, '^(#{1,6} |- |> )')
                        THEN '\' || p ELSE p END)),
                 ['- supporting point alpha for document '
                      || CAST(doc_id AS VARCHAR) || ' in the corpus'
                      || chr(10)
                      || '- supporting point beta for document '
                      || CAST(doc_id AS VARCHAR) || ' in the corpus']),
               chr(10) || chr(10)) AS m,
             (CASE WHEN head_kept THEN 1 ELSE 0 END + len(kp) + 1) AS nbl
      FROM kept)
    SELECT doc_id, sha256(m) AS md_sha, CAST(nbl AS BIGINT) AS n_blocks
    FROM md
    """,
)
def extract_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 structure-preserving variant: encode a page WITH structure
    (heading + paragraphs + list) → HTML-parse → boilerplate-strip →
    render MARKDOWN (kernels/html_extract.extract_main_markdown: the
    SAME kept-block classification as the byte-identical text surface,
    different renderer) → SHA-256, all inside one Arrow-batched
    mapInPandas (narrow, zero shuffles). The oracle rebuilds the exact
    markdown string relationally — heading rescue (short <h2> kept iff
    its following block is kept), paragraph gates, '-' list rendering
    with adjacent <li>s newline-joined as ONE tight list, and the
    CommonMark backslash-escape of paragraphs that begin with a structure
    marker — so any divergence in classification OR rendering flips the
    digest."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        _markdown_batches,
        schema="doc_id long, md_sha string, n_blocks long")
