"""Driver-facing query registry: one entry per implemented operator from
SURVEY.md §2, each a ``(spark, sf_dir) -> DataFrame`` callable with (where
SQL-expressible) a DuckDB oracle producing value-identical output.

Determinism contract shared by every query here (SURVEY.md §7.3 item 1):

- Float sums are computed over ``decimal`` casts (exact, order-insensitive)
  and converted back to double only once at the end, so Spark's
  partial/final hash aggregation and DuckDB's single-threaded fold agree
  bit-for-bit.
- Per-row double arithmetic uses identical expression shapes in both
  engines (IEEE 754 ops are deterministic given the same operand order);
  ``pow`` with non-integer behavior is avoided in favor of literal
  CASE tables (libm implementations may differ between engines).
- Array folds (dot products, L2) iterate in element order on both sides —
  verified bit-exact Spark vs DuckDB (DuckDB's builtin ``list_distance``
  accumulates in float32 and is NOT used).
- Every top-k / limit has a total-order tie-breaker so set membership at
  the cutoff is engine-independent.
- Every computed column is aliased identically in the Spark plan and the
  oracle SQL (driver hashes columns sorted by name).
- Integer SUMs MUST be cast: DuckDB ``SUM(int)`` yields HUGEINT, which
  surfaces through Arrow as decimal128(38,0) while Spark emits int64 — the
  driver's value hash distinguishes them. Wrap every integer-typed SUM in
  ``CAST(SUM(…) AS BIGINT)`` on the oracle side (round-1 failures
  events_hourly_rollup / events_sessionize / chunk_stats were exactly the
  three oracles with a bare integer SUM).
- Integer widths must agree too: DuckDB ``row_number()``/``length()``
  return BIGINT, Spark's return int32 — cast the Spark side to bigint for
  any such column that reaches the output. DECIMAL outputs must carry the
  same (precision, scale) on both sides; when the exact value is
  representable, cast the final expression to DOUBLE on both sides
  instead. ``tools/check_oracles.py`` enforces all of this via Arrow
  schema comparison.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over pre-registered views, or None → rows-only


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(fn=fn, oracle=oracle)
        return fn
    return deco


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def cached_index_dir(spark: SparkSession, sf_dir: str, name: str,
                     prefix: str, marker: str,
                     build: Callable[[DataFrame, str], object]) -> str:
    """Build-once disk cache for an index over the source table ``name``:
    ``<tmpdir>/<prefix>_<tag>``, tagged with the table file's size+mtime
    fingerprint so a regenerated table never silently reuses a stale
    index. ``build(table, dir)`` writes into a staging dir that is then
    atomically renamed into place, and ``marker`` (a path inside the
    index dir) is the completion probe, so concurrent sessions race
    safely: the loser discards its staging."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(src)
    tag = hashlib.sha256(
        f"{src}|{st.st_size}|{st.st_mtime_ns}".encode()).hexdigest()[:16]
    d = os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")
    done = os.path.join(d, marker)
    if os.path.exists(done):
        return d
    staging = f"{d}.build-{uuid.uuid4().hex[:8]}"
    build(tbl(spark, sf_dir, name), staging)
    try:
        os.rename(staging, d)
    except OSError as exc:
        shutil.rmtree(staging, ignore_errors=True)
        # rename fails either because a concurrent builder won the race
        # (d now complete — reuse it) or for an unrelated reason (EXDEV,
        # permissions): verify before declaring victory by proxy, else
        # callers would fail later on a path that never materialized
        if not os.path.exists(done):
            raise RuntimeError(
                f"index publish failed: {staging} -> {d}") from exc
    return d


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY)."""
    from . import relational  # noqa: F401
    from . import chunks_q  # noqa: F401
    from . import vectors_q  # noqa: F401
    from . import dedup_q  # noqa: F401
    from . import text_q  # noqa: F401
    from . import docpipe_q  # noqa: F401
    from . import search_q  # noqa: F401
    from . import media_q  # noqa: F401
    from . import pipeline_q  # noqa: F401
    from . import model_q  # noqa: F401
    return REGISTRY


def explode_ne(df: DataFrame, keep: list, arr, alias: str) -> DataFrame:
    """``select(*keep, explode(arr))`` minus the InferFiltersFromGenerate
    tax. Plain ``explode`` makes Spark synthesize a ``size(child) > 0 AND
    isnotnull(child)`` guard and push it through projections into the
    scan, re-evaluating the WHOLE array expression once more per row —
    with per-element re-inlining of its inputs (e.g. ``element_at(w, i)``
    where ``w = split(text)`` re-runs the split per element). Measured
    17× on doc_repetition's bigram explode at sf0.1 (5.3 s → 0.3 s).
    ``explode_outer`` infers no such filter; the post-generate
    ``isNotNull`` restores plain-explode semantics PROVIDED the array's
    elements are never null (an empty/null array emits one null-element
    row, which the filter drops — but a genuine null ELEMENT, which plain
    explode would keep as a row, is dropped too). Every array built in
    this package (split / regexp_extract_all / transform-concat /
    sequence / collect_list slices) is null-element-free."""
    from pyspark.sql import functions as F

    out = df.select(*keep, F.explode_outer(arr).alias(alias))
    return out.filter(F.col(alias).isNotNull())
