"""Commit markers: the crash-safety rule the extraction job
(plans/pipeline.py, one marker per run) and the corpus-prep job
(plans/corpus.py, one marker per stage) share.

A unit of work is committed when its marker exists: one small parquet
file of lineage rows (counts + order-insensitive digest), written AFTER
the unit's data. It is written to a temp file on the same filesystem and
os.replace'd into place — the POSIX-atomic rename; on S3/HDFS an atomic
PUT or create-then-rename plays the same role, and an Iceberg writer
would fold it into the table transaction — so a marker is never
half-visible. Data without its marker is a crashed partial write (Spark's
committer v2 exposes task files as tasks finish), which each job deletes
on resume; committed data is never touched.

Reading a marker on resume has three outcomes:
- missing: the unit is uncommitted;
- provably torn (no trailing PAR1 magic — a crash inside the publish
  itself): the file is removed and the unit is uncommitted;
- unreadable for any other reason (transient I/O, a garbage body behind
  an intact footer): the resume ABORTS, because a wrong "uncommitted"
  verdict would go on to delete committed data.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, functions as F

_TMP_PREFIX = "_lineage_tmp_"

# Order-insensitive O(1)-state checksum: each row contributes the low 60
# bits of its sha256 (15 hex chars via conv), summed as DECIMAL(38,0) —
# exact and commutative, so partition order and merge order never matter —
# then reduced mod 2^60 and rendered as fixed-width hex. Unlike an
# array_sort(collect_list(...)) digest this buffers ONE number per
# aggregation state instead of every row digest of a partition (which at
# 10^12 rows would OOM the agg buffer). It is an audit checksum, not a
# cryptographic commitment: a 2^-60 collision chance per comparison is
# fine for detecting divergent reruns.
_MOD_2_60 = str(1 << 60)


def sum_digest(row_hex_expr: str) -> Column:
    return F.expr(
        f"lpad(hex(CAST(pmod(SUM(CAST(conv(substring({row_hex_expr}, 1, 15),"
        f" 16, 10) AS DECIMAL(38,0))), CAST({_MOD_2_60} AS DECIMAL(38,0)))"
        f" AS BIGINT)), 15, '0')")


# The same rule in Python, for counts a task keeps itself: a row's term is
# digest_term(its hex, '0' for a null), and format_digest(sum of the terms)
# equals sum_digest over the same rows.
def digest_term(row_hex: str) -> int:
    return int(row_hex[:15], 16)


def format_digest(total: int) -> str:
    return format(total % (1 << 60), "015X")


def _is_torn(path: str) -> bool:
    """True iff the file is provably NOT a complete parquet file (missing
    the trailing PAR1 magic). False when the file cannot even be read:
    transient I/O errors must not be mistaken for corruption."""
    try:
        with open(path, "rb") as f:
            size = os.fstat(f.fileno()).st_size
            if size < 12:  # magic + footer-len + magic is the minimum
                return True
            f.seek(-4, os.SEEK_END)
            return f.read(4) != b"PAR1"
    except OSError:
        return False


def read_marker(path: str) -> "pyarrow.Table | None":
    """The marker's rows, or None when its unit is uncommitted (see the
    module docstring for the three outcomes)."""
    if not os.path.exists(path):
        return None
    import pyarrow.parquet as pq

    try:
        return pq.read_table(path)
    except Exception as e:
        if _is_torn(path):
            os.remove(path)
            return None
        raise RuntimeError(
            f"commit marker {path} is unreadable but not provably torn "
            f"({e!r}); refusing to resume — a wrong 'uncommitted' verdict "
            "here would delete committed data") from e


def publish_marker(table: "pyarrow.Table", out_dir: str, path: str) -> None:
    """Atomically publish ``table`` as the marker at ``path``; the temp
    file lives in ``out_dir``, where sweep_tmp finds it after a crash."""
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(out_dir, _TMP_PREFIX + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def sweep_tmp(out_dir: str) -> None:
    """Remove marker temp files orphaned by a crash inside publish_marker
    (written but never renamed: their units are uncommitted)."""
    if not os.path.isdir(out_dir):
        return
    for name in os.listdir(out_dir):
        if name.startswith(_TMP_PREFIX):
            os.remove(os.path.join(out_dir, name))
