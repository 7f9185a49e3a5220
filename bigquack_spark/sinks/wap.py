"""Write-Audit-Publish (WAP) — gate a table publish on data-quality checks.

The reference's PENDING write stream (bigquery_write.go:384-394: appends
invisible until finalize) is exactly half of WAP; the other half — refusing
to finalize bad data — it leaves to the caller.  This sink completes the
pattern: stage the full write invisibly, AUDIT the staged files (the same
bytes readers would see), and only then publish, crash-atomically.  A
failed audit leaves the target as it found it and returns the violations.

Scale posture: the audit runs as ordinary Spark jobs over the staged
parquet (distributed, no driver materialization beyond per-check counts).
The target is one leaf: staging lives in ``<target>/.compact-staging/data``
and the publish is ``operators/maintenance.publish_leaf`` — the marker
protocol every data rewrite shares, so a crash rolls forward on the next
call.  Crash-atomic is not reader isolation: a reader listing the target
mid-swap can see part of the old and part of the new files.  On
Delta/Iceberg the same flow maps to branch-write + validate + fast-forward.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: An audit check: name + a function DataFrame -> violation count (0 = pass).
Check = tuple[str, Callable[[DataFrame], int]]


def not_null(*cols: str) -> Check:
    name = f"not_null({','.join(cols)})"
    cond = None
    for c in cols:
        cnd = F.col(c).isNull()
        cond = cnd if cond is None else (cond | cnd)
    return (name, lambda df: df.filter(cond).count())


def unique(*key_cols: str) -> Check:
    name = f"unique({','.join(key_cols)})"

    def run(df: DataFrame) -> int:
        dups = (
            df.groupBy(*key_cols)
            .count()
            .filter(F.col("count") > 1)
            .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("n"))
            .collect()[0]
        )
        return int(dups.n)

    return (name, run)


def in_range(col: str, lo=None, hi=None) -> Check:
    name = f"in_range({col},{lo},{hi})"
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (F.col(col) < lo)
    if hi is not None:
        cond = cond | (F.col(col) > hi)
    return (name, lambda df: df.filter(cond).count())


def row_count_min(n: int) -> Check:
    return (f"row_count_min({n})", lambda df: max(0, n - _count(df)))


def _count(df: DataFrame) -> int:
    return df.count()


class _AuditFailed(Exception):
    """Raised inside the staging fill: the publish drops its staging."""


def write_audit_publish(
    df: DataFrame,
    target_path: str,
    checks: list[Check],
) -> dict:
    """Stage ``df`` invisibly, audit the staged bytes, and replace the
    target's contents with them only if every check passes.

    The publish is crash-atomic (roll-forward): a crash after the commit
    point completes on the next call, one before it leaves the old
    contents.  Returns ``{published, rows, violations}``; on a failed audit
    the target is as it was (an absent target stays absent) and the
    staging is removed.  Overwrite only — the append form belongs to
    AtomicWriter's PENDING streams."""
    from bigquack_spark.operators import maintenance as M

    spark = df.sparkSession
    existed = os.path.isdir(target_path)
    M._resume_tree(target_path)
    report: dict = {}

    def stage_and_audit(data_dir: str) -> None:
        df.write.parquet(data_dir)
        staged = spark.read.parquet(data_dir)  # audit what readers would read
        report["rows"] = staged.count()
        report["violations"] = {name: int(fn(staged)) for name, fn in checks}
        if any(v > 0 for v in report["violations"].values()):
            raise _AuditFailed

    gen = uuid.uuid4().hex[:12]
    olds = [n for n in os.listdir(target_path) if M._is_data_file(n)] if existed else []
    try:
        M.publish_leaf(target_path, target_path, gen, "wap", olds, stage_and_audit, None)
    except _AuditFailed:
        if not existed:
            shutil.rmtree(target_path, ignore_errors=True)
        return {"published": False, **report}
    # a previously partitioned target: its sub-leaves retire, as retention's do
    for leaf in M._leaf_dirs(target_path):
        if leaf != target_path:
            M.publish_leaf(
                target_path, leaf, gen, "wap",
                [n for n in os.listdir(leaf) if M._is_data_file(n)], None, None,
            )
    return {"published": True, **report}
