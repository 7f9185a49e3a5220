"""Write-Audit-Publish (WAP) — gate a table publish on data-quality checks.

The reference's PENDING write stream (bigquery_write.go:384-394: appends
invisible until finalize) is exactly half of WAP; the other half — refusing
to finalize bad data — it leaves to the caller.  This sink completes the
pattern: stage the full write invisibly, AUDIT the staged files (the same
bytes readers would see), and only then atomically publish.  A failed audit
leaves the live table untouched and returns the violations.

Scale posture: the audit runs as ordinary Spark jobs over the staged
parquet (distributed, no driver materialization beyond per-check counts);
publish is the same stage-then-swap as sinks/merge.py and shares its crash
recovery.  On Delta/Iceberg the same flow maps to branch-write + validate
+ fast-forward.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigquack_spark.operators import fsops
from bigquack_spark.sinks.merge import _recover_orphaned_swap

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


def write_audit_publish(
    df: DataFrame,
    target_path: str,
    checks: list[Check],
    mode: str = "overwrite",
) -> dict:
    """Stage ``df`` invisibly, audit the staged bytes, publish atomically
    only if every check passes.

    Returns ``{published, rows, violations}``; on a failed audit the live
    table is untouched and the staging dir is removed.  ``mode`` is
    currently overwrite-only (the append form belongs to AtomicWriter's
    PENDING streams)."""
    if mode != "overwrite":
        raise ValueError("write_audit_publish supports mode='overwrite' only")
    spark = df.sparkSession
    _recover_orphaned_swap(target_path)
    staging = f"{target_path}.merge-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)  # audit what readers would read
    violations = {name: int(fn(staged)) for name, fn in checks}
    failed = {k: v for k, v in violations.items() if v > 0}
    rows = staged.count()
    if failed:
        shutil.rmtree(staging, ignore_errors=True)
        return {"published": False, "rows": rows, "violations": violations}
    if os.path.exists(target_path):
        backup = f"{target_path}.old-{uuid.uuid4().hex[:12]}"
        fsops.replace(target_path, backup)
        fsops.replace(staging, target_path)
        shutil.rmtree(backup, ignore_errors=True)
    else:
        fsops.replace(staging, target_path)
    return {"published": True, "rows": rows, "violations": violations}
