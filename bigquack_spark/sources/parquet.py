"""Parquet-backed table source for the offline harness.

Stands in for the BigQuery Storage Read path (bigquery.go:85-129): the scan
carries projection pushdown (``SelectedFields``, bigquery.go:80,91 -> Catalyst
column pruning) and predicate pushdown (``RowRestriction``, bigquery.go:80,91
-> Catalyst ``PushDownPredicates`` into the parquet scan).  Parallel stream
fan-out (``MaxStreamCount``, bigquery.go:93) is DataFrame partitioning — and
unlike the reference, which silently consumes only stream 0
(bigquery.go:190-205, SURVEY §2.1 S4), Spark reads ALL partitions.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

#: Every table the driver materializes at /root/testdata/sf*/.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
    predicate: str | None = None,
    rebalance: bool | str = False,
    rebalance_key: str | None = None,
) -> DataFrame:
    """Scan one table with source-level pushdown.

    ``columns`` ≅ SelectedFields, ``predicate`` ≅ RowRestriction
    (bigquery.go:78-94).  Expressed declaratively so Catalyst pushes both
    into the parquet reader (visible as PushedFilters / ReadSchema in
    ``df.explain("formatted")``).

    ``rebalance=True`` repartitions to the cluster's default parallelism
    after the (pushed-down) scan.  Use it ONLY in front of CPU-bound
    projections over narrow inputs: a parquet row group is the minimum scan
    split, so a few-row-group table pins downstream per-row compute (hash
    folds, regex) to a few tasks; one cheap exchange spreads it across the
    cluster.  Wide/fact tables at scale arrive with natural parallelism and
    must not pay the shuffle.

    ``rebalance="auto"`` (r12, guide §2.5 "input skew: repartition
    immediately after the read") pays the exchange ONLY when the scan
    actually under-parallelizes — scan splits < the cluster's default
    parallelism.  A one-row-group parquet file (the primary bench layout)
    pins the whole downstream pipeline — joins, JSON parse, partial
    aggregation — to ONE task; the guard detects that from the planned
    split count and spreads it.  On a properly laid-out table (multi-file /
    multi-row-group, the 10x/100x tiers and any real ingest) the guard is
    false and the plan is unchanged, so the fix cannot regress at scale and
    adapts to whatever core count the session runs at.

    ``rebalance_key`` hash-repartitions by that column instead of
    round-robin: skips round-robin's local sort-before-repartition pass
    (SPARK-23207 determinism cost) and stays deterministic by key hash.
    Pick a near-unique key that the query already reads.
    """
    path = table_path(sf_dir, name)
    read = spark.read.parquet(path)
    df = _normalize_nanos(read)
    if predicate:
        df = df.filter(predicate)
    if rebalance:
        target = spark.sparkContext.defaultParallelism
        if rebalance != "auto" or _estimated_scan_splits(read) < target:
            # Repartition BEFORE the projection: a rebalance_key outside
            # ``columns`` would otherwise fail analysis (ADVICE r12) — the
            # hash key is cheap and Catalyst's ColumnPruning still folds the
            # projection into the scan below the exchange, so the optimized
            # plan is unchanged for keys the query reads anyway.
            if rebalance_key:
                df = df.repartition(target, rebalance_key)
            else:
                df = df.repartition(target)
    if columns:
        df = df.select(*columns)
    return df


def _estimated_scan_splits(df: DataFrame) -> int:
    """Planned scan-split count of a freshly read file-source DataFrame.

    r12's guard probed ``df.rdd.getNumPartitions()``, which forces an
    analyzer pass + RDD conversion per ``load_table`` call at query-BUILD
    time on all 89 auto-rebalance paths (r12 verdict #3).  This computes
    the same number Spark's ``FilePartition.maxSplitBytes`` packing will
    produce — ``min(maxPartitionBytes, max(openCost, totalBytes/cores))``
    sized splits greedily packed — from the file index Spark built when it
    read the frame (the relation's ``inputFiles`` and ``sizeInBytes``), so
    it runs no job, lists nothing again and works on any filesystem Spark
    can read (``file://``, ``s3://``, ...).  The guard only compares the
    count against the session's default parallelism, so the ±1 packing edge
    cannot flip a layout that is not already borderline (verified against
    the RDD probe on every bench table/layout — tests/test_pipeline.py).
    """
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    max_split = conf.filesMaxPartitionBytes()
    open_cost = conf.filesOpenCostInBytes()
    relation = df._jdf.queryExecution().analyzed().relation()
    total = relation.sizeInBytes() + open_cost * len(relation.inputFiles())
    per_core = total / max(spark.sparkContext.defaultParallelism, 1)
    split = min(max_split, max(open_cost, per_core))
    return max(1, math.ceil(total / split))


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """events.ts has shipped as TIMESTAMP(NANOS) (surfacing as int64 nanos
    under ``spark.sql.legacy.parquet.nanosAsLong``) and as tz-less
    TIMESTAMP(MICROS) (surfacing as TIMESTAMP_NTZ when NTZ inference is on).
    Normalize both to Spark's native microsecond TimestampType: exact integer
    ``div 1000`` for nanos (float division would lose precision above 2^53),
    a value-preserving cast for NTZ (session tz is pinned UTC).  DuckDB
    applies the same ns->µs truncation and is tz-naive throughout, keeping
    the oracle aligned (FIXTURES.md §C4)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view so ``spark.sql`` passthrough
    (the duck.go:190-206 analogue) can reference them by name."""
    for name in tables:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(name)
