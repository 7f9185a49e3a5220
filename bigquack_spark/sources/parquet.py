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
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

#: Entries kept by the inferred-schema cache of :func:`_read_parquet`.
_SCHEMA_CACHE_SIZE = 256

_schema_cache: OrderedDict[tuple[str, str], tuple[tuple, StructType]] = OrderedDict()
_schema_lock = threading.Lock()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
    predicate: str | None = None,
    rebalance: bool = False,
    rebalance_key: str | None = None,
) -> DataFrame:
    """Scan one table with source-level pushdown.

    ``columns`` ≅ SelectedFields, ``predicate`` ≅ RowRestriction
    (bigquery.go:78-94).  Expressed declaratively so Catalyst pushes both
    into the parquet reader (visible as PushedFilters / ReadSchema in
    ``df.explain("formatted")``).

    ``rebalance=True`` (guide §2.5 "input skew: repartition immediately
    after the read") repartitions to the cluster's default parallelism
    after the (pushed-down) scan, but ONLY when the scan under-parallelizes
    — planned scan splits < default parallelism.  A parquet row group is
    the minimum scan split, so a one-row-group file (the primary bench
    layout) pins the whole downstream pipeline — joins, JSON parse, hash
    folds, regex — to ONE task; one cheap exchange spreads it.  On a
    multi-file / multi-row-group table the guard is false and the plan is
    unchanged, so it cannot regress at scale and adapts to whatever core
    count the session runs at.

    ``rebalance_key`` hash-repartitions by that column instead of
    round-robin: skips round-robin's local sort-before-repartition pass
    (SPARK-23207 determinism cost) and stays deterministic by key hash.
    Pick a near-unique key that the query already reads.

    The table's schema is inferred (a one-task footer-reading job) once per
    ``(path, file set, session conf)``; later calls hand the remembered
    schema to the reader and run no job (:func:`_read_parquet`).
    """
    path = table_path(sf_dir, name)
    read = _read_parquet(spark, path)
    df = _normalize_nanos(read)
    if predicate:
        df = df.filter(predicate)
    if rebalance:
        target = spark.sparkContext.defaultParallelism
        if _estimated_scan_splits(read) < target:
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


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file set.

    The reference fetches a table's schema once from its read session
    (bigquery.go:243-248); Spark instead runs a footer-inference job on
    every read.  The first read here infers as usual and remembers
    ``(file signature, schema)`` under ``(path, session SQL conf)``: any
    conf that steers inference (``nanosAsLong``, ``inferTimestampNTZ``,
    ``binaryAsString``, ``mergeSchema``, partition-type inference, ...)
    changes the key.  A later read passes the remembered schema to the
    reader, which still lists the files but runs no job, and keeps that
    frame only if its file signature is unchanged; a rewritten, added or
    removed file falls back to a fresh inference that replaces the entry.
    """
    # the conf map straight from the JVM: pyspark's conf.getAll measured
    # ~100x slower, which would cost a hit as much as inferring
    key = (path, spark._jsparkSession.sessionState().conf().getAllConfs().toString())
    with _schema_lock:
        hit = _schema_cache.get(key)
        if hit is not None:
            _schema_cache.move_to_end(key)
    if hit is not None:
        signature, schema = hit
        df = spark.read.schema(schema).parquet(path)
        if _file_signature(df) == signature:
            return df
    df = spark.read.parquet(path)
    entry = (_file_signature(df), df.schema)
    with _schema_lock:
        _schema_cache[key] = entry
        _schema_cache.move_to_end(key)
        while len(_schema_cache) > _SCHEMA_CACHE_SIZE:
            _schema_cache.popitem(last=False)
    return df


def _file_signature(df: DataFrame) -> tuple:
    """Sorted ``(path, length, modificationTime)`` of every file in a freshly
    read frame's file index — the per-file identity a Spark scan records
    (``PartitionedFile``)."""
    files = df._jdf.queryExecution().analyzed().relation().location().allFiles()
    return tuple(sorted(
        (f.getPath().toString(), f.getLen(), f.getModificationTime())
        for f in (files.apply(i) for i in range(files.length()))
    ))


def _estimated_scan_splits(df: DataFrame) -> int:
    """Planned scan-split count of a freshly read file-source DataFrame.

    r12's guard probed ``df.rdd.getNumPartitions()``, which forces an
    analyzer pass + RDD conversion per ``load_table`` call at query-BUILD
    time on every rebalancing load (r12 verdict #3).  This computes
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
            _read_parquet(spark, path).createOrReplaceTempView(name)
