"""SparkSession construction and tuning.

Reference parity: ``NewBigQuack`` (bigquack.go:32-55) builds the single engine
handle (DuckDB conn + BigQuery read client); in Spark that handle is the
SparkSession.  ``NewDB``'s driver auto-detection (duck.go:74-124) maps to
builder config; there is no connection pool (duck.go:126-170) because the
session is the singleton handle.

Scale posture (the 100 TB mandate): AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (vectorized Python boundary),
session timezone pinned to UTC so timestamp semantics are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are runtime-settable on an existing session (the driver hands us
#: its own SparkSession; these are applied per-query via :func:`tune`).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics vs the (TZ-naive) DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic join-strategy switching.  This is the Spark
    # answer to DuckDB's adaptive operators (SURVEY §4).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched transfer for any pandas-UDF / toPandas boundary — the
    # same columnar batch model the reference uses end-to-end (SURVEY §1.1).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: division-by-zero yields NULL (matches oracle NULLIF guards),
    # no overflow exceptions mid-pipeline at scale.
    "spark.sql.ansi.enabled": "false",
    # events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects natively;
    # read as int64 nanos and convert with exact integer math (sources.parquet
    # normalizes back to a microsecond TimestampType column).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-less parquet timestamps (isAdjustedToUTC=false) read as plain
    # TIMESTAMP, not TIMESTAMP_NTZ — with the UTC session tz the values are
    # identical, and epoch functions (unix_micros) stay applicable.  DuckDB's
    # TIMESTAMP is tz-naive too, so the oracle sees the same instants.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Python Data Source filter pushdown (sources/connector.py negotiates
    # the RowRestriction-equivalent subset via pushFilters).
    "spark.sql.python.filterPushdown.enabled": "true",
}


#: Process-level overrides of RUNTIME_CONFS (see :func:`pin`).  Empty in
#: normal operation — the correctness driver always gets RUNTIME_CONFS as-is.
PINNED_CONFS: dict[str, str] = {}


def pin(key: str, value: str) -> None:
    """Pin a runtime conf for this process, winning over RUNTIME_CONFS in
    every later :func:`tune` call.  Used by bench.py to hold the recorded
    bench-tier settings (e.g. AQE off at sub-GB scale) against the
    per-query re-tune that registry queries perform."""
    PINNED_CONFS[key] = value


#: Explicit retry posture, mirroring the reference's read/write retry policy
#: (bigquery.go:35-62: initial 100 ms, max 60 s, multiplier 1.30, retry on
#: transient RPC errors).  Spark's unit of retry is the task, not the RPC:
#: a failed scan/write task re-runs on another executor up to maxFailures
#: times, with excluded (blacklisted) executors avoided.  Static confs —
#: applied at session build, not per-query.  NOTE: plain ``local[N]``
#: masters hard-pin maxTaskFailures=1 (Spark treats local as a test rig);
#: retries need a cluster master or ``local[N, F]`` — proven by
#: tests/test_pipeline.py::test_task_retry_rereads_partition, which
#: injects a first-attempt fault and observes the exactly-once replay.
RETRY_CONFS: dict[str, str] = {
    "spark.task.maxFailures": "4",
    "spark.stage.maxConsecutiveAttempts": "4",
    # Transient-executor exclusion: the analogue of backing off a bad channel.
    "spark.excludeOnFailure.enabled": "true",
    # Retry the shuffle-fetch RPC itself with backoff (fetch-side transient
    # failures are the Spark equivalent of the reference's retryable reads).
    "spark.shuffle.io.maxRetries": "6",
    "spark.shuffle.io.retryWait": "5s",
}


#: The directory that holds the ``bigquack_spark`` package.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)


def get_spark(
    app_name: str = "bigquack-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine handle.

    Mirrors ``NewBigQuack`` (bigquack.go:32-55): one call, one handle, all
    source/sink capability hangs off it.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = {**RUNTIME_CONFS, **RETRY_CONFS}
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # Keep scan partitions sized so a partition fits comfortably in executor
    # memory at large SF (128 MiB is the scale-friendly default).
    conf.setdefault("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    conf.setdefault("spark.ui.enabled", "false")  # headless harness: skip UI server
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    if extra:
        conf.update(extra)
    # Python UDF workers are fresh interpreters that see the driver's cwd
    # and PYTHONPATH but not its sys.path, so a driver run from elsewhere
    # hands them the package's directory (a PYTHONPATH the caller set for
    # the executors stays after it; Spark appends the process's own)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    # pyspark's daemon behind a zipimport patch: on Python < 3.12 a reused
    # worker otherwise re-reads pyspark.zip's directory on every task
    conf.setdefault("spark.python.daemon.module", "bigquack_spark.pydaemon")
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session.

    The correctness driver constructs its own SparkSession; every registry
    query routes through here so semantics (UTC, AQE, Arrow) hold regardless
    of who built the session.  Static confs are silently skipped.
    """
    for k, v in {**RUNTIME_CONFS, **PINNED_CONFS}.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on a live session
            pass
    return spark
