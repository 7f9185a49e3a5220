"""Create-or-append ingest — the ``IngestCreateAppend`` analogue.

Reference behavior (duck.go:214-252): probe target schema via
``GetTableSchema`` (duck.go:224); absent -> create from the record's schema,
present -> append (mode pick duck.go:232-236).  Spark's
``saveAsTable(mode="append")`` collapses the probe+branch into one atomic
catalog operation — it creates on first write and appends after, without the
reference's TOCTOU race (SURVEY §7 hard-part 4).

Schema safety: the reference's writer rejects mismatched schemas per record
(bigquery_write.go:422-424); here :func:`check_schema_compatible` performs the
same gate before an append.

Row count: the reference's pump sums the rows of the batches it wrote
(bigquack.go:125-128); here an ``Observation`` rides the landing write and
counts the rows that write committed — no second scan of the target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bigquack_spark.sinks.partitioned import save_bucketed


def table_exists(spark: SparkSession, table: str) -> bool:
    return spark.catalog.tableExists(table)


def check_schema_compatible(spark: SparkSession, table: str, df: DataFrame) -> None:
    """Schema-equality gate (bigquery_write.go:422-424 analogue): names and
    types must match the existing target, order-insensitively."""
    existing = {f.name: f.dataType for f in spark.table(table).schema.fields}
    incoming = {f.name: f.dataType for f in df.schema.fields}
    if existing != incoming:
        raise ValueError(
            f"record schema does not match expected schema for {table!r}: "
            f"existing={existing} incoming={incoming}"
        )


def ingest_create_append(df: DataFrame, table: str, bucket_by: dict | None = None) -> int:
    """Create the managed table from the DataFrame's schema on first write,
    append thereafter (duck.go:214-252 semantics); returns the rows landed.

    ``bucket_by`` (``{"cols": [...], "num_buckets": 32, "sort_cols":
    [...]}``) lands through :func:`save_bucketed` in append mode, so a
    create and every later append carry the same bucket spec."""
    spark = df.sparkSession
    if table_exists(spark, table):
        check_schema_compatible(spark, table, df)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if bucket_by is None:
        df.write.mode("append").saveAsTable(table)
    else:
        save_bucketed(
            df, table, bucket_by["cols"], int(bucket_by.get("num_buckets", 32)),
            bucket_by.get("sort_cols"), mode="append",
        )
    return int(obs.get["n"])
