"""SQL passthrough + ingest — the DuckDB-connection analogue.

The reference's entire relational capability is "hand the SQL string to the
engine" (``stmt.SetSqlQuery`` at duck.go:180,195,280); here that is
``spark.sql``.  The three connection methods map 1:1:

- ``Exec(ctx, sql)``            (duck.go:173-185)  -> :meth:`Engine.exec`
- ``Query(ctx, sql)``           (duck.go:190-206)  -> :meth:`Engine.query`
- ``IngestCreateAppend(t, rec)``(duck.go:214-252)  -> :meth:`Engine.ingest_create_append`
- ``GetTableSchema``            (duck.go:210-212)  -> :meth:`Engine.table_schema`
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigquack_spark.session import tune
from bigquack_spark.sinks.table import ingest_create_append
from bigquack_spark.sources.parquet import _read_parquet


class Engine:
    """Thin handle over a SparkSession exposing the reference's connection
    surface.  No connection pool (duck.go:126-170) — the session is the
    singleton handle and is concurrency-safe."""

    def __init__(self, spark: SparkSession):
        self.spark = tune(spark)

    # -- duck.go:190-206 Query: SQL string in, batch stream out ------------
    def query(self, sql: str) -> DataFrame:
        """Arbitrary SQL -> DataFrame (the Arrow RecordReader analogue).

        Parse/bind/optimize/plan happen inside Catalyst, exactly as the
        reference delegates them to DuckDB (SURVEY §3.2).
        """
        return self.spark.sql(sql)

    # -- duck.go:173-185 Exec: no-result statement ---------------------------
    def exec(self, sql: str) -> int:
        """DDL/DML passthrough.  Returns affected row count when the command
        reports one, else -1 (ADBC's ``rowsAffected`` contract)."""
        out = self.spark.sql(sql)
        try:
            rows = out.collect()
        except Exception:
            return -1
        if rows and len(rows[0]) == 1 and isinstance(rows[0][0], int):
            return rows[0][0]
        return -1

    # -- duck.go:190-206 + duck_test.go:93-118 convenience -------------------
    def query_rows(self, sql: str) -> list:
        """Materialized small-result path (tests / interactive only)."""
        return self.query(sql).collect()

    # -- duck.go:214-252 IngestCreateAppend ----------------------------------
    def ingest_create_append(self, table: str, df: DataFrame) -> None:
        ingest_create_append(df, table)

    # -- duck.go:210-212 GetTableSchema --------------------------------------
    def table_schema(self, table: str):
        return self.spark.table(table).schema

    def register_parquet(self, name: str, path: str) -> None:
        """Expose a parquet file/dir as a named view for SQL passthrough."""
        _read_parquet(self.spark, path).createOrReplaceTempView(name)
