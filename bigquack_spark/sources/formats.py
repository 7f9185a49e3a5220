"""Text-format sources (CSV / JSON Lines) with pinned schemas.

The reference reads exactly one source (BigQuery, bigquery.go:85-129) and
its schema system is explicit-and-fixed, never value-inferred (SURVEY §1.2:
the session's serialized Arrow schema is the contract).  These loaders
extend the source surface to the interchange formats every pipeline meets
at its edges while KEEPING that schema discipline: production reads pin a
``StructType`` (or a BQ field list mapped through types.py, the reference's
own schema vocabulary, bigquery_write.go:135-213); inference is an explicit
opt-in for exploration only.

Scale notes: CSV/JSON scans split by byte ranges (better parallelism than
single-row-group parquet, worse everything else); neither format carries
column statistics, so predicate pushdown cannot skip I/O — filters still
prune rows scan-side, but the bytes are read.  The loaders exist to INGEST
edge data; the first pipeline step after them should land parquet
(sinks/) so every later scan gets pruning, stats, and types for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigquack_spark.types import BQField, bq_schema_to_struct


def _resolve_schema(
    schema: T.StructType | list[BQField] | None,
) -> T.StructType | None:
    if schema is None:
        return None
    if isinstance(schema, T.StructType):
        return schema
    return bq_schema_to_struct(schema)


def load_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | list[BQField] | None = None,
    header: bool = True,
    infer: bool = False,
    **options: str,
) -> DataFrame:
    """CSV scan with a pinned schema (or explicit opt-in inference).

    PERMISSIVE mode with a ``_corrupt_record`` column when a schema is
    pinned: malformed rows surface as data instead of killing a 100 TB job
    mid-flight (select/filter on it to quarantine)."""
    if schema is None and not infer:
        raise ValueError("pass a schema, or infer=True to opt into inference")
    st = _resolve_schema(schema)
    reader = spark.read.options(**options).option("header", str(header).lower())
    if st is not None:
        st = T.StructType(list(st.fields) + [T.StructField("_corrupt_record", T.StringType())])
        reader = reader.schema(st).option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | list[BQField] | None = None,
    infer: bool = False,
    **options: str,
) -> DataFrame:
    """JSON-Lines scan with a pinned schema (or explicit opt-in inference).
    Same PERMISSIVE + ``_corrupt_record`` quarantine contract as
    :func:`load_csv`."""
    if schema is None and not infer:
        raise ValueError("pass a schema, or infer=True to opt into inference")
    st = _resolve_schema(schema)
    reader = spark.read.options(**options)
    if st is not None:
        st = T.StructType(list(st.fields) + [T.StructField("_corrupt_record", T.StringType())])
        reader = reader.schema(st).option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader.json(path)


def load_orc(
    spark: SparkSession,
    path: str,
    schema: T.StructType | list[BQField] | None = None,
    **options: str,
) -> DataFrame:
    """ORC scan — the other columnar interchange format.  ORC carries its
    own types and stripe-level min/max statistics, so (unlike CSV/JSON)
    predicate pushdown and column pruning work scan-side; a pinned schema
    is therefore optional and, when given, enforced by selection: missing
    columns fail loudly instead of silently NULL-filling."""
    df = spark.read.options(**options).orc(path)
    st = _resolve_schema(schema)
    if st is not None:
        missing = [f.name for f in st.fields if f.name not in df.columns]
        if missing:
            raise ValueError(f"ORC file lacks pinned columns: {missing}")
        df = df.select(*[df[f.name].cast(f.dataType).alias(f.name) for f in st.fields])
    return df


def load_parquet_evolving(
    spark: SparkSession,
    path: str,
    **options: str,
) -> DataFrame:
    """Parquet scan across files with EVOLVED schemas (columns added over
    time): ``mergeSchema`` unions the footers so late files' new columns
    surface as NULL for early files — the read-side half of schema
    evolution a long-lived 100 TB table accretes.  Merge cost is one
    footer read per file at planning (distributed); data pages are
    untouched.  Kept separate from the default loader because footer
    merging on a million-file table is planning overhead you opt into."""
    return spark.read.options(**options).option("mergeSchema", "true").parquet(path)


def load_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    kind: str = "image",
) -> DataFrame:
    """Raw media ingestion via Spark's ``binaryFile`` source: one row per
    file with (path, modificationTime, length, content) — the on-ramp that
    turns a directory of images/audio into the canonical media record shape
    the multimodal operators consume (media_id, kind, payload, media_meta).

    The media_id is xxhash64 of the file path: deterministic, stable across
    re-listing, no driver-side enumeration.  At 100 TB the source
    parallelizes by file (each file one task input); pair with
    ``spark.sql.files.maxPartitionBytes`` for many-small-file dirs, or a
    compaction pass (``maintenance.compact_small_files``) first — the
    standard small-files remedy.  ``glob`` filters server-side via pathGlobFilter (e.g.
    ``*.jpg``), so non-matching files are never opened."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    return raw.select(
        F.xxhash64(F.col("path")).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col("content").alias("payload"),
        F.to_json(
            F.struct(
                F.col("path"),
                F.col("length"),
                F.date_format("modificationTime", "yyyy-MM-dd HH:mm:ss").alias("mtime"),
            )
        ).alias("media_meta"),
    )
