"""Range-clustered writes — physical layout for data skipping.

At 100 TB, the cheapest query is the one that never opens the file: parquet
footers carry per-column min/max, and a scan with a selective predicate on
the clustering key skips every file whose range can't match.  That only
works if the writer made file ranges disjoint — unsorted ingest spreads
every key across every file and the stats prune nothing.

``save_clustered`` is the plain-parquet version of Delta OPTIMIZE ZORDER's
single-key case: a range repartition (sampled, skew-aware sizing by
Spark's RangePartitioner) so each output file owns one contiguous key
range, then an in-partition sort so row groups within a file are also
range-disjoint (parquet writers emit row-group-level stats too).

Pairs with ``operators/maintenance.compact_small_files``: compaction
fixes file COUNT, clustering fixes file ORDER; a maintenance pipeline
typically does both in one rewrite (compact with ``cluster_cols=...``).

The reference's sink has no layout control at all (a single DuckDB table,
duck.go:214-252); this module is pure extension surface for the Spark
deployment (SURVEY §7 principles: declarative, no driver materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def save_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` range-clustered on ``cluster_cols``.

    Each output file covers one contiguous range of the clustering key
    (file ranges are pairwise disjoint except for rows equal at the
    boundary key), and rows are sorted within each file.  ``num_files``
    defaults to the session's shuffle parallelism.
    """
    parted = (
        df.repartitionByRange(num_files, *cluster_cols)
        if num_files
        else df.repartitionByRange(*cluster_cols)
    )
    parted.sortWithinPartitions(*cluster_cols).write.mode(mode).parquet(path)


def _zorder_double(col_name: str, dtype):
    """Column projected to the double axis the z-curve buckets on.
    Dates/timestamps go through epoch seconds — ``approxQuantile`` and
    plain double casts reject them, yet they are exactly the columns a
    workload advisor recommends for z-ordering."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    c = F.col(col_name)
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return c.cast("timestamp").cast("double")
    return c.cast("double")


def zorder_boundaries(
    df: DataFrame,
    zorder_cols: list[str],
    bits_per_dim: int = 6,
    rel_err: float = 0.01,
) -> list[list[float]]:
    """Per-column quantile bucket boundaries for the z-curve — the ONE
    grid both :func:`save_zordered` and
    ``operators/maintenance.compact_small_files(zorder=True)`` cluster
    on (a shared helper so the two paths can never drift).  Validates
    the 62-bit interleave budget (Java long shifts wrap at 64 — an
    oversized column set would silently collide bits, not error)."""
    ncols = len(zorder_cols)
    if ncols < 2:
        raise ValueError("z-ordering needs >= 2 columns; use save_clustered for one")
    if bits_per_dim * ncols > 62:
        raise ValueError(
            f"bits_per_dim * len(zorder_cols) = {bits_per_dim * ncols} exceeds 62"
        )
    n_buckets = 1 << bits_per_dim
    qs = [i / n_buckets for i in range(1, n_buckets)]
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    projected = df.select(
        *[_zorder_double(c, dtypes[c]).alias(c) for c in zorder_cols]
    )
    return projected.stat.approxQuantile(zorder_cols, qs, rel_err)


def zorder_expr(zorder_cols: list[str], boundaries: list[list[float]],
                bits_per_dim: int = 6, dtypes: dict | None = None):
    """The interleaved-bits z-value Column from PRECOMPUTED per-column
    quantile boundaries — shared by :func:`save_zordered` (fresh write)
    and ``operators/maintenance.compact_small_files(zorder=True)``
    (in-place re-layout), so both paths cluster on the identical curve.
    Per row: each column's bucket is a boundary count (O(2^bits) codegen
    fold), its bits interleaved round-robin into one BIGINT.  ``dtypes``
    (column -> Spark DataType) routes dates/timestamps through the same
    epoch projection the boundaries were computed on."""
    from pyspark.sql import functions as F

    ncols = len(zorder_cols)
    dtypes = dtypes or {}
    z = F.lit(0).cast("bigint")
    for ci, (c, bs) in enumerate(zip(zorder_cols, boundaries)):
        arr = F.array(*[F.lit(float(b)) for b in bs])
        v = (
            _zorder_double(c, dtypes[c])
            if c in dtypes
            else F.col(c).cast("double")
        )
        bucket = F.aggregate(
            F.filter(arr, lambda b: b <= v),
            F.lit(0).cast("bigint"),
            lambda acc, _: acc + 1,
        )
        for i in range(bits_per_dim):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * ncols + ci)
    return z


def save_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    num_files: int | None = None,
    bits_per_dim: int = 6,
    mode: str = "overwrite",
    rel_err: float = 0.01,
) -> None:
    """Write ``df`` Z-order-clustered on several columns at once — the
    multi-key counterpart of :func:`save_clustered` (Delta OPTIMIZE
    ZORDER's layout, plain-parquet edition).

    Single-key range clustering makes footer stats selective on ONE
    column; a Z-order curve interleaves the bits of each column's rank so
    file ranges stay simultaneously narrow on EVERY listed column —
    predicates on any of them prune files.

    Mechanics (all distributed; the only driver data is the quantile
    boundary list, ``2^bits_per_dim`` doubles per column):

    1. one ``approxQuantile`` pass computes per-column bucket boundaries
       (rank-based, so skewed distributions still spread over all buckets
       — linear min/max scaling would collapse them);
    2. each row's per-column bucket is a boundary count (an O(B) codegen
       fold, B = 2^bits_per_dim), its bits interleaved into one z-value;
    3. range-repartition + in-partition sort on z, exactly like
       :func:`save_clustered`.

    Numeric columns only (cast dates/timestamps to epoch first); NULLs
    land in bucket 0.
    """
    boundaries = zorder_boundaries(df, zorder_cols, bits_per_dim, rel_err)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    z = zorder_expr(zorder_cols, boundaries, bits_per_dim, dtypes=dtypes)
    staged = df.withColumn("__z", z)
    parted = (
        staged.repartitionByRange(num_files, "__z")
        if num_files
        else staged.repartitionByRange("__z")
    )
    parted.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)
