"""Corpus-assembly operators for training-data pipelines (SURVEY §2.9
extension surface; no reference analogue — the reference moves tables,
duck.go:214-252, it never assembles corpora).

Three ops every large-scale pretraining pipeline runs between "raw
documents" and "tokenized shards":

- :func:`hash_split` — deterministic train/val/test assignment.
- :func:`mixture_sample` — per-source downsampling to a target mixture.
- :func:`contamination_pairs` — benchmark n-gram overlap detection.

All three are engine-portable by construction (md5-derived buckets, exact
integer thresholds) so they oracle-diff bit-exactly against DuckDB, and all
three are pure column projections or bounded-key joins — no driver state,
no unbounded shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.operators.dedup import _shingles_frame


def _hash_bucket(key: Column, salt: str, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets): md5 of the salted key, first 6
    hex digits as an integer (Spark conv(h,16,10) == DuckDB
    ('0x'||h)::BIGINT), mod buckets.  A pure projection: assignment is
    stable under reordering, repartitioning, and re-runs — the property a
    train/test split MUST have at 100 TB, where "sample 10%" via rand()
    is irreproducible."""
    h = F.md5(F.concat(F.lit(salt + "|"), key.cast("string")))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("bigint") % buckets


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split-v1",
    train_pct: int = 80,
    val_pct: int = 10,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic train/val/test label.

    Integer percent cut-points on a 100-bucket md5 hash of the id: the same
    document lands in the same split on any engine, any cluster size, any
    run.  Changing ``salt`` re-deals the split; nothing else does."""
    b = _hash_bucket(F.col(id_col), salt)
    return df.withColumn(
        split_col,
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
    default_pct: int = 100,
) -> DataFrame:
    """Deterministic per-source downsampling to a target domain mixture.

    ``rates`` maps source -> keep percentage (integers, exact thresholds).
    Keep iff hash_bucket(id) < pct for the row's source.  The mixture knob
    of a pretraining pipeline: reweighting domains without a shuffle — the
    filter is a projection, so Catalyst pushes it below everything and at
    100 TB the dropped rows never leave the scan."""
    pct = F.lit(default_pct)
    for src, p in sorted(rates.items()):
        pct = F.when(F.col(source_col) == src, F.lit(p)).otherwise(pct)
    return df.filter(_hash_bucket(F.col(id_col), salt) < pct)


def contamination_pairs(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark-contamination detection: for every (training doc, benchmark
    doc) pair sharing at least one word ``shingle_len``-gram, the overlap
    count and the contaminated fraction of the benchmark doc.

    Scale shape: both sides explode to DISTINCT shingles and meet in ONE
    equi-join on the shingle string — candidate work is bounded by shared
    shingles, never the doc cross product.  ``max_df`` drops shingles that
    appear in more than that many training docs before the join: boilerplate
    n-grams are both the join-skew hazard and the false-positive source, so
    one document-frequency aggregate removes both.  Output is one row per
    overlapping pair: (doc_id, bench_id, n_overlap, bench_total, score).
    """
    d = _shingles_frame(docs, text_col, shingle_len, "__sh").select(
        F.col(id_col).alias("doc_id"), F.explode("__sh").alias("sh")
    )
    b = _shingles_frame(benchmark, text_col, shingle_len, "__sh").select(
        F.col(id_col).alias("bench_id"), F.explode("__sh").alias("sh")
    )
    if max_df is not None:
        rare = (
            d.groupBy("sh")
            .agg(F.countDistinct("doc_id").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("sh")
        )
        d = d.join(rare, "sh")
    bench_sizes = b.groupBy("bench_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("bench_total")
    )
    return (
        d.join(b, "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
        .join(F.broadcast(bench_sizes), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            "n_overlap",
            "bench_total",
            F.round(F.col("n_overlap") / F.col("bench_total"), 6).alias("score"),
        )
    )


def pack_shards(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    slice_col: str | None = None,
    *,
    num_slices: int = 64,
    salt: str = "pack-v1",
    global_order: bool = False,
) -> DataFrame:
    """Assign docs to token-budgeted shards by cutting the exclusive
    running token total at ``budget`` (next-fit packing in id order).

    The DEFAULT is the sliced form: docs hash into ``num_slices``
    independent slices (deterministic md5 bucket of ``id_col``), and each
    slice packs its own shards inside its own window partition — no global
    sort, cumsum bounded per slice, the 100 TB shape.  Pass ``slice_col``
    to slice on an existing column (e.g. the q83 split bucket) instead of
    the derived hash.  Shard ids in both sliced forms are
    (slice, local_shard) pairs encoded as strings, unique without
    cross-slice coordination.

    ``global_order=True`` is the TEST-TIER single-ordering form (one
    global window -> SinglePartition exchange): deterministic totally-
    ordered packing, integer shard ids, fine to a few hundred million
    rows, a scale-killer beyond.  It exists for oracle pinning and small
    corpora; the default never plans a SinglePartition."""
    if global_order:
        w = Window.partitionBy().orderBy(id_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        excl = F.sum(token_col).over(w) - F.col(token_col)
        return df.withColumn("shard", F.floor(excl / budget).cast("bigint"))

    derived = slice_col is None
    slc = "__pack_slice" if derived else slice_col
    if derived:
        df = df.withColumn(slc, _hash_bucket(F.col(id_col), salt, num_slices))
    w = Window.partitionBy(slc).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    excl = F.sum(token_col).over(w) - F.col(token_col)
    local = F.floor(excl / budget).cast("bigint")
    shard = F.concat_ws("-", F.col(slc).cast("string"), local.cast("string"))
    out = df.withColumn("shard", shard)
    return out.drop(slc) if derived else out


def mixture_resample(
    df: DataFrame,
    rates_pct: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
    default_pct: int = 100,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Deterministic per-source RE-sampling supporting rates above 100%:
    the upsampling half of the mixture knob (:func:`mixture_sample` only
    downsamples).  ``rates_pct`` maps source -> percentage (250 = expect
    2.5 copies of each doc).  Every doc gets ``rate // 100`` whole copies,
    plus one more iff its md5 bucket < ``rate % 100`` — so expectation is
    exact, assignment is per-doc deterministic (stable under reordering
    and re-runs, the property rand() sampling lacks), and copies carry an
    ``epoch`` index (0..n-1) so a training loader can interleave them
    across passes instead of reading duplicates back to back.

    Shape: the copy count is a projection; the fan-out is one
    ``explode(sequence(...))`` — row growth equals the configured mixture
    growth and nothing shuffles.  Rates <= 100 degrade to exactly
    :func:`mixture_sample` semantics (0 or 1 copies)."""
    pct = F.lit(default_pct)
    for src, p in sorted(rates_pct.items()):
        pct = F.when(F.col(source_col) == src, F.lit(p)).otherwise(pct)
    b = _hash_bucket(F.col(id_col), salt)
    n_copies = (pct / 100).cast("bigint") + (b < pct % 100).cast("bigint")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn(epoch_col, F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )
