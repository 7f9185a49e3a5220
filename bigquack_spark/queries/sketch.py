"""Count-Min sketch heavy hitters — the third portable sketch alongside
the KMV distinct estimator (q48) and the HLL tolerance check (q62).

Like q48, the hash functions are md5-derived so BOTH engines build the
bit-identical counter table: Spark ``conv(substr(md5,1,8),16,10)`` and
DuckDB ``('0x'||substr(md5,1,8))::BIGINT`` parse the same 32-bit value,
mod the same width.  Estimates are exact integers — no float anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t

CMS_DEPTH = 4
CMS_WIDTH = 1024
TOP_N = 20


def _bucket_sql(j: int, key: str) -> str:
    return (
        f"CAST('0x' || substr(md5('cms{j}|' || CAST({key} AS VARCHAR)), 1, 8) "
        f"AS BIGINT) % {CMS_WIDTH}"
    )


def _bucket_col(j: int, key) -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{j}|"), key.cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % CMS_WIDTH
    )


def _q157_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT {j} AS j, {_bucket_sql(j, 'l_partkey')} AS bucket FROM lineitem"
        for j in range(CMS_DEPTH)
    )
    qbuckets = ", ".join(_bucket_sql(j, "p.l_partkey") for j in range(CMS_DEPTH))
    mins = ", ".join(
        f"(SELECT c.cnt FROM counters c WHERE c.j = {j} AND c.bucket = qb.b{j})"
        for j in range(CMS_DEPTH)
    )
    bcols = ", ".join(f"{_bucket_sql(j, 'l_partkey')} AS b{j}" for j in range(CMS_DEPTH))
    return f"""
    WITH counters AS (
      SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM ({rows})
      GROUP BY j, bucket
    ),
    exact AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM lineitem GROUP BY l_partkey
      ORDER BY exact_cnt DESC, l_partkey LIMIT {TOP_N}
    ),
    qb AS (
      SELECT l_partkey, exact_cnt, {bcols}
      FROM (SELECT e.l_partkey AS l_partkey, e.exact_cnt FROM exact e) p
    )
    SELECT l_partkey, exact_cnt,
           least({mins}) AS cms_est,
           least({mins}) - exact_cnt AS overcount
    FROM qb
    ORDER BY exact_cnt DESC, l_partkey
    """


@query("q157_countmin_heavy_hitters", oracle=_q157_oracle())
def q157_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over l_partkey with the top-``TOP_N`` exact heavy
    hitters audited against their sketch estimates (CMS always
    over-counts; ``overcount`` is the collision error, bounded in
    expectation by N*depth/width).

    Scale shape: the counter table is the whole sketch — DEPTH x WIDTH
    rows regardless of input size, built with one map-side-combined
    aggregate over a DEPTH-way per-row explode; mergeable across
    partitions/days by addition (the property that lets a 100 TB stream
    keep a 4 KB-per-window frequency summary).  The bounded query-key
    set joins the broadcast counter table.  md5-derived buckets make the
    sketch bit-identical cross-engine — a portability property no native
    CMS/HLL implementation has."""
    l = t(spark, sf_dir, "lineitem", columns=["l_partkey"])
    rows = None
    for j in range(CMS_DEPTH):
        r = l.select(F.lit(j).alias("j"), _bucket_col(j, F.col("l_partkey")).alias("bucket"))
        rows = r if rows is None else rows.unionByName(r)
    counters = rows.groupBy("j", "bucket").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    exact = (
        l.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "l_partkey")
        .limit(TOP_N)
    )
    qb = exact.select(
        "l_partkey",
        "exact_cnt",
        *[_bucket_col(j, F.col("l_partkey")).alias(f"b{j}") for j in range(CMS_DEPTH)],
    )
    est = qb
    for j in range(CMS_DEPTH):
        cj = counters.filter(F.col("j") == j).select(
            F.col("bucket").alias(f"b{j}"), F.col("cnt").alias(f"c{j}")
        )
        est = est.join(F.broadcast(cj), f"b{j}")
    cms = F.least(*[F.col(f"c{j}") for j in range(CMS_DEPTH)])
    return est.select(
        "l_partkey",
        "exact_cnt",
        cms.alias("cms_est"),
        (cms - F.col("exact_cnt")).alias("overcount"),
    ).orderBy(F.desc("exact_cnt"), "l_partkey")


@query(
    "q298_hll_merge_audit",
    oracle="""
WITH halves AS (
  SELECT o_custkey, o_orderkey % 2 = 0 AS half FROM orders
)
SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       TRUE AS merged_close_to_oneshot,
       TRUE AS merged_within_5pct
FROM halves
""",
)
def q298_hll_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL MERGEABILITY audit — the property that makes sketches the
    100 TB answer (q252's posture): per-partition partial sketches must
    union to exactly the one-shot whole-corpus sketch, so distinct
    counts roll up from map-side partials without ever shuffling values.
    Spark 4's hll_sketch_agg/hll_union_agg prove it here: the corpus
    splits into two halves (orderkey parity), each half sketches
    independently, the union's estimate must land within 1% of the
    one-shot sketch's estimate (Datasketches HLL promotes sketch mode on
    union — coupon-list exactness can give way to the register estimator
    — so bit-equality is NOT guaranteed; statistical equivalence is the
    contract) and within 5% of the exact count.  Sketch estimates are
    engine-specific, so the driver diffs the q62-style boolean verdicts
    plus the exact count.  Scale shape: this is the audit that licenses
    every q252-style rollup — partials merge, the exchange carries
    sketch bytes, never values."""
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    halves = o.select(
        "o_custkey", (F.col("o_orderkey") % 2 == 0).alias("half")
    )
    per_half = halves.groupBy("half").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk")
    )
    merged = per_half.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_merged")
    )
    oneshot = halves.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").alias("est_oneshot"),
        F.countDistinct("o_custkey").alias("n_exact"),
    )
    return (
        oneshot.crossJoin(F.broadcast(merged))  # 1-row x 1-row scalar assembly
        .select(
            F.col("n_exact").cast("long").alias("n_exact"),
            (
                F.abs(F.col("est_merged").cast("double") - F.col("est_oneshot"))
                <= 0.01 * F.col("est_oneshot")
            ).alias("merged_close_to_oneshot"),
            (
                F.abs(F.col("est_merged").cast("double") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("merged_within_5pct"),
        )
    )
