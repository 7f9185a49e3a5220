"""Sampling & binning query inventory (SURVEY §2.9 extension surface).

Reproducible sampling is the third leg of corpus assembly (next to
splitting and mixture, queries/corpus.py): a 100 TB pipeline cannot use
``rand()`` — re-runs must select the same rows on any engine and any
cluster size.  Everything here is deterministic by construction:

- fixed-size per-stratum sampling orders by an md5 hash (a seeded shuffle
  that is pure projection) and cuts with row_number;
- quantile binning uses NTILE with a unique tiebreak column;
- histograms bin on integer cents, never on float boundaries.

No reference analogue (the reference moves tables, duck.go:214-252); the
SQL surface is delegated per SURVEY §2.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t

_SAMPLE_N = 40  # docs kept per source stratum
_SAMPLE_SALT = "sample-v1"
_NTILES = 10
_BIN_CENTS = 500_00  # $500-wide histogram bins, in cents


@query(
    "q96_stratified_topn_sample",
    oracle=f"""
    SELECT source, doc_id, n_chars
    FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('{_SAMPLE_SALT}|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= {_SAMPLE_N}
    """,
)
def q96_stratified_topn_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE stratified sample: exactly N docs per source, chosen by
    ordering each stratum on an md5 hash of the id (a deterministic,
    engine-portable "random" order) and cutting at N.  Unlike rate-based
    sampling (q85) this guarantees the sample size per stratum.  One
    shuffle on the stratum key; the per-stratum sort is bounded by the
    stratum, and at 100 TB a rank-cut like this is what replaces driver-
    side reservoir state.  md5 hex ordering is identical across engines,
    with doc_id as the unique tiebreak."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit(_SAMPLE_SALT + "|"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SAMPLE_N)
        .select("source", "doc_id", "n_chars")
    )


@query(
    "q97_balance_deciles",
    oracle=f"""
    SELECT c_mktsegment, tile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS total_bal,
           CAST(min(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS min_bal,
           CAST(max(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS max_bal
    FROM (
      SELECT c_mktsegment, c_acctbal,
             CAST(ntile({_NTILES}) OVER (
               PARTITION BY c_mktsegment
               ORDER BY c_acctbal, c_custkey
             ) AS INTEGER) AS tile
      FROM customer
    )
    GROUP BY c_mktsegment, tile
    """,
)
def q97_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile binning via NTILE: customers per market segment split into
    10 equal-frequency balance tiles, with per-tile count and exact money
    bounds (integer-cents, per the money-lattice rule).  c_custkey breaks
    balance ties so tile assignment is deterministic cross-engine.  This is
    the equal-FREQUENCY binning a feature pipeline uses for bucketized
    features; equal-WIDTH is q98."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        c.withColumn("tile", F.ntile(_NTILES).over(w).cast("int"))
        .withColumn("bal_cents", cents)
        .groupBy("c_mktsegment", "tile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (F.sum("bal_cents").cast("long") / F.lit(100.0)).alias("total_bal"),
            (F.min("bal_cents").cast("long") / F.lit(100.0)).alias("min_bal"),
            (F.max("bal_cents").cast("long") / F.lit(100.0)).alias("max_bal"),
        )
    )


@query(
    "q98_price_histogram",
    oracle=f"""
    SELECT bin,
           bin * {_BIN_CENTS} / 100.0 AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
    FROM (
      SELECT CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                  // {_BIN_CENTS} AS BIGINT) AS bin,
             l_quantity
      FROM lineitem
    )
    GROUP BY bin
    """,
)
def q98_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-WIDTH histogram of extended price in $500 bins.  The bin edge
    is computed on integer cents (round(price*100) // 50000) — a float
    `floor(price/500)` would coin-flip rows sitting exactly on a bin edge,
    and 2-decimal money sits on edges all the time.  Pure projection +
    one groupBy: the histogram of a 100 TB table is one map-side-combined
    shuffle of ~thousands of bins."""
    li = t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.select(
            F.floor(cents / F.lit(_BIN_CENTS)).cast("bigint").alias("bin"),
            F.col("l_quantity"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).cast("bigint").alias("total_qty"),
        )
        .select(
            "bin",
            (F.col("bin") * _BIN_CENTS / F.lit(100.0)).alias("bin_lo"),
            "n_items",
            "total_qty",
        )
    )


_RICH_CENTS = 9000_00  # customers above $9000 balance


@query(
    "q103_nation_rich_roster",
    oracle=f"""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_rich,
           array_to_string(list_sort(list(c.c_name)), '|') AS roster
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) > {_RICH_CENTS}
    GROUP BY n.n_name
    """,
)
def q103_nation_rich_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-aggregation surface: per nation, the SORTED roster of
    high-balance customer names.  collect_list order is nondeterministic
    under parallelism, so the result is array_sort-ed — the only way an
    array agg can be reproducible on a cluster — then '|'-joined to one
    canonical string (the driver's canonicalizer cannot sort array-typed
    cells, r2 verdict #2).  The money threshold is integer cents (lattice
    rule); nation broadcasts."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        c.filter(cents > _RICH_CENTS)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rich"),
            F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("roster"),
        )
    )


_TIES_K = 3


@query(
    "q105_top_brands_with_ties",
    oracle=f"""
    SELECT p_brand, revenue, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT p_brand, revenue,
             rank() OVER (ORDER BY qty_units DESC) AS rnk,
             qty_units
      FROM (
        SELECT p.p_brand,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
                 / 10000.0 AS revenue,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty_units
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
      )
    )
    WHERE rnk <= {_TIES_K}
    """,
)
def q105_top_brands_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank()-with-ties top-k: the brands in the top ``_TIES_K`` by total quantity,
    KEEPING ties (rank, not row_number, so equal quantities share a rank
    and the cut can return more than K rows).  The rank key is the exact
    BIGINT unit sum ALONE — adding a tiebreak would make every rank unique
    and silently turn rank into row_number; rank is a pure function of the
    key, so ties need no tiebreak for determinism.  Revenue is reported on
    the integer-cents lattice.  part broadcasts; the rank's global window
    runs over ~25 brand rows, not lineitem."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    from bigquack_spark.queries.relational import _money_cents_units

    per_brand = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            (F.sum(_money_cents_units()).cast("long") / F.lit(10000.0)).alias("revenue"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).cast("bigint").alias("qty_units"),
        )
    )
    w = Window.orderBy(F.desc("qty_units"))
    return (
        per_brand.withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= _TIES_K)
        .select("p_brand", "revenue", "rnk")
    )


@query(
    "q112_balance_percentile_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           percent_rank() OVER (
             PARTITION BY c_mktsegment ORDER BY c_acctbal
           ) AS pct_rank,
           cume_dist() OVER (
             PARTITION BY c_mktsegment ORDER BY c_acctbal
           ) AS cum_dist
    FROM customer
    """,
)
def q112_balance_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing analytics: percent_rank and cume_dist of every
    customer's balance within their market segment.  Both are pure
    functions of the ORDER BY key (ties share a value), so no tiebreak
    column is needed and the int/int divisions are bit-identical across
    engines.  Same one-shuffle window shape as q97's NTILE — together they
    cover the ranked-window analytic family."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


_PPS_TARGET = 200  # expected sample size
_PPS_SALT = "pps_v1"
_PPS_POW52 = float(1 << 52)


@query(
    "q125_pps_weighted_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang,
             CAST(length(text) AS DOUBLE) AS wgt,
             CAST(('0x' || substr(md5('{_PPS_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                  AS DOUBLE) / {_PPS_POW52} AS u
      FROM documents
    ),
    tot AS (SELECT sum(wgt) AS total_w FROM w)
    SELECT doc_id, lang, wgt, u,
           CASE WHEN {_PPS_TARGET} * wgt / tot.total_w < 1.0
                THEN {_PPS_TARGET} * wgt / tot.total_w ELSE 1.0 END AS p
    FROM w, tot
    WHERE u < CASE WHEN {_PPS_TARGET} * wgt / tot.total_w < 1.0
                   THEN {_PPS_TARGET} * wgt / tot.total_w ELSE 1.0 END
    """,
)
def q125_pps_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size (Poisson/PPS) weighted sampling:
    include each document with p_i = min(1, k * w_i / W) where w_i is its
    byte length — longer documents proportionally more likely, expected
    sample size k, and every inclusion decision independent (so the
    operator is a zero-shuffle projection past one broadcast total; a
    fixed-size variant would need order statistics over transcendental
    keys, which are NOT portable across libm implementations — PPS needs
    only *,/,< over identical doubles, so both engines make bit-identical
    inclusion decisions).  The uniform u is md5-derived from the id:
    deterministic, replayable, engine-portable (13 hex chars = 52 bits,
    exact in a double).  Emits (p, u) so the sample is auditable and
    Horvitz-Thompson reweighting (1/p) is one expression away."""
    d = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id").select(
        "doc_id", "lang", F.length("text").cast("double").alias("wgt")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_PPS_SALT + "|"), F.col("doc_id").cast("string"))), 1, 13),
            16, 10,
        ).cast("bigint").cast("double")
        / F.lit(_PPS_POW52)
    )
    tot = d.agg(F.sum("wgt").alias("total_w"))
    p_raw = F.lit(float(_PPS_TARGET)) * F.col("wgt") / F.col("total_w")
    p = F.when(p_raw < 1.0, p_raw).otherwise(F.lit(1.0))
    return (
        d.withColumn("u", u)
        .crossJoin(F.broadcast(tot))
        .withColumn("p", p)
        .filter(F.col("u") < F.col("p"))
        .select("doc_id", "lang", "wgt", "u", "p")
    )


ES_SAMPLE_K = 20
_ES_U48 = 281474976710656  # 2^48


@query(
    "q153_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             -ln((CAST('0x' || substr(md5('es-v1|' || CAST(doc_id AS VARCHAR)), 1, 12)
                   AS BIGINT) + 1.0) / {_ES_U48 + 1}.0) / n_chars AS es_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, round(es_key, 6) AS es_key
    FROM keyed
    ORDER BY es_key, doc_id
    LIMIT {ES_SAMPLE_K}
    """,
)
def q153_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-Res):
    every row gets key = -ln(u)/w with u a deterministic md5-derived
    uniform and w = n_chars; the k smallest keys ARE a weighted
    reservoir sample.  The classic streaming/distributed form — unlike
    q125's Poisson inclusion (random size), this draws an EXACTLY-k
    sample in one pass with no global state: per-partition top-k
    pre-reduction (TakeOrderedAndProject) means the shuffle carries
    k rows per partition, never the corpus.  The md5 uniform makes the
    sample reproducible across engines, re-runs, and repartitioning —
    rand() cannot be either."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "n_chars"], rebalance=True, rebalance_key="doc_id")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("es-v1|"), F.col("doc_id").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(1.0)
    ) / F.lit(float(_ES_U48 + 1))
    keyed = d.filter(F.col("n_chars") > 0).select(
        "doc_id", "n_chars", (-F.log(u) / F.col("n_chars")).alias("es_key")
    )
    return (
        keyed.select("doc_id", "n_chars", F.round("es_key", 6).alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(ES_SAMPLE_K)
    )


NEYMAN_TOTAL = 100  # total sample size allocated across strata


@query(
    "q182_neyman_allocation",
    oracle=f"""
    WITH stats AS (
      SELECT c_mktsegment AS stratum,
             CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)
                      * CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s2
      FROM customer GROUP BY c_mktsegment
    ),
    sized AS (
      SELECT stratum, nh,
             sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                   / CAST(nh AS DOUBLE)) / (CAST(nh AS DOUBLE) - 1.0)) AS sh
      FROM stats WHERE nh > 1
    ),
    alloc AS (
      SELECT stratum, nh, sh,
             CAST(round({NEYMAN_TOTAL} * (nh * sh) /
                        (SELECT sum(nh * sh) FROM sized)) AS BIGINT) AS n_alloc
      FROM sized
    ),
    ranked AS (
      SELECT c_custkey, c_mktsegment AS stratum,
             row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
      FROM customer
    )
    SELECT r.stratum, CAST(count(*) AS BIGINT) AS n_sampled,
           max(a.n_alloc) AS n_alloc,
           CAST(min(r.c_custkey) AS BIGINT) AS min_key,
           CAST(max(r.c_custkey) AS BIGINT) AS max_key
    FROM ranked r JOIN alloc a ON r.stratum = a.stratum
    WHERE r.rn <= a.n_alloc
    GROUP BY r.stratum
    """,
)
def q182_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling: the statistically OPTIMAL
    per-stratum sample sizes n_h ∝ N_h·S_h (big and high-variance strata
    get more budget — minimizes the estimator variance at fixed total
    cost), then a deterministic md5-ranked take of exactly n_h rows per
    stratum.  Extends q96's equal/proportional stratified sampling with
    the allocation step.  S_h comes from exact integer-cents power sums
    (the q87 lattice discipline), so the allocations — and therefore the
    sampled sets — are identical cross-engine.  Three bounded shuffles:
    per-stratum moment aggregate (|strata| rows), broadcast of the
    allocation table, one stratum-partitioned ranking window.  The
    md5-rank take is retry/repartition-stable where rand() sampling is
    not (q153's argument)."""
    from pyspark.sql.window import Window

    c = t(spark, sf_dir, "customer", columns=["c_custkey", "c_mktsegment", "c_acctbal"])
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    stats = c.groupBy(F.col("c_mktsegment").alias("stratum")).agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    sized = stats.filter(F.col("nh") > 1).select(
        "stratum", "nh",
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("nh").cast("double")
            )
            / (F.col("nh").cast("double") - F.lit(1.0))
        ).alias("sh"),
    )
    total = sized.agg(F.sum(F.col("nh") * F.col("sh")).alias("tot"))
    alloc = sized.crossJoin(F.broadcast(total)).select(
        "stratum", "nh",
        F.round(F.lit(NEYMAN_TOTAL) * (F.col("nh") * F.col("sh")) / F.col("tot"))
        .cast("long").alias("n_alloc"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), "c_custkey"
    )
    ranked = c.select(
        "c_custkey", F.col("c_mktsegment").alias("stratum"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        ranked.join(F.broadcast(alloc), "stratum")
        .filter(F.col("rn") <= F.col("n_alloc"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.max("n_alloc").alias("n_alloc"),
            F.min("c_custkey").cast("long").alias("min_key"),
            F.max("c_custkey").cast("long").alias("max_key"),
        )
    )


SAMPLE_PCT = 10  # md5-bucket percent for the audited sample
CHI2_SALT = "bias-v1"


@query(
    "q242_sample_bias_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT event_type,
             CAST('0x' || substr(md5('{CHI2_SALT}|' || CAST(event_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % 100 < {SAMPLE_PCT} AS in_sample
      FROM events
    ),
    pop AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_pop FROM tagged GROUP BY event_type
    ),
    samp AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_samp
      FROM tagged WHERE in_sample GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(n_pop) AS BIGINT) AS pop_total FROM pop
    ),
    stot AS (
      SELECT CAST(sum(n_samp) AS BIGINT) AS samp_total FROM samp
    ),
    cells AS (
      SELECT p.event_type, p.n_pop, coalesce(s.n_samp, 0) AS n_samp,
             CAST(p.n_pop AS DOUBLE) * samp_total / pop_total AS expected
      FROM pop p LEFT JOIN samp s ON p.event_type = s.event_type
      CROSS JOIN tot CROSS JOIN stot
    )
    SELECT event_type, n_pop, n_samp,
           round(expected, 6) AS expected,
           round((n_samp - expected) * (n_samp - expected) / expected, 6) AS chi2_term,
           round(CAST(n_samp AS DOUBLE) / n_pop, 6) AS observed_rate
    FROM cells
    """,
)
def q242_sample_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-representativeness audit: the ``SAMPLE_PCT``% md5-bucket
    sample's per-type counts against their expected values under the
    population distribution, with per-cell chi-square terms — the check
    that the DETERMINISTIC sampler (the md5 bucketing every sampling
    query here relies on: q83/q96/q125/q153) isn't correlated with the
    stratum variable.  Sum the chi2_term column against the
    chi-square(k-1) critical value to accept/reject; per-cell terms
    are emitted (not just the sum) so a failure points at WHICH stratum
    drifted.  One tagged scan + two stratum-sized aggregates + 1-row
    broadcast totals; all counts exact, one division per cell."""
    e = t(spark, sf_dir, "events", columns=["event_id", "event_type"])
    from bigquack_spark.operators.corpus import _hash_bucket

    tagged = e.select(
        "event_type",
        (_hash_bucket(F.col("event_id"), CHI2_SALT, 100) < SAMPLE_PCT).alias("in_sample"),
    )
    pop = tagged.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_pop"))
    samp = (
        tagged.filter("in_sample")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_samp"))
    )
    tot = pop.agg(F.sum("n_pop").cast("long").alias("pop_total"))
    stot = samp.agg(F.sum("n_samp").cast("long").alias("samp_total"))
    cells = (
        pop.join(samp, "event_type", "left")
        .withColumn("n_samp", F.coalesce("n_samp", F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(stot))
        .withColumn(
            "expected", F.col("n_pop").cast("double") * F.col("samp_total") / F.col("pop_total")
        )
    )
    return cells.select(
        "event_type", "n_pop", "n_samp",
        F.round("expected", 6).alias("expected"),
        F.round(
            (F.col("n_samp") - F.col("expected")) * (F.col("n_samp") - F.col("expected"))
            / F.col("expected"),
            6,
        ).alias("chi2_term"),
        F.round(F.col("n_samp").cast("double") / F.col("n_pop"), 6).alias("observed_rate"),
    )


_EMBARGO_DAYS = 7  # gap between train cutoff and test start


@query(
    "q264_temporal_split_audit",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
    ),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
    marked AS (
      SELECT e.user_id,
             CASE WHEN e.day < b.lo + (b.hi - b.lo) * 7 // 10 THEN 'train'
                  WHEN e.day >= b.lo + (b.hi - b.lo) * 7 // 10 + {_EMBARGO_DAYS}
                    THEN 'test'
                  ELSE 'embargo' END AS split
      FROM e, b
    ),
    sizes AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM marked GROUP BY split
    ),
    overlap AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT user_id FROM marked WHERE split = 'train'
        INTERSECT
        SELECT user_id FROM marked WHERE split = 'test'
      )
    )
    SELECT sizes.split, sizes.n_events, sizes.n_users,
           CASE WHEN sizes.split = 'test' THEN overlap.n END AS n_users_also_in_train,
           CASE WHEN sizes.split = 'test'
             THEN CAST(overlap.n AS DOUBLE) / sizes.n_users END AS user_leakage_rate
    FROM sizes, overlap
    """,
)
def q264_temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split audit — the time-series complement of
    q83's random split and q190's near-dup leakage: cut at the 70% point
    of the observed day span, hold a 7-day embargo gap (rows
    there belong to NEITHER side — the forecasting-embargo rule that
    stops horizon-h labels leaking across the cut), and report per-split
    sizes plus the entity-level leakage a row-level split ignores: how
    many test users also appear in train (for user-behavior models that
    overlap IS leakage; the fix is q83-style entity hashing).  One scan
    to (user, day); bounds ride back off the reduced frame; the overlap
    is a distinct-key intersection, shuffled on user_id only."""
    e = t(spark, sf_dir, "events", columns=["user_id", "ts"])
    days = e.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    b = days.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cut = F.col("lo") + F.expr("(hi - lo) * 7 div 10")
    marked = days.crossJoin(F.broadcast(b)).select(
        "user_id",
        F.when(F.col("day") < cut, "train")
        .when(F.col("day") >= cut + _EMBARGO_DAYS, "test")
        .otherwise("embargo")
        .alias("split"),
    )
    sizes = marked.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    tr = marked.filter(F.col("split") == "train").select("user_id").distinct()
    te = marked.filter(F.col("split") == "test").select("user_id").distinct()
    overlap = tr.intersect(te).agg(F.count(F.lit(1)).cast("long").alias("n"))
    is_test = F.col("split") == "test"
    return sizes.crossJoin(F.broadcast(overlap)).select(
        "split",
        "n_events",
        "n_users",
        F.when(is_test, F.col("n")).alias("n_users_also_in_train"),
        F.when(is_test, F.col("n").cast("double") / F.col("n_users")).alias(
            "user_leakage_rate"
        ),
    )
