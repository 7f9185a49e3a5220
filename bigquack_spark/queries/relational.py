"""Relational query inventory — the delegated-SQL surface (SURVEY §2.5).

The reference's relational capability is DuckDB SQL behind
``stmt.SetSqlQuery`` (duck.go:180,195,280); its own test corpus exercises
projection/filter/order/limit (duck_test.go:83,225,236; bigquack_test.go:22-23).
Here each construct is expressed with the DataFrame API (proving the Spark
surface, not string passthrough) and diffed against DuckDB running the
``oracle`` SQL on the same parquet.

Cross-engine determinism rules applied throughout (FIXTURES.md §C):
- every computed column aliased identically on both sides
- integer aggregates cast to BIGINT on both sides (DuckDB sum(int) is HUGEINT)
- ORDER BY only where LIMIT/top-k demands it, always with a unique tiebreaker
- timestamps grouped/emitted as DATE or formatted strings where practical
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum(l_extendedprice) AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_quantity) AS avg_qty,
           avg(l_extendedprice) AS avg_price,
           avg(l_discount) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan -> hash aggregate with partial (map-side)
    combine.  Catalyst pushes the shipdate filter into the parquet scan and
    the whole agg runs in whole-stage codegen; one shuffle on the 6-value
    group key."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q02_supplier_pushdown",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal
    FROM supplier
    WHERE s_suppkey > 0
    ORDER BY s_suppkey
    """,
)
def q02_supplier_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own pushdown test (bigquack_test.go:19-25): projected,
    filtered supplier scan.  SelectedFields -> column pruning, RowRestriction
    -> PushedFilters; verify with .explain('formatted')."""
    return t(
        spark, sf_dir, "supplier",
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        predicate="s_suppkey > 0",
    ).orderBy("s_suppkey")


@query(
    "q03_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> two joins -> agg -> top-k.
    customer is small relative to lineitem: broadcast it so the big side
    never shuffles for the first join; AQE handles the orders⋈lineitem side."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.to_timestamp(F.lit("1996-01-01")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> left-semi join with a non-equi residual.
    The semi join keeps only the equi-key shuffle; the date comparison rides
    along as the join residual, never materializing the match rows."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    l = t(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_shipdate"])
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q05_region_revenue",
    oracle="""
    SELECT n.n_name,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_regionkey < 3
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    """,
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way star join.  region/nation/supplier/customer
    are dimensions — broadcast all of them so the only shuffle in the plan
    is the orders⋈lineitem equi-join; at 100 TB the fact tables are the only
    shuffled inputs."""
    r = t(spark, sf_dir, "region").filter(F.col("r_regionkey") < 3)
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1999-01-01")))
    )
    l = t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q06_revenue_delta",
    oracle="""
    SELECT sum(l_extendedprice * l_discount) AS promo_revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero shuffle beyond the
    final single-row reduce.  All four predicates push to the parquet scan."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("promo_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q07_top_customers_per_nation",
    oracle="""
    SELECT n_name, c_name, c_acctbal, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT n.n_name, c.c_name, c.c_acctbal,
             row_number() OVER (
               PARTITION BY n.n_name
               ORDER BY c.c_acctbal DESC, c.c_custkey
             ) AS rk
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    WHERE rk <= 3
    """,
)
def q07_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function surface: per-group top-k via row_number with a unique
    tiebreaker (c_custkey) so ranking is deterministic across engines.
    One shuffle on the window partition key."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_name", "c_acctbal", "rk")
    )


@query(
    "q08_rollup_acctbal",
    oracle="""
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           sum(c_acctbal) AS total_acctbal,
           CAST(grouping(r_name) * 2 + grouping(n_name) AS INTEGER) AS lvl
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q08_rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation surface: ROLLUP region -> nation -> grand
    total, with grouping_id disambiguating the NULL levels.  Spark expands
    rollup into a single shuffle (Expand + one agg), not one pass per level."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_acctbal").alias("total_acctbal"),
            F.grouping_id().cast("int").alias("lvl"),
        )
    )


@query(
    "q09_set_ops",
    oracle="""
    (
      (SELECT o_custkey AS cust_key FROM orders WHERE o_orderstatus = 'O'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    )
    UNION
    SELECT c_custkey FROM customer WHERE c_nationkey = 0
    """,
)
def q09_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface: INTERSECT / EXCEPT / UNION (all distinct
    semantics), composed exactly as the SQL parenthesization reads."""
    o = t(spark, sf_dir, "orders", columns=["o_custkey", "o_orderstatus"])
    opened = o.filter("o_orderstatus = 'O'").select(F.col("o_custkey").alias("cust_key"))
    filled = o.filter("o_orderstatus = 'F'").select(F.col("o_custkey").alias("cust_key"))
    pending = o.filter("o_orderstatus = 'P'").select(F.col("o_custkey").alias("cust_key"))
    nat0 = (
        t(spark, sf_dir, "customer", predicate="c_nationkey = 0", columns=["c_custkey"])
        .select(F.col("c_custkey").alias("cust_key"))
    )
    return opened.intersect(filled).exceptAll(pending).distinct().union(nat0).distinct()


@query(
    "q10_distinct_segments",
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey
    FROM customer
    """,
)
def q10_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT surface — hash aggregate with map-side partial dedup."""
    return t(spark, sf_dir, "customer", columns=["c_mktsegment", "c_nationkey"]).distinct()


@query(
    "q11_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
)
def q11_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS -> left-anti join (customers with no finalized order —
    the status filter keeps the result non-empty at every SF).  Only order
    keys shuffle; payload columns are pruned before the exchange."""
    c = t(spark, sf_dir, "customer")
    o = t(
        spark, sf_dir, "orders",
        columns=["o_custkey"], predicate="o_orderstatus = 'F'",
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q12_scalar_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_uc,
           CAST(length(p_name) AS INTEGER) AS name_len,
           substring(p_type, 1, 5) AS type_prefix,
           concat_ws('/', p_brand, p_type) AS brand_type,
           CASE WHEN p_size > 25 THEN 'large' ELSE 'small' END AS size_class,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor
    FROM part
    WHERE p_name LIKE '%a%'
    """,
)
def q12_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (string/conditional/math), all JVM built-ins
    inside whole-stage codegen — no Python in the row path."""
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.when(F.col("p_size") > 25, "large").otherwise("small").alias("size_class"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
    )


@query(
    "q13_orders_by_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(o_totalprice) AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def q13_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + aggregate.  Group keys cast to INT on both
    sides (DuckDB year() returns BIGINT, Spark returns INT)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "q14_limit_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    ORDER BY o_orderkey
    LIMIT 5
    """,
)
def q14_limit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT surface (duck_test.go:236): top-k by unique key —
    Spark plans TakeOrderedAndProject, never a full sort."""
    return t(spark, sf_dir, "orders").orderBy("o_orderkey").limit(5)


@query(
    "q15_full_outer_counts",
    oracle="""
    SELECT COALESCE(c.nk, s.nk) AS nationkey, c.n_customers, s.n_suppliers
    FROM (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_customers
          FROM customer GROUP BY 1) c
    FULL JOIN (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_suppliers
               FROM supplier GROUP BY 1) s
      ON c.nk = s.nk
    """,
)
def q15_full_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join surface: per-nation customer vs supplier counts, with
    NULLs on both unmatched sides."""
    c = (
        t(spark, sf_dir, "customer", columns=["c_nationkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        t(spark, sf_dir, "supplier", columns=["s_nationkey"])
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return c.join(s, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"), "n_customers", "n_suppliers"
    )


@query(
    "q16_status_pivot",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_filled,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending,
           sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F') AS filled_total
    FROM orders
    GROUP BY 1
    """,
)
def q16_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: one output column per order status.  Expressed with
    the DataFrame ``pivot`` operator (explicit value list so no extra
    distinct-values job); the oracle uses FILTER aggregates — identical
    semantics."""
    o = t(spark, sf_dir, "orders")
    wide = (
        o.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_totalprice").alias("total"),
        )
    )
    return wide.select(
        "order_year",
        F.col("O_cnt").alias("n_open"),
        F.col("F_cnt").alias("n_filled"),
        F.col("P_cnt").alias("n_pending"),
        F.col("F_total").alias("filled_total"),
    )


@query(
    "q17_above_nation_average",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT avg(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def q17_above_nation_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery surface: customers above their nation's
    average balance.  Spark plans the decorrelation as a window avg over the
    nation partition — one shuffle, no per-row subquery execution."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    return (
        c.withColumn("nation_avg", F.avg("c_acctbal").over(w))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_acctbal")
    )


@query(
    "q18_cumulative_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           sum(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running_total
    FROM orders
    """,
)
def q18_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame surface: per-customer running revenue with an explicit
    ROWS frame and a unique ordering tiebreaker (o_orderkey)."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey", F.sum("o_totalprice").over(w).alias("running_total")
    )


@query(
    "q25_brand_revenue",
    oracle="""
    SELECT p.p_brand,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           sum(l.l_quantity) AS total_qty,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q25_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dimension rollup on the part axis: broadcast the part table so
    lineitem never shuffles for the join; one exchange on the brand key."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.sum("l_quantity").alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q26_promo_share",
    oracle="""
    SELECT 100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                            THEN l.l_extendedprice * (1 - l.l_discount)
                            ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)) AS promo_share_pct,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    """,
)
def q26_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a broadcast join —
    a single-row answer computed without any row ever leaving its scan
    partition until the final reduce."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    p = t(spark, sf_dir, "part", columns=["p_partkey", "p_type"])
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").like("PROMO%"), disc).otherwise(F.lit(0)))
                / F.sum(disc)
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q27_supplier_part_breadth",
    oracle="""
    SELECT l_suppkey,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def q27_supplier_part_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-aggregate surface on a fact table: Spark plans this as a
    two-stage expand/aggregate (partial distinct per partition first), so
    the shuffle carries (suppkey, partkey) pairs, not raw rows."""
    l = t(spark, sf_dir, "lineitem", columns=["l_suppkey", "l_partkey"])
    return l.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_distinct_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q19_cube_volumes",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(o_totalprice) AS total_price,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INTEGER) AS lvl
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q19_cube_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE surface: all four grouping combinations in ONE shuffle (Spark
    expands the grouping sets before the exchange, it does not rescan)."""
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("total_price"),
        F.grouping_id().cast("int").alias("lvl"),
    )


@query(
    "q29_multiset_ops",
    oracle="""
    SELECT cust_key FROM (
      SELECT o_custkey AS cust_key FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def q29_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) semantics: EXCEPT ALL keeps duplicate cardinality —
    a customer with three open and one filled order survives twice.
    DataFrame ``exceptAll`` == SQL EXCEPT ALL."""
    o = t(spark, sf_dir, "orders", columns=["o_custkey", "o_orderstatus"])
    opened = o.filter("o_orderstatus = 'O'").select(F.col("o_custkey").alias("cust_key"))
    filled = o.filter("o_orderstatus = 'F'").select(F.col("o_custkey").alias("cust_key"))
    return opened.exceptAll(filled)


@query(
    "q43_left_join_coverage",
    oracle="""
    SELECT n.n_nationkey, n.n_name,
           CAST(coalesce(count(s.s_suppkey), 0) AS BIGINT) AS n_suppliers,
           sum(s.s_acctbal) AS total_acctbal
    FROM nation n
    LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
    """,
)
def q43_left_join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join surface: every nation appears, zero-supplier nations
    carry count 0 and NULL sum (count(col) skips the unmatched NULLs)."""
    n = t(spark, sf_dir, "nation")
    s = t(spark, sf_dir, "supplier")
    return (
        n.join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.coalesce(F.count("s_suppkey"), F.lit(0)).alias("n_suppliers"),
            F.sum("s_acctbal").alias("total_acctbal"),
        )
    )


@query(
    "q44_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_old,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr
    FROM orders
    WHERE o_orderkey <= 100
    """,
)
def q44_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic surface: datediff / date_add / day-of-week /
    quarter.  Dialects differ in argument order, naming, AND numbering
    (DuckDB dayofweek is 0=Sunday, Spark's is 1=Sunday) — pinned to the
    ISO day-of-week (1=Monday..7=Sunday) on both sides."""
    o = t(spark, sf_dir, "orders", predicate="o_orderkey <= 100")
    od = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.datediff(F.lit("2002-01-01").cast("date"), od).cast("int").alias("days_old"),
        F.date_add(od, 30).alias("due_date"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("iso_dow"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
    )


@query(
    "q45_string_agg",
    oracle="""
    SELECT s_nationkey,
           string_agg(s_name, ',' ORDER BY s_name) AS supplier_names,
           CAST(count(*) AS BIGINT) AS n
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def q45_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: DuckDB string_agg(... ORDER BY) ==
    Spark sort-then-join over collect_list.  Sorting inside the aggregate
    makes the concatenation deterministic on both engines."""
    s = t(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("supplier_names"),
        F.count(F.lit(1)).alias("n"),
    )


_Q46_SQL = """
    SELECT r.r_name,
           (SELECT CAST(count(*) AS BIGINT) FROM nation n
            WHERE n.n_regionkey = r.r_regionkey) AS n_nations
    FROM region r
"""


@query("q46_scalar_subquery_select", oracle=_Q46_SQL)
def q46_scalar_subquery_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery in the SELECT list — run through the
    literal SQL-passthrough path (spark.sql on registered views), i.e. the
    reference's actual contract: the IDENTICAL string executes on both
    engines (duck.go:195 SetSqlQuery ≅ spark.sql)."""
    from bigquack_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ("region", "nation"))
    return spark.sql(_Q46_SQL)


@query(
    "q47_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS qty_p25,
           quantile_cont(l_quantity, 0.50) AS qty_p50,
           quantile_cont(l_quantity, 0.75) AS qty_p75,
           quantile_cont(l_extendedprice, 0.90) AS price_p90,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q47_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile surface (linear interpolation — Spark `percentile`
    == DuckDB `quantile_cont`).  Exact, not approx_percentile: the sketch-
    based variant is engine-specific and can't oracle-match; the exact one
    is the correctness anchor the approximate path is judged against."""
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("qty_p25"),
        F.expr("percentile(l_quantity, 0.50)").alias("qty_p50"),
        F.expr("percentile(l_quantity, 0.75)").alias("qty_p75"),
        F.expr("percentile(l_extendedprice, 0.90)").alias("price_p90"),
        F.count(F.lit(1)).alias("n"),
    )


_Q61_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(o_totalprice) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
"""


@query("q61_grouping_sets", oracle=_Q61_SQL)
def q61_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize),
    run through literal SQL passthrough — the identical string executes on
    both engines.  One Expand + one shuffle, not one scan per set."""
    from bigquack_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_Q61_SQL)


@query(
    "q62_approx_aggregates",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
               - CAST(count(DISTINCT l_partkey) AS DOUBLE))
             <= 0.05 * CAST(count(DISTINCT l_partkey) AS DOUBLE) AS parts_within_5pct,
           abs(CAST(approx_quantile(l_extendedprice, 0.5) AS DOUBLE)
               - CAST(median(l_extendedprice) AS DOUBLE))
             <= 0.05 * CAST(median(l_extendedprice) AS DOUBLE) AS median_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q62_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregate surface: approx_count_distinct (HyperLogLog++)
    and approx_percentile (engine-specific sketch).  Raw sketch estimates
    can never hash-match across engines, so the driver-checkable contract is
    the TOLERANCE: each engine asserts ITS OWN sketch lands within 5% of ITS
    OWN exact answer, and the boolean verdicts (plus the exact distinct
    counts, which ARE deterministic) are what get diffed.  Both engines'
    sketches are far inside 5% at every SF (Spark rsd=0.02; DuckDB
    approx_quantile is T-Digest), so the booleans are stably true — a
    regression in either sketch flips a row red.  tests/test_ops.py keeps
    the tighter numeric tolerance assertions."""
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("bigint").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", rsd=0.02).cast("double")
                - F.countDistinct("l_partkey").cast("double")
            )
            <= 0.05 * F.countDistinct("l_partkey").cast("double")
        ).alias("parts_within_5pct"),
        (
            F.abs(
                F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").cast("double")
                - F.expr("percentile(l_extendedprice, 0.5)").cast("double")
            )
            <= 0.05 * F.expr("percentile(l_extendedprice, 0.5)").cast("double")
        ).alias("median_within_5pct"),
    )


def _money_cents_units():
    """Exact discounted-revenue summand in integer (cent x percent) units:
    price_cents * (100 - discount_pct).  Money columns are exact 2-decimal
    values, so per-row integerization is bit-identical across engines and
    the BIGINT sum has NO float accumulation error — immune to the
    rounding-boundary coin flips that plague float sums of decimal-lattice
    data (two engines' float sums differ by ~1e-9, which flips any digit
    rounding exactly on the lattice).  Divide by 10000.0 once per GROUP for
    the decimal value (totals < 2^53, so the conversion is exact too)."""
    price_cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    return price_cents * (F.lit(100) - disc_pct)


@query(
    "q63_bilateral_trade",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0 AS volume,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE ns.n_nationkey <> nc.n_nationkey
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ns.n_name, nc.n_name, CAST(year(l.l_shipdate) AS INTEGER)
    """,
)
def q63_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between supplier and
    customer nations — the nation table joins TWICE under different roles
    (self-join aliasing surface).  Every dimension broadcast; the single
    shuffle is the final three-key aggregate."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    c = t(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey"])
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    n = t(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    ns = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("s_nk") != F.col("c_nk"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            (F.sum(_money_cents_units()).cast("long") / F.lit(10000.0)).alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q64_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q64_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by returned-item revenue — selective
    fact filter pushed to the scan, broadcast dims, top-k with a unique
    tiebreaker."""
    l = t(spark, sf_dir, "lineitem", predicate="l_returnflag = 'R'")
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    c = t(spark, sf_dir, "customer", columns=["c_custkey", "c_name", "c_nationkey"])
    n = t(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            (F.sum(_money_cents_units()).cast("long") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select("c_custkey", "c_name", "n_name", "revenue", "n_items")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def nation_profit_frame(
    l: DataFrame, p: DataFrame, s: DataFrame, n: DataFrame, o: DataFrame
) -> DataFrame:
    """q68's plan over caller-supplied inputs — reused by
    tests/test_layouts.py to run the SAME headline query over the bucketed
    lineitem/orders layout (exchange-free fact-fact join) without
    duplicating the query body."""
    retail_cents = F.round(F.col("p_retailprice") * 100).cast("long")
    cost_units = retail_cents * F.col("l_quantity").cast("long") * F.lit(50)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            (F.sum(_money_cents_units() - cost_units).cast("long") / F.lit(10000.0)).alias("profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )



@query(
    "q68_nation_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
             - CAST(round(p.p_retailprice * 100) AS BIGINT)
               * CAST(l.l_quantity AS BIGINT) * 50
           ) AS BIGINT) / 10000.0 AS profit,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_type = 'PROMO'
    GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INTEGER)
    """,
)
def q68_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order
    year.  This dataset has no partsupp, so cost is modeled as half the
    part's retail price per unit; the summand stays on the exact integer
    cent lattice (see _money_cents_units) so the BIGINT sum is bit-identical
    across engines.  part/supplier/nation broadcast; lineitem joins orders
    on the shared l_orderkey/o_orderkey key; one final shuffle on the
    (nation, year) aggregate.  Bucketing both facts by the order key
    removes even that join's input exchanges (round-10 100x
    measurement; plan-asserted in tests/test_layouts.py)."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part", predicate="p_type = 'PROMO'",
          columns=["p_partkey", "p_retailprice"])
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    n = t(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate"])
    return nation_profit_frame(l, p, s, n, o)


@query(
    "q69_priority_lines",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q69_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE-sum pivot of order priority per
    line class (this dataset has no l_shipmode; l_returnflag plays the
    grouping role).  The CASE folds into the map-side partial aggregate, so
    the single shuffle carries 3 groups x 2 longs."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"])
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q70_disjunctive_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q70_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs multi-branch predicate over a join.
    Catalyst extracts the common subexpression (p_brand IN (...)) for scan
    pushdown and evaluates the residual disjunction post-join; part is
    broadcast so the fact side never shuffles."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part", columns=["p_partkey", "p_brand", "p_size"])
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    pred = (
        ((brand == "Brand#12") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#23") & size.between(1, 25) & qty.between(10, 30))
        | ((brand == "Brand#7") & size.between(1, 35) & qty.between(20, 40))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(pred)
        .agg(
            (F.sum(_money_cents_units()).cast("long") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q71_dormant_rich_customers",
    oracle="""
    WITH stats AS (
      SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_cents,
             CAST(count(*) AS BIGINT) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 AS totacctbal
    FROM customer c, stats
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * stats.n > stats.total_cents
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '1998-06-01')
    GROUP BY c.c_nationkey
    """,
)
def q71_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers above the positive-balance average with no
    recent orders (every synthetic customer has SOME order, so "dormant"
    means none since 1998-06-01), aggregated by nation.  The threshold
    compare is done in exact integer arithmetic (acctbal_cents * n >
    total_cents avoids a float average that two engines round differently at
    the boundary).  The 1-row aggregate broadcasts into the filter; the
    anti-join's right side is a date-filtered, column-pruned orders scan."""
    c = t(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey", "c_acctbal"])
    o = t(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"]).filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("1998-06-01"))
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    stats = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(cents).alias("total_cents"), F.count(F.lit(1)).alias("n"))
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(cents * F.col("n") > F.col("total_cents"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents).cast("long") / F.lit(100.0)).alias("totacctbal"),
        )
    )


@query(
    "q72_cheapest_supplier",
    oracle="""
    SELECT p_partkey, p_brand, s_name, l_extendedprice AS best_price
    FROM (
      SELECT l.l_partkey AS p_partkey, p.p_brand, s.s_name, l.l_extendedprice,
             row_number() OVER (
               PARTITION BY l.l_partkey
               ORDER BY l.l_extendedprice, l.l_suppkey, l.l_orderkey, l.l_linenumber
             ) AS rk
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE p.p_size <= 10
    )
    WHERE rk = 1
    """,
)
def q72_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier (no partsupp table, so
    the observed lineitem price plays supplycost).  The correlated
    MIN subquery is expressed as a window row_number with a fully unique
    tiebreaker chain, which both engines order identically; dims broadcast,
    one shuffle on l_partkey for the window."""
    l = t(spark, sf_dir, "lineitem",
          columns=["l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"])
    p = t(spark, sf_dir, "part", predicate="p_size <= 10", columns=["p_partkey", "p_brand"])
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_name"])
    w = Window.partitionBy("l_partkey").orderBy(
        "l_extendedprice", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            F.col("l_extendedprice").alias("best_price"),
        )
    )


@query(
    "q73_gap_filled_months",
    oracle="""
    WITH RECURSIVE spine(m) AS (
      SELECT DATE '1992-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
      WHERE m < DATE '1998-12-01'
    ),
    monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      GROUP BY 1
    )
    SELECT strftime(s.m, '%Y-%m') AS month,
           coalesce(mo.n_orders, 0) AS n_orders,
           coalesce(mo.cents, 0) / 100.0 AS total_price
    FROM spine s LEFT JOIN monthly mo ON strftime(s.m, '%Y-%m') = mo.month
    """,
)
def q73_gap_filled_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled monthly time series via a RECURSIVE CTE month spine
    (Spark 4's WITH RECURSIVE / UnionLoop), left-joined against the monthly
    aggregate so empty months surface as explicit zero rows — the classic
    reporting shape a plain GROUP BY (q13) cannot produce.  The spine is a
    fixed ~84-row driver-side-free recursion (UnionLoop, depth under the
    default cteRecursionLevelLimit); the ~84-group monthly aggregate
    broadcasts into the left join (BuildRight in the round-1 plan dump), so
    the only wide exchange is the aggregate's.  Money on the integer-cent lattice
    as usual (see _money_cents_units).  SQL surface delegation per SURVEY
    §2.5 (duck.go:180,195 — the engine executes whatever SQL it's handed)."""
    from bigquack_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        WITH RECURSIVE spine(m) AS (
          SELECT DATE '1992-01-01'
          UNION ALL
          SELECT add_months(m, 1) FROM spine WHERE m < DATE '1998-12-01'
        ),
        monthly AS (
          SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
                 CAST(count(*) AS BIGINT) AS n_orders,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM orders
          GROUP BY 1
        )
        SELECT date_format(s.m, 'yyyy-MM') AS month,
               coalesce(mo.n_orders, CAST(0 AS BIGINT)) AS n_orders,
               coalesce(mo.cents, CAST(0 AS BIGINT)) / CAST(100 AS DOUBLE) AS total_price
        FROM spine s LEFT JOIN monthly mo ON date_format(s.m, 'yyyy-MM') = mo.month
    """)


@query(
    "q76_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q76_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with a join-side residual predicate, then
    a double aggregation (orders per customer, customers per order-count).
    count(col) skips the NULLs the outer join manufactures, so no-order
    customers land in the c_count=0 bucket on both engines.  At scale the
    first shuffle (custkey) carries the weight; the second groups ~100
    distinct counts and collapses map-side.  The filter rides ON the join
    clause, not WHERE — pushing it to WHERE would silently drop the
    no-order customers the query exists to count."""
    c = t(spark, sf_dir, "customer", columns=["c_custkey"])
    o = t(spark, sf_dir, "orders", columns=["o_custkey", "o_orderkey", "o_orderpriority"])
    o = o.filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
    )


@query(
    "q77_promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                       THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                       ELSE 0 END) AS BIGINT)
             / CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT),
             6) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-02-01'
    """,
)
def q77_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio (CASE inside sum) over
    a month of lineitem joined to part.  part broadcasts; the shipdate
    window is pushed to the scan; the whole query is one scan + one
    zero-key aggregate.  Numerator and denominator are summed on the exact
    integer cent-x-percent lattice, so both engines divide the SAME two
    BIGINTs — the only float op is one final division, which is
    deterministic given identical operands."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part", columns=["p_partkey", "p_type"])
    units = _money_cents_units()
    return (
        l.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-02-01")))
        )
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", units).otherwise(F.lit(0))).cast("long")
                / F.sum(units).cast("long"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q78_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS units
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.units / 10000.0 AS total_revenue
    FROM revenue r JOIN supplier s ON s.s_suppkey = r.supplier_no
    WHERE r.units = (SELECT max(units) FROM revenue)
    """,
)
def q78_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate, then keep the group(s) equal to the MAX
    over the aggregate (the reference view + scalar-subquery pattern).  The
    scalar max travels as a broadcast cross join against the per-supplier
    aggregate — no second scan of lineitem, no window over a single
    partition.  The equality test runs on exact BIGINT revenue units;
    floats only appear in the final display division."""
    l = t(spark, sf_dir, "lineitem")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_money_cents_units()).cast("bigint").alias("units"))
    )
    top = rev.agg(F.max("units").alias("max_units"))
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_name"])
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("units") == F.col("max_units"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("units") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


@query(
    "q79_small_order_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 / 700.0, 4) AS avg_yearly_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_partkey
    ) pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_type = 'ECONOMY' AND p.p_size < 15
      AND CAST(round(l.l_quantity) AS BIGINT) * 5 * pa.n_lines < pa.sum_qty
    """,
)
def q79_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar-aggregate subquery (quantity below
    20% of the part's average) decorrelated into an aggregate-then-join.
    The threshold test qty < 0.2 * avg is algebraically rewritten to
    qty * 5 * count < sum — all BIGINT, so the boundary can't flip on a
    1-ulp float difference between engines.  part filter broadcasts; the
    per-part aggregate joins on partkey (the natural co-location key: with
    both sides bucketed by partkey this is exchange-free)."""
    l = t(spark, sf_dir, "lineitem")
    p = t(
        spark, sf_dir, "part",
        predicate="p_type = 'ECONOMY' AND p_size < 15",
        columns=["p_partkey"],
    )
    pa = (
        l.groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).cast("bigint").alias("sum_qty"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .withColumnRenamed("l_partkey", "pa_partkey")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pa, l.l_partkey == pa.pa_partkey)
        .filter(
            F.round(F.col("l_quantity")).cast("bigint") * 5 * F.col("n_lines")
            < F.col("sum_qty")
        )
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).cast("bigint")
                / F.lit(700.0),
                4,
            ).alias("avg_yearly_cents")
        )
    )


@query(
    "q80_large_volume_customers",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_totalprice, big.sum_qty
    FROM (
      SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 250
    ) big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q80_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a big aggregate feeding joins (the
    original's IN-subquery, decorrelated to aggregate->filter->join).  The
    orderkey aggregate is the one wide shuffle; the surviving ~1% of orders
    then join orders (same key — co-located after the agg) and broadcast
    customer.  Top-k by price with the orderkey as the unique tiebreaker,
    TakeOrderedAndProject physically."""
    l = t(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_quantity"])
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).cast("bigint").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"])
    c = t(spark, sf_dir, "customer", columns=["c_custkey", "c_name"])
    return (
        big.join(o, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "q81_sole_late_shipper",
    oracle="""
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp
      FROM lo GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM lo
    JOIN per_order po ON po.l_orderkey = lo.l_orderkey
    JOIN supplier s ON s.s_suppkey = lo.l_suppkey
    WHERE lo.late = 1 AND po.n_supp > 1 AND po.n_late_supp = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def q81_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: lateness = shipped >90 days after order
    since this dataset has no commitdate): suppliers who were the ONLY late
    shipper on a multi-supplier finished order.  The original's
    EXISTS / NOT EXISTS self-joins are decorrelated into one per-order
    aggregate (distinct suppliers, distinct late suppliers) joined back on
    the orderkey — lineitem is scanned once, not three times, and both the
    aggregate and the join share the orderkey shuffle (one exchange, AQE
    co-locates the rest).  supplier broadcasts into the final count."""
    l = t(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_suppkey", "l_shipdate"])
    o = t(
        spark, sf_dir, "orders",
        predicate="o_orderstatus = 'F'",
        columns=["o_orderkey", "o_orderdate"],
    )
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_name"])
    lo = (
        l.join(o, o.o_orderkey == l.l_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
            .cast("int")
            .alias("late"),
        )
    )
    per_order = lo.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("n_late_supp"),
    )
    return (
        lo.filter(F.col("late") == 1)
        .join(per_order, F.col("po_orderkey") == F.col("l_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@query(
    "q82_nation_value_share",
    oracle="""
    WITH nv AS (
      SELECT n.n_name AS nation,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS units
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name
    )
    SELECT nation, units / 10000.0 AS value
    FROM nv
    WHERE units * 20 > (SELECT CAST(sum(units) AS BIGINT) FROM nv)
    """,
)
def q82_nation_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted to supplier nations — this dataset has no
    partsupp): per-group value filtered by a HAVING against a scalar
    aggregate of the SAME aggregate (groups holding >5% of global value).
    The share test is integer cross-multiplication (units * 20 > total), so
    no float threshold can flip between engines.  The global total is a
    second aggregation OVER THE GROUPS (25 rows), not a rescan — it rides
    back in as a broadcast cross join."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    n = t(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    nv = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_money_cents_units()).cast("bigint").alias("units"))
    )
    total = nv.agg(F.sum("units").cast("bigint").alias("total_units"))
    return (
        nv.crossJoin(F.broadcast(total))
        .filter(F.col("units") * 20 > F.col("total_units"))
        .select("nation", (F.col("units") / F.lit(10000.0)).alias("value"))
    )


_Q87_SD_QTY = (
    "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1))"
)
_Q87_VAR_PRICE = (
    "(CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) / n) / (n - 1) / 10000.0"
)
_Q87_CORR = (
    "(CAST(u AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(t1 AS DOUBLE) / n)"
    " / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)"
    " * (CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) / n))"
)
_Q87_COVAR = (
    "(CAST(u AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(t1 AS DOUBLE) / n) / (n - 1) / 100.0"
)
_Q87_SKEW = (
    "(CAST(s3 AS DOUBLE) / n - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)"
    " + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))"
    " / power(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 1.5)"
)


@query(
    "q87_statistical_profile",
    oracle=f"""
    SELECT l_returnflag, n,
           {_Q87_SD_QTY} AS sd_qty,
           {_Q87_VAR_PRICE} AS var_price,
           {_Q87_CORR} AS qty_price_corr,
           {_Q87_COVAR} AS qty_price_covar,
           {_Q87_SKEW} AS skew_qty
    FROM (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             sum(q) AS s1,
             sum(q * q) AS s2,
             sum(q * q * q) AS s3,
             sum(p) AS t1,
             sum(p * p) AS t2,
             sum(q * p) AS u
      FROM (SELECT l_returnflag,
                   CAST(round(l_quantity) AS BIGINT) AS q,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS p
            FROM lineitem)
      GROUP BY l_returnflag
    )
    """,
)
def q87_statistical_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical profile per return flag — stddev / variance / correlation
    / covariance / skewness, ALL rebuilt from exact integer power sums
    rather than the float built-in aggregates.  The built-ins accumulate in
    engine-specific orders, so their ~1e-15 relative drift crosses the
    9-sig-digit canon boundary on decimal-lattice money data (the round-1
    driver red).  Here every aggregate is an exact integer sum over
    integerized operands (quantity units q, price cents p); the final
    statistics are then IDENTICAL IEEE expressions over identical integer
    operands on both engines (the expression strings are shared constants,
    interpolated into the oracle SQL verbatim), so the doubles are
    bit-identical.  Sums accumulate in DECIMAL(38,0) on the Spark side /
    HUGEINT in DuckDB — sum(p*p) ~ 1e14 x rows overflows BIGINT past
    ~100k rows/group, so the 128-bit accumulator is what makes this shape
    survive a 100 TB group.  var/covar divide by 1e4 / 1e2 once at the end
    to undo the cents scaling (corr and skew are scale-invariant)."""
    li = t(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity")).cast("bigint")
    p = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    dec = "decimal(38,0)"
    grouped = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q.cast(dec)).alias("s1"),
        F.sum((q * q).cast(dec)).alias("s2"),
        F.sum((q * q * q).cast(dec)).alias("s3"),
        F.sum(p.cast(dec)).alias("t1"),
        F.sum((p * p).cast(dec)).alias("t2"),
        F.sum((q * p).cast(dec)).alias("u"),
    )
    return grouped.select(
        "l_returnflag",
        "n",
        F.expr(_Q87_SD_QTY).alias("sd_qty"),
        F.expr(_Q87_VAR_PRICE).alias("var_price"),
        F.expr(_Q87_CORR).alias("qty_price_corr"),
        F.expr(_Q87_COVAR).alias("qty_price_covar"),
        F.expr(_Q87_SKEW).alias("skew_qty"),
    )


@query(
    "q88_table_reconciliation",
    oracle="""
    WITH b AS (
      SELECT *, CAST('0x' || substr(md5('recon|' || CAST(c_custkey AS VARCHAR)), 1, 6)
                     AS BIGINT) % 100 AS bkt
      FROM customer
    ),
    rt AS (
      SELECT c_custkey,
             c_name,
             CASE WHEN bkt < 2 THEN c_acctbal + 1.0 ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM b WHERE bkt >= 2 OR bkt < 2
    ),
    rt2 AS (SELECT * FROM rt WHERE c_custkey NOT IN
              (SELECT c_custkey FROM b WHERE bkt >= 2 AND bkt < 4)
            UNION ALL
            SELECT c_custkey + 1000000, c_name, c_acctbal, c_mktsegment
            FROM b WHERE bkt = 4),
    lt AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
    j AS (
      SELECT coalesce(l.c_custkey, r.c_custkey) AS c_custkey,
             CASE WHEN r.c_custkey IS NULL THEN 'left_only'
                  WHEN l.c_custkey IS NULL THEN 'right_only'
                  WHEN l.c_name IS DISTINCT FROM r.c_name
                    OR l.c_acctbal IS DISTINCT FROM r.c_acctbal
                    OR l.c_mktsegment IS DISTINCT FROM r.c_mktsegment THEN 'differs'
             END AS status,
             (CAST(l.c_name IS DISTINCT FROM r.c_name AS INTEGER)
              + CAST(l.c_acctbal IS DISTINCT FROM r.c_acctbal AS INTEGER)
              + CAST(l.c_mktsegment IS DISTINCT FROM r.c_mktsegment AS INTEGER)) AS nd
      FROM lt l FULL OUTER JOIN rt2 r ON l.c_custkey = r.c_custkey
    )
    SELECT c_custkey, status,
           CAST(CASE WHEN status = 'differs' THEN nd ELSE 0 END AS BIGINT) AS n_cols_differ
    FROM j WHERE status IS NOT NULL
    """,
)
def q88_table_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-level reconciliation of a transfer (the check the reference's
    row-count log line, bigquack.go:127-137, cannot do): diff the customer
    table against a deterministically mutated copy — 2% value-bumped
    (differs), 2% dropped (left_only), 1% re-keyed (right_only) — and emit
    one row per discrepancy via operators/reconcile.table_diff.  The
    mutation rule is an md5 bucket, so both engines manufacture the
    identical 'corrupted replica' and must report the identical diff."""
    from bigquack_spark.operators.reconcile import table_diff

    cols = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
    left = t(spark, sf_dir, "customer").select(*cols)
    bkt = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("recon|"), F.col("c_custkey").cast("string"))), 1, 6),
            16, 10,
        ).cast("bigint") % 100
    )
    b = left.withColumn("bkt", bkt)
    mutated = b.withColumn(
        "c_acctbal",
        F.when(F.col("bkt") < 2, F.col("c_acctbal") + 1.0).otherwise(F.col("c_acctbal")),
    )
    right = (
        mutated.filter(~((F.col("bkt") >= 2) & (F.col("bkt") < 4)))
        .select(*cols)
        .unionAll(
            b.filter(F.col("bkt") == 4).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                "c_name", "c_acctbal", "c_mktsegment",
            )
        )
    )
    return table_diff(left, right, ["c_custkey"])


@query(
    "q89_supplier_diversity",
    oracle="""
    SELECT p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_size IN (5, 10, 15, 20)
      AND p.p_brand NOT IN (SELECT DISTINCT p_brand FROM part WHERE p_size = 50)
    GROUP BY p.p_type, p.p_size
    """,
)
def q89_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT) per group with an IN filter and a
    NOT IN (subquery) exclusion.  The exclusion list is a tiny distinct
    set -> broadcast anti join (NOT IN with no NULLs degenerates to anti
    semantics); part broadcasts into lineitem so the fact side's only
    shuffle is the distinct-count aggregate, which Spark runs as a two-level
    expand+agg (partial per (group, suppkey), then final count)."""
    p = t(spark, sf_dir, "part", columns=["p_partkey", "p_type", "p_size", "p_brand"])
    p = p.filter(F.col("p_size").isin(5, 10, 15, 20))
    excluded = (
        t(spark, sf_dir, "part", predicate="p_size = 50", columns=["p_brand"])
        .select(F.col("p_brand").alias("x_brand"))
        .distinct()
    )
    p = p.join(
        F.broadcast(excluded), p.p_brand == F.col("x_brand"), "left_anti"
    )
    l = t(spark, sf_dir, "lineitem", columns=["l_partkey", "l_suppkey"])
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"))
    )


@query(
    "q90_event_anomalies",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events
      GROUP BY event_type, CAST(ts AS DATE)
    ),
    scored AS (
      SELECT event_type, day, n,
             avg(CAST(n AS DOUBLE)) OVER w AS mu,
             stddev_samp(CAST(n AS DOUBLE)) OVER w AS sigma
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, n, round(mu, 6) AS mu,
           round((CAST(n AS DOUBLE) - mu) / sigma, 4) AS z
    FROM scored
    WHERE sigma > 0 AND abs((CAST(n AS DOUBLE) - mu) / sigma) > 2.0
    """,
)
def q90_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed anomaly detection: each (event_type, day) volume scored
    against the trailing 6-day window's mean/stddev (the window EXCLUDES the
    current row — a self-inclusive baseline masks the very spikes it should
    flag).  One shuffle on event_type; the frame is a bounded ROWS window,
    so state per group is 6 rows regardless of history length.  The z
    threshold compares doubles derived from identical integer day-counts on
    both engines."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, -1)
    )
    nd = F.col("n").cast("double")
    scored = daily.select(
        "event_type", "day", "n",
        F.avg(nd).over(w).alias("mu"),
        F.stddev_samp(nd).over(w).alias("sigma"),
    )
    z = (nd - F.col("mu")) / F.col("sigma")
    return (
        scored.filter((F.col("sigma") > 0) & (F.abs(z) > 2.0))
        .select(
            "event_type", "day", "n",
            F.round("mu", 6).alias("mu"),
            F.round(z, 4).alias("z"),
        )
    )


@query(
    "q91_excess_shippers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      GROUP BY l_suppkey
      HAVING 6 * sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                           AND l_shipdate < TIMESTAMP '1998-01-01'
                          THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END)
             > sum(CAST(round(l_quantity) AS BIGINT))
    )
    """,
)
def q91_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: doubly-nested IN subqueries (suppliers -> part-supp
    activity -> part filter) decorrelated Spark-first.  The inner part
    filter is a broadcast semi join on the fact scan; the (supp, part)
    aggregate computes BOTH the windowed and all-time quantity in one pass
    (conditional sum — no second scan, no self-join); the outer IN is a
    left-semi join of the tiny supplier dim against the distinct qualifying
    suppkeys.  The 2x threshold is integer cross-multiplication: no float
    boundary."""
    part_promo = t(spark, sf_dir, "part", predicate="p_type = 'PROMO'",
                   columns=["p_partkey"])
    l = t(spark, sf_dir, "lineitem",
          columns=["l_suppkey", "l_partkey", "l_quantity", "l_shipdate"])
    q = F.round(F.col("l_quantity")).cast("bigint")
    in97 = (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01"))) & (
        F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    qualifying = (
        l.join(F.broadcast(part_promo), l.l_partkey == part_promo.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(in97, q).otherwise(F.lit(0))).alias("qty97"),
            F.sum(q).alias("qty_all"),
        )
        .filter(F.lit(6) * F.col("qty97") > F.col("qty_all"))
        .select("l_suppkey")
    )
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_name"])
    return s.join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")


@query(
    "q92_market_share",
    oracle="""
    SELECT o_year,
           CAST(target_units AS BIGINT) AS target_units,
           CAST(total_units AS BIGINT) AS total_units,
           round(CAST(target_units AS DOUBLE) / total_units, 6) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             sum(CASE WHEN n.n_name = 'NATION_7'
                      THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                      ELSE 0 END) AS target_units,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS total_units
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
      GROUP BY year(o.o_orderdate)
    )
    """,
)
def q92_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's revenue share within its region per
    year.  The share is a conditional-sum ratio computed in ONE aggregate
    over one join tree (the textbook plan unions two scans); supplier,
    nation, region broadcast; the orders join is the only wide exchange.
    Numerator and denominator ride the exact integer cent lattice; the
    final division divides identical BIGINTs on both engines."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate"])
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    n = t(spark, sf_dir, "nation", columns=["n_nationkey", "n_name", "n_regionkey"])
    r = t(spark, sf_dir, "region", predicate="r_name = 'ASIA'",
          columns=["r_regionkey"])
    units = _money_cents_units()
    return (
        l.join(o, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(s), s.s_suppkey == l.l_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey, "left_semi")
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_7", units).otherwise(F.lit(0)))
            .cast("bigint").alias("target_units"),
            F.sum(units).cast("bigint").alias("total_units"),
        )
        .select(
            "o_year", "target_units", "total_units",
            F.round(F.col("target_units").cast("double") / F.col("total_units"), 6)
            .alias("mkt_share"),
        )
    )


@query(
    "q95_unpivot_quality_metrics",
    oracle="""
    SELECT l_returnflag, metric, val
    FROM (
      SELECT l_returnflag,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
      FROM lineitem GROUP BY l_returnflag
    )
    UNPIVOT (val FOR metric IN (total_qty, n_lines, n_parts))
    """,
)
def q95_unpivot_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT surface: wide per-group metrics melted to (group, metric,
    value) long form — the shape metric stores and quality dashboards
    ingest.  Spark side is the native ``DataFrame.unpivot`` (melt); the
    aggregate's one shuffle dominates, the melt is a projection."""
    li = t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.round(F.col("l_quantity")).cast("bigint")).cast("bigint").alias("total_qty"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["total_qty", "n_lines", "n_parts"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "q106_footer_stats",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           min(l_orderkey) AS min_l_orderkey, max(l_orderkey) AS max_l_orderkey,
           min(l_extendedprice) AS min_l_extendedprice,
           max(l_extendedprice) AS max_l_extendedprice
    FROM lineitem
    """,
)
def q106_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only table statistics: COUNT/MIN/MAX served from parquet
    footer stats via DSv2 aggregate pushdown (sources/stats.table_stats;
    `PushedAggregation` in the plan).  At 100 TB this reads file footers,
    not data pages — the profiling query that costs a full scan on the
    v1 path costs a metadata sweep here.  DuckDB answers from the same
    footer stats, so the oracle doubles as a cross-check that neither
    engine's stats shortcut drifts from the true values."""
    from bigquack_spark.sources.stats import table_stats

    return table_stats(
        spark, f"{sf_dir}/lineitem.parquet", ["l_orderkey", "l_extendedprice"]
    )


@query(
    "q114_brand_momentum",
    oracle="""
    WITH monthly AS (
      SELECT p.p_brand,
             strftime(CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP),
                      '%Y-%m') AS month_key,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS rev_units
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, month_key
    )
    SELECT p_brand, month_key,
           rev_units / 10000.0 AS revenue,
           (rev_units - lag(rev_units) OVER w) / 10000.0 AS mom_delta,
           CAST(rev_units - lag(rev_units) OVER w AS DOUBLE)
             / lag(rev_units) OVER w AS mom_pct
    FROM monthly
    WINDOW w AS (PARTITION BY p_brand ORDER BY month_key)
    """,
)
def q114_brand_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth (the MoM momentum shape): monthly revenue
    per brand with lag()-based absolute and relative deltas.  The series is
    aggregated BEFORE the window, so the lag runs over brand-months, not
    lineitem; revenue rides the integer-cents lattice and the pct change is
    an exact BIGINT/BIGINT division.  First month per brand yields NULLs —
    preserved, not zero-filled (q73 covers gap-filling)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    monthly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            # group/window by the truncated TIMESTAMP; format the 'yyyy-MM'
            # string on the ~brand-month output rows after the agg (q21
            # lever) — injective per month, and the lag order over the
            # timestamp equals the string order.
            F.date_trunc("month", "l_shipdate").alias("month_ts"),
        )
        .agg(F.sum(_money_cents_units()).cast("long").alias("rev_units"))
    )
    w = Window.partitionBy("p_brand").orderBy("month_ts")
    prev = F.lag("rev_units").over(w)
    return monthly.select(
        "p_brand",
        F.date_format("month_ts", "yyyy-MM").alias("month_key"),
        (F.col("rev_units") / F.lit(10000.0)).alias("revenue"),
        ((F.col("rev_units") - prev) / F.lit(10000.0)).alias("mom_delta"),
        ((F.col("rev_units") - prev).cast("double") / prev).alias("mom_pct"),
    )


@query(
    "q169_bloom_semi_join",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round((1 - l_discount) * 100) AS BIGINT))
                 / 10000.0, 2) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderpriority = '1-URGENT')
    GROUP BY s_nationkey
    """,
)
def q169_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join (the runtime-row-level-filtering shape):
    lineitem revenue by supplier nation, restricted to lines of URGENT
    orders.  operators.joins.bloom_semi_join builds a 1 Mbit / 5-probe
    xxhash64 bitmap from the urgent orderkeys with ONE key-side
    aggregation, broadcasts the single-row bitmap (128 KiB — never the
    key set), and kills non-member lineitem rows at the scan, BEFORE the
    semi-join exchange.  The trailing exact semi join makes false
    positives invisible, so the result is identical to the plain semi
    join the oracle runs.  At 100 TB this is the difference between
    shuffling every fact row and shuffling ~the selectivity fraction;
    the bitmap cost is O(|keys|) map-side.  Revenue rides the integer
    cents lattice (see _money_cents_units); supplier dim is broadcast.
    """
    from bigquack_spark.operators.joins import bloom_semi_join

    li = t(spark, sf_dir, "lineitem",
           columns=["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"])
    urgent = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"]) \
        .filter(F.col("o_orderpriority") == "1-URGENT") \
        .select(F.col("o_orderkey"))
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    kept = bloom_semi_join(li, "l_orderkey", urgent, "o_orderkey")
    return (
        kept.join(F.broadcast(s), kept.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(_money_cents_units()).cast("long") / F.lit(10000.0), 2).alias("revenue"),
        )
    )


@query(
    "q174_metric_unpivot",
    oracle="""
    WITH cagg AS (
      SELECT c_nationkey AS nk,
             CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS custbal_cents
      FROM customer GROUP BY c_nationkey
    ),
    sagg AS (
      SELECT s_nationkey AS nk,
             CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers
      FROM supplier GROUP BY s_nationkey
    ),
    wide AS (
      SELECT n.n_name,
             coalesce(c.n_customers, 0) AS n_customers,
             coalesce(s.n_suppliers, 0) AS n_suppliers,
             coalesce(c.custbal_cents, 0) AS custbal_cents
      FROM nation n
      LEFT JOIN cagg c ON c.nk = n.n_nationkey
      LEFT JOIN sagg s ON s.nk = n.n_nationkey
    )
    SELECT n_name, metric, value FROM (
      SELECT n_name, 'n_customers' AS metric, n_customers AS value FROM wide
      UNION ALL
      SELECT n_name, 'n_suppliers', n_suppliers FROM wide
      UNION ALL
      SELECT n_name, 'custbal_cents', custbal_cents FROM wide
    )
    """,
)
def q174_metric_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the wide->long reshape the §2.5 surface needs as
    the inverse of q16's pivot: per-nation metrics unpivoted to
    (nation, metric, value) rows with the native ``DataFrame.unpivot``
    (Spark's Unpivot logical node — a zero-shuffle projection that emits
    one row per metric, NOT a join).  Distinct-counts are computed
    per-dimension before reshaping; the balance metric rides the integer
    cents lattice so a BIGINT value column serves all three metrics.
    The oracle replays the reshape as UNION ALL — semantically identical
    and portable.  At scale: unpivot multiplies rows by the metric count
    in the map stage only; nothing shuffles twice."""
    n = t(spark, sf_dir, "nation", columns=["n_nationkey", "n_name"])
    c = t(spark, sf_dir, "customer", columns=["c_custkey", "c_nationkey", "c_acctbal"])
    s = t(spark, sf_dir, "supplier", columns=["s_suppkey", "s_nationkey"])
    cagg = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count_distinct("c_custkey").alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("custbal_cents"),
    )
    sagg = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count_distinct("s_suppkey").alias("n_suppliers")
    )
    wide = (
        n.join(cagg, n.n_nationkey == cagg.nk, "left")
        .join(sagg, n.n_nationkey == sagg.nk, "left")
        .select(
            "n_name",
            F.coalesce("n_customers", F.lit(0)).cast("long").alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).cast("long").alias("n_suppliers"),
            F.coalesce("custbal_cents", F.lit(0)).cast("long").alias("custbal_cents"),
        )
    )
    return wide.unpivot(
        ids=["n_name"],
        values=["n_customers", "n_suppliers", "custbal_cents"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "q175_mode_percentile_disc",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS qty,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
             CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      FROM lineitem
    ),
    modes AS (
      SELECT l_returnflag,
             arg_min(qty, printf('%019d%019d', 100000000000000000 - cnt, qty)) AS mode_qty
      FROM (
        SELECT l_returnflag, qty, CAST(count(*) AS BIGINT) AS cnt
        FROM ranked GROUP BY l_returnflag, qty
      )
      GROUP BY l_returnflag
    )
    SELECT r.l_returnflag,
           max(m.mode_qty) AS mode_qty,
           max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN qty END) AS p50_disc,
           max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN qty END) AS p90_disc
    FROM ranked r JOIN modes m USING (l_returnflag)
    GROUP BY r.l_returnflag
    """,
)
def q175_mode_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE and DISCRETE percentiles (the §2.5 ordered-set
    aggregate gap): per return flag, the most frequent quantity and the
    p50/p90 values that EXIST in the data (percentile_disc semantics:
    the rn == ceil(p*n) order statistic), not interpolations.  Native
    engine mode()/percentile_disc() tie-break and interpolation rules
    differ across engines, so BOTH sides evaluate the same explicit
    definition: mode = arg-min over (-count, value) — ties go to the
    smallest value — and the order statistic uses a total order with
    (orderkey, linenumber) tiebreak.  One l_returnflag shuffle serves the
    ranking window, the count window, and the final aggregate; quantities
    are exact BIGINTs on both engines."""
    li = t(spark, sf_dir, "lineitem",
           columns=["l_returnflag", "l_quantity", "l_orderkey", "l_linenumber"])
    qty = li.select("l_returnflag", F.col("l_quantity").cast("long").alias("qty"),
                    "l_orderkey", "l_linenumber")
    wr = Window.partitionBy("l_returnflag").orderBy("qty", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("l_returnflag")
    ranked = qty.select(
        "l_returnflag", "qty",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    modes = (
        ranked.groupBy("l_returnflag", "qty").agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("l_returnflag")
        .agg(
            F.min_by(
                F.col("qty"),
                F.format_string("%019d%019d", F.lit(100000000000000000) - F.col("cnt"), F.col("qty")),
            ).alias("mode_qty")
        )
    )
    stats = ranked.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")), F.col("qty"))).alias("p50_disc"),
        F.max(F.when(F.col("rn") == F.ceil(F.lit(0.9) * F.col("n")), F.col("qty"))).alias("p90_disc"),
    )
    return stats.join(modes, "l_returnflag").select(
        "l_returnflag", "mode_qty", "p50_disc", "p90_disc"
    )


@query(
    "q250_join_ivm",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q250_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the sibling q212's
    single-table rollup lacks: the orders x lineitem revenue-per-priority
    view is maintained from deltas on BOTH base tables via the bilinear
    decomposition (O_old ∪ ΔO) ⋈ (L_old ∪ ΔL) =
    O_old⋈L_old ∪ ΔO⋈L_old ∪ O_old⋈ΔL ∪ ΔO⋈ΔL (the four terms are
    disjoint, so their partial aggregates merge algebraically).  The
    deltas are deterministic md5-free integer splits chosen so all three
    delta terms are NON-empty (lineitem's split intentionally misaligns
    with orders' — late-arriving lines exercise the O_old⋈ΔL term).  The
    oracle is the FULL recomputed join aggregate, so the hash-match is
    the join-IVM theorem verified on real data, on the exact cents
    lattice where merging is bitwise.  At 100 TB: the daily cost is
    three delta-sized joins (ΔO⋈L_old prunes L_old by the delta's key
    set — a broadcast semi-join or bucketed-layout lookup, never a
    history rescan) plus one view-sized merge shuffle; the full-view
    recompute this replaces is the orders⋈lineitem shuffle the bucketed
    layout removes (priced at the 100x tier in round 4)."""
    from bigquack_spark.operators.ivm import merge_agg_partials

    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"])
    li = t(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"],
    )
    o_old = o.filter(F.col("o_orderkey") % 10 < 8)
    o_new = o.filter(F.col("o_orderkey") % 10 >= 8)
    l_split = (F.col("l_orderkey") + F.col("l_linenumber")) % 10 < 8
    l_old = li.filter(l_split)
    l_new = li.filter(~l_split)

    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")

    def partial(orders_df, lines_df):
        return (
            lines_df.join(
                orders_df, F.col("l_orderkey") == F.col("o_orderkey")
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.sum(cents).cast("long").alias("revenue_cents"),
            )
        )

    view_old = partial(o_old, l_old)          # yesterday's materialized view
    delta_terms = [
        partial(o_new, l_old),                # new orders x existing lines
        partial(o_old, l_new),                # late-arriving lines x old orders
        partial(o_new, l_new),                # new x new
    ]
    merged = merge_agg_partials(
        [view_old, *delta_terms],
        keys=["o_orderpriority"],
        spec={"n_items": "count", "revenue_cents": "sum"},
    )
    return merged.select(
        "o_orderpriority",
        F.col("n_items").cast("long").alias("n_items"),
        F.col("revenue_cents").cast("long").alias("revenue_cents"),
    )


_LATERAL_TOPN_SQL = """
    SELECT n.n_name, c.c_name, round(c.c_acctbal, 2) AS acctbal
    FROM {nation} n, LATERAL (
      SELECT c_name, c_acctbal FROM {customer}
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) c
"""


@query(
    "q251_lateral_topn",
    oracle=_LATERAL_TOPN_SQL.format(nation="nation", customer="customer"),
)
def q251_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    top-N-per-group idiom written the way an analyst migrating SQL writes
    it, exercised as delegated-SQL surface (SURVEY §2.5, the q216
    precedent: the reference accepts whatever SQL the engine accepts, and
    Spark 4 accepts correlated LATERAL).  The SQL text is IDENTICAL on
    both engines modulo table names.  Catalyst rewrites the correlated
    limit into the same window-rank shape q07 declares directly (one
    shuffle on the correlation key, rank, filter) — asserting users don't
    pay a nested-loop penalty for writing the lateral form."""
    t(spark, sf_dir, "nation").createOrReplaceTempView("q251_nation")
    t(spark, sf_dir, "customer").createOrReplaceTempView("q251_customer")
    return spark.sql(
        _LATERAL_TOPN_SQL.format(nation="q251_nation", customer="q251_customer")
    )


@query(
    "q276_cdc_completeness",
    oracle="""
WITH shards AS (
  SELECT o_orderkey % 8 AS shard, o_orderkey AS seq FROM orders
),
per AS (
  SELECT CAST(shard AS INTEGER) AS shard,
         CAST(count(*) AS BIGINT) AS n_seen,
         CAST(min(seq) AS BIGINT) AS lo, CAST(max(seq) AS BIGINT) AS hi
  FROM shards GROUP BY shard
)
SELECT shard, n_seen, lo, hi,
       CAST((hi - lo) // 8 + 1 AS BIGINT) AS n_expected,
       CAST((hi - lo) // 8 + 1 - n_seen AS BIGINT) AS n_missing,
       (hi - lo) // 8 + 1 = n_seen AS complete
FROM per
""",
)
def q276_cdc_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC completeness audit: a change feed sharded by key (8 shards,
    key % 8) must deliver a contiguous per-shard sequence — the consumer's
    only cheap invariant.  Per shard: rows seen vs the count implied by
    the (min, max) sequence envelope; any shortfall is silently dropped
    changes (the reference's serial pump, bigquack.go:114-117, drops
    nothing but also checks nothing).  Scale shape: one groupBy on the
    shard key — count/min/max all come from map-side partials, so the
    exchange carries 8 rows regardless of feed size; the synthetic orders
    keyspace is dense per shard, so the audit reports complete=true, and
    any gap the generator ever grows would pin a nonzero n_missing."""
    o = t(spark, sf_dir, "orders", columns=["o_orderkey"])
    per = (
        o.select((F.col("o_orderkey") % 8).alias("shard"), F.col("o_orderkey").alias("seq"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.min("seq").alias("lo"),
            F.max("seq").alias("hi"),
        )
    )
    n_expected = ((F.col("hi") - F.col("lo")) / 8).cast("long") + 1
    return per.select(
        F.col("shard").cast("int").alias("shard"),
        F.col("n_seen").cast("long").alias("n_seen"),
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        n_expected.cast("long").alias("n_expected"),
        (n_expected - F.col("n_seen")).cast("long").alias("n_missing"),
        (n_expected == F.col("n_seen")).alias("complete"),
    )


@query(
    "q277_sample_stratified_alloc",
    oracle="""
WITH strata AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT) * CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) AS s2
  FROM customer GROUP BY c_mktsegment
),
sd AS (
  SELECT c_mktsegment, n_h,
         sqrt(greatest(s2 / n_h - (s1 / n_h) * (s1 / n_h), 0.0)) / 100.0 AS sd_h
  FROM strata
)
SELECT c_mktsegment, n_h, round(sd_h, 6) AS sd_acctbal,
       round(n_h * sd_h / SUM(n_h * sd_h) OVER (), 6) AS neyman_share,
       CAST(floor(1000 * n_h * sd_h / SUM(n_h * sd_h) OVER ()) AS BIGINT)
         AS alloc_of_1000
FROM sd
""",
)
def q277_sample_stratified_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation for stratified sampling: sample budget per
    stratum proportional to N_h x S_h (stratum size x stddev) — the
    allocation that minimizes estimator variance for a fixed budget, the
    design step before any down-sampled training run.  Stddev comes from
    integer power sums on cents (the q87/q260 exact-cross-engine rule:
    decimal-safe integer products, sums cast to double, ONE shared
    expression) so Spark and DuckDB agree bit-for-bit.  Scale shape: one
    scan, map-side partial sums, a 5-row exchange, 1-row window total."""
    c = t(spark, sf_dir, "customer", columns=["c_mktsegment", "c_acctbal"])
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    strata = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(cents.cast("decimal(19,0)")).cast("double").alias("s1"),
        F.sum((cents.cast("decimal(19,0)") * cents.cast("decimal(19,0)"))).cast("double").alias("s2"),
    )
    sd_h = (
        F.sqrt(
            F.greatest(
                F.col("s2") / F.col("n_h")
                - (F.col("s1") / F.col("n_h")) * (F.col("s1") / F.col("n_h")),
                F.lit(0.0),
            )
        )
        / 100.0
    )
    w_all = Window.partitionBy()
    sd = strata.select(
        "c_mktsegment", F.col("n_h").cast("long").alias("n_h"), sd_h.alias("sd_h")
    )
    weight = F.col("n_h") * F.col("sd_h")
    return sd.select(
        "c_mktsegment",
        "n_h",
        F.round(F.col("sd_h"), 6).alias("sd_acctbal"),
        F.round(weight / F.sum(weight).over(w_all), 6).alias("neyman_share"),
        F.floor(1000 * weight / F.sum(weight).over(w_all)).cast("long").alias("alloc_of_1000"),
    )


@query(
    "q279_join_skew_probe",
    oracle="""
WITH freq AS (
  SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_suppkey
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(max(n) AS BIGINT) AS max_key_rows
  FROM freq
)
SELECT n_keys, n_rows, max_key_rows,
       round(max_key_rows * n_keys / CAST(n_rows AS DOUBLE), 6) AS skew_factor,
       max_key_rows * n_keys >= 2 * n_rows AS needs_salting,
       CAST(CASE WHEN max_key_rows * n_keys >= 2 * n_rows
                 THEN least(32, (max_key_rows * n_keys) // n_rows)
                 ELSE 1 END AS BIGINT) AS suggested_salt
FROM stats
""",
)
def q279_join_skew_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew probe — the pre-flight a 100 TB join planner runs
    before picking a strategy: per-key frequency of the join column, the
    hottest key's share vs the uniform expectation (skew_factor =
    max_key_rows / mean_rows_per_key), and a suggested salting fan-out
    when the hot key exceeds 2x uniform (capped at 32, the
    operators.joins.salted_join contract).  This is the measured
    decision input behind the 100x skew-mitigation measurement (round
    4).  Scale shape: one groupBy (map-side combine), then a 1-row aggregate —
    the probe's exchange carries one row per distinct key, never data."""
    li = t(spark, sf_dir, "lineitem", columns=["l_suppkey"])
    freq = li.groupBy(F.col("l_suppkey").alias("key")).agg(F.count(F.lit(1)).alias("n"))
    stats = freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
    )
    hot = F.col("max_key_rows") * F.col("n_keys")
    return stats.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("max_key_rows").cast("long").alias("max_key_rows"),
        F.round(hot / F.col("n_rows").cast("double"), 6).alias("skew_factor"),
        (hot >= 2 * F.col("n_rows")).alias("needs_salting"),
        F.when(hot >= 2 * F.col("n_rows"), F.least(F.lit(32), (hot / F.col("n_rows")).cast("long")))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("suggested_salt"),
    )


@query(
    "q281_gdpr_erasure_impact",
    oracle="""
WITH victims AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
),
o AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers_hit
  FROM orders JOIN victims ON o_custkey = c_custkey
),
l AS (
  SELECT CAST(count(*) AS BIGINT) AS n_lineitems
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN victims ON o_custkey = c_custkey
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM victims) AS n_requests,
       n_customers_hit, n_orders, n_lineitems,
       n_orders + n_lineitems + (SELECT CAST(count(*) AS BIGINT) FROM victims)
         AS total_rows_to_erase
FROM o, l
""",
)
def q281_gdpr_erasure_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-request impact sizing (the read-side complement of
    lineage.blast_radius, which resolves AFFECTED OUTPUTS from write-side
    manifests): given a deletion cohort (custkey % 97 — a deterministic
    stand-in for the request table), count the rows each table must
    drop, fanning out customer -> orders -> lineitem along the foreign
    keys.  The operator a compliance pipeline runs BEFORE committing to a
    rewrite, to size it.  Scale shape: the victim set broadcasts (requests
    are tiny vs the tables); both fact scans stay pruned to key columns;
    counts ride map-side partials — no wide row ever moves."""
    c = t(spark, sf_dir, "customer", columns=["c_custkey"])
    victims = c.filter(F.col("c_custkey") % 97 == 0)
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    li = t(spark, sf_dir, "lineitem", columns=["l_orderkey"])
    vo = o.join(F.broadcast(victims), o.o_custkey == victims.c_custkey)
    o_stats = vo.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers_hit"),
    )
    l_stats = li.join(
        F.broadcast(vo.select("o_orderkey")), li.l_orderkey == F.col("o_orderkey")
    ).agg(F.count(F.lit(1)).alias("n_lineitems"))
    n_req = victims.agg(F.count(F.lit(1)).alias("n_requests"))
    return (
        n_req.crossJoin(o_stats)  # 1-row x 1-row scalar assembly
        .crossJoin(l_stats)
        .select(
            F.col("n_requests").cast("long").alias("n_requests"),
            F.col("n_customers_hit").cast("long").alias("n_customers_hit"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_lineitems").cast("long").alias("n_lineitems"),
            (F.col("n_orders") + F.col("n_lineitems") + F.col("n_requests"))
            .cast("long")
            .alias("total_rows_to_erase"),
        )
    )


@query(
    "q285_incremental_watermark_gap",
    oracle="""
WITH arrivals AS (
  SELECT o_orderkey,
         CAST(o_orderdate AS DATE) AS event_date,
         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 AS INTEGER) AS arrival_date
  FROM orders
),
lagged AS (
  SELECT CAST(date_trunc('month', event_date) AS DATE) AS month,
         arrival_date - event_date AS lag_days
  FROM arrivals
)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN lag_days > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       round(sum(CASE WHEN lag_days > 0 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS late_share,
       CAST(max(lag_days) AS BIGINT) AS max_lag_days,
       CAST(sum(CASE WHEN lag_days > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_past_3d_watermark
FROM lagged GROUP BY month
""",
)
def q285_incremental_watermark_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lag audit for incremental pipelines: when arrival trails
    the event date (deterministic synthetic lag: orderkey % 5 days), a
    strict high-water-mark consumer (pipeline.transfer_incremental)
    silently skips late rows.  Per month: late share, worst lag, and the
    rows a 3-day lagged-watermark window would STILL miss — the number
    that decides the re-read window a deployment must pair with the
    watermark (the transfer_incremental docstring's 'lagged predicate
    window').  Scale shape: pure projection + one groupBy month (partial
    aggregation; months are few) — no join, no wide shuffle."""
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderdate"])
    lag_days = (F.col("o_orderkey") % 5).cast("int")
    lagged = o.select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        lag_days.alias("lag_days"),
    )
    late = F.when(F.col("lag_days") > 0, 1).otherwise(0)
    return lagged.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(late).cast("long").alias("n_late"),
        F.round(F.sum(late) / F.count(F.lit(1)).cast("double"), 6).alias("late_share"),
        F.max("lag_days").cast("long").alias("max_lag_days"),
        F.sum(F.when(F.col("lag_days") > 3, 1).otherwise(0)).cast("long").alias("n_past_3d_watermark"),
    )


@query(
    "q289_fk_orphan_audit",
    oracle="""
WITH lo AS (
  SELECT CAST(count(*) AS BIGINT) AS li_rows,
         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS li_orphans
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
),
oc AS (
  SELECT CAST(count(*) AS BIGINT) AS o_rows,
         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS o_orphans
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT li_rows, li_orphans,
       round(1.0 - li_orphans / CAST(li_rows AS DOUBLE), 6) AS li_fk_coverage,
       o_rows, o_orphans,
       round(1.0 - o_orphans / CAST(o_rows AS DOUBLE), 6) AS o_fk_coverage,
       li_orphans = 0 AND o_orphans = 0 AS referentially_intact
FROM lo, oc
""",
)
def q289_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-level referential-integrity impact along the fact chain —
    q152's complement, not its repeat: q152 reports orphan KEYS per FK
    edge (how many distinct keys are broken); this reports orphan ROWS
    and the row-coverage share (how much DATA an inner join would drop —
    the blast-radius number an erasure rewrite q281 or CDC consumer q269
    needs).  One key can orphan a million rows; the two numbers diverge
    exactly when it matters.  Checked as left-join null counts so one
    pass yields both the orphan count and the coverage share.  The
    synthetic generator is FK-clean, so the audit pins intact=true; any
    future orphan surfaces as a nonzero.  Scale shape: two key-pruned
    shuffles (orders/customer keys only — at 100 TB the dimension side
    broadcasts or buckets); counts fold map-side."""
    li = t(spark, sf_dir, "lineitem", columns=["l_orderkey"])
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey"])
    c = t(spark, sf_dir, "customer", columns=["c_custkey"])
    lo = li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left").agg(
        F.count(F.lit(1)).alias("li_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("li_orphans"),
    )
    oc = o.join(c, o.o_custkey == c.c_custkey, "left").agg(
        F.count(F.lit(1)).alias("o_rows"),
        F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias("o_orphans"),
    )
    return lo.crossJoin(oc).select(  # 1-row x 1-row scalar assembly
        F.col("li_rows").cast("long").alias("li_rows"),
        F.col("li_orphans").cast("long").alias("li_orphans"),
        F.round(1.0 - F.col("li_orphans") / F.col("li_rows").cast("double"), 6).alias("li_fk_coverage"),
        F.col("o_rows").cast("long").alias("o_rows"),
        F.col("o_orphans").cast("long").alias("o_orphans"),
        F.round(1.0 - F.col("o_orphans") / F.col("o_rows").cast("double"), 6).alias("o_fk_coverage"),
        ((F.col("li_orphans") == 0) & (F.col("o_orphans") == 0)).alias("referentially_intact"),
    )


@query(
    "q290_snapshot_diff",
    oracle="""
WITH snap_a AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
),
snap_b AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT)
           + CASE WHEN o_orderkey % 11 = 0 THEN 100 ELSE 0 END AS price_cents
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000 AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders WHERE o_orderkey % 17 = 0
)
SELECT CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(sum(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
                      AND a.price_cents <> b.price_cents
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
                      AND a.price_cents = b.price_cents
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
""",
)
def q290_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-snapshot diff — the reconciliation primitive behind CDC
    validation and WAP publish gates: full-outer join two snapshot
    versions on the key and classify every row added / removed / changed
    / unchanged.  Snapshot B is derived deterministically (the q255/q262
    injection idiom: %11 price bump = changes, %13 dropped = removes,
    %17 re-keyed = adds) so both engines diff identical inputs and the
    expected nonzeros are pinned.  Prices compare on the cents lattice
    (the q87 rule).  Scale shape: ONE key-partitioned full-outer join —
    at 100 TB both snapshots bucket on the key and the diff is
    co-located, no second pass for the counts (they fold map-side)."""
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice"])
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    snap_a = o.select(F.col("o_orderkey").alias("k"), cents.alias("price_cents"))
    snap_b = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (cents + F.when(F.col("o_orderkey") % 11 == 0, 100).otherwise(0)).alias("price_cents"),
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("k"), cents.alias("price_cents")
            )
        )
    )
    a = snap_a.select(F.col("k").alias("a_k"), F.col("price_cents").alias("a_price"))
    b = snap_b.select(F.col("k").alias("b_k"), F.col("price_cents").alias("b_price"))
    j = a.join(b, a.a_k == b.b_k, "full_outer")
    both = F.col("a_k").isNotNull() & F.col("b_k").isNotNull()
    return j.agg(
        F.sum(F.when(F.col("a_k").isNull(), 1).otherwise(0)).cast("long").alias("n_added"),
        F.sum(F.when(F.col("b_k").isNull(), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.sum(F.when(both & (F.col("a_price") != F.col("b_price")), 1).otherwise(0)).cast("long").alias("n_changed"),
        F.sum(F.when(both & (F.col("a_price") == F.col("b_price")), 1).otherwise(0)).cast("long").alias("n_unchanged"),
    )


@query(
    "q294_revenue_concentration",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT rev,
         row_number() OVER (ORDER BY rev DESC, o_custkey) AS rn,
         count(*) OVER () AS n_cust,
         sum(rev) OVER () AS total
  FROM per_cust
),
cum AS (
  SELECT rn, n_cust, total,
         sum(rev) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum_rev
  FROM ranked
)
SELECT pct.p AS top_pct,
       CAST(ceil(pct.p * n_cust / 100.0) AS BIGINT) AS n_top,
       round(max(CASE WHEN rn = CAST(ceil(pct.p * n_cust / 100.0) AS BIGINT)
                      THEN cum_rev END) / CAST(max(total) AS DOUBLE), 6)
         AS revenue_share
FROM cum CROSS JOIN (SELECT unnest([1, 5, 10, 25]) AS p) pct
GROUP BY pct.p, n_cust
""",
)
def q294_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Lorenz) points: the revenue share captured
    by the top 1/5/10/25% of customers — the skew readout that drives
    both business dashboards and engineering choices (a heavy-hitter
    customer set is exactly the hot-key set q279 probes for).  Exact on
    the cents lattice; customers ranked (revenue desc, custkey) so ties
    are stable cross-engine.  Scale shape: one per-customer aggregate
    (entity-sized), one global rank/cumsum over customers (not orders);
    the 4-point percentile grid is a broadcast cross join."""
    o = t(spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"])
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    w_all = Window.partitionBy()
    ranked = per_cust.select(
        "rev",
        F.row_number().over(Window.orderBy(F.desc("rev"), "o_custkey")).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_cust"),
        F.sum("rev").over(w_all).alias("total"),
    )
    cum = ranked.select(
        "rn", "n_cust", "total",
        F.sum("rev").over(
            Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum_rev"),
    )
    pct = spark.createDataFrame([(1,), (5,), (10,), (25,)], "p int")
    tgt = F.ceil(F.col("p") * F.col("n_cust") / 100.0).cast("long")
    return (
        cum.crossJoin(F.broadcast(pct))  # 4-row grid broadcast
        .groupBy(F.col("p").alias("top_pct"), F.col("n_cust"))
        .agg(
            F.max(F.when(F.col("rn") == tgt, F.col("cum_rev"))).alias("top_rev"),
            F.max("total").alias("total"),
        )
        .select(
            "top_pct",
            F.ceil(F.col("top_pct") * F.col("n_cust") / 100.0).cast("long").alias("n_top"),
            F.round(F.col("top_rev") / F.col("total").cast("double"), 6).alias("revenue_share"),
        )
    )


@query(
    "q297_new_vs_returning_revenue",
    oracle="""
WITH firsts AS (
  SELECT o_custkey, min(o_orderkey) AS first_key
  FROM orders GROUP BY o_custkey
),
tagged AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
         o.o_orderkey = f.first_key AS is_first,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN firsts f USING (o_custkey)
)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN is_first THEN cents ELSE 0 END) AS BIGINT) AS new_cents,
       CAST(sum(CASE WHEN is_first THEN 0 ELSE cents END) AS BIGINT)
         AS returning_cents,
       round(sum(CASE WHEN is_first THEN cents ELSE 0 END)
             / CAST(sum(cents) AS DOUBLE), 6) AS new_share
FROM tagged GROUP BY month
""",
)
def q297_new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning revenue split per month — the acquisition/
    retention decomposition behind q291's cohort matrix: a customer's
    FIRST order (min orderkey — deterministic tie-break; orderkeys are
    assigned in entry order) counts as acquisition revenue, everything
    after as retention.  Cents lattice exact.  Scale shape: the firsts
    table is an entity-sized min aggregate that joins back on the
    customer key (bucketable/broadcastable); monthly rollup folds
    map-side."""
    o = t(spark, sf_dir, "orders", columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"])
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderkey").alias("first_key"))
    tagged = o.join(firsts, "o_custkey").select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        (F.col("o_orderkey") == F.col("first_key")).alias("is_first"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first_cents = F.when(F.col("is_first"), F.col("cents")).otherwise(0)
    return tagged.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0)).cast("long").alias("n_new"),
        F.sum(first_cents).cast("long").alias("new_cents"),
        F.sum(F.col("cents") - first_cents).cast("long").alias("returning_cents"),
        F.round(F.sum(first_cents) / F.sum("cents").cast("double"), 6).alias("new_share"),
    )
