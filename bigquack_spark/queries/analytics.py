"""Statistical analytics over the TPC-H-ish tables: regression and
co-occurrence — the shapes a data team reaches for right after GROUP BY.

Both follow the exact-integer-lattice discipline proved out by q87: any
statistic that can be assembled from integer power sums is computed that
way in BOTH engines, so IEEE results agree bitwise and the driver's hash
compare holds (native regr_* aggregates would drift in the last ulp
across engines — same trap as stddev was).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t


@query(
    "q126_brand_price_trend",
    oracle="""
    WITH pts AS (
      SELECT p.p_brand,
             CAST(year(l.l_shipdate) * 12 + (month(l.l_shipdate) - 1) AS BIGINT) AS x,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    s AS (
      SELECT p_brand,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts GROUP BY p_brand
    )
    SELECT p_brand, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_month,
           (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept_cents
    FROM s
    WHERE n * sxx - sx * sx != 0
    """,
)
def q126_brand_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS price trend: slope/intercept of extended price (cents)
    against ship month, assembled from exact BIGINT power sums
    (n, Σx, Σy, Σx², Σxy) so both engines divide the same integers —
    native regr_slope/regr_intercept would drift in the last ulp (the q87
    stddev lesson).  One join (part side broadcast) + one aggregation
    shuffle; the power sums are algebraic, so map-side partials carry the
    whole reduction at any scale."""
    l = t(spark, sf_dir, "lineitem", columns=["l_partkey", "l_shipdate", "l_extendedprice"])
    p = t(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    x = (F.year("l_shipdate") * 12 + (F.month("l_shipdate") - 1)).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    pts = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "p_brand", x.alias("x"), y.alias("y")
    )
    s = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    numer = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = numer.cast("double") / denom.cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.filter(denom != 0).select(
        "p_brand",
        "n",
        slope.alias("slope_cents_per_month"),
        intercept.alias("intercept_cents"),
    )


_BASKET_TOP_K = 50


@query(
    "q127_part_cooccurrence",
    oracle=f"""
    WITH pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
    FROM pairs
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT {_BASKET_TOP_K}
    """,
)
def q127_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-``_BASKET_TOP_K`` part pairs appearing in the
    same order.  The self-join is keyed on l_orderkey, so pairwise work is
    bounded by lines-per-order squared (~7² in TPC-H — a per-group
    constant), never the table cross product; one shuffle for the join,
    one for the pair count, TakeOrderedAndProject for the top-k.  The
    association-mining primitive (frequent itemsets at k=2)."""
    l = t(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
    a = l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pairs = a.join(b, "ok").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(_BASKET_TOP_K)
    )


@query(
    "q128_lang_token_entropy",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS tk
      FROM documents
    ),
    freq AS (
      SELECT lang, tk, CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY lang, tk
    ),
    tot AS (SELECT lang, sum(n) AS total FROM freq GROUP BY lang)
    SELECT freq.lang,
           CAST(count(*) AS BIGINT) AS vocab,
           round(-sum((CAST(n AS DOUBLE) / total) * ln(CAST(n AS DOUBLE) / total)), 6)
             AS token_entropy_nats
    FROM freq JOIN tot ON freq.lang = tot.lang
    GROUP BY freq.lang
    """,
)
def q128_lang_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per language — the corpus
    diversity metric curation pipelines track (low entropy = boilerplate /
    template collapse; complements the per-doc repetition gates q101/q108
    with a corpus-level view).  Two shuffles: token frequency, then the
    per-lang reduction (totals ride the same frequency frame).  ln() is
    libm-backed in both engines; the result is rounded to 6 digits inside
    the query, well below any last-ulp divergence, so values — not
    rankings — carry the comparison (cf. q125's rationale for avoiding
    transcendentals where SELECTION depends on them)."""
    d = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    tok = d.select("lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("tk"))
    freq = tok.groupBy("lang", "tk").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.groupBy("lang").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        freq.join(tot, "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.round(-F.sum(p * F.log(p)), 6).alias("token_entropy_nats"),
        )
    )


@query(
    "q134_robust_stats",
    oracle="""
    WITH base AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p
      FROM lineitem
    ),
    anchors AS (
      SELECT l_returnflag,
             quantile_cont(q, 0.5) AS med_qty,
             quantile_cont(p, 0.25) AS p25,
             quantile_cont(p, 0.75) AS p75
      FROM base GROUP BY l_returnflag
    )
    SELECT b.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           any_value(a.med_qty) AS med_qty,
           quantile_cont(abs(b.q - a.med_qty), 0.5) AS mad_qty,
           round((any_value(a.p75) - any_value(a.p25)) / 100.0, 6) AS iqr_price,
           CAST(count(*) FILTER (
             WHERE b.p > a.p75 + 1.5 * (a.p75 - a.p25)
           ) AS BIGINT) AS n_price_outliers
    FROM base b JOIN anchors a USING (l_returnflag)
    GROUP BY b.l_returnflag
    """,
)
def q134_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics per group — median, MAD (median absolute
    deviation), IQR, and the Tukey-fence outlier count: the
    outlier-tolerant profile that q87's moment statistics can't give (one
    corrupt price wrecks a variance; it moves a median by at most one
    rank).  Two aggregation passes composed declaratively: group anchors
    (median/quartiles via exact interpolated percentile over INTEGERIZED
    operands — the q47-proven portable kind), broadcast back (3 rows),
    then the deviation pass.  Every comparison and interpolation runs on
    identical integer-lattice doubles in both engines, so even the fence
    boundary count is deterministic cross-engine."""
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
    )
    anchors = base.groupBy("l_returnflag").agg(
        F.expr("percentile(q, 0.5)").alias("med_qty"),
        F.expr("percentile(p, 0.25)").alias("p25"),
        F.expr("percentile(p, 0.75)").alias("p75"),
    )
    joined = base.join(F.broadcast(anchors), "l_returnflag")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.any_value(F.col("med_qty")).alias("med_qty"),
        F.expr("percentile(abs(q - med_qty), 0.5)").alias("mad_qty"),
        F.round(
            (F.any_value(F.col("p75")) - F.any_value(F.col("p25"))) / 100.0, 6
        ).alias("iqr_price"),
        F.sum(
            (F.col("p") > F.col("p75") + 1.5 * (F.col("p75") - F.col("p25"))).cast("bigint")
        ).alias("n_price_outliers"),
    )


#: EWMA weights alpha*(1-alpha)^k for alpha=0.3, k=0..11, materialized as
#: shortest-round-trip literals so BOTH engines parse the identical IEEE
#: doubles (pow() itself can drift a ulp between libm implementations).
EWMA_WEIGHTS = tuple(0.3 * (0.7**k) for k in range(12))
_HOUR_US = 3_600_000_000


def _ewma_weights_sql() -> str:
    return "[" + ", ".join(repr(w) for w in EWMA_WEIGHTS) + "]"


@query(
    "q150_hourly_ewma",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / {_HOUR_US}) AS BIGINT) AS hour_idx,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events
      GROUP BY event_type, hour_idx
    ),
    windowed AS (
      SELECT event_type, hour_idx, n_events,
             list(n_events) OVER (
               PARTITION BY event_type ORDER BY hour_idx
               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW
             ) AS xs
      FROM hourly
    )
    SELECT event_type, hour_idx, n_events,
           round(
             list_sum(list_transform(range(1, len(xs) + 1),
               p -> xs[p] * ({_ewma_weights_sql()})[len(xs) - p + 1])),
             6
           ) AS ewma
    FROM windowed
    ORDER BY event_type, hour_idx
    """,
)
def q150_hourly_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly event volume per
    event type — the smoothing pass behind rate alerting and trend
    dashboards.  The recursion is unrolled into a truncated 12-tap FIR
    over the last 12 OBSERVED hourly buckets (weights alpha*(1-alpha)^k
    inlined as identical literals in both engines; the tail beyond 12
    taps is < 1% of mass at alpha=0.3 and is dropped by definition).

    Plan: one event_type-keyed aggregate to hourly counts, then one
    window on the same key (Catalyst reuses the exchange) with a bounded
    12-row frame — state per group is 12 BIGINTs, shuffle carries hourly
    buckets, not events.  The weighted sum is a fixed-order sequential
    fold over literal weights, so results agree bitwise cross-engine."""
    e = t(spark, sf_dir, "events", columns=["event_type", "ts"])
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / _HOUR_US).cast("long").alias("hour_idx"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rowsBetween(-11, Window.currentRow)
    )
    wl = F.array(*[F.lit(x) for x in EWMA_WEIGHTS])
    windowed = hourly.withColumn("xs", F.collect_list("n_events").over(w))
    ewma = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.size("xs")),
            lambda p: F.element_at(F.col("xs"), p.cast("int")).cast("double")
            * F.element_at(wl, (F.size("xs") - p + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return windowed.select(
        "event_type", "hour_idx", "n_events", F.round(ewma, 6).alias("ewma")
    ).orderBy("event_type", "hour_idx")


_DAY_US = 86_400_000_000


@query(
    "q156_dow_seasonality",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             CAST((floor(epoch_us(ts) / {_DAY_US}) + 4) % 7 AS BIGINT) AS dow_idx
      FROM events
    ),
    counts AS (
      SELECT event_type, dow_idx, CAST(count(*) AS BIGINT) AS n_events
      FROM d GROUP BY event_type, dow_idx
    ),
    tot AS (
      SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total FROM counts GROUP BY event_type
    )
    SELECT c.event_type, c.dow_idx, c.n_events,
           CAST(c.n_events AS DOUBLE) / t.total AS dow_share,
           CAST(c.n_events AS DOUBLE) / t.total - 1.0 / 7.0 AS dev_from_uniform
    FROM counts c JOIN tot t ON c.event_type = t.event_type
    ORDER BY c.event_type, c.dow_idx
    """,
)
def q156_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: volume share per
    weekday slot and its deviation from uniform — the load-shaping prior
    behind capacity planning and anomaly baselines (a Tuesday spike is
    only a spike relative to Tuesdays).

    The weekday bucket is pure epoch arithmetic — (epoch_days + 4) mod 7,
    Monday = 0 — deliberately avoiding both engines' calendar APIs
    (different week-start conventions, DST rules) so the bucket is an
    exact integer in both.  One map-side-combined aggregate to
    |types| x 7 rows; the per-type totals broadcast back.  All shares are
    exact-integer divisions."""
    e = t(spark, sf_dir, "events", columns=["event_type", "ts"])
    d = e.select(
        "event_type",
        ((F.floor(F.unix_micros("ts") / _DAY_US) + 4) % 7).cast("long").alias("dow_idx"),
    )
    counts = d.groupBy("event_type", "dow_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    tot = counts.groupBy("event_type").agg(F.sum("n_events").cast("long").alias("total"))
    share = F.col("n_events").cast("double") / F.col("total")
    return (
        counts.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow_idx",
            "n_events",
            share.alias("dow_share"),
            (share - F.lit(1.0) / 7.0).alias("dev_from_uniform"),
        )
        .orderBy("event_type", "dow_idx")
    )


_CP_MARGIN = 7  # no breakpoint within the first/last week


@query(
    "q158_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(floor(epoch_us(ts) / {_DAY_US}) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY x
    ),
    pre AS (
      SELECT x, y,
             CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS i,
             sum(x) OVER w AS px, sum(y) OVER w AS py,
             sum(x * x) OVER w AS pxx, sum(x * y) OVER w AS pxy,
             sum(y * y) OVER w AS pyy
      FROM daily
      WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS tx, sum(y) AS ty,
             sum(x * x) AS txx, sum(x * y) AS txy, sum(y * y) AS tyy
      FROM daily
    ),
    scored AS (
      SELECT p.x AS break_x,
             -- left segment = rows 1..i-1 (strictly before the breakpoint):
             -- prefix at i minus the current row
             (CAST(p.pyy - p.y * p.y AS DOUBLE)
               - CAST(p.py - p.y AS DOUBLE) * (p.py - p.y) / (p.i - 1)
               - CASE WHEN CAST(p.pxx - p.x * p.x AS DOUBLE)
                           - CAST(p.px - p.x AS DOUBLE) * (p.px - p.x) / (p.i - 1) = 0
                      THEN 0.0
                      ELSE
                 (CAST(p.pxy - p.x * p.y AS DOUBLE)
                   - CAST(p.px - p.x AS DOUBLE) * (p.py - p.y) / (p.i - 1))
                 * (CAST(p.pxy - p.x * p.y AS DOUBLE)
                   - CAST(p.px - p.x AS DOUBLE) * (p.py - p.y) / (p.i - 1))
                 / (CAST(p.pxx - p.x * p.x AS DOUBLE)
                   - CAST(p.px - p.x AS DOUBLE) * (p.px - p.x) / (p.i - 1))
                      END)
             +
             (CAST(t.tyy - (p.pyy - p.y * p.y) AS DOUBLE)
               - CAST(t.ty - (p.py - p.y) AS DOUBLE) * (t.ty - (p.py - p.y)) / (t.n - p.i + 1)
               - CASE WHEN CAST(t.txx - (p.pxx - p.x * p.x) AS DOUBLE)
                           - CAST(t.tx - (p.px - p.x) AS DOUBLE) * (t.tx - (p.px - p.x)) / (t.n - p.i + 1) = 0
                      THEN 0.0
                      ELSE
                 (CAST(t.txy - (p.pxy - p.x * p.y) AS DOUBLE)
                   - CAST(t.tx - (p.px - p.x) AS DOUBLE) * (t.ty - (p.py - p.y)) / (t.n - p.i + 1))
                 * (CAST(t.txy - (p.pxy - p.x * p.y) AS DOUBLE)
                   - CAST(t.tx - (p.px - p.x) AS DOUBLE) * (t.ty - (p.py - p.y)) / (t.n - p.i + 1))
                 / (CAST(t.txx - (p.pxx - p.x * p.x) AS DOUBLE)
                   - CAST(t.tx - (p.px - p.x) AS DOUBLE) * (t.tx - (p.px - p.x)) / (t.n - p.i + 1))
                      END) AS sse
      FROM pre p CROSS JOIN tot t
      WHERE p.i > {_CP_MARGIN} AND p.i <= t.n - {_CP_MARGIN}
    )
    SELECT break_x, round(sse, 6) AS sse
    FROM scored
    ORDER BY sse, break_x
    LIMIT 1
    """,
)
def q158_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection on the daily event-volume series: the split
    day minimizing total two-segment OLS residual error (left fit on
    days strictly before the candidate, right fit on the candidate
    onward).  The workhorse behind "did traffic change regime here?" —
    deploy markers, seasonality breaks, incident onsets.

    All candidate SSEs come from ONE cumulative-prefix window over the
    O(days)-row daily aggregate: segment statistics are prefix/suffix
    differences of exact BIGINT power sums (the q126/q87 lattice
    discipline), so every candidate costs O(1) and the argmin is one
    TakeOrdered over the bounded candidate rows.  The corpus-sized work
    is only the daily aggregate; the global-order window runs over ~e2
    pre-aggregated rows (bounded by the calendar, not the data).  The
    divide-by-zero guards (degenerate one-point / collinear segments)
    are CASE-identical in both engines."""
    e = t(spark, sf_dir, "events", columns=["ts"])
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / _DAY_US).cast("long").alias("x")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    from pyspark.sql.window import Window

    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = daily.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("x")).cast("long").alias("i"),
        F.sum("x").over(w).alias("px"),
        F.sum("y").over(w).alias("py"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("pxx"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("pxy"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("pyy"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("tx"),
        F.sum("y").alias("ty"),
        F.sum(F.col("x") * F.col("x")).alias("txx"),
        F.sum(F.col("x") * F.col("y")).alias("txy"),
        F.sum(F.col("y") * F.col("y")).alias("tyy"),
    )

    def seg_sse(n, sx, sy, sxx, sxy, syy):
        syy_c = syy.cast("double") - sy.cast("double") * sy / n
        sxx_c = sxx.cast("double") - sx.cast("double") * sx / n
        sxy_c = sxy.cast("double") - sx.cast("double") * sy / n
        return syy_c - F.when(sxx_c == 0, F.lit(0.0)).otherwise(sxy_c * sxy_c / sxx_c)

    p = pre.crossJoin(F.broadcast(tot))
    # left segment: prefix minus current row (days strictly before break)
    ln = F.col("i") - 1
    lx, ly = F.col("px") - F.col("x"), F.col("py") - F.col("y")
    lxx = F.col("pxx") - F.col("x") * F.col("x")
    lxy = F.col("pxy") - F.col("x") * F.col("y")
    lyy = F.col("pyy") - F.col("y") * F.col("y")
    # right segment: totals minus the strict-left prefix
    rn = F.col("n") - F.col("i") + 1
    rx, ry = F.col("tx") - lx, F.col("ty") - ly
    rxx = F.col("txx") - lxx
    rxy = F.col("txy") - lxy
    ryy = F.col("tyy") - lyy
    scored = p.filter(
        (F.col("i") > _CP_MARGIN) & (F.col("i") <= F.col("n") - _CP_MARGIN)
    ).select(
        F.col("x").alias("break_x"),
        (
            seg_sse(ln, lx, ly, lxx, lxy, lyy) + seg_sse(rn, rx, ry, rxx, rxy, ryy)
        ).alias("sse"),
    )
    return (
        scored.select("break_x", F.round("sse", 6).alias("sse"))
        .orderBy("sse", "break_x")
        .limit(1)
    )


_HOUR_US_Q161 = 3_600_000_000


@query(
    "q161_gap_fill",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / {_HOUR_US_Q161}) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, h
    ),
    bounds AS (
      SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY event_type
    ),
    grid AS (
      SELECT event_type, CAST(unnest(range(h0, h1 + 1)) AS BIGINT) AS h FROM bounds
    ),
    joined AS (
      SELECT g.event_type, g.h, hr.n,
             hr.n IS NOT NULL AS observed
      FROM grid g LEFT JOIN hourly hr
        ON g.event_type = hr.event_type AND g.h = hr.h
    ),
    ctx AS (
      SELECT event_type, h, n, observed,
             last_value(n IGNORE NULLS) OVER wb AS prev_n,
             last_value(CASE WHEN observed THEN h END IGNORE NULLS) OVER wb AS prev_h,
             first_value(n IGNORE NULLS) OVER wf AS next_n,
             first_value(CASE WHEN observed THEN h END IGNORE NULLS) OVER wf AS next_h
      FROM joined
      WINDOW
        wb AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, h, observed,
           round(CASE
             WHEN observed THEN CAST(n AS DOUBLE)
             ELSE CAST(prev_n AS DOUBLE)
                  + CAST(next_n - prev_n AS DOUBLE) * (h - prev_h) / (next_h - prev_h)
           END, 6) AS filled_n
    FROM ctx
    ORDER BY event_type, h
    """,
)
def q161_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: the per-type hourly series densified onto
    a complete hour grid, missing buckets linearly interpolated between
    the nearest observed neighbors — the regularization step before any
    FIR smoothing (q150), seasonal profile (q156), or changepoint scan
    (q158) that assumes an evenly-spaced series.

    The grid explodes from per-type (min, max) bounds — O(hours) rows,
    calendar-bounded; the LOCF/NOCB context comes from two frames of the
    SAME type-keyed window partitioning (one exchange, reused).  Counts
    are exact BIGINTs; the interpolation fraction is the only division
    and both engines evaluate it identically (grid positions are exact
    integers).  Interior gaps always have both neighbors; the series
    endpoints are observed by construction (min/max come from data)."""
    e = t(spark, sf_dir, "events", columns=["event_type", "ts"])
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / _HOUR_US_Q161).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
    )
    joined = grid.join(hourly, ["event_type", "h"], "left").withColumn(
        "observed", F.col("n").isNotNull()
    )
    from pyspark.sql.window import Window

    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("observed"), F.col("h"))
    ctx = joined.select(
        "event_type",
        "h",
        "n",
        "observed",
        F.last("n", ignorenulls=True).over(wb).alias("prev_n"),
        F.last(obs_h, ignorenulls=True).over(wb).alias("prev_h"),
        F.first("n", ignorenulls=True).over(wf).alias("next_n"),
        F.first(obs_h, ignorenulls=True).over(wf).alias("next_h"),
    )
    interp = F.col("prev_n").cast("double") + (
        F.col("next_n") - F.col("prev_n")
    ).cast("double") * (F.col("h") - F.col("prev_h")) / (
        F.col("next_h") - F.col("prev_h")
    )
    return ctx.select(
        "event_type",
        "h",
        "observed",
        F.round(
            F.when(F.col("observed"), F.col("n").cast("double")).otherwise(interp), 6
        ).alias("filled_n"),
    ).orderBy("event_type", "h")


@query(
    "q194_ab_test_readout",
    oracle="""
    WITH assign AS (
      SELECT DISTINCT user_id,
             CAST('0x' || substr(md5('exp1|' || CAST(user_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % 2 AS arm
      FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    cells AS (
      SELECT a.arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_conv
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY a.arm
    ),
    wide AS (
      SELECT max(CASE WHEN arm = 0 THEN n_users END) AS n0,
             max(CASE WHEN arm = 0 THEN n_conv END) AS c0,
             max(CASE WHEN arm = 1 THEN n_users END) AS n1,
             max(CASE WHEN arm = 1 THEN n_conv END) AS c1
      FROM cells
    )
    SELECT n0, c0, n1, c1,
           round(CAST(c0 AS DOUBLE) / n0, 9) AS p0,
           round(CAST(c1 AS DOUBLE) / n1, 9) AS p1,
           round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 9) AS z_score
    FROM wide
    """,
)
def q194_ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — deterministic assignment + two-proportion
    z-test: users hash into arms via md5('exp1'|user) (the q83 split
    discipline — assignment survives replays and engine swaps, which
    rand() bucketing does not), conversion = any purchase, and the
    pooled-variance z-score comes out of exact integer cell counts
    through one shared IEEE expression.  Plan: one distinct per input,
    one broadcast-shaped left join, a 2-row aggregate pivoted to one
    readout row — at any scale the statistics flow through 4 integers.
    The experimentation loop this feeds: q153/q125 choose exposure,
    this reads it out, q66's cohorts slice it."""
    e = t(spark, sf_dir, "events", columns=["user_id", "event_type"])
    arm = (
        F.conv(F.substring(F.md5(F.concat(F.lit("exp1|"), F.col("user_id").cast("string"))), 1, 6), 16, 10)
        .cast("bigint") % 2
    )
    assign = e.select("user_id").distinct().select("user_id", arm.alias("arm"))
    conv = e.filter(F.col("event_type") == "purchase").select("user_id").distinct() \
        .withColumn("converted", F.lit(1))
    cells = (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.coalesce("converted", F.lit(0))).cast("long").alias("n_conv"),
        )
    )
    wide = cells.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1")))
    return wide.select(
        "n0", "c0", "n1", "c1",
        F.round(p0, 9).alias("p0"),
        F.round(p1, 9).alias("p1"),
        F.round(z, 9).alias("z_score"),
    )


FORECAST_WEEKS = 3  # same-weekday history depth for the seasonal-naive model


@query(
    "q195_forecast_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day_idx,
             CAST(count(*) AS BIGINT) AS n
      FROM events
      GROUP BY event_type, epoch_us(ts) // 86400000000
    ),
    lagged AS (
      SELECT event_type, day_idx, n,
             lag(n, 7) OVER w AS w1,
             lag(n, 14) OVER w AS w2,
             lag(n, 21) OVER w AS w3
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)
    ),
    scored AS (
      SELECT event_type, day_idx, n,
             (w1 + w2 + w3) // 3 AS forecast
      FROM lagged WHERE w1 IS NOT NULL AND w2 IS NOT NULL AND w3 IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(abs(n - forecast)) AS BIGINT) AS total_abs_err,
           round(CAST(sum(abs(n - forecast)) AS DOUBLE) / sum(n), 9) AS wape
    FROM scored
    GROUP BY event_type
    """,
)
def q195_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the capacity-planning baseline
    every fancier model must beat: each (event_type, day) is predicted
    by the floor-mean of the same weekday's counts over the prior
    ``FORECAST_WEEKS`` weeks (pure lag(7k) windows on an integer day
    index — q156 established the epoch-lattice weekday discipline), and
    the readout is per-type WAPE (total |err| / total actual).  Integer
    day buckets, integer forecasts (floor mean), integer error sums —
    nothing to drift.  One event_type-keyed shuffle serves the daily
    rollup and all three lags; scoring skips days without full history
    rather than padding them (q161 covers gap semantics).  At 100 TB
    the window input is DAYS x TYPES rows, not events."""
    e = t(spark, sf_dir, "events", columns=["ts", "event_type"])
    daily = e.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("day_idx"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day_idx")
    lagged = daily.select(
        "event_type", "day_idx", "n",
        F.lag("n", 7).over(w).alias("w1"),
        F.lag("n", 14).over(w).alias("w2"),
        F.lag("n", 21).over(w).alias("w3"),
    ).filter(F.col("w1").isNotNull() & F.col("w2").isNotNull() & F.col("w3").isNotNull())
    scored = lagged.withColumn(
        "forecast", F.floor((F.col("w1") + F.col("w2") + F.col("w3")) / 3).cast("long")
    )
    err = F.abs(F.col("n") - F.col("forecast"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.sum(err).cast("long").alias("total_abs_err"),
        F.round(F.sum(err).cast("double") / F.sum("n"), 9).alias("wape"),
    )


RFM_SLICES = 16  # md5 slices for the scale-safe quartile ranking


@query(
    "q201_rfm_segmentation",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             max(epoch_us(ts)) AS last_us,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    sliced AS (
      SELECT *,
             CAST('0x' || substr(md5('rfm|' || CAST(user_id AS VARCHAR)), 1, 4)
                  AS BIGINT) % 16 AS slc
      FROM per_user
    ),
    scored AS (
      SELECT user_id, freq, monetary_cents,
             ntile(4) OVER (PARTITION BY slc ORDER BY last_us DESC, user_id) AS r,
             ntile(4) OVER (PARTITION BY slc ORDER BY freq DESC, user_id) AS f,
             ntile(4) OVER (PARTITION BY slc ORDER BY monetary_cents DESC, user_id) AS m
      FROM sliced
    )
    SELECT CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f, CAST(m AS INTEGER) AS m,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored
    GROUP BY r, f, m
    """,
)
def q201_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency/frequency/monetary quartile
    codes with segment rollups, the marketing-analytics workhorse.  The
    quartile ranks use the q181 SLICED discipline (ntile within 16
    deterministic md5 slices of the user base, quartile 1 = best): no
    global-order window anywhere, each slice's quartile boundaries are
    unbiased estimates of the global ones, and assignments are
    deterministic under replay.  One user-keyed aggregate (purchases
    only), one slice-keyed shuffle serving all three ranking windows,
    then a 64-cell-bounded rollup.  Money rides the cents lattice;
    recency compares exact microsecond epochs."""
    e = t(spark, sf_dir, "events", columns=["user_id", "ts", "event_type", "value"])
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("monetary_cents"),
        )
    )
    slc = (
        F.conv(F.substring(F.md5(F.concat(F.lit("rfm|"), F.col("user_id").cast("string"))), 1, 4), 16, 10)
        .cast("bigint") % RFM_SLICES
    )
    sliced = per_user.withColumn("slc", slc)
    def q(col_order):
        return F.ntile(4).over(Window.partitionBy("slc").orderBy(*col_order))
    scored = sliced.select(
        "user_id", "freq", "monetary_cents",
        q([F.desc("last_us"), F.asc("user_id")]).alias("r"),
        q([F.desc("freq"), F.asc("user_id")]).alias("f"),
        q([F.desc("monetary_cents"), F.asc("user_id")]).alias("m"),
    )
    return scored.groupBy(
        F.col("r").cast("int").alias("r"),
        F.col("f").cast("int").alias("f"),
        F.col("m").cast("int").alias("m"),
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("monetary_cents").cast("long").alias("segment_cents"),
    )


PSI_BINS = 10
PSI_FLOOR = 0.0005  # zero-cell smoothing so ln() stays finite both engines


@query(
    "q203_psi_drift",
    oracle=f"""
    WITH spans AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    binned AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < (SELECT (lo + hi) // 2 FROM spans)
                  THEN 'ref' ELSE 'cur' END AS era,
             least(CAST(floor(value / 10.0) AS BIGINT), {PSI_BINS - 1}) AS bin
      FROM events
    ),
    cells AS (
      SELECT event_type, era, bin, CAST(count(*) AS BIGINT) AS n
      FROM binned GROUP BY event_type, era, bin
    ),
    grid AS (
      SELECT DISTINCT e.event_type, b.bin
      FROM (SELECT DISTINCT event_type FROM cells) e
      CROSS JOIN (SELECT unnest(range({PSI_BINS})) AS bin) b
    ),
    wide AS (
      SELECT g.event_type, g.bin,
             coalesce(max(CASE WHEN c.era = 'ref' THEN c.n END), 0) AS n_ref,
             coalesce(max(CASE WHEN c.era = 'cur' THEN c.n END), 0) AS n_cur
      FROM grid g LEFT JOIN cells c
        ON c.event_type = g.event_type AND c.bin = g.bin
      GROUP BY g.event_type, g.bin
    ),
    tot AS (
      SELECT event_type,
             CAST(sum(n_ref) AS BIGINT) AS t_ref,
             CAST(sum(n_cur) AS BIGINT) AS t_cur
      FROM wide GROUP BY event_type
    ),
    terms AS (
      SELECT w.event_type, w.bin,
             greatest(CAST(w.n_ref AS DOUBLE) / t.t_ref, {PSI_FLOOR}) AS p_ref,
             greatest(CAST(w.n_cur AS DOUBLE) / t.t_cur, {PSI_FLOOR}) AS p_cur
      FROM wide w JOIN tot t USING (event_type)
    ),
    folded AS (
      SELECT event_type,
             list((p_cur - p_ref) * ln(p_cur / p_ref) ORDER BY bin) AS lterms
      FROM terms GROUP BY event_type
    )
    SELECT event_type,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), lterms),
                             (a, x) -> a + x), 9) AS psi
    FROM folded
    """,
)
def q203_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor: the value distribution of
    each event type, binned on a fixed integer grid, compared between the
    first and second half of the time range (ref vs cur era split at the
    exact epoch midpoint) — PSI = Σ (p_cur - p_ref)·ln(p_cur/p_ref),
    the standard model-input drift gauge (<0.1 stable, >0.25 shifted).
    Determinism: integer bin edges, exact count cells densified over an
    explicit bin grid (missing bins are REAL zeros, floored for ln), and
    the PSI sum folded over bin-ORDERED term lists (the q184/q193
    sorted-fold rule) so both engines add the same doubles in the same
    order.  Per-type cell state is ``PSI_BINS`` bins — corpus-size-free."""
    e = t(spark, sf_dir, "events", columns=["ts", "event_type", "value"])
    us = F.unix_micros("ts")
    span = e.agg(
        F.min(us).alias("lo"), F.max(us).alias("hi")
    )
    binned = (
        e.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            # integer floor midpoint — the oracle's (lo + hi) // 2; double
            # division would classify an event AT an odd-sum floor boundary
            # differently between engines
            F.when(us < F.expr("(lo + hi) div 2"), "ref").otherwise("cur").alias("era"),
            F.least(
                F.floor(F.col("value") / 10.0).cast("long"), F.lit(PSI_BINS - 1)
            ).alias("bin"),
        )
    )
    cells = binned.groupBy("event_type", "era", "bin").agg(F.count(F.lit(1)).alias("n"))
    types = cells.select("event_type").distinct()
    grid = types.crossJoin(
        F.broadcast(
            cells.sparkSession.range(PSI_BINS).select(F.col("id").cast("long").alias("bin"))
        )
    )
    wide = (
        grid.join(cells, ["event_type", "bin"], "left")
        .groupBy("event_type", "bin")
        .agg(
            F.coalesce(F.max(F.when(F.col("era") == "ref", F.col("n"))), F.lit(0)).alias("n_ref"),
            F.coalesce(F.max(F.when(F.col("era") == "cur", F.col("n"))), F.lit(0)).alias("n_cur"),
        )
    )
    tot = wide.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    terms = wide.join(tot, "event_type").select(
        "event_type", "bin",
        F.greatest(F.col("n_ref").cast("double") / F.col("t_ref"), F.lit(PSI_FLOOR)).alias("p_ref"),
        F.greatest(F.col("n_cur").cast("double") / F.col("t_cur"), F.lit(PSI_FLOOR)).alias("p_cur"),
    )
    folded = terms.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("bin"),
                    ((F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref"))).alias("v"),
                )
            )
        ).alias("lt")
    )
    psi = F.aggregate(
        F.transform(F.col("lt"), lambda s: s.getField("v")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return folded.select("event_type", F.round(psi, 9).alias("psi"))


@query(
    "q205_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ),
    ranked AS (
      SELECT l_returnflag, price_cents, wt,
             sum(wt) OVER (PARTITION BY l_returnflag
                           ORDER BY price_cents, wt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_wt,
             sum(wt) OVER (PARTITION BY l_returnflag) AS tot_wt
      FROM w
    )
    SELECT l_returnflag,
           CAST(max(tot_wt) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cum_wt >= tot_wt THEN price_cents END) AS BIGINT)
             AS weighted_median_cents
    FROM ranked
    GROUP BY l_returnflag
    """,
)
def q205_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per group (weight = quantity, value = price
    cents): the smallest value whose cumulative weight reaches half the
    total — the robust-stats member q134's unweighted median can't
    stand in for when rows represent unequal mass (tokens, bytes,
    shares).  Entirely on the integer lattice: cumulative weights are
    BIGINT window sums with a total-order tiebreak, the 2*cum >= tot
    test avoids division, and the answer is a value that EXISTS in the
    data (percentile_disc semantics, q175's rule).  One group-keyed
    shuffle serves both windows and the final aggregate."""
    li = t(spark, sf_dir, "lineitem",
           columns=["l_returnflag", "l_extendedprice", "l_quantity"])
    w = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    win = Window.partitionBy("l_returnflag").orderBy("price_cents", "wt")
    ranked = w.select(
        "l_returnflag", "price_cents", "wt",
        F.sum("wt").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_wt"),
        F.sum("wt").over(Window.partitionBy("l_returnflag")).alias("tot_wt"),
    )
    return ranked.groupBy("l_returnflag").agg(
        F.max("tot_wt").cast("long").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cum_wt") >= F.col("tot_wt"), F.col("price_cents"))
        ).cast("long").alias("weighted_median_cents"),
    )


@query(
    "q206_retention_curve",
    oracle="""
    WITH bounds AS (
      SELECT user_id,
             min(epoch_us(ts)) // 86400000000 AS first_day,
             max(epoch_us(ts)) // 86400000000 AS last_day
      FROM events GROUP BY user_id
    ),
    lifetimes AS (
      SELECT user_id, last_day - first_day AS lifetime_days FROM bounds
    ),
    horizon AS (SELECT max(lifetime_days) AS h FROM lifetimes),
    grid AS (
      SELECT unnest(range(0, (SELECT h + 1 FROM horizon))) AS day
    )
    SELECT CAST(g.day AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_retained,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM lifetimes), 6) AS retention
    FROM grid g JOIN lifetimes l ON l.lifetime_days >= g.day
    GROUP BY g.day
    """,
)
def q206_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed-lifetime retention curve: for each day offset d, the
    fraction of users still active at least d days after their first
    event (lifetime = last-seen minus first-seen on the exact integer
    day lattice) — the survival-analysis readout behind churn and LTV
    models, and the curve q66's fixed-window cohort table samples
    pointwise.  The day grid x lifetimes join fans out to at most
    horizon x users rows with horizon = max observed lifetime (a few
    hundred at any scale — bounded by calendar, not data); counts and
    the denominator are exact integers.  At 100 TB: user bounds are one
    map-side-combined aggregate; everything after runs on |users| rows."""
    e = t(spark, sf_dir, "events", columns=["user_id", "ts"])
    day = (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long")
    bounds = e.groupBy("user_id").agg(
        F.min(day).alias("first_day"), F.max(day).alias("last_day")
    )
    lifetimes = bounds.select(
        "user_id", (F.col("last_day") - F.col("first_day")).alias("lifetime_days")
    )
    horizon = lifetimes.agg(F.max("lifetime_days").alias("h"))
    totals = lifetimes.agg(F.count(F.lit(1)).alias("n_users"))
    grid = horizon.select(
        F.explode(F.sequence(F.lit(0), F.col("h"))).alias("day")
    )
    joined = lifetimes.join(
        F.broadcast(grid), lifetimes.lifetime_days >= grid.day
    )
    return (
        joined.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_retained"))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("day").cast("long").alias("day"),
            "n_retained",
            F.round(
                F.col("n_retained").cast("double") / F.col("n_users"), 6
            ).alias("retention"),
        )
    )


STL_HALF = 3  # centered trend window: +-3 days (7-day moving average)


@query(
    "q219_stl_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_num,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY day_num
    ),
    trended AS (
      SELECT day_num, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS win_sum,
             CAST(count(*) OVER w AS BIGINT) AS win_n
      FROM daily
      WINDOW w AS (ORDER BY day_num ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
    ),
    det AS (
      SELECT day_num, cents,
             CAST(win_sum AS DOUBLE) / win_n AS trend,
             cents - CAST(win_sum AS DOUBLE) / win_n AS detrended,
             CAST((day_num + 4) % 7 AS INTEGER) AS dow
      FROM trended WHERE win_n = {2 * STL_HALF + 1}
    ),
    seas AS (
      SELECT dow,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(detrended ORDER BY day_num)), (a, x) -> a + x)
               / count(*) AS seasonal
      FROM det GROUP BY dow
    )
    SELECT d.day_num, d.cents, round(d.trend, 6) AS trend,
           round(s.seasonal, 6) AS seasonal,
           round(d.detrended - s.seasonal, 6) AS residual
    FROM det d JOIN seas s ON d.dow = s.dow
    """,
)
def q219_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of daily event value: trend = the
    centered 7-day moving average (exact BIGINT window sums / exact
    count), seasonal = the per-weekday mean of the detrended series
    (folded in day order — the q184 discipline, since detrended values
    are doubles), residual = the rest.  Extends the time-series family
    (q150 EWMA smoothing, q156 weekday shares, q158 changepoints, q195
    seasonal-naive backtest) with the classic additive decomposition that
    anomaly baselines subtract before thresholding.  Edge days without a
    full +-``STL_HALF`` window are excluded (win_n check) instead of
    emitting a biased partial mean.  Scale: the day grid is calendar-
    bounded, so the single-partition trend window and the 7-row seasonal
    table are O(days) — the corpus-sized work is only the first
    map-side-combined groupBy; weekday is pure epoch arithmetic, immune
    to calendar-API divergence."""
    e = t(spark, sf_dir, "events", columns=["ts", "value"])
    daily = (
        e.select(
            (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias("day_num"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day_num")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.orderBy("day_num").rowsBetween(-STL_HALF, STL_HALF)
    trended = daily.select(
        "day_num", "cents",
        F.sum("cents").over(w).cast("long").alias("win_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
    )
    det = (
        trended.filter(F.col("win_n") == 2 * STL_HALF + 1)
        .select(
            "day_num", "cents",
            (F.col("win_sum").cast("double") / F.col("win_n")).alias("trend"),
            (F.col("cents") - F.col("win_sum").cast("double") / F.col("win_n")).alias("detrended"),
            ((F.col("day_num") + 4) % 7).cast("int").alias("dow"),
        )
    )
    folded = det.groupBy("dow").agg(
        F.array_sort(F.collect_list(F.struct("day_num", F.col("detrended").alias("v")))).alias("lv"),
        F.count(F.lit(1)).alias("n"),
    )
    s = F.aggregate(
        F.transform("lv", lambda x: x.getField("v")), F.lit(0.0), lambda a, x: a + x
    )
    seas = folded.select("dow", (s / F.col("n")).alias("seasonal"))
    return det.join(F.broadcast(seas), "dow").select(
        "day_num", "cents",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("detrended") - F.col("seasonal"), 6).alias("residual"),
    )


KM_CENSOR_DAYS = 90  # last order within this window of corpus end = censored


@query(
    "q230_kaplan_meier",
    oracle=f"""
    WITH life AS (
      SELECT o_custkey,
             CAST(max(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000)
                  - min(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS BIGINT)
               AS dur,
             CAST(max(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS BIGINT)
               AS last_day
      FROM orders GROUP BY o_custkey
    ),
    horizon AS (SELECT CAST(max(last_day) AS BIGINT) AS h FROM life),
    subj AS (
      SELECT dur, last_day < h - {KM_CENSOR_DAYS} AS event
      FROM life CROSS JOIN horizon
    ),
    n_total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM subj),
    at_t AS (
      SELECT dur AS t,
             CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM subj GROUP BY dur
    ),
    risk AS (
      SELECT t, d,
             n - coalesce(sum(leaving) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM at_t CROSS JOIN n_total
    ),
    km AS (
      SELECT t, d, n_risk,
             sum(ln(1.0 - CAST(d AS DOUBLE) / n_risk)) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS lsum
      FROM risk WHERE d > 0
    )
    SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events,
           round(exp(lsum), 6) AS survival
    FROM km
    """,
)
def q230_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of customer activity lifetime with RIGHT
    CENSORING — the estimator q206's observed-lifetime curve
    approximates without: lifetime = days between first and last order,
    a customer whose last order falls within ``KM_CENSOR_DAYS`` days of
    the corpus horizon is CENSORED (still alive — counting them as
    churned biases survival down, the classic retention-analysis error).
    S(t) = Π over event times ≤ t of (1 − d/n_risk), computed as
    exp of the running sum of ln terms over the time-ordered event
    table — a sequential prefix sum both engines evaluate left-to-right
    over identical doubles (q158's discipline).  Scale: per-customer
    lifetimes are one groupBy; the KM table is distinct-duration-sized
    (calendar-bounded), so the windows run on O(days) rows."""
    o = t(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    day = (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(86400000000)).cast("bigint")
    life = o.groupBy("o_custkey").agg(
        (F.max(day) - F.min(day)).cast("long").alias("dur"),
        F.max(day).cast("long").alias("last_day"),
    )
    horizon = life.agg(F.max("last_day").cast("long").alias("h"))
    subj = life.crossJoin(F.broadcast(horizon)).select(
        "dur", (F.col("last_day") < F.col("h") - KM_CENSOR_DAYS).alias("event")
    )
    n_total = subj.agg(F.count(F.lit(1)).cast("long").alias("n"))
    at_t = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum(F.col("event").cast("int")).cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = at_t.crossJoin(F.broadcast(n_total)).select(
        "t", "d",
        (F.col("n") - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))).alias("n_risk"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    km = risk.filter(F.col("d") > 0).select(
        "t", "d", "n_risk",
        F.sum(F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))).over(w_cum).alias("lsum"),
    )
    return km.select(
        F.col("t").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.round(F.exp("lsum"), 6).alias("survival"),
    )


@query(
    "q231_lorenz_gini",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(cents) OVER () AS BIGINT) AS total
      FROM cust
    ),
    folded AS (
      SELECT any_value(n) AS n, any_value(total) AS total,
             CAST(sum(CAST(i AS HUGEINT) * cents) AS DOUBLE) AS iw
      FROM ranked
    )
    SELECT n AS n_customers,
           total AS total_cents,
           round((2.0 * iw) / (n * CAST(total AS DOUBLE)) - (n + 1.0) / n, 6) AS gini
    FROM folded
    """,
)
def q231_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient over customer lifetime spend
    — the one-number inequality gauge behind whale-risk analysis (and,
    on a training corpus, the same formula reads source/token
    concentration): G = 2·Σ(i·w_i)/(n·Σw) − (n+1)/n over rank-ordered
    exact cents.  The rank-weighted sum is exact integer arithmetic
    (HUGEINT/decimal accumulation — no float fold at all), divided once
    at the end, so both engines agree bitwise.  The rank window is the
    only global-order operation and runs on customer-cardinality rows;
    at 100 TB you'd rank via two-pass range partitioning (the q115
    sliced discipline) with the same downstream math."""
    o = t(spark, sf_dir, "orders", columns=["o_custkey", "o_totalprice"])
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = cust.select(
        "cents", F.row_number().over(w).alias("i")
    )
    folded = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
        F.sum((F.col("i").cast("decimal(38,0)") * F.col("cents"))).alias("iw_dec"),
    )
    return folded.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.round(
            (2.0 * F.col("iw_dec").cast("double")) / (F.col("n") * F.col("total").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


ANOM_Z = 3.0  # robust-z threshold on seasonal residuals


@query(
    "q237_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_num,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY day_num
    ),
    trended AS (
      SELECT day_num, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS win_sum,
             CAST(count(*) OVER w AS BIGINT) AS win_n
      FROM daily
      WINDOW w AS (ORDER BY day_num ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
    ),
    det AS (
      SELECT day_num, cents,
             cents - CAST(win_sum AS DOUBLE) / win_n AS detrended,
             CAST((day_num + 4) % 7 AS INTEGER) AS dow
      FROM trended WHERE win_n = {2 * STL_HALF + 1}
    ),
    seas AS (
      SELECT dow,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(detrended ORDER BY day_num)), (a, x) -> a + x)
               / count(*) AS seasonal
      FROM det GROUP BY dow
    ),
    resid AS (
      SELECT d.day_num, d.cents,
             round(d.detrended - s.seasonal, 6) AS residual
      FROM det d JOIN seas s ON d.dow = s.dow
    ),
    anchors AS (
      SELECT median(residual) AS med FROM resid
    ),
    spread AS (
      SELECT any_value(a.med) AS med,
             median(abs(r.residual - a.med)) AS mad
      FROM resid r CROSS JOIN anchors a
    )
    SELECT r.day_num, r.cents, r.residual,
           round((r.residual - s.med) / (1.4826 * s.mad), 6) AS robust_z,
           abs(r.residual - s.med) > {ANOM_Z} * 1.4826 * s.mad AS is_anomaly
    FROM resid r CROSS JOIN spread s
    WHERE s.mad > 0
    """,
)
def q237_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-adjusted anomaly detection — q219's decomposition turned
    into a DETECTOR: after removing trend (centered 7-day MA) and
    weekday seasonality, a day is anomalous when its residual sits more
    than ``ANOM_Z`` robust sigmas (1.4826·MAD, the q134 scale) from the
    residual median — the detector that does NOT page on 'every Sunday
    is low' (q156's point) or 'the quarter is growing' (the trend), only
    on genuinely unexplained days.  Medians interpolate the same two
    middle values of the same rounded residuals on both engines; the
    MAD anchor rides a 1-row broadcast.  All windows run on the
    calendar-bounded day grid; the corpus-sized work is the one daily
    aggregate."""
    e = t(spark, sf_dir, "events", columns=["ts", "value"])
    daily = (
        e.select(
            (F.unix_micros("ts") / F.lit(86400000000)).cast("bigint").alias("day_num"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day_num")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.orderBy("day_num").rowsBetween(-STL_HALF, STL_HALF)
    det = (
        daily.select(
            "day_num", "cents",
            F.sum("cents").over(w).cast("long").alias("win_sum"),
            F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
        )
        .filter(F.col("win_n") == 2 * STL_HALF + 1)
        .select(
            "day_num", "cents",
            (F.col("cents") - F.col("win_sum").cast("double") / F.col("win_n")).alias("detrended"),
            ((F.col("day_num") + 4) % 7).cast("int").alias("dow"),
        )
    )
    folded = det.groupBy("dow").agg(
        F.array_sort(F.collect_list(F.struct("day_num", F.col("detrended").alias("v")))).alias("lv"),
        F.count(F.lit(1)).alias("n"),
    )
    ssum = F.aggregate(F.transform("lv", lambda x: x.getField("v")), F.lit(0.0), lambda a, x: a + x)
    seas = folded.select("dow", (ssum / F.col("n")).alias("seasonal"))
    resid = det.join(F.broadcast(seas), "dow").select(
        "day_num", "cents", F.round(F.col("detrended") - F.col("seasonal"), 6).alias("residual")
    )
    anchors = resid.agg(F.expr("median(residual)").alias("med"))
    spread = (
        resid.crossJoin(F.broadcast(anchors))
        .agg(
            F.first("med").alias("med"),
            F.expr("median(abs(residual - med))").alias("mad"),
        )
    )
    rz = (F.col("residual") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        resid.crossJoin(F.broadcast(spread))
        .filter(F.col("mad") > 0)
        .select(
            "day_num", "cents", "residual",
            F.round(rz, 6).alias("robust_z"),
            (F.abs(F.col("residual") - F.col("med")) > ANOM_Z * 1.4826 * F.col("mad")).alias("is_anomaly"),
        )
    )


KS_SRC_A, KS_SRC_B = "src0", "src1"
KS_ALPHA_C = 1.358  # c(0.05) for the two-sample KS critical value


@query(
    "q245_ks_test",
    oracle=f"""
    WITH lens AS (
      SELECT source, n_chars AS x FROM documents
      WHERE source IN ('{KS_SRC_A}', '{KS_SRC_B}')
    ),
    counts AS (
      SELECT x,
             CAST(sum(CASE WHEN source = '{KS_SRC_A}' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN source = '{KS_SRC_B}' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM lens GROUP BY x
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM counts
    ),
    ecdf AS (
      SELECT x,
             CAST(sum(ca) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / na AS fa,
             CAST(sum(cb) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / nb AS fb
      FROM counts CROSS JOIN tot
    ),
    dmax AS (
      SELECT x, abs(fa - fb) AS d,
             row_number() OVER (ORDER BY abs(fa - fb) DESC, x) AS rk
      FROM ecdf
    )
    SELECT t.na AS n_a, t.nb AS n_b,
           round(d.d, 6) AS ks_d,
           CAST(d.x AS BIGINT) AS at_x,
           round({KS_ALPHA_C} * sqrt(CAST(t.na + t.nb AS DOUBLE) / (t.na * CAST(t.nb AS DOUBLE))), 6)
             AS critical_d,
           d.d > {KS_ALPHA_C} * sqrt(CAST(t.na + t.nb AS DOUBLE) / (t.na * CAST(t.nb AS DOUBLE)))
             AS reject_same_dist
    FROM dmax d CROSS JOIN tot t WHERE d.rk = 1
    """,
)
def q245_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test on document-length
    distributions between sources ``KS_SRC_A`` and ``KS_SRC_B`` — the
    UNBINNED distribution-shift check beside q203's binned PSI: D = the
    maximum ECDF gap (with the length where it happens — the actionable
    part: WHERE the distributions diverge), against the α=0.05
    asymptotic critical value.  The ECDFs are exact integer cumulative
    counts over the merged distinct-value grid, so D is a ratio of
    exact ints and the argmax is tie-broken on the value — fully
    engine-portable with no binning parameter to tune (PSI's weakness).
    One (source,value) aggregate + windows over the distinct-value grid
    (bounded by value cardinality, not rows) + a 1-row result."""
    d = t(spark, sf_dir, "documents", columns=["source", "n_chars"])
    lens = d.filter(F.col("source").isin(KS_SRC_A, KS_SRC_B))
    counts = lens.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(F.when(F.col("source") == KS_SRC_A, 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("source") == KS_SRC_B, 1).otherwise(0)).cast("long").alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ecdf = counts.crossJoin(F.broadcast(tot)).select(
        "x", "na", "nb",
        (F.sum("ca").over(w).cast("double") / F.col("na")).alias("fa"),
        (F.sum("cb").over(w).cast("double") / F.col("nb")).alias("fb"),
    )
    ranked = ecdf.select(
        "x", "na", "nb", F.abs(F.col("fa") - F.col("fb")).alias("d")
    ).withColumn("rk", F.row_number().over(Window.orderBy(F.desc("d"), "x")))
    crit = KS_ALPHA_C * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double") / (F.col("na") * F.col("nb").cast("double"))
    )
    return ranked.filter(F.col("rk") == 1).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("d", 6).alias("ks_d"),
        F.col("x").cast("long").alias("at_x"),
        F.round(crit, 6).alias("critical_d"),
        (F.col("d") > crit).alias("reject_same_dist"),
    )


@query(
    "q246_cohort_matrix",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             CAST(min(year(o_orderdate) * 12 + (month(o_orderdate) - 1)) AS BIGINT)
               AS cohort_m
      FROM orders GROUP BY o_custkey
    ),
    activity AS (
      SELECT DISTINCT o.o_custkey,
             f.cohort_m,
             CAST(year(o.o_orderdate) * 12 + (month(o.o_orderdate) - 1) AS BIGINT)
               - f.cohort_m AS months_since
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ),
    sizes AS (
      SELECT cohort_m, CAST(count(*) AS BIGINT) AS cohort_n FROM firsts GROUP BY cohort_m
    )
    SELECT a.cohort_m, a.months_since,
           CAST(count(*) AS BIGINT) AS n_active,
           s.cohort_n,
           round(CAST(count(*) AS DOUBLE) / s.cohort_n, 6) AS retention
    FROM activity a JOIN sizes s ON a.cohort_m = s.cohort_m
    WHERE a.months_since <= 12
    GROUP BY a.cohort_m, a.months_since, s.cohort_n
    """,
)
def q246_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the (signup month x months-since) grid
    behind every product-retention dashboard, capped at 12 periods:
    customers cohort by FIRST order month, each later active month marks
    the cohort's cell, retention = active/cohort-size.  q206's retention
    curve is this matrix's diagonal average; the matrix itself separates
    'old cohorts decay' from 'new cohorts arrive worse' — the confound a
    single curve hides.  Month arithmetic is exact integer (y*12+m, no
    date intervals); one distinct-activity shuffle + a cohort-sized join;
    output bounded at cohorts x 13 cells regardless of order volume."""
    o = t(spark, sf_dir, "orders", columns=["o_custkey", "o_orderdate"])
    m = (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).cast("bigint")
    firsts = o.groupBy("o_custkey").agg(F.min(m).alias("cohort_m"))
    activity = (
        o.select("o_custkey", m.alias("om"))
        .join(firsts, "o_custkey")
        .select("o_custkey", "cohort_m", (F.col("om") - F.col("cohort_m")).alias("months_since"))
        .distinct()
        .filter(F.col("months_since") <= 12)
    )
    sizes = firsts.groupBy("cohort_m").agg(F.count(F.lit(1)).cast("long").alias("cohort_n"))
    return (
        activity.groupBy("cohort_m", "months_since")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_m")
        .select(
            "cohort_m", "months_since", "n_active", "cohort_n",
            F.round(F.col("n_active").cast("double") / F.col("cohort_n"), 6).alias("retention"),
        )
    )


_ACF_MAX_LAG = 14
#: One expression string shared VERBATIM by both engines over DOUBLE casts
#: of exact integer power sums (the q87 rule): identical inputs + identical
#: IEEE ops = identical doubles, no float-accumulation drift.
_ACF_EXPR = (
    "(n * sxy - sx * sy) / "
    "sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))"
)


@query(
    "q260_acf_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT l.lag, a.rev AS x, b.rev AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day + l.lag
    ),
    sums AS (
      SELECT lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs, {_ACF_EXPR} AS acf
    FROM sums
    """,
)
def q260_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at lags
    1..14 — the diagnostic read before picking q219's seasonal period or
    trusting q195's backtest horizon (a weekly cycle shows as an acf
    spike at lag 7).  The series is first reduced to one row per day
    (cents lattice), so everything after the first aggregate is
    calendar-sized: the 14-row lag grid broadcast-joins the series onto
    itself (day+lag equi-join, never a window over the raw fact table),
    and per-lag Pearson terms are EXACT integer power sums — decimal
    accumulation (the q186 overflow rule), cast to DOUBLE only for the
    final shared-expression arithmetic, so both engines emit identical
    IEEE values."""
    o = t(spark, sf_dir, "orders", columns=["o_orderdate", "o_totalprice"])
    daily = o.groupBy(
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = daily.select("day", F.col("rev").cast("decimal(19,0)").alias("x"))
    b = daily.select(
        F.col("day").alias("bday"), F.col("rev").cast("decimal(19,0)").alias("y")
    )
    pairs = a.join(F.broadcast(lags), how="cross").join(
        b, F.col("bday") == F.col("day") + F.col("lag")
    )
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return sums.select(
        "lag", "n_pairs", F.expr(_ACF_EXPR).alias("acf")
    )


#: Deterministic arm assignment (q194's hashing discipline) with an
#: injected exposure-logging defect: half of arm-B's users (a modulo
#: cohort of the hash) never log — the trigger-path bug class SRM exists
#: to catch.
_SRM_ARM = "CASE WHEN abs(hash_int) % 2 = 0 THEN 'A' ELSE 'B' END"
_SRM_LOGGED = "NOT (abs(hash_int) % 2 = 1 AND abs(hash_int) % 4 = 1)"


@query(
    "q265_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ),
    h AS (
      SELECT user_id,
             CAST('0x' || substr(md5('exp1|' || CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) AS hash_int
      FROM u
    ),
    marked AS (
      SELECT {_SRM_ARM} AS arm FROM h WHERE {_SRM_LOGGED}
    ),
    counts AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_obs FROM marked GROUP BY arm
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts)
    SELECT counts.arm, counts.n_obs,
           CAST(tot.n AS DOUBLE) / 2 AS n_expected,
           power(counts.n_obs - CAST(tot.n AS DOUBLE) / 2, 2)
             / (CAST(tot.n AS DOUBLE) / 2) AS chi2_term,
           power(counts.n_obs - CAST(tot.n AS DOUBLE) / 2, 2)
             / (CAST(tot.n AS DOUBLE) / 2) > 3.841 AS srm_flag
    FROM counts, tot
    """,
)
def q265_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-health gate run BEFORE
    q194's readout is trusted: under a 50/50 deterministic assignment the
    per-arm chi-square term against n/2 should sit below the 5% critical
    value (3.841 at 1 dof; the per-arm term alone is conservative).  A
    deterministic exposure-logging defect is injected (half of arm-B's
    users never log — the classic trigger-path bug), so the deficit
    FIRES the flag from the driver's sf0.01 tier up: an experimenter who
    sees this ships no readout.
    Assignment reuses q194's hash discipline (md5 of a salted user key —
    replay-stable on both engines); the whole check reduces to two
    integers + one broadcast total."""
    e = t(spark, sf_dir, "events", columns=["user_id"])
    u = e.select("user_id").distinct()
    h = u.select(
        F.expr(
            "cast(conv(substr(md5(concat('exp1|', cast(user_id as string))), 1, 8),"
            " 16, 10) as bigint)"
        ).alias("hash_int")
    )
    marked = h.filter(F.expr(_SRM_LOGGED)).select(F.expr(_SRM_ARM).alias("arm"))
    counts = marked.groupBy("arm").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = counts.agg(F.sum("n_obs").cast("long").alias("n"))
    exp = F.col("n").cast("double") / 2
    chi2 = F.pow(F.col("n_obs") - exp, 2) / exp
    return counts.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n_obs",
        exp.alias("n_expected"),
        chi2.alias("chi2_term"),
        (chi2 > 3.841).alias("srm_flag"),
    )


_CHURN_LABEL_DAYS = 28  # label window: churned = silent for its full span


@query(
    "q266_churn_labels",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             event_type, CAST(round(value * 100) AS BIGINT) AS v_cents
      FROM events
    ),
    b AS (SELECT max(day) - {_CHURN_LABEL_DAYS} AS cutoff FROM e),
    obs AS (
      SELECT e.user_id,
             CAST(count(*) AS BIGINT) AS n_events_obs,
             CAST(max(e.day) AS BIGINT) AS last_day_obs,
             CAST(b.cutoff - max(e.day) AS BIGINT) AS recency_days,
             CAST(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases_obs,
             CAST(sum(e.v_cents) AS BIGINT) AS value_cents_obs
      FROM e, b WHERE e.day < b.cutoff GROUP BY e.user_id, b.cutoff
    ),
    fut AS (
      SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events_label
      FROM e, b WHERE e.day >= b.cutoff GROUP BY e.user_id
    )
    SELECT obs.user_id, obs.n_events_obs, obs.last_day_obs, obs.recency_days,
           obs.n_purchases_obs, obs.value_cents_obs,
           COALESCE(fut.n_events_label, 0) AS n_events_label,
           fut.user_id IS NULL AS churned
    FROM obs LEFT JOIN fut ON obs.user_id = fut.user_id
    """,
)
def q266_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free churn-label generation — the row-level training-set twin
    of q206's aggregate retention curve: features come ONLY from the
    observation era (before the cutoff = max day - 28), the
    label ONLY from the 28-day window after it (churned = zero
    events there), so no feature can see label-era data by construction
    (the q264 temporal discipline applied to supervised labels).  Feature
    block: activity count, recency, purchase count, exact-cents value.
    Plan: one scan feeds both eras (the cutoff rides in as a broadcast
    1-row aggregate), two user-keyed aggregates, one left join on
    user_id — label state is |users|-sized, never event-sized."""
    e = t(spark, sf_dir, "events", columns=["user_id", "ts", "event_type", "value"])
    days = e.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    b = days.agg((F.max("day") - _CHURN_LABEL_DAYS).alias("cutoff"))
    marked = days.crossJoin(F.broadcast(b))
    obs = (
        marked.filter(F.col("day") < F.col("cutoff"))
        .groupBy("user_id", "cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_events_obs"),
            F.max("day").alias("last_day_obs"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases_obs"),
            F.sum("v_cents").cast("long").alias("value_cents_obs"),
        )
        .select(
            "user_id",
            "n_events_obs",
            "last_day_obs",
            (F.col("cutoff") - F.col("last_day_obs")).cast("long").alias("recency_days"),
            "n_purchases_obs",
            "value_cents_obs",
        )
    )
    fut = (
        marked.filter(F.col("day") >= F.col("cutoff"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events_label"))
        .select(F.col("user_id").alias("fuid"), "n_events_label")
    )
    return obs.join(fut, obs.user_id == fut.fuid, "left").select(
        "user_id",
        "n_events_obs",
        "last_day_obs",
        "recency_days",
        "n_purchases_obs",
        "value_cents_obs",
        F.coalesce("n_events_label", F.lit(0)).cast("long").alias("n_events_label"),
        F.col("fuid").isNull().alias("churned"),
    )
