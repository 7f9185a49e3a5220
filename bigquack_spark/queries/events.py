"""Event-table queries: JSON extraction, time bucketing, sessionization.

The reference stores JSON as STRING (bigquery_write.go:189-190 maps BQ JSON
-> string; SURVEY §1.3) and queries it with engine functions; the `events`
table's ``props`` column exercises that surface.  Time semantics: events.ts
has shipped as ns and as tz-less µs parquet across driver generations
(sources/parquet normalizes both to µs TimestampType), so all time math
here is done on explicit microsecond epochs (unix_micros / epoch_us) and all
emitted time keys are formatted strings, keeping the two engines bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


@query(
    "q20_events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
           avg(value) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def q20_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-property extraction (get_json_object over the STRING-typed props
    column, per the reference's JSON->STRING mapping) feeding an aggregate."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.get_json_object("props", "$.k").cast("int")).cast("bigint").alias("k_sum"),
            F.avg("value").alias("avg_value"),
        )
    )


@query(
    "q21_events_hourly",
    oracle="""
    SELECT strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour_key,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           sum(value) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q21_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (batch form): hourly buckets with count,
    distinct users, and value sum.  Hour key emitted as a formatted string —
    engine-invariant vs ns/µs timestamp physical types.  The streaming twin
    (withWatermark + window) lives in bigquack_spark.streaming.  Bucketing
    events by user_id removes the wide first-phase distinct exchange
    (round-10 100x measurement; plan-asserted in tests/test_layouts.py)."""
    return hourly_events_frame(t(spark, sf_dir, "events"))


def hourly_events_frame(e: DataFrame) -> DataFrame:
    """q21's plan over a caller-supplied events frame — reused by
    tests/test_layouts.py to run the SAME headline query over a
    user_id-bucketed layout (the (hour, user) distinct phase then needs no
    input exchange) without duplicating the query body.

    The aggregate groups by the truncated TIMESTAMP and formats the hour
    STRING on the ~K output rows AFTER the agg — grouping by the
    formatted string paid a per-input-row date_format on the 15M-row
    path, measured 28.6% of the whole query at the 100x tier
    (round-12 attribution run: 1.63 s -> 1.16 s).  Output identical
    (same strings, same grouping: trunc-then-format is injective per
    hour bucket)."""
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_key"),
            "n_events",
            "n_users",
            "total_value",
        )
    )


@query(
    "q22_sessionize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id,
             epoch_us(ts) AS t_us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_us
      FROM events
    )
    SELECT user_id,
           CAST(1 + sum(CASE WHEN prev_us IS NOT NULL
                              AND t_us - prev_us > {SESSION_GAP_US}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ordered
    GROUP BY user_id
    """,
)
def q22_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): a new session starts after a >30 min
    silence.  One shuffle on user_id serves both the window and the final
    aggregate (same partitioning, Catalyst reuses the exchange).  All gap math
    on BIGINT microsecond epochs — exact across engines."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t_us")
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    return (
        e.withColumn("prev_us", F.lag("t_us").over(w))
        .withColumn(
            "is_new",
            (
                F.col("prev_us").isNotNull()
                & ((F.col("t_us") - F.col("prev_us")) > SESSION_GAP_US)
            ).cast("int"),
        )
        .groupBy("user_id")
        .agg(
            (F.lit(1) + F.sum("is_new")).cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "q23_session_windows",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS t_us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    s AS (
      SELECT user_id, t_us, value,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY t_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM o
    )
    SELECT user_id,
           strftime(make_timestamp(min(t_us)), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(max(t_us) + {SESSION_GAP_US}), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS total_value
    FROM s
    GROUP BY user_id, sess_id
    """,
)
def q23_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window): dynamic-gap grouping in a
    single groupBy — Spark merges adjacent events within the 30-min gap
    without an explicit gaps-and-islands window.  The oracle rebuilds the
    identical sessions via islands over microsecond epochs.  Session end is
    last-event + gap (Spark's session_window semantics)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "q24_asof_last_order",
    oracle="""
    SELECT e.event_id, e.user_id, m.o_orderkey, m.o_totalprice
    FROM events e
    LEFT JOIN LATERAL (
      SELECT o.o_orderkey, o.o_totalprice
      FROM orders o
      WHERE o.o_custkey = e.user_id
        AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
      LIMIT 1
    ) m ON true
    """,
)
def q24_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively): for each event, the
    user's most recent order at or before the event time.  Implemented as
    the union-and-carry construction (operators.joins.asof_join): ONE
    shuffle on the key, O(1) window state per row — no range cross join.
    The oracle is the per-row LATERAL lookup, semantically identical."""
    from bigquack_spark.operators.joins import asof_join

    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od_us"),
        "o_orderkey",
        "o_totalprice",
    )
    joined = asof_join(
        e, o, on="user_id", left_ts="t_us", right_ts="od_us",
        right_cols=["o_orderkey", "o_totalprice"], right_tiebreak="o_orderkey",
    )
    return joined.select("event_id", "user_id", "o_orderkey", "o_totalprice")


@query(
    "q28_salted_user_counts",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS total_value,
           CAST(max(event_id) AS BIGINT) AS max_event_id
    FROM events
    GROUP BY user_id
    """,
)
def q28_salted_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-tolerant aggregation: two-phase salted groupBy
    (operators.joins.salted_aggregate) — a hot user's rows spread over 16
    salt buckets before the true-key combine.  The result is identical to a
    plain GROUP BY (the oracle), which is exactly the point: salting changes
    the shuffle shape, never the answer."""
    from bigquack_spark.operators.joins import salted_aggregate

    e = t(spark, sf_dir, "events")
    return salted_aggregate(
        e,
        keys=["user_id"],
        aggs={
            "n_events": (F.count(F.lit(1)), F.sum),
            "total_value": (F.sum("value"), F.sum),
            "max_event_id": (F.max("event_id"), F.max),
        },
        salt_buckets=16,
    )


SKETCH_K = 16
_POW52 = float(1 << 52)


def _kmv_min_sql(seed: int) -> str:
    """DuckDB: md5 -> 13 hex chars -> uniform double in [0,1)."""
    return (
        f"min(CAST(('0x' || substr(md5(concat('{seed}|', CAST(user_id AS VARCHAR)))"
        f", 1, 13)) AS BIGINT) / {_POW52})"
    )


@query(
    "q48_distinct_sketch",
    oracle=f"""
    SELECT event_type,
           round({SKETCH_K} / ({' + '.join(_kmv_min_sql(s) for s in range(SKETCH_K))}) - 1, 4)
             AS est_distinct_users,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users
    FROM events
    GROUP BY event_type
    """,
)
def q48_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distinct-count sketch (minimum-value estimator): K
    seeded md5 hashes map each user to uniform [0,1); per group, keep the
    per-seed MINIMUM (a pure partial aggregate — the sketch state is K
    doubles regardless of group size, the 100 TB property); estimate
    n ≈ K / Σ(min_s) − 1.

    Unlike HLL/approx_count_distinct (engine-specific sketches that can
    never hash-match), this estimator is bit-identical across engines —
    Spark conv(hex,16,10) and DuckDB ('0x'||hex)::BIGINT parse the same 13
    hex chars to the same 52-bit integer, division by 2^52 is exact, and
    the K-term sum is written in one fixed order on both sides.  The exact
    count rides along to show estimator quality."""
    e = t(spark, sf_dir, "events", columns=["event_type", "user_id"])
    mins = [
        F.min(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{s}|"), F.col("user_id").cast("string"))), 1, 13),
                16, 10,
            ).cast("bigint") / F.lit(_POW52)
        ).alias(f"m{s}")
        for s in range(SKETCH_K)
    ]
    grouped = e.groupBy("event_type").agg(
        *mins, F.countDistinct("user_id").alias("exact_distinct_users")
    )
    total = None
    for s in range(SKETCH_K):
        col = F.col(f"m{s}")
        total = col if total is None else total + col
    return grouped.select(
        "event_type",
        F.round(F.lit(float(SKETCH_K)) / total - 1, 4).alias("est_distinct_users"),
        "exact_distinct_users",
    )


RANGE_JOIN_WINDOW_US = 5 * 60 * 1_000_000  # 5 minutes


@query(
    "q49_range_join",
    oracle=f"""
    SELECT a.event_id AS a, b.event_id AS b,
           CAST(abs(epoch_us(a.ts) - epoch_us(b.ts)) AS BIGINT) AS gap_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {RANGE_JOIN_WINDOW_US}
    """,
)
def q49_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: pairs of same-user events within 5 minutes.  The naive
    non-equi join is a per-user cross product; the bucketed implementation
    (operators.joins.range_join_buckets) joins on (user, time-bucket) with
    adjacent-bucket replication — a pure equi-join with a residual filter,
    shuffle-bounded by bucket occupancy.  Oracle: the plain non-equi join
    (identical result set, different plan shape)."""
    from bigquack_spark.operators.joins import range_join_buckets

    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t_us")
    )
    left = e.select("user_id", F.col("event_id").alias("a"), F.col("t_us").alias("ta"))
    right = e.select("user_id", F.col("event_id").alias("b"), F.col("t_us").alias("tb"))
    pairs = range_join_buckets(
        left, right, on="user_id", left_val="ta", right_val="tb",
        max_distance=RANGE_JOIN_WINDOW_US,
    )
    return (
        pairs.filter(F.col("a") < F.col("b"))
        .select("a", "b", F.abs(F.col("ta") - F.col("tb")).cast("bigint").alias("gap_us"))
        .distinct()
    )


@query(
    "q65_funnel",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE regexp_matches(path, 'view.*click.*purchase'))
                AS BIGINT) AS n_converted,
           CAST(count(*) FILTER (WHERE regexp_matches(path, 'view.*click'))
                AS BIGINT) AS n_engaged
    FROM seq
    """,
)
def q65_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: users whose event sequence contains
    view -> click -> purchase in order.  Per-user paths are built with an
    ORDER-pinned aggregate (ties broken by event_id) and the in-order
    subsequence is a regex over the joined path — one shuffle on user_id,
    the funnel logic is a per-row JVM expression."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us"), "event_id"
    )
    paths = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("t_us", "event_id", "event_type"))),
                    lambda s: s.getField("event_type"),
                ),
                ">",
            ).alias("path")
        )
    )
    return paths.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("path").rlike("view.*click.*purchase").cast("int"))
        .cast("bigint")
        .alias("n_converted"),
        F.sum(F.col("path").rlike("view.*click").cast("int")).cast("bigint").alias("n_engaged"),
    )


@query(
    "q66_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
      FROM events
      GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, CAST(date_trunc('day', e.ts) AS DATE) AS active_day
      FROM events e
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS cohort_size,
           CAST(count(DISTINCT CASE WHEN a.active_day > f.cohort_day
                                    THEN a.user_id END) AS BIGINT) AS n_retained
    FROM firsts f
    JOIN activity a ON a.user_id = f.user_id
    GROUP BY f.cohort_day
    """,
)
def q66_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: group users by first-seen day, count how many come
    back on a later day.  Two aggregates over one user_id shuffle (the
    cohort min and the distinct activity days), then a broadcast-sized join
    of per-user summaries.  Day keys emitted as strings (engine-invariant
    vs ns/us timestamp types)."""
    e = t(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("active_day")
    )
    activity = e.distinct()
    firsts = activity.groupBy("user_id").agg(F.min("active_day").alias("cohort_day"))
    return (
        firsts.join(activity, "user_id")
        .groupBy(F.col("cohort_day").alias("cohort_dt"))
        .agg(
            F.countDistinct("user_id").alias("cohort_size"),
            F.countDistinct(
                F.when(F.col("active_day") > F.col("cohort_day"), F.col("user_id"))
            ).alias("n_retained"),
        )
        .select(  # format on the ~cohort output rows, not per user-day row
            F.date_format("cohort_dt", "yyyy-MM-dd").alias("cohort_day"),
            "cohort_size", "n_retained",
        )
    )


def _hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First rollup tier: hourly partial aggregates (the materialized
    'continuous aggregate' a hypertable would maintain)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(  # format on the ~K hourly rows AFTER the agg (q21 lever)
            F.date_format("hour_ts", "yyyy-MM-dd HH:00:00").alias("hour_key"),
            "event_type", "n_events", "total_value", "min_value", "max_value",
        )
    )


@query(
    "q67_hierarchical_rollup",
    oracle="""
    SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day_key,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS total_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q67_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: the DAILY tier is re-aggregated
    FROM THE HOURLY TIER (sum of sums, min of mins, max of maxes), never
    from raw — the continuous-aggregate maintenance pattern where each tier
    reads the one below (24x less data than raw).  The oracle computes daily
    straight from raw rows: matching proves the algebraic re-aggregation is
    lossless."""
    hourly = _hourly_rollup(spark, sf_dir)
    return (
        hourly.groupBy(
            F.date_format(F.to_timestamp("hour_key"), "yyyy-MM-dd").alias("day_key"),
            "event_type",
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("total_value").alias("total_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


@query(
    "q74_variant_props",
    oracle="""
    SELECT event_type,
           CAST(floor(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS INTEGER) AS k_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max
    FROM events
    GROUP BY 1, 2
    """,
)
def q74_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's native VARIANT type: parse_json
    once into a binary variant, then typed variant_get extraction — the
    scale path for schema-on-read JSON (the variant encoding is decoded
    columnar-side, no per-query string re-parsing, unlike q20's
    get_json_object).  SURVEY §1.3 maps the reference's JSON type to
    "StringType + get_json_object"; VARIANT is the modern upgrade of that
    row.  One shuffle on the (event_type, bucket) aggregate; DuckDB oracle
    reads the same fields with its JSON extension.  Bucketing uses explicit
    floor() on both engines — DuckDB's double->int CAST rounds half-to-even
    while Spark's truncates, so a bare CAST(k/10 AS INT) diverges."""
    e = t(spark, sf_dir, "events", columns=["event_type", "props"])
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        e.withColumn("k", k)
        .groupBy(
            "event_type",
            F.floor(F.col("k") / F.lit(10)).cast("int").alias("k_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@query(
    "q94_scd2_user_state",
    oracle="""
    WITH changes AS (
      SELECT user_id, event_type AS state, ts,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state,
             event_id
      FROM events
    ),
    starts AS (
      SELECT user_id, state, ts AS valid_from, event_id
      FROM changes
      WHERE prev_state IS NULL OR prev_state <> state
    ),
    versioned AS (
      SELECT user_id, state, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
               AS valid_to,
             row_number() OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
               AS version
      FROM starts
    )
    SELECT user_id, state,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           coalesce(strftime(valid_to, '%Y-%m-%d %H:%M:%S'), 'current') AS valid_to,
           CAST(version AS INTEGER) AS version
    FROM versioned
    """,
)
def q94_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from an event log: collapse each user's
    event stream into contiguous state intervals (valid_from, valid_to,
    version) — the change-data-capture -> warehouse-dimension shape.  Two
    windows over ONE user_id shuffle (lag to detect changes, lead+row_number
    to close intervals); ties broken by event_id so versioning is
    deterministic.  Time keys emitted as formatted strings per the
    FIXTURES §C nanos rules."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.select(
        "user_id", F.col("event_type").alias("state"), "ts", "event_id",
        F.lag("event_type").over(w).alias("prev_state"),
    )
    starts = changes.filter(
        F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state"))
    ).select("user_id", "state", F.col("ts").alias("valid_from"), "event_id")
    wv = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return (
        starts.select(
            "user_id", "state",
            F.lead("valid_from").over(wv).alias("valid_to_ts"),
            F.row_number().over(wv).cast("int").alias("version"),
            "valid_from",
        )
        .select(
            "user_id", "state",
            F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.coalesce(
                F.date_format("valid_to_ts", "yyyy-MM-dd HH:mm:ss"), F.lit("current")
            ).alias("valid_to"),
            "version",
        )
    )


@query(
    "q100_touch_attribution",
    oracle="""
    SELECT user_id,
           arg_min(event_type, printf('%020d%019d', epoch_us(ts), event_id))
             AS first_touch,
           arg_max(event_type, printf('%020d%019d', epoch_us(ts), event_id))
             AS last_touch,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
             AS n_purchases,
           sum(value) FILTER (WHERE event_type = 'purchase') AS purchase_value
    FROM events
    GROUP BY user_id
    """,
)
def q100_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style touch attribution: per user, the FIRST and LAST
    event type on the timeline (min_by/max_by — the argmin/argmax aggregate
    surface) plus purchase conversions.  The order key is a zero-padded
    (epoch_us, event_id) string, so lexicographic == chronological and the
    pick is deterministic cross-engine even for same-microsecond events.
    One hash aggregate, map-side combinable — no window, no sort of the
    full event log."""
    e = t(spark, sf_dir, "events")
    # %019d covers the full non-negative BIGINT id range — a narrower pad
    # silently breaks lexicographic==numeric once ids outgrow it
    key = F.format_string("%020d%019d", F.unix_micros("ts"), F.col("event_id"))
    is_purchase = F.col("event_type") == "purchase"
    return e.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_touch"),
        F.max_by("event_type", key).alias("last_touch"),
        F.sum(is_purchase.cast("bigint")).cast("bigint").alias("n_purchases"),
        F.sum(F.when(is_purchase, F.col("value"))).alias("purchase_value"),
    )


_DAY_US = 86_400 * 1_000_000


@query(
    "q102_login_streaks",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day
      FROM events
    ),
    islands AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island, CAST(count(*) AS BIGINT) AS streak_len
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(max(streak_len) AS BIGINT) AS longest_streak,
           CAST(sum(streak_len) AS BIGINT) AS n_active_days
    FROM streaks GROUP BY user_id
    """,
)
def q102_login_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, the longest run of CONSECUTIVE active
    days.  The island key is day - row_number() — constant within a
    consecutive run, shifts at every gap — the classic streak idiom that
    needs no self-join and no iteration.  Day ids are integer epoch-day
    divisions of the microsecond epoch (engine-invariant); one shuffle on
    user_id serves the distinct, the window, and both aggregates."""
    e = t(spark, sf_dir, "events")
    days = (
        e.select(
            "user_id",
            F.floor(F.unix_micros("ts") / _DAY_US).cast("bigint").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    streaks = (
        days.withColumn("island", F.col("day") - F.row_number().over(w))
        .groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).cast("bigint").alias("streak_len"))
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("bigint").alias("longest_streak"),
        F.sum("streak_len").cast("bigint").alias("n_active_days"),
    )


@query(
    "q104_rolling_24h_rate",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_DAY_US} PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_24h
    FROM events
    """,
)
def q104_rolling_24h_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding RANGE-frame window: for every event, how many events the
    same user fired in the trailing 24 hours — the per-entity rate signal
    behind abuse throttles and bot heuristics.  RANGE (value-based) frames
    differ from ROWS frames exactly when events bunch: the frame is bounded
    by the microsecond clock, not a row count.  Frame arithmetic on BIGINT
    epochs is engine-exact; same-timestamp peers count together in both
    engines (RANGE includes peers), so no tiebreak is needed."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_DAY_US, 0)
    )
    return e.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_24h"),
    )


@query(
    "q109_time_weighted_value",
    oracle="""
    SELECT user_id,
           CAST(sum(held_us) AS BIGINT) AS total_us,
           sum(value * held_us) AS weighted_sum
    FROM (
      SELECT user_id, value,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) - epoch_us(ts) AS held_us
      FROM events
    )
    WHERE held_us IS NOT NULL
    GROUP BY user_id
    """,
)
def q109_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted aggregation (the TWAP shape): each event's value is
    weighted by how long it was the user's CURRENT value — lead(ts) - ts
    on integer microsecond epochs, with event_id as tiebreak.  The last
    (open-ended) interval is excluded, matching the bounded-interval
    definition.  One user-keyed shuffle serves the window and the
    aggregate; weights are exact BIGINTs, so only the final float product
    rides the 9-digit canonicalization."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    held = (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("held_us")
    return (
        e.select("user_id", "value", held)
        .filter(F.col("held_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum("held_us").cast("bigint").alias("total_us"),
            F.sum(F.col("value") * F.col("held_us")).alias("weighted_sum"),
        )
    )


@query(
    "q110_rolling_7d_distinct_users",
    oracle=f"""
    WITH activity AS (
      SELECT DISTINCT CAST(epoch_us(ts) // {_DAY_US} AS BIGINT) AS day, user_id
      FROM events
    ),
    spine AS (SELECT DISTINCT day FROM activity)
    SELECT s.day,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS dau7
    FROM spine s JOIN activity a
      ON a.day BETWEEN s.day - 6 AND s.day
    GROUP BY s.day
    """,
)
def q110_rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per active day (the WAU/DAU shape).
    Spark has no COUNT(DISTINCT) over windows, so this is the idiomatic
    rewrite: dedupe to (day, user) activity pairs, explode each pair into
    the <= 7 trailing windows it contributes to, and EQUI-join the day
    spine before counting distinct users.  The explosion factor is the
    window length applied to the per-day distinct set (already orders of
    magnitude smaller than the log), and the join hashes on the day key —
    no nested-loop comparison of spine x activity ever plans."""
    e = t(spark, sf_dir, "events")
    activity = (
        e.select(
            F.floor(F.unix_micros("ts") / _DAY_US).cast("bigint").alias("day"),
            "user_id",
        )
        .distinct()
    )
    # Explode each activity day into the <=7 trailing windows it belongs
    # to, then EQUI-join the spine: hash shuffle on the day key.  A BETWEEN
    # join would plan BroadcastNestedLoopJoin — days x activity predicate
    # evaluations — exactly the non-equi trap this rewrite avoids.
    contrib = activity.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("wday"),
        "user_id",
    )
    spine = activity.select(F.col("day").alias("wday")).distinct()
    return (
        contrib.join(spine, "wday")
        .groupBy(F.col("wday").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("dau7"))
    )


_EWMA_FRAME = 16  # trailing events per EWMA, alpha = 1/2


@query(
    "q111_ewma_value",
    oracle=f"""
    SELECT event_id, user_id,
           list_reduce(l, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
    FROM (
      SELECT event_id, user_id,
             list(CAST(value AS DOUBLE)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN {_EWMA_FRAME - 1} PRECEDING AND CURRENT ROW
             ) AS l
      FROM events
    )
    """,
)
def q111_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event EWMA (alpha = 1/2) of the user's value over the trailing
    ``_EWMA_FRAME`` events: the windowed-list + higher-order-fold surface.  The frame's
    ordered values fold left with acc/2 + x/2 — alpha a power of two keeps
    every multiplication exact, and both engines fold in identical frame
    order (init = oldest element, matching DuckDB's list_reduce), so the
    result is bit-reproducible, not just tolerance-close.  The recurrence
    never leaves the row: one user-keyed shuffle, no iteration, state
    bounded by the frame length at any scale."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(-(_EWMA_FRAME - 1), 0)
    )
    lst = F.collect_list(F.col("value").cast("double")).over(w)
    framed = e.select("event_id", "user_id", lst.alias("l"))
    ewma = F.aggregate(
        F.slice("l", 2, F.size("l") - 1),
        F.element_at("l", 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return framed.select("event_id", "user_id", ewma.alias("ewma"))


_MEDIAN_FRAME = 15


@query(
    "q113_rolling_median",
    oracle=f"""
    SELECT event_id, user_id,
           median(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN {_MEDIAN_FRAME - 1} PRECEDING AND CURRENT ROW
           ) AS med
    FROM events
    """,
)
def q113_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median of the user's trailing ``_MEDIAN_FRAME`` values.  Spark has no
    percentile-over-window, so the idiom is: collect the frame into an
    array, sort it, index the middle (averaging the two middles for even
    frames) — exact, not approximate, and state is frame-bounded.  DuckDB's
    native windowed median interpolates the same way, so results agree
    bit-for-bit under canonicalization.  Same single user-keyed shuffle as
    every other event window here."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(-(_MEDIAN_FRAME - 1), 0)
    )
    framed = e.select(
        "event_id", "user_id",
        F.array_sort(F.collect_list(F.col("value").cast("double")).over(w)).alias("l"),
    )
    n = F.size("l")
    # collect_list drops NULLs: an all-NULL frame is an empty array, whose
    # median is NULL (DuckDB agrees) — guard it or the even branch would
    # evaluate element_at(l, 0) and raise INVALID_INDEX_OF_ZERO.
    med = F.when(
        n == 0, F.lit(None).cast("double")
    ).when(
        n % 2 == 1, F.element_at("l", ((n + 1) / 2).cast("int"))
    ).otherwise(
        (
            F.element_at("l", (n / 2).cast("int"))
            + F.element_at("l", (n / 2 + 1).cast("int"))
        )
        / 2.0
    )
    return framed.select("event_id", "user_id", med.alias("med"))


@query(
    "q116_hypertable_rollup",
    oracle="""
    SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d') AS day_key,
           strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP), '%Y-%m-%d %H:00:00') AS hour_key,
           CAST(GROUPING(day_key, hour_key) AS BIGINT) AS lvl,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           sum(value) AS total_value
    FROM events
    GROUP BY ROLLUP(day_key, hour_key)
    """,
)
def q116_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (the continuous-aggregate
    shape): hourly, daily, and grand-total tiers of the event stream in ONE
    pass via ROLLUP(day, hour) — lvl 0 = hour rows, 1 = day rows, 3 = grand
    total, same encoding in both engines.  Spark expands the grouping sets
    map-side and aggregates partially before the single shuffle, so the
    multi-tier rollup costs the same exchange as a flat hourly groupBy;
    at 100 TB the day tier rides along for free instead of a second scan.
    Bucket keys are formatted strings — engine-invariant vs timestamp
    physical types.  The rollup groups by the truncated TIMESTAMPS and
    formats the strings on the ~K output rows AFTER the agg (r12, the q21
    format-after-agg lever): grouping by the formatted string paid two
    per-input-row date_formats on the full scan; trunc-then-format is
    injective per bucket and date_format(NULL) is NULL, so the rollup's
    grouped-out tiers and every key string are identical."""
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            F.date_trunc("day", "ts").alias("day_ts"),
            F.date_trunc("hour", "ts").alias("hour_ts"),
            "user_id", "value",
        )
        .rollup("day_ts", "hour_ts")
        .agg(
            F.grouping_id().cast("bigint").alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.date_format("day_ts", "yyyy-MM-dd").alias("day_key"),
            F.date_format("hour_ts", "yyyy-MM-dd HH:00:00").alias("hour_key"),
            "lvl", "n_events", "n_users", "total_value",
        )
    )


@query(
    "q122_hourly_percentile_bands",
    oracle="""
    SELECT strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP), '%Y-%m-%d %H:00:00') AS hour_key,
           CAST(count(*) AS BIGINT) AS n_events,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def q122_hourly_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-report shape: exact P50/P95/P99 of the value distribution
    per hour bucket.  Spark's ``percentile`` and DuckDB's ``quantile_cont``
    share the same linear-interpolation definition over the sorted group,
    so the doubles agree exactly (cf. q47's global version).  One shuffle
    on the hour key; exact percentiles hold whole groups — at 100 TB the
    approx_percentile sketch (q62 family) is the bounded-memory variant,
    this is the exact reporting tier."""
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("percentile(value, 0.5D)").alias("p50"),
            F.expr("percentile(value, 0.95D)").alias("p95"),
            F.expr("percentile(value, 0.99D)").alias("p99"),
        )
        .select(  # format on the ~K output rows, not the scan (q21 lever)
            F.date_format("hour_ts", "yyyy-MM-dd HH:00:00").alias("hour_key"),
            "n_events", "p50", "p95", "p99",
        )
    )


@query(
    "q123_asof_next_order",
    oracle="""
    SELECT e.event_id, e.user_id, m.o_orderkey, m.o_totalprice
    FROM events e
    LEFT JOIN LATERAL (
      SELECT o.o_orderkey, o.o_totalprice
      FROM orders o
      WHERE o.o_custkey = e.user_id
        AND epoch_us(o.o_orderdate) >= epoch_us(e.ts)
      ORDER BY o.o_orderdate ASC, o.o_orderkey DESC
      LIMIT 1
    ) m ON true
    """,
)
def q123_asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each event, the user's EARLIEST order at or
    after the event time — the look-ahead twin of q24 (label assignment,
    outcome attribution).  Same union-and-carry construction, scanned in
    descending time so the carry window holds the nearest FUTURE order;
    identical one-shuffle O(1)-state plan.  Oracle: per-row LATERAL with
    ascending order and the operator's greatest-key tiebreak at equal
    timestamps."""
    from bigquack_spark.operators.joins import asof_join

    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od_us"),
        "o_orderkey", "o_totalprice",
    )
    return asof_join(
        e, o, on="user_id", left_ts="t_us", right_ts="od_us",
        right_cols=["o_orderkey", "o_totalprice"],
        direction="forward", right_tiebreak="o_orderkey",
    ).select("event_id", "user_id", "o_orderkey", "o_totalprice")


@query(
    "q135_event_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             list(event_type ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_paths
    FROM (
      SELECT array_to_string(s[i:i+2], '>') AS path
      FROM (SELECT s, unnest(range(1, len(s) - 1)) AS i FROM seq WHERE len(s) >= 3)
    )
    GROUP BY path
    ORDER BY n_paths DESC, path
    LIMIT 15
    """,
)
def q135_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path mining: top 3-step event-type sequences within a
    (user, day) session — the funnel-discovery complement to q65's fixed
    funnel (there the steps are given; here they're mined).  One shuffle
    builds the ordered per-session sequence (array_sort over collected
    (ts, event_id, type) structs — a deterministic total order both
    engines replay); the trigram expansion is a pure per-row projection;
    the count is the second, map-side-combinable shuffle whose keys are
    the bounded path vocabulary, not the event log.  Top-k via
    TakeOrderedAndProject with the path string as tiebreak."""
    e = t(spark, sf_dir, "events", columns=["user_id", "ts", "event_id", "event_type"])
    seq = (
        # the day key never reaches the output — date_trunc groups the same
        # calendar buckets without paying a per-row string format (q21 lever)
        e.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s.getField("event_type"),
            ).alias("s")
        )
        .filter(F.size("s") >= 3)
    )
    tri = F.transform(
        F.sequence(F.lit(0), F.size("s") - 3),
        lambda i: F.concat_ws(">", F.get(F.col("s"), i), F.get(F.col("s"), i + 1), F.get(F.col("s"), i + 2)),
    )
    return (
        seq.select(F.explode(tri).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(15)
    )


@query(
    "q165_funnel_latency",
    oracle="""
    WITH clicks AS (
      SELECT user_id, epoch_us(ts) AS c_us, event_id
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase'
    ),
    conv AS (
      SELECT c.user_id, c.c_us, c.event_id,
             min(p.p_us) AS first_p_us
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id AND p.p_us >= c.c_us
      GROUP BY c.user_id, c.c_us, c.event_id
    ),
    per_user AS (
      SELECT user_id, min(first_p_us - c_us) AS best_latency_us FROM conv GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converting_users,
           CAST(quantile_cont(best_latency_us, 0.5) AS DOUBLE) AS p50_us,
           CAST(quantile_cont(best_latency_us, 0.9) AS DOUBLE) AS p90_us
    FROM per_user
    """,
)
def q165_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion latency: for every click, the time to that
    user's next purchase; per user the best (minimum) latency; corpus
    p50/p90 — the "how long does the funnel take" number next to q65's
    "how many convert" count.

    The click->next-purchase resolution is an equi-join on user_id with
    a range residual folded into a min-aggregate (one shuffle on the
    user key, the same exchange the per-user reduction reuses) — never
    a time-range explosion.  All latencies are exact BIGINT microsecond
    differences; the percentiles are the q134-style exact interpolated
    kind over integer operands, so both engines interpolate identical
    doubles.  At scale the join benefits from AQE skew splitting on hot
    users, and the final percentile runs over one row per converting
    user."""
    e = t(spark, sf_dir, "events", columns=["user_id", "event_type", "ts", "event_id"])
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us"), "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p_us")
    )
    conv = (
        clicks.join(purchases, "user_id")
        .filter(F.col("p_us") >= F.col("c_us"))
        .groupBy("user_id", "c_us", "event_id")
        .agg(F.min("p_us").alias("first_p_us"))
    )
    per_user = conv.groupBy("user_id").agg(
        F.min(F.col("first_p_us") - F.col("c_us")).alias("best_latency_us")
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_converting_users"),
        F.expr("percentile(best_latency_us, 0.5)").cast("double").alias("p50_us"),
        F.expr("percentile(best_latency_us, 0.9)").cast("double").alias("p90_us"),
    )


@query(
    "q170_scd2_temporal_lookup",
    oracle="""
    WITH u AS (
      SELECT user_id, epoch_us(ts) AS us, 0 AS is_left, event_id AS tie,
             event_type AS state, CAST(NULL AS DOUBLE) AS val
      FROM events WHERE event_type <> 'purchase'
      UNION ALL
      SELECT user_id, epoch_us(ts), 1, event_id, NULL, value
      FROM events WHERE event_type = 'purchase'
    ),
    carried AS (
      SELECT *,
             last_value(state IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, is_left, tie
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctx_state
      FROM u
    )
    SELECT coalesce(ctx_state, 'none') AS ctx_state,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM carried WHERE is_left = 1
    GROUP BY coalesce(ctx_state, 'none')
    """,
)
def q170_scd2_temporal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) dimension lookup — the fact-to-SCD2 join:
    each purchase is attributed to the user's state version valid AT the
    purchase timestamp, where the versions are the q94-style intervals of
    the user's most recent non-purchase event type.  Executed as
    operators.joins.asof_join (union-and-carry, ONE user_id shuffle, O(1)
    window state) rather than an interval-containment BETWEEN join — the
    range join degenerates to per-key cross products on hot users, the
    as-of carry never does.  Purchases before any context event fall into
    'none' (an open lower bound, preserved explicitly).  The oracle
    replays the identical carry in SQL over exact microsecond epochs, so
    tie-breaks (state change and purchase at the same µs) match
    bit-for-bit.  At 100 TB: the dim and fact shuffle once each on
    user_id; no driver state, no replication."""
    from bigquack_spark.operators.joins import asof_join

    e = t(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "event_type", "value"])
    us = F.unix_micros("ts")
    ctx = e.filter(F.col("event_type") != "purchase").select(
        "user_id", us.alias("us"), F.col("event_type").alias("state"), "event_id"
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("us"), "event_id", "value"
    )
    looked = asof_join(
        pur, ctx, on="user_id", left_ts="us", right_ts="us",
        right_cols=["state", "event_id"], direction="backward",
        right_tiebreak="event_id",
    )
    return (
        looked.groupBy(F.coalesce("state", F.lit("none")).alias("ctx_state"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


@query(
    "q177_json_schema_profile",
    oracle="""
    WITH kv AS (
      SELECT event_type,
             unnest(json_keys(props)) AS key,
             props
      FROM events WHERE props IS NOT NULL
    ),
    typed AS (
      SELECT event_type, key,
             json_extract_string(props, '$.' || key) AS sval,
             json_type(json_extract(props, '$.' || key)) IN
               ('INTEGER', 'UBIGINT', 'BIGINT', 'DOUBLE') AS is_num
      FROM kv
    )
    SELECT event_type, key,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN is_num THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
           CAST(count(DISTINCT sval) AS BIGINT) AS n_distinct,
           CAST(min(CASE WHEN is_num THEN CAST(sval AS BIGINT) END) AS BIGINT) AS min_num,
           CAST(max(CASE WHEN is_num THEN CAST(sval AS BIGINT) END) AS BIGINT) AS max_num
    FROM typed
    GROUP BY event_type, key
    """,
)
def q177_json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema-drift audit: per (event_type, JSON key) —
    occurrence count, numeric rate, distinct-value cardinality, numeric
    range.  The producer-contract monitor for a JSON property bag: a new
    key, a key that flips from numeric to string, or a cardinality
    explosion all surface as row-level diffs between daily runs.  Keys
    are discovered DYNAMICALLY (from_json to map<string,string> +
    explode(map_keys), ≅ DuckDB json_keys/unnest), not hardcoded paths —
    this is the schema-free complement of q20's fixed-path extraction.
    One (event_type, key)-keyed shuffle; numeric detection is a cast
    probe on both engines (Spark try-cast semantics == CASE-gated CAST).
    At 100 TB the map explode multiplies rows by keys-per-object (bounded
    by producer schema width), all map-side."""
    e = t(spark, sf_dir, "events", columns=["event_type", "props"])
    m = e.filter(F.col("props").isNotNull()).select(
        "event_type",
        F.from_json("props", "map<string,string>").alias("kv"),
    )
    kv = m.select("event_type", F.explode("kv").alias("key", "sval"))
    num = F.col("sval").cast("bigint")
    typed = kv.select(
        "event_type", "key", "sval",
        (num.isNotNull() | F.col("sval").cast("double").isNotNull()).alias("is_num"),
    )
    return typed.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_num"), 1).otherwise(0)).cast("long").alias("n_numeric"),
        F.count_distinct("sval").alias("n_distinct"),
        F.min(F.when(F.col("is_num"), num)).alias("min_num"),
        F.max(F.when(F.col("is_num"), num)).alias("max_num"),
    )


@query(
    "q183_linear_attribution",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    purchases AS (
      SELECT user_id, sid, event_id AS pid, us AS pus,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM sess WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, sid, event_id AS tid, us AS tus, event_type
      FROM sess WHERE event_type <> 'purchase'
    ),
    pairs AS (
      SELECT p.pid, p.value_cents, t.event_type
      FROM purchases p
      JOIN touches t ON t.user_id = p.user_id AND t.sid = p.sid
       AND (t.tus < p.pus OR (t.tus = p.pus AND t.tid < p.pid))
    ),
    shared AS (
      SELECT pid, event_type,
             CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) AS n_touch,
             value_cents
      FROM pairs
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(value_cents * 10000 // n_touch) AS BIGINT) AS attributed_ucents
    FROM shared
    GROUP BY event_type
    """,
)
def q183_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value is split
    equally across the touches (non-purchase events) that precede it in
    the SAME 30-minute session, answering 'which touchpoint types drive
    revenue' without last-touch bias (q100 is the single-touch
    first/last form).  Sessionization reuses q22's gap-flag cumsum (one
    user_id shuffle); the purchase->touch pairing is a (user, session)
    equi-join whose fan-out is bounded by session length, never
    cross-session; per-purchase shares are exact integer micro-cents
    (floor division — the residual < n_touch µ¢ per purchase is
    documented, not silently float-smeared), so sums are BIGINT-exact on
    both engines.  Total-order tiebreak (ts, event_id) decides
    same-microsecond touches deterministically."""
    e = t(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "event_type", "value"])
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = e.select(
        "user_id", "event_id", "event_type", "value", us.alias("us")
    ).withColumn(
        "new_s",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = seq.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    purchases = sess.filter(F.col("event_type") == "purchase").select(
        "user_id", "sid", F.col("event_id").alias("pid"), F.col("us").alias("pus"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    touches = sess.filter(F.col("event_type") != "purchase").select(
        "user_id", "sid", F.col("event_id").alias("tid"), F.col("us").alias("tus"),
        "event_type",
    )
    pairs = purchases.join(touches, ["user_id", "sid"]).filter(
        (F.col("tus") < F.col("pus"))
        | ((F.col("tus") == F.col("pus")) & (F.col("tid") < F.col("pid")))
    )
    wp = Window.partitionBy("pid")
    shared = pairs.select(
        "pid", "event_type", "value_cents",
        F.count(F.lit(1)).over(wp).alias("n_touch"),
    )
    return shared.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(
            (F.col("value_cents") * 10000 / F.col("n_touch")).cast("long")
        ).alias("attributed_ucents"),
    )


@query(
    "q184_behavioral_entropy",
    oracle="""
    WITH tr AS (
      SELECT user_id,
             event_type || '>' || lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS bigram
      FROM events
    ),
    cnt AS (
      SELECT user_id, bigram, CAST(count(*) AS BIGINT) AS c
      FROM tr WHERE bigram IS NOT NULL GROUP BY user_id, bigram
    ),
    folded AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_distinct,
             list_sort(list(CAST(c AS DOUBLE))) AS cl
      FROM cnt GROUP BY user_id
    )
    SELECT user_id, total, n_distinct,
           round(ln(CAST(total AS DOUBLE))
                 - list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(cl, x -> x * ln(x))), (acc, x) -> acc + x)
                   / CAST(total AS DOUBLE), 9) AS entropy_nats
    FROM folded
    WHERE total > 0
    """,
)
def q184_behavioral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy over event-type transition bigrams —
    the bot/monoculture detector: H = ln(T) - Σ c·ln(c)/T, where c are
    the user's bigram counts.  A user cycling one loop scores ~0; a
    diverse explorer scores high.  The float discipline is the
    interesting part: Σ c·ln(c) is a DOUBLE fold whose result depends on
    summation ORDER, so both engines fold over the SORTED count list
    (collect -> array_sort -> sequential aggregate ≅ list_sort ->
    list_reduce) — identical operands, identical order, identical IEEE
    result, no lattice needed for exactness.  The per-user count list is
    bounded by |event types|^2, so the collected array is a few dozen
    doubles.  One user_id shuffle for the transition window, one for the
    count rollup."""
    e = t(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    tr = e.select(
        "user_id",
        F.concat_ws(">", "event_type", F.lead("event_type").over(w)).alias("bigram"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cnt = tr.groupBy("user_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    folded = cnt.groupBy("user_id").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.array_sort(F.collect_list(F.col("c").cast("double"))).alias("cl"),
    )
    fold = F.aggregate(
        F.transform(F.col("cl"), lambda x: x * F.log(x)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return folded.filter(F.col("total") > 0).select(
        "user_id", "total", "n_distinct",
        F.round(
            F.log(F.col("total").cast("double")) - fold / F.col("total").cast("double"), 9
        ).alias("entropy_nats"),
    )


ASOF_TOL_US = 10 * 60 * 1_000_000  # 10 min staleness bound


@query(
    "q187_asof_tolerance",
    oracle=f"""
    WITH u AS (
      SELECT user_id, epoch_us(ts) AS us, 0 AS is_left, event_id AS tie,
             event_type AS state, CAST(NULL AS DOUBLE) AS val
      FROM events WHERE event_type <> 'purchase'
      UNION ALL
      SELECT user_id, epoch_us(ts), 1, event_id, NULL, value
      FROM events WHERE event_type = 'purchase'
    ),
    carried AS (
      SELECT *,
             last_value(state IGNORE NULLS) OVER w AS ctx_state,
             last_value(CASE WHEN is_left = 0 THEN us END IGNORE NULLS)
               OVER w AS ctx_us
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY us, is_left, tie
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CASE WHEN ctx_state IS NOT NULL AND us - ctx_us <= {ASOF_TOL_US}
                THEN ctx_state ELSE 'stale_or_none' END AS ctx_state,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM carried WHERE is_left = 1
    GROUP BY 1
    """,
)
def q187_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join (pandas merge_asof parity, the
    operator's round-2 extension): q170's point-in-time context lookup,
    but a context event older than ``ASOF_TOL_US`` µs (10 min) does NOT
    match — purchases with only stale context land in 'stale_or_none'.
    The staleness gate runs AFTER the carry inside the same window pass
    (the matched right timestamp rides in the carried struct), so the
    plan is byte-identical to q170's: one user_id shuffle, O(1) state,
    no second join.  The fresh-context rate this yields is the feature-
    staleness metric every online-feature-store batch parity job needs."""
    from bigquack_spark.operators.joins import asof_join

    e = t(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "event_type", "value"])
    us = F.unix_micros("ts")
    ctx = e.filter(F.col("event_type") != "purchase").select(
        "user_id", us.alias("us"), F.col("event_type").alias("state"), "event_id"
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("us"), "event_id", "value"
    )
    looked = asof_join(
        pur, ctx, on="user_id", left_ts="us", right_ts="us",
        right_cols=["state", "event_id"], direction="backward",
        right_tiebreak="event_id", tolerance=ASOF_TOL_US,
    )
    return (
        looked.groupBy(
            F.coalesce("state", F.lit("stale_or_none")).alias("ctx_state")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


DUP_EVENT_WINDOW_US = 60 * 1_000_000  # events closer than 60 s can be retries


@query(
    "q192_duplicate_event_audit",
    oracle=f"""
    WITH e AS (
      SELECT event_id, event_type, epoch_us(ts) AS us,
             user_id || '|' || event_type || '|' || coalesce(props, '') AS k
      FROM events
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_suspect_pairs,
           CAST(count(DISTINCT b.event_id) AS BIGINT) AS n_suspect_events
    FROM e a JOIN e b
      ON a.k = b.k AND a.event_id < b.event_id
     AND abs(a.us - b.us) <= {DUP_EVENT_WINDOW_US}
    GROUP BY a.event_type
    """,
)
def q192_duplicate_event_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-event (producer-retry) audit — the idempotency monitor an
    at-least-once event pipeline needs: pairs of events identical on
    (user, type, props) landing within 60 s of each other are suspected
    retries; the later event_id of each pair is the suspect.  Executed
    with operators.joins.range_join_buckets on the composite identity
    key: both sides bucket by floor(ts/window) and each row joins only
    adjacent buckets — a pure equi-join on (key, bucket), NEVER a
    per-key time cross-product, so a hot identity key costs bucket
    occupancy, not its row count squared.  The streaming twin is
    dedup_stream's watermark-bounded dropDuplicates; this is the batch
    forensic that sizes the problem first.  The oracle replays the
    same pairing rule directly."""
    from bigquack_spark.operators.joins import range_join_buckets

    e = t(spark, sf_dir, "events", columns=["event_id", "user_id", "ts", "event_type", "props"])
    keyed = e.select(
        "event_id", "event_type",
        F.unix_micros("ts").alias("us"),
        F.concat_ws("|", F.col("user_id"), F.col("event_type"),
                    F.coalesce(F.col("props"), F.lit(""))).alias("k"),
    )
    a = keyed.select(F.col("k"), F.col("event_id").alias("a_id"),
                     F.col("event_type"), F.col("us").alias("a_us"))
    b = keyed.select(F.col("k"), F.col("event_id").alias("b_id"),
                     F.col("us").alias("b_us"))
    pairs = range_join_buckets(
        a, b, on="k", left_val="a_us", right_val="b_us",
        max_distance=DUP_EVENT_WINDOW_US,
    ).filter(F.col("a_id") < F.col("b_id"))
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_suspect_pairs"),
        F.count_distinct("b_id").alias("n_suspect_events"),
    )


@query(
    "q212_incremental_rollup",
    oracle="""
    WITH latest AS (SELECT CAST(max(CAST(ts AS DATE)) AS DATE) AS d FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events
    GROUP BY event_type
    """,
)
def q212_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (operators.ivm): the
    per-type rollup is computed as TWO partial aggregates — history (all
    days before the latest) and the latest-day delta — merged with the
    algebraic combine (sum+sum, count-as-sum, max).  The oracle is the
    FULL single-pass aggregate, so the hash-match IS the IVM correctness
    theorem: combine(agg(history), agg(delta)) == agg(all), on the exact
    integer lattice (cents, epoch micros) where it holds bitwise.  At
    100 TB the history partial is yesterday's materialized view (key-
    cardinality rows read back from the sink, not a rescan); the daily
    cost is one delta scan + one view-sized merge shuffle — the batch
    twin of ContinuousRollupSink's hourly->daily upsert loop."""
    from bigquack_spark.operators.ivm import merge_agg_partials

    e = t(spark, sf_dir, "events", columns=["ts", "event_type", "value"])
    latest = e.agg(F.max(F.to_date("ts")).alias("d"))
    tagged = e.crossJoin(F.broadcast(latest))

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("total_cents"),
            F.max(F.unix_micros("ts")).cast("long").alias("last_us"),
        )

    history = partial(tagged.filter(F.to_date("ts") < F.col("d")))
    delta = partial(tagged.filter(F.to_date("ts") >= F.col("d")))
    merged = merge_agg_partials(
        [history, delta],
        keys=["event_type"],
        spec={"n_events": "count", "total_cents": "sum", "last_us": "max"},
    )
    return merged.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_cents").cast("long").alias("total_cents"),
        F.col("last_us").cast("long").alias("last_us"),
    )


@query(
    "q214_hll_distinct_rollup",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_exact,
           TRUE AS est_within_5pct,
           TRUE AS merge_matches_oneshot
    FROM events
    GROUP BY event_type
    """,
)
def q214_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type, maintained INCREMENTALLY: per-half
    HLL sketch partials (operators.ivm.distinct_partials) merged with
    hll_union_agg and read with hll_sketch_estimate — the sketch
    completes q212's IVM story for the one aggregate whose raw form is
    holistic (COUNT DISTINCT cannot merge; its sketch can).  Hash-checked
    via the q298 tolerance-boolean pattern (r9 verdict #1): Datasketches
    estimates are engine-specific, so the driver diffs the exact count
    plus the two quality verdicts the estimate must satisfy — within 5%
    of exact, and the merged-halves estimate within 1% of the one-shot
    whole-corpus sketch (the mergeability theorem; the oracle's TRUE
    literals are the contract).  At 100 TB: the per-key state is a 4 KB
    sketch regardless of user cardinality, and the daily update touches
    delta + key-cardinality sketches, never history."""
    from bigquack_spark.operators.ivm import distinct_partials, merge_distinct_partials

    e = t(spark, sf_dir, "events", columns=["ts", "event_type", "user_id"]).select(
        "event_type", "user_id", F.unix_micros("ts").alias("us")
    )
    halves = [e.filter(F.col("us") % 2 == 0), e.filter(F.col("us") % 2 != 0)]
    est = merge_distinct_partials(
        [distinct_partials(h, ["event_type"], "user_id") for h in halves],
        ["event_type"],
    )
    oneshot = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_distinct_exact"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
        .cast("double")
        .alias("est_oneshot"),
    )
    return (
        oneshot.join(est, "event_type")
        .select(
            "event_type",
            "n_distinct_exact",
            (
                F.abs(F.col("n_distinct_est").cast("double") - F.col("n_distinct_exact"))
                <= 0.05 * F.col("n_distinct_exact")
            ).alias("est_within_5pct"),
            (
                F.abs(F.col("n_distinct_est").cast("double") - F.col("est_oneshot"))
                <= 0.01 * F.col("est_oneshot")
            ).alias("merge_matches_oneshot"),
        )
    )


@query(
    "q238_salted_join",
    oracle="""
    WITH profile AS (
      SELECT user_id, min(event_type) AS first_type
      FROM (
        SELECT user_id, event_type,
               row_number() OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS rk
        FROM events
      ) WHERE rk = 1
      GROUP BY user_id
    )
    SELECT e.event_type, p.first_type, CAST(count(*) AS BIGINT) AS n
    FROM events e JOIN profile p ON e.user_id = p.user_id
    GROUP BY e.event_type, p.first_type
    """,
)
def q238_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-invariance contract for the explicit skew-salting join
    (operators.joins.salted_join): the hot-key events stream joins its
    per-user first-touch profile through the SALTED path (key salted
    with a random bucket, small side replicated across buckets) and must
    hash-match the oracle's PLAIN join — salting changes only the
    shuffle shape, never the result, and this query pins that as a
    driver-checked invariant rather than a code comment.  The profile
    side is the q100-style first-touch argmin; the rollup keeps the
    output |types|²-bounded.  When to reach for this instead of AQE's
    skew splitting: a first-stage join directly on a custom source,
    where no runtime statistics exist yet (the docstring case in
    operators/joins.py)."""
    from bigquack_spark.operators.joins import salted_join

    e = t(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    profile = (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("first_type"))
    )
    joined = salted_join(
        e.select("user_id", "event_type"), profile, on="user_id", salt_buckets=8
    )
    return joined.groupBy("event_type", "first_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@query(
    "q267_session_concurrency",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             epoch_us(ts) // 86400000000 AS day,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id, epoch_us(ts) // 86400000000
                   ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
      SELECT user_id, day,
             sum(new_s) OVER (PARTITION BY user_id, day ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid, us
      FROM ev
    ),
    intervals AS (
      SELECT day, min(us) AS s_us, max(us) AS e_us
      FROM sess GROUP BY day, user_id, sid
    ),
    endpoints AS (
      SELECT day, s_us AS us, 1 AS delta FROM intervals
      UNION ALL
      SELECT day, e_us, -1 FROM intervals
    ),
    sweep AS (
      SELECT day, us,
             sum(delta) OVER (PARTITION BY day ORDER BY us, delta
                              ROWS UNBOUNDED PRECEDING) AS active,
             lead(us) OVER (PARTITION BY day ORDER BY us, delta) AS next_us
      FROM endpoints
    )
    SELECT day,
           CAST(count(*) AS BIGINT) / 2 AS n_sessions,
           CAST(max(active) AS BIGINT) AS max_concurrency,
           CAST(COALESCE(sum(CASE WHEN active >= 2 THEN next_us - us END), 0)
                // 1000000 AS BIGINT) AS sec_at_2plus
    FROM sweep GROUP BY day
    """,
)
def q267_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-algebra sweep line: per day, the peak number of CONCURRENT
    user sessions and the seconds spent with >= 2 overlapping — the load
    shape capacity planning reads, and an operator family (interval
    overlap aggregation) nothing else in the registry exercises.
    Sessions are q22's 30-min-gap rule bounded per (user, day) (q253's
    midnight-clip argument keeps every window partition batch-sized);
    each becomes two endpoints (+1 start, -1 end — ends sort before
    starts at a shared instant, so touching sessions don't count as
    concurrent), the running endpoint sum IS the live concurrency, and
    segment durations to the next endpoint accumulate the time-at-depth.
    Every window is day-partitioned; per-day state is sessions-in-a-day
    sized."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "events", columns=["user_id", "ts", "event_id"])
    ev = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    wu = Window.partitionBy("user_id", "day").orderBy("us", "event_id")
    new_s = F.when(
        F.lag("us").over(wu).isNull()
        | ((F.col("us") - F.lag("us").over(wu)) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    sess = ev.withColumn("new_s", new_s).withColumn(
        "sid",
        F.sum("new_s").over(
            Window.partitionBy("user_id", "day")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    intervals = sess.groupBy("day", "user_id", "sid").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    endpoints = intervals.select(
        "day", F.col("s_us").alias("us"), F.lit(1).alias("delta")
    ).unionAll(
        intervals.select("day", F.col("e_us").alias("us"), F.lit(-1).alias("delta"))
    )
    ws = Window.partitionBy("day").orderBy("us", "delta")
    sweep = endpoints.select(
        "day",
        "us",
        F.sum("delta")
        .over(ws.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("active"),
        F.lead("us").over(ws).alias("next_us"),
    )
    return sweep.groupBy("day").agg(
        (F.count(F.lit(1)) / 2).alias("n_sessions"),
        F.max("active").cast("long").alias("max_concurrency"),
        F.coalesce(
            F.sum(F.when(F.col("active") >= 2, F.col("next_us") - F.col("us"))),
            F.lit(0),
        )
        .cast("long")
        .alias("_gap_us"),
    ).select(
        "day",
        "n_sessions",
        "max_concurrency",
        F.expr("_gap_us div 1000000").cast("long").alias("sec_at_2plus"),
    )


@query(
    "q280_late_data_impact",
    oracle="""
WITH lagged AS (
  SELECT event_type, CAST(event_id % 7 AS BIGINT) AS lag_min FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(CASE WHEN lag_min > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dropped_at_1m,
       round(sum(CASE WHEN lag_min > 3 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dropped_at_3m,
       round(sum(CASE WHEN lag_min > 5 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dropped_at_5m,
       CAST(min(CASE WHEN lag_min <= 1 THEN NULL ELSE lag_min END) AS BIGINT)
         AS min_excess_lag_min
FROM lagged GROUP BY event_type
""",
)
def q280_late_data_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit for the streaming pipeline: with arrival
    lag modeled as a deterministic event_id-keyed delay (0-6 min — the
    injection idiom of q255/q257), report the share of each event type a
    watermarked window (streaming/events.py) would DROP at 1/3/5-minute
    watermarks.  This is the measurement that picks the withWatermark()
    bound: the smallest lag whose drop share meets the pipeline's
    completeness SLO.  Scale shape: one scan, per-type partial counters,
    exchange of n_types rows; the conditional sums all fold map-side."""
    e = t(spark, sf_dir, "events", columns=["event_id", "event_type"])
    lagged = e.select(
        "event_type", (F.col("event_id") % 7).cast("long").alias("lag_min")
    )

    def dropped(w):
        return F.round(
            F.sum(F.when(F.col("lag_min") > w, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        )

    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dropped(1).alias("dropped_at_1m"),
        dropped(3).alias("dropped_at_3m"),
        dropped(5).alias("dropped_at_5m"),
        F.min(F.when(F.col("lag_min") > 1, F.col("lag_min"))).cast("long").alias("min_excess_lag_min"),
    )


@query(
    "q287_activity_seasonality",
    oracle="""
WITH hours AS (
  SELECT CAST((epoch_us(ts) // 3600000000) % 24 AS INTEGER) AS hour_utc
  FROM events
),
per AS (
  SELECT hour_utc, CAST(count(*) AS BIGINT) AS n FROM hours GROUP BY hour_utc
),
shares AS (
  SELECT hour_utc, n,
         round(n / CAST(SUM(n) OVER () AS DOUBLE), 6) AS share,
         round(n / (SUM(n) OVER () / 24.0), 6) AS vs_uniform
  FROM per
)
SELECT hour_utc, n, share, vs_uniform,
       MAX(vs_uniform) OVER () > 1.5 AS peaky
FROM shares
""",
)
def q287_activity_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile — the load model behind trigger
    sizing (streaming micro-batch budgets) and compaction scheduling
    (run maintenance in the trough).  Hours from integer microsecond
    epochs, so the result is timezone-proof across engines and sessions
    (the module rule).  vs_uniform is each hour's load relative to a
    flat profile; a >1.5x peak hour flags the need for time-aware
    autoscaling.  Scale shape: projection + 24-group aggregate, window
    over 24 rows."""
    e = t(spark, sf_dir, "events", columns=["ts"])
    hours = e.select(
        ((F.unix_micros("ts") / 3600000000).cast("long") % 24)
        .cast("int")
        .alias("hour_utc")
    )
    per = hours.groupBy("hour_utc").agg(F.count(F.lit(1)).alias("n"))
    w_all = Window.partitionBy()
    shares = per.select(
        "hour_utc",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(w_all).cast("double"), 6).alias("share"),
        F.round(F.col("n") / (F.sum("n").over(w_all) / 24.0), 6).alias("vs_uniform"),
    )
    return shares.withColumn("peaky", F.max("vs_uniform").over(w_all) > 1.5)


@query(
    "q291_retention_cohorts",
    oracle="""
WITH days AS (
  SELECT user_id, CAST(epoch_us(ts) // 86400000000 - 19723 AS BIGINT) AS day
  FROM events
),
firsts AS (
  SELECT user_id, min(day) // 7 AS cohort_week FROM days GROUP BY user_id
),
activity AS (
  SELECT DISTINCT d.user_id, f.cohort_week, d.day // 7 AS active_week
  FROM days d JOIN firsts f USING (user_id)
),
sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY cohort_week
)
SELECT CAST(a.cohort_week AS INTEGER) AS cohort_week,
       CAST(a.active_week - a.cohort_week AS INTEGER) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_active,
       s.cohort_size,
       round(count(*) / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM activity a JOIN sizes s USING (cohort_week)
GROUP BY a.cohort_week, a.active_week, s.cohort_size
""",
)
def q291_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix (long form): users grouped by
    first-seen week, retention = share of the cohort active in each
    later week — the engagement table every growth dashboard starts
    from, and the labeling base q266's churn definitions refine.  Weeks
    from integer epoch days anchored at 2024-01-01 (day 19723) so both
    engines bucket identically.  Scale shape: first-seen is a per-user
    min (map-side partials), the activity set is a distinct over
    (user, week) — both shuffle user-sized state, never raw events;
    the cohort join broadcasts week-counts."""
    e = t(spark, sf_dir, "events", columns=["user_id", "ts"])
    days = e.select(
        "user_id",
        ((F.unix_micros("ts") / 86400000000).cast("long") - 19723).alias("day"),
    )
    firsts = days.groupBy("user_id").agg(
        (F.min("day") / 7).cast("long").alias("cohort_week")
    )
    activity = (
        days.join(firsts, "user_id")
        .select("user_id", "cohort_week", (F.col("day") / 7).cast("long").alias("active_week"))
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        activity.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "active_week", "cohort_size")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.col("cohort_week").cast("int").alias("cohort_week"),
            (F.col("active_week") - F.col("cohort_week")).cast("int").alias("week_offset"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(F.col("n_active") / F.col("cohort_size").cast("double"), 6).alias("retention"),
        )
    )


@query(
    "q292_window_dedup_rate",
    oracle="""
WITH keyed AS (
  SELECT event_type, user_id,
         CAST(epoch_us(ts) // 300000000 AS BIGINT) AS win
  FROM events
),
per AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT (user_id, win)) AS BIGINT) AS n_keys
  FROM keyed GROUP BY event_type
)
SELECT event_type, n_events, n_keys,
       CAST(n_events - n_keys AS BIGINT) AS n_window_dups,
       round((n_events - n_keys) / CAST(n_events AS DOUBLE), 6) AS dup_rate
FROM per
""",
)
def q292_window_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-dedup sizing audit: share of events that are repeats of
    the same (user, 5-minute window) key per event type — the number
    that sizes dropDuplicatesWithinWatermark state and decides whether
    at-least-once delivery needs a dedup stage at all.  Windows are
    integer epoch buckets (timezone-proof).  Scale shape: one scan; the
    distinct-key count shuffles only the key triple; counts fold
    map-side."""
    e = t(spark, sf_dir, "events", columns=["event_type", "user_id", "ts"])
    keyed = e.select(
        "event_type", "user_id",
        (F.unix_micros("ts") / 300000000).cast("long").alias("win"),
    )
    per = keyed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id", "win").alias("n_keys"),
    )
    return per.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_keys").cast("long").alias("n_keys"),
        (F.col("n_events") - F.col("n_keys")).cast("long").alias("n_window_dups"),
        F.round(
            (F.col("n_events") - F.col("n_keys")) / F.col("n_events").cast("double"), 6
        ).alias("dup_rate"),
    )


@query(
    "q293_latency_percentiles",
    oracle="""
WITH cents AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
ranked AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM cents
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_events,
       round(max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN v END) / 100.0, 2) AS p50,
       round(max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN v END) / 100.0, 2) AS p95,
       round(max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN v END) / 100.0, 2) AS p99,
       round(max(CASE WHEN rn = n THEN v END) / 100.0, 2) AS p100
FROM ranked GROUP BY event_type
""",
)
def q293_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type value percentiles (p50/p95/p99/max) — the SLO
    readout — computed by explicit rank selection on the cents lattice
    so both engines pick the identical order statistic (engine quantile
    functions differ in interpolation; row_number doesn't).  Ties on the
    value cost nothing: equal cents at the target rank yield the same
    cents whatever their internal order.  Scale shape: one per-type sort
    (the exact-percentile floor); at 100 TB this becomes
    approx_percentile on the same lattice — the q252-style approx twin —
    while this exact form stays the audit of record at validation scale."""
    e = t(spark, sf_dir, "events", columns=["event_type", "value"])
    cents = e.select("event_type", F.round(F.col("value") * 100).cast("long").alias("v"))
    w = Window.partitionBy("event_type").orderBy("v")
    wc = Window.partitionBy("event_type")
    ranked = cents.select(
        "event_type", "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    def at(q):
        tgt = F.ceil(F.lit(q) * F.col("n")).cast("long")
        return F.round(F.max(F.when(F.col("rn") == tgt, F.col("v"))) / 100.0, 2)

    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        at(0.50).alias("p50"),
        at(0.95).alias("p95"),
        at(0.99).alias("p99"),
        F.round(F.max(F.when(F.col("rn") == F.col("n"), F.col("v"))) / 100.0, 2).alias("p100"),
    )


@query(
    "q273_user_activity_gini",
    oracle="""
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT n_events,
         row_number() OVER (ORDER BY n_events, user_id) AS i,
         count(*) OVER () AS n,
         sum(n_events) OVER () AS total
  FROM per_user
)
SELECT CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(total) AS BIGINT) AS n_events,
       round(2.0 * sum(i * n_events) / (max(n) * CAST(max(total) AS DOUBLE))
             - (max(n) + 1) / CAST(max(n) AS DOUBLE), 6) AS gini,
       2.0 * sum(i * n_events) / (max(n) * CAST(max(total) AS DOUBLE))
         - (max(n) + 1) / CAST(max(n) AS DOUBLE) > 0.6 AS concentrated
FROM ranked
""",
)
def q273_user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration Gini over per-user event counts — q294's
    Lorenz points collapsed to the single scalar dashboards track, and
    the upstream signal for q279's salting decision (a high Gini on the
    user key IS join skew).  Exact: the rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n runs on integer ranks and
    counts, one final double division.  Scale shape: per-user counts are
    entity-sized; the rank/cumsum orders USERS, never events."""
    e = t(spark, sf_dir, "events", columns=["user_id"])
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    w_all = Window.partitionBy()
    ranked = per_user.select(
        "n_events",
        F.row_number().over(Window.orderBy("n_events", "user_id")).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("n_events").over(w_all).alias("total"),
    )
    gini = (
        2.0 * F.sum(F.col("i") * F.col("n_events"))
        / (F.max("n") * F.max("total").cast("double"))
        - (F.max("n") + 1) / F.max("n").cast("double")
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_users"),
        F.max("total").cast("long").alias("n_events"),
        F.round(gini, 6).alias("gini"),
        (gini > 0.6).alias("concentrated"),
    )


@query(
    "q274_interarrival_cadence",
    oracle="""
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS t_us,
         lag(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY epoch_us(ts), event_id
         ) AS prev_us
  FROM events
),
gaps AS (
  SELECT event_type, t_us - prev_us AS gap_us
  FROM seq WHERE prev_us IS NOT NULL
),
ranked AS (
  SELECT event_type, gap_us,
         row_number() OVER (PARTITION BY event_type ORDER BY gap_us) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM gaps
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                     THEN gap_us END) AS BIGINT) AS median_gap_us,
       CAST(max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                     THEN gap_us END) AS BIGINT) AS p95_gap_us,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us
FROM ranked GROUP BY event_type
""",
)
def q274_interarrival_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival cadence (median/p95/min gap in exact
    microseconds): the throughput fingerprint that sizes streaming
    trigger intervals and complements q270's per-user bot cadence with a
    feed-level view — a collapsing min gap means a replay/burst upstream.
    Exact integer epochs end to end; percentiles by rank selection (the
    q293 rule).  Scale shape: one per-type ordered window for the lag,
    then per-type rank selection — both partition by event_type, so
    parallelism is type-wide and state is per-partition-run bounded."""
    e = t(spark, sf_dir, "events", columns=["event_id", "event_type", "ts"])
    w = Window.partitionBy("event_type").orderBy("t_us", "event_id")
    seq = e.select(
        "event_type", "event_id", F.unix_micros("ts").alias("t_us")
    ).withColumn("prev_us", F.lag("t_us").over(w))
    gaps = seq.filter(F.col("prev_us").isNotNull()).select(
        "event_type", (F.col("t_us") - F.col("prev_us")).alias("gap_us")
    )
    wr = Window.partitionBy("event_type").orderBy("gap_us")
    wc = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type", "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    def at(q):
        tgt = F.ceil(F.lit(q) * F.col("n")).cast("long")
        return F.max(F.when(F.col("rn") == tgt, F.col("gap_us"))).cast("long")

    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        at(0.50).alias("median_gap_us"),
        at(0.95).alias("p95_gap_us"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
    )


@query(
    "q327_shred_inference_twin",
    oracle="""
    WITH x AS (
      SELECT event_type, json_extract_string(props, '$.k') AS kt
      FROM events
    ),
    c AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(kt) AS BIGINT) AS n_present,
             CAST(sum(CASE WHEN regexp_full_match(kt, '-?[0-9]+')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
             CAST(sum(CASE WHEN regexp_full_match(kt,
                    '-?[0-9]+(\\.[0-9]+([eE][+-]?[0-9]+)?|[eE][+-]?[0-9]+)')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_float,
             CAST(sum(CASE WHEN kt IN ('true', 'false')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_bool
      FROM x GROUP BY event_type
    )
    SELECT event_type, n_events, n_present, n_int, n_float,
           CASE WHEN n_present = 0 THEN 'STRING'
                WHEN n_int = n_present THEN 'BIGINT'
                WHEN n_int + n_float = n_present THEN 'DOUBLE'
                WHEN n_bool = n_present THEN 'BOOLEAN'
                ELSE 'STRING' END AS inferred_type
    FROM c
    """,
)
def q327_shred_inference_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable audit of the shred advisor's type promotion
    (planner.recommend_shred_for_workload / _infer_json_field_types): per
    event type, classify the extracted ``$.k`` texts into lexical type
    classes and emit the promotion verdict — all-int -> BIGINT, numeric
    mix (incl. exponent notation) -> DOUBLE, all-boolean -> BOOLEAN,
    anything else (or absent everywhere) -> STRING.  Both engines extract
    the field as TEXT and apply identical fully-anchored regexes (Spark
    ``\\A..\\z`` == DuckDB ``regexp_full_match`` — plain ``$`` would
    accept a trailing newline on the Java side only), so the
    classification is bit-deterministic.  Known delta vs the advisor's
    json.loads-based inference: extraction strips string quotes in BOTH
    engines, so a quoted numeric ({"k": "12"}) is indistinguishable from
    a number here — the advisor sees it as STRING; on such fields this
    audit reports the post-extraction lexical truth, which is the side
    that matters for a typed column serving extraction-shaped queries.
    One scan, one map-side-combined aggregate — the same shape at any
    corpus size (the advisor reads a bounded sample; this is the
    exhaustive pass you run when a typed column's null rate disputes the
    inferred schema)."""
    e = t(spark, sf_dir, "events", columns=["event_type", "props"])
    kt = F.get_json_object("props", "$.k")
    is_int = F.col("kt").rlike(r"\A-?[0-9]+\z")
    is_float = F.col("kt").rlike(
        r"\A-?[0-9]+(\.[0-9]+([eE][+-]?[0-9]+)?|[eE][+-]?[0-9]+)\z"
    )
    is_bool = F.col("kt").isin("true", "false")
    c = e.select("event_type", kt.alias("kt")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("kt").cast("long").alias("n_present"),
        F.sum(F.when(is_int, 1).otherwise(0)).cast("long").alias("n_int"),
        F.sum(F.when(is_float, 1).otherwise(0)).cast("long").alias("n_float"),
        F.sum(F.when(is_bool, 1).otherwise(0)).cast("long").alias("n_bool"),
    )
    verdict = (
        F.when(F.col("n_present") == 0, F.lit("STRING"))
        .when(F.col("n_int") == F.col("n_present"), F.lit("BIGINT"))
        .when(F.col("n_int") + F.col("n_float") == F.col("n_present"), F.lit("DOUBLE"))
        .when(F.col("n_bool") == F.col("n_present"), F.lit("BOOLEAN"))
        .otherwise(F.lit("STRING"))
    )
    return c.select(
        "event_type", "n_events", "n_present", "n_int", "n_float",
        verdict.alias("inferred_type"),
    )
