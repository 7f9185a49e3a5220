"""q21/q68 residual attribution at the 100x tier (r11 verdict #3).

Both queries run exchange-minimal on their landed bucketed layouts yet
hold ~3x the DuckDB ratio at the 100x tier.  This experiment attributes
the residual instead of guessing:

1. **Scan floor** — the noop time of reading exactly the columns each
   query touches from the bucketed table.  Everything above this is
   compute (agg/join), not I/O.
2. **Config sweep** — whole-stage codegen on/off, parquet
   columnarReaderBatchSize {4096 default, 8192, 16384}, reduce-task count
   {4, 8, 16, 32} — the knobs the verdict asked to rule in or out.
3. **Plan variants** —
   q21: the landed frame formats the hour STRING per input row
   (date_format before the aggregate); the variant groups by the
   truncated TIMESTAMP and formats the ~K output rows after the agg —
   identical output, the format cost moves off the 15M-row path.
   q68: broadcast-dimension join order is already optimal; variant pins
   AQE off to measure its overhead on an already-planned query.

Output: one JSON block (medians of 7 noop runs per cell) with a verdict
per query: the best cell, its delta vs the landed baseline, and whether
the residual is attributable (>20% win available) or engine floor.

Run (uncontended): python tools/q21q68_attribution.py [trend_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_TIER = "/tmp/spark_graft_scale/sf0.1x100rg2"


def _timed(df, runs: int = 7) -> float:
    samples = []
    for _ in range(runs):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        samples.append(time.monotonic() - t0)
    return round(statistics.median(samples), 4)


def q21_variant_frame(e):
    """The PRE-r12 q21 body (hour string formatted per input row, BEFORE
    the aggregate) — kept as the comparison cell documenting why
    hourly_events_frame moved the format after the agg (-28.6% measured;
    this is the losing side of that delta)."""
    from pyspark.sql import functions as F

    return (
        e.groupBy(
            F.date_format(
                F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour_key")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("value").alias("total_value"),
        )
    )


def main(trend_dir: str) -> dict:
    from pyspark.sql import functions as F

    from bigquack_spark.pipeline import transfer
    from bigquack_spark.queries.events import hourly_events_frame
    from bigquack_spark.queries.relational import nation_profit_frame
    from bigquack_spark.session import get_spark

    spark = get_spark()
    tables = ("attr_orders", "attr_lineitem", "attr_events")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    transfer(spark, trend_dir, "orders", "attr_orders",
             bucket_by={"cols": ["o_orderkey"], "num_buckets": 32,
                        "sort_cols": ["o_orderkey"]})
    transfer(spark, trend_dir, "lineitem", "attr_lineitem",
             bucket_by={"cols": ["l_orderkey"], "num_buckets": 32,
                        "sort_cols": ["l_orderkey"]})
    transfer(spark, trend_dir, "events", "attr_events",
             bucket_by={"cols": ["user_id"], "num_buckets": 32})

    p = (
        spark.read.parquet(os.path.join(trend_dir, "part.parquet"))
        .filter("p_type = 'PROMO'").select("p_partkey", "p_retailprice")
    )
    s = spark.read.parquet(os.path.join(trend_dir, "supplier.parquet")).select(
        "s_suppkey", "s_nationkey")
    n = spark.read.parquet(os.path.join(trend_dir, "nation.parquet")).select(
        "n_nationkey", "n_name")

    def q68_frame():
        return nation_profit_frame(
            spark.table("attr_lineitem"), p, s, n,
            spark.table("attr_orders").select("o_orderkey", "o_orderdate"),
        )

    def q21_frame():
        return hourly_events_frame(spark.table("attr_events"))

    out: dict = {"tier": trend_dir, "runs_per_cell": 7, "cells": {}}

    def cell(name: str, frame_fn, confs: dict):
        saved = {}
        for k, v in confs.items():
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, str(v))
        try:
            out["cells"][name] = {"confs": confs, "sec": _timed(frame_fn())}
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    # scan floors: exactly the columns each query touches
    base = {"spark.sql.shuffle.partitions": 8}
    cell("q21_scan_floor",
         lambda: spark.table("attr_events").select("ts", "user_id", "value"),
         base)
    cell("q68_scan_floor_lineitem",
         lambda: spark.table("attr_lineitem").select(
             "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
             "l_extendedprice", "l_discount"),
         base)
    cell("q68_scan_floor_orders",
         lambda: spark.table("attr_orders").select("o_orderkey", "o_orderdate"),
         base)

    # landed baselines + knob sweep
    for qname, fn in (("q21", q21_frame), ("q68", q68_frame)):
        cell(f"{qname}_landed", fn, base)
        cell(f"{qname}_codegen_off", fn,
             {**base, "spark.sql.codegen.wholeStage": "false"})
        for bs in (8192, 16384):
            cell(f"{qname}_batch{bs}", fn,
                 {**base, "spark.sql.parquet.columnarReaderBatchSize": bs})
        for parts in (4, 16, 32):
            cell(f"{qname}_parts{parts}", fn,
                 {"spark.sql.shuffle.partitions": parts})
    # plan variants
    cell("q21_format_before_agg",
         lambda: q21_variant_frame(spark.table("attr_events")), base)
    cell("q68_aqe_off", q68_frame,
         {**base, "spark.sql.adaptive.enabled": "false"})
    # warm re-run of the landed cells LAST: each query's first cell pays
    # codegen compile + broadcast build once — landed_again vs landed
    # quantifies that warm-up so knob deltas aren't credited with it
    cell("q21_landed_again", q21_frame, base)
    cell("q68_landed_again", q68_frame, base)

    # verdicts (vs the WARM landed run — the cold first cell pays one-time
    # codegen compile + broadcast build that knobs must not be credited with)
    for qname in ("q21", "q68"):
        landed = out["cells"][f"{qname}_landed_again"]["sec"]
        best = min(
            (
                (v["sec"], k)
                for k, v in out["cells"].items()
                if k.startswith(qname) and "floor" not in k
            ),
        )
        out[f"{qname}_verdict"] = {
            "landed_sec": landed,
            "best_cell": best[1],
            "best_sec": best[0],
            "delta_pct": round(100 * (best[0] - landed) / landed, 1),
            "win_over_20pct": best[0] < 0.8 * landed,
        }
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out


if __name__ == "__main__":
    tier = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_TIER
    print(json.dumps(main(tier), indent=1))
