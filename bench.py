#!/usr/bin/env python
"""Benchmark harness (BASELINE.md §3 protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], reports per-query median of WARM_RUNS warm runs,
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The stdout line stays SHORT (headline totals, aggregate ratio, gate verdict,
three-point ratio trend, load) so a capture of stdout parses it whole; the
full per-tier detail (multifile / 10x crossover / 100x trend tiers, the
ranking lane, per-query DuckDB timings, config echo) is written to
bench_full.json next to this script.

Execution is forced with the noop sink (full plan runs, nothing collected to
the driver) so timings measure the engine, not result transfer.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigquack_spark.queries import QUERIES  # noqa: E402
from bigquack_spark.session import default_parallelism, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_RUNS = int(os.environ.get("BENCH_RUNS", "5"))  # median of 5: robust to ambient noise

#: Headline set: the queries that exercise every engine axis — scan+agg
#: (q01, q06), joins (q03, q05), window (q07, q22), JSON (q20), dedup hash
#: (q30), minhash+banding (q33), ANN (q75 GEMM kernel), text (q50-q53).
#: Every headline query is oracle-paired so the Spark and DuckDB totals
#: cover the same work.  Pairwise O(n^2) verifies (q35, q36) are
#: correctness-tier only.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_revenue_delta",
    "q07_top_customers_per_nation",
    "q20_events_json_extract",
    "q21_events_hourly",
    "q22_sessionize",
    "q24_asof_last_order",
    "q30_dedup_exact",
    "q68_nation_profit",
    "q33_lsh_bucket_stats",
    "q75_ann_gemm_topk",
    "q50_token_stats",
    "q51_quality_signals",
    "q52_lang_id",
    "q53_fingerprint",
    "q116_hypertable_rollup",
    "q118_column_profile",
    "q119_key_skew",
]

#: Scale-path ANN variants: timed and reported under "unpaired_queries" but
#: excluded from the headline total so the metric's query set stays stable
#: across rounds.  (Both gained DuckDB oracles in r10 — the name is
#: historical; the driver hash-checks them like everything else.)
UNPAIRED = [
    "q41_ann_lsh_topk",
    "q42_ann_ivf_topk",
]


def _multifile_copy(src_dir: str) -> str | None:
    """Rewrite the bench tables into a multi-row-group layout under /tmp.

    The driver's parquet is one row group per table, which caps a Spark scan
    at ONE task while DuckDB parallelizes inside the row group — the
    documented structural caveat of the primary metric.  This secondary
    layout (~20k rows per row group, same rows, same schema) is what any
    real ingest produces; both engines are re-timed on it so the comparison
    stays apples-to-apples.  Cached across runs; returns None on any
    failure so the primary metric never depends on it."""
    try:
        import pyarrow.parquet as pq

        dst = os.path.join(
            "/tmp", "spark_graft_rg", os.path.basename(src_dir.rstrip("/"))
        )
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src_dir):
            if not name.endswith(".parquet"):
                continue
            s, d = os.path.join(src_dir, name), os.path.join(dst, name)
            if os.path.exists(d) and pq.read_metadata(d).num_rows == pq.read_metadata(s).num_rows:
                continue
            pq.write_table(pq.read_table(s), d, row_group_size=20_000)
        return dst
    except Exception:
        return None


#: Round-1 verdict: 11 paired queries exceed 2x of DuckDB at sf0.1 purely on
#: Spark's fixed task-launch/exchange floor (~0.1-0.5 s) against sub-second
#: queries — overhead that amortizes with data.  This block demonstrates the
#: crossover instead of asserting it: the fact tables are replicated
#: CROSSOVER_FACTOR x with shifted keys (dims unchanged — realistic growth)
#: and both engines re-timed on the same queries.
CROSSOVER = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_revenue_delta",
    "q07_top_customers_per_nation",
    "q20_events_json_extract",
    "q21_events_hourly",
    "q22_sessionize",
    "q30_dedup_exact",
    "q68_nation_profit",
    "q75_ann_gemm_topk",
    "q118_column_profile",
    "q119_key_skew",
]
CROSSOVER_FACTOR = int(os.environ.get("SPARK_GRAFT_CROSSOVER_FACTOR", "10"))

#: Third point of the ratio trend (r2 verdict #5, extended per r3 verdict #3):
#: the worst-ratio queries re-timed at 100x (only the tables those queries
#: actually scan replicate) to show the Spark/DuckDB ratio still falling as
#: the fixed task floor amortizes.  r3 covered q20/q21/q68; r4 adds the
#: then-worst three at sf0.1 — q118 (29x, orders), q119 (27x, events),
#: q75 (27x, embeddings).
TREND_QUERIES = [
    "q20_events_json_extract",
    "q21_events_hourly",
    "q68_nation_profit",
    "q118_column_profile",
    "q119_key_skew",
    "q75_ann_gemm_topk",
]
TREND_FACTOR = int(os.environ.get("SPARK_GRAFT_TREND_FACTOR", "100"))

#: Per-table key shifts for replica i (replica 0 is the original rows, so
#: bounded query sets like q75's vec_id < N keep their original members).
#: Facts replicate; every other table (the dims) copies through unchanged.
_SCALE_REPLACE = {
    "lineitem": "l_orderkey + {off} AS l_orderkey",
    "orders": "o_orderkey + {off} AS o_orderkey",
    # events also shift time: each replica is a later 90-day epoch of the
    # same users, so sessions/windows grow in count, not in degenerate
    # same-instant pileups.
    "events": "event_id + {off} AS event_id, ts + i * (INTERVAL 90 DAY) AS ts",
    "documents": "doc_id + {off} AS doc_id",
    "embeddings": "vec_id + {off} AS vec_id",
}


def _scaled_copy(src_dir: str, factor: int, tables: set[str] | None = None) -> str | None:
    """Materialize the factor-x dataset under /tmp (cached across runs).

    DuckDB generates it (SELECT * REPLACE over a range join — one pass, no
    driver loop); row groups are sized ~120k rows so Spark scans get real
    task parallelism, the same layout rationale as _multifile_copy.
    ``tables`` restricts WHICH facts replicate (the 100x trend tier scales
    only events/lineitem/orders); everything else copies through."""
    try:
        import duckdb
        import pyarrow.parquet as pq

        dst = os.path.join(
            "/tmp", "spark_graft_scale",
            # rg2: layout revision — small tables get small row groups so
            # Spark scans can parallelize (a parquet row group is the
            # minimum split; a one-group embeddings file pinned the whole
            # GEMM kernel to a single task)
            f"{os.path.basename(src_dir.rstrip('/'))}x{factor}rg2",
        )
        os.makedirs(dst, exist_ok=True)
        con = duckdb.connect()
        for name in sorted(os.listdir(src_dir)):
            if not name.endswith(".parquet"):
                continue
            table = name[: -len(".parquet")]
            s, d = os.path.join(src_dir, name), os.path.join(dst, name)
            repl = _SCALE_REPLACE.get(table)
            if tables is not None and table not in tables:
                repl = None
            want = pq.read_metadata(s).num_rows * (factor if repl else 1)
            if os.path.exists(d) and pq.read_metadata(d).num_rows == want:
                continue
            # Row groups sized so every table yields >= ~10 scan splits:
            # the big facts at 120k rows/group, the small-row-count tables
            # (embeddings: 64-float vectors, documents: text blobs) at
            # counts that give Spark real task parallelism.
            rgs = {"embeddings": 2048, "documents": 8192}.get(table, 122880)
            if repl:
                repl_sql = repl.format(off="i * 100000000")
                con.execute(
                    f"COPY (SELECT t.* REPLACE ({repl_sql}) "
                    f"FROM read_parquet('{s}') t, "
                    f"(SELECT CAST(range AS BIGINT) AS i FROM range({factor})) r "
                    f") TO '{d}' (FORMAT PARQUET, ROW_GROUP_SIZE {rgs})"
                )
            else:
                con.execute(
                    f"COPY (SELECT * FROM read_parquet('{s}')) TO '{d}' "
                    f"(FORMAT PARQUET, ROW_GROUP_SIZE {rgs})"
                )
        con.close()
        return dst
    except Exception:
        return None



def _extension_block(spark, sf_dir: str) -> dict | None:
    """r12 verdict #3: the ~300 registered queries outside the headline/
    unpaired sets are oracle-green but were never individually timed, so
    optimization rounds could not rank them.  This lane times each one at
    the primary sf (one warm-up + one timed noop run — a ranking signal,
    not a headline) and reports per-family medians/totals plus the global
    most-expensive list.  DETAIL-ONLY: nothing here enters the one-line
    JSON or the headline total; the `queries` contract is untouched.
    A wall budget bounds the lane so the driver's bench never times out on
    it; anything not reached is LISTED, not silently dropped."""
    try:
        cpus = default_parallelism()
        if cpus < (os.cpu_count() or cpus):
            # the driver's reduced-core scaling capture re-runs the bench at
            # local[8]; the ranking lane only needs the primary capture and
            # would eat the scaling run's wall budget for nothing
            return {"note": "skipped at reduced core count (scaling capture)"}
        budget = float(os.environ.get("SPARK_GRAFT_EXT_BUDGET_SEC", "420"))
        skip = set(HEADLINE) | set(UNPAIRED)
        names = [n for n in sorted(QUERIES) if n not in skip]
        t0 = time.monotonic()
        walls: dict[str, float] = {}
        errors: dict[str, str] = {}
        not_timed: list[str] = []
        slowest = 0.0  # longest build + warm-up + timed run seen so far
        for name in names:
            # stop before a query that may not finish inside the budget,
            # not only once the budget is already spent
            if time.monotonic() - t0 + slowest > budget:
                not_timed = [
                    n for n in names if n not in walls and n not in errors
                ]
                break
            start = time.monotonic()
            try:
                walls[name] = _timed_noop(QUERIES[name].fn(spark, sf_dir), runs=1)
            except Exception as exc:  # a build/run failure IS a finding
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            slowest = max(slowest, time.monotonic() - start)
        fams: dict[str, list[float]] = {}
        for n, w in walls.items():
            fam = QUERIES[n].fn.__module__.rsplit(".", 1)[-1]
            fams.setdefault(fam, []).append(w)
        return {
            "note": (
                "per-query wall for every registered non-headline query at the "
                "primary sf (1 warm-up + 1 timed noop run each; ranking lane, "
                "not a headline metric), grouped by the queries/ module that "
                "defines each"
            ),
            "n_timed": len(walls),
            "n_errors": len(errors),
            "wall_budget_sec": budget,
            "lane_wall_sec": round(time.monotonic() - t0, 1),
            "not_timed_within_budget": not_timed,
            "family_median_sec": {
                f: round(statistics.median(v), 4) for f, v in sorted(fams.items())
            },
            "family_total_sec": {
                f: round(sum(v), 4) for f, v in sorted(fams.items())
            },
            "family_n": {f: len(v) for f, v in sorted(fams.items())},
            "top15_sec": dict(sorted(walls.items(), key=lambda kv: -kv[1])[:15]),
            "queries_sec": walls,
            "errors": errors or None,
        }
    except Exception:
        return None


def _sf_label(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _timed_noop(df, runs: int = 3) -> float:
    """THE timing protocol, shared by every timed tier and the ranking lane:
    one noop-sink warm-up (codegen + JIT), then the median of ``runs``
    timed noop executions, rounded to 0.1 ms."""
    df.write.mode("overwrite").format("noop").save()
    samples = []
    for _ in range(runs):
        start = time.monotonic()
        df.write.mode("overwrite").format("noop").save()
        samples.append(time.monotonic() - start)
    return round(statistics.median(samples), 4)


def _contended(load_1m: float, cpus: int, host_cpus: int) -> bool:
    """True when the 1-min load leaves fewer than ``cpus / 2`` of the
    host's cores idle for a ``local[cpus]`` run.  At full cores this is
    ``load_1m > cpus / 2``; a reduced-core capture (local[8] on a 32-core
    host) is not read as contended while most of the host sits idle."""
    return load_1m > host_cpus - cpus / 2


def run_spark(
    spark, names: list[str], sf_dir: str = SF_DIR, runs: int | None = None
) -> dict[str, float]:
    """Per-query median of ``runs`` (default WARM_RUNS) re-executions of a
    once-built DataFrame (prepared-statement protocol: the logical plan IS
    the query; analysis happens once, execution is what's timed — mirrors
    timing DuckDB's execute on an already-open connection).  Every query
    in a tier runs on that tier's session confs."""
    return {
        name: _timed_noop(QUERIES[name].fn(spark, sf_dir), runs=runs or WARM_RUNS)
        for name in names
    }


def run_duckdb(sf_dir: str = SF_DIR, names: list[str] = HEADLINE) -> dict[str, float]:
    """Time the DuckDB oracle for every named query that has one — the
    2x envelope denominator (BASELINE.md §3), same host, single process."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    timings: dict[str, float] = {}
    for name in names:
        sql = QUERIES[name].oracle
        if not sql:
            continue
        con.execute(sql).fetchall()  # warm-up
        samples = []
        for _ in range(WARM_RUNS):
            start = time.monotonic()
            con.execute(sql).fetchall()
            samples.append(time.monotonic() - start)
        timings[name] = round(statistics.median(samples), 4)
    con.close()
    return timings


def _ratio(num: float | None, den: float | None, nd: int = 2) -> float | None:
    return round(num / den, nd) if num and den else None


def main() -> None:
    cpus = default_parallelism()
    host_cpus = os.cpu_count() or cpus
    # Contention guard (r12 verdict #1/#2: both r12 driver captures landed on
    # a loaded box and read as a spurious 0.655x regression).  If the 1-min
    # load says the box is busy, retry ONCE after a drain wait before timing;
    # either way the one-line JSON records the load so a contended capture is
    # mechanically discountable instead of forensically.
    load_at_start = [round(x, 2) for x in os.getloadavg()]
    if _contended(load_at_start[0], cpus, host_cpus):
        wait_s = int(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "90"))
        sys.stderr.write(
            f"bench: 1-min load {load_at_start[0]} leaves under {cpus}/2 of "
            f"{host_cpus} cores idle — waiting {wait_s}s for a quiet window (once)\n"
        )
        time.sleep(wait_s)
        load_at_start = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark(
        app_name="bigquack-spark-bench",
        master=f"local[{cpus}]",
        # any managed table a query writes lands in /tmp, never the repo
        warehouse_dir="/tmp/spark_graft_wh",
    )
    spark.sparkContext.setLogLevel("ERROR")
    # AQE stays ON in session.tune() for real deployments (skew splitting,
    # runtime coalescing only pay off with real multi-file data); at the
    # sub-GB bench tier its per-exchange re-planning barrier costs ~30% of
    # each query's wall time while having nothing to adapt.  BASELINE.md §3
    # asks that the setting be recorded, not fixed — see the config echo.
    # pin() holds this against the per-query session.tune() re-apply.
    from bigquack_spark.session import pin

    pin("spark.sql.adaptive.enabled", "false")
    # Shuffle partitions sized to the post-shuffle data, not the cores:
    # sf0.1 exchanges carry a few MB, so task-launch overhead dominates —
    # 8 partitions beat 16 by ~25% on the join-heavy headline queries
    # (measured median-of-5; 4 is within noise of 8).  Recorded in the
    # config echo.  Deployments size this to data via AQE coalescing.
    parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTS", "8"))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    multifile_dir = _multifile_copy(SF_DIR)
    scaled_dir = (
        _scaled_copy(SF_DIR, CROSSOVER_FACTOR) if CROSSOVER_FACTOR > 1 else None
    )
    trend_dir = (
        _scaled_copy(
            SF_DIR, TREND_FACTOR, tables={"events", "lineitem", "orders", "embeddings"}
        )
        if TREND_FACTOR > CROSSOVER_FACTOR
        else None
    )
    try:
        spark_t = run_spark(spark, HEADLINE)
        extra_t = run_spark(spark, UNPAIRED)
        # extension lane AFTER the headline timings (same session, same
        # headline-tier confs) so it cannot pollute them
        extension = _extension_block(spark, SF_DIR)
        mf_spark = run_spark(spark, HEADLINE, multifile_dir) if multifile_dir else {}
        xo_spark: dict[str, float] = {}
        tr_spark: dict[str, float] = {}
        if scaled_dir:
            # crossover runs in the SAME (JIT-hot) session — a fresh JVM
            # pays cold-compile on every query and reads ~2x slower
            # (measured).  Tier confs (round-2 re-measurement, median of 7
            # warm runs per query): 2 MB scan splits beat 8 MB ~2x across
            # the events/fact scans at ~50 MB/table; shuffle partitions at
            # core count for the larger exchanges; broadcast threshold LEFT
            # AT the 10 MB default (the round-1 96 MB raise re-measured as a
            # pessimization); shuffled-hash preferred over sort-merge.
            spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
            spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
            xo_spark = run_spark(spark, CROSSOVER, scaled_dir)
        if trend_dir:
            # 100x tier: splits re-sized to the tier — 2 MB starves 100x
            # scans with task overhead; 32 MB re-measured 1.2-2.3x faster.
            # 9 runs: the sub-second members (q119, q75) sit on the
            # stage-launch floor where ms-level jitter swings their ratio
            # 2x between identical runs (measured r4) — a wider median
            # window is the honest stabilizer.
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
            tr_spark = run_spark(spark, TREND_QUERIES, trend_dir, runs=9)
    finally:
        spark.stop()
    duck_t = run_duckdb()
    mf_duck = run_duckdb(multifile_dir) if multifile_dir else {}
    xo_duck = run_duckdb(scaled_dir, CROSSOVER) if scaled_dir else {}
    tr_duck = run_duckdb(trend_dir, TREND_QUERIES) if trend_dir else {}
    total = round(sum(spark_t.values()), 4)
    duck_total = round(sum(duck_t.values()), 4)
    # Three-point ratio trend for the worst-overhead queries:
    # 1x multifile -> 10x crossover -> 100x trend tier.  Falling = the
    # fixed task-launch floor amortizing with data, the 100 TB claim.
    ratio_trend = {
        n: [
            _ratio(mf_spark.get(n), mf_duck.get(n)),
            _ratio(xo_spark.get(n), xo_duck.get(n)),
            _ratio(tr_spark.get(n), tr_duck.get(n)),
        ]
        for n in TREND_QUERIES
    }
    # the end load includes this run's own Spark and DuckDB work, so only
    # the start load (after the drain wait) says whether the host was busy
    load_end = [round(x, 2) for x in os.getloadavg()]
    contended = _contended(load_at_start[0], cpus, host_cpus)
    full = {
        "metric": "headline_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": spark_t,
        "sf": _sf_label(SF_DIR),
        "duckdb_queries": duck_t,
        "duckdb_total": duck_total,
        "unpaired_queries": extra_t,
        "extension_block": extension,
        "multifile": {
            "note": "same rows re-written at 20k rows/row-group (realistic ingest layout; the primary metric's parquet is one row group per table, capping Spark scans at one task)",
            "total": round(sum(mf_spark.values()), 4),
            "duckdb_total": round(sum(mf_duck.values()), 4),
            "queries": mf_spark,
            "duckdb_queries": mf_duck,
        } if multifile_dir else None,
        "crossover": {
            "note": (
                f"fact tables replicated {CROSSOVER_FACTOR}x with shifted keys (dims unchanged). "
                f"What this block demonstrates is AMORTIZATION, not single-node parity: Spark's "
                f"per-query time grows ~2-3x while the data grows {CROSSOVER_FACTOR}x "
                f"(see growth_vs_data_growth — the fixed task-launch/exchange floor washing out), "
                f"whereas cache-resident DuckDB keeps near-flat times at this tier, so the per-query "
                f"RATIO does not converge on one node.  Single-node vectorized throughput on "
                f"sub-second joins is DuckDB's home game; the engine-level scale path is the "
                f"aggregate <=2x gate, the text/Python family, bucketed layouts (join-input "
                f"exchanges eliminated) and distribution beyond one node — which no local "
                f"bench can show."
            ),
            "factor": CROSSOVER_FACTOR,
            "split_note": (
                "every query runs on the tier-wide confs (2 MB scan splits, "
                "shuffle partitions = cores, shuffled-hash joins preferred)"
            ),
            "total": round(sum(xo_spark.values()), 4),
            "duckdb_total": round(sum(xo_duck.values()), 4),
            "queries": xo_spark,
            "duckdb_queries": xo_duck,
            "ratios": {
                n: _ratio(xo_spark[n], xo_duck[n], 3) for n in xo_spark if xo_duck.get(n)
            },
            # time growth from the 1x multifile tier to the Nx tier,
            # per engine: [spark_growth, duck_growth, data_growth].
            # spark_growth << data_growth is the amortization claim.
            "growth_vs_data_growth": {
                n: [
                    _ratio(xo_spark[n], mf_spark.get(n)),
                    _ratio(xo_duck.get(n), mf_duck.get(n)),
                    CROSSOVER_FACTOR,
                ]
                for n in xo_spark
            },
        } if scaled_dir else None,
        "trend_100x": {
            "note": (
                f"the TREND_QUERIES re-timed at {TREND_FACTOR}x (events/lineitem/"
                f"orders/embeddings replicated; dims unchanged) on the tier-wide "
                f"confs (32 MB scan splits) — the third point of "
                f"ratio_trend_1x_10x_100x.  Monotonically falling ratios = the "
                f"fixed per-query floor amortizing, measured not asserted."
            ),
            "factor": TREND_FACTOR,
            "queries": tr_spark,
            "duckdb_queries": tr_duck,
        } if trend_dir else None,
        "ratio_trend_1x_10x_100x": ratio_trend,
        "config": {
            "master": f"local[{cpus}]",
            "shuffle_partitions": parts,
            "aqe": False,
            "aqe_note": "on in session.tune() for deployments; off at bench tier where the re-plan barrier dominates sub-GB queries",
            "runs_per_query": WARM_RUNS,
            "timing": "median of warm runs, noop sink",
            # self-certification (r9 verdict #3): a contended capture must
            # be READABLE as contended — record machine load alongside the
            # numbers instead of leaving regressions ambiguous
            "load_avg_1m_5m_15m": load_end,
            "load_avg_at_start": load_at_start,
            "cpus": cpus,
            "host_cpus": host_cpus,
            "contended": contended,
        },
    }
    # Full detail is a separate artifact; stdout carries ONE SHORT line the
    # driver can capture whole (r2 verdict #3: the giant line was truncated
    # both rounds and recorded as "parsed": null).
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json")
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
    headline = {
        "metric": "headline_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": spark_t,
        "sf": _sf_label(SF_DIR),
        "duckdb_total": duck_total,
        "spark_over_duckdb": _ratio(total, duck_total, 3),
        "gate_2x_pass": bool(duck_total and total <= 2 * duck_total),
        "multifile_ratio": _ratio(sum(mf_spark.values()), sum(mf_duck.values()), 3),
        "ratio_trend_1x_10x_100x": ratio_trend,
        # r12 verdict #1/#2: machine load in the ONE-LINE JSON so a
        # contended capture self-describes in the artifact that gets parsed
        "load_avg_1m_5m_15m": load_end,
        "contended": contended,
        "detail": "bench_full.json",
    }
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
