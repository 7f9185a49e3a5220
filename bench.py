#!/usr/bin/env python
"""Benchmark harness (BASELINE.md §3 protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], reports per-query median of WARM_RUNS warm runs,
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The stdout line stays SHORT (headline totals, aggregate ratio, gate verdict,
three-point ratio trend) so the driver's capture parses it whole; the full
per-tier detail (multifile / 10x crossover / 100x trend / bucketed-join
blocks, per-query DuckDB timings, config echo) is written to
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


def _drop_bench_table(spark, tbl: str) -> None:
    """DROP + clear the warehouse location: a table dir orphaned by a
    previous session (whose in-memory catalog died with it) is invisible
    to DROP TABLE IF EXISTS, and the next saveAsTable fails with
    LOCATION_ALREADY_EXISTS — which the block's except then swallows into
    a silent None (bit this run r10)."""
    import shutil

    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    except Exception:
        pass
    try:
        wh = spark.conf.get("spark.sql.warehouse.dir")
        loc = os.path.join(wh.removeprefix("file:"), tbl)
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    except Exception:
        pass


def _bucket_block(spark, scaled_dir: str) -> dict | None:
    """Quantify the pay-the-shuffle-once layout: the orders x lineitem join
    timed against plain parquet (both sides shuffle) vs pre-bucketed tables
    (zero join-input exchanges, plan-asserted).  The bucketed write cost is
    reported too — that's the amortized price, paid once per layout, not
    per query."""
    prev_bcast = None
    try:
        from pyspark.sql import functions as F

        from bigquack_spark.sinks.partitioned import save_bucketed

        for tbl in ("bench_b_orders", "bench_b_lineitem"):
            _drop_bench_table(spark, tbl)
        orders = spark.read.parquet(os.path.join(scaled_dir, "orders.parquet"))
        lineitem = spark.read.parquet(os.path.join(scaled_dir, "lineitem.parquet"))
        # the block models the 100 TB join where NEITHER side broadcasts —
        # pin that so the plain path can't cheat with a 10x-tier broadcast
        prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t0 = time.monotonic()
        # bucket AND sort by the join key: the co-located SMJ then needs
        # neither the exchange nor a full re-sort of either side
        save_bucketed(orders, "bench_b_orders", ["o_orderkey"],
                      num_buckets=32, sort_cols=["o_orderkey"])
        save_bucketed(lineitem, "bench_b_lineitem", ["l_orderkey"],
                      num_buckets=32, sort_cols=["l_orderkey"])
        write_s = round(time.monotonic() - t0, 4)

        def join_agg(l, o):
            return (
                l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("o_orderpriority")
                .agg(F.sum("l_extendedprice").alias("rev"))
            )

        def timed(df):
            return _timed_noop(df, runs=WARM_RUNS)

        plain = join_agg(lineitem, orders)
        bucketed = join_agg(spark.table("bench_b_lineitem"), spark.table("bench_b_orders"))
        bplan = bucketed._jdf.queryExecution().executedPlan().toString()
        pplan = plain._jdf.queryExecution().executedPlan().toString()
        join_input_exchange_free = "Exchange hashpartitioning(l_orderkey" not in bplan

        def _join_plan_excerpt(plan: str) -> list[str]:
            # the SMJ node and its exchange/scan inputs — enough to show
            # where the exchanges are (plain) and aren't (bucketed)
            return [
                ln.strip()[:110]
                for ln in plan.splitlines()
                if any(k in ln for k in ("SortMergeJoin", "Exchange", "Scan parquet", "FileScan"))
            ][:8]

        result = {
            "note": "orders x lineitem join+agg with broadcast disabled (the 100 TB posture: neither side fits an executor): plain parquet (both sides shuffle) vs bucketed+sorted tables (join-input exchanges eliminated); bucketed_write_sec is the once-per-layout amortized cost",
            "plain_sec": timed(plain),
            "bucketed_sec": timed(bucketed),
            "bucketed_write_sec": write_s,
            "join_input_exchange_free": bool(join_input_exchange_free),
            "plain_plan_excerpt": _join_plan_excerpt(pplan),
            "bucketed_plan_excerpt": _join_plan_excerpt(bplan),
        }
        return result
    except Exception:
        return None
    finally:
        # restore even when a tier fails mid-block (r4 review: a leaked
        # broadcast-off would silently poison every later block's numbers)
        if prev_bcast is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        for tbl in ("bench_b_orders", "bench_b_lineitem"):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            except Exception:
                pass


def _headline_bucketed_block(spark, trend_dir: str) -> dict | None:
    """r9 verdict #2: the bucketed layout applied to the HEADLINE queries
    themselves, not a stand-in join.  q68 (the one fact-fact join in the
    headline set) re-runs with lineitem+orders bucketed+sorted by the order
    key — the join's input exchanges and sorts vanish; q21 re-runs with
    events bucketed by user_id — the wide first-phase (hour, user) distinct
    exchange vanishes (HashPartitioning(user_id) satisfies the clustered
    distribution on (hour_key, user_id)).  Same query bodies via the shared
    frame functions; write cost reported as the once-per-layout amortized
    price.  Spark times only — ratios vs the SAME trend-tier DuckDB
    denominators are assembled into headline_bucketed in the full dict."""
    tables = ("bench_hb_orders", "bench_hb_lineitem", "bench_hb_events")
    try:
        from pyspark.sql import functions as F

        from bigquack_spark.queries.events import hourly_events_frame
        from bigquack_spark.pipeline import transfer
        from bigquack_spark.queries.relational import nation_profit_frame

        for tbl in tables:
            _drop_bench_table(spark, tbl)
        orders = spark.read.parquet(os.path.join(trend_dir, "orders.parquet"))
        lineitem = spark.read.parquet(os.path.join(trend_dir, "lineitem.parquet"))
        events = spark.read.parquet(os.path.join(trend_dir, "events.parquet"))
        # landed via transfer(bucket_by=...) — the r10 verdict #8 ingest
        # path — so the measured layout IS what a deployment lands, not a
        # separate save_bucketed rewrite
        t0 = time.monotonic()
        transfer(spark, trend_dir, "orders", "bench_hb_orders",
                 bucket_by={"cols": ["o_orderkey"], "num_buckets": 32,
                            "sort_cols": ["o_orderkey"]})
        transfer(spark, trend_dir, "lineitem", "bench_hb_lineitem",
                 bucket_by={"cols": ["l_orderkey"], "num_buckets": 32,
                            "sort_cols": ["l_orderkey"]})
        transfer(spark, trend_dir, "events", "bench_hb_events",
                 bucket_by={"cols": ["user_id"], "num_buckets": 32})
        write_s = round(time.monotonic() - t0, 4)

        p = (
            spark.read.parquet(os.path.join(trend_dir, "part.parquet"))
            .filter("p_type = 'PROMO'").select("p_partkey", "p_retailprice")
        )
        s = spark.read.parquet(os.path.join(trend_dir, "supplier.parquet")).select(
            "s_suppkey", "s_nationkey")
        n = spark.read.parquet(os.path.join(trend_dir, "nation.parquet")).select(
            "n_nationkey", "n_name")
        q68b = nation_profit_frame(
            spark.table("bench_hb_lineitem"), p, s, n,
            spark.table("bench_hb_orders").select("o_orderkey", "o_orderdate"),
        )
        q21b = hourly_events_frame(spark.table("bench_hb_events"))
        p68 = q68b._jdf.queryExecution().executedPlan().toString()
        p21 = q21b._jdf.queryExecution().executedPlan().toString()
        # with the join/distinct input exchanges gone, the ONLY exchange
        # left is the small final aggregate — 8 reduce tasks beat the tier
        # default 32 (q68 1.79 -> 1.45 s, q21 1.20 -> 1.11 s, median of 7
        # uncontended; 4 re-measured worse for q68+q21 both) — the same
        # size-to-data coalescing AQE would do, pinned and recorded
        # plain-layout twins at the SAME pinned reduce-task count, so the
        # artifact isolates the layout effect from the partitions=8 tuning
        # (r10 advice: ratio_plain used the tier default 32)
        q68p = nation_profit_frame(
            lineitem, p, s, n, orders.select("o_orderkey", "o_orderdate"))
        q21p = hourly_events_frame(events)
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            t68 = _timed_noop(q68b, runs=9)
            t21 = _timed_noop(q21b, runs=9)
            t68p = _timed_noop(q68p, runs=9)
            t21p = _timed_noop(q21p, runs=9)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        return {
            "landed_via": "pipeline.transfer(bucket_by=...)",
            "bucketed_write_sec": write_s,
            "q68_bucketed_sec": t68,
            "q21_bucketed_sec": t21,
            "q68_plain8_sec": t68p,
            "q21_plain8_sec": t21p,
            "agg_shuffle_partitions": 8,
            "q68_join_input_exchange_free": (
                "Exchange hashpartitioning(l_orderkey" not in p68
                and "Exchange hashpartitioning(o_orderkey" not in p68
            ),
            "q68_exchanges": p68.count("Exchange hashpartitioning"),
            "q21_exchanges": p21.count("Exchange hashpartitioning"),
        }
    except Exception:
        return None
    finally:
        for tbl in tables:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            except Exception:
                pass


def _ann_embeddings_tier(factor: int = 1000) -> str | None:
    """A dedicated ANN serving corpus: sf0.1 embeddings replicated
    ``factor``x (2M vectors at 1000x), cached under /tmp like the other
    scaled copies.  ANN serving scale is independent of the TPC-H fact
    scale — the 100x trend tier's 200k vectors sit entirely on the task
    floor where ANY plan times the same; the crossover the index exists
    for needs a corpus whose full scan visibly costs something."""
    try:
        import duckdb
        import pyarrow.parquet as pq

        src = os.path.join(SF_DIR, "embeddings.parquet")
        dst_dir = os.path.join("/tmp", "spark_graft_scale", f"emb_x{factor}")
        os.makedirs(dst_dir, exist_ok=True)
        dst = os.path.join(dst_dir, "embeddings.parquet")
        n = pq.read_metadata(src).num_rows
        try:
            cached_ok = os.path.exists(dst) and pq.read_metadata(dst).num_rows == n * factor
        except Exception:
            cached_ok = False  # torn cache from a crashed run: rebuild
        if not cached_ok:
            if os.path.exists(dst):
                os.remove(dst)
            con = duckdb.connect()
            con.execute(
                f"""COPY (
                      SELECT * REPLACE (vec_id + i*{n} AS vec_id)
                      FROM read_parquet('{src}'), range({factor}) r(i)
                    ) TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE 120000)"""
            )
        return dst_dir
    except Exception:
        return None


def _ann_serving_block(spark, trend_dir: str) -> dict | None:
    """r10 verdict #3: the headline ANN (q75, GEMM brute force) carried the
    worst honest 100x ratio while the persisted IVF/IVF-PQ index — the
    actual 100 TB serving path — never appeared in the bench.  This block
    builds the index ONCE over a dedicated 2M-vector serving corpus (the
    amortized, write-once cost), then times the same query set three ways:
    GEMM brute force (the q75 twin), partition-pruned IVF probe, and
    IVF-PQ ADC probe (codes-only first pass + exact rerank).  Recall@k of
    each probe is measured against the brute-force ground truth ON THIS
    CORPUS — the serving numbers mean nothing without the quality they
    bought.  Sizing is the textbook IVF recipe: n_lists ~ sqrt(N) (so a
    probe's candidate fraction n_probes/n_lists shrinks as the corpus
    grows), quantizers trained on a bounded seeded sample (the faiss
    posture — at 100 TB nothing but the one assignment pass may scan the
    corpus)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bigquack_spark.operators import simsearch as S

    ann_dir = _ann_embeddings_tier(1000)
    if not ann_dir:
        return None
    root = tempfile.mkdtemp(prefix="bench_ann_ivf_")
    try:
        emb = spark.read.parquet(os.path.join(ann_dir, "embeddings.parquet"))
        n_corpus = emb.count()
        # q75's 5-vector query set, materialized as a literal frame: in
        # serving, queries arrive FROM the application — a corpus
        # self-lookup would charge every path ~0.25 s of query-scan that
        # isn't part of serving
        qrows = [
            (r["vec_id"], [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < 5).collect()
        ]
        queries = spark.createDataFrame(
            qrows, "vec_id long, embedding array<double>"
        )
        k, n_probes = 10, 4
        # sqrt(2M) ~ 1414; 256 keeps the MLlib assignment pass and the
        # centroid-broadcast argmin cheap while the probe still reads only
        # n_probes/n_lists = 1.6% of the corpus
        n_lists = 256
        train_n = n_lists * 100  # ~100 training points per centroid

        t0 = time.monotonic()
        S.build_ivf_index(emb, root, n_lists=n_lists, train_sample=train_n)
        build_s = round(time.monotonic() - t0, 4)
        t0 = time.monotonic()
        pq_meta = S.add_pq_to_ivf_index(spark, root, m=8, k_codes=16,
                                        train_sample=train_n, arrow_encode=True)
        pq_s = round(time.monotonic() - t0, 4)

        gemm = S.gemm_topk(emb, queries, k=k, id_col="vec_id", vec_col="embedding")
        # collect_cells resolves the probed cells driver-side at CALL time
        # (once per query batch in serving) — timed separately so the
        # per-execution medians don't hide it
        t0 = time.monotonic()
        ivf = S.probe_ivf_index(spark, root, queries, k=k, n_probes=n_probes,
                                arrow_scoring=True, collect_cells=True)
        ivf_resolve_s = round(time.monotonic() - t0, 4)
        t0 = time.monotonic()
        ivfpq = S.probe_ivf_pq(spark, root, queries, k=k, n_probes=n_probes,
                               rerank=64, arrow_scoring=True, collect_cells=True)
        ivfpq_resolve_s = round(time.monotonic() - t0, 4)
        # serving-shaped reduce tasks: the probe's post-scan exchanges carry
        # ~30k candidate rows per query — 8 tasks, same sizing rationale as
        # headline_bucketed's agg (recorded, and applied to ALL three paths
        # so the comparison stays apples-to-apples)
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            t_gemm = _timed_noop(gemm, runs=9)
            t_ivf = _timed_noop(ivf, runs=9)
            t_ivfpq = _timed_noop(ivfpq, runs=9)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

        # recall@k vs the brute-force ground truth (5 queries x k rows —
        # driver-side sets are tiny by construction).  The 100x replicas
        # duplicate vectors under new ids, so exact ties are everywhere;
        # score_recall (probe cosine mass / ground-truth cosine mass) is
        # the tie-robust companion to the id-set recall.
        gt = gemm.collect()
        gt_ids = {}
        gt_score = {}
        for r in gt:
            gt_ids.setdefault(r.qid, set()).add(r.neighbor_id)
            gt_score[r.qid] = gt_score.get(r.qid, 0.0) + r.cosine_sim

        def recall(df) -> dict:
            ids, score = {}, {}
            for r in df.collect():
                ids.setdefault(r.qid, set()).add(r.neighbor_id)
                score[r.qid] = score.get(r.qid, 0.0) + r.cosine_sim
            id_rec = [len(ids.get(q, set()) & g) / len(g) for q, g in gt_ids.items()]
            sc_rec = [
                (score.get(q, 0.0) / s) if s > 0 else 1.0
                for q, s in gt_score.items()
            ]
            return {
                "recall_at_k": round(sum(id_rec) / len(id_rec), 4),
                "score_recall": round(sum(sc_rec) / len(sc_rec), 4),
            }

        # honest same-corpus DuckDB denominator (r11 review: dividing by
        # the 100x trend tier's q75 time was a 10x corpus mismatch)
        import duckdb

        con = duckdb.connect()
        duck_sql = f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM read_parquet('{os.path.join(ann_dir, "embeddings.parquet")}')),
        q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
        s AS (SELECT q.qid, v.vec_id AS neighbor_id,
                     round(list_dot_product(q.qe, v.e) /
                           (sqrt(list_dot_product(q.qe,q.qe)) *
                            sqrt(list_dot_product(v.e,v.e))), 6) AS cosine_sim
              FROM q, v WHERE v.vec_id != q.qid),
        r AS (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY cosine_sim DESC, neighbor_id) AS rk FROM s)
        SELECT qid, neighbor_id, cosine_sim, rk FROM r WHERE rk <= {k}
        """
        con.execute(duck_sql).fetchall()  # warm
        samples = []
        for _ in range(3):
            s0 = time.monotonic()
            con.execute(duck_sql).fetchall()
            samples.append(time.monotonic() - s0)
        duck_brute_s = round(statistics.median(samples), 4)
        con.close()

        return {
            "n_corpus": n_corpus,
            "n_queries": 5,
            "k": k,
            "n_lists": n_lists,
            "n_probes": n_probes,
            "train_sample": train_n,
            "probe_shuffle_partitions": 8,
            "pq": pq_meta,
            "index_build_sec": build_s,
            "pq_encode_sec": pq_s,
            "gemm_sec": t_gemm,
            "ivf_probe_sec": t_ivf,
            "ivf_probe_resolve_sec": ivf_resolve_s,
            "ivf_pq_probe_sec": t_ivfpq,
            "ivf_pq_probe_resolve_sec": ivfpq_resolve_s,
            "duckdb_brute_sec": duck_brute_s,
            "ivf_recall": recall(ivf),
            "ivf_pq_recall": recall(ivfpq),
            # r11 verdict #1: the advisor's call for THIS corpus (64-dim ->
            # plain IVF; the PQ tier wins from PQ_CUTOVER_DIM up, evidence
            # in pq_cutover.json)
            "probe_path_advice": S.recommend_probe_path(
                spark, root, n_probes=n_probes
            ),
        }
    except Exception:
        return None
    finally:
        shutil.rmtree(root, ignore_errors=True)


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
        for name in names:
            if time.monotonic() - t0 > budget:
                not_timed = [
                    n for n in names if n not in walls and n not in errors
                ]
                break
            try:
                walls[name] = _timed_noop(QUERIES[name].fn(spark, sf_dir), runs=1)
            except Exception as exc:  # a build/run failure IS a finding
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
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


def _json_wall_block(spark, trend_dir: str) -> dict | None:
    """r3 verdict #2: q20's 21.8x ratio at 100x is JSON-parse-bound.  This
    block measures every honest JSON path Spark has on the same 100x events
    table (median of 3 noop-sink runs each), plus the remedy an actual
    100 TB pipeline uses — shred the JSON ONCE at ingest into a typed
    column and query the typed column ever after.  The one-time shred cost
    and the post-shred ratio are both reported."""
    try:
        import duckdb

        from pyspark.sql import functions as F

        e = spark.read.parquet(os.path.join(trend_dir, "events.parquet"))

        def agg(kcol):
            return e.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(kcol).cast("bigint").alias("k_sum"),
                F.avg("value").alias("avg_value"),
            )

        variants = {
            "get_json_object": _timed_noop(
                agg(F.get_json_object("props", "$.k").cast("int"))
            ),
            "from_json_narrow_schema": _timed_noop(
                agg(F.from_json("props", "k INT").getField("k"))
            ),
            "variant_parse_json": _timed_noop(
                agg(F.expr("cast(variant_get(parse_json(props), '$.k') as int)"))
            ),
            "scan_agg_without_parse": _timed_noop(agg(F.length("props"))),
        }
        # keyed to the tier dir (r4 review: a fixed path collides across
        # factors/concurrent runs and can time a mismatched dataset)
        shred_dir = trend_dir.rstrip("/") + "_events_shredded"
        t0 = time.monotonic()
        (
            e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
            .drop("props")
            .write.mode("overwrite")
            .parquet(shred_dir)
        )
        shred_write_sec = round(time.monotonic() - t0, 4)
        es = spark.read.parquet(shred_dir)
        shredded_sec = _timed_noop(
            es.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("k").cast("bigint").alias("k_sum"),
                F.avg("value").alias("avg_value"),
            )
        )
        con = duckdb.connect()
        sql = (
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
            "CAST(sum(k) AS BIGINT) AS k_sum, avg(value) AS avg_value "
            f"FROM read_parquet('{shred_dir}/*.parquet') GROUP BY event_type"
        )
        con.execute(sql).fetchall()
        samples = []
        for _ in range(3):
            t0 = time.monotonic()
            con.execute(sql).fetchall()
            samples.append(time.monotonic() - t0)
        duck_shredded_sec = round(statistics.median(samples), 4)
        con.close()
        return {
            "note": (
                "q20 at 100x is parse-bound, not plan-bound: scan+agg without the "
                "parse runs ~9x faster than with it, and no honest JSON path moves "
                "the ratio (from_json measured slower than get_json_object; Spark 4 "
                "VARIANT within ~10% noise of it across runs — Jackson/variant "
                "per-row cost vs DuckDB's yyjson is an engine-level parse-throughput "
                "wall, not an unpushed filter).  The 100 TB remedy is "
                "schema-on-write: shred the field once at ingest (shred_write_sec, "
                "amortized over every later query) and the same aggregate over the "
                "typed column lands at ratio_shredded vs DuckDB on the same "
                "shredded file — ~15x faster than re-parsing per query."
            ),
            "variants_sec": variants,
            "shred_write_sec": shred_write_sec,
            "q20_over_shredded_sec": shredded_sec,
            "duckdb_over_shredded_sec": duck_shredded_sec,
            "ratio_shredded": (
                round(shredded_sec / duck_shredded_sec, 2) if duck_shredded_sec else None
            ),
        }
    except Exception:
        return None


def _events_shredded_block(spark, trend_dir: str) -> dict | None:
    """r6 verdict #7: the shred remedy as the PRODUCT ships it.  The 100x
    events table is landed ONCE through pipeline.transfer(shred=...) — the
    schema-on-write ingest posture — and the whole events family
    (q20 typed-column aggregate, q21 hourly rollup, q22 sessionize) is
    timed over the shredded landing, with DuckDB running the same queries
    over the same shredded files.  Against the raw-events trend numbers
    this shows which wall is the repo's plan (none) and which is engine
    JSON parse (q20's raw-vs-shredded gap)."""
    try:
        import duckdb

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from bigquack_spark.pipeline import transfer
        from bigquack_spark.queries.events import SESSION_GAP_US

        table = "bench_events_shredded"
        _drop_bench_table(spark, table)
        t0 = time.monotonic()
        # the landing a deployment actually picks: shred="auto" (r10 #4 —
        # the product's own inference types $.k, no hand-written schema)
        # AND bucket_by user_id (r10 #8 — q21's wide distinct first phase
        # and q22's sessionize window both become exchange-free)
        transfer(spark, trend_dir, "events", table, shred="auto",
                 bucket_by={"cols": ["user_id"], "num_buckets": 32})
        land_sec = round(time.monotonic() - t0, 4)
        assert "k" in spark.table(table).columns, "auto shred must type $.k"
        es = spark.table(table)

        q20 = es.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.avg("value").alias("avg_value"),
        )
        q21 = es.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_key"
            )
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("value").alias("total_value"),
        )
        w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
        q22 = (
            es.select("user_id", "event_id", F.unix_micros("ts").alias("t_us"))
            .withColumn("prev_us", F.lag("t_us").over(w))
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
        spark_sec = {
            "q20_typed": _timed_noop(q20),
            "q21_hourly": _timed_noop(q21),
            "q22_sessionize": _timed_noop(q22),
        }
        exchanges = {
            name: df._jdf.queryExecution().executedPlan().toString().count(
                "Exchange hashpartitioning"
            )
            for name, df in (("q21_hourly", q21), ("q22_sessionize", q22))
        }

        loc = next(
            r.data_type
            for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
            if r.col_name == "Location"
        ).replace("file:", "")
        glob_sql = f"read_parquet('{loc}/*.parquet')"
        duck_sqls = {
            "q20_typed": (
                "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
                "CAST(sum(k) AS BIGINT) AS k_sum, avg(value) AS avg_value "
                f"FROM {glob_sql} GROUP BY event_type"
            ),
            "q21_hourly": (
                "SELECT strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP), "
                "'%Y-%m-%d %H:%M:%S') AS hour_key, "
                "CAST(count(*) AS BIGINT) AS n_events, "
                "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
                f"sum(value) AS total_value FROM {glob_sql} GROUP BY 1"
            ),
            "q22_sessionize": (
                "WITH ordered AS (SELECT user_id, epoch_us(ts) AS t_us, "
                "lag(epoch_us(ts)) OVER (PARTITION BY user_id "
                "ORDER BY epoch_us(ts), event_id) AS prev_us "
                f"FROM {glob_sql}) "
                "SELECT user_id, CAST(1 + sum(CASE WHEN prev_us IS NOT NULL "
                f"AND t_us - prev_us > {SESSION_GAP_US} THEN 1 ELSE 0 END) AS BIGINT) "
                "AS n_sessions, CAST(count(*) AS BIGINT) AS n_events "
                "FROM ordered GROUP BY user_id"
            ),
        }
        con = duckdb.connect()
        duck_sec = {}
        for name, sql in duck_sqls.items():
            con.execute(sql).fetchall()  # warm
            samples = []
            for _ in range(3):
                s0 = time.monotonic()
                con.execute(sql).fetchall()
                samples.append(time.monotonic() - s0)
            duck_sec[name] = round(statistics.median(samples), 4)
        con.close()
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        return {
            "note": (
                "PRIMARY events-family numbers (r10 verdict #4 + #8): the "
                "whole family measured over the layout a 100 TB deployment "
                "actually lands — ONE pipeline.transfer(shred=\"auto\", "
                "bucket_by=user_id) where the product's own inference typed "
                "$.k at ingest AND the bucket layout removes q21's wide "
                "distinct first-phase exchange and q22's sessionize window "
                "exchange.  The one-off ingest (land_sec) amortizes over "
                "every later query; q20_typed replaces the per-query JSON "
                "parse with a typed column.  The raw trend_100x q20/q21 "
                "rows are the COMPARISON: their delta to these ratios is "
                "the engine parse wall + plain layout, not repo plan."
            ),
            "landed_via": "transfer(shred='auto', bucket_by=user_id x32)",
            "exchanges": exchanges,
            "land_sec": land_sec,
            "spark_sec": spark_sec,
            "duckdb_sec": duck_sec,
            "ratios": {
                n: round(spark_sec[n] / duck_sec[n], 2) if duck_sec.get(n) else None
                for n in spark_sec
            },
        }
    except Exception:
        return None


def _profile_block(spark, trend_dir: str) -> dict | None:
    """r4 verdict #3: q118's 100x cost driver is exact per-column DISTINCT
    (per-column Expand + the columns' value sets through the shuffle).
    Time the exact profile against the HLL-sketch shape a 100 TB pre-flight
    actually runs (quality.profile_approx: one scan, K sketches through the
    reduce, no Expand), both at the 100x tier, same noop protocol.  The
    driver-diffable tolerance variant is q252 (sketch-within-5%% booleans)."""
    try:
        from bigquack_spark.queries.quality import _PROFILE_COLS, profile_approx

        from pyspark.sql import functions as F

        orders = spark.read.parquet(os.path.join(trend_dir, "orders.parquet"))
        # q118 itself now SHIPS the union-of-single-distincts plan (r6), so
        # the retired Expand plan is rebuilt here as the baseline — timing
        # the registry query against itself would self-compare (r6 review).
        aggs = []
        for c, num in _PROFILE_COLS:
            aggs += [
                F.count(F.lit(1)).alias(f"{c}__rows"),
                (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
                F.countDistinct(c).alias(f"{c}__distinct"),
                (F.min(F.expr(num)) if num else F.lit(None).cast("double")).alias(f"{c}__min"),
                (F.max(F.expr(num)) if num else F.lit(None).cast("double")).alias(f"{c}__max"),
            ]
        stack = ", ".join(
            f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
            for c, _ in _PROFILE_COLS
        )
        expand_plan = orders.agg(*aggs).selectExpr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_num, max_num)"
        )
        expand_sec = _timed_noop(expand_plan, runs=5)
        union_sec = _timed_noop(
            QUERIES["q118_column_profile"].fn(spark, trend_dir), runs=5
        )
        approx_sec = _timed_noop(profile_approx(orders, _PROFILE_COLS), runs=5)
        return {
            "note": (
                "q118 decomposition (r5 verdict #3): q118 ships the no-Expand "
                "union-of-single-distincts plan (q118_union_sec, ~25% under "
                "the retired Expand plan rebuilt as q118_expand_legacy_sec); "
                "the remaining gap to DuckDB is the exact distinct itself, so "
                "the 100 TB remedy is approx_count_distinct (rsd=0.05) at "
                "`speedup`x — q252 carries the within-5pct correctness "
                "contract for the approx shape."
            ),
            "q118_expand_legacy_sec": expand_sec,
            "q118_union_sec": union_sec,
            "profile_approx_sec": approx_sec,
            "speedup": round(union_sec / approx_sec, 2) if approx_sec else None,
        }
    except Exception:
        return None


def _quarantine_block(spark, trend_dir: str) -> dict | None:
    """Measure the quarantine router's one-pass claim (r5: sinks/
    quarantine.py): routing a batch into accepted+rejected through a
    partition-flag projection costs ONE scan; the naive split (filter
    twice, write each side) scans the input twice.  Both variants are
    timed to the noop sink so the write medium is held constant — the
    parquet bytes out are identical either way, the difference is scans.
    Rules mirror the q258 shape on the 100x events table."""
    try:
        from bigquack_spark.sinks.quarantine import tag_violations

        ev = spark.read.parquet(os.path.join(trend_dir, "events.parquet"))
        rules = [
            ("value_nonneg", "value < 0"),
            ("type_enum", "event_type NOT IN ('click','view','purchase','signup','error')"),
            ("props_json", "props IS NOT NULL AND get_json_object(props, '$.k') IS NULL"),
        ]
        tagged = tag_violations(ev, rules)
        one_pass_sec = _timed_noop(tagged)
        fail = " OR ".join(f"({p})" for _, p in rules)
        two_pass_sec = round(
            _timed_noop(ev.filter(f"NOT ({fail})"))
            + _timed_noop(ev.filter(fail)),
            4,
        )
        return {
            "note": (
                "quarantine routing at 100x (15M events, 3 rules incl. a JSON "
                "probe): one-pass partition-flag routing vs the naive "
                "filter-twice split, noop sink (write bytes identical either "
                "way — the delta is input scans).  The router's advantage "
                "scales with scan cost; at 100 TB the second scan IS the bill."
            ),
            "one_pass_sec": one_pass_sec,
            "two_pass_sec": two_pass_sec,
            "speedup": round(two_pass_sec / one_pass_sec, 2) if one_pass_sec else None,
        }
    except Exception:
        return None


def _compaction_block(spark, scaled_dir: str) -> dict | None:
    """r6 verdict #1: measure the compaction executor's payoff, not just
    its safety.  The 10x lineitem is written as a ~256-small-file ingest
    layout (what thousands of micro-batches leave behind), a scan+agg and
    a footer-bound count are timed over it,
    operators/maintenance.compact_small_files rewrites it
    checksum-verified to a 32 MB target, and both are re-timed.  Splits
    are held at the deployment default (128 MB) inside the block — the
    tier's 2 MB bench override would hide the file-count effect it exists
    to show.  The 32 MB target (not 128) keeps several row groups' worth
    of files at this 120 MB table so the compacted layout retains scan
    parallelism — a first cut at 128 MB produced ONE file whose single
    row-group stripe serialized the scan (measured 2.2x SLOWER; the same
    single-row-group effect the primary metric's caveat documents).
    Compaction targets must be sized so files, not the whole table,
    are the parallel unit."""
    import shutil
    import tempfile

    try:
        from pyspark.sql import functions as F

        from bigquack_spark.operators.maintenance import compact_small_files

        frag = tempfile.mkdtemp(prefix="bq_compact_")
        old_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
            )
            li = spark.read.parquet(os.path.join(scaled_dir, "lineitem.parquet"))
            li.repartition(256).write.mode("overwrite").parquet(frag)

            def scan():
                return (
                    spark.read.parquet(frag)
                    .groupBy("l_returnflag")
                    .agg(F.sum("l_quantity"), F.count(F.lit(1)))
                )

            def n_files():
                return sum(
                    1 for f in os.listdir(frag)
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                )

            def n_tasks():
                # scan-split count probe (metadata only, nothing computed)
                return spark.read.parquet(frag).rdd.getNumPartitions()

            def footer_count():
                # count(*) answers from row-group stats: file opens +
                # footer reads dominate — the per-query metadata tax a
                # fragmented layout charges every query
                spark.read.parquet(frag).count()  # warm
                samples = []
                for _ in range(3):
                    s0 = time.monotonic()
                    spark.read.parquet(frag).count()
                    samples.append(time.monotonic() - s0)
                return round(statistics.median(samples), 4)

            files_before, tasks_before = n_files(), n_tasks()
            scan_before_sec = _timed_noop(scan())
            count_before_sec = footer_count()
            t0 = time.monotonic()
            report = compact_small_files(spark, frag, target_mb=32, verify=True)
            compact_sec = round(time.monotonic() - t0, 4)
            files_after, tasks_after = n_files(), n_tasks()
            scan_after_sec = _timed_noop(scan())
            count_after_sec = footer_count()
            return {
                "note": (
                    "10x lineitem as a 256-small-file ingest layout vs the "
                    "same rows after compact_small_files(target_mb=32, "
                    "checksum-verified): the file count collapses and the "
                    "footer-bound count(*) — pure file-open/metadata cost, "
                    "the tax EVERY query pays on a fragmented table — "
                    "speeds up consistently.  The scan+agg wall at this "
                    "~120 MB table sits under 200 ms where run-to-run "
                    "jitter exceeds the layout effect (local NVMe hides "
                    "both the object-store LISTING a fragmented layout "
                    "pays per query at 100 TB and the open-cost gap) — "
                    "judge the layout on file count and the footer metric.  "
                    "Splits pinned to the 128 MB deployment default inside "
                    "this block; 32 MB files chosen so the compacted layout "
                    "keeps row-group parallelism at this table size (the "
                    "docstring records the measured single-file trap)."
                ),
                "files_before": files_before,
                "files_after": files_after,
                "scan_tasks_before": tasks_before,
                "scan_tasks_after": tasks_after,
                "scan_before_sec": scan_before_sec,
                "scan_after_sec": scan_after_sec,
                "scan_speedup": (
                    round(scan_before_sec / scan_after_sec, 2)
                    if scan_after_sec
                    else None
                ),
                "footer_count_before_sec": count_before_sec,
                "footer_count_after_sec": count_after_sec,
                "footer_count_speedup": (
                    round(count_before_sec / count_after_sec, 2)
                    if count_after_sec
                    else None
                ),
                "compact_wall_sec": compact_sec,
                "partitions_compacted": report["partitions_compacted"],
            }
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old_split)
            shutil.rmtree(frag, ignore_errors=True)
    except Exception:
        return None


def _merge_block(spark, scaled_dir: str) -> dict | None:
    """r7 verdict #1: measure the file-pruned MERGE's whole point — a CDC
    change set touching ONE partition must rewrite bytes proportional to
    the touched files, never the table.  The 10x lineitem lands
    partitioned by l_returnflag (3 leaves, several files each); a 5-row
    change set against one (l_returnflag, l_orderkey, l_linenumber) key
    group is merged, and the block reports exactly which bytes moved
    (pre/post file-size snapshot) plus byte-identity of every untouched
    file."""
    import shutil
    import tempfile

    try:
        from pyspark.sql import functions as F

        from bigquack_spark.sinks.merge import merge_upsert

        root = tempfile.mkdtemp(prefix="bq_merge_")
        tgt = os.path.join(root, "lineitem_parted")
        try:
            li = spark.read.parquet(os.path.join(scaled_dir, "lineitem.parquet"))
            li.repartition(8).write.partitionBy("l_returnflag").parquet(tgt)

            def snapshot():
                out = {}
                for dirpath, dirnames, filenames in os.walk(tgt):
                    dirnames[:] = [
                        d for d in dirnames if not d.startswith((".", "_"))
                    ]
                    for n in filenames:
                        if n.endswith(".parquet") and not n.startswith((".", "_")):
                            p = os.path.join(dirpath, n)
                            out[p] = os.path.getsize(p)
                return out

            before = snapshot()
            table_bytes = sum(before.values())
            # change set: 5 updates inside l_returnflag='R' only —
            # MATERIALIZED first (a lazy change set reading the merge
            # target would re-scan files the merge is retiring)
            cols = spark.read.parquet(tgt).columns
            rows = (
                spark.read.parquet(tgt)
                .filter("l_returnflag = 'R'")
                .limit(5)
                .withColumn("l_comment", F.lit("cdc-updated"))
                .select(*cols)
                .collect()
            )
            changes = spark.createDataFrame(
                rows, spark.read.parquet(tgt).select(*cols).schema
            )
            t0 = time.monotonic()
            report = merge_upsert(
                spark,
                tgt,
                changes,
                key_cols=["l_returnflag", "l_orderkey", "l_linenumber"],
            )
            merge_sec = round(time.monotonic() - t0, 4)
            after = snapshot()
            rewritten_bytes = sum(
                sz for p, sz in before.items() if p not in after
            )
            untouched_ok = all(
                after.get(p) == sz
                for p, sz in before.items()
                if p in after
            ) and all("l_returnflag=R" in p for p in before if p not in after)
            return {
                "note": (
                    "5-row CDC change set against a 3-partition (x8-file) "
                    "10x lineitem: the find scan partition-prunes to the "
                    "one named partition, only the files holding the "
                    "matched keys rewrite, and every other file is "
                    "byte-identical — bytes rewritten track the touched "
                    "file set, not the table (the pre-r8 merge rewrote "
                    "100% per apply).  Wall time is dominated by the "
                    "checksum verify + per-leaf publishes at this small "
                    "scale; at 100 TB the same plan's cost is the "
                    "affected-file set."
                ),
                "table_bytes": table_bytes,
                "partitions_total": 3,
                "partitions_touched": report["partitions_touched"],
                "files_rewritten": report["files_rewritten"],
                "files_inserted": report["files_inserted"],
                "bytes_rewritten": rewritten_bytes,
                "bytes_rewritten_share": round(rewritten_bytes / table_bytes, 4),
                "untouched_files_byte_identical": untouched_ok,
                "merge_wall_sec": merge_sec,
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
    except Exception:
        return None


def _aqe_block(spark, trend_dir: str) -> dict | None:
    """Measure the AQE posture instead of asserting it: the bench pins AQE
    off because its per-exchange re-plan barrier costs ~30% on sub-GB
    queries; session.tune() turns it on for deployments.  This block times
    four trend queries both ways at the 100x tier — the honest record is
    that the barrier cost has amortized to ~noise here (AQE slightly helps
    the scan-heavy events queries, slightly hurts the join-heavy ones),
    and AQE's actual WINS need what a static local bench lacks: real skew
    (see skew_mitigation — splitting measurably helps there) and
    runtime-variable partition sizes."""
    from bigquack_spark.session import pin

    try:
        names = [
            "q20_events_json_extract",
            "q21_events_hourly",
            "q68_nation_profit",
            "q118_column_profile",
        ]

        def run_tier():
            return {n: _timed_noop(QUERIES[n].fn(spark, trend_dir)) for n in names}

        pin("spark.sql.adaptive.enabled", "false")
        off = run_tier()
        pin("spark.sql.adaptive.enabled", "true")
        on = run_tier()
        return {
            "note": (
                "AQE off-vs-on at 100x, median of 3: the re-plan barrier that "
                "costs ~30% at the 1x tier is within noise here (helps the "
                "events scans, costs the fact joins a little) — the barrier "
                "amortizes with data, and AQE's wins need real skew (measured "
                "in skew_mitigation) or variable partition sizes."
            ),
            "aqe_off_sec": off,
            "aqe_on_sec": on,
        }
    except Exception:
        return None
    finally:
        pin("spark.sql.adaptive.enabled", "false")  # bench posture, even on failure


def _skew_block(spark, trend_dir: str) -> dict | None:
    """r3 verdict #6: measure the skew mitigations instead of asserting
    them.  A deliberately skewed join (50% of the 100x events rows collapse
    onto ONE key; the dim side is the distinct user set) is timed three
    ways with broadcast disabled (the 100 TB posture — a dim that no longer
    fits an executor): unmitigated SMJ, AQE skew-join splitting (thresholds
    sized to the tier), and operators.joins.salted_join.  q119 is the
    detector that tells a pipeline WHICH keys are hot; this block is the
    measured payoff of acting on it."""
    prev_bcast = None
    dim = None
    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    from bigquack_spark.session import pin

    try:
        from bigquack_spark.operators.joins import salted_join

        from pyspark.sql import functions as F

        ev = spark.read.parquet(os.path.join(trend_dir, "events.parquet")).select(
            "event_id", "user_id", "value", "props"
        )
        # ~50% of rows onto one hot key; the rest keep their user
        skewed = ev.withColumn(
            "skey",
            F.when(F.pmod(F.xxhash64("event_id"), F.lit(10)) < 5, F.lit(1)).otherwise(
                F.col("user_id")
            ),
        )
        dim = (
            ev.select(F.col("user_id").alias("skey"))
            .distinct()
            .withColumn("seg", F.pmod("skey", F.lit(7)))
        )
        dim.cache()
        dim.count()
        prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def join_agg(l, d):
            # carries the wide props payload so the hot reducer's bytes are real
            return l.join(d, "skey").groupBy("seg").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("v"),
                F.sum(F.length("props")).alias("pb"),
            )

        pin("spark.sql.adaptive.enabled", "false")
        plain_sec = _timed_noop(join_agg(skewed, dim))

        pin("spark.sql.adaptive.enabled", "true")
        for k, v in skew_confs.items():
            spark.conf.set(k, v)
        aqe_sec = _timed_noop(join_agg(skewed, dim))

        pin("spark.sql.adaptive.enabled", "false")
        salted_sec = _timed_noop(
            salted_join(skewed, dim, "skey", salt_buckets=32)
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("v"),
                F.sum(F.length("props")).alias("pb"),
            )
        )
        return {
            "note": (
                "10M-row join with 50% of rows on ONE key, broadcast disabled "
                "(the big-dim posture), median of 3: unmitigated SMJ vs AQE "
                "skew-join splitting (factor 2, 8 MB threshold — sized to the "
                "tier) vs salted_join(32).  Salting wins because the dim side "
                "replicates 32x for pennies while the hot key spreads over 32 "
                "reducers; AQE splitting helps less here since it only splits "
                "the probe side's oversized partitions after the full shuffle."
            ),
            "plain_sec": plain_sec,
            "aqe_skew_split_sec": aqe_sec,
            "salted_join_sec": salted_sec,
        }
    except Exception:
        return None
    finally:
        # restore even on failure (r4 review: leaked broadcast-off/AQE-skew
        # confs would silently poison every later block's numbers)
        pin("spark.sql.adaptive.enabled", "false")
        if prev_bcast is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        for k in skew_confs:
            try:
                spark.conf.unset(k)
            except Exception:
                pass
        if dim is not None:
            try:
                dim.unpersist()
            except Exception:
                pass


def _ab_record(total: float) -> dict | None:
    """A/B protocol closure (r9 verdict #3): when SPARK_GRAFT_AB_PREV names
    the previous protocol run's headline total, record the pair and their
    delta so two consecutive committed runs certify each other — a later
    contended driver capture then cannot read as a regression against an
    ambiguous single number."""
    prev = os.environ.get("SPARK_GRAFT_AB_PREV")
    if not prev:
        return None
    try:
        prev_total = float(prev)
    except ValueError:
        return None
    if prev_total <= 0:
        return None  # a scripting bug must not crash a finished run
    return {
        "prev_total_sec": prev_total,
        "this_total_sec": total,
        "delta_pct": round(100.0 * (total - prev_total) / prev_total, 2),
        "within_5pct": abs(total - prev_total) <= 0.05 * prev_total,
    }


def _assemble_headline_bucketed(block: dict | None, tr_spark: dict,
                                tr_duck: dict) -> dict | None:
    """Join the headline-bucketed Spark times with the trend tier's plain
    Spark + DuckDB numbers into per-query [plain, bucketed] ratio pairs —
    the r9 verdict #2 'done' record: the headline q68/q21 third trend
    points re-measured over the layout a deployment would actually use."""
    if not block:
        return None

    def pair(name: str, key: str):
        d = tr_duck.get(name)
        if not d:
            return None
        return {
            "plain_sec": tr_spark.get(name),
            "bucketed_sec": block[key],
            "duckdb_sec": d,
            "ratio_plain": round(tr_spark[name] / d, 2) if tr_spark.get(name) else None,
            "ratio_bucketed": round(block[key] / d, 2) if block.get(key) else None,
        }

    return {
        "note": (
            "the headline q68/q21 re-run at the 100x tier over the bucketed "
            "layout (orders+lineitem bucketed+sorted by order key; events "
            "bucketed by user_id) — same query bodies via the shared frame "
            "functions, DuckDB denominator unchanged (same logical data); "
            "bucketed_write_sec is the once-per-layout amortized cost. "
            "NOTE the bucketed runs pin spark.sql.shuffle.partitions to "
            "agg_shuffle_partitions (8) for the one remaining final-agg "
            "exchange, while ratio_plain used the tier default 32 — "
            "ratio_bucketed therefore bundles the layout win with "
            "reduce-task sizing; q68_plain8_sec/q21_plain8_sec isolate it "
            "(plain layout at partitions=8, same runs protocol)"
        ),
        "landed_via": block.get("landed_via"),
        "bucketed_write_sec": block["bucketed_write_sec"],
        "agg_shuffle_partitions": block.get("agg_shuffle_partitions"),
        "q68_plain8_sec": block.get("q68_plain8_sec"),
        "q21_plain8_sec": block.get("q21_plain8_sec"),
        "q68_join_input_exchange_free": block["q68_join_input_exchange_free"],
        "q68_exchanges": block["q68_exchanges"],
        "q21_exchanges": block["q21_exchanges"],
        "q68_nation_profit": pair("q68_nation_profit", "q68_bucketed_sec"),
        "q21_events_hourly": pair("q21_events_hourly", "q21_bucketed_sec"),
    }


def _sf_label(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _timed_noop(df, runs: int = 3) -> float:
    """THE timing protocol, shared by every block (r4 review: five copies
    had already diverged): one noop-sink warm-up (codegen + JIT), then the
    median of ``runs`` timed noop executions, rounded to 0.1 ms."""
    df.write.mode("overwrite").format("noop").save()
    samples = []
    for _ in range(runs):
        start = time.monotonic()
        df.write.mode("overwrite").format("noop").save()
        samples.append(time.monotonic() - start)
    return round(statistics.median(samples), 4)


#: Per-query scan-split overrides for the 10x crossover tier, each pair
#: measured (median of 5, both sizes): the events/array scans want many
#: small splits, the fact joins and the high-cardinality events groupBy
#: want fewer, bigger ones (q119 0.223s@2MB -> 0.137s@16MB; q68
#: 0.849->0.821; q01 0.149->0.130; q118 prefers 2MB 0.699 vs 0.916, q75
#: 0.268 vs 0.361 — those keep the tier default).  This IS the per-table
#: sizing the crossover split_note attributes to deployments (AQE + file
#: heuristics); the bench pins what it measured, per query, recorded here.
CROSSOVER_SPLIT_OVERRIDES = {
    "q119_key_skew": 16 * 1024 * 1024,
    "q68_nation_profit": 16 * 1024 * 1024,
    "q01_pricing_summary": 16 * 1024 * 1024,
}

#: Per-query shuffle-partition overrides for the 100x trend tier (r4
#: verdict #2: q119's 20.4x-at-100x decomposed).  q119's plan is already
#: the right shape — ONE scan, ONE per-key exchange (ReusedExchange feeds
#: the totals subtree), TakeOrderedAndProject — but its exchange carries
#: only ~1.5k keys, and the noop-sink commit costs ~6 ms/task, so 32
#: reduce tasks spend ~0.2 s on task overhead alone (measured: per_key
#: noop 0.325 s @32 parts vs 0.177 s @8 vs 0.114 s collect).  Sizing the
#: exchange to the data is exactly what AQE coalescing does in
#: deployments; at this sub-second tier the AQE replan barrier offsets
#: the win (q119 AQE-on 0.44 s — measured), so the bench pins the
#: measured size per query, mirroring CROSSOVER_SPLIT_OVERRIDES.
#: Measured at 100x, median of 9/5: q119 0.443@32 -> 0.185@4 (0.240@8,
#: 0.185@2); q75 0.674@32 -> 0.520@4 (0.541@8).  q21 (1.69@32 vs
#: 3.13@4) and q118 (1.99@32 vs 4.02@4) carry real reduce work and keep
#: the tier's 32.
TREND_PART_OVERRIDES = {
    "q119_key_skew": 4,
    "q75_ann_gemm_topk": 4,
}


def run_spark(
    spark,
    names: list[str],
    sf_dir: str = SF_DIR,
    split_overrides: dict[str, int] | None = None,
    runs: int | None = None,
    part_overrides: dict[str, int] | None = None,
) -> dict[str, float]:
    """Per-query median of ``runs`` (default WARM_RUNS) re-executions of a
    once-built DataFrame (prepared-statement protocol: the logical plan IS
    the query; analysis happens once, execution is what's timed — mirrors
    timing DuckDB's execute on an already-open connection).
    ``split_overrides`` maps a query name to a maxPartitionBytes pinned for
    just that query (restored after), modeling per-table split sizing;
    ``part_overrides`` does the same for shuffle partitions, modeling
    AQE's size-to-data exchange coalescing (TREND_PART_OVERRIDES)."""
    timings: dict[str, float] = {}
    for name in names:
        prev_split = None
        prev_parts = None
        if split_overrides and name in split_overrides:
            prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes", str(split_overrides[name])
            )
        if part_overrides and name in part_overrides:
            prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(part_overrides[name]))
        try:
            timings[name] = _timed_noop(
                QUERIES[name].fn(spark, sf_dir), runs=runs or WARM_RUNS
            )
        finally:
            if prev_split is not None:
                spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
            if prev_parts is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return timings


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


def print_committed_ab() -> None:
    """`python bench.py --print-ab`: print the ab_protocol block exactly as
    COMMITTED at HEAD (r10 verdict #2: the SURVEY/README bench narrative
    must quote the committed artifact verbatim, not a different run pair —
    paste this output, byte-for-byte, into the round-close prose)."""
    import subprocess

    raw = subprocess.run(
        ["git", "show", "HEAD:bench_full.json"],
        capture_output=True, text=True, cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    if raw.returncode != 0:
        print(json.dumps({"err": "no committed bench_full.json at HEAD"}))
        return
    d = json.loads(raw.stdout)
    print(json.dumps({
        "committed_at": "HEAD",
        "total_sec": d.get("value"),
        "ratio_vs_duckdb": (
            round(d["value"] / d["duckdb_total"], 3)
            if d.get("duckdb_total") else None
        ),
        "ab_protocol": d.get("ab_protocol"),
    }, indent=1))


def main() -> None:
    if "--print-ab" in sys.argv[1:]:
        print_committed_ab()
        return
    cpus = default_parallelism()
    # Contention guard (r12 verdict #1/#2: both r12 driver captures landed on
    # a loaded box and read as a spurious 0.655x regression).  If the 1-min
    # load says the box is busy, retry ONCE after a drain wait before timing;
    # either way the one-line JSON records the load so a contended capture is
    # mechanically discountable instead of forensically.
    load_at_start = [round(x, 2) for x in os.getloadavg()]
    if load_at_start[0] > cpus / 2:
        wait_s = int(os.environ.get("SPARK_GRAFT_LOAD_WAIT_SEC", "90"))
        sys.stderr.write(
            f"bench: 1-min load {load_at_start[0]} > {cpus}/2 — "
            f"waiting {wait_s}s for a quiet window (once)\n"
        )
        time.sleep(wait_s)
        load_at_start = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark(
        app_name="bigquack-spark-bench",
        master=f"local[{cpus}]",
        # managed (bucketed) bench tables land in /tmp, never the repo
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
        # headline-tier confs, no overrides) so it cannot pollute them
        extension = _extension_block(spark, SF_DIR)
        mf_spark = run_spark(spark, HEADLINE, multifile_dir) if multifile_dir else {}
        if scaled_dir:
            # crossover runs in the SAME (JIT-hot) session — a fresh JVM
            # pays cold-compile on all 11 queries and reads ~2x slower
            # (measured).  Configs re-tuned for the 10x tier (round-2
            # re-measurement, median of 7 warm runs per query): 2 MB scan
            # splits beat 8 MB ~2x across the events/fact scans (q68
            # 4.3s->1.3s, q20 1.4s->0.7s — at ~50 MB/table the scheduler
            # overhead of many tasks is cheaper than starving cores);
            # shuffle partitions at core count for the larger exchanges;
            # broadcast threshold LEFT AT the 10 MB default — the 96 MB
            # raise tried in round 1 re-measured as a pessimization (q68
            # 1.31s->1.11s on revert: the big-side broadcast build cost
            # more than the SMJ sorts it avoided); shuffled-hash preferred
            # over sort-merge for what remains.
            spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
            spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
            xo_spark = run_spark(
                spark, CROSSOVER, scaled_dir, split_overrides=CROSSOVER_SPLIT_OVERRIDES
            )
            buckets = _bucket_block(spark, scaled_dir)
            compaction = _compaction_block(spark, scaled_dir)
            merge = _merge_block(spark, scaled_dir)
        else:
            xo_spark = {}
            buckets = None
            compaction = None
            merge = None
        # 100x tier: only the 3 worst-ratio queries, to measure the third
        # point of the falling-ratio trend (r2 verdict #5).  Splits re-sized
        # to the tier: 2 MB (right for ~50 MB tables at 10x) starves 100x
        # scans with task overhead — 32 MB re-measured 1.2-2.3x faster on
        # all three queries here.  Deployments get this sizing from AQE +
        # file-based split heuristics; the bench pins what it measured.
        if trend_dir:
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
            # 9 runs at this tier: the sub-second members (q119, q75) sit on
            # the stage-launch floor where ms-level jitter swings their
            # ratio 2x between identical runs (measured r4) — a wider median
            # window is the honest stabilizer.
            tr_spark = run_spark(
                spark, TREND_QUERIES, trend_dir, runs=9,
                part_overrides=TREND_PART_OVERRIDES,
            )
            json_wall = _json_wall_block(spark, trend_dir)
            buckets_100x = _bucket_block(spark, trend_dir)
            headline_bucketed = _headline_bucketed_block(spark, trend_dir)
            skew = _skew_block(spark, trend_dir)
            profile = _profile_block(spark, trend_dir)
            aqe = _aqe_block(spark, trend_dir)
            quarantine = _quarantine_block(spark, trend_dir)
            events_shredded = _events_shredded_block(spark, trend_dir)
            ann_serving = _ann_serving_block(spark, trend_dir)
        else:
            tr_spark = {}
            json_wall = None
            buckets_100x = None
            headline_bucketed = None
            skew = None
            profile = None
            aqe = None
            quarantine = None
            events_shredded = None
            ann_serving = None
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
            round(mf_spark[n] / mf_duck[n], 2) if mf_duck.get(n) and mf_spark.get(n) else None,
            round(xo_spark[n] / xo_duck[n], 2) if xo_duck.get(n) and xo_spark.get(n) else None,
            round(tr_spark[n] / tr_duck[n], 2) if tr_duck.get(n) and tr_spark.get(n) else None,
        ]
        for n in TREND_QUERIES
    }
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
                f"aggregate <=2x gate (passing), the text/Python family (Spark up to 10x faster), "
                f"the bucketed layout below (join-input exchanges eliminated), and distribution "
                f"beyond one node — which no local bench can show."
            ),
            "factor": CROSSOVER_FACTOR,
            "split_note": (
                "10x tier defaults to 2 MB scan splits (the events-scan "
                "queries are ~30% faster there) with measured per-query "
                "overrides to 16 MB where the other shape wins "
                "(CROSSOVER_SPLIT_OVERRIDES: q119 0.223->0.137 s, q68, q01) "
                "— the per-table split sizing deployments get from AQE/file "
                "heuristics, applied and recorded instead of averaged away.  "
                "Remaining 10x ratio bumps are a superlinearly-fast DuckDB "
                "denominator at this cache-resident tier; every tracked "
                "query's 100x point is the lowest of its three."
            ),
            "total": round(sum(xo_spark.values()), 4),
            "duckdb_total": round(sum(xo_duck.values()), 4),
            "queries": xo_spark,
            "duckdb_queries": xo_duck,
            "compaction_block": compaction,
            "merge_block": merge,
            "ratios": {
                n: round(xo_spark[n] / xo_duck[n], 3)
                for n in xo_spark
                if xo_duck.get(n)
            },
            # time growth from the 1x multifile tier to the Nx tier,
            # per engine: [spark_growth, duck_growth, data_growth].
            # spark_growth << data_growth is the amortization claim.
            "growth_vs_data_growth": {
                n: [
                    round(xo_spark[n] / mf_spark[n], 2)
                    if mf_spark.get(n) else None,
                    round(xo_duck[n] / mf_duck[n], 2)
                    if mf_duck.get(n) and xo_duck.get(n) else None,
                    CROSSOVER_FACTOR,
                ]
                for n in xo_spark
            },
            "bucketed_join": buckets,
        } if scaled_dir else None,
        "trend_100x": {
            "note": (
                f"the 3 worst-ratio queries re-timed at {TREND_FACTOR}x "
                f"(events/lineitem/orders replicated; dims unchanged) — the third "
                f"point of ratio_trend_1x_10x_100x.  Monotonically falling ratios "
                f"= the fixed per-query floor amortizing, measured not asserted.  "
                f"q75 here is the BRUTE-FORCE twin kept for the trend; the "
                f"serving-path numbers (persisted IVF/IVF-PQ probes + recall) "
                f"are in ann_serving_block."
            ),
            "factor": TREND_FACTOR,
            "part_override_note": (
                "per-query shuffle partitions sized to post-shuffle data "
                f"({TREND_PART_OVERRIDES}), the AQE-coalescing sizing pinned "
                "statically: q119's exchange carries ~1.5k keys and the noop "
                "commit costs ~6 ms/task, so 32 reduce tasks were 0.2 s of "
                "pure task overhead (0.443 s @32 -> 0.185 s @4, measured "
                "median of 9; q75 0.674 -> 0.520).  q119's plan itself is "
                "single-scan (ReusedExchange feeds the totals subtree) — "
                "the r4 20.4x was task-count floor, not plan shape.  AQE-on "
                "re-measured 0.44 s: the replan barrier offsets coalescing "
                "at this duration; see TREND_PART_OVERRIDES comment."
            ),
            "q118_note": (
                "q118 keeps the tier default 32 partitions (@4 partitions "
                "it roughly doubles — real reduce work, not floor-bound "
                "like q119); its exact-vs-approx decomposition is measured "
                "in profile_approx_block (see its expand/union/approx "
                "keys for this run's numbers): the ratio is the exact "
                "distinct itself, and the deployment remedy is the q252 "
                "approx profile."
            ),
            "queries": tr_spark,
            "duckdb_queries": tr_duck,
            "q20_json_parse_wall": json_wall,
            "bucketed_join_100x": buckets_100x,
            "headline_bucketed": _assemble_headline_bucketed(
                headline_bucketed, tr_spark, tr_duck
            ),
            "skew_mitigation": skew,
            "profile_approx_block": profile,
            "aqe_at_100x": aqe,
            "quarantine_one_pass_block": quarantine,
            "events_shredded_block": events_shredded,
            "ann_serving_block": (
                {
                    **ann_serving,
                    "note": (
                        "the headline q75 is the brute-force twin; this "
                        "block is the 100 TB serving path — build the "
                        "IVF(-PQ) index once (index_build_sec + "
                        "pq_encode_sec, amortized over every later probe), "
                        "then each probe reads n_probes cell directories "
                        "(partition-pruned I/O, ~n_probes/n_lists of the "
                        "corpus) instead of scanning everything; recall@k "
                        "and tie-robust score_recall are measured against "
                        "the brute-force ground truth on the same query "
                        "set.  DuckDB denominator: duckdb_brute_sec, the "
                        "same brute-force top-k over the SAME 2M-vector "
                        "corpus (same logical answer, same bytes)."
                    ),
                    "gemm_vs_duckdb_ratio": (
                        round(ann_serving["gemm_sec"] / ann_serving["duckdb_brute_sec"], 2)
                        if ann_serving.get("duckdb_brute_sec") else None
                    ),
                    "ivf_probe_vs_duckdb_ratio": (
                        round(ann_serving["ivf_probe_sec"] / ann_serving["duckdb_brute_sec"], 2)
                        if ann_serving.get("duckdb_brute_sec") else None
                    ),
                }
                if ann_serving
                else None
            ),
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
            "load_avg_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
            "load_avg_at_start": load_at_start,
            "cpus": cpus,
            "contended": (
                os.getloadavg()[0] > cpus * 0.5 or load_at_start[0] > cpus * 0.5
            ),
        },
        "ab_protocol": _ab_record(total),
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
        "spark_over_duckdb": round(total / duck_total, 3) if duck_total else None,
        "gate_2x_pass": bool(duck_total and total <= 2 * duck_total),
        "multifile_ratio": (
            round(sum(mf_spark.values()) / sum(mf_duck.values()), 3)
            if mf_duck and sum(mf_duck.values()) else None
        ),
        "ratio_trend_1x_10x_100x": ratio_trend,
        "bucketed_headline_100x": (
            {
                # pair() may return None per query (e.g. a DuckDB median
                # rounding to 0 at tiny smoke factors) — never crash the
                # stdout line a full run already earned
                "q68": ((full["trend_100x"]["headline_bucketed"].get("q68_nation_profit") or {}).get("ratio_bucketed")),
                "q21": ((full["trend_100x"]["headline_bucketed"].get("q21_events_hourly") or {}).get("ratio_bucketed")),
            }
            if full.get("trend_100x") and full["trend_100x"].get("headline_bucketed")
            else None
        ),
        # PRIMARY events posture: the shred="auto" landing's ratios
        "events_primary_100x": (
            full["trend_100x"]["events_shredded_block"].get("ratios")
            if full.get("trend_100x") and full["trend_100x"].get("events_shredded_block")
            else None
        ),
        "ann_serving_100x": (
            {
                "gemm_sec": full["trend_100x"]["ann_serving_block"].get("gemm_sec"),
                "ivf_probe_sec": full["trend_100x"]["ann_serving_block"].get("ivf_probe_sec"),
                "recall_at_k": (full["trend_100x"]["ann_serving_block"].get("ivf_recall") or {}).get("recall_at_k"),
            }
            if full.get("trend_100x") and full["trend_100x"].get("ann_serving_block")
            else None
        ),
        # r12 verdict #1/#2: surface machine load in the ONE-LINE JSON
        # (additive keys) so a contended capture self-describes in the
        # artifact the driver actually parses, not only in the detail file.
        "load_avg_1m_5m_15m": full["config"]["load_avg_1m_5m_15m"],
        "contended": full["config"]["contended"],
        "detail": "bench_full.json",
    }
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
