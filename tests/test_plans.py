"""Plan contracts: the physical-plan properties the 100 TB design depends
on, asserted so a refactor cannot silently regress them (SURVEY §4).

These inspect the executed-plan string the same way `.explain("formatted")`
renders it: PushedFilters/ReadSchema for scan pushdown, join strategy
names, Exchange counts for shuffle budgets.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigquack_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def plan_of(spark, name: str) -> str:
    return QUERIES[name].fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_and_pruned(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    assert "l_orderkey" not in plan  # unused column pruned from ReadSchema


def test_q02_pushdown_contract(spark):
    plan = plan_of(spark, "q02_supplier_pushdown")
    assert "GreaterThan(s_suppkey,0)" in plan
    assert "s_comment" not in plan


def test_q05_star_join_all_broadcast(spark):
    """Every dimension join must be broadcast — the fact tables are the only
    shuffled inputs in the star-join plan."""
    plan = plan_of(spark, "q05_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q04_semi_join_not_inner(spark):
    plan = plan_of(spark, "q04_order_priority")
    assert "LeftSemi" in plan


def test_q11_anti_join(spark):
    plan = plan_of(spark, "q11_customers_without_orders")
    assert "LeftAnti" in plan


def test_q14_top_k_not_full_sort(spark):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject, never a global
    sort of the whole table."""
    plan = plan_of(spark, "q14_limit_scan")
    assert "TakeOrderedAndProject" in plan


def test_q33_minhash_single_exchange(spark):
    """Signature + banding are per-row projections; the only exchanges are
    the rebalance repartition and the final bucket groupBy."""
    plan = plan_of(spark, "q33_lsh_bucket_stats")
    assert plan.count("Exchange") <= 2
    assert "SortAggregate" not in plan  # hash aggregate on the bucket key


def test_q40_corpus_never_shuffles_for_join(spark):
    """Brute-force ANN: query side broadcast; the only exchange is the
    final per-query window rank."""
    plan = plan_of(spark, "q40_ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_python_udf_in_sql_inventory(spark):
    """Every oracle-paired query must stay JVM-side end to end: no
    BatchEvalPython / ArrowEvalPython / PythonUDF nodes anywhere."""
    offenders = []
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue  # q60-style mapInPandas plumbing is exempt by design
        plan = plan_of(spark, name)
        if any(tok in plan for tok in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF")):
            offenders.append(name)
    assert not offenders, f"Python in the row path of: {offenders}"


def test_query_docs_name_constants_not_placeholders():
    """A ``{NAME}`` in a query docstring is an f-string placeholder that
    was never filled (a docstring cannot be an f-string); docs name the
    constant as ``NAME`` instead."""
    import re

    placeholder = re.compile(r"\{[A-Z][A-Z0-9_]*\}")
    offenders = {
        name: placeholder.findall(spec.doc)
        for name, spec in QUERIES.items()
        if placeholder.search(spec.doc)
    }
    assert not offenders, offenders


def test_entry_flagship_runs(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"n_name", "revenue", "n_items"}


def test_q68_profit_dims_broadcast(spark):
    """Q9 shape: part/supplier/nation broadcast; the only sort-merge-eligible
    join is lineitem-orders on the orderkey, and the final agg is the single
    key shuffle."""
    plan = plan_of(spark, "q68_nation_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "EqualTo(p_type,PROMO)" in plan  # dim filter pushed to scan


def test_q71_anti_join_after_threshold(spark):
    plan = plan_of(spark, "q71_dormant_rich_customers")
    assert "LeftAnti" in plan
    assert "IsNotNull(o_orderdate)" in plan or "GreaterThanOrEqual(o_orderdate" in plan


def test_q72_single_window_shuffle(spark):
    """Q2 shape: both dims broadcast; the window over l_partkey is the only
    wide exchange."""
    plan = plan_of(spark, "q72_cheapest_supplier")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_q79_part_filter_pushed_and_broadcast(spark):
    """Q17 shape: the part predicate reaches the scan; the filtered dim
    broadcasts; the per-part aggregate joins without a second lineitem scan
    pattern (exactly 2 lineitem scans total: fact + aggregate input)."""
    plan = plan_of(spark, "q79_small_order_revenue")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(p_type,ECONOMY)" in plan
    assert "LessThan(p_size,15)" in plan


def test_q81_single_lineitem_orderkey_shuffle_family(spark):
    """Q21 shape: EXISTS/NOT-EXISTS decorrelated into ONE per-order
    aggregate — no more than one join of lineitem with itself, supplier
    broadcast, top-k as TakeOrderedAndProject."""
    plan = plan_of(spark, "q81_sole_late_shipper")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_q88_full_outer_null_safe(spark):
    plan = plan_of(spark, "q88_table_reconciliation")
    assert "FullOuter" in plan


def test_q89_exclusion_is_anti_join(spark):
    plan = plan_of(spark, "q89_supplier_diversity")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q75_no_corpus_shuffle_before_python_kernel(spark):
    """GEMM ANN: the mapInPandas kernel feeds straight off the scan; the
    only exchange is the tiny partial-top-k merge."""
    plan = plan_of(spark, "q75_ann_gemm_topk")
    assert "MapInArrow" in plan  # r12: the GEMM kernel is mapInArrow
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange") <= 2


def test_q96_single_stratum_shuffle(spark):
    """Stratified rank-cut sample: ONE exchange (hash by source for the
    window), no global sort — the per-stratum sort lives inside the window
    operator."""
    plan = plan_of(spark, "q96_stratified_topn_sample")
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_q98_histogram_pruned_and_partial(spark):
    """Histogram: only price+quantity leave the scan, and the groupBy is a
    partial (map-side) then final hash aggregate — one exchange of ~200
    bins, never of rows."""
    plan = plan_of(spark, "q98_price_histogram")
    assert "l_extendedprice" in plan and "l_quantity" in plan
    assert "l_comment" not in plan and "l_partkey" not in plan
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_q100_one_aggregate_no_window(spark):
    """Touch attribution via min_by/max_by: ONE exchange, with a partial
    (map-side) aggregate before it so the shuffle carries one row per
    (partition, user) — not the event log.  min_by/max_by are imperative
    aggregates, so Spark plans SortAggregate with per-partition sorts on
    the group key; the contract is no Window and no second exchange."""
    plan = plan_of(spark, "q100_touch_attribution")
    assert plan.count("Exchange") == 1
    assert "Window" not in plan
    assert "partial_min_by" in plan


def test_q101_no_pairwise_join(spark):
    """Duplicate-ngram ratio: shingle-keyed equi-joins only — a doc x doc
    product must never plan."""
    plan = plan_of(spark, "q101_dup_ngram_ratio")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q106_aggregates_pushed_to_footers(spark):
    """The stats query must plan as PushedAggregation on the DSv2 scan —
    a metadata-only read — and must restore the session's v1 reader
    BEHAVIORALLY: a plain aggregate read planned right after q106 must NOT
    carry PushedAggregation (the conf.get(key, None)-returns-None restore
    trap left the session on v2 and broke later cached scans)."""
    from pyspark.sql import functions as F

    plan = plan_of(spark, "q106_footer_stats")
    assert "PushedAggregation: [COUNT(*)" in plan
    after = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .agg(F.count(F.lit(1)).alias("n"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedAggregation" not in after


def test_q110_no_nested_loop_join(spark):
    """Regression (review finding): the rolling-distinct rewrite must plan
    hash equi-joins only — a BETWEEN range join here becomes
    BroadcastNestedLoopJoin (spine x activity predicate evaluations)."""
    plan = plan_of(spark, "q110_rolling_7d_distinct_users")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q115_no_global_ordering(spark):
    """Sliced packing must never serialize: the window partitions by the
    hash slice, so no SinglePartition exchange may appear anywhere in the
    plan."""
    plan = plan_of(spark, "q115_sliced_shard_packing")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_q35_no_cartesian_product(spark):
    """embedding_near_dup's default path must equi-join on the derived
    sign-LSH bucket — never a corpus x corpus cartesian (round-1 verdict
    item #6; unblocked=True is the explicit test-scale opt-out)."""
    plan = plan_of(spark, "q35_embedding_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q107_default_packing_no_global_ordering(spark):
    """pack_shards' DEFAULT surface (q107) must plan like q115: windows
    partitioned by the derived md5 slice, zero SinglePartition exchanges.
    Round-1 verdict item #5 — the global window is opt-in
    (global_order=True) now, not the default."""
    plan = plan_of(spark, "q107_token_budget_shards")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_q116_rollup_single_exchange(spark):
    """Multi-resolution ROLLUP: the grouping-set expand happens map-side and
    all tiers share ONE shuffle — the second exchange is only the distinct
    expand for countDistinct.  No SinglePartition anywhere."""
    plan = plan_of(spark, "q116_hypertable_rollup")
    assert plan.count("Exchange") <= 2
    assert "Expand" in plan  # grouping sets expanded, not re-scanned per tier
    assert "SinglePartition" not in plan


def test_q117_ngram_jaccard_no_cross_product(spark):
    """n-gram Jaccard rides simhash chunk blocking: candidate generation is
    an equi-join on (chunk_id, chunk) — never a cartesian/nested-loop pass
    over the corpus."""
    plan = plan_of(spark, "q117_ngram_jaccard_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_accidental_cartesian_anywhere(spark):
    """Registry-wide lint: no query may plan a CartesianProduct, and only
    the whitelisted broadcast-corpus ANN shapes may use
    BroadcastNestedLoopJoin (there it IS the plan: corpus stays in place,
    the bounded query set broadcasts).  Catches the classic regression of
    a join key typo silently degrading to a cross product."""
    BNLJ_OK = {
        # each of these broadcasts a BOUNDED side on purpose:
        "q40_ann_cosine_topk",  # bounded query set vs in-place corpus
        "q42_ann_ivf_topk",  # broadcast centroids/probed queries
        "q93_multimodal_retrieval",  # broadcast query embedding
        "q119_key_skew",  # broadcast 1-row totals aggregate
        "q71_dormant_rich_customers",  # broadcast scalar-subquery threshold
        "q82_nation_value_share",  # broadcast scalar total
        "q125_pps_weighted_sample",  # broadcast 1-row total-weight aggregate
        "q141_bm25_search",  # broadcast 1-row (n_docs, avgdl) stats aggregate
        "q148_transition_pagerank",  # broadcast 1-row node-count aggregate
        "q158_changepoint",  # broadcast 1-row total power sums onto O(days) rows
        "q160_lsh_eval",  # bounded 200-doc eval slice broadcast (exact ground truth)
        "q167_join_cardinality",  # broadcast 1-row histogram summaries
        "q169_bloom_semi_join",  # broadcast 1-row bloom bitmap onto the fact scan
        "q182_neyman_allocation",  # broadcast 1-row total-allocation aggregate
        "q189_class_balance_weights",  # broadcast 1-row normalizer aggregates
        "q191_hybrid_rrf",  # bounded 3-doc query set broadcast (the q40 shape)
        "q203_psi_drift",  # broadcast 1-row epoch span + 10-row bin grid
        "q318_vocab_divergence",  # broadcast 1-row grand totals + (sources x topK+1) grid
        "q206_retention_curve",  # broadcast calendar-bounded day grid + 1-row total
        "q207_unigram_logprob",  # broadcast 1-row corpus-total aggregate
        "q209_matryoshka_overlap",  # bounded query set broadcast (the q40 shape), twice
        "q210_hamming_ann",  # bounded query-signature set broadcast (the q40 shape)
        "q212_incremental_rollup",  # broadcast 1-row latest-day aggregate
        "q217_hamming_rerank",  # bounded query-signature set broadcast (stage 1 = q210)
        "q219_stl_decompose",  # broadcast 7-row seasonal table onto O(days) rows
        "q221_zorder_layout",  # broadcast 1-row min/max range aggregate
        "q222_mixture_solver",  # broadcast 1-row total + 1-row binding-rate aggregates
        "q224_ann_eval",  # bounded query/query-signature sets broadcast (q40/q210 shapes)
        "q225_slice_audit",  # broadcast 1-row corpus base-rate aggregate
        "q229_bigram_logprob",  # broadcast 1-row corpus-total aggregate
        "q230_kaplan_meier",  # broadcast 1-row horizon + 1-row subject-count aggregates
        "q232_markov_eval",  # broadcast 1-row majority-class baseline
        "q237_seasonal_anomaly",  # broadcast 7-row seasonal + 1-row median/MAD anchors
        "q240_maxsim_retrieval",  # bounded query-chunk set broadcast (the q40 shape)
        "q241_threshold_sweep",  # broadcast 1-row pair-total aggregate
        "q242_sample_bias_audit",  # broadcast 1-row population/sample totals
        "q245_ks_test",  # broadcast 1-row sample-size totals
        "q249_lang_agreement_kappa",  # broadcast 1-row agreement x 1-row marginal-product aggregates
        "q253_freshness_lag",  # broadcast 1-row watermark aggregate
        "q260_acf_daily_revenue",  # broadcast 14-row lag grid onto the daily series
        "q261_benford_audit",  # broadcast 1-row total onto the 9-row digit histogram
        "q263_negative_sampling_table",  # broadcast 1-row total onto the vocab table
        "q264_temporal_split_audit",  # broadcast 1-row day bounds + 1-row overlap count
        "q265_srm_check",  # broadcast 1-row total onto the 2-row arm counts
        "q266_churn_labels",  # broadcast 1-row cutoff onto the event scan
        "q281_gdpr_erasure_impact",  # 1-row x 1-row x 1-row scalar assembly
        "q289_fk_orphan_audit",  # 1-row x 1-row scalar assembly
        "q294_revenue_concentration",  # broadcast 4-row percentile grid
        "q298_hll_merge_audit",  # 1-row x 1-row sketch-estimate assembly
        "q303_storage_tiering",  # broadcast 1-row max-date aggregate
        "q306_retention_policy_sizing",  # broadcast 1-row max-date aggregate
        "q330_cross_rerank_audit",  # bounded query set broadcast (the q40 shape)
    }
    offenders = []
    for name, spec in QUERIES.items():
        plan = plan_of(spark, name)
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_no_complex_typed_outputs_in_oracle_paired_queries(spark):
    """Registry-wide lint (r2 verdict #1): the driver's canonicalizer does a
    pandas ``sort_values`` over object columns and raises ``unhashable
    type: numpy.ndarray`` on any array/map/struct result cell (q121 was
    driver-red this way; q103/q142 were latent).  Every oracle-paired query
    must emit scalar-only output columns — arrays are serialized to
    canonical joined strings instead."""
    from pyspark.sql import types as T

    offenders = []
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        schema = QUERIES[name].fn(spark, SF_SMOKE).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders.append((name, bad))
    assert not offenders, f"complex-typed output columns: {offenders}"


def test_q129_chunk_dedup_aggregate_not_window(spark):
    """The keep-first decision must be the partial-aggregating min(struct)
    — NO window operator anywhere (a window over the chunk hash would
    hot-spot one reducer on a viral boilerplate chunk)."""
    plan = plan_of(spark, "q129_chunk_dedup")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_q130_incremental_dedup_no_window(spark):
    """In-batch keep-first is an aggregate join-back, history membership a
    key join: no window, no cross product, no SinglePartition."""
    plan = plan_of(spark, "q130_incremental_dedup")
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_q131_nfc_zero_shuffle(spark):
    """NFC canonicalization is a pure projection: the only exchange in the
    plan is the explicit rebalance repartition (hash-by-doc_id spread since
    r12) — no aggregation/join shuffle."""
    plan = plan_of(spark, "q131_nfc_canonical_fingerprint")
    assert plan.count("Exchange") <= 1
    assert "SinglePartition" not in plan


def test_q132_batching_no_single_partition(spark):
    """Length-bucketed packing windows partition by (band x sub-slice):
    never a global-order SinglePartition exchange (q115 contract)."""
    plan = plan_of(spark, "q132_length_bucketed_batching")
    assert "SinglePartition" not in plan


def test_planlint_flags_cartesian_and_single_partition(spark):
    """Library plan lint: catches the cross join and the global-order
    window; passes a clean keyed aggregate."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from bigquack_spark.planlint import assert_scales, lint_plan

    a = spark.range(10).withColumnRenamed("id", "x")
    b = spark.range(10).withColumnRenamed("id", "y")
    codes = {c for _, c, _ in lint_plan(a.crossJoin(b))}
    assert "cartesian" in codes or "nested_loop" in codes

    w = Window.orderBy("x")
    single = a.withColumn("rn", F.row_number().over(w))
    assert "single_partition" in {c for _, c, _ in lint_plan(single)}
    with pytest.raises(ValueError, match="scale lint"):
        assert_scales(single)

    clean = a.groupBy((F.col("x") % 3).alias("k")).count()
    assert [f for f in lint_plan(clean) if f[0] == "error"] == []
    assert_scales(clean)


def test_planlint_flags_row_udf(spark):
    from pyspark.sql import functions as F

    from bigquack_spark.planlint import lint_plan

    slow = F.udf(lambda x: x + 1, "bigint")
    df = spark.range(10).select(slow("id").alias("y"))
    assert "python_row_udf" in {c for _, c, _ in lint_plan(df)}


def test_q141_bm25_pruned_and_top_k(spark):
    """BM25: the documents scan reads only (doc_id, text); the final top-k
    is a window-rank, never a global sort of all scored docs."""
    plan = plan_of(spark, "q141_bm25_search")
    assert "lang" not in plan and "source" not in plan  # column pruning
    assert "CartesianProduct" not in plan


def test_q144_kmeans_corpus_never_shuffles(spark):
    """Lloyd assignment inlines the K centroids as literals: the corpus
    path has NO join operator and NO keyed exchange — the only exchanges
    are the explicit rebalance and the K x DIM centroid aggregate
    (which ran eagerly during construction).  A regression to a
    cross-join/window argmin would reintroduce a corpus-sized shuffle."""
    plan = plan_of(spark, "q144_kmeans_lloyd")
    assert "Join" not in plan  # no join of any kind in the final DAG
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_q147_classify_corpus_never_shuffles(spark):
    """Nearest-centroid classification: literal prototypes, corpus-side
    plan is scan -> project -> bounded aggregate; no join, no window."""
    plan = plan_of(spark, "q147_centroid_classify")
    assert "Join" not in plan
    assert "Window" not in plan


def test_q145_dim_stats_single_bounded_shuffle(spark):
    """Per-dim stats: exactly one keyed exchange (the DIM-group
    aggregate) beyond the explicit rebalance; grouping key is the
    position, so the shuffle is DIM x partitions partial rows."""
    plan = plan_of(spark, "q145_embedding_dim_stats")
    assert plan.count("hashpartitioning(pos") <= 2  # partial+final pair
    assert "Window" not in plan
    assert "SinglePartition" not in plan or "rangepartitioning" in plan


def test_q153_reservoir_is_take_ordered(spark):
    """E-S weighted sampling must pre-reduce per partition: the k-row
    sample plans as TakeOrderedAndProject, never a global sort."""
    plan = plan_of(spark, "q153_weighted_reservoir")
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_q152_integrity_dims_broadcast_no_bnlj(spark):
    """FK audit: every parent side is an equi-join (broadcast for dims);
    no nested-loop anywhere despite the 1-row-per-edge output."""
    plan = plan_of(spark, "q152_referential_integrity")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q248_training_order_no_global_sort(spark):
    """The per-epoch permutation must stay partition-parallel: rank windows
    are (epoch, shard)-partitioned, never a single global-order partition
    (q59's documented trap, which q248 exists to avoid)."""
    plan = plan_of(spark, "q248_training_order")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(epoch" in plan  # the bounded window key


def test_q251_lateral_rewrites_to_window_group_limit(spark):
    """Catalyst must rewrite the correlated LATERAL ORDER BY/LIMIT into the
    WindowGroupLimit + equi-join shape — the docstring's claim that the
    analyst-style formulation costs the same as the declarative rank.  A
    regression to a nested-loop per-row subquery would show as BNLJ."""
    plan = plan_of(spark, "q251_lateral_topn")
    assert "WindowGroupLimit" in plan  # map-side partial top-k
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q247_pair_join_capped_no_cartesian(spark):
    """Shared-span pair report (r4 verdict #5): the fp-keyed pair join must
    be equi-keyed (never a cartesian/BNLJ), and the boilerplate cap — the
    thing that bounds per-fingerprint fan-out to C(SPAN_DF_CAP,2) pairs —
    must sit in the plan as a document-frequency filter BEFORE the join."""
    from bigquack_spark.queries.text import SPAN_DF_CAP

    plan = plan_of(spark, "q247_shared_span_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert f"<= {SPAN_DF_CAP})" in plan  # the df-cap filter is present


def test_q250_ivm_merge_is_union_not_join(spark):
    """Join-IVM (r4 verdict #5): the plan may contain EXACTLY the four
    bilinear-term joins (view_old + three delta terms); the partial-merge
    itself must be a Union + re-aggregate, never another join of the merged
    view against the base tables (a full-recompute regression)."""
    import re

    plan = plan_of(spark, "q250_join_ivm")
    joins = re.findall(
        r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
        r"CartesianProduct|BroadcastNestedLoopJoin",
        plan,
    )
    assert len(joins) == 4, joins
    assert "CartesianProduct" not in plan
    assert "Union" in plan  # the merge path


def test_wds_export_preserves_partitioning(spark, tmp_path):
    """Tar-shard export (r4 verdict #5): one shard per INPUT partition —
    the writer must never collapse to a single writer (repartition(1) /
    coalesce) behind the caller's back; shard count IS the parallelism."""
    from bigquack_spark.sinks.wds import export_webdataset_shards

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
        .repartition(4)
    )
    manifest = export_webdataset_shards(docs, str(tmp_path / "wds_par"), key_col="doc_id")
    assert len(manifest["shards"]) == 4


def test_q254_compaction_window_is_partitioned(spark):
    """Compaction planner: the cumulative-sum packing window must stay
    partitioned by the layout key (l_returnflag) — a global-order window
    would funnel the whole file manifest through one task."""
    plan = plan_of(spark, "q254_small_file_compaction_plan")
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_q255_drift_single_scan(spark):
    """Schema drift: both snapshot halves come off ONE events scan (the
    split is an event_id-parity projection, not a self-union of two
    reads)."""
    plan = plan_of(spark, "q255_schema_drift")
    assert plan.count("Scan parquet") == 1
    assert "SinglePartition" not in plan


def test_q257_watermark_window_is_block_bounded(spark):
    """Out-of-order rate: the running-max window must be partitioned by
    (event_type, arrival block), never a global or whole-type order."""
    plan = plan_of(spark, "q257_out_of_order_rate")
    assert "SinglePartition" not in plan


def test_q258_dq_suite_single_scan(spark):
    """DQ expectations: all rules (ranges, enums, pk-uniqueness) ride ONE
    lineitem scan — adding a rule adds a column, not a pass."""
    plan = plan_of(spark, "q258_dq_expectations")
    assert plan.count("Scan parquet") == 1


def test_lineage_capture_q05(spark):
    """Lineage is read off the executed plan: q05 touches all six TPC-H
    dims+facts, every scan reports its pruned column set, and the pushed
    region predicate is visible on the region scan."""
    from bigquack_spark.lineage import capture_lineage, lineage_tables
    from bigquack_spark.queries import QUERIES

    df = QUERIES["q05_region_revenue"].fn(spark, SF_SMOKE)
    lin = capture_lineage(df)
    assert lineage_tables(df) == {
        "region", "nation", "customer", "supplier", "orders", "lineitem"
    }
    by_table = {s["table"]: s for s in lin["sources"]}
    assert set(by_table["lineitem"]["columns"]) == {
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    }
    assert any(
        f.startswith("LessThan(r_regionkey") for f in by_table["region"]["pushed_filters"]
    )
    assert lin["output_columns"] == df.columns
    # render confs restored after capture
    assert spark.conf.get("spark.sql.debug.maxToStringFields", None) != "10000"


def test_lineage_counts_self_join_twice(spark):
    from bigquack_spark.lineage import capture_lineage

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    a = o.select("o_orderkey", "o_custkey")
    b = o.select("o_orderkey", "o_totalprice")
    j = a.join(b, "o_orderkey")
    lin = capture_lineage(j)
    assert [s["table"] for s in lin["sources"]].count("orders") == 2


def test_lineage_capture_catalog_table(spark, tmp_path):
    """Catalog-table scans render without a space before the column list
    (FileScan parquet spark_catalog.default.t[...]); lineage must still
    parse them and prefer the catalog name."""
    from bigquack_spark.lineage import capture_lineage

    spark.sql("DROP TABLE IF EXISTS lineage_probe")
    (
        spark.read.parquet(f"{SF_SMOKE}/region.parquet")
        .write.mode("overwrite")
        .saveAsTable("lineage_probe")
    )
    try:
        lin = capture_lineage(spark.table("lineage_probe").filter("r_regionkey > 1"))
        assert [s["table"] for s in lin["sources"]] == ["lineage_probe"]
        assert any(
            f.startswith("GreaterThan(r_regionkey")
            for f in lin["sources"][0]["pushed_filters"]
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS lineage_probe")


def test_column_lineage_rename_alias_exact(spark):
    """r6 verdict #4: column-grain lineage resolves renames — 'revenue'
    maps to orders.o_totalprice even though no output name matches — and
    includes the filter column as a control dependency (it decided which
    rows survived; an erasure assessment must count it)."""
    from bigquack_spark.lineage import capture_column_lineage

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    df = o.filter("o_orderstatus = 'O'").select(
        F.col("o_totalprice").alias("revenue"),
        F.col("o_custkey").alias("cust"),
    )
    lin = capture_column_lineage(df)
    assert set(lin) == {"revenue", "cust"}
    rev_cols = {c for s in lin["revenue"] for c in s["columns"]}
    assert "o_totalprice" in rev_cols
    assert "o_orderstatus" in rev_cols  # control dependency
    assert "o_custkey" not in rev_cols  # the other output's source, pruned
    cust_cols = {c for s in lin["cust"] for c in s["columns"]}
    assert "o_custkey" in cust_cols and "o_totalprice" not in cust_cols


def test_column_lineage_self_join_is_exact_where_table_grain_overreports(spark):
    """A self-join reads 'orders' twice; table-grain lineage can only say
    {orders} for every output.  Column-grain: each output depends on ITS
    side's value column (plus the join key on both scans), never on the
    other side's payload."""
    from bigquack_spark.lineage import capture_column_lineage, lineage_tables

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    a = o.select("o_orderkey", "o_custkey")
    b = o.select("o_orderkey", "o_totalprice")
    j = a.join(b, "o_orderkey").select("o_custkey", "o_totalprice")
    assert lineage_tables(j) == {"orders"}  # the over-report this fixes
    lin = capture_column_lineage(j)
    ck = {c for s in lin["o_custkey"] for c in s["columns"]}
    tp = {c for s in lin["o_totalprice"] for c in s["columns"]}
    assert "o_custkey" in ck and "o_totalprice" not in ck
    assert "o_totalprice" in tp and "o_custkey" not in tp
    assert "o_orderkey" in ck and "o_orderkey" in tp  # join key: both sides


def test_column_lineage_derived_expression_maps_to_all_inputs(spark):
    from bigquack_spark.lineage import capture_column_lineage

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    df = li.select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net")
    )
    lin = capture_column_lineage(df)
    assert {c for s in lin["net"] for c in s["columns"]} == {
        "l_extendedprice", "l_discount"
    }


def test_column_lineage_rejects_duplicate_output_names(spark):
    import pytest as _pytest

    from bigquack_spark.lineage import capture_column_lineage

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    dup = o.select(F.col("o_custkey").alias("k"), F.col("o_orderkey").alias("k"))
    with _pytest.raises(ValueError, match="duplicate"):
        capture_column_lineage(dup)


def test_q260_acf_series_sized_after_first_aggregate(spark):
    """ACF: the lag fan-out happens AFTER the daily reduction — the raw
    fact table is scanned once per side and never windowed; the lag grid
    rides in as a bounded broadcast."""
    plan = plan_of(spark, "q260_acf_daily_revenue")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_q262_phash_banding_no_pairwise(spark):
    """pHash near-dup: candidates come from band-keyed equi-joins only —
    a media x media product must never plan (q36's contract, multimodal
    twin)."""
    plan = plan_of(spark, "q262_phash_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_cell_drift_reads_no_vector_pages(spark, tmp_path):
    """Plan contract for the drift monitor's cost claim: its occupancy
    scan over the index must carry an EMPTY read schema (cell is a
    partition column), so no vector data page is ever decoded — the
    audit's cost scales with file count, not vector bytes."""
    from pyspark.sql import functions as F

    from bigquack_spark.operators import simsearch as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "ivf_contract")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42) == 4
    df = S.ivf_cell_drift(spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # EVERY scan must be lattice-only: the index scan reads just the
    # partition column and build_stats its two tiny columns — if any scan
    # pulls vec/id data pages the contract is broken (all(), not any():
    # the build_stats scan alone would satisfy any() even on a regression)
    index_scans = [m for m in re.finditer(r"FileScan parquet \[(?P<cols>[^\]]*)\]", plan)]
    assert index_scans, plan
    assert all(
        "vec" not in m.group("cols") and "id" not in m.group("cols")
        for m in index_scans
    ), plan
    assert not df.filter(F.col("n_now") < F.col("n_build")).take(1)


def test_registered_ann_queries_stay_jvm_side(spark):
    """The r11 serving knobs (arrow_scoring / arrow ADC / arrow encode)
    are opt-in ONLY: every oracle-paired ANN/PQ registry query must plan
    with zero Python evaluation nodes — the hash-matched paths stay in
    codegen, so a knob default can never silently drift the oracle math."""
    from bigquack_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    for name in (
        "q40_ann_cosine_topk", "q41_ann_lsh_topk", "q42_ann_ivf_topk",
        "q213_pq_codes", "q310_pq_adc_audit", "q326_filtered_ann",
    ):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, f"{name} picked up a Python kernel"
