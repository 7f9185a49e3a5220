"""Corpus-assembly query inventory (SURVEY §2.9 extension surface).

The ops a pretraining pipeline runs between raw documents and tokenized
shards: deterministic splitting, domain-mixture resampling, benchmark
contamination.  All thresholds are exact integers on md5-derived buckets
(Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT), so every query here
oracle-diffs bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.operators import corpus as C
from bigquack_spark.operators.corpus import _hash_bucket
from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t

_MIX_RATES = {"src0": 10, "src1": 25, "src2": 50}
_BENCH_MOD = 97  # doc_id % 97 == 0 stands in for the benchmark set
_MAX_DF = 50
_SHINGLE_LEN = 3


@query(
    "q83_train_val_split",
    oracle="""
    SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT source,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT source,
               CAST('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 6)
                    AS BIGINT) % 100 AS b
        FROM documents
      )
    )
    GROUP BY source, split
    """,
)
def q83_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split, summarized per (source, split).  The
    assignment is a pure md5-bucket projection (operators/corpus.hash_split)
    — stable under reordering, repartitioning, and engine choice, which is
    what makes a split reproducible at 100 TB where rand()-sampling isn't.
    The only shuffle is the summary groupBy; the split itself is
    shuffle-free."""
    d = C.hash_split(t(spark, sf_dir, "documents"), id_col="doc_id", salt="split-v1")
    return d.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


@query(
    "q84_benchmark_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - 1),
                                     i -> array_to_string(tk[i:i+2], ' '))) AS s
        FROM toks
      )
    ),
    bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
    rare AS (
      SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) <= {_MAX_DF}
    ),
    train AS (SELECT doc_id, sh.s FROM sh JOIN rare ON sh.s = rare.s),
    bench_sizes AS (
      SELECT bench_id, CAST(count(*) AS BIGINT) AS bench_total FROM bench GROUP BY bench_id
    ),
    overlap AS (
      SELECT t.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_overlap
      FROM train t JOIN bench b ON t.s = b.s
      GROUP BY t.doc_id, b.bench_id
    )
    SELECT o.doc_id, o.bench_id, o.n_overlap, bs.bench_total,
           round(o.n_overlap / bs.bench_total, 6) AS score
    FROM overlap o JOIN bench_sizes bs ON bs.bench_id = o.bench_id
    WHERE o.doc_id <> o.bench_id
    """,
)
def q84_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination via distinct word-trigram overlap: training
    docs and the benchmark subset meet in ONE equi-join on the shingle (the
    shuffle key), never a doc cross product; a document-frequency cap drops
    boilerplate trigrams — the join-skew hazard AND the false-positive
    source — before the join (operators/corpus.contamination_pairs)."""
    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    pairs = C.contamination_pairs(
        docs, bench, shingle_len=_SHINGLE_LEN, max_df=_MAX_DF
    )
    return pairs.filter(F.col("doc_id") != F.col("bench_id"))


@query(
    "q85_domain_mixture",
    oracle=f"""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    WHERE CAST('0x' || substr(md5('mix-v1|' || CAST(doc_id AS VARCHAR)), 1, 6)
               AS BIGINT) % 100
          < CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 25
                        WHEN 'src2' THEN 50 ELSE 100 END
    GROUP BY source
    """,
)
def q85_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: per-source keep-rates as exact integer
    thresholds on the md5 bucket (operators/corpus.mixture_sample).  The
    filter is a pure projection — Catalyst pushes it to the scan, so at
    100 TB the dropped rows never leave the input stage; downstream sees
    the already-mixed corpus."""
    mixed = C.mixture_sample(
        t(spark, sf_dir, "documents"), _MIX_RATES, salt="mix-v1"
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


_DUP_SHINGLE_LEN = 5


@query(
    "q101_dup_ngram_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - {_DUP_SHINGLE_LEN - 2}),
                                     i -> array_to_string(tk[i:i+{_DUP_SHINGLE_LEN - 1}], ' '))) AS s
        FROM toks
      )
    ),
    df_ AS (
      SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE df_.df >= 2) AS BIGINT) AS n_dup,
           round(CAST(count(*) FILTER (WHERE df_.df >= 2) AS DOUBLE)
                 / count(*), 6) AS dup_ratio
    FROM sh JOIN df_ ON sh.s = df_.s
    GROUP BY sh.doc_id
    """,
)
def q101_dup_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-5-gram ratio per document: the fraction of a
    doc's distinct word 5-grams that occur in at least one OTHER doc (df>=2
    over distinct doc-shingle pairs) — the repetition/boilerplate signal
    quality filters threshold on.  Two shuffles total: document-frequency
    groupBy on the shingle (map-side combinable) and the shingle-keyed join
    back; no doc x doc pair ever materializes, so it scales with corpus
    size, not corpus^2."""
    from bigquack_spark.operators.dedup import _shingles_frame

    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    sh = _shingles_frame(docs, "text", _DUP_SHINGLE_LEN, "__sh").select(
        "doc_id", F.explode("__sh").alias("s")
    )
    df_ = sh.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    joined = sh.join(df_, "s")
    is_dup = (F.col("df") >= 2).cast("bigint")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(is_dup).cast("bigint").alias("n_dup"),
        F.round(F.sum(is_dup) / F.count(F.lit(1)), 6).alias("dup_ratio"),
    )


_SHARD_TOKEN_BUDGET = 2000


@query(
    "q107_token_budget_shards",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tok,
             CAST('0x' || substr(md5('pack-v1|' || CAST(doc_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % 64 AS slc
      FROM documents
    ),
    packed AS (
      SELECT slc, n_tok,
             CAST((sum(n_tok) OVER (PARTITION BY slc ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                  // {_SHARD_TOKEN_BUDGET} AS BIGINT) AS local_shard
      FROM sized
    )
    SELECT CAST(slc AS VARCHAR) || '-' || CAST(local_shard AS VARCHAR) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM packed GROUP BY 1
    """,
)
def q107_token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGETED shard packing through pack_shards' DEFAULT surface:
    docs hash into 64 independent md5 slices and each slice packs ~2000-
    token shards inside its own window partition (exclusive running total
    cut at the budget).  No global ordering anywhere — the round-1 verdict
    flagged the old global-window default as the scale-killer, so the
    sliced form IS the default now and the plan contract
    (tests/test_plans.py) asserts no SinglePartition exchange here.  The
    oracle mirrors the md5 slice assignment bit-exactly, so shard ids and
    totals hash-match.  q115 exercises the explicit-slice_col variant;
    the demoted global form survives as pack_shards(global_order=True)
    (q59's oracle pins those semantics at test tier)."""
    d = t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.size(F.split(F.lower("text"), r"\s+")).cast("bigint").alias("n_tok"),
    )
    packed = C.pack_shards(sized, "n_tok", budget=_SHARD_TOKEN_BUDGET)
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


@query(
    "q108_intra_doc_repetition",
    oracle=f"""
    SELECT doc_id,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(n_total - n_distinct AS BIGINT) AS n_repeated,
           round(CAST(n_total - n_distinct AS DOUBLE) / n_total, 6) AS rep_ratio
    FROM (
      SELECT doc_id,
             len(grams) AS n_total,
             len(list_distinct(grams)) AS n_distinct
      FROM (
        SELECT doc_id,
               list_transform(range(1, len(tk) - {_DUP_SHINGLE_LEN - 2}),
                              i -> array_to_string(tk[i:i+{_DUP_SHINGLE_LEN - 1}], ' ')) AS grams
        FROM (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk
          FROM documents
        )
      )
    )
    WHERE n_total > 0
    """,
)
def q108_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition (the Gopher-style quality gate): the
    fraction of a doc's word 5-grams that are repeats of an earlier 5-gram
    in the SAME doc.  Pure per-row projection — total minus distinct gram
    counts — zero shuffle, pushed to the scan stage; the cross-document
    twin is q101."""
    d = t(spark, sf_dir, "documents")
    # STAGE the token array and the gram array as projected columns (r13,
    # the q139 winnowing lesson): a Column-shaped `toks` referenced inside
    # the gram lambda is a full split() re-evaluated PER ELEMENT (no
    # codegen subexpression elimination for lambdas) — O(tokens^2) splits
    # per row — and `grams` referenced twice (size + array_distinct)
    # doubled the whole gram build.  Staged, each computes once per row.
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(toks) - _DUP_SHINGLE_LEN)
    # short-doc guard: sequence() descends for size<n and slice(start=0)
    # throws — short docs must yield an empty gram list, as the oracle does
    grams = F.when(
        F.size(toks) >= _DUP_SHINGLE_LEN,
        F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i + 1, _DUP_SHINGLE_LEN), " ")
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = (
        d.withColumn("__toks", F.split(F.lower("text"), r"\s+"))
        .withColumn("__grams", grams)
        .select(
            "doc_id",
            F.size("__grams").cast("bigint").alias("n_total"),
            F.size(F.array_distinct("__grams")).cast("bigint").alias("n_distinct"),
        )
        .filter(F.col("n_total") > 0)
    )
    return out.select(
        "doc_id",
        "n_total",
        (F.col("n_total") - F.col("n_distinct")).cast("bigint").alias("n_repeated"),
        F.round(
            (F.col("n_total") - F.col("n_distinct")) / F.col("n_total"), 6
        ).alias("rep_ratio"),
    )


_PACK_SLICES = 4
_PACK_SALT = "pack-v1"


@query(
    "q115_sliced_shard_packing",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tok,
             CAST('0x' || substr(md5('{_PACK_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % {_PACK_SLICES} AS slc
      FROM documents
    ),
    packed AS (
      SELECT slc, n_tok,
             CAST((sum(n_tok) OVER (PARTITION BY slc ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                  // {_SHARD_TOKEN_BUDGET} AS BIGINT) AS local_shard
      FROM sized
    )
    SELECT CAST(slc AS VARCHAR) || '-' || CAST(local_shard AS VARCHAR) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM packed GROUP BY 1
    """,
)
def q115_sliced_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of q107: documents hash into ``_PACK_SLICES`` independent slices
    (md5 bucket — the same engine-portable assignment as q83), and each
    slice packs its own token-budget shards inside its own window
    partition.  No global ordering anywhere: the window partitions by
    slice, so the sort is per-slice and the running total never crosses
    slices.  Shard ids are (slice, local) strings — unique without
    cross-slice coordination (operators/corpus.pack_shards slice_col
    path, here oracle-verified rather than only property-tested)."""
    d = t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.size(F.split(F.lower("text"), r"\s+")).cast("bigint").alias("n_tok"),
    ).withColumn(
        "slc", _hash_bucket_pack(F.col("doc_id"))
    )
    packed = C.pack_shards(
        sized, "n_tok", budget=_SHARD_TOKEN_BUDGET, slice_col="slc"
    )
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


def _hash_bucket_pack(key):
    h = F.md5(F.concat(F.lit(_PACK_SALT + "|"), key.cast("string")))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("bigint") % _PACK_SLICES


_BATCH_TOKEN_BUDGET = 512
_LEN_BAND = 16          # tokens per length band
_BATCH_SUBSLICES = 8    # hash sub-slices inside each band (bounds window partitions)
_BATCH_SALT = "lenbatch_v1"


@query(
    "q132_length_bucketed_batching",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tok,
             CAST('0x' || substr(md5('{_BATCH_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % {_BATCH_SUBSLICES} AS sub
      FROM documents
    ),
    sliced AS (
      SELECT doc_id, n_tok,
             n_tok // {_LEN_BAND} AS len_bucket,
             (n_tok // {_LEN_BAND}) * {_BATCH_SUBSLICES} + sub AS slc
      FROM sized
    ),
    packed AS (
      SELECT len_bucket, slc, n_tok,
             CAST((sum(n_tok) OVER (PARTITION BY slc ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                  // {_BATCH_TOKEN_BUDGET} AS BIGINT) AS local_batch
      FROM sliced
    )
    SELECT CAST(slc AS VARCHAR) || '-' || CAST(local_batch AS VARCHAR) AS batch_id,
           CAST(min(len_bucket) AS BIGINT) AS len_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS actual_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           CAST(count(*) * max(n_tok) AS BIGINT) AS padded_tokens,
           round(1.0 - CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) * max(n_tok) AS DOUBLE), 6)
             AS padding_waste
    FROM packed GROUP BY 1
    """,
)
def q132_length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly — the padding-efficiency op of a
    training dataloader: documents band into ``_LEN_BAND``-token length
    buckets so each batch packs near-homogeneous lengths, then next-fit
    token-budget packing runs per (band x md5 sub-slice) via
    operators/corpus.pack_shards.  Per batch: actual vs padded token counts
    (n_docs x max_len) and the padding-waste ratio — the number a pipeline
    owner watches to justify bucketing at all.  The sub-slice keeps every
    window partition bounded (a band holds a constant fraction of a 100 TB
    corpus; band x 8 hash slices is still unbounded in theory but each
    slice packs independently, so num_slices scales with the cluster, not
    the data — same contract as q115).  Waste ratio divides exact BIGINTs,
    so the doubles agree bitwise cross-engine."""
    d = t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.size(F.split(F.lower("text"), r"\s+")).cast("bigint").alias("n_tok"),
    )
    sliced = sized.withColumns(
        {
            "len_bucket": (F.col("n_tok") / _LEN_BAND).cast("bigint"),
            "slc": (
                (F.col("n_tok") / _LEN_BAND).cast("bigint") * _BATCH_SUBSLICES
                + _hash_bucket(F.col("doc_id"), _BATCH_SALT, _BATCH_SUBSLICES)
            ),
        }
    )
    packed = C.pack_shards(sliced, "n_tok", budget=_BATCH_TOKEN_BUDGET, slice_col="slc")
    return packed.groupBy(F.col("shard").alias("batch_id")).agg(
        F.min("len_bucket").cast("bigint").alias("len_bucket"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("actual_tokens"),
        F.max("n_tok").cast("bigint").alias("max_tokens"),
        (F.count(F.lit(1)) * F.max("n_tok")).cast("bigint").alias("padded_tokens"),
        F.round(
            1.0 - F.sum("n_tok").cast("double") / (F.count(F.lit(1)) * F.max("n_tok")).cast("double"),
            6,
        ).alias("padding_waste"),
    )


@query(
    "q133_corpus_materialization",
    oracle="""
    WITH sig AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS alpha_ratio,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)
               / CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS stopword_ratio,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
             CAST('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % 100 AS b
      FROM documents
    ),
    q AS (
      SELECT *,
             (n_tokens >= 5 AND alpha_ratio > 0.5 AND stopword_ratio < 0.9) AS quality_pass
      FROM sig
    ),
    keeper AS (
      SELECT fingerprint, min(doc_id) AS keeper_id
      FROM q WHERE quality_pass
      GROUP BY fingerprint
    )
    SELECT q.doc_id,
           CASE WHEN NOT q.quality_pass THEN 'drop_quality'
                WHEN q.doc_id <> k.keeper_id THEN 'drop_duplicate'
                ELSE 'keep' END AS status,
           CASE WHEN q.quality_pass AND q.doc_id = k.keeper_id THEN
             CASE WHEN q.b < 80 THEN 'train' WHEN q.b < 90 THEN 'val' ELSE 'test' END
           END AS split,
           q.n_tokens
    FROM q LEFT JOIN keeper k USING (fingerprint)
    """,
)
def q133_corpus_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-corpus front door in ONE declarative DAG —
    quality gate (q51 signals) -> exact dedup keep-first among the
    survivors (q30 shape, aggregate+join-back so no window hot-spot) ->
    deterministic split assignment (q83 buckets) — emitting an auditable
    per-document verdict: keep + split, drop_quality, or drop_duplicate.
    This is the materialization pass a pipeline runs nightly; everything
    before the single fingerprint shuffle is a projection riding the scan,
    and the keeper table joins back on the 16-byte hash.  Dedup considers
    only quality-passing docs (a spam doc must not shadow a clean
    duplicate), which is why the gate runs first."""
    from bigquack_spark.operators import text as X

    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    sig = X.quality_signals(X.fingerprint(d)).withColumn(
        "b", _hash_bucket(F.col("doc_id"), "split-v1", 100)
    )
    keeper = (
        sig.filter(F.col("quality_pass"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_id"))
    )
    out = sig.join(keeper, "fingerprint", "left")
    status = (
        F.when(~F.col("quality_pass"), F.lit("drop_quality"))
        .when(F.col("doc_id") != F.col("keeper_id"), F.lit("drop_duplicate"))
        .otherwise(F.lit("keep"))
    )
    split = F.when(
        F.col("quality_pass") & (F.col("doc_id") == F.col("keeper_id")),
        F.when(F.col("b") < 80, "train").when(F.col("b") < 90, "val").otherwise("test"),
    )
    return out.select(
        "doc_id", status.alias("status"), split.alias("split"), "n_tokens"
    )


_RESAMPLE_RATES = {"src0": 250, "src1": 100, "src2": 40}


@query(
    "q137_domain_upsampling",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 100
                         WHEN 'src2' THEN 40 ELSE 100 END AS pct,
             CAST('0x' || substr(md5('mix-v1|' || CAST(doc_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % 100 AS b
      FROM documents
    ),
    c AS (
      SELECT doc_id, source,
             pct // 100 + CASE WHEN b < pct % 100 THEN 1 ELSE 0 END AS n
      FROM r
    ),
    expanded AS (
      SELECT doc_id, source, CAST(unnest(range(n)) AS BIGINT) AS epoch
      FROM c WHERE n > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(max(epoch) AS BIGINT) AS max_epoch
    FROM expanded GROUP BY source
    """,
)
def q137_domain_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPSAMPLING half of the mixture knob (q85 only downsamples):
    src0 at 250% (2-3 deterministic copies per doc, epoch-tagged so a
    loader interleaves passes), src1 untouched, src2 at 40%.  Copy count
    is a pure projection on the md5 bucket, fan-out one explode(sequence)
    — row growth equals configured mixture growth, zero shuffle before
    the summary.  operators/corpus.mixture_resample."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "source"])
    resampled = C.mixture_resample(d, _RESAMPLE_RATES)
    return resampled.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.max("epoch").cast("bigint").alias("max_epoch"),
    )


TOPP_SHARE = 0.8  # keep the top 80% quality mass per language


@query(
    "q154_topp_curation",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             sum(n_chars) OVER (
               PARTITION BY lang ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_chars,
             sum(n_chars) OVER (PARTITION BY lang) AS total_chars
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(cum_chars AS BIGINT) AS cum_chars,
           CAST(cum_chars AS DOUBLE) / total_chars <= {TOPP_SHARE} AS kept
    FROM ranked
    ORDER BY lang, cum_chars
    """,
)
def q154_topp_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) corpus curation: within each language, rank
    documents by the quality proxy and keep only the prefix holding the
    top {TOPP_SHARE:.0%} of character mass — the budgeted-curation knob
    ("spend my token budget on the best p-mass per language") that a
    fixed-count cut (q96) can't express.

    One lang-keyed shuffle serves both windows (cumulative prefix sum and
    language total — same partitioning, Catalyst reuses the exchange);
    the keep verdict is an exact-integer division so the booleans agree
    bitwise.  Per-language window state is O(1) (running sum), linear at
    any corpus size; language cardinality bounds the skew (a dominant
    language is split by AQE skew handling at deployment confs)."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "lang", "n_chars"])
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("n_chars"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("lang")
    ranked = d.select(
        "doc_id",
        "lang",
        F.sum("n_chars").over(w_cum).cast("long").alias("cum_chars"),
        F.sum("n_chars").over(w_tot).alias("total_chars"),
    )
    return ranked.select(
        "doc_id",
        "lang",
        "cum_chars",
        (
            F.col("cum_chars").cast("double") / F.col("total_chars") <= TOPP_SHARE
        ).alias("kept"),
    ).orderBy("lang", "cum_chars")


@query(
    "q168_source_scorecard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, text, n_chars,
             string_split_regex(lower(text), '\\s+') AS tk
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, source, n_chars,
             CAST(len(tk) AS BIGINT) AS n_words,
             (len(tk) BETWEEN 20 AND 200
              AND CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
                    / len(tk) BETWEEN 2.0 AND 8.0
              AND CAST(len(list_filter(tk, x -> x IN ('a', 'the'))) AS DOUBLE)
                    / len(tk) <= 0.3
              AND CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) >= 0.25) AS quality_ok,
             md5(text) AS fp
      FROM toks
    ),
    keep_first AS (
      SELECT fp, min(doc_id) AS canonical FROM per_doc GROUP BY fp
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
           CAST(sum(d.n_words) AS BIGINT) AS total_words,
           CAST(count(*) FILTER (WHERE d.quality_ok) AS DOUBLE) / count(*) AS quality_rate,
           CAST(count(*) FILTER (WHERE d.doc_id <> k.canonical) AS DOUBLE) / count(*)
             AS dup_rate
    FROM per_doc d JOIN keep_first k ON d.fp = k.fp
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def q168_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus scorecard: volume (docs/chars/words), C4-gate
    pass rate (q120's rule cascade), and exact-duplicate rate (q30's
    keep-first policy) rolled up per source — the one-table answer to
    "which feed is worth its ingest cost", feeding the q85/q137 mixture
    weights.

    One corpus scan computes all per-doc signals as projections; the
    fingerprint keep-first aggregate and the join back are the q30/q129
    shape (16-byte keys, map-side combined); the final rollup has
    |sources| groups.  All rates are exact-integer divisions."""
    d = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    tk = F.split(F.lower("text"), r"\s+")
    n_words = F.size(tk).cast("long")
    mean_len = F.aggregate(
        F.transform(tk, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    ).cast("double") / F.size(tk)
    stop_ratio = F.size(
        F.filter(tk, lambda x: x.isin("a", "the"))
    ).cast("double") / F.size(tk)
    distinct_ratio = F.size(F.array_distinct(tk)).cast("double") / F.size(tk)
    quality_ok = (
        n_words.between(20, 200)
        & mean_len.between(2.0, 8.0)
        & (stop_ratio <= 0.3)
        & (distinct_ratio >= 0.25)
    )
    per_doc = d.select(
        "doc_id",
        "source",
        "n_chars",
        n_words.alias("n_words"),
        quality_ok.alias("quality_ok"),
        F.md5("text").alias("fp"),
    )
    keep_first = per_doc.groupBy("fp").agg(F.min("doc_id").alias("canonical"))
    j = per_doc.join(keep_first, "fp")
    dup = F.col("doc_id") != F.col("canonical")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_words").cast("long").alias("total_words"),
            (
                F.count(F.when(F.col("quality_ok"), 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("quality_rate"),
            (F.count(F.when(dup, 1)).cast("double") / F.count(F.lit(1))).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
    )


@query(
    "q180_source_overlap_matrix",
    oracle="""
    WITH fp AS (
      SELECT md5(text) AS f, source FROM documents
    ),
    per AS (
      SELECT f, source, CAST(count(*) AS BIGINT) AS n
      FROM fp GROUP BY f, source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS shared_texts,
           CAST(sum(a.n) AS BIGINT) AS copies_a,
           CAST(sum(b.n) AS BIGINT) AS copies_b
    FROM per a JOIN per b ON a.f = b.f AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q180_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — WHO copies from WHOM: for every
    source pair, the number of exact texts both carry plus the copy
    counts on each side (mirror-site detection, scraped-aggregator
    triage; the pairwise drill-down behind q168's per-source dup rate).
    Pipeline: text fingerprint -> (fingerprint, source) counts — the
    corpus-sized shuffle, map-side combined — then a fingerprint-keyed
    self-join whose fan-out per fingerprint is (sources carrying it
    choose 2), bounded by the SOURCE count, never the copy count: a
    text with 1M copies in 2 sources is ONE joined row carrying two
    counts.  Output is |sources|^2-bounded.  The oracle replays the
    identical md5 pipeline."""
    d = t(spark, sf_dir, "documents", columns=["text", "source"], rebalance=True)
    per = (
        d.select(F.md5("text").alias("f"), "source")
        .groupBy("f", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = per.select(F.col("f"), F.col("source").alias("src_a"), F.col("n").alias("na"))
    b = per.select(F.col("f"), F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        a.join(b, "f")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("shared_texts"),
            F.sum("na").alias("copies_a"),
            F.sum("nb").alias("copies_b"),
        )
    )


@query(
    "q181_quality_decile_lift",
    oracle="""
    WITH sig AS (
      SELECT doc_id, md5(text) AS f,
             ntile(10) OVER (
               PARTITION BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 16
               ORDER BY n_chars, doc_id) AS decile
      FROM documents
    ),
    firsts AS (
      SELECT f, min(doc_id) AS keeper FROM sig GROUP BY f
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN s.doc_id <> fr.keeper THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dups,
           round(CAST(sum(CASE WHEN s.doc_id <> fr.keeper THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_rate
    FROM sig s JOIN firsts fr ON s.f = fr.f
    GROUP BY decile
    """,
)
def q181_quality_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-band duplicate-rate lift: docs are ranked into deciles by
    length (the cheapest quality proxy; swap in q120's composite score
    unchanged) and each decile reports its exact-duplicate rate — the
    calibration table that tells a curation pipeline WHERE the dups live
    (short boilerplate bands usually dominate) and whether a quality
    cut and the dedup pass overlap or complement.  Deciles are SLICED
    (ntile within 16 deterministic md5 slices of the corpus, then
    aggregated across slices — the q115 discipline): each slice's decile
    boundaries are unbiased estimates of the global ones, and no window
    ever runs on a single partition.  The other shuffle is the
    fingerprint keep-first aggregate joined back (q30's shape).  The
    deterministic keeper (min doc_id) makes dup verdicts — hence rates —
    exact integers on both engines."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text", "n_chars"], rebalance=True, rebalance_key="doc_id")
    from pyspark.sql.window import Window

    slice_key = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint") % 16
    )
    sig = d.select(
        "doc_id", F.md5("text").alias("f"),
        F.ntile(10)
        .over(Window.partitionBy(slice_key).orderBy("n_chars", "doc_id"))
        .alias("decile"),
    )
    firsts = sig.groupBy("f").agg(F.min("doc_id").alias("keeper"))
    joined = sig.join(firsts, "f")
    isdup = F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
    return joined.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(isdup).cast("long").alias("n_dups"),
        F.round(F.sum(isdup).cast("double") / F.count(F.lit(1)), 6).alias("dup_rate"),
    )


BUDGET_BYTES = 200_000  # ingest budget for the source-selection plan


@query(
    "q197_source_budget_plan",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_bytes,
             CAST(sum(len(string_split_regex(lower(text), '\\s+'))) AS BIGINT)
               AS total_tokens,
             CAST(sum(CASE WHEN len(string_split_regex(lower(text), '\\s+')) >= 5
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM documents GROUP BY source
    ),
    scored AS (
      SELECT *,
             CAST(n_pass AS DOUBLE) * total_tokens / (n_docs * total_bytes)
               AS quality_density
      FROM per_source
    ),
    ranked AS (
      SELECT *,
             CAST(sum(total_bytes) OVER (
               ORDER BY quality_density DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bytes
      FROM scored
    )
    SELECT source, n_docs, total_bytes, total_tokens,
           round(quality_density, 9) AS quality_density,
           cum_bytes,
           (cum_bytes <= {BUDGET_BYTES}) AS selected
    FROM ranked
    """,
)
def q197_source_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-selection budget plan — the greedy knapsack over feeds:
    rank sources by quality density (pass-rate x tokens per byte, the
    q168 scorecard's signals compressed to one sort key) and take them
    in order until the byte budget runs out — the standard
    density-greedy approximation whose worst case is one fractional
    source.  The cumulative-bytes window runs over |sources| ROWS — a
    global order over a handful of feeds, not over data (contrast
    q107's doc-level global window, which IS demoted) — so the plan is
    scale-free: all corpus-sized work is the one per-source aggregate.
    Deterministic density tiebreak on the source name."""
    d = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    ntok = F.size(F.split(F.lower("text"), r"\s+")).cast("long")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_bytes"),
        F.sum(ntok).alias("total_tokens"),
        F.sum(F.when(ntok >= 5, 1).otherwise(0)).cast("long").alias("n_pass"),
    )
    density = (
        F.col("n_pass").cast("double") * F.col("total_tokens")
        / (F.col("n_docs") * F.col("total_bytes"))
    )
    scored = per.withColumn("quality_density", density)
    w = Window.orderBy(F.desc("quality_density"), "source").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return scored.select(
        "source", "n_docs", "total_bytes", "total_tokens",
        F.round("quality_density", 9).alias("quality_density"),
        F.sum("total_bytes").over(w).alias("cum_bytes"),
    ).withColumn("selected", F.col("cum_bytes") <= BUDGET_BYTES)


Q200_MIN_TOK, Q200_MAX_TOK = 20, 150  # the funnel's length gate


def _q200_oracle() -> str:
    from bigquack_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        _BANDS_SQL,
        _SIG_SQL,
    )

    return f"""
    WITH {_SIG_SQL},
    sized AS (
      SELECT doc_id, text, md5(text) AS fp,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    q AS (
      SELECT * FROM sized WHERE n_tok BETWEEN {Q200_MIN_TOK} AND {Q200_MAX_TOK}
    ),
    exact_u AS (
      SELECT q.* FROM q
      JOIN (SELECT fp, min(doc_id) AS keep FROM q GROUP BY fp) k
        ON q.fp = k.fp AND q.doc_id = k.keep
    ),
    {_BANDS_SQL},
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id < y.doc_id
      WHERE x.doc_id IN (SELECT doc_id FROM exact_u)
        AND y.doc_id IN (SELECT doc_id FROM exact_u)
    ),
    sets_ AS (
      SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS sh
      FROM exact_u
    ),
    removed AS (
      SELECT DISTINCT c.b AS doc_id
      FROM cand c
      JOIN sets_ sa ON sa.doc_id = c.a
      JOIN sets_ sb ON sb.doc_id = c.b
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
            >= {JACCARD_THRESHOLD}
    ),
    near_u AS (
      SELECT * FROM exact_u WHERE doc_id NOT IN (SELECT doc_id FROM removed)
    ),
    split_ AS (
      SELECT doc_id, n_tok,
             CASE WHEN b < 80 THEN '4_train' WHEN b < 90 THEN '4_val'
                  ELSE '4_test' END AS stage
      FROM (
        SELECT doc_id, n_tok,
               CAST('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 6)
                    AS BIGINT) % 100 AS b
        FROM near_u
      )
    )
    SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM (
      SELECT '0_raw' AS stage, n_tok FROM sized
      UNION ALL SELECT '1_quality', n_tok FROM q
      UNION ALL SELECT '2_exact_unique', n_tok FROM exact_u
      UNION ALL SELECT '3_near_unique', n_tok FROM near_u
      UNION ALL SELECT stage, n_tok FROM split_
    )
    GROUP BY stage
    """


@query("q200_curation_funnel", oracle=_q200_oracle())
def q200_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL — the one-table attrition report for the whole
    training-data pipeline: raw -> length gate -> exact-unique (keep-first
    fingerprint) -> near-unique (MinHash-LSH pairs among survivors,
    pair-greedy removal of the higher id; the q86 closure is the exact
    variant) -> 80/10/10 split, each stage reporting docs AND tokens so
    the cost of every rule is visible before a 100 TB run commits to it.
    Composes the proven pieces unchanged: q120's gate slot, q30's
    keep-first, q36's banding+verify geometry, q83's md5 split — one
    extra aggregation over their union.  Every stage's work is the
    bounded shape its standalone query already demonstrated; the funnel
    adds only |stages| rows of output."""
    from bigquack_spark.operators import dedup as D
    from bigquack_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        NUM_HASHES,
        ROWS_PER_BAND,
    )

    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    sized = docs.select(
        "doc_id", "text", F.md5("text").alias("fp"),
        F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    q = sized.filter(F.col("n_tok").between(Q200_MIN_TOK, Q200_MAX_TOK))
    keep = q.groupBy("fp").agg(F.min("doc_id").alias("keep"))
    exact_u = q.join(keep, "fp").filter(F.col("doc_id") == F.col("keep")).drop("keep")
    bands = D.minhash_bands(docs, "doc_id", "text", NUM_HASHES, ROWS_PER_BAND)
    eu_ids = exact_u.select("doc_id")
    bands_eu = bands.join(eu_ids, "doc_id", "left_semi")
    cand = D.lsh_candidate_pairs(bands_eu, "doc_id")
    removed = (
        D.jaccard_verify(cand, exact_u, "doc_id", "text",
                         shingle_len=1, threshold=JACCARD_THRESHOLD)
        .select(F.col("b").alias("doc_id"))
        .distinct()
    )
    near_u = exact_u.join(removed, "doc_id", "left_anti")
    split = C.hash_split(near_u, id_col="doc_id", salt="split-v1").select(
        F.concat(F.lit("4_"), F.col("split")).alias("stage"), "n_tok"
    )
    stages = (
        sized.select(F.lit("0_raw").alias("stage"), "n_tok")
        .unionByName(q.select(F.lit("1_quality").alias("stage"), "n_tok"))
        .unionByName(exact_u.select(F.lit("2_exact_unique").alias("stage"), "n_tok"))
        .unionByName(near_u.select(F.lit("3_near_unique").alias("stage"), "n_tok"))
        .unionByName(split)
    )
    return stages.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


#: Target language shares for the q222 mixture recipe (literal training-mix
#: spec: what the model team WANTS, vs what the corpus has).
MIX_TARGET = {"en": 0.55, "de": 0.15, "fr": 0.15, "es": 0.10, "it": 0.05}


def _q222_target_case() -> str:
    clauses = " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_TARGET.items()))
    return f"CASE lang {clauses} ELSE 0.0 END"


@query(
    "q222_mixture_solver",
    oracle=f"""
    WITH obs AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(lower(text), '\\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM obs),
    shares AS (
      SELECT lang, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / total AS obs_share,
             {_q222_target_case()} AS target_share
      FROM obs CROSS JOIN tot
    ),
    rated AS (
      SELECT *, CASE WHEN obs_share > 0 THEN target_share / obs_share ELSE 0.0 END AS raw_rate
      FROM shares
    ),
    capped AS (SELECT max(raw_rate) AS max_rate FROM rated WHERE target_share > 0)
    SELECT lang, n_docs, n_tokens,
           round(obs_share, 6) AS obs_share,
           round(target_share, 6) AS target_share,
           round(raw_rate, 6) AS resample_rate,
           CAST(round(n_tokens * raw_rate / max_rate) AS BIGINT) AS budget_tokens,
           raw_rate > 1.0 AS needs_upsampling
    FROM rated CROSS JOIN capped
    """,
)
def q222_mixture_solver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-recipe SOLVER — the planning step before q137's applier:
    given literal target language shares (the training-mix spec) and the
    corpus's observed token shares, derive each language's resample rate
    (target/observed), flag which need upsampling (rate > 1 = repeat
    epochs, the q137 mechanism) and, under a no-upsampling-beyond-the-
    binding-constraint policy, the token budget each language
    contributes when the scarcest target language is consumed exactly
    once (divide by max rate — the standard epoch-normalized recipe).
    One vocabulary... language-cardinality aggregate: the corpus-sized
    work is the single token-count scan; everything after runs on
    |langs| rows with 1-row broadcast totals.  Exact-int token counts;
    rates are single IEEE divisions rounded to 6."""
    d = t(spark, sf_dir, "documents", columns=["lang", "text"], rebalance=True)
    obs = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.lower("text"), r"\s+"))).cast("long").alias("n_tokens"),
    )
    tot = obs.agg(F.sum("n_tokens").cast("long").alias("total"))
    target = F.lit(0.0)
    for k, v in sorted(MIX_TARGET.items()):
        target = F.when(F.col("lang") == k, F.lit(v)).otherwise(target)
    shares = obs.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs", "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total")).alias("obs_share"),
        target.alias("target_share"),
    )
    rated = shares.withColumn(
        "raw_rate",
        F.when(F.col("obs_share") > 0, F.col("target_share") / F.col("obs_share")).otherwise(0.0),
    )
    capped = rated.filter(F.col("target_share") > 0).agg(F.max("raw_rate").alias("max_rate"))
    return rated.crossJoin(F.broadcast(capped)).select(
        "lang", "n_docs", "n_tokens",
        F.round("obs_share", 6).alias("obs_share"),
        F.round("target_share", 6).alias("target_share"),
        F.round("raw_rate", 6).alias("resample_rate"),
        F.round(F.col("n_tokens") * F.col("raw_rate") / F.col("max_rate"))
        .cast("long")
        .alias("budget_tokens"),
        (F.col("raw_rate") > 1.0).alias("needs_upsampling"),
    )


OOV_VOCAB_K = 1000  # tokenizer vocabulary size for the coverage audit


@query(
    "q223_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS tk
      FROM documents
    ),
    freq AS (SELECT tk, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY tk),
    vocab AS (
      SELECT tk FROM (
        SELECT tk, row_number() OVER (ORDER BY n DESC, tk) AS rk FROM freq
      ) WHERE rk <= {OOV_VOCAB_K}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.tk IS NULL) AS BIGINT) AS n_oov,
           round(CAST(count(*) FILTER (WHERE v.tk IS NULL) AS DOUBLE) / count(*), 6)
             AS oov_rate
    FROM tok LEFT JOIN vocab v USING (tk)
    GROUP BY source
    """,
)
def q223_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: freeze the top-``OOV_VOCAB_K`` corpus
    tokens as the vocabulary (the word-level stand-in for a trained
    tokenizer's merge table) and measure each source's out-of-vocabulary
    token rate — the number that predicts token-inflation when a
    general-purpose tokenizer meets a specialized source (code, math,
    other languages) and the trigger for vocab retraining or fertility
    re-budgeting (q138's BPE counter is the per-doc view; this is the
    per-source rollout decision).  Plan: one token-frequency shuffle, a
    ``OOV_VOCAB_K``-row vocab via TakeOrdered, then a broadcast semi-ish
    LEFT join tagging each token occurrence — the fact-side token stream
    never shuffles for the join because the vocab broadcasts.  Exact
    integer counts; one rounded division."""
    d = t(spark, sf_dir, "documents", columns=["source", "text"], rebalance=True)
    tok = d.select("source", F.explode(F.split(F.lower("text"), r"\s+")).alias("tk"))
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        freq.orderBy(F.desc("n"), "tk")
        .limit(OOV_VOCAB_K)
        .select("tk", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tk", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


ORDER_EPOCHS = 2   # training epochs to materialize
ORDER_SHARDS = 8   # dataloader shards per epoch


@query(
    "q248_training_order",
    oracle=f"""
    WITH e AS (
      SELECT d.doc_id, CAST(r.range AS INTEGER) AS epoch
      FROM documents d, range({ORDER_EPOCHS}) r
    ),
    k AS (
      SELECT doc_id, epoch,
             md5('order-v1|' || CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR))
               AS okey
      FROM e
    ),
    sh AS (
      SELECT doc_id, epoch, okey,
             CAST(CAST('0x' || substr(okey, 1, 6) AS BIGINT) % {ORDER_SHARDS} AS INTEGER)
               AS shard
      FROM k
    )
    SELECT epoch, shard,
           CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY okey, doc_id) - 1
                AS BIGINT) AS pos,
           doc_id
    FROM sh
    """,
)
def q248_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharded training-order shuffle: the reproducible
    global permutation a dataloader needs per epoch, WITHOUT a global
    sort.  Each (epoch, doc) gets an md5 order key; the doc lands in
    shard = hash(key) % ORDER_SHARDS and takes its rank WITHIN the shard
    — the dataloader reads shards round-robin, and the hash key makes
    every epoch an independent, seeded, bit-reproducible reshuffle (the
    property numpy-permutation-on-the-driver cannot provide at corpus
    scale).  Plan: the only shuffle is the (epoch, shard)-partitioned
    window — ``ORDER_EPOCHS``x``ORDER_SHARDS`` bounded partitions, each
    ~1/``ORDER_SHARDS`` of an epoch, NEVER a single global-order partition
    (q59's noted limit, solved the way it prescribes).  At 100 TB raise
    ORDER_SHARDS to target-file-count; everything stays
    partition-parallel."""
    d = t(spark, sf_dir, "documents", columns=["doc_id"], rebalance=True, rebalance_key="doc_id")
    e = d.withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.lit(ORDER_EPOCHS - 1)))
    )
    keyed = e.withColumn(
        "okey",
        F.md5(F.concat_ws("|", F.lit("order-v1"), F.col("epoch"), F.col("doc_id"))),
    ).withColumn(
        "shard",
        (F.conv(F.substring("okey", 1, 6), 16, 10).cast("bigint") % ORDER_SHARDS)
        .cast("int"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("okey", "doc_id")
    return keyed.select(
        "epoch",
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
        "doc_id",
    )
