"""Similarity-search query inventory (SURVEY §2.9).

q40 (brute-force top-k) is the oracle-diffed baseline: both engines compute
cosine as an explicit double-precision dot/norm formula over the same cast
arrays, rounded to 6 decimals before ranking so the order is engine-
invariant.  q41 (LSH-bucketed ANN) is the scale path — its hyperplanes are
driver-seeded literals with no DuckDB equivalent, so it is a rows-only check
with recall measured against q40 in tests/test_simsearch.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigquack_spark.operators import simsearch as S
from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t

TOP_K = 10
N_QUERY_VECS = 5  # vec_id < 5 is the query set

# One oracle, two physical strategies: q40 (declarative codegen fold) and
# q75 (Arrow-batched GEMM kernel) must both hash-match this exact SQL.
ANN_ORACLE = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    sims AS (
      SELECT q.qid, v.vec_id AS neighbor_id,
             round(
               list_dot_product(v.e, q.qe)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))),
               6
             ) AS cosine_sim
      FROM v CROSS JOIN q
      WHERE v.vec_id <> q.qid
    )
    SELECT qid, neighbor_id, cosine_sim, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT qid, neighbor_id, cosine_sim,
             row_number() OVER (
               PARTITION BY qid ORDER BY cosine_sim DESC, neighbor_id
             ) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
    """


@query("q40_ann_cosine_topk", oracle=ANN_ORACLE)
def q40_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query set x corpus scan, JVM fold
    for the dot product, window-ranked per query.  The corpus never
    shuffles — this plan holds at any corpus size (work = corpus x |Q|)."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.cosine_topk(e, queries, k=TOP_K, id_col="vec_id", vec_col="embedding")


_Q41_PLANES = 4
_Q41_MULTIPROBE_BITS = 2
#: Hamming distance of a corpus bucket from the query bucket, in DuckDB.
_Q41_HAM = " + ".join(f"((xor(v.bkt, q.qbkt) >> {i}) & 1)" for i in range(_Q41_PLANES))


@query(
    "q41_ann_lsh_topk",
    # same plane literals as the Spark side; candidates = Hamming <= 2
    oracle=f"""
    WITH v AS (
      SELECT vec_id, e, {S.random_hyperplane_lsh_sql(_Q41_PLANES, 64, 42)} AS bkt
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    ),
    q AS (
      SELECT vec_id AS qid, e AS qe, bkt AS qbkt FROM v
      WHERE vec_id < {N_QUERY_VECS}
    ),
    sims AS (
      SELECT q.qid, v.vec_id AS neighbor_id,
             round(
               list_dot_product(v.e, q.qe)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))),
               6
             ) AS cosine_sim
      FROM v JOIN q ON {_Q41_HAM} <= {_Q41_MULTIPROBE_BITS}
      WHERE v.vec_id <> q.qid
    )
    SELECT qid, neighbor_id, cosine_sim, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT qid, neighbor_id, cosine_sim,
             row_number() OVER (
               PARTITION BY qid ORDER BY cosine_sim DESC, neighbor_id
             ) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
    """,
)
def q41_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: sign-LSH buckets + 2-bit multiprobe prune the
    candidate set before ranking.  Hash-checkable (r9 verdict #1): the
    seeded hyperplanes are portable double literals (the q35/q172
    precedent), and "probe the bucket plus every <=2-bit flip" is exactly
    "Hamming(corpus bucket, query bucket) <= 2", which the oracle replays
    as a popcount over xor of the identical bucket keys.  Recall@10 vs the
    brute-force baseline is additionally asserted in tests."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.lsh_topk(
        e, queries, k=TOP_K, id_col="vec_id", vec_col="embedding",
        num_planes=_Q41_PLANES, seed=42, dim=64,
        multiprobe_bits=_Q41_MULTIPROBE_BITS,
    )


_Q42_LISTS = 8
_Q42_PROBES = 2


def _frozen_ivf_oracle_sql(candidate_pred: str | None = None) -> str:
    """DuckDB twin of ivf_topk_frozen: frozen lattice centroids -> assign
    -> probe -> rank, every step on exact integers or 6-digit-rounded
    doubles.  ``candidate_pred`` replays a filtered-ANN candidate
    predicate (pruned before assignment, seeds stay unfiltered)."""
    scale = int(S.IVF_LATTICE_SCALE)
    d2 = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (v.qd[i] - c.cvec[i]) * (v.qd[i] - c.cvec[i])))"
    )
    cand_where = f"WHERE {candidate_pred}" if candidate_pred else ""
    return f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> CAST(CAST(floor(x * {scale}.0 + 0.5) AS BIGINT) AS DOUBLE)
             ) AS qd
      FROM embeddings
    ),
    c AS (
      SELECT CAST(vec_id AS INTEGER) AS cell, qd AS cvec FROM v
      ORDER BY vec_id LIMIT {_Q42_LISTS}
    ),
    assigned AS (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, c.cell,
               row_number() OVER (
                 PARTITION BY v.vec_id ORDER BY {d2}, c.cell
               ) AS rk
        FROM (SELECT * FROM v {cand_where}) v CROSS JOIN c
      ) WHERE rk = 1
    ),
    probes AS (
      SELECT qid, qe, cell FROM (
        SELECT v.vec_id AS qid, v.e AS qe, c.cell,
               row_number() OVER (
                 PARTITION BY v.vec_id ORDER BY {d2}, c.cell
               ) AS rk
        FROM v CROSS JOIN c
        WHERE v.vec_id < {N_QUERY_VECS}
      ) WHERE rk <= {_Q42_PROBES}
    ),
    sims AS (
      SELECT p.qid, a.vec_id AS neighbor_id,
             round(
               list_dot_product(a.e, p.qe)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(p.qe, p.qe))),
               6
             ) AS cosine_sim
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.qid
    )
    SELECT qid, neighbor_id, cosine_sim, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT qid, neighbor_id, cosine_sim,
             row_number() OVER (
               PARTITION BY qid ORDER BY cosine_sim DESC, neighbor_id
             ) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
    """


@query("q42_ann_ivf_topk", oracle=_frozen_ivf_oracle_sql())
def q42_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a FROZEN lattice coarse quantizer: the centroids are
    the integer-lattice quantizations of the 8 lowest-id vectors (q144's
    cross-engine-exact lattice), each corpus vector assigns to its nearest
    cell by exact integer distance, and queries probe their 2 nearest
    cells.  Hash-checkable (r9 verdict #1): no iterative training, so the
    oracle replays assignment + probing + ranking verbatim.  The TRAINED
    quantizer path (seeded MLlib KMeans) lives in operators.simsearch.
    ivf_topk with recall pinned in tests — same probe math, centroids
    learned instead of frozen."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.ivf_topk_frozen(
        e, queries, k=TOP_K, id_col="vec_id", vec_col="embedding",
        n_lists=_Q42_LISTS, n_probes=_Q42_PROBES,
    )


_Q326_PRED = "label = 1"


@query("q326_filtered_ann", oracle=_frozen_ivf_oracle_sql(_Q326_PRED))
def q326_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN (r9 verdict #5) — the retrieval shape production
    vector search actually serves: top-k nearest neighbors AMONG rows
    satisfying an attribute predicate (here ``label = 1``), with the
    predicate applied as a PRE-filter on the candidate scan — never a
    post-filter that can starve top-k below k qualifying rows.  Runs
    through the same frozen-lattice IVF as q42 (same index, filtered
    search: quantizer seeds stay unfiltered), so the whole thing is
    hash-checked against the exact SQL replay.  The persisted-index twin
    is ``probe_ivf_pq(predicate=)`` — metadata columns stored in the
    cell-partitioned codes, predicate pushed into the parquet scan of the
    probed cells before any ADC math (plan-asserted in
    tests/test_plans.py)."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.ivf_topk_frozen(
        e, queries, k=TOP_K, id_col="vec_id", vec_col="embedding",
        n_lists=_Q42_LISTS, n_probes=_Q42_PROBES,
        candidate_predicate=_Q326_PRED,
    )


@query("q75_ann_gemm_topk", oracle=ANN_ORACLE)
def q75_ann_gemm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k, GEMM kernel: identical semantics and oracle
    as q40, but the corpus is scored batch-at-a-time with one dense numpy
    matrix multiply inside mapInPandas and each batch pre-reduces to its
    local top-k, so the only shuffled rows are #batches x |Q| x k.  The
    bench headline uses this variant; q40 remains the all-codegen twin."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.gemm_topk(e, queries, k=TOP_K, id_col="vec_id", vec_col="embedding")


@query(
    "q121_int8_quantization",
    oracle="""
    WITH q AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS q_scale
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    )
    SELECT vec_id, q_scale,
           array_to_string(
             CASE WHEN q_scale > 0
                  THEN list_transform(e, x -> CAST(floor(x / q_scale + 0.5) AS INTEGER))
                  ELSE list_transform(e, x -> 0) END,
             ',') AS q_vec,
           CASE WHEN q_scale > 0
                THEN list_max(list_transform(e,
                       x -> abs(CAST(floor(x / q_scale + 0.5) AS INTEGER) * q_scale - x)))
                     <= q_scale * 0.5
                ELSE true END AS err_ok
    FROM q
    """,
)
def q121_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (operators.simsearch
    quantize_int8): per-vector scale = max|x|/127, components rounded
    half-up via floor (floor over identical doubles is engine-portable
    where round()'s tie rule is not), plus a per-vector bound check that
    the reconstruction error stays within scale/2.  Zero-shuffle
    projection; at 100 TB this is the 4x scan-bandwidth/cache cut the ANN
    family rides.  Both engines evaluate the identical IEEE expressions,
    so the int arrays, scales, AND boundary booleans agree bitwise.  The
    int8 vector is emitted as a canonical ','-joined STRING — the driver's
    canonicalizer cannot sort array-typed cells (r2 driver-red), and a
    quantized vector written to parquet would be a string/binary payload
    column anyway."""
    e = t(spark, sf_dir, "embeddings", rebalance=True, rebalance_key="vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = S.quantize_int8(e, vec_col="e", scale_col="q_scale", out_col="q_vec")
    scale = F.col("q_scale")
    err = F.array_max(
        F.zip_with(
            "q_vec", "e", lambda qi, xi: F.abs(qi.cast("double") * scale - xi)
        )
    )
    return q.select(
        "vec_id",
        "q_scale",
        F.array_join(F.col("q_vec").cast("array<string>"), ",").alias("q_vec"),
        F.when(scale > 0, err <= scale * 0.5).otherwise(F.lit(True)).alias("err_ok"),
    )


@query(
    "q136_embedding_quality",
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    m AS (
      SELECT vec_id, label,
             CAST(len(e) AS INTEGER) AS dim,
             round(sqrt(list_dot_product(e, e)), 6) AS l2_norm,
             len(list_filter(e, x -> isnan(x))) > 0 AS has_nan
      FROM v
    )
    SELECT vec_id, label, dim, l2_norm, has_nan,
           (NOT has_nan AND dim = 64 AND l2_norm > 0.1 AND l2_norm < 10.0) AS vector_ok
    FROM m
    """,
)
def q136_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding data-quality gate — the hygiene pass that runs BEFORE any
    ANN/near-dup consumer: per-vector dimension check, L2 norm (rounded to
    the same 6 digits the ANN family ranks on), NaN detection, and a
    composite vector_ok verdict (a zero or NaN vector silently poisons
    cosine ranking; a wrong-dim vector crashes a GEMM batch mid-job at
    3 a.m. instead of here).  Pure per-row projection over the scan — zero
    shuffle, linear at any corpus size; the same left-to-right double fold
    as cosine_topk, so the norms are bit-identical cross-engine before
    rounding."""
    e = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    m = e.select(
        "vec_id",
        "label",
        F.size(v).cast("int").alias("dim"),
        F.round(F.sqrt(dot), 6).alias("l2_norm"),
        F.exists(v, lambda x: F.isnan(x)).alias("has_nan"),
    )
    ok = (
        ~F.col("has_nan")
        & (F.col("dim") == 64)
        & (F.col("l2_norm") > 0.1)
        & (F.col("l2_norm") < 10.0)
    )
    return m.withColumn("vector_ok", ok)


def _lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings with their 2-plane seeded sign-LSH bucket as ``bkt``:
    the blocking key q179, q198 and q220 pair on."""
    return S.random_hyperplane_lsh(
        t(spark, sf_dir, "embeddings"), num_planes=2, seed=42, bucket_col="bkt"
    )


HARDNEG_LO, HARDNEG_HI = 0.15, 0.4  # similar-but-not-duplicate cosine band
HARDNEG_K = 2


@query(
    "q179_hard_negatives",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, e, {S.random_hyperplane_lsh_sql(2, 64, 42)} AS bkt
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    ),
    sims AS (
      SELECT a.vec_id AS anchor, b.vec_id AS neg_id,
             round(
               list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
               6
             ) AS cos
      FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
    ),
    banded AS (
      SELECT *, row_number() OVER (PARTITION BY anchor ORDER BY cos DESC, neg_id) AS rnk
      FROM sims WHERE cos >= {HARDNEG_LO} AND cos < {HARDNEG_HI}
    )
    SELECT anchor, neg_id, cos, CAST(rnk AS INTEGER) AS rnk
    FROM banded WHERE rnk <= {HARDNEG_K}
    """,
)
def q179_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor vector,
    the top-``HARDNEG_K`` bucket-mates whose cosine lands in the
    similar-but-not-duplicate band [``HARDNEG_LO``, ``HARDNEG_HI``) — above
    it is q172's dedup territory, far below it the negative is trivial
    and teaches the model nothing.  Candidates are
    ``operators.simsearch.cosine_pairs`` over the 2-plane seeded sign-LSH
    bucket (one bucket-keyed self-join, bounded by bucket occupancy —
    never corpus x corpus), ranked by (cosine desc, neg_id) per anchor
    with a window over the anchor key.  Cosines are rounded to 6 decimals
    BEFORE ranking so the order is engine-invariant; the oracle replays
    plane literals, band, and ranking exactly.  At 100 TB this inherits
    q172's posture: bucket caps, per-anchor output bounded at k rows."""
    from pyspark.sql.window import Window

    sims = (
        S.cosine_pairs(_lsh_bucketed(spark, sf_dir), block_col="bkt")
        .select(F.col("a").alias("anchor"), F.col("b").alias("neg_id"), "cos")
        .filter((F.col("cos") >= HARDNEG_LO) & (F.col("cos") < HARDNEG_HI))
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("cos"), "neg_id")
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HARDNEG_K)
        .select("anchor", "neg_id", "cos", F.col("rnk").cast("int").alias("rnk"))
    )


@query(
    "q198_contrastive_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, e, {S.random_hyperplane_lsh_sql(2, 64, 42)} AS bkt
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    ),
    sims AS (
      SELECT a.vec_id AS anchor, b.vec_id AS other,
             round(
               list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
               6
             ) AS cos
      FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
    )
    SELECT anchor, other, 1 AS label, cos AS score
    FROM sims WHERE cos >= 0.4 AND anchor < other
    UNION ALL
    SELECT anchor, other, 0, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY anchor ORDER BY cos DESC, other) AS rnk
      FROM sims WHERE cos >= {HARDNEG_LO} AND cos < {HARDNEG_HI}
    ) WHERE rnk <= {HARDNEG_K}
    """,
)
def q198_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair manifest: one table of (anchor, other,
    label, score) where label 1 = near-duplicate positives (cosine >=
    0.4, q35's blocked pairs) and label 0 = hard negatives (q179's
    similar-not-duplicate band, top-``HARDNEG_K`` per anchor) — the
    ready-to-sample input for embedding-model fine-tuning, emitted from
    ONE ``operators.simsearch.cosine_pairs`` bucket join.  Balance
    accounting rides along (the trainer needs the ratio).  The oracle
    replays both branches from one shared CTE."""
    from pyspark.sql.window import Window

    sims = S.cosine_pairs(_lsh_bucketed(spark, sf_dir), block_col="bkt").select(
        F.col("a").alias("anchor"), F.col("b").alias("other"), "cos"
    )
    pos = sims.filter((F.col("cos") >= 0.4) & (F.col("anchor") < F.col("other"))).select(
        "anchor", "other", F.lit(1).alias("label"), F.col("cos").alias("score")
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("cos"), "other")
    neg = (
        sims.filter((F.col("cos") >= HARDNEG_LO) & (F.col("cos") < HARDNEG_HI))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HARDNEG_K)
        .select("anchor", "other", F.lit(0).alias("label"), F.col("cos").alias("score"))
    )
    return pos.unionByName(neg)


MATRYOSHKA_DIM = 16  # truncated prefix dimensionality


@query(
    "q209_matryoshka_overlap",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    full_rk AS (
      SELECT qid, neighbor_id FROM (
        SELECT q.qid, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round(
                   list_dot_product(v.e, q.qe)
                   / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))),
                   6) DESC, v.vec_id
               ) AS rk
        FROM v CROSS JOIN q WHERE v.vec_id <> q.qid
      ) WHERE rk <= {TOP_K}
    ),
    trunc_rk AS (
      SELECT qid, neighbor_id FROM (
        SELECT q.qid, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round(
                   list_dot_product(v.e[1:{MATRYOSHKA_DIM}], q.qe[1:{MATRYOSHKA_DIM}])
                   / (sqrt(list_dot_product(v.e[1:{MATRYOSHKA_DIM}], v.e[1:{MATRYOSHKA_DIM}]))
                      * sqrt(list_dot_product(q.qe[1:{MATRYOSHKA_DIM}], q.qe[1:{MATRYOSHKA_DIM}]))),
                   6) DESC, v.vec_id
               ) AS rk
        FROM v CROSS JOIN q WHERE v.vec_id <> q.qid
      ) WHERE rk <= {TOP_K}
    )
    SELECT f.qid, CAST({TOP_K} AS INTEGER) AS k,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap,
           round(CAST(count(t.neighbor_id) AS DOUBLE) / {TOP_K}, 6) AS overlap_frac
    FROM full_rk f
    LEFT JOIN trunc_rk t ON f.qid = t.qid AND f.neighbor_id = t.neighbor_id
    GROUP BY f.qid
    """,
)
def q209_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: how much of the full-dimension top-k
    survives when retrieval runs on only the first ``MATRYOSHKA_DIM`` of 64
    dims — the measurement behind the serve-cheap-rerank-exact pattern
    (MRL embeddings): a high overlap licenses cutting index bytes 4x.
    Both rankings are the q40 broadcast shape (corpus never shuffles,
    bounded query set broadcasts), cosines rounded to 6 digits BEFORE
    ranking with vec_id tiebreak, so both engines rank identically; the
    overlap join is (qid, neighbor)-keyed on k-bounded sets."""
    from bigquack_spark.operators.simsearch import cosine

    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    q = v.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))

    def topk(sim_col):
        w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vec_id")
        return (
            pairs.select(
                "qid", F.col("vec_id").alias("neighbor_id"),
                F.round(sim_col, 6).alias("cos"),
            )
            .withColumnRenamed("neighbor_id", "vec_id")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select("qid", F.col("vec_id").alias("neighbor_id"))
        )

    full_rk = topk(cosine(F.col("e"), F.col("qe")))
    tr = lambda c: F.slice(c, 1, MATRYOSHKA_DIM)  # noqa: E731
    trunc_rk = topk(cosine(tr(F.col("e")), tr(F.col("qe"))))
    hits = trunc_rk.withColumn("hit", F.lit(1))
    return (
        full_rk.join(hits, ["qid", "neighbor_id"], "left")
        .groupBy("qid")
        .agg(
            F.lit(TOP_K).cast("int").alias("k"),
            F.count("hit").cast("long").alias("n_overlap"),
            F.round(F.count("hit").cast("double") / TOP_K, 6).alias("overlap_frac"),
        )
    )


def _sign_half_sql(lo: int) -> str:
    """DuckDB BIGINT signature of sign bits e[lo..lo+31] (1-based)."""
    return (
        f"list_sum(list_transform(range(0, 32), "
        f"i -> CASE WHEN e[CAST(i AS INT) + {lo}] > 0 "
        f"THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END))"
    )


@query(
    "q210_hamming_ann",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sig AS (
      SELECT vec_id,
             CAST({_sign_half_sql(1)} AS BIGINT) AS h1,
             CAST({_sign_half_sql(33)} AS BIGINT) AS h2
      FROM v
    ),
    q AS (SELECT vec_id AS qid, h1 AS q1, h2 AS q2 FROM sig WHERE vec_id < {N_QUERY_VECS}),
    d AS (
      SELECT q.qid, s.vec_id AS neighbor_id,
             CAST(bit_count(xor(s.h1, q.q1)) + bit_count(xor(s.h2, q.q2)) AS INTEGER)
               AS hamming
      FROM sig s CROSS JOIN q WHERE s.vec_id <> q.qid
    )
    SELECT qid, neighbor_id, hamming, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY hamming, neighbor_id
      ) AS rk FROM d
    ) WHERE rk <= {TOP_K}
    """,
)
def q210_hamming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: each 64-dim vector collapses to a 64-bit sign
    signature (two BIGINT halves), similarity becomes popcount(xor) —
    the 1-bit extreme of q121's int8 story and the standard first-pass
    filter for billion-scale retrieval (32x smaller than float32, SIMD
    hamming).  Signatures are an exact integer projection (sum of
    distinct powers of two — order-free, so no fold discipline needed);
    ranking is (hamming asc, neighbor_id) for a total order.  The corpus
    never shuffles: signatures ride the scan, the ``N_QUERY_VECS``-row
    query-signature set broadcasts, and the only exchange is the
    per-query top-k window — q40's contract at 1/32 the bytes."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))

    def half(lo: int):
        return F.expr(
            f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + CASE WHEN element_at(e, i + {lo}) > CAST(0 AS DOUBLE) "
            f"THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"
        )

    sig = v.select("vec_id", half(1).alias("h1"), half(33).alias("h2"))
    q = sig.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("h1").alias("q1"), F.col("h2").alias("q2")
    )
    ham = (
        F.expr("bit_count(h1 ^ q1)") + F.expr("bit_count(h2 ^ q2)")
    ).cast("int")
    d = (
        sig.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), ham.alias("hamming"))
    )
    w = Window.partitionBy("qid").orderBy("hamming", "neighbor_id")
    return (
        d.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "neighbor_id", "hamming", "rank")
    )


RERANK_POOL = 50  # hamming-stage candidates per query fed to the exact stage


@query(
    "q217_hamming_rerank",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sig AS (
      SELECT vec_id,
             CAST({_sign_half_sql(1)} AS BIGINT) AS h1,
             CAST({_sign_half_sql(33)} AS BIGINT) AS h2
      FROM v
    ),
    q AS (SELECT vec_id AS qid, h1 AS q1, h2 AS q2 FROM sig WHERE vec_id < {N_QUERY_VECS}),
    pool AS (
      SELECT qid, neighbor_id FROM (
        SELECT q.qid, s.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY bit_count(xor(s.h1, q.q1)) + bit_count(xor(s.h2, q.q2)),
                          s.vec_id
               ) AS rk
        FROM sig s CROSS JOIN q WHERE s.vec_id <> q.qid
      ) WHERE rk <= {RERANK_POOL}
    ),
    qv AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    reranked AS (
      SELECT p.qid, p.neighbor_id,
             round(
               list_dot_product(c.e, qv.qe)
               / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(qv.qe, qv.qe))),
               6
             ) AS cosine_sim
      FROM pool p
      JOIN v c ON c.vec_id = p.neighbor_id
      JOIN qv ON qv.qid = p.qid
    )
    SELECT qid, neighbor_id, cosine_sim, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT qid, neighbor_id, cosine_sim,
             row_number() OVER (
               PARTITION BY qid ORDER BY cosine_sim DESC, neighbor_id
             ) AS rk
      FROM reranked
    ) WHERE rk <= {TOP_K}
    """,
)
def q217_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the pattern every production vector store
    serves: a CHEAP first pass over 64-bit sign signatures (q210's
    popcount(xor), 1/32 the bytes of the float corpus) keeps
    ``RERANK_POOL`` candidates per query, then the EXACT cosine reranks
    only that pool to the final top-``TOP_K``.  Stage 1 inherits q40's
    contract (corpus in place, query signatures broadcast, one window
    exchange); stage 2 touches RERANK_POOL x |Q| rows — the full-precision
    vectors are fetched by a vec_id equi-join against the pool, so the
    expensive floats never stream through the cross product at all.  At
    1e9 vectors stage 1 scans 8 GB of signatures instead of 256 GB of
    floats; recall vs the exact q40 baseline is measured in
    tests/test_ops.py (deterministic, since both stages are
    tie-broken total orders).  Both stages replay exactly in SQL."""
    from pyspark.sql.window import Window

    from bigquack_spark.operators.simsearch import cosine

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))

    def half(lo: int):
        return F.expr(
            f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + CASE WHEN element_at(e, i + {lo}) > CAST(0 AS DOUBLE) "
            f"THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"
        )

    sig = v.select("vec_id", half(1).alias("h1"), half(33).alias("h2"))
    qsig = sig.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("h1").alias("q1"), F.col("h2").alias("q2")
    )
    ham = (F.expr("bit_count(h1 ^ q1)") + F.expr("bit_count(h2 ^ q2)"))
    w1 = Window.partitionBy("qid").orderBy("hamming", "neighbor_id")
    pool = (
        sig.crossJoin(F.broadcast(qsig))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), ham.alias("hamming"))
        .withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= RERANK_POOL)
        .select("qid", "neighbor_id")
    )
    qv = v.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    reranked = (
        pool.join(v.select(F.col("vec_id").alias("neighbor_id"), "e"), "neighbor_id")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid", "neighbor_id",
            F.round(cosine(F.col("e"), F.col("qe")), 6).alias("cosine_sim"),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        reranked.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "neighbor_id", "cosine_sim", "rank")
    )


@query(
    "q220_alignment_uniformity",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, e, {S.random_hyperplane_lsh_sql(2, 64, 42)} AS bkt
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    ),
    pairs AS (
      SELECT a.vec_id AS anchor, b.vec_id AS other,
             list_sum(list_transform(range(1, 65),
               i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i]))) AS d2,
             round(
               list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
               6
             ) AS cos
      FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    ),
    folded AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN cos >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             list(CASE WHEN cos >= 0.4 THEN d2 ELSE 0.0 END ORDER BY anchor, other) AS lp,
             list(exp(-2.0 * d2) ORDER BY anchor, other) AS lu
      FROM pairs
    )
    SELECT n_pairs, n_pos,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), lp), (a, x) -> a + x)
                 / n_pos, 6) AS alignment,
           round(ln(list_reduce(list_prepend(CAST(0 AS DOUBLE), lu), (a, x) -> a + x)
                 / n_pairs), 6) AS uniformity
    FROM folded
    """,
)
def q220_alignment_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health metrics (Wang & Isola): ALIGNMENT = mean
    squared L2 distance over the near-duplicate positive pairs (q198's
    bucketed cos >= 0.4 pairs — closer is better), UNIFORMITY =
    log-mean-exp(-2 d²) over the bucket-bounded candidate pairs (more
    negative = embeddings spread over the sphere; a collapsed encoder
    scores near 0).  The training-monitoring counterpart of the q136
    per-vector gate: q136 catches broken VECTORS, this catches a broken
    SPACE.  Both means fold over (anchor, other)-sorted term lists (q184
    discipline) and the pair set is ``operators.simsearch.cosine_pairs``
    over the 2-plane sign-LSH bucket, each unordered pair once — bounded
    by bucket occupancy, never corpus²; at 100 TB the metric runs on a
    deterministic md5 sample of buckets with identical plan shape."""
    d2 = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        S.cosine_pairs(_lsh_bucketed(spark, sf_dir), block_col="bkt")
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("anchor"), F.col("b").alias("other"), d2.alias("d2"), "cos")
    )
    folded = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("cos") >= 0.4, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.array_sort(
            F.collect_list(
                F.struct("anchor", "other",
                         F.when(F.col("cos") >= 0.4, F.col("d2")).otherwise(F.lit(0.0)).alias("vp"))
            )
        ).alias("lp"),
        F.array_sort(
            F.collect_list(F.struct("anchor", "other", F.exp(-2.0 * F.col("d2")).alias("vu")))
        ).alias("lu"),
    )

    def fold(col, field):
        return F.aggregate(
            F.transform(col, lambda s: s.getField(field)), F.lit(0.0), lambda acc, x: acc + x
        )

    return folded.select(
        "n_pairs",
        "n_pos",
        F.round(fold(F.col("lp"), "vp") / F.col("n_pos"), 6).alias("alignment"),
        F.round(F.log(fold(F.col("lu"), "vu") / F.col("n_pairs")), 6).alias("uniformity"),
    )


@query(
    "q224_ann_eval",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    exact AS (
      SELECT qid, neighbor_id, rk FROM (
        SELECT q.qid, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round(
                   list_dot_product(v.e, q.qe)
                   / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))),
                   6) DESC, v.vec_id
               ) AS rk
        FROM v CROSS JOIN q WHERE v.vec_id <> q.qid
      ) WHERE rk <= {TOP_K}
    ),
    sig AS (
      SELECT vec_id,
             CAST({_sign_half_sql(1)} AS BIGINT) AS h1,
             CAST({_sign_half_sql(33)} AS BIGINT) AS h2
      FROM v
    ),
    qs AS (SELECT vec_id AS qid, h1 AS q1, h2 AS q2 FROM sig WHERE vec_id < {N_QUERY_VECS}),
    approx AS (
      SELECT qid, neighbor_id, rk FROM (
        SELECT qs.qid, s.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY qs.qid
                 ORDER BY bit_count(xor(s.h1, qs.q1)) + bit_count(xor(s.h2, qs.q2)),
                          s.vec_id
               ) AS rk
        FROM sig s CROSS JOIN qs WHERE s.vec_id <> qs.qid
      ) WHERE rk <= {TOP_K}
    ),
    hits AS (
      SELECT e.qid, e.rk AS exact_rk, a.rk AS approx_rk
      FROM exact e LEFT JOIN approx a
        ON a.qid = e.qid AND a.neighbor_id = e.neighbor_id
    )
    SELECT qid,
           round(CAST(count(approx_rk) AS DOUBLE) / {TOP_K}, 6) AS recall_at_k,
           round(coalesce(max(CASE WHEN exact_rk = 1 THEN 1.0 / approx_rk END), 0.0), 6)
             AS mrr_of_top1,
           round(
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(CASE WHEN approx_rk IS NULL THEN 0.0
                         ELSE 1.0 / ln(1.0 + approx_rk) * ln(2.0) END
                    ORDER BY exact_rk)),
               (acc, x) -> acc + x)
             /
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(1.0 / ln(1.0 + exact_rk) * ln(2.0) ORDER BY exact_rk)),
               (acc, x) -> acc + x),
             6) AS ndcg_at_k
    FROM hits GROUP BY qid
    """,
)
def q224_ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation as a first-class operator (the vector
    sibling of q160's LSH eval): per query, recall@``TOP_K`` of the
    hamming-signature ranking against the exact cosine ranking, the
    reciprocal rank at which the approx list surfaces the TRUE nearest
    neighbor (MRR-of-top1 — the metric that catches 'good recall but the
    best match is buried'), and binary-relevance NDCG@``TOP_K`` (exact
    top-k as the relevant set, approx rank as the gain position, ideal
    DCG from the exact ranks).  This is the query you schedule after
    every index rebuild: a recall regression pages before users notice.
    Both rankings are q40/q210's broadcast shapes; the eval join touches
    k-bounded lists; NDCG folds in exact-rank order (q184 discipline).
    Scale: eval cost is |Q| x corpus for the two rankings — run on a
    deterministic md5 query sample, same plan."""
    from pyspark.sql.window import Window

    from bigquack_spark.operators.simsearch import cosine

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    q = v.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("cos"), "vec_id")
    exact = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(cosine(F.col("e"), F.col("qe")), 6).alias("cos"))
        .withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= TOP_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), F.col("rk").alias("exact_rk"))
    )

    def half(lo: int):
        return F.expr(
            f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + CASE WHEN element_at(e, i + {lo}) > CAST(0 AS DOUBLE) "
            f"THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"
        )

    sig = v.select("vec_id", half(1).alias("h1"), half(33).alias("h2"))
    qs = sig.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("h1").alias("q1"), F.col("h2").alias("q2")
    )
    ham = (F.expr("bit_count(h1 ^ q1)") + F.expr("bit_count(h2 ^ q2)"))
    wh = Window.partitionBy("qid").orderBy("hamming", "neighbor_id")
    approx = (
        sig.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), ham.alias("hamming"))
        .withColumn("rk", F.row_number().over(wh))
        .filter(F.col("rk") <= TOP_K)
        .select("qid", "neighbor_id", F.col("rk").alias("approx_rk"))
    )
    hits = exact.join(approx, ["qid", "neighbor_id"], "left")
    ln2 = F.lit(float(__import__("math").log(2.0)))
    dcg_term = F.when(F.col("approx_rk").isNull(), 0.0).otherwise(
        1.0 / F.log(1.0 + F.col("approx_rk")) * ln2
    )
    idcg_term = 1.0 / F.log(1.0 + F.col("exact_rk")) * ln2
    folded = hits.groupBy("qid").agg(
        F.count("approx_rk").alias("n_hits"),
        F.max(
            F.when(F.col("exact_rk") == 1, 1.0 / F.col("approx_rk"))
        ).alias("rr"),
        F.array_sort(F.collect_list(F.struct("exact_rk", dcg_term.alias("d")))).alias("ld"),
        F.array_sort(F.collect_list(F.struct("exact_rk", idcg_term.alias("d")))).alias("li"),
    )

    def fold(col):
        return F.aggregate(
            F.transform(col, lambda s: s.getField("d")), F.lit(0.0), lambda a, x: a + x
        )

    return folded.select(
        "qid",
        F.round(F.col("n_hits").cast("double") / TOP_K, 6).alias("recall_at_k"),
        F.round(F.coalesce(F.col("rr"), F.lit(0.0)), 6).alias("mrr_of_top1"),
        F.round(fold(F.col("ld")) / fold(F.col("li")), 6).alias("ndcg_at_k"),
    )


@query(
    "q271_ivf_cell_drift",
    oracle="""
WITH base AS (
  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS e0,
         CAST(embedding[2] AS DOUBLE) AS e1,
         CAST(embedding[3] AS DOUBLE) AS e2
  FROM embeddings
),
build AS (
  SELECT CASE WHEN e0 >= 0 THEN 4 ELSE 0 END
       + CASE WHEN e1 >= 0 THEN 2 ELSE 0 END
       + CASE WHEN e2 >= 0 THEN 1 ELSE 0 END AS cell
  FROM base WHERE vec_id % 2 = 0
),
appended AS (
  SELECT CASE WHEN e0 + 0.12 >= 0 THEN 4 ELSE 0 END
       + CASE WHEN e1 >= 0 THEN 2 ELSE 0 END
       + CASE WHEN e2 >= 0 THEN 1 ELSE 0 END AS cell
  FROM base WHERE vec_id % 2 = 1
),
b AS (SELECT cell, count(*) AS n_build FROM build GROUP BY cell),
n AS (SELECT cell, count(*) AS n_now
      FROM (SELECT cell FROM build UNION ALL SELECT cell FROM appended)
      GROUP BY cell),
j AS (
  SELECT COALESCE(b.cell, n.cell) AS cell,
         COALESCE(n_build, 0) AS n_build, COALESCE(n_now, 0) AS n_now
  FROM b FULL OUTER JOIN n ON b.cell = n.cell
),
s AS (
  SELECT CAST(cell AS INTEGER) AS cell, CAST(n_build AS BIGINT) AS n_build,
         CAST(n_now AS BIGINT) AS n_now,
         CAST(n_build AS DOUBLE) / SUM(n_build) OVER () AS build_share,
         CAST(n_now AS DOUBLE) / SUM(n_now) OVER () AS now_share
  FROM j
),
r AS (
  SELECT cell, n_build, n_now, build_share, now_share,
         CASE WHEN build_share > 0 THEN now_share / build_share END AS share_ratio,
         COALESCE(CASE WHEN build_share > 0
                       THEN now_share / build_share END > 1.20, TRUE) AS hot
  FROM s
)
SELECT cell, n_build, n_now, build_share, now_share, share_ratio, hot,
       MAX(CASE WHEN hot THEN 1 ELSE 0 END) OVER () > 0 AS rebuild
FROM r
""",
)
def q271_ivf_cell_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-drift monitor, oracle-diffable shape (r5 verdict #6): the
    driver-verified twin of ``operators.simsearch.ivf_cell_drift`` (which
    audits a real KMeans index; pytest-covered).  Here the coarse
    quantizer is a deterministic sign-grid over the first three embedding
    dimensions (8 cells) so both engines reproduce assignments exactly:
    the even-id half is the build-time corpus, the odd-id half is a later
    append with injected drift (+0.12 on dim 0 — the mean-shift that a
    changed upstream embedding model produces), and the audit compares
    each cell's post-append occupancy share against its build share.  A
    cell past 1.2x its build share is hot; any hot cell recommends a
    rebuild.  Scale shape: per-cell counts roll up from partials (one
    exchange of n_cells rows), totals are 1-row broadcasts — at 100 TB
    the monitor costs one partition-column scan, never a vector read."""
    from pyspark.sql.window import Window

    base = t(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]).select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("e0"),
        F.col("embedding")[1].cast("double").alias("e1"),
        F.col("embedding")[2].cast("double").alias("e2"),
    )

    def grid(e0):
        return (
            F.when(e0 >= 0, 4).otherwise(0)
            + F.when(F.col("e1") >= 0, 2).otherwise(0)
            + F.when(F.col("e2") >= 0, 1).otherwise(0)
        )

    build = base.filter(F.col("vec_id") % 2 == 0).select(grid(F.col("e0")).alias("cell"))
    appended = base.filter(F.col("vec_id") % 2 == 1).select(
        grid(F.col("e0") + F.lit(0.12)).alias("cell")
    )
    b = build.groupBy("cell").agg(F.count(F.lit(1)).alias("n_build"))
    n = build.unionAll(appended).groupBy("cell").agg(F.count(F.lit(1)).alias("n_now"))
    j = b.join(n, "cell", "full_outer").select(
        F.col("cell").cast("int").alias("cell"),
        F.coalesce("n_build", F.lit(0)).alias("n_build"),
        F.coalesce("n_now", F.lit(0)).alias("n_now"),
    )
    w_all = Window.partitionBy()
    s = j.select(
        "cell", "n_build", "n_now",
        (F.col("n_build").cast("double") / F.sum("n_build").over(w_all)).alias("build_share"),
        (F.col("n_now").cast("double") / F.sum("n_now").over(w_all)).alias("now_share"),
    )
    ratio = F.when(F.col("build_share") > 0, F.col("now_share") / F.col("build_share"))
    r = s.select(
        "cell", "n_build", "n_now", "build_share", "now_share",
        ratio.alias("share_ratio"),
        F.coalesce(ratio > 1.20, F.lit(True)).alias("hot"),
    )
    return r.withColumn(
        "rebuild",
        F.max(F.when(F.col("hot"), 1).otherwise(0)).over(w_all) > 0,
    )


@query(
    "q282_embedding_norm_audit",
    oracle="""
WITH norms AS (
  SELECT label,
         round(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nrm
  FROM embeddings
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(nrm), 6) AS avg_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       CAST(sum(CASE WHEN nrm < 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
       CAST(sum(CASE WHEN nrm > 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exploding,
       sum(CASE WHEN nrm < 0.01 OR nrm > 10.0 THEN 1 ELSE 0 END) = 0 AS healthy
FROM norms GROUP BY label
""",
)
def q282_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding health audit: per-label L2-norm profile with degenerate
    (collapsed to ~0 — a dead encoder) and exploding (>10 — an unnormal-
    ized or overflowed batch) counters; both failure modes silently
    poison cosine retrieval (q40/q75) long before accuracy metrics
    notice.  Per-row norms fold the array in index order (deterministic
    across engines), rounded to the 6-decimal lattice BEFORE aggregating
    so group averages agree bitwise.  Scale shape: pure projection +
    one groupBy label with map-side partials — no shuffle of vectors."""
    e = t(spark, sf_dir, "embeddings", columns=["label", "embedding"])
    nrm = F.round(
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    norms = e.select(F.col("label").cast("int").alias("label"), nrm.alias("nrm"))
    bad = F.when((F.col("nrm") < 0.01) | (F.col("nrm") > 10.0), 1).otherwise(0)
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.sum(F.when(F.col("nrm") < 0.01, 1).otherwise(0)).cast("long").alias("n_degenerate"),
        F.sum(F.when(F.col("nrm") > 10.0, 1).otherwise(0)).cast("long").alias("n_exploding"),
        (F.sum(bad) == 0).alias("healthy"),
    )


@query(
    "q288_label_balance",
    oracle="""
WITH per AS (
  SELECT CAST(label AS INTEGER) AS label, CAST(count(*) AS BIGINT) AS n
  FROM embeddings GROUP BY label
),
shares AS (
  SELECT label, n, n / CAST(SUM(n) OVER () AS DOUBLE) AS share FROM per
)
SELECT label, n, round(share, 6) AS share,
       round(-SUM(share * ln(share)) OVER (), 6) AS entropy_nats,
       round(exp(-SUM(share * ln(share)) OVER ()), 6) AS effective_classes,
       round(MAX(n) OVER () / CAST(MIN(n) OVER () AS DOUBLE), 6) AS imbalance,
       MAX(n) OVER () / CAST(MIN(n) OVER () AS DOUBLE) > 3.0 AS needs_rebalance
FROM shares
""",
)
def q288_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit over the embedding labels: per-class share,
    Shannon entropy and the effective class count exp(H) (10 balanced
    classes -> ~10; one dominant class -> ~1), plus max/min imbalance
    with a 3x rebalance flag — the check that decides between plain and
    stratified sampling (q277) before training a probe.  Scale shape:
    one groupBy on the label (map-side partials), windows over the
    class rows only."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "embeddings", columns=["label"])
    per = e.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w_all = Window.partitionBy()
    shares = per.select(
        "label",
        F.col("n").cast("long").alias("n"),
        (F.col("n") / F.sum("n").over(w_all).cast("double")).alias("share"),
    )
    ent = -F.sum(F.col("share") * F.log(F.col("share"))).over(w_all)
    imb = F.max("n").over(w_all) / F.min("n").over(w_all).cast("double")
    return shares.select(
        "label", "n",
        F.round(F.col("share"), 6).alias("share"),
        F.round(ent, 6).alias("entropy_nats"),
        F.round(F.exp(ent), 6).alias("effective_classes"),
        F.round(imb, 6).alias("imbalance"),
        (imb > 3.0).alias("needs_rebalance"),
    )


@query(
    "q328_filtered_ann_coverage",
    oracle=f"""
    WITH u AS (
      SELECT qid, neighbor_id FROM ({_frozen_ivf_oracle_sql()})
    ),
    f AS (
      SELECT qid, neighbor_id FROM ({_frozen_ivf_oracle_sql(_Q326_PRED)})
    )
    SELECT COALESCE(u.qid, f.qid) AS qid,
           CAST(count(u.neighbor_id) AS BIGINT) AS n_unfiltered,
           CAST(count(f.neighbor_id) AS BIGINT) AS n_filtered,
           CAST(sum(CASE WHEN u.neighbor_id IS NOT NULL
                          AND f.neighbor_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           round(
             CAST(sum(CASE WHEN u.neighbor_id IS NOT NULL
                            AND f.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / nullif(CAST(count(u.neighbor_id) AS DOUBLE), 0.0),
             6
           ) AS survivor_share
    FROM u FULL JOIN f
      ON u.qid = f.qid AND u.neighbor_id = f.neighbor_id
    GROUP BY COALESCE(u.qid, f.qid)
    """,
)
def q328_filtered_ann_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered-ANN coverage audit — the acceptance question a predicate
    filter raises in production: per query, how much of the UNFILTERED
    top-k survives the predicate, and does the filtered probe still fill
    k slots from qualifying vectors?  Composes the q42 (unfiltered) and
    q326 (label = 1 pre-filtered) frozen-lattice probes through one
    full-outer join on (qid, neighbor) and reports n_unfiltered /
    n_filtered / n_overlap / survivor_share.  A POST-filtered system
    would show n_filtered == n_overlap (it can only ever return the
    unfiltered list's survivors); pre-filtering backfills the freed slots
    with qualifying neighbors, which this audit makes visible as
    n_filtered > n_overlap.  Cost: two bounded probe plans over the same
    corpus scan shape + one k-bounded join — rows are |Q| x k at any
    corpus size."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    kw = dict(k=TOP_K, id_col="vec_id", vec_col="embedding",
              n_lists=_Q42_LISTS, n_probes=_Q42_PROBES)
    u = S.ivf_topk_frozen(e, queries, **kw).select(
        F.col("qid").alias("uq"), F.col("neighbor_id").alias("un"))
    f = S.ivf_topk_frozen(e, queries, candidate_predicate=_Q326_PRED, **kw).select(
        F.col("qid").alias("fq"), F.col("neighbor_id").alias("fn"))
    joined = u.join(
        f, (u.uq == f.fq) & (u.un == f.fn), "full_outer"
    ).select(
        F.coalesce("uq", "fq").alias("qid"), "un", "fn",
    )
    return (
        joined.groupBy("qid")
        .agg(
            F.count("un").cast("long").alias("n_unfiltered"),
            F.count("fn").cast("long").alias("n_filtered"),
            F.sum(
                F.when(F.col("un").isNotNull() & F.col("fn").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_overlap"),
        )
        .select(
            "qid", "n_unfiltered", "n_filtered", "n_overlap",
            F.round(
                F.col("n_overlap") / F.nullif(F.col("n_unfiltered").cast("double"), F.lit(0.0)),
                6,
            ).alias("survivor_share"),
        )
    )


@query(
    "q330_cross_rerank_audit",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
      SELECT q.qid, v.vec_id AS neighbor_id,
             round(list_dot_product(q.qe, v.e)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine_sim,
             CAST(list_sum(list_transform(range(1, 65),
                    i -> CASE WHEN (q.qe[i] >= 0) = (v.e[i] >= 0)
                              THEN 1 ELSE 0 END)) AS BIGINT) AS sign_agree
      FROM q, v WHERE v.vec_id <> q.qid
    ),
    pool AS (
      SELECT qid, neighbor_id, cosine_sim, sign_agree, bi_rank FROM (
        SELECT qid, neighbor_id, cosine_sim, sign_agree,
               row_number() OVER (
                 PARTITION BY qid ORDER BY cosine_sim DESC, neighbor_id
               ) AS bi_rank
        FROM scored
      ) WHERE bi_rank <= {RERANK_POOL}
    ),
    cr AS (
      SELECT qid, neighbor_id, bi_rank,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY sign_agree DESC, cosine_sim DESC, neighbor_id
             ) AS cr_rank
      FROM pool
    )
    SELECT qid,
           CAST(count(*) AS BIGINT) AS n_pool,
           CAST(sum(CASE WHEN bi_rank <= {TOP_K} AND cr_rank <= {TOP_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS topk_overlap,
           CAST(max(abs(bi_rank - cr_rank)) AS BIGINT) AS max_rank_jump,
           CAST(sum((bi_rank - cr_rank) * (bi_rank - cr_rank)) AS BIGINT)
             AS sum_sq_rank_delta,
           CAST(max(CASE WHEN cr_rank = 1 THEN neighbor_id END) AS BIGINT)
             AS cross_top1_id
    FROM cr GROUP BY qid
    """,
)
def q330_cross_rerank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder-style rerank audit over the ANN shortlist (r11
    verdict #8): stage 1 is the bi-encoder shortlist (exact cosine
    top-``RERANK_POOL`` per query — the same pool a probe serves); stage 2
    re-scores every (query, candidate) PAIR with a pairwise feature the
    bi-encoder cannot see — here the deterministic stand-in is per-dim
    sign agreement (integer-valued, so the audit is hash-exact; a real
    deployment swaps in a cross-encoder model via the same
    mapInPandas seam as the multimodal kernels).  The audit reports,
    per query, how much the rerank MOVED the list: top-``TOP_K`` overlap
    between the two orders, the largest rank jump, and the summed
    squared displacement — the numbers that tell a serving team whether
    the expensive second stage is earning its latency before they ship
    it.

    Plan: corpus stays in place, the ``N_QUERY_VECS``-query set broadcasts
    (bounded BNLJ, the q40 contract); both rank windows share the qid
    partition key, so the pool's one exchange carries the whole audit;
    the pairwise stage touches ``RERANK_POOL`` x |Q| rows only.  At 1e9
    vectors the shortlist is what a probe returns — the audit cost is
    rerank-pool-sized, independent of corpus size."""
    from pyspark.sql.window import Window

    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    q = v.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    agree = F.expr(
        "aggregate(sequence(1, 64), CAST(0 AS BIGINT), (acc, i) -> acc + "
        "CASE WHEN (element_at(qe, i) >= CAST(0 AS DOUBLE)) = "
        "(element_at(e, i) >= CAST(0 AS DOUBLE)) "
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            F.round(S.cosine(F.col("e"), F.col("qe")), 6).alias("cosine_sim"),
            "e",
            "qe",
        )
    )
    w_bi = Window.partitionBy("qid").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    # the pairwise (cross-encoder) feature is computed AFTER the pool cut —
    # RERANK_POOL x |Q| rows, never |corpus| x |Q| (r12 review: computing
    # it inside the cross join doubled the per-pair stage-1 cost for
    # values the filter then threw away)
    pool = (
        scored.withColumn("bi_rank", F.row_number().over(w_bi))
        .filter(F.col("bi_rank") <= RERANK_POOL)
        .select("qid", "neighbor_id", "cosine_sim", "bi_rank",
                agree.alias("sign_agree"))
    )
    w_cr = Window.partitionBy("qid").orderBy(
        F.desc("sign_agree"), F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    cr = pool.withColumn("cr_rank", F.row_number().over(w_cr))
    delta = F.col("bi_rank") - F.col("cr_rank")
    return cr.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_pool"),
        F.sum(
            F.when(
                (F.col("bi_rank") <= TOP_K) & (F.col("cr_rank") <= TOP_K), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("topk_overlap"),
        F.max(F.abs(delta)).cast("long").alias("max_rank_jump"),
        F.sum((delta * delta).cast("long")).cast("long").alias("sum_sq_rank_delta"),
        F.max(F.when(F.col("cr_rank") == 1, F.col("neighbor_id")))
        .cast("long")
        .alias("cross_top1_id"),
    )
