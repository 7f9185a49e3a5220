"""Embedding clustering / statistics inventory: distributed Lloyd k-means,
per-dimension corpus statistics, and nearest-centroid classification —
the clustering third of the embedding surface (ANN + near-dup are in
simsearch/dedup).

Cross-engine float strategy: every vector is first quantized onto an
exact integer lattice (``q_i = floor(x_i * 2^20 + 0.5)`` — float32 inputs
have 24-bit mantissas, so the scaled values round identically in both
engines and all subsequent integer sums are order-free and exact).
Centroids are exact-integer-sum / exact-count doubles, distances are
fixed-order sequential folds over identical doubles (the same
left-to-right fold contract the ANN family's cosine oracle already relies
on), and every emitted double is rounded to 6 digits.

Scale shape: centroid tables are K x DIM — bounded, tiny — so they ride
to the executors as literal arrays (the bounded-collect precedent of
``simsearch.gemm_topk``'s query set) and the assignment step is a pure
zero-shuffle projection over the corpus scan.  The only shuffles anywhere
are the K x DIM-bounded centroid recomputes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigquack_spark.operators.simsearch import (
    cosine_pairs,
    random_hyperplane_lsh,
    random_hyperplane_lsh_sql,
)
from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t

DIM = 64
SCALE = 1048576.0  # 2^20: float32 * 2^20 rounds to an exact <2^45 integer
K = 4  # k-means clusters; init = quantized vectors of vec_id 0..K-1
ITERATIONS = 2

# ---------------------------------------------------------------- helpers

#: DuckDB: quantized BIGINT vector from the float32 embedding column.
_Q_SQL = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    f"x -> CAST(floor(x * {SCALE} + 0.5) AS BIGINT))"
)


def _quantize(vec: Column) -> Column:
    """Spark twin of ``_Q_SQL``: exact integer lattice as array<bigint>."""
    return F.transform(
        vec.cast("array<double>"), lambda x: F.floor(x * F.lit(SCALE) + 0.5)
    )


def _sq_dist_lit(qd: Column, centroid: list[float]) -> Column:
    """Sequential-fold squared L2 distance to a literal centroid vector."""
    cvec = F.array(*[F.lit(float(c)) for c in centroid])
    return F.aggregate(
        F.zip_with(qd, cvec, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_DIST_SQL = (
    "list_sum(list_transform(range(1, {d} + 1), "
    "i -> (qd[i] - {c}[i]) * (qd[i] - {c}[i])))"
)


def _assign_literal(vectors: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """One Lloyd assignment step with the K centroids inlined as literals:
    a pure projection — the corpus neither shuffles nor joins.  Ties break
    toward the lower cluster id: ``array_position`` returns the FIRST
    index holding the minimum and ``centroids`` is sorted by cluster id.
    """
    centroids = sorted(centroids)
    dists = F.array(*[_sq_dist_lit(F.col("qd"), c) for _, c in centroids])
    ids = F.array(*[F.lit(int(cid)) for cid, _ in centroids])
    return vectors.select(
        "*",
        F.element_at(
            ids, F.array_position(dists, F.array_min(dists)).cast("int")
        ).alias("cluster"),
        F.array_min(dists).alias("dist"),
    )


def _centroid_rows(assigned: DataFrame, key: str) -> list[tuple[int, list[float]]]:
    """New centroids: per-(key, dimension) exact BIGINT sums / counts.
    posexplode -> groupBy(key, dim) is one map-side-combined shuffle
    bounded by K x DIM rows; the K-row result collects to the driver
    (bounded state, the gemm_topk precedent) for literal re-broadcast."""
    per_dim = (
        assigned.select(key, F.posexplode(F.col("qd").cast("array<long>")))
        .groupBy(key, "pos")
        .agg((F.sum("col").cast("double") / F.count(F.lit(1))).alias("c"))
    )
    rows = (
        per_dim.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(key, F.transform("pc", lambda s: s.getField("c")).alias("cvec"))
        .collect()
    )
    return [(int(r[key]), list(r["cvec"])) for r in rows]


def _kmeans_oracle() -> str:
    """Unrolled ITERATIONS of Lloyd in DuckDB SQL over the same lattice."""
    dist0 = _DIST_SQL.format(d=DIM, c="c.cvec")
    sql = f"""
    WITH v AS (
      SELECT vec_id, list_transform({_Q_SQL}, x -> CAST(x AS DOUBLE)) AS qd
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cluster, qd AS cvec FROM v WHERE vec_id < {K}
    )"""
    prev = "c0"
    for it in range(1, ITERATIONS + 1):
        sql += f""",
    a{it} AS (
      SELECT vec_id, qd, cluster, dist FROM (
        SELECT v.vec_id, v.qd, c.cluster, {dist0} AS dist,
               row_number() OVER (
                 PARTITION BY v.vec_id ORDER BY {dist0}, c.cluster
               ) AS rk
        FROM v CROSS JOIN {prev} AS c
      ) WHERE rk = 1
    )"""
        if it < ITERATIONS:
            sql += f""",
    c{it} AS (
      SELECT cluster, list(c ORDER BY pos) AS cvec FROM (
        SELECT cluster, pos, CAST(sum(val) AS DOUBLE) / count(*) AS c
        FROM (
          SELECT cluster,
                 unnest(list_transform(qd, x -> CAST(x AS BIGINT))) AS val,
                 unnest(range(1, {DIM} + 1)) AS pos
          FROM a{it}
        )
        GROUP BY cluster, pos
      ) GROUP BY cluster
    )"""
            prev = f"c{it}"
    sql += f"""
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
           round(sqrt(dist) / {SCALE}, 6) AS dist_to_centroid
    FROM a{ITERATIONS}
    """
    return sql


@query("q144_kmeans_lloyd", oracle=_kmeans_oracle())
def q144_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding corpus (K clusters,
    ITERATIONS unrolled iterations, deterministic init = the first K
    vectors) — the clustering primitive behind corpus bucketing, IVF cell
    training, and diversity sampling.

    Plan shape per iteration: assignment is a literal-centroid projection
    (the corpus NEVER shuffles or joins — K x DIM multiply-adds per row);
    centroid recomputation is posexplode -> groupBy(cluster, dim), a
    map-side-combined shuffle bounded by K x DIM x partitions that
    collects K tiny rows to the driver for the next literal broadcast.
    At 100 TB each iteration is one scan plus one negligible shuffle; the
    driver holds only K x DIM doubles.  All arithmetic runs on the exact
    integer lattice (module docstring), so assignments are
    bit-deterministic cross-engine — the oracle replays the identical
    unrolled iterations in SQL.
    """
    e = t(spark, sf_dir, "embeddings", rebalance=True, rebalance_key="vec_id")
    v = e.select(
        "vec_id", _quantize(F.col("embedding")).cast("array<double>").alias("qd")
    )
    centroids = [
        (int(r["vec_id"]), list(r["qd"]))
        for r in v.filter(F.col("vec_id") < K).collect()
    ]
    if not centroids:  # empty corpus: no literal centroids to inline
        return spark.createDataFrame(
            [], "vec_id long, cluster int, dist_to_centroid double"
        )
    assigned = None
    for it in range(1, ITERATIONS + 1):
        assigned = _assign_literal(v, centroids)
        if it < ITERATIONS:
            centroids = _centroid_rows(assigned, "cluster")
    return assigned.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        F.round(F.sqrt(F.col("dist")) / SCALE, 6).alias("dist_to_centroid"),
    )


@query(
    "q145_embedding_dim_stats",
    oracle=f"""
    WITH v AS (SELECT {_Q_SQL} AS q FROM embeddings),
    dims AS (SELECT CAST(unnest(range(1, {DIM} + 1)) AS INTEGER) AS dim)
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(q[dim]) AS DOUBLE) / count(*) / {SCALE}, 6) AS mean,
           round(
             (CAST(sum(q[dim] * q[dim]) AS DOUBLE)
              - CAST(sum(q[dim]) AS DOUBLE) * sum(q[dim]) / count(*))
             / (count(*) - 1) / ({SCALE} * {SCALE}),
             6
           ) AS variance,
           CAST(min(q[dim]) AS BIGINT) AS min_u,
           CAST(max(q[dim]) AS BIGINT) AS max_u
    FROM v, dims
    GROUP BY dim
    ORDER BY dim
    """,
)
def q145_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (mean / variance / range) — the
    normalization pass PCA, whitening, and scalar quantizers run first.

    posexplode fans each vector into (dim, value) pairs; the aggregate is
    map-side-combined down to DIM groups, so the shuffle carries
    DIM x partitions partial rows regardless of corpus size.  Sums and
    sums-of-squares accumulate as exact BIGINTs on the quantization
    lattice (order-free; the squared values stay < 2^63 for corpora up to
    ~10^9 rows at |x| <= 1), then one deterministic double expression
    produces mean/variance — bit-identical cross-engine, no
    accumulation-order risk (the float trap VERDICT r1 flagged on q87).
    """
    e = t(spark, sf_dir, "embeddings", rebalance=True, rebalance_key="vec_id")
    v = e.select(_quantize(F.col("embedding")).cast("array<long>").alias("q"))
    per_dim = v.select(F.posexplode("q").alias("pos", "val")).groupBy("pos")
    n = F.count(F.lit(1))
    s = F.sum("val")
    ssq = F.sum(F.col("val") * F.col("val"))
    return (
        per_dim.agg(
            n.cast("long").alias("n"),
            F.round(s.cast("double") / n / SCALE, 6).alias("mean"),
            F.round(
                (ssq.cast("double") - s.cast("double") * s / n)
                / (n - 1)
                / (SCALE * SCALE),
                6,
            ).alias("variance"),
            F.min("val").cast("long").alias("min_u"),
            F.max("val").cast("long").alias("max_u"),
        )
        .select(
            (F.col("pos") + 1).cast("int").alias("dim"),
            "n",
            "mean",
            "variance",
            "min_u",
            "max_u",
        )
        .orderBy("dim")
    )


def _classify_oracle() -> str:
    dist = _DIST_SQL.format(d=DIM, c="c.cvec")
    return f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform({_Q_SQL}, x -> CAST(x AS DOUBLE)) AS qd
      FROM embeddings
    ),
    c AS (
      SELECT label AS centroid_label, list(c ORDER BY pos) AS cvec FROM (
        SELECT label, pos, CAST(sum(val) AS DOUBLE) / count(*) AS c
        FROM (
          SELECT label,
                 unnest(list_transform(qd, x -> CAST(x AS BIGINT))) AS val,
                 unnest(range(1, {DIM} + 1)) AS pos
          FROM v
        )
        GROUP BY label, pos
      ) GROUP BY label
    ),
    pred AS (
      SELECT vec_id, label, centroid_label FROM (
        SELECT v.vec_id, v.label, c.centroid_label,
               row_number() OVER (
                 PARTITION BY v.vec_id ORDER BY {dist}, c.centroid_label
               ) AS rk
        FROM v CROSS JOIN c
      ) WHERE rk = 1
    )
    SELECT label AS true_label, centroid_label AS predicted_label,
           CAST(count(*) AS BIGINT) AS n
    FROM pred
    GROUP BY true_label, predicted_label
    ORDER BY true_label, predicted_label
    """


@query("q147_centroid_classify", oracle=_classify_oracle())
def q147_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification confusion matrix: per-label mean
    embeddings (exact lattice sums) as class prototypes, every vector
    assigned to its nearest prototype, grouped into (true, predicted)
    counts — the cheap taxonomy-assignment / embedding-drift audit a
    training pipeline runs over candidate corpora.

    Prototype build is one K x DIM-bounded shuffle whose K-row result
    collects to the driver; assignment inlines the prototypes as literals
    over the corpus scan (zero corpus shuffle, no join); the confusion
    matrix is a <= K^2-group aggregate.  Linear at 100 TB.
    """
    e = t(spark, sf_dir, "embeddings", rebalance=True, rebalance_key="vec_id")
    v = e.select(
        "vec_id",
        "label",
        _quantize(F.col("embedding")).cast("array<double>").alias("qd"),
    )
    protos = _centroid_rows(v, "label")
    if not protos:  # empty corpus: no prototypes to inline
        return spark.createDataFrame(
            [], "true_label int, predicted_label int, n long"
        )
    pred = _assign_literal(v, protos).withColumnRenamed("cluster", "centroid_label")
    return (
        pred.groupBy(
            F.col("label").alias("true_label"),
            F.col("centroid_label").alias("predicted_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_label", "predicted_label")
    )


@query(
    "q178_embedding_covariance",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_Q_SQL} AS qv FROM embeddings
    ),
    cells AS (
      SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
             q.qv[CAST(i AS INTEGER)] AS vi, q.qv[CAST(j AS INTEGER)] AS vj
      FROM q
      CROSS JOIN range(1, {DIM} + 1) t1(i)
      CROSS JOIN range(1, {DIM} + 1) t2(j)
      WHERE i <= j
    ),
    sums AS (
      SELECT i, j,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vi) AS BIGINT) AS si,
             CAST(sum(vj) AS BIGINT) AS sj,
             CAST(sum(vi * vj) AS BIGINT) AS sij
      FROM cells GROUP BY i, j
    )
    SELECT i, j,
           round((CAST(sij AS DOUBLE)
                  - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0) / {SCALE} / {SCALE}, 9) AS cov
    FROM sums
    """,
)
def q178_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DIM x DIM embedding covariance matrix — the whitening / PCA /
    Mahalanobis precursor q145's per-dim stats cannot provide (those lack
    the cross terms).  Vectors ride the 2^20 integer lattice, every
    (i, j <= i) cell's power sums are exact BIGINT aggregates, and the
    covariance is assembled from the exact sums in an identical IEEE
    expression on both engines — the q87/q126 lattice discipline extended
    to matrices.  Shape: posexplode x conditional pair fan-out is
    DIM*(DIM+1)/2 cells per row, map-side combined into DIM^2-bounded
    state — 2,080 accumulators at DIM=64, independent of corpus size; no
    shuffle carries row-level data.  At 1e9+ rows the BIGINT product sums
    approach 2^63: shrink SCALE to 2^14 (covariance precision degrades
    gracefully) or tree-aggregate in two tiers; noted in SCALING.md."""
    e = t(spark, sf_dir, "embeddings")
    q = e.select(_quantize(F.col("embedding")).alias("qv"))
    pairs = (
        q.select(F.posexplode("qv").alias("i0", "vi"), F.col("qv"))
        .select(
            (F.col("i0") + 1).alias("i"), "vi",
            F.posexplode(F.slice(F.col("qv"), F.col("i0") + 1, F.lit(DIM))).alias("j0", "vj"),
        )
        .select("i", (F.col("i") + F.col("j0")).alias("j"), "vi", "vj")
    )
    sums = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vi").alias("si"),
        F.sum("vj").alias("sj"),
        F.sum(F.col("vi") * F.col("vj")).alias("sij"),
    )
    return sums.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        F.round(
            (
                F.col("sij").cast("double")
                - F.col("si").cast("double") * F.col("sj").cast("double") / F.col("n").cast("double")
            )
            / (F.col("n").cast("double") - F.lit(1.0))
            / F.lit(float(SCALE)) / F.lit(float(SCALE)),
            9,
        ).alias("cov"),
    )


PURITY_K = 5  # neighbors per vector for the label-agreement audit


@query(
    "q188_label_purity",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, e, {random_hyperplane_lsh_sql(2, 64, 42)} AS bkt
      FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    ),
    sims AS (
      SELECT a.vec_id AS anchor, a.label AS alabel,
             b.vec_id AS nid, b.label AS nlabel,
             round(
               list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
               6
             ) AS cos
      FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
    ),
    top AS (
      SELECT *, row_number() OVER (PARTITION BY anchor ORDER BY cos DESC, nid) AS rnk
      FROM sims
    )
    SELECT anchor, alabel,
           CAST(count(*) AS BIGINT) AS n_neighbors,
           CAST(sum(CASE WHEN nlabel = alabel THEN 1 ELSE 0 END) AS BIGINT) AS n_same_label,
           round(CAST(sum(CASE WHEN nlabel = alabel THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS purity
    FROM top WHERE rnk <= {PURITY_K}
    GROUP BY anchor, alabel
    """,
)
def q188_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-purity audit — the label-noise detector for a supervised
    embedding set (Confident-Learning-shape triage): for each vector, its
    top-``PURITY_K`` cosine neighbors among sign-LSH bucket-mates vote on
    its label; a low agreement rate flags a likely mislabel or a class-
    boundary point.  Candidates are ``operators.simsearch.cosine_pairs``
    over the 2-plane bucket with each side's label carried (never corpus
    x corpus), one anchor-keyed window for the top-k cut, then an exact
    integer agreement count.  Output is per-vector (n_neighbors,
    n_same_label, purity) — the audit table a relabeling queue consumes.
    The oracle replays planes, ranking, and votes exactly."""
    from pyspark.sql.window import Window

    v = random_hyperplane_lsh(
        t(spark, sf_dir, "embeddings"), num_planes=2, seed=42, bucket_col="bkt"
    )
    sims = cosine_pairs(v, block_col="bkt").select(
        F.col("a").alias("anchor"), F.col("label_a").alias("alabel"),
        F.col("b").alias("nid"), F.col("label_b").alias("nlabel"), "cos",
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("cos"), "nid")
    top = sims.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= PURITY_K)
    same = F.when(F.col("nlabel") == F.col("alabel"), 1).otherwise(0)
    return top.groupBy("anchor", "alabel").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.sum(same).cast("long").alias("n_same_label"),
        F.round(F.sum(same).cast("double") / F.count(F.lit(1)), 6).alias("purity"),
    )


BALANCE_BETA = 0.999  # effective-number-of-samples decay (Cui et al. 2019)


@query(
    "q189_class_balance_weights",
    oracle=f"""
    WITH counts AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label
    ),
    eff AS (
      SELECT label, n,
             (1.0 - pow({BALANCE_BETA}, CAST(n AS DOUBLE))) / (1.0 - {BALANCE_BETA})
               AS eff_n
      FROM counts
    )
    SELECT label, n,
           round(eff_n, 6) AS eff_n,
           round((1.0 / eff_n)
                 / (SELECT sum(1.0 / eff_n) FROM eff)
                 * (SELECT CAST(count(*) AS BIGINT) FROM counts), 6) AS weight
    FROM eff
    """,
)
def q189_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance report + effective-number re-weighting (the
    'class-balanced loss' weight table, Cui et al. CVPR 2019): per label,
    raw count, effective sample count (1-β^n)/(1-β), and the normalized
    inverse-effective-number weight a weighted loss or sampler consumes.
    β=``BALANCE_BETA`` discounts marginal duplicates-in-effect — the
    principled middle ground between no re-weighting and raw inverse
    frequency.  All from ONE |labels|-sized aggregate; the normalizer is
    a broadcast 1-row sum; pow/division over exact BIGINTs are identical
    IEEE cross-engine.  Pair with q172's prune verdicts to re-weight
    AFTER semantic dedup shifts the counts."""
    c = t(spark, sf_dir, "embeddings", columns=["label"]).groupBy("label").agg(
        F.count(F.lit(1)).alias("n")
    )
    eff = c.select(
        "label", "n",
        (
            (F.lit(1.0) - F.pow(F.lit(BALANCE_BETA), F.col("n").cast("double")))
            / F.lit(1.0 - BALANCE_BETA)
        ).alias("eff_n_raw"),
    )
    norm = eff.agg(
        F.sum(F.lit(1.0) / F.col("eff_n_raw")).alias("inv_sum"),
        F.sum("n").alias("n_labels_rows"),
    )
    n_labels = eff.agg(F.count(F.lit(1)).alias("n_classes"))
    return (
        eff.crossJoin(F.broadcast(norm.select("inv_sum")))
        .crossJoin(F.broadcast(n_labels))
        .select(
            "label", "n",
            F.round("eff_n_raw", 6).alias("eff_n"),
            F.round(
                (F.lit(1.0) / F.col("eff_n_raw")) / F.col("inv_sum") * F.col("n_classes"),
                6,
            ).alias("weight"),
        )
    )


PQ_SUBSPACES = 2   # 64 dims -> two 32-dim subspaces
PQ_SUBDIM = DIM // PQ_SUBSPACES
PQ_K = 4           # codebook entries per subspace (2-bit codes)
PQ_ITERS = 2       # unrolled Lloyd iterations per subspace


def _pq_cte_chain() -> tuple[str, list[str], list[str]]:
    """The shared DuckDB CTE prefix replaying per-subspace PQ training:
    returns (sql_prefix, final_assignment_tables, final_codebook_tables) —
    q213 (encoding) and q310 (ADC audit) build on the same chain."""
    sql = f"""
    WITH v AS (
      SELECT vec_id, list_transform({_Q_SQL}, x -> CAST(x AS DOUBLE)) AS qd
      FROM embeddings
    )"""
    finals = []
    prevs = []
    for s in range(PQ_SUBSPACES):
        lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        dist = _DIST_SQL.format(d=PQ_SUBDIM, c="c.cvec")
        sql += f""",
    v{s} AS (SELECT vec_id, qd[{lo}:{hi}] AS qd FROM v),
    s{s}c0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cluster, qd AS cvec FROM v{s} WHERE vec_id < {PQ_K}
    )"""
        prev = f"s{s}c0"
        for it in range(1, PQ_ITERS + 1):
            sql += f""",
    s{s}a{it} AS (
      SELECT vec_id, qd, cluster, dist FROM (
        SELECT v.vec_id, v.qd, c.cluster, {dist} AS dist,
               row_number() OVER (
                 PARTITION BY v.vec_id ORDER BY {dist}, c.cluster
               ) AS rk
        FROM v{s} AS v CROSS JOIN {prev} AS c
      ) WHERE rk = 1
    )"""
            if it < PQ_ITERS:
                sql += f""",
    s{s}c{it} AS (
      SELECT cluster, list(c ORDER BY pos) AS cvec FROM (
        SELECT cluster, pos, CAST(sum(val) AS DOUBLE) / count(*) AS c
        FROM (
          SELECT cluster,
                 unnest(list_transform(qd, x -> CAST(x AS BIGINT))) AS val,
                 unnest(range(1, {PQ_SUBDIM} + 1)) AS pos
          FROM s{s}a{it}
        )
        GROUP BY cluster, pos
      ) GROUP BY cluster
    )"""
                prev = f"s{s}c{it}"
        finals.append(f"s{s}a{PQ_ITERS}")
        prevs.append(prev)
    return sql, finals, prevs


def _pq_oracle() -> str:
    """Per-subspace unrolled Lloyd + assignment, joined on vec_id — the
    q144 generator applied to each 32-dim slice."""
    sql, finals, _prevs = _pq_cte_chain()
    sql += f"""
    SELECT a.vec_id,
           CAST(a.cluster AS INTEGER) AS code_0,
           CAST(b.cluster AS INTEGER) AS code_1,
           round(sqrt(a.dist + b.dist) / {SCALE}, 6) AS recon_err
    FROM {finals[0]} a JOIN {finals[1]} b ON a.vec_id = b.vec_id
    """
    return sql


@query("q213_pq_codes", oracle=_pq_oracle())
def q213_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ) encoding — the codebook compression
    behind IVF-PQ indexes: each 64-dim vector splits into
    ``PQ_SUBSPACES`` x ``PQ_SUBDIM``-dim subspaces, each subspace trains its
    own ``PQ_K``-entry codebook (``PQ_ITERS`` unrolled Lloyd iterations,
    deterministic first-K init — q144's exact-lattice machinery applied
    per slice), and the vector's code is the concatenation of its nearest
    codebook entries plus the total reconstruction error.  Plan shape:
    codebook training per subspace is q144's bounded loop (literal-
    centroid projection + K x SUBDIM-bounded recompute shuffle, K rows to
    the driver per round); the FINAL encoding pass inlines both trained
    codebooks as literals into one projection over the corpus scan —
    zero shuffle, zero joins, the write-once/serve-many shape an actual
    PQ index build needs.  The oracle replays both subspace loops and
    joins them on vec_id."""
    e = t(spark, sf_dir, "embeddings", rebalance=True, rebalance_key="vec_id")
    v = e.select(
        "vec_id", _quantize(F.col("embedding")).cast("array<double>").alias("qd")
    )
    if not v.filter(F.col("vec_id") < PQ_K).take(1):
        return spark.createDataFrame(
            [], "vec_id long, code_0 int, code_1 int, recon_err double"
        )
    books: list[list[tuple[int, list[float]]]] = []
    for s in range(PQ_SUBSPACES):
        sub = v.select("vec_id", F.slice("qd", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("qd"))
        cents = [
            (int(r["vec_id"]), list(r["qd"]))
            for r in sub.filter(F.col("vec_id") < PQ_K).collect()
        ]
        for it in range(1, PQ_ITERS):
            cents = _centroid_rows(_assign_literal(sub, cents), "cluster")
        books.append(sorted(cents))

    # single final projection: both codebooks inlined as literals
    out_cols = ["vec_id"]
    dist_cols = []
    sel = v
    for s, cents in enumerate(books):
        sub_qd = F.slice("qd", s * PQ_SUBDIM + 1, PQ_SUBDIM)
        dists = F.array(*[_sq_dist_lit(sub_qd, c) for _, c in cents])
        ids = F.array(*[F.lit(int(cid)) for cid, _ in cents])
        sel = sel.withColumn(f"__d{s}", dists)
        sel = sel.withColumn(
            f"code_{s}",
            F.element_at(
                ids, F.array_position(F.col(f"__d{s}"), F.array_min(f"__d{s}")).cast("int")
            ).cast("int"),
        ).withColumn(f"__m{s}", F.array_min(f"__d{s}"))
        out_cols.append(f"code_{s}")
        dist_cols.append(F.col(f"__m{s}"))
    err = F.round(F.sqrt(sum(dist_cols[1:], dist_cols[0])) / SCALE, 6)
    return sel.select(*out_cols, err.alias("recon_err"))


def _pq_adc_oracle() -> str:
    """q310: ADC (asymmetric distance computation) audit on the q213
    chain — the query's exact subvectors against each corpus vector's
    ASSIGNED codeword, vs the true distance."""
    sql, finals, prevs = _pq_cte_chain()
    da = (
        f"list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (q.qd[i] - c0.cvec[i]) * (q.qd[i] - c0.cvec[i])))"
    )
    db = (
        f"list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (q.qd[{PQ_SUBDIM} + i] - c1.cvec[i]) * (q.qd[{PQ_SUBDIM} + i] - c1.cvec[i])))"
    )
    dq = (
        f"list_sum(list_transform(range(1, {DIM} + 1), "
        f"i -> (q.qd[i] - vv.qd[i]) * (q.qd[i] - vv.qd[i])))"
    )
    sql += f""",
    q AS (SELECT qd FROM v WHERE vec_id = 0)
    SELECT vec_id, code_0, code_1, adc_dist, true_dist,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT a.vec_id,
             CAST(a.cluster AS INTEGER) AS code_0,
             CAST(b.cluster AS INTEGER) AS code_1,
             round(sqrt({da} + {db}) / {SCALE}, 6) AS adc_dist,
             round(sqrt({dq}) / {SCALE}, 6) AS true_dist,
             row_number() OVER (
               ORDER BY round(sqrt({da} + {db}) / {SCALE}, 6), a.vec_id
             ) AS rank
      FROM {finals[0]} a
      JOIN {finals[1]} b ON a.vec_id = b.vec_id
      JOIN {prevs[0]} c0 ON c0.cluster = a.cluster
      JOIN {prevs[1]} c1 ON c1.cluster = b.cluster
      JOIN v vv ON vv.vec_id = a.vec_id
      CROSS JOIN q
    ) WHERE rank <= 10
    """
    return sql


def _pq_adc_scored(spark: SparkSession, sf_dir: str) -> "DataFrame | None":
    """Shared by q310/q313: every corpus vector scored with (code_0,
    code_1, adc_dist, true_dist) against query vec_id=0 using q213's
    deterministically trained codebooks.  None when the corpus is smaller
    than the codebook seeds."""
    e = t(spark, sf_dir, "embeddings", rebalance=True, rebalance_key="vec_id")
    v = e.select(
        "vec_id", _quantize(F.col("embedding")).cast("array<double>").alias("qd")
    )
    if not v.filter(F.col("vec_id") < PQ_K).take(1):
        return None
    books: list[list[tuple[int, list[float]]]] = []
    for s in range(PQ_SUBSPACES):
        sub = v.select("vec_id", F.slice("qd", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("qd"))
        cents = [
            (int(r["vec_id"]), list(r["qd"]))
            for r in sub.filter(F.col("vec_id") < PQ_K).collect()
        ]
        for it in range(1, PQ_ITERS):
            cents = _centroid_rows(_assign_literal(sub, cents), "cluster")
        books.append(sorted(cents))

    qrow = [float(x) for x in v.filter(F.col("vec_id") == 0).collect()[0]["qd"]]
    sel = v
    out_cols = ["vec_id"]
    adc_terms = []
    for s, cents in enumerate(books):
        sub_qd = F.slice("qd", s * PQ_SUBDIM + 1, PQ_SUBDIM)
        dists = F.array(*[_sq_dist_lit(sub_qd, c) for _, c in cents])
        ids = F.array(*[F.lit(int(cid)) for cid, _ in cents])
        sel = sel.withColumn(f"__d{s}", dists)
        pos = F.array_position(F.col(f"__d{s}"), F.array_min(f"__d{s}")).cast("int")
        sel = sel.withColumn(f"code_{s}", F.element_at(ids, pos).cast("int"))
        # driver-side LUT: query subvector vs each codeword, the same
        # sequential fold the oracle's list_sum performs (IEEE-identical)
        qsub = qrow[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
        lut = []
        for _cid, c in cents:
            acc = 0.0
            for a_val, b_val in zip(qsub, c):
                d = a_val - b_val
                acc = acc + d * d
            lut.append(acc)
        adc_terms.append(
            F.element_at(F.array(*[F.lit(x) for x in lut]), pos)
        )
        out_cols.append(f"code_{s}")
    adc = F.round(F.sqrt(sum(adc_terms[1:], adc_terms[0])) / SCALE, 6)
    true_d = F.round(F.sqrt(_sq_dist_lit(F.col("qd"), qrow)) / SCALE, 6)
    return sel.select(
        *out_cols, adc.alias("adc_dist"), true_d.alias("true_dist")
    )


@query("q310_pq_adc_audit", oracle=_pq_adc_oracle())
def q310_pq_adc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC audit for IVF-PQ serving (r7 verdict #3's oracle-paired leg,
    twin of ``operators/simsearch.probe_ivf_pq``'s stage 2): using q213's
    deterministically trained codebooks, score every corpus vector by the
    ASYMMETRIC distance — the query's exact subvector against the
    vector's assigned codeword — and return the ADC top-10 with the true
    distance alongside, auditing exactly the arithmetic the PQ shortlist
    ranks by (sum of per-subspace LUT lookups).

    Plan shape: codebook training is q213's bounded literal loop; the
    scoring pass is ONE projection over the corpus scan — the query
    vector is a 1-row bounded collect whose per-codeword LUT is computed
    driver-side (PQ_SUBSPACES x PQ_K floats) and inlined as literals, so
    ADC per row is two array lookups, no join, no shuffle; the top-10 is
    a TakeOrdered, never a global sort.  The oracle replays training and
    scores via the same sequential-fold arithmetic."""
    scored = _pq_adc_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [],
            "vec_id long, code_0 int, code_1 int, adc_dist double, "
            "true_dist double, rank int",
        )
    from pyspark.sql.window import Window

    top = scored.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def _pq_recall_oracle() -> str:
    """q313: recall@k of the ADC ranking against the exact ranking, the
    single number that says whether a PQ shortlist of size k can be
    trusted — same chain, two rank CTEs, one intersection count."""
    sql, finals, prevs = _pq_cte_chain()
    da = (
        f"list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (q.qd[i] - c0.cvec[i]) * (q.qd[i] - c0.cvec[i])))"
    )
    db = (
        f"list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (q.qd[{PQ_SUBDIM} + i] - c1.cvec[i]) * (q.qd[{PQ_SUBDIM} + i] - c1.cvec[i])))"
    )
    dq = (
        f"list_sum(list_transform(range(1, {DIM} + 1), "
        f"i -> (q.qd[i] - vv.qd[i]) * (q.qd[i] - vv.qd[i])))"
    )
    sql += f""",
    q AS (SELECT qd FROM v WHERE vec_id = 0),
    scored AS (
      SELECT a.vec_id,
             round(sqrt({da} + {db}) / {SCALE}, 6) AS adc_dist,
             round(sqrt({dq}) / {SCALE}, 6) AS true_dist
      FROM {finals[0]} a
      JOIN {finals[1]} b ON a.vec_id = b.vec_id
      JOIN {prevs[0]} c0 ON c0.cluster = a.cluster
      JOIN {prevs[1]} c1 ON c1.cluster = b.cluster
      JOIN v vv ON vv.vec_id = a.vec_id
      CROSS JOIN q
      WHERE a.vec_id <> 0
    ),
    adc_top AS (
      SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY adc_dist, vec_id) AS rk
        FROM scored
      ) WHERE rk <= 20
    ),
    true_top AS (
      SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY true_dist, vec_id) AS rk
        FROM scored
      ) WHERE rk <= 20
    )
    SELECT CAST(20 AS BIGINT) AS k,
           CAST((SELECT count(*) FROM adc_top JOIN true_top USING (vec_id))
                AS BIGINT) AS n_overlap,
           round((SELECT count(*) FROM adc_top JOIN true_top USING (vec_id))
                 / 20.0, 6) AS recall_at_k
    """
    return sql


@query("q313_pq_adc_recall", oracle=_pq_recall_oracle())
def q313_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality number behind ``probe_ivf_pq``'s rerank budget:
    recall@20 of the ADC ordering against the exact ordering for query
    vec_id=0 (self excluded) — how many of the true 20 nearest survive
    into a 20-deep PQ shortlist.  Same scored projection as q310; the
    two top-k sets are TakeOrdered collects (k-bounded), the overlap a
    driver-side set intersection — no join of corpus-sized sides."""
    scored = _pq_adc_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [], "k long, n_overlap long, recall_at_k double"
        )
    scored = scored.filter(F.col("vec_id") != 0)
    k = 20
    adc_top = {
        r.vec_id
        for r in scored.orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
        .collect()
    }
    true_top = {
        r.vec_id
        for r in scored.orderBy(F.asc("true_dist"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
        .collect()
    }
    n = len(adc_top & true_top)
    return spark.createDataFrame(
        [(k, n, round(n / k, 6))], "k long, n_overlap long, recall_at_k double"
    )


def _silhouette_oracle() -> str:
    """q144's unrolled Lloyd CTEs + per-vector distances to ALL final
    centroids; silhouette-lite from the two smallest order statistics."""
    dist0 = _DIST_SQL.format(d=DIM, c="c.cvec")
    sql = f"""
    WITH v AS (
      SELECT vec_id, list_transform({_Q_SQL}, x -> CAST(x AS DOUBLE)) AS qd
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cluster, qd AS cvec FROM v WHERE vec_id < {K}
    )"""
    prev = "c0"
    for it in range(1, ITERATIONS):
        sql += f""",
    a{it} AS (
      SELECT vec_id, qd, cluster, dist FROM (
        SELECT v.vec_id, v.qd, c.cluster, {dist0} AS dist,
               row_number() OVER (
                 PARTITION BY v.vec_id ORDER BY {dist0}, c.cluster
               ) AS rk
        FROM v CROSS JOIN {prev} AS c
      ) WHERE rk = 1
    ),
    c{it} AS (
      SELECT cluster, list(c ORDER BY pos) AS cvec FROM (
        SELECT cluster, pos, CAST(sum(val) AS DOUBLE) / count(*) AS c
        FROM (
          SELECT cluster,
                 unnest(list_transform(qd, x -> CAST(x AS BIGINT))) AS val,
                 unnest(range(1, {DIM} + 1)) AS pos
          FROM a{it}
        )
        GROUP BY cluster, pos
      ) GROUP BY cluster
    )"""
        prev = f"c{it}"
    sql += f""",
    alld AS (
      SELECT v.vec_id, c.cluster, {dist0} AS dist
      FROM v CROSS JOIN {prev} AS c
    ),
    ranked AS (
      SELECT vec_id, cluster, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rk
      FROM alld
    ),
    per_vec AS (
      SELECT o.vec_id, o.cluster AS own_cluster, o.dist AS own, s2.dist AS second
      FROM ranked o JOIN ranked s2 ON s2.vec_id = o.vec_id AND s2.rk = 2
      WHERE o.rk = 1
    ),
    scored AS (
      SELECT vec_id, own_cluster,
             sqrt(own) / {SCALE} AS d_own,
             sqrt(second) / {SCALE} AS d_other,
             CASE WHEN greatest(sqrt(own), sqrt(second)) = 0 THEN 0.0
                  ELSE (sqrt(second) - sqrt(own)) / greatest(sqrt(own), sqrt(second))
             END AS s
      FROM per_vec
    )
    SELECT own_cluster AS cluster,
           CAST(count(*) AS BIGINT) AS n,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(s ORDER BY vec_id)),
                             (a, x) -> a + x) / count(*), 6) AS mean_silhouette,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(d_own ORDER BY vec_id)),
                             (a, x) -> a + x) / count(*), 6) AS mean_intra_dist
    FROM scored GROUP BY own_cluster
    """
    return sql


@query("q234_cluster_silhouette", oracle=_silhouette_oracle())
def q234_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation for the q144 k-means result —
    simplified silhouette (Kaufman's s = (b−a)/max(a,b) with b = the
    nearest-OTHER-centroid distance, the standard centroid approximation
    that avoids the O(n²) pairwise silhouette): per cluster, the mean
    silhouette and mean intra-cluster distance.  s near 0 = clusters
    touching (k too high or data unclusterable); this is the metric that
    decides K before anyone trusts q144's buckets for diversity sampling
    or IVF cells.  Determinism: distances on the q144 lattice, own/other
    taken as the two smallest ORDER STATISTICS of the cluster-ordered
    distance list (tie-stable on both engines), folds in vec_id order.
    Plan: the corpus-side work is one literal-centroid projection (no
    join, no shuffle); the only exchanges are K-bounded."""
    e = t(spark, sf_dir, "embeddings", rebalance=True, rebalance_key="vec_id")
    v = e.select(
        "vec_id", _quantize(F.col("embedding")).cast("array<double>").alias("qd")
    )
    centroids = [
        (int(r["vec_id"]), list(r["qd"]))
        for r in v.filter(F.col("vec_id") < K).collect()
    ]
    if not centroids:
        return spark.createDataFrame(
            [], "cluster int, n long, mean_silhouette double, mean_intra_dist double"
        )
    for it in range(1, ITERATIONS):
        centroids = _centroid_rows(_assign_literal(v, centroids), "cluster")
    centroids = sorted(centroids)
    dists = F.array(*[_sq_dist_lit(F.col("qd"), c) for _, c in centroids])
    ids = F.array(*[F.lit(int(cid)) for cid, _ in centroids])
    per_vec = v.select(
        "vec_id",
        F.element_at(
            ids, F.array_position(dists, F.array_min(dists)).cast("int")
        ).alias("own_cluster"),
        F.element_at(F.array_sort(dists), 1).alias("own"),
        F.element_at(F.array_sort(dists), 2).alias("second"),
    )
    d_own = F.sqrt("own") / SCALE
    d_other = F.sqrt("second") / SCALE
    s = F.when(
        F.greatest(F.sqrt("own"), F.sqrt("second")) == 0, F.lit(0.0)
    ).otherwise(
        (F.sqrt("second") - F.sqrt("own")) / F.greatest(F.sqrt("own"), F.sqrt("second"))
    )
    scored = per_vec.select(
        "vec_id", "own_cluster", d_own.alias("d_own"), s.alias("s")
    )
    folded = scored.groupBy(F.col("own_cluster").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.array_sort(F.collect_list(F.struct("vec_id", F.col("s").alias("v")))).alias("ls"),
        F.array_sort(F.collect_list(F.struct("vec_id", F.col("d_own").alias("v")))).alias("ld"),
    )

    def fold(col):
        return F.aggregate(
            F.transform(col, lambda x: x.getField("v")), F.lit(0.0), lambda a, x: a + x
        )

    return folded.select(
        "cluster", "n",
        F.round(fold(F.col("ls")) / F.col("n"), 6).alias("mean_silhouette"),
        F.round(fold(F.col("ld")) / F.col("n"), 6).alias("mean_intra_dist"),
    )


def _pq_balance_oracle() -> str:
    """q317: per-subspace code occupancy over the q213 chain."""
    sql, finals, _prevs = _pq_cte_chain()
    legs = " UNION ALL ".join(
        f"SELECT {s} AS subspace, CAST(cluster AS INTEGER) AS code, "
        f"CAST(count(*) AS BIGINT) AS n_vectors FROM {finals[s]} GROUP BY cluster"
        for s in range(PQ_SUBSPACES)
    )
    sql += f"""
    , occ AS ({legs})
    SELECT subspace, code, n_vectors,
           round(n_vectors / CAST(sum(n_vectors) OVER (PARTITION BY subspace)
                 AS DOUBLE), 6) AS share,
           round(n_vectors / (avg(n_vectors) OVER (PARTITION BY subspace)), 6)
             AS balance_ratio
    FROM occ
    """
    return sql


@query("q317_pq_code_balance", oracle=_pq_balance_oracle())
def q317_pq_code_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-health audit for the PQ family (q213/q310/q313's sibling):
    per-subspace code occupancy — share of the corpus each codeword
    absorbs and its ratio to the subspace average.  A codeword absorbing
    several times its fair share means that subspace's codebook resolves
    nothing there (the PQ analogue of ivf_cell_drift's hot cell) and the
    rebuild should refit with more codes.  One projection (the q213
    encode pass) + a code-vocabulary-bounded aggregate + PQ_K-row
    windows."""
    scored = _pq_adc_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [],
            "subspace int, code int, n_vectors long, share double, "
            "balance_ratio double",
        )
    occ = (
        scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("subspace"), F.col("code_0").alias("code")
                    ),
                    F.struct(
                        F.lit(1).alias("subspace"), F.col("code_1").alias("code")
                    ),
                )
            ).alias("sc")
        )
        .select("sc.subspace", "sc.code")
        .groupBy("subspace", "code")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("subspace")
    return occ.select(
        "subspace", "code", "n_vectors",
        F.round(F.col("n_vectors") / F.sum("n_vectors").over(w).cast("double"), 6)
        .alias("share"),
        F.round(F.col("n_vectors") / F.avg("n_vectors").over(w), 6)
        .alias("balance_ratio"),
    )


_RB_BUDGETS = [10, 20, 40, 80]
_RB_K = 10
_RB_TARGET = 0.9


def _recall_budget_oracle() -> str:
    """q321: the q313 chain extended to a recall-vs-budget CURVE and the
    min-budget resolution — the SQL twin of ``simsearch.
    calibrate_pq_recall`` + ``resolve_rerank_budget``."""
    sql, finals, prevs = _pq_cte_chain()
    da = (
        f"list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (q.qd[i] - c0.cvec[i]) * (q.qd[i] - c0.cvec[i])))"
    )
    db = (
        f"list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> (q.qd[{PQ_SUBDIM} + i] - c1.cvec[i]) * (q.qd[{PQ_SUBDIM} + i] - c1.cvec[i])))"
    )
    dq = (
        f"list_sum(list_transform(range(1, {DIM} + 1), "
        f"i -> (q.qd[i] - vv.qd[i]) * (q.qd[i] - vv.qd[i])))"
    )
    budgets = ", ".join(str(b) for b in _RB_BUDGETS)
    sql += f""",
    q AS (SELECT qd FROM v WHERE vec_id = 0),
    scored AS (
      SELECT a.vec_id,
             round(sqrt({da} + {db}) / {SCALE}, 6) AS adc_dist,
             round(sqrt({dq}) / {SCALE}, 6) AS true_dist
      FROM {finals[0]} a
      JOIN {finals[1]} b ON a.vec_id = b.vec_id
      JOIN {prevs[0]} c0 ON c0.cluster = a.cluster
      JOIN {prevs[1]} c1 ON c1.cluster = b.cluster
      JOIN v vv ON vv.vec_id = a.vec_id
      CROSS JOIN q
      WHERE a.vec_id <> 0
    ),
    ranks AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY adc_dist, vec_id) AS adc_rk,
             row_number() OVER (ORDER BY true_dist, vec_id) AS true_rk
      FROM scored
    ),
    curve AS (
      SELECT b.budget,
             CAST(sum(CASE WHEN r.true_rk <= {_RB_K} AND r.adc_rk <= b.budget
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM (SELECT unnest([{budgets}]) AS budget) b, ranks r
      GROUP BY b.budget
    )
    SELECT CAST(budget AS INTEGER) AS budget,
           n_hit,
           round(n_hit / {_RB_K}.0, 6) AS recall_at_k,
           n_hit / {_RB_K}.0 >= {_RB_TARGET} AS meets_target,
           (n_hit / {_RB_K}.0 >= {_RB_TARGET}
            AND budget = (SELECT min(budget) FROM curve
                          WHERE n_hit / {_RB_K}.0 >= {_RB_TARGET}))
             AS is_resolved
    FROM curve
    """
    return sql


@query("q321_pq_recall_budget", oracle=_recall_budget_oracle())
def q321_pq_recall_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-budgeted PQ serving (the oracle-paired twin of
    ``simsearch.calibrate_pq_recall`` + ``probe_ivf_pq(target_recall=)``):
    for query vec_id=0 over q213's deterministically trained codebooks,
    the recall@{k} of the ADC shortlist at each rerank budget, which
    budgets meet the 0.9 target, and the SMALLEST that does
    (``is_resolved``) — the exact lookup the serving path performs
    against the stored curve.

    Plan shape: q310's single scored projection (codebook LUTs inlined as
    literals — no join, no shuffle); the true top-{k} is a k-bounded
    TakeOrdered collect whose (adc_dist, vec_id) thresholds return as
    LITERALS into ONE map-side-combined aggregate that counts, per truth
    member, the rows strictly ahead of it in ADC order — its ADC rank
    without any global sort or corpus-sized join.  The curve itself is
    driver-side arithmetic over {k} ranks."""
    scored = _pq_adc_scored(spark, sf_dir)
    schema = (
        "budget int, n_hit long, recall_at_k double, "
        "meets_target boolean, is_resolved boolean"
    )
    if scored is None:
        return spark.createDataFrame([], schema)
    scored = scored.filter(F.col("vec_id") != 0)
    truth = scored.orderBy(F.asc("true_dist"), F.asc("vec_id")).limit(_RB_K).select(
        "vec_id", "adc_dist"
    ).collect()
    if not truth:
        return spark.createDataFrame([], schema)
    # one aggregate pass: for each truth member, how many rows precede it
    # in (adc_dist, vec_id) order — 1 + that count is its ADC rank
    aggs = []
    for i, r in enumerate(truth):
        ahead = (F.col("adc_dist") < F.lit(r.adc_dist)) | (
            (F.col("adc_dist") == F.lit(r.adc_dist))
            & (F.col("vec_id") < F.lit(r.vec_id))
        )
        aggs.append(F.sum(ahead.cast("long")).alias(f"n{i}"))
    counts = scored.agg(*aggs).first()
    adc_rank = sorted(int(counts[f"n{i}"]) + 1 for i in range(len(truth)))

    rows = []
    for budget in _RB_BUDGETS:
        n_hit = sum(1 for rk in adc_rank if rk <= budget)
        rows.append((budget, n_hit, round(n_hit / _RB_K, 6), n_hit / _RB_K >= _RB_TARGET))
    resolved = min((b for b, n, _rc, m in rows if m), default=None)
    return spark.createDataFrame(
        [(b, n, rc, m, m and b == resolved) for b, n, rc, m in rows], schema
    )
