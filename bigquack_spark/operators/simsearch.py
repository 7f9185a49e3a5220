"""Similarity search over embedding columns (SURVEY §2.9).

Baseline: brute-force cosine top-k — a broadcast join of the (small) query
set against the corpus with the dot product as a JVM ``zip_with``/
``aggregate`` fold, ranked per query by a window.  Scale path: random-
hyperplane LSH bucketing so candidate generation touches only same-bucket
vectors; multiprobe widens recall without widening the shuffle.

No row-at-a-time Python UDFs anywhere: the fold over array<double> stays in
codegen, and the hyperplanes enter the plan as literal arrays (driver-
computed once with a seeded RNG, shipped inside the serialized plan —
nothing is collected).  The one Python seam is Arrow-batched by design:
``_cosine_arrow_udf`` (a vectorized pandas UDF, like q75's GEMM kernel)
scores probe candidates at memory bandwidth where the interpreted
higher-order SQL fold would dominate serving latency — opt-in via
``probe_ivf_index(arrow_scoring=True)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — resolves _cosine_arrow_udf's PEP-563 hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns as a codegen'd fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cosine_arrow_udf():
    """Arrow-vectorized cosine (pandas UDF): numerically the same double
    arithmetic as :func:`cosine` up to float summation order (numpy
    pairwise vs fold-sequential — empirically identical at the round-6
    grain the probes emit; q75's GEMM kernel has the same property and is
    hash-green against the fold-order oracle).  The point: the SQL
    :func:`cosine` is an interpreted higher-order expression costing ~10us
    per row-pair, which dominates a probe's candidate scoring; one Arrow
    batch transfer + einsum scores the same candidates at memory
    bandwidth."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if a.empty:
            return pd.Series([], dtype="float64")
        va = np.stack(a.to_numpy())
        vb = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", va, vb)
        den = np.sqrt(np.einsum("ij,ij->i", va, va)) * np.sqrt(
            np.einsum("ij,ij->i", vb, vb)
        )
        return pd.Series(num / den)

    return cos


def _topk(sims: DataFrame, k: int, query_id_col: str = "qid") -> DataFrame:
    """The top-k tail every ANN path shares: rank each query's scored
    candidates by (cosine_sim DESC, neighbor_id ASC) and keep the first
    ``k`` as (query id, neighbor_id, cosine_sim, rank)."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine_sim", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """Brute-force cosine top-k: every query vector against the full corpus.

    The query side is broadcast (it is small by construction), so the corpus
    never shuffles — one scan, per-row fold, then a window ranked per query.
    Ranking key is (rounded sim DESC, id ASC): rounding to 6 decimals makes
    the order engine-invariant, the id breaks residual ties.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    sims = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine_sim"),
        )
    )
    return _topk(sims, k, query_id_col)


def _planes(num_planes: int, dim: int, seed: int) -> np.ndarray:
    """The seeded hyperplanes both engines bucket with: one draw, shared by
    the Spark literals and the DuckDB oracle SQL."""
    return np.random.default_rng(seed).standard_normal((num_planes, dim))


def _plane_literals(num_planes: int, dim: int, seed: int) -> list[Column]:
    return [F.array(*[F.lit(float(x)) for x in row]) for row in _planes(num_planes, dim, seed)]


def random_hyperplane_lsh_sql(num_planes: int, dim: int, seed: int) -> str:
    """DuckDB expression over a ``DOUBLE[]`` column ``e`` for
    :func:`random_hyperplane_lsh`'s bucket, bit-exactly: the same seeded
    doubles are interpolated as literals (repr round-trips IEEE doubles),
    and list_dot_product's left-to-right fold matches Spark's aggregate
    fold, so the sign bits — hence the buckets — are identical across
    engines."""
    bits = [
        f"(CASE WHEN list_dot_product(e, [{', '.join(repr(float(x)) for x in row)}]) >= 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i, row in enumerate(_planes(num_planes, dim, seed))
    ]
    return " + ".join(bits)


def random_hyperplane_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 16,
    seed: int = 42,
    dim: int = 64,
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """Sign-LSH: project each vector onto ``num_planes`` seeded random
    hyperplanes and pack the sign bits into one BIGINT bucket key.  Pure
    per-row projection — the bucket becomes the shuffle/blocking key for
    near-dup and ANN."""
    v = F.col(vec_col).cast("array<double>")
    bucket = None
    for i, plane in enumerate(_plane_literals(num_planes, dim, seed)):
        bit = F.when(dot(v, plane) >= 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bit if bucket is None else bucket.bitwiseOR(bit)
    return df.withColumn(bucket_col, bucket)


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Blocked cosine pairs: the bucket self-join under near-dup, hard
    negatives, label purity, contrastive pairs and embedding health.

    Every ordered pair ``(a, b)``, ``a != b``, of rows sharing
    ``block_col`` (all rows when it is None: a cartesian product, test
    scale only), scored ``cos = round(cosine(va, vb), 6)`` — rounded so
    ranking and thresholds are engine-invariant.  Output: ``a, b, va, vb,
    cos``, the block column, and each other column of ``df`` twice as
    ``<col>_a`` / ``<col>_b``; Catalyst prunes what a caller does not
    select.  Pairwise work is bounded by block populations (block on
    :func:`random_hyperplane_lsh`'s bucket for sign-LSH).  There is no
    ordering option: a caller that wants each unordered pair once adds
    ``.filter(a < b)``, which Catalyst folds into the join condition."""
    keys = [block_col] if block_col else []
    other = [c for c in df.columns if c not in (id_col, vec_col, *keys)]

    def side(s: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(s),
            F.col(vec_col).cast("array<double>").alias(f"v{s}"),
            *keys,
            *[F.col(c).alias(f"{c}_{s}") for c in other],
        )

    a, b = side("a"), side("b")
    joined = a.join(b, block_col) if block_col else a.crossJoin(b)
    return joined.filter(F.col("a") != F.col("b")).withColumn(
        "cos", F.round(cosine(F.col("va"), F.col("vb")), 6)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    dim: int = 64,
    multiprobe_bits: int = 1,
) -> DataFrame:
    """ANN via LSH buckets: rank only corpus vectors whose bucket matches the
    query's bucket or differs by <= ``multiprobe_bits`` sign bits (multiprobe
    via a broadcast of perturbed query buckets).  Approximate — recall is
    checked against :func:`cosine_topk` in tests."""
    cb = random_hyperplane_lsh(corpus, vec_col, num_planes, seed, dim).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        "lsh_bucket",
    )
    qb = random_hyperplane_lsh(queries, vec_col, num_planes, seed, dim).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.col("lsh_bucket").alias("q_bucket"),
    )
    # multiprobe: explode each query into its bucket + <=multiprobe_bits
    # sign-bit flips (widening probes is how recall is bought on weakly
    # clustered data — candidate cost scales with probe count, not corpus)
    probes = [F.col("q_bucket")]
    if multiprobe_bits >= 1:
        probes += [
            F.col("q_bucket").bitwiseXOR(F.shiftleft(F.lit(1).cast("bigint"), i))
            for i in range(num_planes)
        ]
    if multiprobe_bits >= 2:
        probes += [
            F.col("q_bucket")
            .bitwiseXOR(F.shiftleft(F.lit(1).cast("bigint"), i))
            .bitwiseXOR(F.shiftleft(F.lit(1).cast("bigint"), j))
            for i in range(num_planes)
            for j in range(i + 1, num_planes)
        ]
    qprobed = F.broadcast(
        qb.withColumn("lsh_bucket", F.explode(F.array(*probes)))
    )
    sims = (
        cb.join(qprobed, "lsh_bucket")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select(
            "qid",
            "neighbor_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine_sim"),
        )
        .dropDuplicates(["qid", "neighbor_id"])
    )
    return _topk(sims, k)


def _nearest_cells(
    q: DataFrame, centroids: DataFrame, n_probes: int, keep_centroid: bool = False
) -> DataFrame:
    """IVF coarse probe: each query's ``n_probes`` nearest cells by squared
    L2 distance to the broadcast centroid table, ties broken by cell id.
    ``q`` is (qid, qv); returns (qid, qv[, centroid], cell)."""
    dist2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    keep = ["qid", "qv", *(["centroid"] if keep_centroid else []), "cell"]
    wq = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cell"))
    return (
        q.crossJoin(F.broadcast(centroids))
        .select(*keep, dist2.alias("d2"))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= n_probes)
        .select(*keep)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    n_probes: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse k-means quantizer splits the corpus
    into ``n_lists`` cells; each query scans only its ``n_probes`` nearest
    cells.

    The quantizer is MLlib KMeans (seeded, deterministic).  Centroids are
    tiny by construction (n_lists x dim) — they travel as a broadcast
    DataFrame, never a collected corpus.  Candidate cost per query =
    corpus/n_lists x n_probes, tunable independently of corpus size; cells
    are the shuffle/blocking key, exactly like the LSH bucket path.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    vec = F.col(vec_col).cast("array<double>")
    c = corpus.select(F.col(id_col).alias("neighbor_id"), vec.alias("cv"))
    featurized = c.withColumn("features", array_to_vector("cv"))
    # KMeans cannot fit fewer points than clusters; a corpus smaller than
    # n_lists doesn't need an index at all — brute force IS exact there.
    if len(featurized.take(n_lists)) < n_lists:
        return cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    model = KMeans(k=n_lists, seed=seed, featuresCol="features").fit(featurized)
    assigned = model.transform(featurized).select(
        "neighbor_id", "cv", F.col("prediction").alias("cell")
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    q = queries.select(F.col(id_col).alias("qid"), vec.alias("qv"))
    probes = _nearest_cells(q, centroids, n_probes)
    sims = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select(
            "qid",
            "neighbor_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine_sim"),
        )
        .dropDuplicates(["qid", "neighbor_id"])
    )
    return _topk(sims, k)

#: 2^20 — a float32 (24-bit mantissa) times 2^20 rounds to the same exact
#: integer in every engine; squared-distance sums over 64 dims stay < 2^53,
#: so lattice distances are order-free and bit-deterministic cross-engine
#: (the queries/clustering.py lattice contract, reused here).
IVF_LATTICE_SCALE = 1048576.0


def ivf_topk_frozen(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    n_probes: int = 2,
    candidate_predicate: str | None = None,
) -> DataFrame:
    """IVF ANN with a FROZEN deterministic coarse quantizer: the centroids
    are the integer-lattice quantizations of the ``n_lists`` lowest-id
    corpus vectors, so cell assignment needs no training and is
    bit-deterministic cross-engine — the oracle-paired twin of the TRAINED
    :func:`ivf_topk` (same probe math, same plan shape, no Lloyd
    iterations; q144's lattice makes every distance an exact integer sum).

    ``candidate_predicate`` (FILTERED ANN): neighbors are restricted to
    corpus rows satisfying the attribute predicate, applied at the corpus
    scan BEFORE assignment/scoring (pre-filtering — the predicate prunes
    candidates, it never starves top-k).  The quantizer seeds still come
    from the UNFILTERED corpus: same index, filtered search.

    Plan shape (identical to ivf_topk's): assignment is a literal-centroid
    zero-shuffle projection over the corpus scan; probe selection explodes
    |Q| x n_lists bounded rows; candidates are one broadcast-probe join, so
    per-query cost is corpus/n_lists x n_probes regardless of corpus size.
    A corpus smaller than ``n_lists`` simply yields fewer cells (the SQL
    oracle replays the same reduced quantizer); only an EMPTY corpus falls
    back to brute force (nothing to index or rank)."""
    e = F.col(vec_col).cast("array<double>")
    qd_raw = F.transform(
        e, lambda x: F.floor(x * F.lit(IVF_LATTICE_SCALE) + 0.5)
    ).cast("array<double>")
    v = corpus.select(
        F.col(id_col).alias("neighbor_id"), e.alias("cv"), qd_raw.alias("qd")
    )
    seeds = v.orderBy("neighbor_id").limit(n_lists).select("neighbor_id", "qd").collect()
    if not seeds:
        # an empty corpus has nothing to index OR rank: exact brute force
        # (over the qualifying rows — the filtered-search contract holds)
        cand = corpus.filter(candidate_predicate) if candidate_predicate else corpus
        return cosine_topk(cand, queries, k=k, id_col=id_col, vec_col=vec_col)
    # a corpus smaller than n_lists simply yields fewer cells — the lattice
    # path still runs, which keeps Spark and the SQL oracle replaying the
    # IDENTICAL probe math at every corpus size (r10 review pass 2: a
    # brute-force fallback here diverged from the oracle's probe-limited
    # candidates for 1..n_lists-1 rows)
    centroids = sorted((int(r["neighbor_id"]), list(r["qd"])) for r in seeds)
    dim = len(centroids[0][1])
    # loud in-plan dimension gate (assign_to_cells' failure mode, priced at
    # zero extra passes): a mis-dimensioned vector would fold to NULL
    # distances and silently vanish from (or mis-probe) the candidate join
    qd = F.when(F.size(e) == dim, qd_raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit("ivf_topk_frozen: vector dimension "), F.size(e).cast("string"),
                F.lit(f" != quantizer dimension {dim} — rebuild for the new "
                      "embedding space"),
            )
        ).cast("array<double>")
    )
    v = corpus.select(
        F.col(id_col).alias("neighbor_id"), e.alias("cv"), qd.alias("qd")
    )

    def d2_to(cvec: list[float]) -> Column:
        lit = F.array(*[F.lit(float(x)) for x in cvec])
        return F.aggregate(
            F.zip_with(F.col("qd"), lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cells = F.array(*[F.lit(cid).cast("int") for cid, _ in centroids])
    dists = F.array(*[d2_to(cv) for _, cv in centroids])
    if candidate_predicate:
        # filtered search over the SAME index: the predicate prunes the
        # candidate scan (pushed to parquet), seeds above stay unfiltered
        v = corpus.filter(candidate_predicate).select(
            F.col(id_col).alias("neighbor_id"), e.alias("cv"), qd.alias("qd")
        )
    qv_frame = queries.select(
        F.col(id_col).alias("qid"), e.alias("qv"), qd.alias("qd")
    )
    # corpus assignment: argmin over the literal centroid array; ties break
    # to the lowest cell id because array_position returns the FIRST minimum
    assigned = v.select(
        "neighbor_id",
        "cv",
        F.element_at(cells, F.array_position(dists, F.array_min(dists)).cast("int")).alias("cell"),
    )
    qv = qv_frame
    wq = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        qv.select(
            "qid", "qv",
            F.explode(
                F.zip_with(cells, dists, lambda c, d: F.struct(c.alias("cell"), d.alias("d2")))
            ).alias("cd"),
        )
        .select("qid", "qv", F.col("cd.cell").alias("cell"), F.col("cd.d2").alias("d2"))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= n_probes)
        .select("qid", "qv", "cell")
    )
    sims = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select(
            "qid",
            "neighbor_id",
            F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine_sim"),
        )
    )
    return _topk(sims, k)


def gemm_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """Brute-force cosine top-k with an Arrow-batched GEMM kernel.

    Same result as :func:`cosine_topk` (same rounding, same tie order),
    different physical strategy: the bounded query set is materialized once
    into a |Q| x d numpy matrix (driver-side -- the same data movement as the
    broadcast in cosine_topk), and each Arrow batch of the corpus is scored
    with one dense matrix multiply instead of a per-pair expression fold.
    Each batch emits only its own top-k per query, so the shuffle into the
    global rank is (#batches x |Q| x k) rows -- independent of corpus size.

    This is the scale shape for brute-force ANN at 100 TB: the corpus never
    shuffles and is never paired row-by-row; per-core work is a dense GEMM
    (BLAS, the fastest thing a CPU does per flop); merge traffic is
    negligible.  The declarative :func:`cosine_topk` stays as the
    everything-in-codegen twin -- identical output, oracle-diffed both ways.

    The kernel is ``mapInArrow`` (r12 optimization): a list<double> Arrow
    column is one contiguous values buffer plus offsets, so the (n, d)
    matrix is a flatten+reshape over that buffer instead of a per-row
    Python list conversion (measured ~200 ms -> ~0.2 ms per 10k-row batch;
    the old mapInPandas path ALSO paid a hidden per-row object
    materialization in arrow->pandas).  Per-query top-k selects with
    O(n) np.partition bounded at the k-th sim (ALL boundary ties kept, so
    the id tie-break stays exact) instead of a full O(n log n) lexsort.
    Output identical bit-for-bit: same rounding, same tie order
    (tests/test_ops.py::test_gemm_topk_identical_to_codegen_fold).
    """
    import pyarrow as pa

    out_schema = f"{query_id_col} bigint, neighbor_id bigint, cosine_sim double, rank int"
    qrows = queries.select(id_col, vec_col).collect()  # bounded query set
    if not qrows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    partial_schema = pa.schema(
        [
            pa.field(query_id_col, pa.int64()),
            pa.field("neighbor_id", pa.int64()),
            pa.field("cosine_sim", pa.float64()),
        ]
    )

    def _to_matrix(arr: "pa.Array") -> np.ndarray:
        # list<double> -> (n, d) over the shared values buffer; fall back to
        # the row loop only for ragged/null rows (never this data's shape)
        widths = np.diff(arr.offsets.to_numpy())
        if len(widths) and arr.null_count == 0 and (widths == widths[0]).all():
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            return flat.astype(np.float64, copy=False).reshape(
                len(widths), int(widths[0])
            )
        return np.array([list(v) for v in arr.to_pylist()], dtype=np.float64)

    def _topk_exact(cand: np.ndarray, cand_ids: np.ndarray):
        if len(cand) > max(4 * k, 64):
            kth = -np.partition(-cand, k - 1)[k - 1]
            keep = np.flatnonzero(cand >= kth)  # >= keeps every boundary tie
            cand, cand_ids = cand[keep], cand_ids[keep]
        order = np.lexsort((cand_ids, -cand))[:k]  # sim desc, id asc
        return cand_ids[order], cand[order]

    def score(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            cmat = _to_matrix(batch.column(1))
            nrm = np.linalg.norm(cmat, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0
            sims = np.round((cmat / nrm) @ qmat.T, 6)  # (batch, |Q|)
            out_qid, out_nid, out_sim = [], [], []
            for j, qid in enumerate(qids):
                mask = ids != qid
                nid, sim = _topk_exact(sims[mask, j], ids[mask])
                out_qid.append(np.full(len(nid), qid, dtype=np.int64))
                out_nid.append(nid)
                out_sim.append(sim)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_qid)),
                    pa.array(np.concatenate(out_nid)),
                    pa.array(np.concatenate(out_sim)),
                ],
                schema=partial_schema,
            )

    partial = corpus.select(id_col, vec_col).mapInArrow(
        score, schema=f"{query_id_col} bigint, neighbor_id bigint, cosine_sim double"
    )
    return _topk(partial, k, query_id_col)


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    scale_col: str = "q_scale",
    out_col: str = "q_vec",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = floor(x_i / scale + 0.5)`` (round-half-up via floor — chosen
    over round() because floor over identical IEEE doubles is
    engine-portable, banker's-vs-half-away round is not).

    The scale posture: a 100 TB float32 embedding corpus becomes ~25 TB,
    scan bandwidth and ANN cache footprint drop 4x, and the dequantized
    cosine error is bounded by scale/2 per component (recall impact
    measured in tests, not asserted blindly).  Pure per-row projection —
    zero shuffle, rides the scan."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (amax / F.lit(127.0)).cast("double")
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn(scale_col, scale).withColumn(out_col, q)


def dequantize(
    df: DataFrame,
    scale_col: str = "q_scale",
    q_col: str = "q_vec",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: ``x ~= q * scale`` (error bounded
    by scale/2 per component)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)),
    )


def _sampled_train_set(df: DataFrame, train_sample: "int | None", seed: int) -> DataFrame:
    """The quantizer-training view of a corpus: the full frame when
    ``train_sample`` is None (exact legacy behavior), else a seeded sample
    of ~``train_sample`` rows.  This is the 100 TB posture (and what faiss
    does): KMeans quality saturates at a few hundred points per centroid,
    so training must never scan the full corpus — only the one assignment
    pass does."""
    if not train_sample:
        return df
    n = df.count()
    if n <= train_sample:
        return df
    frac = min(1.0, (train_sample * 1.2) / n)
    return df.sample(fraction=frac, seed=seed).limit(train_sample)


def _fit_cells(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    seed: int,
    metadata_cols: "list[str] | None" = None,
    train_sample: "int | None" = None,
) -> "tuple[DataFrame, DataFrame] | None":
    """Fit the IVF coarse quantizer: returns (assigned, centroids) where
    assigned = (id, vec array<double>[, metadata...], cell int) and
    centroids = (cell int, centroid array<double>), or None when the corpus
    has fewer points than cells (no index needed — brute force is exact and
    cheap).  ``metadata_cols`` ride along into the index rows so filtered
    probes can push attribute predicates into the cell-partitioned scan.
    Seeded MLlib KMeans: deterministic, centroids are n_lists x dim tiny.
    ``train_sample`` caps the KMeans TRAINING set (seeded sample; the full
    corpus is still assigned) — at 100 TB the quantizer must be fit on a
    bounded sample, never the corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    vec = F.col(vec_col).cast("array<double>")
    meta = list(metadata_cols or [])
    c = corpus.select(F.col(id_col).alias("id"), vec.alias("vec"), *meta)
    featurized = c.withColumn("features", array_to_vector("vec"))
    if len(featurized.take(n_lists)) < n_lists:
        return None
    train = _sampled_train_set(featurized, train_sample, seed)
    if train is not featurized and len(train.take(n_lists)) < n_lists:
        train = featurized  # degenerate sample — fall back to exact
    model = KMeans(k=n_lists, seed=seed, featuresCol="features").fit(train)
    assigned = model.transform(featurized).select(
        "id", "vec", *meta, F.col("prediction").cast("int").alias("cell")
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    return assigned, centroids


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    seed: int = 42,
    metadata_cols: "list[str] | None" = None,
    train_sample: "int | None" = None,
    compact_cells: bool = True,
) -> int:
    """Persist an IVF index as a CELL-PARTITIONED parquet layout: the
    storage-side half of ANN serving.  ``{path}/index`` holds
    (id, vec[, metadata...], cell=) partitioned by cell — a probe that
    touches n_probes cells READS n_probes directories, nothing else — and
    ``{path}/centroids`` holds the n_lists x dim quantizer table.
    ``metadata_cols`` (e.g. a label/category/tenant column) are stored in
    the index rows: a FILTERED probe pushes its attribute predicate into
    the parquet scan of the probed cells, pruning candidates before any
    distance math (``probe_ivf_index(predicate=)`` /
    ``probe_ivf_pq(predicate=)``).

    This turns q42's per-query IVF from recompute-every-time into
    write-once/serve-many: at 100 TB the index build is one KMeans fit +
    one partitioned write, and every later probe is partition-pruned I/O
    proportional to corpus/n_lists x n_probes.  Returns the number of
    cells written (0 = corpus smaller than n_lists; no index written —
    callers fall back to brute force, which is exact there).

    A fresh build over a path that :func:`rebuild_ivf_index` has
    generation-managed SUPERSEDES the generations: the flat layout is
    written complete first, then the ``_CURRENT`` pointer is removed so
    readers resolve the new flat build (r7 review finding: without this,
    probes kept serving the stale generation and the next rebuild deleted
    the fresh build as an aged flat layout).  The generation the pointer
    named is RETAINED for readers mid-flight on it (the same grace
    :func:`rebuild_ivf_index` gives via ``keep_previous``); older orphan
    generations — including one left by a build that crashed between the
    pointer removal and its prune — are cleaned up here."""
    import json
    import os
    import shutil

    fitted = _fit_cells(corpus, id_col, vec_col, n_lists, seed,
                        metadata_cols=metadata_cols, train_sample=train_sample)
    if fitted is None:
        return 0
    assigned, centroids = fitted
    if compact_cells:
        # one task (=> one file) per cell: a partitionBy write straight off
        # T scan tasks lands T files in EVERY cell directory — T x n_lists
        # tiny files whose listing/open cost dominates probe reads.  With
        # sqrt(N)-sized lists a cell is ~sqrt(N) rows, so one file is the
        # right grain; deployments needing bigger splits repartition(n,
        # "cell") or set maxRecordsPerFile instead of disabling this.
        assigned = assigned.repartition("cell")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/index")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    # build-time occupancy snapshot — the baseline ivf_cell_drift compares
    # against (n_lists rows; negligible next to the index write)
    assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_build")).write.mode(
        "overwrite"
    ).parquet(f"{path}/build_stats")
    ptr = os.path.join(path, CURRENT_PTR)
    retained = None
    if os.path.exists(ptr):
        with open(ptr) as fh:
            retained = json.load(fh)["gen"]  # grace for mid-flight readers
        os.remove(ptr)  # flat layout is complete — retarget readers to it
    for name in os.listdir(path):
        if name.startswith("gen-") and name != retained:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    return n_lists


#: Atomic-pointer file naming the active generation dir of a rebuilt index.
CURRENT_PTR = "_CURRENT"


def _resolve_index_root(path: str) -> str:
    """The directory actually holding ``index/ centroids/ build_stats``.

    A freshly built index is flat under ``path``; once
    :func:`rebuild_ivf_index` has run, ``path/_CURRENT`` names the active
    ``gen-*`` subdirectory.  Every reader and the appender resolve through
    this, so a pointer swap retargets them atomically — a probe running
    mid-rebuild reads a complete old generation or a complete new one,
    never a torn mix."""
    import json
    import os

    ptr = os.path.join(path, CURRENT_PTR)
    if os.path.exists(ptr):
        with open(ptr) as fh:
            return os.path.join(path, json.load(fh)["gen"])
    return path


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: str | None = None,
    arrow_scoring: bool = False,
    collect_cells: bool = False,
) -> DataFrame:
    """Serve ANN queries from a :func:`build_ivf_index` layout.  Per query:
    nearest ``n_probes`` centroids (broadcast of the tiny centroid table),
    then a broadcast join of the probe set against the partitioned index —
    Spark's dynamic partition pruning turns that join into cell-directory
    pruning at the scan, so index I/O is bounded by the probed cells, not
    the corpus.  Scoring/ranking matches ivf_topk exactly (round-6 cosine,
    (cosine desc, id) tie order).

    ``predicate`` (FILTERED ANN) restricts candidates by the metadata
    columns stored at build time (``build_ivf_index(metadata_cols=)``):
    the filter sits directly on the index scan, so Catalyst pushes it into
    the parquet reader of the probed cells — candidates are pruned before
    any distance math, and top-k ranks only qualifying vectors.

    Serving knobs (defaults preserve the oracle-exact legacy plan):

    - ``arrow_scoring`` scores candidates with the Arrow-vectorized cosine
      (:func:`_cosine_arrow_udf`) instead of the interpreted higher-order
      SQL expression — same round-6 values, ~5-10x cheaper per candidate;
      the online-serving default a deployment wants.
    - ``collect_cells`` resolves the probed cells driver-side (a bounded
      n_queries x n_probes collect) and STATICALLY prunes the index scan
      with an IN filter, instead of relying on runtime DPP.  The resolved
      probe assignment is also re-issued as a LITERAL frame (r13, guide
      §2.4): the per-execution coarse subtree — query x centroid
      crossJoin, per-qid window, its Exchange — disappears from the
      executed plan entirely, leaving LocalTableScan -> broadcast -> one
      pruned index join.  Right for online batches (few queries); leave
      False for corpus-scale offline query frames where a driver collect
      is the anti-pattern."""
    path = _resolve_index_root(path)
    centroids = spark.read.parquet(f"{path}/centroids")
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    probes = _nearest_cells(q, centroids, n_probes)
    index = spark.read.parquet(f"{path}/index")
    if collect_cells:
        rows = probes.collect()  # bounded: n_queries x n_probes rows
        wanted = sorted({r.cell for r in rows})
        # literal re-issue: exact same (qid, qv, cell) values (collect
        # round-trips IEEE doubles bit-exactly), so scoring and tie order
        # are unchanged — parity-pinned in tests/test_ops.py
        probes = spark.createDataFrame(rows, probes.schema)
        index = index.filter(F.col("cell").isin(wanted))  # static pruning
    if predicate:
        index = index.filter(predicate)  # pushed into the probed-cell scan
    score = (
        F.round(_cosine_arrow_udf()(F.col("vec"), F.col("qv")), 6)
        if arrow_scoring
        else F.round(cosine(F.col("vec"), F.col("qv")), 6)
    )
    sims = (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col("id") != F.col("qid"))
        .select("qid", F.col("id").alias("neighbor_id"), score.alias("cosine_sim"))
        .dropDuplicates(["qid", "neighbor_id"])
    )
    return _topk(sims, k)


def assign_to_cells(vectors: DataFrame, centroids: DataFrame,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    metadata_cols: "list[str] | None" = None) -> DataFrame:
    """Nearest-centroid assignment against a FROZEN quantizer table:
    (id, vec array<double>[, metadata...], cell int).  The tiny centroid
    table broadcasts; the argmin is a per-id window over n_lists candidate
    rows — bounded fan-out, ties broken by cell id (matches MLlib's
    lowest-index rule)."""
    meta = list(metadata_cols or [])
    v = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec"),
        *meta,
    )
    # loud dimension gate: zip_with pads a short/long vector with NULLs,
    # d2 goes NULL, and NULLS-FIRST ordering would silently dump every
    # mismatched vector into the lowest cell — corrupting the index with
    # no error (e.g. an embedding-model change mid-stream).  One extra
    # action over the NEW batch only; the index is never read.
    dim = len(centroids.select("centroid").first()["centroid"])
    n_bad = v.filter(F.size("vec") != dim).limit(1).count()
    if n_bad:
        bad = v.filter(F.size("vec") != dim).select("id", F.size("vec")).first()
        raise ValueError(
            f"assign_to_cells: vector id={bad[0]} has dimension {bad[1]}, "
            f"quantizer expects {dim} — rebuild the index for the new "
            "embedding space instead of appending"
        )
    d2 = F.aggregate(
        F.zip_with(F.col("vec"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cell"))
    return (
        v.crossJoin(F.broadcast(centroids))
        .select("id", "vec", *meta, "cell", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "vec", *meta, "cell")
    )


def append_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental IVF maintenance: assign new vectors to the index's
    FROZEN coarse quantizer and append them into their cell partitions —
    the serve-path ingest that avoids a full rebuild per batch (the
    standard IVF contract: centroids are never refit here; a periodic
    :func:`build_ivf_index` rebuild absorbs quantizer drift when cell
    sizes skew).  At 100 TB the append touches ONLY the new batch: one
    broadcast-assign projection + one partitioned append, no read of the
    existing index.  Returns the number of vectors appended (count rides
    the write via df.observe).  Exactly-once is the caller's offset
    protocol (streaming.ExactlyOnceBatchSink's shape) — a replayed batch
    would append duplicate ids."""
    import os

    from pyspark.sql import Observation

    path = _resolve_index_root(path)
    centroids = spark.read.parquet(f"{path}/centroids")
    # appended rows must carry the SAME metadata schema the build stored —
    # otherwise filtered probes would silently never see appended vectors
    # (their metadata reads back NULL and every predicate fails)
    meta = [
        c for c in spark.read.parquet(f"{path}/index").schema.names
        if c not in ("id", "vec", "cell")
    ]
    assigned = assign_to_cells(new_vectors, centroids, id_col, vec_col,
                               metadata_cols=meta)
    has_pq = os.path.isdir(os.path.join(path, "pq_codebooks"))
    if has_pq:
        # the PQ shortlist (probe_ivf_pq) scans pq_codes, not the index —
        # an append that skipped encoding would make appended vectors
        # silently invisible to the ADC stage until the next rebuild
        # (r8 review finding).  Codebooks stay FROZEN like the quantizer;
        # residuals of the new batch encode against the live books.
        # Persisted so both writes see the SAME assignment (and pay it
        # once), and codes land FIRST: the crash window then holds codes
        # without vectors — shortlist slots the rerank join drops, never
        # neighbors the probe silently cannot see.
        assigned = assigned.persist()
        books = _load_codebooks(spark, path)
        resid = _with_residual(assigned, centroids)
        _encode_pq(resid, books, vec_col="res").select(
            "id", *meta, "codes", "cell"
        ).write.mode("append").partitionBy("cell").parquet(f"{path}/pq_codes")
    obs = Observation("ivf_append")
    observed = assigned.observe(obs, F.count(F.lit(1)).alias("n"))
    observed.write.mode("append").partitionBy("cell").parquet(f"{path}/index")
    if has_pq:
        assigned.unpersist()
    return int(obs.get["n"])


def ivf_cell_drift(
    spark,
    path: str,
    share_ratio_threshold: float = 1.5,
) -> DataFrame:
    """Quantizer drift monitor (r5 verdict #6): ``append_to_ivf_index`` is
    frozen-quantizer by design, so the cell-size distribution skews as the
    appended data drifts from the build-time corpus.  This audit compares
    each cell's CURRENT occupancy share against its build-time share
    (persisted by :func:`build_ivf_index` as ``build_stats``) and
    recommends a rebuild once any cell's share grew past
    ``share_ratio_threshold`` x its build share — the hot-cell signal that
    degrades probe latency first (a probe reads whole cells, so one
    bloated cell costs every query that lands in it).

    Output: one row per cell with (cell, n_build, n_now, build_share,
    now_share, share_ratio, hot) plus the index-wide ``rebuild``
    recommendation on every row.  Cost posture: the current counts come
    from a groupBy over the index's PARTITION column only — the scan's
    read schema is EMPTY (plan-contract-tested in tests/test_plans.py),
    so no vector data page is ever decoded and the audit's cost scales
    with file count, not vector bytes; the comparison and window tail run
    over n_lists-sized frames (a sort-merge join of two tiny sides —
    Spark cannot broadcast a full-outer join), which do not grow with
    the corpus."""
    path = _resolve_index_root(path)
    now = (
        spark.read.parquet(f"{path}/index")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_now"))
    )
    build = spark.read.parquet(f"{path}/build_stats")
    # full outer: a cell can be empty at build (never: kmeans) or now; keep
    # both sides visible — a cell that appeared from nowhere is pure drift.
    # No broadcast hint: Spark can't broadcast a full-outer equi-join (the
    # hint is silently ignored) — both sides are n_lists rows here, so the
    # sort-merge exchange carries tens of rows at any corpus size.
    j = now.join(build, "cell", "full_outer").select(
        F.col("cell").cast("int").alias("cell"),
        F.coalesce("n_build", F.lit(0)).alias("n_build"),
        F.coalesce("n_now", F.lit(0)).alias("n_now"),
    )
    tot = j.select(
        F.sum("n_build").alias("tb"), F.sum("n_now").alias("tn")
    )
    out = (
        j.crossJoin(F.broadcast(tot))  # 1-row scalar bounds
        .withColumn("build_share", F.col("n_build") / F.col("tb"))
        .withColumn("now_share", F.col("n_now") / F.col("tn"))
        .withColumn(
            "share_ratio",
            F.when(F.col("build_share") > 0, F.col("now_share") / F.col("build_share")),
        )
        .withColumn(
            "hot",
            F.coalesce(F.col("share_ratio") > share_ratio_threshold, F.lit(True)),
        )
        .drop("tb", "tn")
    )
    w_all = Window.partitionBy()
    return out.withColumn("rebuild", F.max(F.col("hot").cast("int")).over(w_all) > 0)


def rebuild_ivf_index(
    spark,
    path: str,
    n_lists: int | None = None,
    seed: int = 42,
    keep_previous: bool = True,
) -> dict:
    """Act on :func:`ivf_cell_drift`'s recommendation (r6 verdict #2): re-fit
    the coarse quantizer over the FULL current corpus (build-time vectors
    plus every frozen-quantizer append), reassign, and publish as a new
    GENERATION with an atomic pointer swap — closing the drift loop that
    ``append_to_ivf_index`` deliberately leaves open.

    Publish protocol: the new quantizer+index+build_stats land complete
    under ``path/gen-<id>/`` (plus a ``_LINEAGE.json`` recording which
    parquet sources fed the refit), and only then does ``path/_CURRENT``
    swap to it via tmp+rename.  Probes resolve the pointer per call
    (:func:`_resolve_index_root`), so no reader ever sees a torn index: a
    crash before the swap leaves the old generation live and an orphan
    ``gen-*`` dir that the next rebuild prunes.  The previous generation is
    retained for readers mid-flight (``keep_previous``); older ones are
    pruned.

    ``n_lists`` defaults to the current quantizer's size; ``seed`` matches
    :func:`build_ivf_index`'s default, so rebuilding an UNdrifted index is
    probe-for-probe identical (KMeans is seeded-deterministic).  Cost
    posture: one KMeans fit + one partitioned write over the corpus —
    identical to the original build, which is the whole point: rebuilds
    are the periodic amortized cost that keeps every probe's per-query
    cost at corpus/n_lists x n_probes.

    Returns ``{generation, previous, n_lists, n_vectors, pruned}``."""
    import json
    import os
    import shutil
    import uuid

    from pyspark.sql import Observation

    from bigquack_spark.lineage import capture_lineage, write_lineage_manifest
    from bigquack_spark.operators import fsops

    old_root = _resolve_index_root(path)
    old_index = spark.read.parquet(f"{old_root}/index")
    # metadata columns survive the rebuild — dropping them would break
    # every filtered probe against the new generation
    meta = [c for c in old_index.schema.names if c not in ("id", "vec", "cell")]
    corpus = old_index.select("id", "vec", *meta)
    if n_lists is None:
        n_lists = spark.read.parquet(f"{old_root}/centroids").count()
    fitted = _fit_cells(corpus, "id", "vec", n_lists, seed, metadata_cols=meta)
    if fitted is None:
        raise ValueError(
            f"rebuild_ivf_index: corpus at {path} has fewer than "
            f"{n_lists} vectors — drop the index and serve brute-force "
            "(exact and cheap in that regime) instead of rebuilding"
        )
    assigned, centroids = fitted

    gen = f"gen-{uuid.uuid4().hex[:12]}"
    gen_dir = os.path.join(path, gen)
    obs = Observation("ivf_rebuild")
    assigned.observe(obs, F.count(F.lit(1)).alias("n")).write.partitionBy(
        "cell"
    ).parquet(f"{gen_dir}/index")
    n_vectors = int(obs.get["n"])
    centroids.write.parquet(f"{gen_dir}/centroids")
    assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_build")).write.parquet(
        f"{gen_dir}/build_stats"
    )
    # generation-swap compatibility for IVF-PQ (r7 verdict #3): if the
    # live generation carries PQ artifacts, the rebuild refits the
    # codebooks over the SAME refreshed corpus and publishes them inside
    # the new generation BEFORE the pointer swap — a probe_ivf_pq running
    # across the swap reads a complete old or complete new (quantizer +
    # codebooks + codes), never a torn mix
    pq_refit = None
    if os.path.isdir(os.path.join(old_root, "pq_codebooks")):
        old_books = _load_codebooks(spark, old_root)
        m, k_codes = len(old_books), len(old_books[0])
        resid = _with_residual(assigned, centroids)
        books = train_pq_codebooks(resid, m=m, k_codes=k_codes, seed=seed, vec_col="res")
        spark.createDataFrame(
            [(s, c, books[s][c]) for s in range(m) for c in range(k_codes)],
            "subspace int, code int, centroid array<double>",
        ).write.parquet(f"{gen_dir}/pq_codebooks")
        _encode_pq(resid, books, vec_col="res").select(
            "id", *meta, "codes", "cell"
        ).write.partitionBy("cell").parquet(f"{gen_dir}/pq_codes")
        pq_refit = {"m": m, "k_codes": k_codes}

    lin = capture_lineage(corpus)
    write_lineage_manifest(
        gen_dir,
        output=gen_dir,
        sources=lin["sources"],
        output_columns=["id", "vec", *meta, "cell"],
        rows=n_vectors,
        extra={"operation": "rebuild_ivf_index", "n_lists": n_lists, "seed": seed},
    )

    # atomic pointer swap — the only moment readers retarget
    fsops.write_atomic(os.path.join(path, CURRENT_PTR), json.dumps({"gen": gen}))

    previous = os.path.basename(old_root) if old_root != path else "(flat)"
    pruned = []
    for name in sorted(os.listdir(path)):
        if not name.startswith("gen-") or name == gen:
            continue
        if keep_previous and name == previous:
            continue
        shutil.rmtree(os.path.join(path, name), ignore_errors=True)
        pruned.append(name)
    if old_root != path or not keep_previous:
        # the original flat layout is now >=2 generations old (or retention
        # is off) — retire it so the dir doesn't accrete dead bytes
        for sub in ("index", "centroids", "build_stats", "pq_codebooks", "pq_codes"):
            flat = os.path.join(path, sub)
            if os.path.isdir(flat):
                shutil.rmtree(flat, ignore_errors=True)
                if sub == "index":
                    pruned.append("(flat)")
    return {
        "generation": gen,
        "previous": previous,
        "n_lists": n_lists,
        "n_vectors": n_vectors,
        "pruned": pruned,
        "pq_refit": pq_refit,
    }


# -- IVF-PQ: memory-bounded two-stage probe (r7 verdict #3) ------------------


def _sqd_lit(sub: Column, center: list[float]) -> Column:
    """Squared L2 distance between an array<double> column and a LITERAL
    center — the codebook enters the plan as constants, zero joins."""
    arr = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(sub, arr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    vec_col: str = "vec",
    train_sample: "int | None" = None,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: split each vector into ``m``
    equal subspaces and fit a seeded ``k_codes``-centroid KMeans per
    subspace.  Returns ``books[s][c] = centroid`` (python lists — the
    whole artifact is m x k_codes x dim/m floats, KB-sized at any corpus
    scale; the training cost is m bounded MLlib fits).  The code of a
    vector is the per-subspace argmin against these centers — q213
    (queries/clustering.py) is the oracle-paired twin of this arithmetic.
    ``train_sample`` caps each subspace fit's TRAINING rows (seeded
    sample) — without it the m fits each scan the full corpus, which is
    the one non-amortizable cost PQ has at 100 TB."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = vectors.select(F.col(vec_col).cast("array<double>").alias("vec"))
    full = v
    v = _sampled_train_set(v, train_sample, seed)
    if v is not full:
        v = v.cache()  # m subspace fits reuse one materialized sample
    dim = len(v.select("vec").first()["vec"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    subdim = dim // m
    if len(v.take(k_codes)) < k_codes:
        raise ValueError(
            f"train_pq_codebooks: corpus smaller than k_codes={k_codes} — "
            "PQ compression is pointless there; serve exact instead"
        )
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = v.select(
            array_to_vector(F.slice("vec", s * subdim + 1, subdim)).alias("features")
        )
        model = KMeans(k=k_codes, seed=seed, featuresCol="features").fit(sub)
        books.append([[float(x) for x in ctr] for ctr in model.clusterCenters()])
    if v is not full:
        v.unpersist()
    return books


def _lut_arrow_udf(books: list[list[list[float]]]):
    """Arrow-batched ADC lookup-table builder: per (query, cell) row,
    the per-subspace squared distances from the query RESIDUAL to every
    codebook center, flattened m x k_codes row-major — the same values as
    the literal-expression LUT columns, computed as numpy broadcasting.

    Exists for plan-construction cost, not arithmetic: the expression
    path builds m x k_codes x subdim literal distance terms (one Column
    object per element), and at 512-dim that construction+analysis was
    the dominant share of an 11 s probe-call wall (r12 pq_cutover
    measurement) while this UDF is O(1) plan nodes."""
    from pyspark.sql.functions import pandas_udf

    B = [np.asarray(b, dtype=np.float64) for b in books]  # m of (k x subdim)
    m, k, subdim = len(B), B[0].shape[0], B[0].shape[1]

    @pandas_udf("array<double>")
    def lut(qv: pd.Series, centroid: pd.Series) -> pd.Series:
        if qv.empty:
            return pd.Series([], dtype=object)
        res = np.stack(qv.to_numpy()) - np.stack(centroid.to_numpy())
        out = np.empty((len(res), m * k))
        for s in range(m):
            sub = res[:, s * subdim : (s + 1) * subdim]
            out[:, s * k : (s + 1) * k] = (
                (sub[:, None, :] - B[s][None, :, :]) ** 2
            ).sum(axis=2)
        return pd.Series(list(out))

    return lut


def _adc_arrow_udf(m: int):
    """Arrow-batched ADC: per candidate row, gather each subspace's
    distance from the per-(query, cell) lookup table and sum — the same
    values as the ``element_at`` chain (double sum over m terms), computed
    as one numpy fancy-index per batch.  ``lut`` arrives flattened
    (m x k_codes row-major, per row)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def adc(codes: pd.Series, lut: pd.Series) -> pd.Series:
        if codes.empty:
            return pd.Series([], dtype="float64")
        c = np.stack(codes.to_numpy()).astype(np.int64)  # n x m
        flat = np.stack(lut.to_numpy())  # n x (m*k)
        k = flat.shape[1] // m
        l3 = flat.reshape(len(c), m, k)
        rows = np.arange(len(c))[:, None]
        subs = np.arange(m)[None, :]
        return pd.Series(l3[rows, subs, c].sum(axis=1))

    return adc


def _pq_codes_arrow_udf(books: list[list[list[float]]]):
    """Arrow-batched PQ encoder: per batch, one numpy broadcast computes
    every (vector, center) squared distance per subspace and argmins it —
    the same arithmetic and first-minimum tie rule as :func:`_encode_pq`'s
    literal expressions, at memory bandwidth instead of interpreted
    HOF-per-row cost.  The codebook rides in the closure (m x k_codes x
    subdim floats, KB-sized at any corpus scale)."""
    from pyspark.sql.functions import pandas_udf

    bk = [np.asarray(b, dtype=np.float64) for b in books]

    @pandas_udf("array<int>")
    def enc(res: pd.Series) -> pd.Series:
        if res.empty:
            return pd.Series([], dtype="object")
        v = np.stack(res.to_numpy())
        m = len(bk)
        subdim = bk[0].shape[1]
        out = np.empty((v.shape[0], m), dtype=np.int32)
        for s in range(m):
            sub = v[:, s * subdim : (s + 1) * subdim]
            d = ((sub[:, None, :] - bk[s][None, :, :]) ** 2).sum(-1)
            out[:, s] = d.argmin(axis=1)  # first minimum, like array_position
        return pd.Series(list(out))

    return enc


def _encode_pq(df: DataFrame, books: list[list[list[float]]], vec_col: str = "vec",
               arrow: bool = False):
    """codes array<int> via literal-inlined argmin per subspace — one
    projection over the scan, no shuffle (q213's encoding pass shape).
    ``arrow=True`` swaps the interpreted literal expressions for the
    Arrow-batched numpy encoder (same values up to float summation order;
    the ingest-cost path a deployment wants)."""
    if arrow:
        return df.withColumn("codes", _pq_codes_arrow_udf(books)(F.col(vec_col)))
    m = len(books)
    subdim = len(books[0][0])
    code_cols = []
    for s, centers in enumerate(books):
        sub = F.slice(F.col(vec_col), s * subdim + 1, subdim)
        dists = F.array(*[_sqd_lit(sub, c) for c in centers])
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return df.withColumn("codes", F.array(*code_cols))


def _with_residual(index: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, vec, cell, res) where res = vec - centroid[cell] — classic
    IVF-PQ encodes the RESIDUAL, not the raw vector: within a cell the
    residuals are centered near zero, so the same codebook budget spends
    its resolution on the differences that actually rank neighbors
    (raw-vector PQ at small m x k is too coarse to order a cell)."""
    return index.join(F.broadcast(centroids), "cell").withColumn(
        "res", F.zip_with("vec", "centroid", lambda x, y: x - y)
    )


def add_pq_to_ivf_index(
    spark,
    path: str,
    m: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    train_sample: "int | None" = None,
    compact_cells: bool = True,
    arrow_encode: bool = False,
) -> dict:
    """Extend a :func:`build_ivf_index` layout with PQ artifacts — the
    compression half of IVF-PQ: ``pq_codebooks`` (m x k_codes tiny
    quantizer table) and ``pq_codes`` (id, codes) partitioned by cell.

    The point at 100 TB: a probe's first pass reads CODES (m small ints
    per vector) instead of vectors (dim doubles) — a 32-64x I/O reduction
    on the probed cells — and reads full vectors only for the ``rerank``
    shortlist.  Codes quantize the RESIDUAL vec - centroid[cell]
    (:func:`_with_residual`), the classic IVF-PQ construction.  Returns
    ``{m, k_codes, n_encoded}``."""
    from pyspark.sql import Observation

    root = _resolve_index_root(path)
    index = spark.read.parquet(f"{root}/index")
    centroids = spark.read.parquet(f"{root}/centroids")
    resid = _with_residual(index, centroids)
    books = train_pq_codebooks(resid, m=m, k_codes=k_codes, seed=seed,
                               vec_col="res", train_sample=train_sample)
    rows = [
        (s, c, books[s][c]) for s in range(m) for c in range(len(books[s]))
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{root}/pq_codebooks")
    obs = Observation("pq_encode")
    # metadata stored at build time rides into pq_codes too, so a filtered
    # probe prunes candidates at the CODES scan — before any ADC math
    meta = [c for c in index.columns if c not in ("id", "vec", "cell")]
    encoded = _encode_pq(resid, books, vec_col="res", arrow=arrow_encode).select(
        "id", *meta, "codes", "cell"
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    if compact_cells:
        encoded = encoded.repartition("cell")  # one file per cell (see build)
    encoded.write.mode("overwrite").partitionBy("cell").parquet(f"{root}/pq_codes")
    return {"m": m, "k_codes": k_codes, "n_encoded": int(obs.get["n"])}


def _load_codebooks(spark, root: str) -> list[list[list[float]]]:
    rows = spark.read.parquet(f"{root}/pq_codebooks").collect()  # m x k tiny
    m = 1 + max(r.subspace for r in rows)
    books: list[dict] = [dict() for _ in range(m)]
    for r in rows:
        books[r.subspace][r.code] = list(r.centroid)
    return [[b[c] for c in sorted(b)] for b in books]


def probe_ivf_pq(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_recall: float | None = None,
    predicate: str | None = None,
    arrow_scoring: bool = False,
    collect_cells: bool = False,
) -> DataFrame:
    """Two-stage IVF-PQ probe — the memory-bounded 100 TB ANN posture.

    **Check :func:`recommend_probe_path` before choosing this over
    :func:`probe_ivf_index`** — each path wins a measured tier (r12,
    pq_cutover.json, identical recall@10=1.0 on both): at dim 64 the
    plain probe is 1.19x faster (ADC's lookup saving cannot amortize its
    extra stage depth when per-candidate scoring is cheap); at dim 512
    the ADC probe is 1.49x faster (the plain probe pays a dim-length
    decode+score per probed candidate, ADC pays m lookups).  The
    crossover is :data:`PQ_CUTOVER_DIM`; cold-storage probed-bytes is
    the second trigger (:data:`PQ_CUTOVER_PROBED_BYTES`).  Stages:

    1. **Coarse**: nearest ``n_probes`` cells per query against the
       broadcast centroid table (identical to :func:`probe_ivf_index`).
    2. **ADC scan**: over the probed cells' ``pq_codes`` ONLY (codes +
       id — no vector bytes), each query's asymmetric-distance lookup
       table (per-subspace squared distance from the query subvector to
       every codebook center, inlined as literals) scores every candidate as
       a sum of m array lookups; the best ``rerank`` per query survive.
    3. **Exact rerank**: only the shortlist's full vectors are read
       (cell+id join against the partitioned index) and scored with the
       exact round-6 cosine; output schema and tie order match
       :func:`probe_ivf_index` exactly — (qid, neighbor_id, cosine_sim,
       rank).

    With ``rerank`` >= probed-cell occupancy this degrades gracefully to
    exactly :func:`probe_ivf_index`'s answer; recall@k against brute
    force is bounded by the same probed-cell set, so the PQ stage costs
    recall only when ``rerank`` truncates a true neighbor out of the
    shortlist — the standard IVF-PQ trade.

    ``target_recall=`` resolves ``rerank`` FROM the calibrated curve
    (:func:`calibrate_pq_recall` must have run for this (k, n_probes)) —
    the smallest measured budget meeting the target — instead of the
    caller guessing; the explicit ``rerank`` value is then ignored.

    ``predicate`` (FILTERED ANN) restricts candidates by metadata columns
    stored at build time: the filter sits directly on the pq_codes scan,
    pushed into the parquet reader of the probed cells, so non-qualifying
    candidates never enter the ADC stage and the rerank budget is spent
    entirely on qualifying vectors (pre-filtering, not post-filtering —
    top-k is never starved by the predicate).  Note ``target_recall``'s
    curve is calibrated UNFILTERED: with a predicate the same budget
    covers a thinner candidate pool, so the resolved rerank is
    conservative (recall at least the curve's point) — re-calibrate per
    predicate family only if the over-read cost matters."""
    if target_recall is not None:
        rerank = resolve_rerank_budget(
            spark, path, target_recall, k=k, n_probes=n_probes
        )
    root = _resolve_index_root(path)
    books = _load_codebooks(spark, root)
    m = len(books)
    subdim = len(books[0][0])
    centroids = spark.read.parquet(f"{root}/centroids")
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    probes = _nearest_cells(q, centroids, n_probes, keep_centroid=True)
    if collect_cells:
        # static pruning (see probe_ivf_index): bounded driver-side probe
        # resolution for online batches.  Resolved BEFORE the ADC lookup
        # tables are attached — the cell set needs only the coarse plan,
        # and dragging the m x k_codes LUT expression trees through the
        # resolve job's analysis was measured at 3x the plain-IVF resolve
        # (r11 verdict #1: 7.45 s vs 1.65 s at 2M vectors).  r13: the
        # resolved assignment is re-issued as a LITERAL frame (guide §2.4)
        # so the per-execution coarse crossJoin+window subtree — and its
        # Exchange — vanishes from the executed plan; values round-trip
        # bit-exactly, parity-pinned in tests/test_ops.py.
        rows = probes.collect()  # bounded: n_queries x n_probes rows
        wanted = sorted({r.cell for r in rows})
        probes = spark.createDataFrame(rows, probes.schema)
    # per-(query, cell) ADC lookup tables over the query RESIDUAL
    # qv - centroid[cell] (codes quantize residuals), computed on
    # qids x n_probes rows.  Arrow path: ONE numpy UDF column — the
    # literal-expression LUT (m x k_codes x subdim Column objects) costs
    # seconds of py4j + analysis at construction time and scales with
    # dim (r12 pq_cutover: 7.3 s at 64-dim, 11.2 s at 512-dim), so the
    # serving path must not pay it.  Expression path kept for the
    # UDF-free twin (same values; parity-tested at an untruncating
    # rerank budget).
    if arrow_scoring:
        probes = probes.select(
            "qid", "qv", "cell",
            _lut_arrow_udf(books)(F.col("qv"), F.col("centroid")).alias(
                "__lut_flat"
            ),
        )
    else:
        qres = F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: x - y)
        lut_cols = [
            F.array(
                *[_sqd_lit(F.slice(qres, s * subdim + 1, subdim), c) for c in centers]
            ).alias(f"__lut{s}")
            for s, centers in enumerate(books)
        ]
        probes = probes.select("qid", "qv", "cell", *lut_cols)

    codes = spark.read.parquet(f"{root}/pq_codes")
    if collect_cells:
        codes = codes.filter(F.col("cell").isin(wanted))
    if predicate:
        codes = codes.filter(predicate)  # pushed into the codes scan, pre-ADC
    if arrow_scoring:
        # the ADC sum is the hot loop of IVF-PQ serving (every probed-cell
        # candidate pays m lookups); one Arrow batch gathers the same
        # lookups at memory bandwidth.  Same arithmetic (sum of m
        # doubles), same (adc_d2, id) shortlist order — parity-tested at
        # 2M vectors.
        adc = _adc_arrow_udf(m)(F.col("codes"), F.col("__lut_flat"))
    else:
        adc = None
        for s in range(m):
            term = F.element_at(
                F.col(f"__lut{s}"), F.element_at(F.col("codes"), s + 1) + 1
            )
            adc = term if adc is None else adc + term
    w_short = Window.partitionBy("qid").orderBy(F.asc("adc_d2"), F.asc("id"))
    shortlist = (
        codes.join(F.broadcast(probes), "cell")
        .filter(F.col("id") != F.col("qid"))
        .select("qid", "qv", "cell", "id", adc.alias("adc_d2"))
        .withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= rerank)
        .select("qid", "qv", "cell", "id")
    )

    index = spark.read.parquet(f"{root}/index")
    if collect_cells:
        index = index.filter(F.col("cell").isin(wanted))
    rr_score = (
        F.round(_cosine_arrow_udf()(F.col("vec"), F.col("qv")), 6)
        if arrow_scoring
        else F.round(cosine(F.col("vec"), F.col("qv")), 6)
    )
    sims = (
        index.join(F.broadcast(shortlist), ["cell", "id"])
        .select("qid", F.col("id").alias("neighbor_id"), rr_score.alias("cosine_sim"))
        .dropDuplicates(["qid", "neighbor_id"])
    )
    return _topk(sims, k)


def calibrate_pq_recall(
    spark,
    path: str,
    k: int = 10,
    n_probes: int = 2,
    budgets: list[int] | None = None,
    sample: int = 32,
) -> list[dict]:
    """Measure the recall-vs-rerank curve of an IVF-PQ index and store it
    IN the index (r8 verdict #6) — so serving can resolve a rerank budget
    from a recall target instead of a guess.

    Ground truth is :func:`probe_ivf_index` at the same ``n_probes`` —
    the ADC shortlist's truncation is the ONLY loss the PQ stage adds on
    top of the probed-cell bound, so this curve isolates exactly the knob
    ``rerank`` controls.  Queries are the ``sample`` smallest-id corpus
    vectors (deterministic, no RNG); each budget in ``budgets`` (default
    k, 2k, 4k, 8k) runs one two-stage probe and scores micro-averaged
    recall@k.  The curve lands as ``pq_recall_curve`` parquet beside the
    codebooks: rows ``(k, n_probes, rerank, recall, n_queries)``.

    Build-time priced: len(budgets) probes over ``sample`` queries —
    amortized over every later ``probe_ivf_pq(target_recall=)`` call.
    Returns the curve rows."""
    root = _resolve_index_root(path)
    import os as _os

    if not _os.path.isdir(f"{root}/pq_codes"):
        raise ValueError(
            f"calibrate_pq_recall: no PQ artifacts at {path!r} — run "
            "add_pq_to_ivf_index first"
        )
    if budgets is None:
        budgets = [k, 2 * k, 4 * k, 8 * k]
    budgets = sorted(set(int(b) for b in budgets))
    index = spark.read.parquet(f"{root}/index")
    queries = (
        index.orderBy(F.asc("id"))
        .limit(sample)
        .select(F.col("id").alias("vec_id"), F.col("vec").alias("embedding"))
    )
    truth: dict = {}
    for r in probe_ivf_index(
        spark, path, queries, k=k, n_probes=n_probes
    ).collect():  # k x sample bounded
        truth.setdefault(r.qid, set()).add(r.neighbor_id)
    n_truth = sum(len(v) for v in truth.values())
    # index size at calibration: appends shift cell occupancy, and a
    # curve measured on a much smaller corpus over-promises recall —
    # resolve_rerank_budget gates on the drift
    n_index = spark.read.parquet(f"{root}/pq_codes").count()
    rows = []
    for budget in budgets:
        got = probe_ivf_pq(
            spark, path, queries, k=k, n_probes=n_probes, rerank=budget
        ).collect()
        hit = sum(1 for r in got if r.neighbor_id in truth.get(r.qid, ()))
        rows.append(
            {
                "k": k,
                "n_probes": n_probes,
                "rerank": budget,
                "recall": round(hit / n_truth, 6) if n_truth else 1.0,
                "n_queries": len(truth),
                "n_index": n_index,
            }
        )
    # merge with any previously calibrated configurations: the curve dir
    # holds one row set per (k, n_probes) — recalibrating THIS config
    # replaces only its own rows (r9 review: a plain overwrite silently
    # discarded every other configuration's curve)
    curve_dir = f"{root}/pq_recall_curve"
    kept: list[tuple] = []
    if _os.path.isdir(curve_dir):
        old = spark.read.parquet(curve_dir)
        has_n = "n_index" in old.columns  # pre-gate curves carry no size
        kept = [
            (r.k, r.n_probes, r.rerank, r.recall, r.n_queries,
             int(r.n_index) if has_n else -1)
            for r in old.collect()  # KB-class
            if not (r.k == k and r.n_probes == n_probes)
        ]
    fresh = [
        (r["k"], r["n_probes"], r["rerank"], r["recall"], r["n_queries"],
         r["n_index"])
        for r in rows
    ]
    spark.createDataFrame(
        kept + fresh,
        "k int, n_probes int, rerank int, recall double, n_queries int, "
        "n_index long",
    ).coalesce(1).write.mode("overwrite").parquet(curve_dir)
    return rows


#: Index growth/shrink beyond this share of the calibrated size refuses
#: budget resolution — cell occupancy (what rerank truncates against)
#: has drifted from what the curve measured.
_CURVE_DRIFT_FRACTION = 0.25


def resolve_rerank_budget(
    spark, path: str, target_recall: float, k: int = 10, n_probes: int = 2
) -> int:
    """Smallest calibrated rerank budget whose measured recall meets
    ``target_recall`` — the curve lookup behind
    ``probe_ivf_pq(target_recall=)``.  Hard-gated like the stats
    planners: a missing curve, a curve calibrated for different
    (k, n_probes), or an unreachable target all raise with remediation —
    never a silent guess."""
    root = _resolve_index_root(path)
    import os as _os

    if not _os.path.isdir(f"{root}/pq_recall_curve"):
        raise ValueError(
            f"resolve_rerank_budget: no recall curve at {path!r} — run "
            "calibrate_pq_recall first"
        )
    rows = [
        r
        for r in spark.read.parquet(f"{root}/pq_recall_curve").collect()
        if r.k == k and r.n_probes == n_probes
    ]
    if not rows:
        raise ValueError(
            f"resolve_rerank_budget: curve was not calibrated for k={k}, "
            f"n_probes={n_probes} — re-run calibrate_pq_recall with the "
            "serving parameters"
        )
    cal_n = getattr(rows[0], "n_index", -1)
    if cal_n and cal_n > 0:
        # freshness gate: the curve was measured at a specific corpus
        # size; appends shift cell occupancy, so a drifted index serves
        # a recall the curve never measured — refuse, never over-promise
        cur_n = spark.read.parquet(f"{root}/pq_codes").count()
        if abs(cur_n - cal_n) / cal_n > _CURVE_DRIFT_FRACTION:
            raise ValueError(
                f"resolve_rerank_budget: the recall curve was calibrated "
                f"at {cal_n} vectors but the index now holds {cur_n} "
                f"(> {_CURVE_DRIFT_FRACTION:.0%} drift) — re-run "
                "calibrate_pq_recall so the resolved budget reflects the "
                "corpus being served"
            )
    eligible = [r.rerank for r in rows if r.recall >= target_recall]
    if not eligible:
        best = max(rows, key=lambda r: (r.recall, -r.rerank))
        raise ValueError(
            f"resolve_rerank_budget: target recall {target_recall} is not "
            f"reachable on the calibrated curve (best measured "
            f"{best.recall} at rerank={best.rerank}) — raise n_probes, "
            "extend the calibration budgets, or lower the target"
        )
    return min(eligible)


#: Measured IVF-vs-IVF-PQ cutover (r11 verdict #1; committed evidence in
#: pq_cutover.json, 1M vectors, n_lists=256, n_probes=4, m=8, recall@10
#: identical 1.0 on both paths at both tiers):
#:
#:   dim  64:  ivf 1.65 s  <  ivf_pq 1.96 s   (plain IVF 1.19x faster)
#:   dim 512:  ivf 2.64 s  >  ivf_pq 1.77 s   (IVF-PQ    1.49x faster)
#:
#: The discriminator is PER-CANDIDATE work: the plain probe decodes and
#: scores a dim-length vector per probed candidate (cost ~ dim), the ADC
#: first pass pays m table lookups per candidate regardless of dim, and
#: the exact rerank touches only the shortlist.  The crossover therefore
#: sits between dim 64 and dim 512 at these settings; 256 is the
#: conservative default (IVF's loss near the bracket is the milder one).
#: Probed raw BYTES per query remain a second, independent trigger for
#: cold/remote storage, where the 8-32x smaller codes scan dodges real
#: I/O even at low dim.
PQ_CUTOVER_DIM = 256
PQ_CUTOVER_PROBED_BYTES = 256 * 1024 * 1024


def recommend_probe_path(
    spark,
    path: str,
    n_probes: int = 2,
    cutover_dim: int = PQ_CUTOVER_DIM,
    cutover_bytes: int = PQ_CUTOVER_PROBED_BYTES,
) -> dict:
    """Which probe should serve this index: ``probe_ivf_index`` or
    ``probe_ivf_pq``?  The advisor that makes the dominated choice
    impossible to pick by accident (r11 verdict #1).

    Reads the persisted layout only (centroid table + file sizes — no
    corpus scan).  Recommends ``ivf_pq`` ONLY when the index carries PQ
    codes AND either measured trigger fires: vector dimension >=
    ``cutover_dim`` (the per-candidate-arithmetic crossover —
    pq_cutover.json: plain IVF 1.19x faster at dim 64, IVF-PQ 1.49x
    faster at dim 512, same recall) or probed raw bytes per query
    (raw index bytes x n_probes / n_lists) > ``cutover_bytes`` (the
    cold-storage I/O trigger).  Otherwise ``ivf``, with the measurement
    that justifies the refusal in ``reason``."""
    import os as _os

    root = _resolve_index_root(path)

    def _bytes(sub: str) -> int:
        total = 0
        for dirpath, _dirs, files in _os.walk(_os.path.join(root, sub)):
            total += sum(
                _os.path.getsize(_os.path.join(dirpath, f))
                for f in files
                if not f.startswith(("_", "."))
            )
        return total

    raw = _bytes("index")
    codes = _bytes("pq_codes")
    cent = spark.read.parquet(f"{root}/centroids")
    n_lists = cent.count()
    dim = len(cent.limit(1).collect()[0]["centroid"])
    probed = int(raw * n_probes / max(n_lists, 1))
    if codes and dim >= cutover_dim:
        rec, reason = "ivf_pq", (
            f"dim {dim} >= the measured {cutover_dim} crossover: the plain "
            "probe pays a dim-length decode+score per probed candidate while "
            "ADC pays m lookups — measured 1.49x faster at dim 512, same "
            "recall (pq_cutover.json)"
        )
    elif codes and probed > cutover_bytes:
        rec, reason = "ivf_pq", (
            f"probed raw bytes/query ~{probed >> 20} MB exceed the "
            f"{cutover_bytes >> 20} MB I/O cutover: the codes-only first "
            f"pass ({codes / max(raw, 1):.0%} of raw bytes) dodges a scan "
            "that is plausibly the wall on cold/remote storage"
        )
    else:
        rec, reason = "ivf", (
            f"dim {dim} < {cutover_dim} and probed raw bytes/query "
            f"~{max(probed >> 10, 1)} KB under the I/O cutover — measured "
            "(pq_cutover.json): plain IVF beat the PQ/ADC probe 1.19x at "
            "dim 64, same recall; ADC's lookup saving cannot amortize its "
            "extra stage depth at low per-candidate cost"
            + ("" if codes else " (index also carries no pq_codes)")
        )
    return {
        "recommendation": rec,
        "reason": reason,
        "dim": dim,
        "raw_index_bytes": raw,
        "pq_code_bytes": codes,
        "n_lists": n_lists,
        "n_probes": n_probes,
        "probed_raw_bytes_per_query": probed,
        "cutover_dim": cutover_dim,
        "cutover_bytes": cutover_bytes,
    }
