"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (SURVEY §2.9).

Scale design (the 100 TB mandate): every stage is a shuffle-based
groupBy/join — no driver-side state, no collect, no cross product.  The LSH
candidate generation bounds the pairwise work to documents sharing a band
bucket; signatures are built from JVM md5 expressions, not Python UDFs.

One hash family: the MinHash signature, its bands and the SimHash all hash
with md5, which DuckDB computes to the same hex string, so every near-dup
query runs exactly the signature its oracle replays.  md5 signatures cost
~3x an xxhash64 one; at corpus-scale candidate counts the exact verify
dominates the chain (SCALING.md, "Known limits", has the measurement).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_HASHES = 8
DEFAULT_ROWS_PER_BAND = 2


# ---------------------------------------------------------------- exact ----
def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact deduplication — hash-aggregate distinct on the given columns
    (all columns when None).  One shuffle, map-side partial dedup first."""
    return df.dropDuplicates(cols)


def exact_dedup_keep_first(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Exact dedup keeping the lowest ``order_col`` row per key — the
    deterministic variant (dropDuplicates keeps an arbitrary row)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# -------------------------------------------------------------- minhash ----
def _shingles_frame(
    df: DataFrame, text_col: str, shingle_len: int, out_col: str
) -> DataFrame:
    """``df`` plus ``out_col``: the distinct word ``shingle_len``-gram
    shingles of ``text_col`` as an array.  ``shingle_len=1`` degrades to
    the distinct-token set (what the oracle SQL mirrors).

    Docs shorter than ``shingle_len`` tokens yield an EMPTY array: without
    the guard, F.sequence(0, size-n) would produce a DESCENDING index list
    for size<n and F.slice would throw on start=0 at runtime (the oracle's
    range(1, ...) is simply empty for short docs).

    For ``shingle_len >= 2`` the token array is STAGED as its own projected
    column (r13, the q139 winnowing lesson): the gram transform slices the
    tokens once PER ELEMENT, and a Column-shaped ``toks`` is a full
    ``split()`` re-evaluated at every lambda reference — higher-order
    lambdas get no codegen subexpression elimination, so the unstaged
    form costs O(tokens^2) splits per row.  A staged attribute costs one
    split per row (Catalyst's CollapseProject keeps multi-referenced
    non-cheap aliases staged)."""
    if shingle_len == 1:
        return df.withColumn(out_col, F.array_distinct(F.split(F.lower(text_col), r"\s+")))
    toks = F.col("__shingle_toks")
    idx = F.sequence(F.lit(0), F.size(toks) - shingle_len)
    grams = F.when(
        F.size(toks) >= shingle_len,
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, shingle_len), " "))
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.withColumn("__shingle_toks", F.split(F.lower(text_col), r"\s+"))
        .withColumn(out_col, grams)
        .drop("__shingle_toks")
    )


def minhash_signature_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_len: int = 1,
) -> DataFrame:
    """MinHash, wide form: one array<string> signature per row, element
    ``seed`` = min over word ``shingle_len``-gram shingles of
    md5(seed || '|' || shingle).  DuckDB computes the identical hex
    strings, so every stage downstream is oracle-diffable.

    Computed as a per-row array fold (array_min over the hashed shingle
    array, once per seed) — ZERO shuffle, pure projection.  The shingle
    set is STAGED as its own column (r13): a Column-shaped set would be
    re-inlined into every per-seed transform, re-running the tokenize
    ``num_hashes`` times per row."""
    staged = _shingles_frame(df, text_col, shingle_len, "__mh_toks")
    toks = F.col("__mh_toks")

    def seed_min(seed: int) -> Column:
        # NB: single-arg lambda only — F.transform treats a 2-arg lambda as
        # (element, index), which would shadow a default-bound seed.
        prefix = f"{seed}|"
        return F.array_min(F.transform(toks, lambda s: F.md5(F.concat(F.lit(prefix), s))))

    sig = F.array(*[seed_min(seed) for seed in range(num_hashes)])
    return staged.select(F.col(id_col), sig.alias("signature"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Long-form (id, seed, minhash) view of :func:`minhash_signature_wide`
    — flat-relational and oracle-diffable; fan-out is num_hashes rows/doc."""
    wide = minhash_signature_wide(df, id_col, text_col, num_hashes)
    return wide.select(
        F.col(id_col), F.posexplode("signature").alias("seed", "minhash")
    ).withColumn("seed", F.col("seed").cast("int"))


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    shingle_len: int = 1,
) -> DataFrame:
    """(id, band_id, band_key) from the md5 signature, banded PER ROW —
    band_key = md5(comma-joined band slice).  Zero shuffle: signature and
    banding are both projections; downstream grouping is the first exchange.
    Documents agreeing on any full band land in the same bucket.  Matches
    the oracle's md5(string_agg(minhash, ',' ORDER BY seed))."""
    wide = minhash_signature_wide(df, id_col, text_col, num_hashes, shingle_len)
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("signature", b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(num_hashes // rows_per_band)
        ]
    )
    return wide.select(
        F.col(id_col), F.posexplode(band_keys).alias("band_id", "band_key")
    ).withColumn("band_id", F.col("band_id").cast("int"))


def lsh_candidate_pairs(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Bucket self-join -> distinct candidate pairs (a < b).  The join key is
    (band_id, band_key), so work is bounded by bucket sizes, never the corpus
    cross product.

    Degenerate-corpus guard (round-1 verdict item #7, SCALING.md): a bucket
    of identical boilerplate text makes the self-join quadratic in that one
    bucket — 1M copies of the same page is 5x10^11 pairs.  Buckets larger
    than ``max_bucket_size`` are diverted to a STAR expansion instead: each
    member pairs with the bucket's minimum id only, O(size) edges.  Under
    the downstream jaccard verify + connected-components closure this is
    lossless for the oversized bucket itself (every true duplicate still
    reaches the min through one verified edge and the closure merges them);
    what it forgoes is the quadratic edge redundancy nobody needs.  The
    bucket census rides one window count over the SAME (band_id, band_key)
    hash partitioning the join needs anyway, so upstream signatures compute
    once and the guard adds no extra scan of the corpus."""
    from pyspark.sql.window import Window

    wb = Window.partitionBy("band_id", "band_key")
    sized = bands.withColumn("__bsz", F.count(F.lit(1)).over(wb))

    small = sized.filter(F.col("__bsz") <= max_bucket_size).drop("__bsz")
    left = small.select(F.col(id_col).alias("a"), "band_id", "band_key")
    right = small.select(F.col(id_col).alias("b"), "band_id", "band_key")
    pairs = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )

    big_star = (
        sized.filter(F.col("__bsz") > max_bucket_size)
        .withColumn("__mn", F.min(id_col).over(wb))
        .filter(F.col(id_col) > F.col("__mn"))
        .select(F.col("__mn").alias("a"), F.col(id_col).alias("b"))
    )
    # Hash-repartition by (a, b) to the session's parallelism BEFORE the
    # dedup (r13, guide §2.2/§2.5): the candidate multiset can be orders of
    # magnitude larger than its inputs (9.9M pairs from 5k docs at sf0.1),
    # and the per-pair verify compute downstream runs in the SAME stage as
    # this dedup's reduce side — sizing that stage by
    # spark.sql.shuffle.partitions (tuned to post-shuffle *bytes* of the
    # small exchanges) starves it of cores.  HashPartitioning(a, b)
    # satisfies the distinct's clustering requirement, so this REPLACES the
    # distinct's own exchange rather than adding one (plan-asserted in
    # tests), and map-side partial dedup was a no-op here anyway: copies of
    # a pair come from different band partitions.
    sc = bands.sparkSession.sparkContext
    return (
        pairs.unionAll(big_star)
        .repartition(sc.defaultParallelism, "a", "b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    threshold: float = 0.8,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs; keeps pairs with
    similarity >= threshold, plus any ``keep_cols`` carried through from
    ``pairs`` (so callers that need pair metadata downstream don't re-join
    — and re-compute — the whole candidate subtree).

    Per-pair cost shape (r13, measured on the q140 profile: 9.9M candidate
    pairs at sf0.1, guide §1.2/§2.3):
    - ``|A∪B| = |A| + |B| − |A∩B|`` — the shingle arrays are DISTINCT by
      construction, so the per-pair ``array_union`` (a second full hash-set
      pass that also materializes the merged array) is replaced by two
      O(1) length reads; ``array_intersect`` is the only per-pair set op.
      Same integers, bit-identical division.
    - For ``threshold <= 0`` the filter only has to drop the undefined 0/0
      case, which is exactly ``|A| + |B| = 0`` (inter/union >= 0 whenever
      defined, and NULL is dropped by ``>=`` either way) — so the pushed-
      down join condition no longer duplicates the intersect (the q140
      before-plan evaluated intersect AND union once in the join condition
      and AGAIN in the output projection).  Selective thresholds keep the
      intersect in the condition; survivors re-evaluate it once in the
      projection — paid only on matches.
    - Shingles are built via :func:`_shingles_frame`: linear in tokens per
      row, not O(tokens^2).
    """
    sa = _shingles_frame(
        df.select(F.col(id_col).alias("a"), F.col(text_col)), text_col, shingle_len, "sh_a"
    ).select("a", "sh_a")
    sb = _shingles_frame(
        df.select(F.col(id_col).alias("b"), F.col(text_col)), text_col, shingle_len, "sh_b"
    ).select("b", "sh_b")
    joined = pairs.join(sa, "a").join(sb, "b")
    n_a, n_b = F.size("sh_a"), F.size("sh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # NULL-text parity: under size(NULL) = -1 (ansi off), the direct form
    # yielded -1/-1 = 1.0 for any pair with a NULL side — preserved below
    # (inter < 0 iff either shingle array is NULL).  The NULL guard lives
    # in the FILTER, not in a when() around the jaccard: codegen
    # subexpression elimination does not reach inside conditional branches,
    # so a branched jaccard re-evaluated the intersect 3x per pair
    # (measured: q241 6.0 s -> 18.5 s).
    null_side = (n_a < 0) | (n_b < 0)
    if threshold <= 0.0:
        # j >= t<=0 keeps everything except the undefined 0/0 (both sides
        # empty AND non-NULL) — expressible in length reads alone, so the
        # pushed-down join condition carries no array_intersect at all
        cond = null_side | ((n_a + n_b) > 0)
    else:
        # the division term is garbage when a side is NULL, but the OR is
        # already true there (1.0 >= t for every real threshold <= 1);
        # inter appears twice in one non-branching tree — CSE folds it
        cond = null_side | (
            inter.cast("double") / ((n_a + n_b) - inter).cast("double") >= threshold
        )
    # stage the intersect as its own column so the survivors' projection
    # computes it ONCE (CollapseProject keeps multi-referenced non-cheap
    # aliases staged); the when() below touches only the staged attribute
    st = F.col("__inter")
    return (
        joined.filter(cond)
        .withColumn("__inter", inter)
        .select(
            "a",
            "b",
            *keep_cols,
            F.when(st < 0, F.lit(1.0))
            .otherwise(st.cast("double") / ((n_a + n_b) - st).cast("double"))
            .alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    rows_per_band: int = 2,
    shingle_len: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: md5 bands -> candidate pairs ->
    exact Jaccard verify over the same ``shingle_len``-gram sets.
    End-to-end shuffle-based; the only super-linear step is bounded by LSH
    bucket sizes.  Every stage is what the oracle SQL replays, so even the
    LSH false negatives agree across engines."""
    bands = minhash_bands(df, id_col, text_col, num_hashes, rows_per_band, shingle_len)
    cands = lsh_candidate_pairs(bands, id_col)
    return jaccard_verify(cands, df, id_col, text_col, shingle_len, threshold)


# -------------------------------------------------------------- simhash ----
def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    shingle_len: int = 3,
) -> DataFrame:
    """SimHash over word ``shingle_len``-gram shingles: per-shingle hash =
    first 15 hex chars of md5 parsed as a 60-bit integer (Spark
    conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT), signed bit-vote per
    position, packed to BIGINT — oracle-diffable bit for bit.

    Shape: one hashed-shingle array per doc, a bounded ``bits``-row bit
    fan-out (explode of bit positions — NOT per token), per-bit vote as a
    SQL higher-order fold, then one groupBy(id) to pack.  Shuffle volume
    is ``bits`` rows/doc regardless of document size."""
    if bits > 60:
        raise ValueError("simhash caps at 60 bits (15 hex chars)")
    staged = _shingles_frame(df, text_col, shingle_len, "__sh")
    hashed = staged.select(
        F.col(id_col),
        F.transform(
            F.col("__sh"),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        ).alias("hashes"),
    )
    bit_rows = hashed.select(
        F.col(id_col), "hashes", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b")
    )
    vote = F.expr(
        "aggregate(hashes, CAST(0 AS BIGINT), (acc, h) -> acc + "
        "(CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END))"
    )
    return (
        bit_rows.select(F.col(id_col), F.col("b"), vote.alias("v"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b) "
                    "ELSE CAST(0 AS BIGINT) END"
                )
            ).alias("simhash")
        )
    )


def simhash_jaccard_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_len: int = 3,
    threshold: float = 0.5,
    bits: int = 60,
) -> DataFrame:
    """SimHash-blocked exact n-gram Jaccard: the pipeline brief's n-gram
    Jaccard dedup family, oracle-diffable end to end.

    Stages: simhash (bounded bits-per-doc fan-out) -> pigeonhole
    blocking on 15-bit chunks (any pair within Hamming distance
    <= bits/15 - 1 shares at least one chunk) -> exact Hamming filter via
    bit_count(xor) -> exact word-``shingle_len``-gram Jaccard on the
    surviving candidates only.  Pairwise work is bounded by chunk-bucket
    occupancy; the Jaccard join touches candidates, never the corpus cross
    product."""
    n_chunks = bits // 15
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"pigeonhole blocking over {n_chunks} chunks only guarantees "
            f"hamming <= {n_chunks - 1}"
        )
    sh = simhash(df, id_col, text_col, bits=bits, shingle_len=shingle_len)
    chunks = sh.select(
        id_col,
        "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(n_chunks)])).alias("chunk_id"),
    ).withColumn("chunk", F.expr("shiftrightunsigned(simhash, chunk_id * 15) & 32767"))
    left = chunks.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("sim_a"), "chunk_id", "chunk"
    )
    right = chunks.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("sim_b"), "chunk_id", "chunk"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    cands = (
        left.join(right, ["chunk_id", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # carry hamming THROUGH the verify (r13): the old `verified.join(cands)`
    # re-referenced the cands frame, and Spark re-computes a re-referenced
    # DataFrame subtree — the whole simhash+blocking pipeline ran twice
    verified = jaccard_verify(
        cands, df, id_col, text_col, shingle_len, threshold, keep_cols=("hamming",)
    )
    return verified.select("a", "b", "hamming", "jaccard")


# ------------------------------------------------- embedding near-dup ------
def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = None,
    *,
    num_planes: int = 16,
    lsh_seed: int = 42,
    dim: int = 64,
    unblocked: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs over a blocking key.

    The DEFAULT derives a sign-LSH bucket internally
    (simsearch.random_hyperplane_lsh: ``num_planes`` seeded hyperplanes,
    sign bits packed into one BIGINT) and equi-joins on it — candidate
    work is bounded by bucket populations, never the corpus cross product.
    Round-1 verdict item #6: the old default was a crossJoin, and defaults
    are what users run at 3 a.m.  Pass ``block_col`` to block on an
    existing column instead (e.g. a coarse cluster id), or
    ``unblocked=True`` to opt into exact full-pairwise semantics —
    test-scale only, it plans a cartesian product.

    Blocking trades recall for scale the standard sign-LSH way: a pair at
    angle theta survives all k planes with probability (1-theta/pi)^k, so
    pick ``num_planes`` against your threshold (high thresholds tolerate
    many planes; loose ones need few or multiprobe)."""
    from bigquack_spark.operators.simsearch import cosine_pairs, random_hyperplane_lsh

    if block_col is None and not unblocked:
        df = random_hyperplane_lsh(
            df, vec_col, num_planes=num_planes, seed=lsh_seed, dim=dim,
            bucket_col="__emb_block",
        )
        block_col = "__emb_block"
    return (
        cosine_pairs(df, id_col, vec_col, block_col)
        .filter((F.col("a") < F.col("b")) & (F.col("cos") >= threshold))
        .select("a", "b", F.col("cos").alias("cosine_sim"))
    )


# ------------------------------------------------ dedup clustering ----------


#: Round cap for :func:`connected_components`.  Large-star/small-star
#: contracts any topology in O(log n) rounds; running out raises instead of
#: returning split components.
CC_MAX_ROUNDS = 20


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components over an undirected ``(a, b)`` pair graph -> the
    transitive dedup closure: near-dup PAIRS become dedup GROUPS (if a~b
    and b~c then a,b,c collapse together even though a~c was never tested).

    Contract:

    - returns (node, cluster_id) for every node with a non-self-loop edge;
      a node whose only edge is a self-loop, or that has no edge, is not
      emitted (isolated docs are their own cluster by definition);
    - cluster_id is the component's minimum node id;
    - finishes in O(log n) rounds on any topology;
    - raises ``RuntimeError`` if it has not converged after
      :data:`CC_MAX_ROUNDS` rounds.

    Alternating large-star / small-star edge rewrites (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).  Label
    propagation needs ~diameter rounds — a 10M-link chain (adversarial crawl
    graph) needs 10M shuffles; the two-star rewrites contract paths
    aggressively:

    - **large-star**: per node u, attach every strictly-larger neighbor to
      u's smallest neighbor-or-self m(u);
    - **small-star**: orient edges downward (u>=v), attach u and all its
      smaller neighbors to the minimum.

    Both passes are one groupBy(min) + one join on the same key — two
    shuffles per round, partitioned identically, and the driver holds only
    a four-scalar convergence signature per round, never data.  The edge
    set only shrinks toward the star form (node -> component min), so the
    signature stalls exactly at the fixed point.
    """
    # Materialize the edge list ONCE: `edges` is usually the tip of an
    # expensive pipeline (LSH -> candidates -> verify); without the
    # checkpoint the whole upstream recomputes every round.
    e = (
        edges.select(F.col("a").cast("long").alias("u"), F.col("b").cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # Size loop parallelism to the graph, not the session: the rounds
    # reshuffle the same (small vs corpus) edge list, and per-task overhead
    # times rounds dominates under a corpus-tuned partition count.
    # ~1M edges/partition; the count is a driver scalar off the checkpoint.
    n_parts = max(4, min(2048, (e.count() // 1_000_000) + 1))

    def large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        o = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = o.groupBy("u").agg(F.min("v").alias("mn"))
        return (
            o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(mins.select(F.col("u"), F.col("mn").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_sig = None
    for _ in range(CC_MAX_ROUNDS):
        e = small_star(large_star(e)).repartition(n_parts, "u").localCheckpoint()
        # Order-independent edge-set signature: count, end sums, and a sum
        # of per-edge xxhash64 — the hash term kills the {(3,1),(4,2)} vs
        # {(4,1),(3,2)} class of sum collisions that count+sums alone admit.
        sig = tuple(
            e.agg(
                F.count(F.lit(1)), F.sum("u"), F.sum("v"), F.sum(F.xxhash64("u", "v"))
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # The final min-aggregate assumes a star-form edge set; on a
        # non-converged set it would silently split components.
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} "
            "rounds (O(log n) expected)"
        )
    # Converged edges form stars; each node's component is the min over its
    # partners and itself — one final bounded aggregate.
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("mn"))
        .select(
            "node",
            F.least(F.col("node"), F.col("mn")).alias("cluster_id"),
        )
    )


# ---------------------------------------------------- chunk-level dedup ----
def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Sub-document exact dedup: split each document into non-overlapping
    ``chunk_tokens``-token chunks, keep only the globally FIRST occurrence
    of each distinct chunk (ordered by (id, chunk position)), and report the
    per-document survival stats plus a fingerprint of the deduplicated
    text.  This is the paragraph-dedup pass of a Dolma/RefinedWeb-style
    pipeline (the corpus has no newline structure, so fixed token windows
    stand in for paragraphs) and the scalable approximation of
    suffix-array substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better") at stride == window.

    100 TB shape: the chunk explode is linear fan-out (~n_tokens/K rows per
    doc); the keep-first decision is ``groupBy(chunk_hash).agg(min(...))``
    — partial aggregation collapses each map partition's repeats BEFORE the
    shuffle, so a boilerplate chunk repeated a billion times contributes
    one row per partition, not a skewed reduce group (the window-function
    formulation would hot-spot; the aggregate one cannot).  The join back
    is on the 32-hex chunk hash, and reassembly is one shuffle on the doc
    id.  No driver state, no cross product.

    Returns one row per document: ``(id, n_chunks, n_kept, dedup_fingerprint)``
    where the fingerprint is md5 of the kept chunks joined in position
    order ('' when everything was dropped).
    """
    # token array STAGED as a column (r13, q139 lesson): a Column-shaped
    # `toks` inside the chunk lambda re-runs the split once per chunk
    toks = F.col("__ck_toks")
    starts = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(toks)), F.lit(chunk_tokens))
    chunks = F.transform(starts, lambda s: F.array_join(F.slice(toks, s, chunk_tokens), " "))
    ex = df.withColumn("__ck_toks", F.split(F.lower(text_col), r"\s+")).select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    hashed = ex.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.col("chunk"),
        F.md5("chunk").alias("__h"),
    )
    # Skew-safe keep-first: min(struct(id, pos)) per chunk hash.
    first = hashed.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("chunk_idx").alias("p"))).alias("__m")
    )
    flagged = hashed.join(first, "__h").withColumn(
        "__is_first",
        (F.col(id_col) == F.col("__m.i")) & (F.col("chunk_idx") == F.col("__m.p")),
    )
    kept_struct = F.when(
        F.col("__is_first"), F.struct(F.col("chunk_idx").alias("p"), F.col("chunk").alias("c"))
    )  # otherwise NULL -> collect_list drops it
    return (
        flagged.groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.col("__is_first").cast("bigint")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)), lambda s: s.getField("c")
                    ),
                    " ",
                )
            ).alias("dedup_fingerprint"),
        )
    )


# ------------------------------------------------------ incremental dedup ----
def incremental_dedup(
    incoming: DataFrame,
    history: DataFrame,
    id_col: str = "doc_id",
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Continuous-ingestion dedup: classify each ``incoming`` row against a
    historical corpus snapshot by content fingerprint.  Status per row:

    - ``dup_of_history`` — fingerprint already present in ``history``;
    - ``dup_in_batch``   — novel vs history, but another incoming row with
      a smaller id carries the same fingerprint;
    - ``novel``          — first sighting anywhere.

    The ``novel`` subset is what gets appended to the corpus, so repeated
    ingestion runs converge (idempotent pipeline).

    100 TB shape: ``history`` is reduced to DISTINCT fingerprints before
    the join (16-byte keys, not documents), the membership test is a LEFT
    SEMI-shaped join on that key (Spark injects a runtime bloom/IN filter
    under AQE so most history partitions never reach the probe), and the
    in-batch keep-first is the same partial-aggregating min-per-group as
    :func:`chunk_dedup` — no window hot-spot on a viral duplicate.
    """
    hist_keys = history.select(F.col(fingerprint_col)).distinct()
    batch_min = incoming.groupBy(fingerprint_col).agg(F.min(id_col).alias("__batch_min"))
    marked = (
        incoming.join(
            hist_keys.withColumn("__in_hist", F.lit(True)), fingerprint_col, "left"
        )
        .join(batch_min, fingerprint_col)
        .withColumn(
            "status",
            F.when(F.col("__in_hist"), F.lit("dup_of_history"))
            .when(F.col(id_col) == F.col("__batch_min"), F.lit("novel"))
            .otherwise(F.lit("dup_in_batch")),
        )
    )
    return marked.drop("__in_hist", "__batch_min")


def incremental_components(old_components: DataFrame, new_pairs: DataFrame) -> DataFrame:
    """Incremental connected components — graph IVM: fold a batch of NEW
    edges into an EXISTING clustering (``node``/``cluster_id``,
    component-minimum convention) without recomputing history.

    Contract-then-solve: each new edge's endpoints map to their current
    cluster label (identity for unseen nodes), CC runs on the CONTRACTED
    edge list — whose size is bounded by the new batch, not the
    accumulated graph — and the resulting label-of-label composes back
    over the old assignment.  Because labels are per-component MINIMUM
    ids, the contraction preserves the global min: the composed result
    is exactly what full CC over (old ∪ new) edges would produce, which
    is how the oracle checks it.  Daily cost at 100 TB: two keyed joins
    of the DELTA edges + CC over a delta-sized graph + one join to
    re-label touched history rows — never a full-graph walk."""
    labels = old_components.select(
        F.col("node").alias("__n"), F.col("cluster_id").alias("__l")
    )
    contracted = (
        new_pairs.select("a", "b")
        .join(labels.withColumnRenamed("__n", "a").withColumnRenamed("__l", "__la"), "a", "left")
        .join(labels.withColumnRenamed("__n", "b").withColumnRenamed("__l", "__lb"), "b", "left")
        .select(
            F.coalesce("__la", F.col("a")).alias("a"),
            F.coalesce("__lb", F.col("b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    cc2 = connected_components(contracted)  # label -> merged label (delta-sized)
    relabel = cc2.select(F.col("node").alias("__l"), F.col("cluster_id").alias("__l2"))
    # old nodes: compose old label through the merge map (identity if untouched)
    old_final = (
        old_components.join(relabel, old_components.cluster_id == relabel.__l, "left")
        .select("node", F.coalesce("__l2", "cluster_id").alias("cluster_id"))
    )
    # new nodes from the batch that never appeared in history
    new_nodes = (
        new_pairs.select(F.col("a").alias("node"))
        .unionAll(new_pairs.select(F.col("b").alias("node")))
        .distinct()
        .join(old_components.select("node"), "node", "left_anti")
    )
    new_final = (
        new_nodes.join(relabel, new_nodes.node == relabel.__l, "left")
        .select("node", F.coalesce("__l2", F.col("node")).alias("cluster_id"))
    )
    return old_final.unionByName(new_final)


def lsh_tune(
    threshold: float,
    num_hashes: int,
    candidate_rows: tuple[int, ...] = (1, 2, 4, 8),
) -> dict:
    """Pick (bands, rows_per_band) for a MinHash-LSH deployment targeting a
    Jaccard ``threshold``: for each feasible split of ``num_hashes``, the
    S-curve P(candidate | jaccard=s) = 1 - (1 - s^rows)^bands is evaluated
    at the threshold and at ±0.1 around it; the chosen split maximizes the
    separation P(t+0.1) - P(t-0.1) (steepest S-curve at the operating
    point), tie-broken toward more bands (higher recall).  Driver-side
    arithmetic over a handful of splits — the ten lines everyone otherwise
    re-derives from the MMDS textbook before every near-dup rollout; the
    returned numbers plug straight into ``minhash_bands`` /
    ``near_dup_pairs`` as (num_hashes, rows_per_band)."""
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for rows in candidate_rows:
        if num_hashes % rows:
            continue
        bands = num_hashes // rows

        def p(s: float) -> float:
            return 1.0 - (1.0 - s**rows) ** bands

        sep = p(min(threshold + 0.1, 0.999)) - p(max(threshold - 0.1, 0.001))
        key = (sep, bands)
        if best is None or key > best[0]:
            best = (key, {
                "bands": bands,
                "rows_per_band": rows,
                "p_at_threshold": round(p(threshold), 6),
                "p_below": round(p(max(threshold - 0.1, 0.001)), 6),
                "p_above": round(p(min(threshold + 0.1, 0.999)), 6),
                "implied_threshold": round((1.0 / bands) ** (1.0 / rows), 6),
            })
    if best is None:
        raise ValueError("no candidate rows_per_band divides num_hashes")
    return best[1]
