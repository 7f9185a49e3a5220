"""Deduplication query inventory (SURVEY §2.9).

The md5-based MinHash is deterministic and engine-portable, so the ENTIRE
LSH pipeline — signatures, banding, candidate generation, exact-Jaccard
verify — is oracle-diffable: DuckDB computes the identical signatures, so
even LSH false negatives agree bit-for-bit.  There is one hash family:
every near-dup query — the q86 closure family included — runs the md5
signature its oracle replays, through operators.dedup.near_dup_pairs where
it needs verified pairs.  The repeated oracle CTEs (signatures, bands,
candidates, unigram sets, verified pairs) are the shared constants below.

Thresholds are calibrated to the synthetic corpus: the documents table is a
31-word vocabulary, so unigram-set Jaccard runs high (near-dup threshold
0.9) and embeddings max out at cosine ~0.51 (near-dup threshold 0.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigquack_spark.operators import dedup as D
from bigquack_spark.operators.simsearch import (
    cosine_pairs,
    random_hyperplane_lsh,
    random_hyperplane_lsh_sql,
)
from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t

NUM_HASHES = 8
ROWS_PER_BAND = 2
JACCARD_THRESHOLD = 0.9

#: Shared CTE: engine-portable minhash signatures in long form.
_SIG_SQL = f"""
  toks AS (
    SELECT DISTINCT doc_id, tok FROM (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    )
  ),
  seeds AS (SELECT CAST(unnest(range({NUM_HASHES})) AS INTEGER) AS seed),
  sig AS (
    SELECT doc_id, seed,
           min(md5(concat(CAST(seed AS VARCHAR), '|', tok))) AS minhash
    FROM toks CROSS JOIN seeds
    GROUP BY doc_id, seed
  )
"""

#: Shared CTE: LSH bands over ``sig`` — operators.dedup.minhash_bands' keys.
_BANDS_SQL = f"""
  bands AS (
    SELECT doc_id, CAST(seed // {ROWS_PER_BAND} AS INTEGER) AS band_id,
           md5(string_agg(minhash, ',' ORDER BY seed)) AS band_key
    FROM sig
    GROUP BY doc_id, seed // {ROWS_PER_BAND}
  )
"""

#: Shared CTE: per-document distinct-token sets — the shingle_len=1 sets
#: operators.dedup.jaccard_verify compares.
_SETS_SQL = """
  sets_ AS (SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS sh
            FROM documents)
"""

#: Shared CTE: LSH candidate pairs ``a < b`` off ``bands`` —
#: operators.dedup.lsh_candidate_pairs.
_CAND_SQL = """
  cand AS (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bands x JOIN bands y
      ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id < y.doc_id
  )
"""

#: Shared CTE chain ending in ``pairs`` (a, b): q36's verified near-dup
#: pairs — the replay of ``_near_dup_graph``.
_PAIRS_SQL = f"""
  {_SIG_SQL},
  {_BANDS_SQL},
  {_CAND_SQL},
  {_SETS_SQL},
  pairs AS (
    SELECT cand.a, cand.b
    FROM cand
    JOIN sets_ sa ON sa.doc_id = cand.a
    JOIN sets_ sb ON sb.doc_id = cand.b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
          >= {JACCARD_THRESHOLD}
  )
"""


@query(
    "q30_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: one shuffle on md5(text), keeper = min
    id per group.  At 100 TB the md5 group key keeps the shuffle narrow (16
    bytes/row) regardless of document size."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "q31_dedup_by_key",
    oracle="""
    SELECT lang, source,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY lang, source
    """,
)
def q31_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup (keep-first semantics, deterministic): the aggregate form
    of operators.dedup.exact_dedup_keep_first."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "q32_minhash_signatures",
    oracle=f"""
    WITH {_SIG_SQL}
    SELECT doc_id, seed, minhash FROM sig
    """,
)
def q32_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable MinHash signatures (long form): min over distinct
    tokens of md5(seed || '|' || token), per (doc, seed)."""
    return D.minhash_signatures(
        t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id"), "doc_id", "text", NUM_HASHES
    ).select("doc_id", "seed", "minhash")


@query(
    "q33_lsh_bucket_stats",
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDS_SQL}
    SELECT band_id, band_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM bands
    GROUP BY band_id, band_key
    """,
)
def q33_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over the md5 signatures: bucket occupancy per
    (band, band_key).  Banding is a per-row projection (zero shuffle); the
    bucket groupBy is the plan's only exchange.  Bucket stats are the
    scale-safe observable — output is bounded by docs x bands, never pairs."""
    bands = D.minhash_bands(
        t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id"),
        "doc_id", "text", NUM_HASHES, ROWS_PER_BAND,
    )
    return bands.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


_SIMHASH_BITS = 60

#: Shared CTE chain: engine-portable word-3-gram simhash (see q34 docstring).
_SIMHASH_CTE = f"""
    toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - 1),
                                     i -> array_to_string(tk[i:i+2], ' '))) AS sh
        FROM toks
      )
    ),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
      FROM shingles
    ),
    votes AS (
      SELECT doc_id, b.b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed
      CROSS JOIN (SELECT CAST(unnest(range({_SIMHASH_BITS})) AS INTEGER) AS b) b
      GROUP BY doc_id, b.b
    ),
    sh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes
      GROUP BY doc_id
    )
"""

_Q34_ORACLE = f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sh"


@query("q34_simhash", oracle=_Q34_ORACLE)
def q34_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over word 3-gram shingles (operators.dedup.simhash),
    oracle-diffed bit for bit: both engines parse the same 15 md5 hex
    chars to the same 60-bit integer and tally identical signed bit
    votes.  Locality and determinism are property-tested in
    tests/test_ops.py."""
    return D.simhash(
        t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id"),
        "doc_id", "text", bits=_SIMHASH_BITS, shingle_len=3,
    )


_Q35_PLANES = 2


@query(
    "q35_embedding_near_dup",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, e, {random_hyperplane_lsh_sql(_Q35_PLANES, 64, 42)} AS bkt
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           round(
             list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
             6
           ) AS cosine_sim
    FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    WHERE round(
            list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
            6
          ) >= 0.4
    """,
)
def q35_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs through the operator's DEFAULT
    sign-LSH-blocked path (round-1 verdict item #6: the crossJoin default
    is gone — the plan contract asserts no cartesian product here).  Two
    hyperplanes -> 4 buckets, sized to the loose 0.4 threshold (the
    synthetic embeddings max out at ~0.51): a qualifying pair survives both
    planes with p = (1-theta/pi)^2 ~ 0.4, and the oracle replays the SAME
    seeded hyperplanes as double literals, so the recall loss is
    bit-identical on both engines.  At a production 0.95 threshold the
    default 16 planes apply.  tests/test_ops.py pins blocked-vs-unblocked
    recall on a planted cluster."""
    e = t(spark, sf_dir, "embeddings")
    return D.embedding_near_dup(
        e, "vec_id", "embedding", threshold=0.4, num_planes=_Q35_PLANES
    )


@query(
    "q36_lsh_near_dup_pairs",
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDS_SQL},
    {_CAND_SQL},
    {_SETS_SQL}
    SELECT cand.a, cand.b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
    FROM cand
    JOIN sets_ sa ON sa.doc_id = cand.a
    JOIN sets_ sb ON sb.doc_id = cand.b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
          >= {JACCARD_THRESHOLD}
    """,
)
def q36_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup, oracle-diffed END TO END: because the md5
    signatures are bit-identical across engines, the banding false-negative
    set is identical too — the oracle replays signatures -> bands ->
    candidates -> exact unigram Jaccard >= 0.9 and must match exactly."""
    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    return _near_dup_pairs(docs, JACCARD_THRESHOLD)


def _near_dup_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """``near_dup_pairs`` at the family's LSH parameters (NUM_HASHES,
    ROWS_PER_BAND, unigram sets) — the chain every ``_SIG_SQL`` oracle
    replays, keeping pairs with Jaccard >= ``threshold``."""
    return D.near_dup_pairs(
        docs, "doc_id", "text", NUM_HASHES, ROWS_PER_BAND,
        shingle_len=1, threshold=threshold,
    )


def _near_dup_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The closure queries' shared input: the documents load and q36's
    near-dup pair graph ``(a, b)``."""
    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    return docs, _near_dup_pairs(docs, JACCARD_THRESHOLD).select("a", "b")


_CLOSURE_ORACLE = f"""
    WITH RECURSIVE {_PAIRS_SQL},
    sym AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
    reach(src, node) AS (
      SELECT s, s FROM sym
      UNION
      SELECT r.src, e.d FROM reach r JOIN sym e ON r.node = e.s
    )
    SELECT src AS node, CAST(min(node) AS BIGINT) AS cluster_id
    FROM reach GROUP BY src
    """


@query(
    "q86_dedup_clusters",
    oracle=_CLOSURE_ORACLE,
)
def q86_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup closure: the q36 near-dup PAIRS become dedup GROUPS
    via distributed connected components (large-star/small-star, O(log n)
    rounds; see operators/dedup.connected_components for the scale
    analysis).  The oracle replays the identical pair pipeline, then closes
    it with a recursive CTE — component membership, including everything
    transitivity adds beyond the tested pairs, must match exactly."""
    _, pairs = _near_dup_graph(spark, sf_dir)
    return D.connected_components(pairs)


@query(
    "q99_dedup_clusters_twostar",
    oracle=_CLOSURE_ORACLE,
)
def q99_dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q86's closure under its own registry name (callers key queries by
    name): connected_components is the large-star/small-star contraction,
    so both names return the same frame against the same oracle."""
    return q86_dedup_clusters(spark, sf_dir)


_Q117_MAX_HAMMING = 3
_Q117_THRESHOLD = 0.5


@query(
    "q117_ngram_jaccard_near_dup",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    chunks AS (
      SELECT doc_id, simhash, c.c AS chunk_id,
             (simhash >> (c.c * 15)) & 32767 AS chunk
      FROM sh CROSS JOIN (
        SELECT CAST(unnest(range({_SIMHASH_BITS // 15})) AS INTEGER) AS c
      ) c
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
             CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
      FROM chunks l
      JOIN chunks r ON l.chunk_id = r.chunk_id AND l.chunk = r.chunk
      WHERE l.doc_id < r.doc_id
        AND bit_count(xor(l.simhash, r.simhash)) <= {_Q117_MAX_HAMMING}
    ),
    sets AS (SELECT doc_id, list(sh) AS s FROM shingles GROUP BY doc_id)
    SELECT cand.a, cand.b, cand.hamming,
           CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             AS jaccard
    FROM cand
    JOIN sets sa ON cand.a = sa.doc_id
    JOIN sets sb ON cand.b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
          >= {_Q117_THRESHOLD}
    """,
)
def q117_ngram_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup (operators.dedup.simhash_jaccard_near_dup):
    portable 60-bit simhash -> pigeonhole 15-bit-chunk blocking (any pair
    within Hamming 3 shares a chunk) -> exact Hamming filter -> exact
    word-trigram Jaccard on candidates only.  The fourth dedup family
    (exact q30 / MinHash+LSH q36 / SimHash q34 / n-gram Jaccard here),
    diffed end-to-end: DuckDB recomputes identical simhashes, identical
    chunk buckets, and identical shingle-set intersections.  Both engines
    divide the same integers, so the Jaccard doubles agree bitwise.
    Pairwise work is bounded by chunk-bucket occupancy — never the corpus
    cross product."""
    return D.simhash_jaccard_near_dup(
        t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id"),
        "doc_id", "text",
        max_hamming=_Q117_MAX_HAMMING,
        shingle_len=3,
        threshold=_Q117_THRESHOLD,
        bits=_SIMHASH_BITS,
    )


CHUNK_DEDUP_TOKENS = 16


@query(
    "q129_chunk_dedup",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents
    ),
    ch AS (
      SELECT doc_id,
             CAST((start - 1) // {CHUNK_DEDUP_TOKENS} AS INTEGER) AS chunk_idx,
             array_to_string(toks[start : start + {CHUNK_DEDUP_TOKENS} - 1], ' ') AS chunk
      FROM (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks), 1) + 1, {CHUNK_DEDUP_TOKENS})) AS start
        FROM tk
      )
    ),
    fl AS (
      SELECT doc_id, chunk_idx, chunk,
             row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) = 1
               AS is_first
      FROM ch
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CAST(is_first AS INTEGER)) AS BIGINT) AS n_kept,
           md5(coalesce(
             string_agg(CASE WHEN is_first THEN chunk END, ' ' ORDER BY chunk_idx), ''
           )) AS dedup_fingerprint
    FROM fl
    GROUP BY doc_id
    """,
)
def q129_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (chunk-level) exact dedup with document reassembly —
    the paragraph-dedup pass of a Dolma/RefinedWeb pipeline over a corpus
    without newline structure: non-overlapping 16-token chunks, global
    keep-first by (doc_id, position), per-doc survival stats + md5 of the
    reassembled text.  The keep-first is an AGGREGATE (min(struct)) with
    map-side partial collapse, not a window — a boilerplate chunk repeated
    a billion times shuffles one row per map partition instead of
    hot-spotting one reducer.  The oracle replays the identical chunking
    and keep-first order, so even the reassembled-text fingerprints must
    agree byte-for-byte."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    return D.chunk_dedup(d, chunk_tokens=CHUNK_DEDUP_TOKENS)


INCR_SALT = "incr_v1"


@query(
    "q130_incremental_dedup",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
             CAST('0x' || substr(md5('{INCR_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 6)
                  AS BIGINT) % 10 AS bkt
      FROM documents
    ),
    hist AS (SELECT DISTINCT fingerprint FROM fp WHERE bkt < 8),
    inc AS (SELECT doc_id, fingerprint FROM fp WHERE bkt >= 8),
    bm AS (SELECT fingerprint, min(doc_id) AS batch_min FROM inc GROUP BY fingerprint)
    SELECT i.doc_id, i.fingerprint,
           CASE WHEN h.fingerprint IS NOT NULL THEN 'dup_of_history'
                WHEN i.doc_id = bm.batch_min THEN 'novel'
                ELSE 'dup_in_batch' END AS status
    FROM inc i
    LEFT JOIN hist h USING (fingerprint)
    JOIN bm USING (fingerprint)
    """,
)
def q130_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: classify an incoming batch (a
    deterministic 20% md5-bucket slice standing in for today's crawl)
    against the historical corpus snapshot (the other 80%) by normalized
    content fingerprint — dup_of_history / dup_in_batch / novel.  The
    history side shrinks to DISTINCT 32-hex fingerprints before the join
    (keys, never documents, cross the wire) and the in-batch keep-first is
    a partial-aggregating min per fingerprint; at 100 TB AQE's runtime
    bloom filter prunes history partitions on the probe side.  The novel
    subset is the idempotent append set, ported from the reference's
    create-or-append ingest contract (duck.go:214-252) to content-level
    identity."""
    from bigquack_spark.operators import text as X
    from bigquack_spark.operators.corpus import _hash_bucket

    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    fp = X.fingerprint(d).select(
        "doc_id", "fingerprint", _hash_bucket(F.col("doc_id"), INCR_SALT, 10).alias("bkt")
    )
    history = fp.filter(F.col("bkt") < 8).select("fingerprint")
    incoming = fp.filter(F.col("bkt") >= 8).select("doc_id", "fingerprint")
    return D.incremental_dedup(incoming, history).select("doc_id", "fingerprint", "status")


@query(
    "q140_knn_graph",
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDS_SQL},
    {_CAND_SQL},
    {_SETS_SQL},
    scored AS (
      SELECT cand.a, cand.b,
             round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE),
                   6) AS jaccard
      FROM cand
      JOIN sets_ sa ON sa.doc_id = cand.a
      JOIN sets_ sb ON sb.doc_id = cand.b
    ),
    sym AS (
      SELECT a AS doc_id, b AS neighbor_id, jaccard FROM scored
      UNION ALL
      SELECT b, a, jaccard FROM scored
    )
    SELECT doc_id, neighbor_id, jaccard
    FROM (
      SELECT doc_id, neighbor_id, jaccard,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY jaccard DESC, neighbor_id
             ) AS rk
      FROM sym
    )
    WHERE rk = 1
    """,
)
def q140_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor graph over the corpus (top-1 by exact unigram
    Jaccard among LSH band-mates) — the SemDeDup-style triage primitive:
    'for every document, its closest sibling and how close', feeding
    curation decisions that threshold pair-lists (q36) can't express.
    Candidate generation stays bucketed (the LSH equi-join, never
    all-pairs); scoring touches candidates only; the per-doc argmax is one
    window over the candidate set.  Fully md5-portable, so the oracle
    replays signatures, banding, scores, and the tie-broken argmax
    bit-exactly."""
    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    scored = _near_dup_pairs(docs, 0.0).withColumn("jaccard", F.round("jaccard", 6))
    # symmetrize by EXPLODING each scored pair into both directions (r13):
    # the old unionAll(swap) referenced `scored` twice, and a re-referenced
    # DataFrame subtree is re-computed — the before-plan carried TWO full
    # copies of the banding+verify pipeline (round-13 plan dump).
    sym = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("doc_id"),
                    F.col("b").alias("neighbor_id"),
                    F.col("jaccard"),
                ),
                F.struct(
                    F.col("b").alias("doc_id"),
                    F.col("a").alias("neighbor_id"),
                    F.col("jaccard"),
                ),
            )
        ).alias("e")
    ).select("e.doc_id", "e.neighbor_id", "e.jaccard")
    # per-doc argmax as an AGGREGATE, not a window (guide §2.3 "aggregate
    # before you shuffle"): min(struct(-jaccard, neighbor_id)) orders
    # exactly like (jaccard DESC, neighbor_id ASC) — jaccard is >= 0 and
    # non-NULL here, negation is an exact IEEE sign flip — and the partial
    # agg collapses the candidate fan-in map-side instead of shuffling and
    # sorting every sym row (q129's keep-first precedent).
    best = F.min(
        F.struct((-F.col("jaccard")).alias("nj"), F.col("neighbor_id").alias("nid"))
    ).alias("best")
    return (
        sym.groupBy("doc_id")
        .agg(best)
        .select(
            "doc_id",
            F.col("best.nid").alias("neighbor_id"),
            (-F.col("best.nj")).alias("jaccard"),
        )
    )


EVAL_SLICE = 200  # bounded doc slice for the exact ground truth
EVAL_THRESHOLD = 0.5  # looser than production 0.9: exercises LSH recall loss


@query(
    "q160_lsh_eval",
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDS_SQL},
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id < y.doc_id
      WHERE x.doc_id < {EVAL_SLICE} AND y.doc_id < {EVAL_SLICE}
    ),
    sets_ AS (
      SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS sh
      FROM documents WHERE doc_id < {EVAL_SLICE}
    ),
    all_pairs AS (
      SELECT sa.doc_id AS a, sb.doc_id AS b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
      FROM sets_ sa JOIN sets_ sb ON sa.doc_id < sb.doc_id
    ),
    m AS (
      SELECT
        CAST((SELECT count(*) FROM all_pairs WHERE jac >= {EVAL_THRESHOLD}) AS BIGINT) AS n_truth,
        CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
        CAST((SELECT count(*) FROM cand c JOIN all_pairs p ON c.a = p.a AND c.b = p.b
              WHERE p.jac >= {EVAL_THRESHOLD}) AS BIGINT) AS tp
    )
    SELECT n_truth, n_cand, tp,
           n_cand - tp AS fp, n_truth - tp AS fn,
           CASE WHEN n_cand = 0 THEN NULL
                ELSE CAST(tp AS DOUBLE) / n_cand END AS precision,
           CASE WHEN n_truth = 0 THEN NULL
                ELSE CAST(tp AS DOUBLE) / n_truth END AS recall
    FROM m
    """,
)
def q160_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality evaluation harness: precision/recall of the MinHash
    banding candidate generator against EXACT pairwise Jaccard ground
    truth on a bounded ``EVAL_SLICE``-document slice — the measurement a
    team runs before trusting a (bands, rows) configuration at corpus
    scale, where ground truth is unobtainable.  The threshold is looser
    than production (0.5 vs 0.9) precisely to expose banding recall loss.

    Scale posture: the O(n^2) exact pass runs ONLY on the bounded slice
    (a broadcast nested-loop by construction — the ``EVAL_SLICE``-row side
    broadcasts); the candidate side reuses the production banding plan
    unchanged, so the measured recall is the production operator's
    recall.  Output is one audit row."""
    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    sl = docs.filter(F.col("doc_id") < EVAL_SLICE).select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("sh")
    )
    a = sl.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha"))
    b = sl.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb"))
    jac = F.size(F.array_intersect("sha", "shb")).cast("double") / F.size(
        F.array_union("sha", "shb")
    )
    all_pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", jac.alias("jac"))
    )
    bands = D.minhash_bands(docs, "doc_id", "text", NUM_HASHES, ROWS_PER_BAND)
    cand = (
        D.lsh_candidate_pairs(bands, "doc_id")
        .filter((F.col("a") < EVAL_SLICE) & (F.col("b") < EVAL_SLICE))
        .select("a", "b")
        .distinct()
    )
    n_truth = all_pairs.filter(F.col("jac") >= EVAL_THRESHOLD).agg(
        F.count(F.lit(1)).cast("long").alias("n_truth")
    )
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    tp = (
        cand.join(all_pairs, ["a", "b"])
        .filter(F.col("jac") >= EVAL_THRESHOLD)
        .agg(F.count(F.lit(1)).cast("long").alias("tp"))
    )
    m = n_truth.crossJoin(n_cand).crossJoin(tp)
    return m.select(
        "n_truth",
        "n_cand",
        "tp",
        (F.col("n_cand") - F.col("tp")).alias("fp"),
        (F.col("n_truth") - F.col("tp")).alias("fn"),
        F.when(F.col("n_cand") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("tp").cast("double") / F.col("n_cand"))
        .alias("precision"),
        F.when(F.col("n_truth") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("tp").cast("double") / F.col("n_truth"))
        .alias("recall"),
    )


@query(
    "q164_dedup_savings",
    oracle=_CLOSURE_ORACLE.replace(
        """    SELECT src AS node, CAST(min(node) AS BIGINT) AS cluster_id
    FROM reach GROUP BY src
    """,
        """    , cc AS (
      SELECT src AS node, CAST(min(node) AS BIGINT) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT cc.cluster_id AS canonical_doc,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN cc.node <> cc.cluster_id THEN d.n_chars ELSE 0 END) AS BIGINT)
             AS chars_saved
    FROM cc JOIN documents d ON d.doc_id = cc.node
    GROUP BY cc.cluster_id
    ORDER BY chars_saved DESC, canonical_doc
    """,
    ),
)
def q164_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family's "so what" report: each near-dup cluster (q86's
    transitive closure) collapsed to its canonical member (minimum
    doc_id) with the member count and the exact bytes a keep-canonical
    policy deletes — the number a storage/training-budget review asks
    for before green-lighting the dedup job.

    One extra broadcast-sized join (cluster membership x doc metadata)
    and a cluster-keyed aggregate on top of the q86 plan; the closure
    itself is the O(log n)-round distributed CC, so this inherits its
    100 TB posture unchanged."""
    docs, pairs = _near_dup_graph(spark, sf_dir)
    cc = D.connected_components(pairs)
    meta = docs.select("doc_id", "n_chars")
    joined = cc.join(meta, cc["node"] == meta["doc_id"])
    saved = F.when(F.col("node") != F.col("cluster_id"), F.col("n_chars")).otherwise(
        F.lit(0)
    )
    return (
        joined.groupBy(F.col("cluster_id").alias("canonical_doc"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.sum(saved).cast("long").alias("chars_saved"),
        )
        .orderBy(F.desc("chars_saved"), "canonical_doc")
    )


@query(
    "q172_semantic_dedup",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, e, {random_hyperplane_lsh_sql(_Q35_PLANES, 64, 42)} AS bkt
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    ),
    hits AS (
      SELECT b.vec_id AS vid
      FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
      WHERE round(
              list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
              6
            ) >= 0.4
      GROUP BY b.vec_id
    )
    SELECT v.vec_id, v.bkt AS cluster,
           (h.vid IS NOT NULL) AS pruned
    FROM v LEFT JOIN hits h ON v.vec_id = h.vid
    """,
)
def q172_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic deduplication: per-vector KEEP/PRUNE
    verdicts, not just pairs (q35 emits the pairs; training-data curation
    needs the verdict column).  Vectors are clustered by the same seeded
    sign-LSH buckets as q35 (the cheap stand-in for the k-means clustering
    step — q144's literal-centroid assignment drops in unchanged at
    production scale), and within each cluster a vector is PRUNED when any
    LOWER-id cluster-mate sits above the cosine threshold — the
    deterministic keep-first rule, no connected components needed, one
    bucket-keyed ``operators.simsearch.cosine_pairs`` self-join bounded by
    cluster occupancy.  The oracle replays the identical plane literals
    and fold order, so verdicts are bit-identical.  At 100 TB: cluster sizes are capped the same way as
    LSH buckets (operators.dedup.lsh_candidate_pairs' max_bucket_size
    diversion); the verdict join is an aggregation + left join, both on
    the vec_id shuffle key."""
    e = t(spark, sf_dir, "embeddings")
    v = random_hyperplane_lsh(
        e, vec_col="embedding", num_planes=_Q35_PLANES, seed=42, bucket_col="cluster"
    )
    hits = (
        cosine_pairs(v, block_col="cluster")
        .filter((F.col("a") < F.col("b")) & (F.col("cos") >= 0.4))
        .select(F.col("b").alias("vid"))
        .distinct()
    )
    return v.join(hits, v.vec_id == hits.vid, "left").select(
        "vec_id", "cluster", F.col("vid").isNotNull().alias("pruned")
    )


PPJ_THRESHOLD = 0.9  # unigram-set Jaccard (vocab is tiny => high similarity)


@query(
    "q185_prefix_filter_join",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS tok
      FROM documents
    ),
    dfreq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS nd FROM toks GROUP BY tok
    ),
    ranked AS (
      SELECT t.doc_id,
             list_sort(list(printf('%010d|%s', d.nd, t.tok))) AS keys,
             CAST(count(*) AS BIGINT) AS n
      FROM toks t JOIN dfreq d USING (tok)
      GROUP BY t.doc_id
    ),
    prefix AS (
      SELECT doc_id,
             unnest(list_transform(
               keys[1:CAST(n - ceil({PPJ_THRESHOLD} * n) + 1 AS BIGINT)],
               k -> substr(k, 12))) AS ptok
      FROM ranked WHERE n > 0
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM prefix a JOIN prefix b ON a.ptok = b.ptok AND a.doc_id < b.doc_id
    ),
    sets AS (
      SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS s
      FROM documents
    )
    SELECT c.a, c.b,
           round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6)
             AS jaccard
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.a
    JOIN sets sb ON sb.doc_id = c.b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
          >= {PPJ_THRESHOLD}
    """,
)
def q185_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the
    PPJoin/AllPairs family — Chaudhuri et al. SSJoin, Xiao et al.
    PPJoin): the deterministic complement of MinHash-LSH (q36), with
    ZERO false negatives by theorem instead of by tuned probability.
    Each doc's distinct-token set is ordered rarest-first (global df
    ascending — computed with one token-keyed aggregate, joined back),
    and only its first n - ceil(θ·n) + 1 tokens generate candidates: two
    sets with Jaccard >= θ MUST share a prefix token (pigeonhole on the
    overlap bound), so the candidate join touches the rare end of the
    vocabulary — the frequent tokens that make naive token-joins
    quadratic never leave the prefix cut.  Exact Jaccard verifies
    candidates (array intersect/union, round-6 both engines).  At
    100 TB: candidate volume is sum over PREFIX tokens of occurrence^2 —
    tunable by θ — and a still-hot prefix token takes the q33 bucket-cap
    diversion; everything shuffles on token or doc keys."""
    from pyspark.sql.window import Window  # noqa: F401  (registry-style parity)

    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), r"\s+"))).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("nd"))
    ranked = (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.format_string("%010d|%s", F.col("nd"), F.col("tok")))
            ).alias("keys"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    plen = (F.col("n") - F.ceil(F.lit(PPJ_THRESHOLD) * F.col("n")) + 1).cast("int")
    prefix = ranked.filter(F.col("n") > 0).select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice(F.col("keys"), 1, plen), lambda k: F.substring(k, 12, 1_000_000)
            )
        ).alias("ptok"),
    )
    cand = (
        prefix.select(F.col("doc_id").alias("a"), "ptok")
        .join(prefix.select(F.col("doc_id").alias("b"), "ptok"), "ptok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sets = d.select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("s")
    )
    joined = (
        cand.join(sets.select(F.col("doc_id").alias("a"), F.col("s").alias("sa")), "a")
        .join(sets.select(F.col("doc_id").alias("b"), F.col("s").alias("sb")), "b")
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = (F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))).cast("double")
    return (
        joined.filter(inter / union >= PPJ_THRESHOLD)
        .select("a", "b", F.round(inter / union, 6).alias("jaccard"))
    )


@query(
    "q190_split_leakage",
    oracle=f"""
    WITH {_PAIRS_SQL},
    splits AS (
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               CAST('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 6)
                    AS BIGINT) % 100 AS b
        FROM documents
      )
    )
    SELECT least(pa.split, pb.split) AS split_lo,
           greatest(pa.split, pb.split) AS split_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN pa.split <> pb.split THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaks
    FROM pairs p
    JOIN splits pa ON pa.doc_id = p.a
    JOIN splits pb ON pb.doc_id = p.b
    GROUP BY least(pa.split, pb.split), greatest(pa.split, pb.split)
    """,
)
def q190_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split LEAKAGE audit — the eval-integrity check a random
    document-level split silently fails: near-duplicate pairs (q36's full
    MinHash-LSH + exact-Jaccard pipeline, reused verbatim) are joined to
    q83's deterministic split assignment, and every (split, split) cell
    reports its pair count and how many cross the boundary.  A nonzero
    train x test cell means the benchmark is contaminated by paraphrases
    exact dedup can't see (q84 catches verbatim overlap; this catches
    near-dup overlap).  The fix loop: route each leaked pair's CLUSTER
    (q86) to one side — which is why split assignment should key on the
    dedup-cluster id, not the doc id, at production scale.  Costs: the
    q36 pair pipeline plus two broadcast-shaped split joins and a
    9-cell-bounded aggregate."""
    from bigquack_spark.operators import corpus as C

    docs, pairs = _near_dup_graph(spark, sf_dir)

    splits = C.hash_split(docs, id_col="doc_id", salt="split-v1").select(
        "doc_id", "split"
    )
    sa = splits.select(F.col("doc_id").alias("a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("b"), F.col("split").alias("split_b"))
    labeled = pairs.join(sa, "a").join(sb, "b")
    return labeled.groupBy(
        F.least("split_a", "split_b").alias("split_lo"),
        F.greatest("split_a", "split_b").alias("split_hi"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0))
        .cast("long").alias("n_leaks"),
    )


@query(
    "q227_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL},
    sym AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
    reach(src, node) AS (
      SELECT s, s FROM sym
      UNION
      SELECT r.src, e.d FROM reach r JOIN sym e ON r.node = e.s
    ),
    comps AS (
      SELECT src AS node, CAST(min(node) AS BIGINT) AS cluster_id
      FROM reach GROUP BY src
    ),
    scored AS (
      SELECT c.cluster_id, c.node AS doc_id,
             CAST(length(d.text) AS BIGINT) AS n_chars,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY length(d.text) DESC, c.node
             ) AS rk
      FROM comps c JOIN documents d ON d.doc_id = c.node
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
           CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS kept_n_chars,
           CAST(sum(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS dropped_chars
    FROM scored GROUP BY cluster_id
    """,
)
def q227_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection — the curation DECISION the
    cluster machinery exists to serve: per near-dup cluster (q86's
    transitive closure), keep the MOST COMPLETE copy (longest text,
    doc_id tiebreak) instead of the arbitrary min-id, and account for
    the bytes the drop reclaims.  Truncated crawls, paywalled prefixes,
    and boilerplate-injected mirrors make the copies genuinely unequal —
    min-id keep (the naive default) throws away the full article
    whenever a stub has the smaller id.  Plan: the CC output
    (node-cardinality) joins documents once for the length, one
    cluster-keyed window picks the representative, one aggregate emits
    the roster — everything after the pair pipeline is linear in cluster
    membership.  Swap the length criterion for q218's p_quality and the
    plan is unchanged (score joins in the same place)."""
    from pyspark.sql.window import Window

    docs, pairs = _near_dup_graph(spark, sf_dir)
    comps = D.connected_components(pairs)
    scored = comps.join(
        docs.select(F.col("doc_id").alias("node"), F.length("text").cast("long").alias("n_chars")),
        "node",
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "node")
    ranked = scored.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(F.when(F.col("rk") == 1, F.col("node"))).cast("long").alias("kept_doc_id"),
        F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).cast("long").alias("kept_n_chars"),
        F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("dropped_chars"),
    )


@query(
    "q233_incremental_components",
    # Full-recompute closure == incrementally-maintained closure: the
    # hash-match against the same recursive-CTE oracle as q86/q99 IS the
    # graph-IVM correctness theorem.
    oracle=_CLOSURE_ORACLE,
)
def q233_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup clustering (operators.dedup
    incremental_components): the continuous-ingestion form of q86 — an
    80% history slice (q130's md5 buckets) is clustered once, then the
    day's new documents arrive and ONLY the delta edges (pairs touching
    a new doc) are folded in by contracting endpoints to their current
    labels, solving CC on the delta-sized contracted graph, and
    composing the relabel map over history.  The oracle is the SAME full
    recursive-CTE closure that checks q86: incremental maintenance must
    land on byte-identical cluster assignments as full recomputation —
    checked including transitive merges where a new document bridges two
    previously-separate history clusters.  Daily cost: delta joins + CC
    on the delta, never a full-graph walk; this is what makes
    LSH-cluster dedup operable as a STREAMING property (the
    NearDupIngestSink emits verdicts; this maintains the groups)."""
    from bigquack_spark.operators.corpus import _hash_bucket

    _, pairs = _near_dup_graph(spark, sf_dir)
    bkt_a = _hash_bucket(F.col("a"), INCR_SALT, 10)
    bkt_b = _hash_bucket(F.col("b"), INCR_SALT, 10)
    old_pairs = pairs.filter((bkt_a < 8) & (bkt_b < 8))
    new_pairs = pairs.filter((bkt_a >= 8) | (bkt_b >= 8))
    old_components = D.connected_components(old_pairs).localCheckpoint(eager=False)
    return D.incremental_components(old_components, new_pairs)


CONTAIN_THRESHOLD = 0.9  # |A ∩ B| / |A| for A-contained-in-B


@query(
    "q236_containment_dups",
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDS_SQL},
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id <> y.doc_id
    ),
    {_SETS_SQL},
    scored AS (
      SELECT cand.a AS contained_id, cand.b AS container_id,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common,
             CAST(len(sa.sh) AS BIGINT) AS n_contained,
             CAST(len(sb.sh) AS BIGINT) AS n_container,
             round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh), 6)
               AS containment
      FROM cand
      JOIN sets_ sa ON sa.doc_id = cand.a
      JOIN sets_ sb ON sb.doc_id = cand.b
    )
    SELECT contained_id, container_id, n_common, n_contained, n_container, containment
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY contained_id
               ORDER BY containment DESC, n_container DESC, container_id
             ) AS rk
      FROM scored
      WHERE containment >= {CONTAIN_THRESHOLD} AND n_contained < n_container
    ) WHERE rk = 1
    """,
)
def q236_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment detection — the subset-duplicate class
    symmetric Jaccard structurally misses: a short document whose
    vocabulary sits ≥``CONTAIN_THRESHOLD`` inside a longer one (quote
    farms, article+boilerplate mirrors, truncated re-crawls) scores
    |A∩B|/|A| high while |A∩B|/|A∪B| stays low, so q36's threshold never
    fires.  Candidates come from the SAME minhash band join (ordered
    pairs this time — containment is directional), scored by exact
    set-overlap against the smaller side, and emitted only when the
    contained doc is strictly smaller.  The curation action differs from
    near-dup too: drop the CONTAINED copy, always keep the container.
    Output is ONE verdict per contained document — its best container —
    so the result is corpus-bounded, not pair-bounded.  Same
    bucket-bounded scale posture as the whole LSH family.  Caveat
    worth knowing: band candidates under-recall low-Jaccard containment
    pairs (a tiny doc inside a huge one rarely shares a full band) — the
    production variant blocks on the CONTAINED side's own shingles
    (q185's prefix-filter shape); the oracle checks the algorithm as
    declared, bands included."""
    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    bands = D.minhash_bands(docs, "doc_id", "text", NUM_HASHES, ROWS_PER_BAND)
    x = bands.select(F.col("doc_id").alias("a"), "band_id", "band_key")
    y = bands.select(F.col("doc_id").alias("b"), "band_id", "band_key")
    cand = (
        x.join(y, ["band_id", "band_key"])
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sh = docs.select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("sh")
    )
    scored = (
        cand.join(sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sa")), "a")
        .join(sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sb")), "b")
        .select(
            F.col("a").alias("contained_id"),
            F.col("b").alias("container_id"),
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("n_common"),
            F.size("sa").cast("long").alias("n_contained"),
            F.size("sb").cast("long").alias("n_container"),
            F.round(
                F.size(F.array_intersect("sa", "sb")).cast("double") / F.size("sa"), 6
            ).alias("containment"),
        )
    )
    from pyspark.sql.window import Window

    flagged = scored.filter(
        (F.col("containment") >= CONTAIN_THRESHOLD)
        & (F.col("n_contained") < F.col("n_container"))
    )
    # one verdict per contained doc: its BEST container (max containment,
    # then largest container, then id) — the drop decision, not the pair dump
    w = Window.partitionBy("contained_id").orderBy(
        F.desc("containment"), F.desc("n_container"), "container_id"
    )
    return (
        flagged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


@query(
    "q241_threshold_sweep",
    oracle=f"""
    WITH {_SIG_SQL},
    {_BANDS_SQL},
    {_CAND_SQL},
    {_SETS_SQL},
    scored AS (
      SELECT round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 6)
               AS jaccard
      FROM cand
      JOIN sets_ sa ON sa.doc_id = cand.a
      JOIN sets_ sb ON sb.doc_id = cand.b
    ),
    binned AS (
      SELECT least(CAST(floor(jaccard * 10) AS INTEGER), 9) AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM scored GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM binned)
    SELECT bin,
           round(bin / 10.0, 1) AS threshold_lo,
           n AS n_pairs,
           CAST(sum(n) OVER (ORDER BY bin DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_pairs_at_or_above,
           round(CAST(sum(n) OVER (ORDER BY bin DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / total, 6) AS frac_at_or_above
    FROM binned CROSS JOIN tot
    """,
)
def q241_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning table: the exact-Jaccard distribution of
    ALL LSH candidate pairs, binned by decile, with the reverse-cumulative
    pair counts — the one-scan answer to 'what does moving the q36
    threshold from 0.8 to 0.7 actually cost' (pairs kept at-or-above each
    cut).  Every threshold decision in the dedup family (q36/q140/q172)
    reads this table first; computing it costs ONE pass over the already-
    bounded candidate set, not one run per candidate threshold.  The
    reverse cumsum runs over 10 bins."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    scored = _near_dup_pairs(docs, 0.0)
    binned = (
        scored.select(
            F.least(F.floor(F.round("jaccard", 6) * 10).cast("int"), F.lit(9)).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = binned.agg(F.sum("n").cast("long").alias("total"))
    w = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.round(F.col("bin") / 10.0, 1).alias("threshold_lo"),
            F.col("n").alias("n_pairs"),
            F.sum("n").over(w).cast("long").alias("n_pairs_at_or_above"),
            F.round(F.sum("n").over(w).cast("double") / F.col("total"), 6).alias("frac_at_or_above"),
        )
    )


CDC_K = 4          # rolling window (tokens) for the boundary hash
CDC_MASK = 64      # boundary when rolling hash % 64 == 0 (expected ~64-token chunks)
CDC_BASE = 131     # polynomial base (winnowing's, exact BIGINT at 24-bit hashes)


@query(
    "q243_content_defined_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(range(1, len(string_split_regex(lower(text), '\\s+')) + 1)) AS pos,
             unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, pos, tok,
             CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT) AS h
      FROM toks
    ),
    rolled AS (
      SELECT doc_id, pos, tok,
             CAST(sum(h * CAST(power({CDC_BASE}, {CDC_K} - 1 - (pos - p2)) AS BIGINT))
               AS BIGINT) AS r,
             CAST(count(*) AS BIGINT) AS wlen
      FROM (
        SELECT a.doc_id, a.pos, a.tok, b.pos AS p2, b.h
        FROM hashed a JOIN hashed b
          ON b.doc_id = a.doc_id AND b.pos BETWEEN a.pos - {CDC_K} + 1 AND a.pos
      )
      GROUP BY doc_id, pos, tok
    ),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN wlen = {CDC_K} AND r % {CDC_MASK} = 0 THEN 1 ELSE 0 END AS bnd
      FROM rolled
    ),
    assigned AS (
      SELECT doc_id, pos, tok,
             CAST(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS cdc_chunk,
             CAST((pos - 1) // {CDC_MASK} AS BIGINT) AS fixed_chunk
      FROM flagged
    ),
    cdc_keys AS (
      SELECT md5(string_agg(tok, ' ' ORDER BY pos)) AS k
      FROM assigned GROUP BY doc_id, coalesce(cdc_chunk, 0)
    ),
    fixed_keys AS (
      SELECT md5(string_agg(tok, ' ' ORDER BY pos)) AS k
      FROM assigned GROUP BY doc_id, fixed_chunk
    )
    SELECT 'cdc' AS method,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT k) AS BIGINT) AS n_unique,
           round(1.0 - CAST(count(DISTINCT k) AS DOUBLE) / count(*), 6) AS dedup_rate
    FROM cdc_keys
    UNION ALL
    SELECT 'fixed', CAST(count(*) AS BIGINT), CAST(count(DISTINCT k) AS BIGINT),
           round(1.0 - CAST(count(DISTINCT k) AS DOUBLE) / count(*), 6)
    FROM fixed_keys
    """,
)
def q243_content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Rabin-style) vs fixed-size chunking,
    scored by corpus chunk-dedup rate — the storage/transfer-dedup
    technique (LBFS, borg, restic) brought to corpus text: a chunk
    boundary falls wherever the rolling ``CDC_K``-token hash ≡ 0 mod
    ``CDC_MASK``, so an INSERTION early in a document only perturbs the
    chunk it lands in — every later boundary re-synchronizes — while
    fixed windows shift EVERY downstream chunk and lose all sharing
    (q129's fixed chunks are the baseline being beaten here).  The
    emitted dedup rates quantify exactly that on this corpus's near-dup
    families.  All exact BIGINT rolling hashes (q139's no-modulus
    discipline); chunk membership is a per-doc prefix sum of boundary
    flags; chunk identity is md5 of position-ordered tokens.  Scale:
    token rows shuffle once per (doc)-keyed window and once per chunk
    key — the same two-exchange budget as the q142 index build."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    hashed = toks.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 6), 16, 10).cast("bigint")
    )
    # rolling polynomial over the trailing K tokens via a windowed sum of
    # h * BASE^(K-1-lag): collect the window as (pos, h) structs
    wk = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(CDC_K - 1), 0)
    rolled = hashed.select(
        "doc_id", "pos", "tok",
        F.collect_list(F.struct("pos", "h")).over(wk).alias("win"),
    )
    r = F.aggregate(
        F.col("win"),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc
        + s.getField("h")
        * F.pow(F.lit(float(CDC_BASE)), (CDC_K - 1 - (F.col("pos") - s.getField("pos")))).cast("bigint"),
    )
    flagged = rolled.select(
        "doc_id", "pos", "tok",
        F.when((F.size("win") == CDC_K) & (r % CDC_MASK == 0), 1).otherwise(0).alias("bnd"),
    )
    wprev = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    assigned = flagged.select(
        "doc_id", "pos", "tok",
        F.coalesce(F.sum("bnd").over(wprev), F.lit(0)).cast("bigint").alias("cdc_chunk"),
        (((F.col("pos") - 1) / CDC_MASK).cast("bigint")).alias("fixed_chunk"),
    )

    def keys(chunk_col):
        return (
            assigned.groupBy("doc_id", chunk_col)
            .agg(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                            lambda s: s.getField("tok"),
                        ),
                        " ",
                    )
                ).alias("k")
            )
        )

    def summary(kdf, name):
        return kdf.agg(
            F.lit(name).alias("method"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.count_distinct("k").cast("long").alias("n_unique"),
            F.round(
                1.0 - F.count_distinct("k").cast("double") / F.count(F.lit(1)), 6
            ).alias("dedup_rate"),
        ).select("method", "n_chunks", "n_unique", "dedup_rate")

    return summary(keys("cdc_chunk"), "cdc").unionByName(
        summary(keys("fixed_chunk"), "fixed")
    )


_PHASH_HAMMING_T = 8  # near-dup verdict: <= 8 of 64 bits differ
_PHASH_BANDS = [(1, 4), (5, 4), (9, 4), (13, 4)]  # four 16-bit hex bands


@query(
    "q262_phash_near_dup",
    oracle=f"""
    WITH corpus AS (
      SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
      UNION ALL
      SELECT CAST(doc_id + 1000000 AS BIGINT), upper(text)
      FROM documents WHERE doc_id % 50 = 0
    ),
    m AS (
      SELECT id,
             substr(sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
                    1, 16) AS ph
      FROM corpus
    ),
    bands AS (
      {' UNION ALL '.join(
          f"SELECT id, ph, {i} AS b, substr(ph, {s}, {l}) AS key FROM m"
          for i, (s, l) in enumerate(_PHASH_BANDS)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.id AS media_a, b.id AS media_b,
                      a.ph AS pha, b.ph AS phb
      FROM bands a
      JOIN bands b ON a.b = b.b AND a.key = b.key AND a.id < b.id
    ),
    d AS (
      SELECT media_a, media_b,
             bit_count(xor(CAST('0x' || substr(pha, 1, 8) AS BIGINT),
                           CAST('0x' || substr(phb, 1, 8) AS BIGINT)))
           + bit_count(xor(CAST('0x' || substr(pha, 9, 8) AS BIGINT),
                           CAST('0x' || substr(phb, 9, 8) AS BIGINT))) AS dist
      FROM cand
    )
    SELECT media_a, media_b, CAST(dist AS BIGINT) AS hamming_dist
    FROM d WHERE dist <= {_PHASH_HAMMING_T}
    """,
)
def q262_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection on perceptual-hash digests — the
    multimodal twin of q36's text LSH: band the 64-bit pHash (q60's
    oracle-diffed digest; a real pHash slots in behind the same column)
    (computed over the q30-normalized text; the drift-free corpus gets a
    deterministic variant injection — case-flipped copies, = re-encoded
    images — so verified pairs exist) into four 16-bit exact-match keys, self-join per band for candidates
    (Hamming-LSH: any pair within distance 3 per band region shares a
    band with high probability; exact dups always collide), then verify
    with popcount(xor) on two 32-bit halves and keep dist <= 8 of 64.
    Never all-pairs: the join key is the band value, so work scales with
    band-bucket sizes (bounded by duplicate-group size on this corpus —
    random digests collide a 16-bit band at 2^-16).  One digest scan,
    one band-keyed shuffle, bit math in whole-stage codegen."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    # the synthetic corpus has no duplicates, so a deterministic variant
    # set (case-flipped copies, identical after q30 normalization) stands
    # in for re-encoded images — the q124/q255 injection technique
    corpus = d.select(F.col("doc_id").cast("long").alias("id"), "text").unionAll(
        d.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).cast("long").alias("id"),
            F.upper("text").alias("text"),
        )
    )
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    m = corpus.select(
        "id",
        F.substring(F.sha2(norm, 256), 1, 16).alias("ph"),
    )
    # ONE scan per join side: the four band keys project into an array
    # and posexplode — a unionAll of four selects would re-scan the
    # corpus (and recompute the digest) once per branch, 8x total with
    # the self-join (the minhash_bands shape, operators/dedup)
    band_arr = F.array(
        *[F.substring("ph", st, ln) for st, ln in _PHASH_BANDS]
    )
    bands = m.select(
        "id", "ph", F.posexplode(band_arr).alias("b", "key")
    )
    a = bands.select(
        F.col("id").alias("media_a"), F.col("ph").alias("pha"), "b", "key"
    )
    bb = bands.select(
        F.col("id").alias("media_b"), F.col("ph").alias("phb"), "b", "key"
    )
    cand = (
        a.join(bb, ["b", "key"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b", "pha", "phb")
        .distinct()
    )
    half = lambda c, s: F.expr(f"cast(conv(substr({c}, {s}, 8), 16, 10) as bigint)")
    dist = (
        F.bit_count(half("pha", 1).bitwiseXOR(half("phb", 1)))
        + F.bit_count(half("pha", 9).bitwiseXOR(half("phb", 9)))
    )
    return (
        cand.select("media_a", "media_b", dist.cast("long").alias("hamming_dist"))
        .filter(F.col("hamming_dist") <= _PHASH_HAMMING_T)
    )


@query(
    "q272_contamination_overlap",
    oracle="""
WITH tk AS (
  SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, source,
         array_to_string(toks[i : i + 4], ' ') AS shingle
  FROM (
    SELECT doc_id, source, toks,
           unnest(range(1, greatest(len(toks) - 4, 0) + 1)) AS i
    FROM tk
  )
),
train_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
test_docs AS (SELECT doc_id, source FROM tk WHERE doc_id % 2 = 1),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM sh s JOIN train_sh USING (shingle)
  WHERE s.doc_id % 2 = 1
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_test_docs,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       round(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS contamination_rate
FROM test_docs t LEFT JOIN contaminated c ON t.doc_id = c.doc_id
GROUP BY source
""",
)
def q272_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit — the eval-integrity gate every
    training-data pipeline needs: a held-out (odd doc_id) document is
    contaminated when any of its word 5-grams appears in the training
    (even doc_id) half.  Exact 5-gram match; per-source contamination
    rate.  Scale shape: shingles join on the shingle string (equi-join,
    bucketable), the train side is DISTINCT shingles (heavy-hitter
    shingles collapse before the join), and the verdict per test doc is
    an EXISTS (left-semi before the distinct) — never a pairwise doc
    comparison.  At 100 TB you'd hash the shingles to fixed 8-byte keys
    (operators.dedup minhash path) and range-bucket the join; the audit
    shape is unchanged."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "source", "text"], rebalance=True, rebalance_key="doc_id")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    tk = d.select("doc_id", "source", toks.alias("toks"))
    # guard: Spark's sequence(1, stop) DESCENDS when stop < 1 (it would
    # fabricate shingles for a <5-token doc); DuckDB's range is empty there
    grams = F.when(
        F.size("toks") >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 4),
            lambda i: F.array_join(F.slice("toks", i, 5), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = tk.select("doc_id", F.explode(grams).alias("shingle"))
    train_sh = sh.filter(F.col("doc_id") % 2 == 0).select("shingle").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") % 2 == 1)
        .join(train_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    test_docs = tk.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source")
    hit = F.when(F.col("c_doc").isNotNull(), 1).otherwise(0)
    return (
        test_docs.join(
            contaminated.withColumnRenamed("doc_id", "c_doc"),
            test_docs.doc_id == F.col("c_doc"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_docs"),
            F.sum(hit).cast("long").alias("n_contaminated"),
            F.round(F.sum(hit) / F.count(F.lit(1)).cast("double"), 6).alias(
                "contamination_rate"
            ),
        )
    )


@query(
    "q329_dedup_cluster_quality",
    oracle=f"""
    WITH comps AS (SELECT node, cluster_id FROM ({_CLOSURE_ORACLE})),
    qual AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             round(
               CAST(len(list_distinct(list_filter(
                      string_split_regex(lower(text), '\\s+'), t -> t <> ''
                    ))) AS DOUBLE)
               / CAST(greatest(len(list_filter(
                        string_split_regex(lower(text), '\\s+'), t -> t <> ''
                      )), 1) AS DOUBLE),
               6) AS score
      FROM documents
    ),
    scored AS (
      SELECT c.cluster_id, c.node AS doc_id, q.n_chars, q.score,
             row_number() OVER (
               PARTITION BY c.cluster_id ORDER BY q.n_chars DESC, c.node
             ) AS keep_rk,
             row_number() OVER (
               PARTITION BY c.cluster_id ORDER BY q.score DESC, c.node
             ) AS best_rk
      FROM comps c JOIN qual q ON q.doc_id = c.node
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN keep_rk = 1 THEN doc_id END) AS BIGINT)
             AS kept_doc_id,
           max(CASE WHEN keep_rk = 1 THEN score END) AS kept_score,
           CAST(max(CASE WHEN best_rk = 1 THEN doc_id END) AS BIGINT)
             AS best_doc_id,
           max(CASE WHEN best_rk = 1 THEN score END) AS best_score,
           CAST(max(CASE WHEN best_rk = 1 THEN score END)
                  > max(CASE WHEN keep_rk = 1 THEN score END) AS BOOLEAN)
             AS quality_regret
    FROM scored GROUP BY cluster_id
    """,
)
def q329_dedup_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster quality eval vs the q227 representatives (r11 verdict
    #8): q227 keeps the LONGEST member of each near-dup cluster — this
    query measures what that criterion costs on an INDEPENDENT quality
    axis (lexical diversity: distinct-token share of non-empty tokens).
    Per cluster it emits the kept representative's score, the
    best-scoring member, and a ``quality_regret`` flag — true when the
    length criterion kept a strictly lower-diversity copy than some
    dropped member (the boilerplate-padded-mirror failure: padding wins
    on length, loses on diversity).  A curation pipeline alerts on the
    regret rate before shipping the dedup pass.

    Plan shape is q227's: the CC output (cluster-membership cardinality)
    joins documents once for the two per-doc scalars, two
    cluster-keyed windows (SAME partition key — one exchange) pick
    keeper and best, one aggregate emits the roster.  Nothing here
    rescans pairs; at 100 TB the cost is the dedup closure it already
    audits."""
    from pyspark.sql.window import Window

    docs, pairs = _near_dup_graph(spark, sf_dir)
    comps = D.connected_components(pairs)
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    qual = docs.select(
        F.col("doc_id").alias("node"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)).cast("double"),
            6,
        ).alias("score"),
    )
    scored = comps.join(qual, "node")
    w_keep = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "node")
    w_best = Window.partitionBy("cluster_id").orderBy(F.desc("score"), "node")
    ranked = scored.withColumn("keep_rk", F.row_number().over(w_keep)).withColumn(
        "best_rk", F.row_number().over(w_best)
    )
    kept_score = F.max(F.when(F.col("keep_rk") == 1, F.col("score")))
    best_score = F.max(F.when(F.col("best_rk") == 1, F.col("score")))
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(F.when(F.col("keep_rk") == 1, F.col("node")))
        .cast("long")
        .alias("kept_doc_id"),
        kept_score.alias("kept_score"),
        F.max(F.when(F.col("best_rk") == 1, F.col("node")))
        .cast("long")
        .alias("best_doc_id"),
        best_score.alias("best_score"),
        (best_score > kept_score).alias("quality_regret"),
    )
