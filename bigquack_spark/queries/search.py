"""Ranked-retrieval query inventory: BM25 search, inverted-index build,
BPE vocabulary seeding, and Gopher-style repetition filters — the search
half of the LLM-data-pipeline surface (SURVEY §2.9 extension).

Float portability follows the module conventions: all counts are BIGINT,
per-term scores are rounded to 6 digits BEFORE the cross-term sum, and the
sum itself is a fixed-order chain of coalesced pivot columns so both
engines add the same rounded doubles in the same order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.operators import text as X
from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t

#: The standing query, alphabetically ordered — the pivot-sum order below
#: depends on it, so keep it sorted.
BM25_TERMS = ("hash", "join", "spark")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10

_TOKS = "string_split_regex(lower(text), '\\s+')"

# Per-term BM25 partial, shared by both engines as the same textual formula:
#   idf  = ln(1 + (N - df + 0.5)/(df + 0.5))          (Lucene's BM25+ idf)
#   tfn  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
# rounded to 6 digits per term; summed in fixed alphabetical term order.


def _bm25_oracle() -> str:
    terms_sql = "[" + ", ".join(f"'{w}'" for w in BM25_TERMS) + "]"
    # fixed-order sum of the per-term pivot columns
    pivot_cols = ",\n             ".join(
        f"coalesce(max(CASE WHEN tok = '{w}' THEN s END), 0.0) AS s_{w}"
        for w in BM25_TERMS
    )
    chain = " + ".join(f"s_{w}" for w in BM25_TERMS)
    return f"""
    WITH dl AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
      WHERE tok IN (SELECT unnest({terms_sql}))
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(
               ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
                 / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl)),
               6
             ) AS s
      FROM tf
      JOIN df ON tf.tok = df.tok
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    per_doc AS (
      SELECT doc_id,
             {pivot_cols}
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT doc_id, round({chain}, 6) AS score,
             row_number() OVER (ORDER BY round({chain}, 6) DESC, doc_id) AS rk
      FROM per_doc
    )
    WHERE rk <= {BM25_TOP_K}
    """


@query("q141_bm25_search", oracle=_bm25_oracle())
def q141_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a standing query over the documents table.

    Plan shape: one explode->filter(query terms)->groupBy(doc, term) pass
    over the corpus (the term filter prunes the exploded stream to the
    query vocabulary immediately, so the shuffle carries only matching
    postings); the per-term document frequencies and the global (N, avgdl)
    statistics are tiny aggregates broadcast back onto the postings.  At
    100 TB the corpus is read once, the shuffle is bounded by
    |matching docs| x |query terms|, and the final top-k is a
    TakeOrderedAndProject — no global sort materializes.
    """
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    toks = d.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    dl = d.select("doc_id", F.size(X.tokens("text")).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfn = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tok", F.round(idf * tfn, 6).alias("s"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("tok") == w, F.col("s"))), F.lit(0.0)
            ).alias(f"s_{w}")
            for w in BM25_TERMS
        ]
    )
    # fixed-order chain: s_hash + s_join + s_spark (alphabetical, as the oracle)
    chain = F.col(f"s_{BM25_TERMS[0]}")
    for w in BM25_TERMS[1:]:
        chain = chain + F.col(f"s_{w}")
    ranked = per_doc.select("doc_id", F.round(chain, 6).alias("score"))
    # TakeOrderedAndProject bounds the result BEFORE the rank window runs,
    # so the (inevitably single-partition) ranking sees <= k rows.
    top = ranked.orderBy(F.desc("score"), "doc_id").limit(BM25_TOP_K)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "doc_id", "score", "rank"
    )


@query(
    "q142_inverted_index",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    postings AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS total_tf,
             array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',') AS sample_postings
      FROM tf GROUP BY tok
    ),
    top_doc AS (
      SELECT tok, doc_id AS top_doc_id
      FROM (
        SELECT tok, doc_id,
               row_number() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS rk
        FROM tf
      ) WHERE rk = 1
    )
    SELECT p.tok, p.df, p.total_tf, p.sample_postings, t.top_doc_id
    FROM postings p JOIN top_doc t ON p.tok = t.tok
    ORDER BY p.df DESC, p.tok
    LIMIT 50
    """,
)
def q142_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per-token postings (document frequency,
    total term frequency, the first 5 doc ids, and the argmax-tf document).

    One explode + one shuffle on the token builds the whole index; the
    postings-list sample is a bounded slice(sort_array(collect_list)), so
    per-token state is O(df) during the aggregate but the output row is
    O(5).  At 100 TB the index build is the canonical map-side-combine
    pattern: shuffle volume is (vocabulary x partitions), not corpus size.
    A production sink would write the full postings bucketed by token;
    the 5-element sample keeps the oracle diff bounded.
    """
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    tf = (
        d.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w = Window.partitionBy("tok").orderBy(F.desc("tf"), "doc_id")
    top_doc = (
        tf.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("tok", F.col("doc_id").alias("top_doc_id"))
    )
    postings = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
        # ','-joined canonical string: the driver's canonicalizer cannot
        # sort array cells (r2 verdict #2); a real index sink would write
        # the full postings as binary/bucketed files, not result cells
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5).cast("array<string>"),
            ",",
        ).alias("sample_postings"),
    )
    return (
        postings.join(top_doc, "tok")
        .orderBy(F.desc("df"), "tok")
        .limit(50)
        .select("tok", "df", "total_tf", "sample_postings", "top_doc_id")
    )


@query(
    "q146_bpe_pair_counts",
    oracle=f"""
    SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM (
      SELECT unnest(list_transform(range(1, length(tok)),
                                   i -> substr(tok, CAST(i AS INT), 2))) AS pair
      FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
      WHERE length(tok) >= 2
    )
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
)
def q146_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary seeding: corpus-wide adjacent-symbol-pair counts (the
    statistic the first byte-pair-encoding merge step maximises).

    Two nested explodes (token, then character-pair positions) stay
    per-row projections; the only shuffle is the pair-count aggregate,
    map-side-combined to |alphabet|^2 partial rows per partition — at
    100 TB shuffle volume is bounded by the pair vocabulary (~10k rows),
    independent of corpus size.  Iterating merges re-runs this counting
    kernel over the re-segmented corpus; each round is the same plan.
    """
    d = t(spark, sf_dir, "documents", columns=["text"], rebalance=True)
    toks = d.select(F.explode(X.tokens("text")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )


@query(
    "q143_gopher_repetition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS tk,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS cnt,
             CAST(length(bg) AS BIGINT) AS bg_chars
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i+1])) AS bg
        FROM toks
      )
      GROUP BY doc_id, bg
    ),
    top_bigram AS (
      SELECT doc_id, cnt AS top_bg_count, bg_chars AS top_bg_chars
      FROM (
        SELECT doc_id, cnt, bg_chars,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg) AS rk
        FROM bigrams
      ) WHERE rk = 1
    ),
    chars AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) AS n_chars
      FROM toks
    )
    SELECT t.doc_id,
           CAST(t.n_tokens - t.n_distinct AS DOUBLE) / t.n_tokens AS dup_word_frac,
           CAST(coalesce(b.top_bg_count, 0) * coalesce(b.top_bg_chars, 0) AS DOUBLE)
             / c.n_chars AS top_bigram_char_frac,
           (CAST(t.n_tokens - t.n_distinct AS DOUBLE) / t.n_tokens <= 0.90
            AND CAST(coalesce(b.top_bg_count, 0) * coalesce(b.top_bg_chars, 0) AS DOUBLE)
                / c.n_chars <= 0.20) AS repetition_ok
    FROM toks t
    JOIN chars c ON t.doc_id = c.doc_id
    LEFT JOIN top_bigram b ON t.doc_id = b.doc_id
    WHERE t.n_tokens > 0 AND c.n_chars > 0
    """,
)
def q143_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition filters: per-document duplicate
    word fraction and the fraction of characters covered by the most
    frequent word bigram, plus the composite keep/drop verdict (the
    published thresholds flag docs whose top 2-gram covers >20% of
    characters).

    The bigram histogram is a per-document explode + groupBy(doc, bigram)
    — one shuffle keyed by doc_id so each document's histogram reduces
    locally; the argmax is a per-doc window over that bounded histogram.
    All ratios are exact-integer divisions (deterministic IEEE), so the
    verdict booleans agree bitwise across engines.  Linear at 100 TB:
    state per doc is its own bigram vocabulary, never cross-document.
    """
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    tk = d.select(
        "doc_id",
        X.tokens("text").alias("tk"),
        F.size(X.tokens("text")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(X.tokens("text"))).cast("long").alias("n_distinct"),
    )
    chars = tk.select(
        "doc_id",
        F.aggregate(
            F.transform("tk", lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars"),
    )
    bigrams = (
        tk.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
                )
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("bg_chars", F.length("bg").cast("long"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), "bg")
    top_bigram = (
        bigrams.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("cnt").alias("top_bg_count"),
            F.col("bg_chars").alias("top_bg_chars"),
        )
    )
    dup_frac = (F.col("n_tokens") - F.col("n_distinct")).cast("double") / F.col(
        "n_tokens"
    )
    bg_frac = (
        F.coalesce(F.col("top_bg_count"), F.lit(0))
        * F.coalesce(F.col("top_bg_chars"), F.lit(0))
    ).cast("double") / F.col("n_chars")
    return (
        tk.join(chars, "doc_id")
        .join(top_bigram, "doc_id", "left")
        .filter((F.col("n_tokens") > 0) & (F.col("n_chars") > 0))
        .select(
            "doc_id",
            dup_frac.alias("dup_word_frac"),
            bg_frac.alias("top_bigram_char_frac"),
            ((dup_frac <= 0.90) & (bg_frac <= 0.20)).alias("repetition_ok"),
        )
    )


TYPO_KEY_CAP = 400  # bounded entity slice keeps the driver diff small


@query(
    "q149_entity_typo_pairs",
    oracle=f"""
    WITH vocab AS (
      SELECT c_name AS w FROM customer WHERE c_custkey <= {TYPO_KEY_CAP}
    ),
    keyed AS (
      SELECT w, unnest(list_distinct(
        [w] || list_transform(range(1, length(w) + 1),
                              i -> substr(w, 1, CAST(i AS INT) - 1)
                                   || substr(w, CAST(i AS INT) + 1, length(w)))
      )) AS k
      FROM vocab
    )
    SELECT DISTINCT a.w AS name_a, b.w AS name_b
    FROM keyed a JOIN keyed b ON a.k = b.k AND a.w < b.w
    WHERE levenshtein(a.w, b.w) = 1
    ORDER BY name_a, name_b
    """,
)
def q149_entity_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate mining via SymSpell deletion-
    neighborhood blocking: entity names within Levenshtein distance 1 of
    each other, found WITHOUT a pairwise product — each name expands to
    its single-deletion keys, candidates meet on an equi-join over the
    key, and only candidates pay the exact edit-distance verify (a
    deletion key can collide at distance 2, so the verify is
    load-bearing; single-char substitutions/insertions/deletions are all
    guaranteed to share a key).

    Scale shape: key fan-out is |name| keys per entity and the join is
    hash-partitioned on the deletion key — the standard way to fuzzy-
    match a 10^8-entity registry without 10^16 comparisons.  The same
    call fuzzy-matches a token vocabulary (swap the input column); the
    customer slice is used here because the synthetic corpus vocabulary
    contains no distance-1 word pairs to demonstrate on."""
    c = t(
        spark,
        sf_dir,
        "customer",
        columns=["c_custkey", "c_name"],
        predicate=f"c_custkey <= {TYPO_KEY_CAP}",
        rebalance=True,
    )
    vocab = c.select(F.col("c_name").alias("w"))
    keyed = vocab.select(
        "w",
        F.explode(
            F.array_union(
                F.array(F.col("w")),
                F.expr(
                    "transform(sequence(1, length(w)),"
                    " i -> concat(substring(w, 1, i - 1),"
                    "             substring(w, i + 1, length(w))))"
                ),
            )
        ).alias("k"),
    )
    a = keyed.select(F.col("w").alias("name_a"), "k")
    b = keyed.select(F.col("w").alias("name_b"), "k")
    return (
        a.join(b, "k")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") == 1)
        .select("name_a", "name_b")
        .distinct()
        .orderBy("name_a", "name_b")
    )


PMI_MIN_SUPPORT = 20
PMI_TOP = 20


@query(
    "q162_pmi_collocations",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dt),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS co_df
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY tok_a, tok_b
      HAVING count(*) >= {PMI_MIN_SUPPORT}
    )
    SELECT tok_a, tok_b, co_df,
           round(ln(CAST(p.co_df AS DOUBLE) * n.n_docs / (ua.df * CAST(ub.df AS DOUBLE))), 6) AS pmi
    FROM pairs p
    JOIN uni ua ON p.tok_a = ua.tok
    JOIN uni ub ON p.tok_b = ub.tok
    CROSS JOIN n
    ORDER BY pmi DESC, tok_a, tok_b
    LIMIT {PMI_TOP}
    """,
)
def q162_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: document-level pointwise mutual information of
    token pairs (which terms co-occur beyond chance) with a minimum
    support floor — the statistic behind phrase induction and
    domain-vocabulary discovery.

    The pair space is the per-document distinct-token self-join keyed on
    doc_id: work per document is O(distinct_tokens^2) — bounded by the
    per-doc vocabulary, never cross-document — and the pair aggregate is
    map-side combined down to the observed-pair vocabulary.  Unigram
    document frequencies are a broadcast-sized table joined back twice;
    the single ln() rides on exact-integer operands (same q55 contract).
    Production corpora cap per-doc distinct tokens before this join
    (the standard collocation-window bound)."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(X.tokens("text"))).alias("tok")
    )
    n_docs = dt.select("doc_id").distinct().count()
    uni = dt.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    a = dt.select("doc_id", F.col("tok").alias("tok_a"))
    b = dt.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("co_df"))
        .filter(F.col("co_df") >= PMI_MIN_SUPPORT)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    pmi = F.round(
        F.log(
            F.col("co_df").cast("double")
            * F.lit(float(n_docs))
            / (F.col("df_a") * F.col("df_b").cast("double"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .select("tok_a", "tok_b", "co_df", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(PMI_TOP)
    )


RRF_QUERIES = 3   # query docs: id < 3 (the bounded standing-query set)
RRF_POOL = 20     # depth of each ranked list feeding the fusion
RRF_K = 60        # the standard RRF dampening constant
RRF_TOP = 5       # fused results per query


@query(
    "q191_hybrid_rrf",
    oracle=f"""
    WITH sets_ AS (
      SELECT doc_id, list_distinct(string_split_regex(lower(text), '\\s+')) AS s
      FROM documents
    ),
    qs AS (SELECT doc_id AS qid, s AS qs FROM sets_ WHERE doc_id < {RRF_QUERIES}),
    lex AS (
      SELECT qid, doc_id, lex_rank FROM (
        SELECT q.qid, d.doc_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round(CAST(len(list_intersect(q.qs, d.s)) AS DOUBLE)
                   / (len(q.qs) + len(d.s) - len(list_intersect(q.qs, d.s))), 6) DESC,
                   d.doc_id) AS lex_rank
        FROM sets_ d CROSS JOIN qs q WHERE d.doc_id <> q.qid
      ) WHERE lex_rank <= {RRF_POOL}
    ),
    v AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    qv AS (SELECT doc_id AS qid, e AS qe FROM v WHERE doc_id < {RRF_QUERIES}),
    vec AS (
      SELECT qid, doc_id, vec_rank FROM (
        SELECT q.qid, d.doc_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round(list_dot_product(d.e, q.qe)
                   / (sqrt(list_dot_product(d.e, d.e)) * sqrt(list_dot_product(q.qe, q.qe))), 6) DESC,
                   d.doc_id) AS vec_rank
        FROM v d CROSS JOIN qv q WHERE d.doc_id <> q.qid
      ) WHERE vec_rank <= {RRF_POOL}
    ),
    fused AS (
      SELECT coalesce(l.qid, x.qid) AS qid,
             coalesce(l.doc_id, x.doc_id) AS doc_id,
             coalesce(1.0 / ({RRF_K} + l.lex_rank), 0.0)
               + coalesce(1.0 / ({RRF_K} + x.vec_rank), 0.0) AS rrf_raw,
             coalesce(l.lex_rank, 0) AS lex_rank,
             coalesce(x.vec_rank, 0) AS vec_rank
      FROM lex l FULL OUTER JOIN vec x
        ON l.qid = x.qid AND l.doc_id = x.doc_id
    )
    SELECT qid, doc_id, round(rrf_raw, 9) AS rrf_score,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(vec_rank AS BIGINT) AS vec_rank,
           CAST(fused_rank AS INTEGER) AS fused_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf_raw DESC, doc_id)
                  AS fused_rank
      FROM fused
    ) WHERE fused_rank <= {RRF_TOP}
    """,
)
def q191_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion — the standard
    lexical+vector fusion (Cormack et al. RRF): for each query document
    (id < ``RRF_QUERIES``; documents and embeddings share the id space),
    rank the corpus twice — exact unigram Jaccard on text, cosine on the
    embedding — take each list to depth ``RRF_POOL``, and fuse with
    score = Σ 1/(``RRF_K`` + rank).  Fusion needs only the integer RANKS,
    so the fused ordering is exactly reproducible cross-engine even
    though the underlying scores live in different metric spaces — the
    property that makes RRF the production default over score
    normalization.  Plan: both rankings are bounded-query-set broadcasts
    over the corpus (the whitelisted q40 shape); the fusion is a full
    outer join of two (query, doc, rank) lists + one window.  At scale
    each list feeds from its indexed path (BM25 postings q141/q142, ANN
    q41/q75) — the fusion stage is unchanged."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    e = t(spark, sf_dir, "embeddings")
    from bigquack_spark.operators.simsearch import cosine

    sets = d.select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("s")
    )
    qs = sets.filter(F.col("doc_id") < RRF_QUERIES).select(
        F.col("doc_id").alias("qid"), F.col("s").alias("qs")
    )
    inter = F.size(F.array_intersect("qs", "s")).cast("double")
    union = (F.size("qs") + F.size("s") - F.size(F.array_intersect("qs", "s"))).cast("double")
    wl = Window.partitionBy("qid").orderBy(F.desc("jac"), "doc_id")
    lex = (
        sets.crossJoin(F.broadcast(qs))
        .filter(F.col("doc_id") != F.col("qid"))
        .select("qid", "doc_id", F.round(inter / union, 6).alias("jac"))
        .withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= RRF_POOL)
        .select("qid", "doc_id", "lex_rank")
    )
    v = e.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    qv = v.filter(F.col("doc_id") < RRF_QUERIES).select(
        F.col("doc_id").alias("qid"), F.col("v").alias("qvec")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("cos"), "doc_id")
    vec = (
        v.crossJoin(F.broadcast(qv))
        .filter(F.col("doc_id") != F.col("qid"))
        .select("qid", "doc_id", F.round(cosine(F.col("v"), F.col("qvec")), 6).alias("cos"))
        .withColumn("vec_rank", F.row_number().over(wv))
        .filter(F.col("vec_rank") <= RRF_POOL)
        .select("qid", "doc_id", "vec_rank")
    )
    fused = lex.join(vec, ["qid", "doc_id"], "full").select(
        "qid", "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf_raw"),
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("rrf_raw"), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("fused_rank") <= RRF_TOP)
        .select(
            "qid", "doc_id", F.round("rrf_raw", 9).alias("rrf_score"),
            "lex_rank", "vec_rank", "fused_rank",
        )
    )


PHRASE = ("table", "hash")  # the corpus's most frequent bigram (q56)


@query(
    "q239_phrase_search",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM documents
    ),
    pos AS (
      SELECT doc_id,
             unnest(range(1, n + 1)) AS p,
             unnest(toks) AS tok
      FROM tk
    ),
    first_tok AS (SELECT doc_id, p FROM pos WHERE tok = '{PHRASE[0]}'),
    second_tok AS (SELECT doc_id, p FROM pos WHERE tok = '{PHRASE[1]}')
    SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(f.p) AS BIGINT) AS first_pos
    FROM first_tok f JOIN second_tok s
      ON s.doc_id = f.doc_id AND s.p = f.p + 1
    GROUP BY f.doc_id
    """,
)
def q239_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search — the retrieval capability BM25
    (q141) and the inverted index (q142) cannot express: exact-phrase
    match '{PHRASE[0]} {PHRASE[1]}' via a positions join (term1 at p,
    term2 at p+1), returning occurrence counts and first position per
    document.  This is how every FTS engine runs quoted queries; the
    distributed form is the same plan with the positional postings
    PRE-BUILT and bucketed by term (q142's sink note) so the join reads
    two term partitions instead of tokenizing the corpus.  The position
    explode is a zero-shuffle projection; the phrase join is
    (doc_id, position)-keyed equi on term-filtered slivers — bounded by
    term frequency, never corpus size."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    pos = d.select(
        "doc_id",
        F.posexplode(X.tokens("text")).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    first_tok = pos.filter(F.col("tok") == PHRASE[0]).select("doc_id", "p")
    second_tok = pos.filter(F.col("tok") == PHRASE[1]).select(
        "doc_id", (F.col("p") - 1).alias("p")
    )
    return (
        first_tok.join(second_tok, ["doc_id", "p"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("p").cast("long").alias("first_pos"),
        )
    )


def _bpe_merge_oracle(n_rounds: int = 3) -> str:
    """Unrolled BPE training rounds in DuckDB: wrapped-symbol word table
    (chr(1)/chr(2) delimiters — operators/text.py BPE_SOS/BPE_EOS), per
    round a pair count + deterministic argmax + literal string replace.
    The q247 UNNEST-with-position idiom extracts adjacent pairs."""
    sos, eos = "chr(1)", "chr(2)"
    sql = f"""
    WITH w0 AS (
      SELECT regexp_replace(tok, '(.)', {sos} || '\\1' || {eos}, 'g') AS w,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
      WHERE length(tok) > 0
        AND tok NOT LIKE '%' || {sos} || '%'
        AND tok NOT LIKE '%' || {eos} || '%'
      GROUP BY 1
    )"""
    for r in range(1, n_rounds + 1):
        sql += f""",
    p{r} AS (
      SELECT lft, rgt, CAST(sum(freq) AS BIGINT) AS n FROM (
        SELECT freq, u.l AS lft, u.r AS rgt FROM (
          SELECT freq,
                 regexp_extract_all(w, {sos} || '([^' || {eos} || ']*)' || {eos}, 1) AS syms
          FROM w{r - 1}
        ), UNNEST(list_transform(range(1, len(syms)),
                                 i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS t(u)
      ) GROUP BY lft, rgt
    ),
    b{r} AS (SELECT lft, rgt, n FROM p{r} ORDER BY n DESC, lft, rgt LIMIT 1),
    w{r} AS (
      SELECT replace(
               w,
               (SELECT {sos} || lft || {eos} || {sos} || rgt || {eos} FROM b{r}),
               (SELECT {sos} || lft || rgt || {eos} FROM b{r})
             ) AS w, freq
      FROM w{r - 1}
    )"""
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, lft, rgt, lft || rgt AS merged, n FROM b{r}"
        for r in range(1, n_rounds + 1)
    )
    sql += f"""
    SELECT CAST(round AS INTEGER) AS round, lft AS "left", rgt AS "right",
           merged, n AS n_occurrences
    FROM ({finals}) ORDER BY round
    """
    return sql


@query("q311_bpe_merge_table", oracle=_bpe_merge_oracle())
def q311_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, three merge rounds over the documents
    corpus (r7 verdict #6's oracle-paired leg; twin of
    ``operators/text.train_bpe``): per round, the corpus-frequency-
    weighted adjacent-pair argmax (ties (left, right)-lexicographic) and
    the greedy left-to-right merge of that pair in every vocabulary word.
    q146 is exactly ONE round of this loop's counting kernel.

    Plan shape per round (the real trainer's shape at any scale): the
    corpus collapses ONCE to a frequency-weighted word table; each round
    shuffles only pair-vocabulary-bounded counts and collects ONE row
    (the argmax) to drive a per-row literal string replace.  The oracle
    unrolls the same three rounds in SQL."""
    from bigquack_spark.operators.text import train_bpe

    d = t(spark, sf_dir, "documents", columns=["text"], rebalance=True)
    return train_bpe(d, n_merges=3)


def _bpe_segmentation_oracle() -> str:
    """q312: apply the three q311 merges and histogram symbols-per-token —
    the chain's w3 table re-segmented."""
    base = _bpe_merge_oracle(3)
    # reuse the w0..w3/b1..b3 CTE chain: strip q311's final SELECT
    chain = base[: base.rindex("SELECT CAST(round AS INTEGER)")]
    return chain + """
    SELECT n_symbols, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(freq) AS BIGINT) AS n_token_occurrences
    FROM (
      SELECT CAST(len(regexp_extract_all(
               w, chr(1) || '([^' || chr(2) || ']*)' || chr(2), 1)) AS BIGINT)
               AS n_symbols,
             freq
      FROM w3
    )
    GROUP BY n_symbols
    ORDER BY n_symbols
    """


@query("q312_bpe_segmentation", oracle=_bpe_segmentation_oracle())
def q312_bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-quality readout for the q311 trainer: apply its three
    merges to the vocabulary and histogram symbols-per-token (weighted by
    corpus occurrences) — the compression curve a tokenizer review reads
    (every merge drops some words' symbol count; the histogram is the
    aggregate effect).  Plan: train_bpe's loop (vocabulary-bounded) plus
    one more per-row re-segmentation and a histogram aggregate bounded by
    max token length."""
    from bigquack_spark.operators.text import (
        BPE_EOS,
        BPE_SOS,
        _bpe_word_table,
        train_bpe,
    )

    d = t(spark, sf_dir, "documents", columns=["text"], rebalance=True)
    merges = train_bpe(d, n_merges=3).collect()  # 3 rows, bounded
    words = _bpe_word_table(d)
    w = F.col("w")
    for m in merges:
        pat = f"{BPE_SOS}{m.left}{BPE_EOS}{BPE_SOS}{m.right}{BPE_EOS}"
        rep = f"{BPE_SOS}{m.left}{m.right}{BPE_EOS}"
        w = F.replace(w, F.lit(pat), F.lit(rep))
    n_syms = F.size(
        F.regexp_extract_all(w, F.lit(f"{BPE_SOS}([^{BPE_EOS}]*){BPE_EOS}"), F.lit(1))
    ).cast("long")
    return (
        words.select(n_syms.alias("n_symbols"), "freq")
        .groupBy("n_symbols")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("n_token_occurrences"),
        )
        .orderBy("n_symbols")
    )
