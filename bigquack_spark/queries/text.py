"""Text-analysis query inventory (SURVEY §2.9): token stats, quality
scoring, language ID, fingerprinting — over the documents table.

Oracle SQL is GENERATED from the same constants the Spark operators use
(stopword list, language marker vocabularies), so the two engines can never
drift.  All ratios are exact-integer divisions (deterministic IEEE doubles);
no accumulation-order float risk anywhere in this module.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.operators import text as X
from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_TOKS = "string_split_regex(lower(text), '\\s+')"


@query(
    "q50_token_stats",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_token_chars,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS avg_token_len
    FROM tk
    """,
)
def q50_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenization, counts + distinct counts +
    mean token length, all as codegen'd array expressions (zero shuffle)."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    return X.token_stats(d).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "total_token_chars", "avg_token_len"
    )


@query(
    "q51_quality_signals",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_obs,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) AS alpha_ratio,
           CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) AS space_ratio,
           CAST(len(list_filter({_TOKS}, x -> list_contains({_sql_list(X.STOPWORDS)}, x))) AS DOUBLE)
             / CAST(len({_TOKS}) AS DOUBLE) AS stopword_ratio,
           (len({_TOKS}) >= 5
            AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) > 0.5
            AND CAST(len(list_filter({_TOKS}, x -> list_contains({_sql_list(X.STOPWORDS)}, x))) AS DOUBLE)
                  / CAST(len({_TOKS}) AS DOUBLE) < 0.9) AS quality_pass
    FROM documents
    """,
)
def q51_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: alpha/space/stopword ratios + composite
    keep/drop flag — the filtering front door of a training-data pipeline."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    return X.quality_signals(d).select(
        "doc_id", "n_chars_obs", "n_tokens", "alpha_ratio", "space_ratio",
        "stopword_ratio", "quality_pass",
    )


def _lang_hits_sql(lang: str) -> str:
    return (
        f"len(list_filter({_TOKS}, x -> list_contains("
        f"{_sql_list(X.LANG_MARKERS[lang])}, x)))"
    )


def _lang_case_sql() -> str:
    """CASE chain implementing argmax with alphabetical tiebreak — the exact
    semantics of the greatest-of-structs expression in operators.text.lang_id."""
    langs = sorted(X.LANG_MARKERS)
    clauses = []
    for i, lang in enumerate(langs):
        rest = langs[i + 1 :]
        if not rest:
            clauses.append(f"ELSE '{lang}'")
        else:
            conds = " AND ".join(f"h_{lang} >= h_{r}" for r in rest)
            clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " END"


@query(
    "q52_lang_id",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {', '.join(f'{_lang_hits_sql(lg)} AS h_{lg}' for lg in sorted(X.LANG_MARKERS))}
      FROM documents
    )
    SELECT doc_id, lang, {_lang_case_sql()} AS predicted_lang,
           (lang = {_lang_case_sql()}) AS is_correct
    FROM h
    """,
)
def q52_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-vocabulary hit counts, argmax with
    alphabetical tiebreak.  (The synthetic corpus is English word soup, so
    accuracy is meaningless — the operator shape is what's exercised.)"""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text", "lang"], rebalance=True, rebalance_key="doc_id")
    return X.lang_id(d).select(
        "doc_id",
        "lang",
        "predicted_lang",
        (F.col("lang") == F.col("predicted_lang")).alias("is_correct"),
    )


@query(
    "q53_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           md5(array_to_string({_TOKS}[1:4], ' ')) AS prefix_fingerprint
    FROM documents
    """,
)
def q53_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized text + a
    4-token-prefix fingerprint (cheap near-dup triage key)."""
    # rebalance: the regex-normalize+md5 kernel is per-row compute; a
    # 1-task scan pins it (interleaved A/B: 0.259 s -> 0.175 s, -32%)
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"],
          rebalance=True, rebalance_key="doc_id")
    return X.fingerprint(d).select("doc_id", "fingerprint", "prefix_fingerprint")


@query(
    "q60_multimodal_features",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           'image' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST(16 + CAST('0x' || substr(sha256(text), 1, 2) AS INTEGER) % 240
                AS INTEGER) AS width,
           CAST(16 + CAST('0x' || substr(sha256(text), 3, 2) AS INTEGER) % 240
                AS INTEGER) AS height,
           CASE CAST('0x' || substr(sha256(text), 5, 2) AS INTEGER) % 3
             WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
           substr(sha256(text), 1, 16) AS phash
    FROM documents
    """,
)
def q60_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: wrap document text bytes as an opaque binary
    payload, decode via an Arrow-batched mapInPandas kernel (deterministic
    sha256-based fake codec — the container ships no image libs), emit
    typed metadata.  Because the fake decode is a pure digest function,
    even the PYTHON KERNEL is oracle-diffable: DuckDB recomputes the same
    metadata from sha256 of the same utf-8 bytes — the oracle checks the
    Arrow batch plumbing end to end, not just the plan shape."""
    from bigquack_spark.operators import multimodal as M

    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"])
    media = M.attach_binary_payload(d, "doc_id", "text", kind="image")
    return M.decode_media(media)


@query(
    "q54_top_tokens",
    oracle=f"""
    SELECT tok, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT 20
    """,
)
def q54_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 tokens by occurrence (deterministic
    tiebreak on the token).  Explode -> one narrow shuffle on the token;
    partial aggregation collapses each partition's counts first, so shuffle
    volume is bounded by vocabulary x partitions, not corpus size."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    return (
        d.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "tok")
        .limit(20)
    )


@query(
    "q55_tf_idf_top_term",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tf_idf
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok AS top_term, tf_idf
    FROM (
      SELECT doc_id, tok, tf_idf,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY tf_idf DESC, tok
             ) AS rk
      FROM scored
    )
    WHERE rk = 1
    """,
)
def q55_tf_idf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency per doc x inverse document frequency, top
    term per document.  The document-frequency table is tiny (bounded by
    vocabulary) and broadcast back onto the tf rows — the corpus never
    shuffles twice."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    toks = d.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar; driver-side by design (single long)
    scored = tf.join(F.broadcast(dfreq), "tok").select(
        "doc_id",
        "tok",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tf_idf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf_idf"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), "tf_idf")
    )


@query(
    "q56_top_bigrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents)
    SELECT bigram, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                                   i -> array_to_string(tk[i:i+1], ' '))) AS bigram
      FROM toks
    )
    GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT 15
    """,
)
def q56_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word n-gram extraction (bigrams): per-row sliding window over the
    token array (pure projection), then the count aggregate.  DuckDB builds
    the same bigrams via list slicing — both sides join consecutive token
    pairs with a single space."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    # token array STAGED as a column (r13, q139 lesson): a Column-shaped
    # `tk` inside the bigram lambda re-runs the tokenizer split per element
    tk = F.col("__tk")
    # guard: sequence(0, -1) would DESCEND for 1-token docs — emit no bigrams
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 2),
            lambda i: F.concat_ws(" ", F.get(tk, i), F.get(tk, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.withColumn("__tk", X.tokens("text"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(15)
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@query(
    "q57_chunking",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST((start - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           array_to_string(toks[start : start + {CHUNK_TOKENS} - 1], ' ') AS chunk_text,
           CAST(len(toks[start : start + {CHUNK_TOKENS} - 1]) AS BIGINT) AS n_chunk_tokens
    FROM (
      SELECT doc_id, toks, unnest(range(1, len(toks) + 1, {CHUNK_STRIDE})) AS start
      FROM tk
    )
    """,
)
def q57_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training pipelines: overlapping ``CHUNK_TOKENS``-token
    windows at stride ``CHUNK_STRIDE``.  Pure per-row projection (sequence of start
    offsets -> slice -> join) then one explode — no shuffle at all; chunk
    fan-out is proportional to document length, the scale-correct shape."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    tk = X.tokens("text")
    starts = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(tk)), F.lit(CHUNK_STRIDE))
    chunks = d.select(
        "doc_id", tk.alias("toks"), F.explode(starts).alias("start")
    )
    sliced = F.slice(F.col("toks"), F.col("start"), F.lit(CHUNK_TOKENS))
    return chunks.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.array_join(sliced, " ").alias("chunk_text"),
        F.size(sliced).cast("bigint").alias("n_chunk_tokens"),
    )


#: Conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
    "url": r"https?://[^ ]+",
}


@query(
    "q58_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
               '{PII_PATTERNS["url"]}', '<URL>', 'g'),
             '{PII_PATTERNS["phone"]}', '<PHONE>', 'g') AS scrubbed_text,
           (length(text) - length(regexp_replace(text, '{PII_PATTERNS["email"]}', '', 'g'))
             > 0) AS had_email
    FROM documents
    """,
)
def q58_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/URL/phone redaction as chained regexp_replace —
    pure JVM per-row projection, the standard pre-training hygiene pass.
    Patterns restricted to the Java-regex ∩ RE2 dialect so the oracle
    replays them verbatim."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_PATTERNS["email"], "<EMAIL>"),
            PII_PATTERNS["url"], "<URL>",
        ),
        PII_PATTERNS["phone"], "<PHONE>",
    )
    had_email = (
        F.length("text") - F.length(F.regexp_replace("text", PII_PATTERNS["email"], ""))
    ) > 0
    return d.select("doc_id", scrubbed.alias("scrubbed_text"), had_email.alias("had_email"))


SHARD_TOKENS = 2000


@query(
    "q59_token_sharding",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM sized
    )
    SELECT doc_id, n_tokens,
           CAST((cum_tokens - 1) // {SHARD_TOKENS} AS INTEGER) AS shard_id
    FROM packed
    """,
)
def q59_token_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEST-TIER ONLY — totally-ordered training-shard assignment via one
    global-order window (SinglePartition by construction; it pins the
    single-ordering packing semantics, same contract as
    operators/corpus.pack_shards(global_order=True)).  The input is one
    row per DOCUMENT with two ints, so it survives a few hundred million
    rows, but the 100 TB surfaces are q107 (auto-sliced default) and q115
    (explicit slice column), whose plans contain no SinglePartition."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"])
    sized = d.select("doc_id", F.size(X.tokens("text")).cast("bigint").alias("n_tokens"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return sized.select(
        "doc_id",
        "n_tokens",
        (((F.sum("n_tokens").over(w)) - 1) / SHARD_TOKENS).cast("int").alias("shard_id"),
    )


_EMB_DIM = 8
_EMB_SQL = " , ".join(
    f"((CAST('0x' || substr(sha256(text), {2*i+1}, 2) AS BIGINT)) - 127.5) / 127.5"
    for i in range(_EMB_DIM)
)


@query(
    "q93_multimodal_retrieval",
    oracle=f"""
    WITH emb AS (
      SELECT doc_id, [{_EMB_SQL}] AS e FROM documents
    ),
    q AS (SELECT doc_id AS qid, e AS qe FROM emb WHERE doc_id < 5),
    sims AS (
      SELECT q.qid, emb.doc_id AS neighbor_id,
             round(
               list_dot_product(emb.e, q.qe)
               / (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(q.qe, q.qe))),
               6
             ) AS cosine_sim
      FROM emb CROSS JOIN q
      WHERE emb.doc_id <> q.qid
    )
    SELECT qid, neighbor_id, cosine_sim, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT qid, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM sims
    )
    WHERE rk <= 5
    """,
)
def q93_multimodal_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal retrieval end to end: opaque binary payloads -> Arrow-
    batched embedding kernel (mapInPandas, digest-based stand-in for a real
    encoder) -> brute-force cosine top-5 over the resulting vector column.
    The full chain — binary plumbing, Python kernel batch shape, vector
    search — is oracle-diffed: DuckDB rebuilds the identical embeddings
    from sha256 hex and must produce the identical neighbor ranking."""
    from bigquack_spark.operators import multimodal as M
    from bigquack_spark.operators import simsearch as S

    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    media = M.attach_binary_payload(d, "doc_id", "text", kind="image")
    emb = M.pseudo_embed(media, dim=_EMB_DIM)
    # query side filters BEFORE the kernel: the broadcast subtree embeds 5
    # rows, not the whole corpus (the filter pushes into the scan)
    dq = t(spark, sf_dir, "documents", columns=["doc_id", "text"],
           predicate="doc_id < 5")
    queries = M.pseudo_embed(M.attach_binary_payload(dq, "doc_id", "text", kind="image"),
                             dim=_EMB_DIM)
    return S.cosine_topk(emb, queries, k=5, id_col="media_id", vec_col="embedding")


@query(
    "q120_c4_quality_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
               / len(tk) AS mean_word_len,
             CAST(len(list_filter(tk, x -> x IN ('a', 'the'))) AS DOUBLE)
               / len(tk) AS stop_ratio,
             CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS distinct_ratio
      FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, stop_ratio, distinct_ratio,
           (n_words BETWEEN 20 AND 200
            AND mean_word_len BETWEEN 2.0 AND 8.0
            AND stop_ratio <= 0.3
            AND distinct_ratio >= 0.25) AS keep
    FROM m
    """,
)
def q120_c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic quality gate: word count band, mean word length
    band, stopword-ratio cap, distinct-word-ratio floor — the cheap
    rule cascade a corpus pass runs BEFORE any model-based scoring, with
    every signal emitted so the keep decision is auditable.  Pure per-row
    projection (array ops over the token split, zero shuffle, rides the
    scan); every ratio divides the same integers in both engines, so the
    doubles — and the keep booleans at the thresholds — agree bitwise."""
    d = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    toks = F.split(F.lower("text"), r"\s+")
    n = F.size(toks)
    mean_wl = (
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double") / n
    )
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin("a", "the"))).cast("double") / n
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    m = d.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_ratio.alias("stop_ratio"),
        distinct_ratio.alias("distinct_ratio"),
    )
    keep = (
        F.col("n_words").between(20, 200)
        & F.col("mean_word_len").between(2.0, 8.0)
        & (F.col("stop_ratio") <= 0.3)
        & (F.col("distinct_ratio") >= 0.25)
    )
    return m.withColumn("keep", keep)


@query(
    "q131_nfc_canonical_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')))
             AS canon_fingerprint,
           (nfc_normalize(text) = text) AS was_canonical
    FROM documents
    """,
)
def q131_nfc_canonical_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-canonical fingerprinting: NFC-normalize BEFORE hashing so
    composed and decomposed forms of the same text dedup together (the q53
    fingerprint misses them).  The NFC pass is an Arrow-batched mapInPandas
    kernel (Spark has no normalize expression; unicodedata is C-speed);
    the oracle recomputes with DuckDB's nfc_normalize — the Unicode
    standard defines one NFC, so the kernel's bytes and DuckDB's bytes must
    agree, which makes even this Python kernel oracle-diffable (same
    pattern as q60's digest codec).  tests/test_ops.py exercises genuinely
    non-ASCII composed/decomposed pairs; the synthetic corpus itself is
    ASCII (was_canonical all true), so the driver check pins the plumbing
    while the pytest pins the normalization semantics."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    canon = X.nfc_canonicalize(d, "text", "canon_text")
    return canon.select(
        "doc_id",
        F.md5(
            F.trim(F.regexp_replace(F.lower("canon_text"), r"\s+", " "))
        ).alias("canon_fingerprint"),
        (F.col("canon_text") == F.col("text")).alias("was_canonical"),
    )


@query(
    "q138_bpe_token_count",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             list_filter(
               regexp_extract_all(text, '{X.BPE_SPLIT.replace("'", "''")}'),
               x -> regexp_matches(x, '\\S')
             ) AS pieces,
             string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(pieces) AS BIGINT) AS n_bpe_tokens,
           CAST(len(ws) AS BIGINT) AS n_ws_tokens,
           round(CAST(len(pieces) AS DOUBLE) / len(ws), 6) AS bpe_ws_ratio
    FROM p
    """,
)
def q138_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fidelity token counting (SURVEY §2.9 'whitespace + a
    BPE-ish regex'): the GPT-2-style pre-tokenizer split, counted per doc
    alongside the whitespace count and their ratio — the correction factor
    a token-budget packer needs on punctuation/contraction-heavy text.
    The pattern lives in the Java-regex ∩ RE2 dialect, so the oracle
    replays it verbatim (probed identical piece-by-piece on contractions,
    accented letters, digit runs, punctuation runs)."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    return X.bpe_token_count(d).select(
        "doc_id", "n_bpe_tokens", "n_ws_tokens", "bpe_ws_ratio"
    )


def _winnow_sql() -> str:
    """The tk/h/r/wnd winnowing CTE chain shared by the q139/q173/q247
    oracles (r4 review: three hand-copied blocks with hardcoded offsets
    could silently desync from WINNOW_K/WINNOW_W).  Every offset here is
    DERIVED from the operator's constants: the rolling fold unrolls k
    terms, the roll index range spans len(hh)-k+1 windows, and each
    winnow window takes list_min over w consecutive rolling hashes."""
    k, w, b = X.WINNOW_K, X.WINNOW_W, X.WINNOW_BASE
    fold = "hh[i]"
    for j in range(1, k):
        fold = f"({fold})*{b} + hh[i+{j}]"
    return f"""tk AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 6) AS BIGINT)) AS hh
      FROM tk
    ),
    r AS (
      SELECT doc_id,
             CASE WHEN len(hh) >= {k} THEN
               list_transform(range(1, len(hh) - {k - 2}), i -> {fold})
             ELSE [] END AS roll
      FROM h
    ),
    wnd AS (
      SELECT doc_id,
             CASE WHEN len(roll) >= {w} THEN
               list_transform(range(1, len(roll) - {w - 2}),
                              i -> list_min(roll[i:i+{w - 1}]))
             ELSE [] END AS wins
      FROM r
    )"""


@query(
    "q139_winnowing_fingerprint",
    oracle=f"""
    WITH {_winnow_sql()}
    SELECT doc_id,
           CAST(len(list_distinct(wins)) AS BIGINT) AS n_fps,
           md5(array_to_string(list_sort(list_distinct(wins)), ',')) AS fp_digest
    FROM wnd
    """,
)
def q139_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprinting (SURVEY §2.9 'document fingerprinting
    (rolling hash)'): Rabin-Karp polynomial hashes over 4-token windows,
    winnowed to per-window minima (Schleimer et al. / MOSS) — shared runs
    of >= 7 tokens between documents are guaranteed to share a
    fingerprint, and local edits only perturb nearby fingerprints, unlike
    the whole-doc hash q53.  All arithmetic is exact BIGINT (24-bit token
    hashes, base 131, no modulus), so both engines produce identical
    fingerprint sets and the md5 digest of the sorted set diffs
    bit-exactly.  Zero shuffle — rides the scan."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    fp = X.winnow_fingerprints(d)
    return fp.select(
        "doc_id",
        "n_fps",
        F.md5(
            F.array_join(
                F.transform(F.array_sort("fps"), lambda x: x.cast("string")), ","
            )
        ).alias("fp_digest"),
    )


@query(
    "q155_lang_confusion",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {', '.join(f'{_lang_hits_sql(lg)} AS h_{lg}' for lg in sorted(X.LANG_MARKERS))}
      FROM documents
    ),
    pred AS (SELECT lang, {_lang_case_sql()} AS predicted_lang FROM h)
    SELECT lang AS declared_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY declared_lang, predicted_lang
    ORDER BY declared_lang, predicted_lang
    """,
)
def q155_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-audit confusion matrix: the declared ``lang`` column
    cross-tabulated against the n-gram classifier's prediction (q52) —
    the drift detector that catches a crawler mislabeling a source or a
    partner feed lying about its language mix.  Bounded output
    (|langs|^2 rows); the classification is the same zero-shuffle
    projection as q52 and the crosstab is one tiny keyed aggregate."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text", "lang"], rebalance=True, rebalance_key="doc_id")
    return (
        X.lang_id(d)
        .groupBy(
            F.col("lang").alias("declared_lang"),
            "predicted_lang",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("declared_lang", "predicted_lang")
    )


BOILER_MIN_DOCS = 20  # fingerprint shared by >= this many docs = boilerplate


@query(
    "q173_boilerplate_spans",
    oracle=f"""
    WITH {_winnow_sql()},
    fp AS (
      SELECT doc_id, unnest(list_distinct(wins)) AS f FROM wnd
    ),
    dfreq AS (
      SELECT f, CAST(count(*) AS BIGINT) AS n_docs FROM fp GROUP BY f
    ),
    per_doc AS (
      SELECT fp.doc_id,
             CAST(count(*) AS BIGINT) AS n_fps,
             CAST(sum(CASE WHEN d.n_docs >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boiler
      FROM fp JOIN dfreq d USING (f)
      GROUP BY fp.doc_id
    )
    SELECT doc_id, n_fps, n_boiler,
           round(CAST(n_boiler AS DOUBLE) / n_fps, 6) AS boiler_frac
    FROM per_doc
    """,
)
def q173_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate mining — the crawl-cleaning twin of
    q139: a winnowing fingerprint shared by >= ``BOILER_MIN_DOCS`` distinct
    documents marks a boilerplate token span (headers, footers, license
    blocks — the spans MinHash under-weights because they ride inside
    otherwise-distinct pages), and each document reports what fraction of
    its fingerprints are boilerplate.  Pipeline: per-doc fingerprints
    (zero-shuffle projection, q139's exact-BIGINT rolling hash) ->
    explode -> fingerprint document-frequency (ONE map-side-combined
    shuffle on the fingerprint key, same shape as a df count) -> join
    back and re-aggregate per doc.  Never pairwise: cost is linear in
    total fingerprints at any corpus size, and a hot fingerprint (in
    every doc) is just a big count, not a big join group.  The oracle
    replays the identical integer pipeline."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    # Materialize the fingerprint arrays BEFORE exploding: feeding the
    # nested winnowing transform tree straight into a Generate lets the
    # optimizer inline it per output element (observed ~100x slowdown /
    # hang at tiny scale).  localCheckpoint flattens the lineage the same
    # way the connected-components operator does; the checkpointed data
    # is doc_id + the compact fingerprint arrays, ~1% of corpus bytes.
    arrs = X.winnow_fingerprints(d).select("doc_id", "fps").localCheckpoint(eager=False)
    fp = arrs.select("doc_id", F.explode("fps").alias("f"))
    # document frequency via a window on the fingerprint key rather than a
    # groupBy + self-join: one f-keyed shuffle serves the count AND the
    # per-doc re-aggregation input.
    wf = Window.partitionBy("f")
    counted = fp.select(
        "doc_id", F.count(F.lit(1)).over(wf).alias("n_docs")
    )
    per_doc = counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.sum(
            F.when(F.col("n_docs") >= BOILER_MIN_DOCS, 1).otherwise(0)
        ).cast("long").alias("n_boiler"),
    )
    return per_doc.select(
        "doc_id", "n_fps", "n_boiler",
        F.round(F.col("n_boiler").cast("double") / F.col("n_fps"), 6).alias("boiler_frac"),
    )


ZIPF_TOP = 30  # head of the rank-frequency curve used for the log-log fit


@query(
    "q193_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
    ),
    freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok
    ),
    ranked AS (
      SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk
      FROM freq
    ),
    head AS (SELECT * FROM ranked WHERE rnk <= {ZIPF_TOP}),
    lists AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             list(ln(CAST(rnk AS DOUBLE)) ORDER BY rnk) AS lx,
             list(ln(CAST(n AS DOUBLE)) ORDER BY rnk) AS ly,
             list(ln(CAST(rnk AS DOUBLE)) * ln(CAST(n AS DOUBLE)) ORDER BY rnk) AS lxy,
             list(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)) ORDER BY rnk) AS lxx
      FROM head
    ),
    sums AS (
      SELECT m,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), lx), (a, x) -> a + x) AS sx,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), ly), (a, x) -> a + x) AS sy,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), lxy), (a, x) -> a + x) AS sxy,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), lxx), (a, x) -> a + x) AS sxx
      FROM lists
    )
    SELECT m AS n_tokens_fit,
           round((m * sxy - sx * sy) / (m * sxx - sx * sx), 9) AS zipf_slope,
           round((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m, 9)
             AS zipf_intercept
    FROM sums
    """,
)
def q193_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus rank-frequency curve — the one-row
    corpus-health gauge: natural text slopes near -1 on the log-log head;
    a flat slope says templated/boilerplate text, a cliff says synthetic
    or truncated vocabulary.  OLS over the top-``ZIPF_TOP`` ranks, with
    every double sum computed as a SEQUENTIAL FOLD over rank-sorted
    lists (q184's discipline) so Sx/Sy/Sxy/Sxx — and therefore the
    slope — are bit-identical cross-engine.  Scale: the token count is
    the corpus-sized map-side-combined shuffle (q146's shape); ranking
    and the fit run on VOCABULARY-sized data, and the fold arrays hold
    ``ZIPF_TOP`` doubles."""
    d = t(spark, sf_dir, "documents", columns=["text"], rebalance=True)
    freq = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = freq.select(
        "tok", "n",
        F.row_number().over(Window.orderBy(F.desc("n"), "tok")).alias("rnk"),
    ).filter(F.col("rnk") <= ZIPF_TOP)
    lx = F.log(F.col("rnk").cast("double"))
    ly = F.log(F.col("n").cast("double"))
    lists = ranked.agg(
        F.count(F.lit(1)).alias("m"),
        F.array_sort(F.collect_list(F.struct(F.col("rnk"), lx.alias("v")))).alias("ax"),
        F.array_sort(F.collect_list(F.struct(F.col("rnk"), ly.alias("v")))).alias("ay"),
        F.array_sort(F.collect_list(F.struct(F.col("rnk"), (lx * ly).alias("v")))).alias("axy"),
        F.array_sort(F.collect_list(F.struct(F.col("rnk"), (lx * lx).alias("v")))).alias("axx"),
    )

    def fold(col):
        return F.aggregate(
            F.transform(col, lambda s: s.getField("v")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sums = lists.select(
        F.col("m").cast("long").alias("m"),
        fold(F.col("ax")).alias("sx"),
        fold(F.col("ay")).alias("sy"),
        fold(F.col("axy")).alias("sxy"),
        fold(F.col("axx")).alias("sxx"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("m").alias("n_tokens_fit"),
        F.round(slope, 9).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("m"), 9).alias("zipf_intercept"),
    )


MAX_SEQ_LEN = 128  # model context length for the truncation-loss report


@query(
    "q199_truncation_loss",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN n_tok > {MAX_SEQ_LEN} THEN n_tok - {MAX_SEQ_LEN}
                    ELSE 0 END) AS BIGINT) AS lost_tokens,
           CAST(sum(CASE WHEN n_tok > {MAX_SEQ_LEN} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           round(CAST(sum(CASE WHEN n_tok > {MAX_SEQ_LEN} THEN n_tok - {MAX_SEQ_LEN}
                          ELSE 0 END) AS DOUBLE) / sum(n_tok), 6) AS loss_rate
    FROM sized GROUP BY source
    """,
)
def q199_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation accounting: per source, how many tokens a
    max_seq_len=``MAX_SEQ_LEN`` dataloader THROWS AWAY if long documents are
    truncated rather than chunked — the number that justifies running the
    q57 chunker (chunking keeps those tokens; truncation doesn't).  Read
    next to q132's padding-waste ratio, this is the other half of the
    dataloader-efficiency ledger: q132 counts padding you pay for, this
    counts content you lose.  Pure projection + one |sources| aggregate;
    exact integer token math end to end."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "source", "text"], rebalance=True, rebalance_key="doc_id")
    n_tok = F.size(F.split(F.lower("text"), r"\s+")).cast("long")
    sized = d.select("source", n_tok.alias("n_tok"))
    lost = F.when(F.col("n_tok") > MAX_SEQ_LEN, F.col("n_tok") - MAX_SEQ_LEN).otherwise(0)
    trunc = F.when(F.col("n_tok") > MAX_SEQ_LEN, 1).otherwise(0)
    return sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(lost).cast("long").alias("lost_tokens"),
        F.sum(trunc).cast("long").alias("n_truncated"),
        F.round(F.sum(lost).cast("double") / F.sum("n_tok"), 6).alias("loss_rate"),
    )


@query(
    "q204_audio_segments",
    oracle="""
    WITH chunks AS (
      SELECT doc_id AS media_id,
             unnest(range(0, CAST(ceil(length(text) / 400.0) AS BIGINT))) AS ci
      FROM documents
    ),
    cut AS (
      SELECT media_id, CAST(ci AS INTEGER) AS chunk_idx,
             substr(d.text, CAST(ci * 400 + 1 AS INTEGER), 400) AS c
      FROM chunks JOIN documents d ON d.doc_id = chunks.media_id
    )
    SELECT media_id, chunk_idx,
           CAST(length(c) AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, length(c) + 1),
                j -> ord(substr(c, CAST(j AS INTEGER), 1))
                     * ord(substr(c, CAST(j AS INTEGER), 1)))) AS BIGINT) AS energy
    FROM cut
    """,
)
def q204_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-axis multimodal plumbing (operators.multimodal.segment_audio):
    each payload splits into fixed-size windows — the fixed-duration PCM
    chunking shape — and every window reports an exact integer energy
    (sum of squared byte values, the deterministic RMS stand-in).  Like
    q60, the PYTHON KERNEL itself is oracle-diffed: the corpus is ASCII,
    so DuckDB recomputes the same per-byte integer math with ord() over
    the same text bytes — verifying the mapInPandas fan-out (1 media row
    -> N window rows), the Arrow batch plumbing, and the chunk geometry
    end to end.  Completes the modality triad: q60 image decode, frame
    sampling (sample_frames, pytest), and now audio segmentation."""
    from bigquack_spark.operators import multimodal as M

    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    media = M.attach_binary_payload(d, "doc_id", "text", kind="audio")
    return M.segment_audio(media)


UNIGRAM_MIN_LOGPROB = -9.0  # avg-logprob floor for the keep gate


@query(
    "q207_unigram_logprob",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    vocab AS (
      SELECT tok, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY tok
    ),
    total AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM vocab),
    terms AS (
      SELECT t.doc_id, t.tok,
             t.tf * ln(CAST(v.n_tok AS DOUBLE) / n_total) AS v,
             t.tf
      FROM tf t JOIN vocab v ON t.tok = v.tok CROSS JOIN total
    ),
    folded AS (
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_tokens,
             list(v ORDER BY tok) AS lv
      FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), lv), (a, x) -> a + x)
                 / n_tokens, 6) AS avg_logprob,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), lv), (a, x) -> a + x)
                 / n_tokens, 6) >= {UNIGRAM_MIN_LOGPROB} AS keep
    FROM folded
    """,
)
def q207_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model document scoring — the cheap stand-in for
    the perplexity filter every LLM curation pipeline runs (CCNet/Gopher
    drop the lowest-LM-score tail): the corpus IS the model (token
    unigram frequencies), each document scores the tf-weighted mean of
    ln p(tok), and the keep gate floors it at ``UNIGRAM_MIN_LOGPROB``.
    Swapping the corpus-derived vocab for an external KenLM table is a
    join-input change, not a plan change.  Scale shape: tf is the
    map-side-combined (doc,tok) shuffle, vocab the tok-keyed rollup of
    tf (vocabulary-sized), the score join is tok-keyed equi (never a
    driver-side model), and the per-doc sum folds over TOKEN-SORTED term
    lists (q184 discipline) so the doubles add in one order on both
    engines.  The 1-row corpus total broadcasts."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    tf = (
        d.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    vocab = tf.groupBy("tok").agg(F.sum("tf").cast("long").alias("n_tok"))
    total = vocab.agg(F.sum("n_tok").cast("long").alias("n_total"))
    terms = (
        tf.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "tok", "tf",
            (F.col("tf") * F.log(F.col("n_tok").cast("double") / F.col("n_total"))).alias("v"),
        )
    )
    folded = terms.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.array_sort(F.collect_list(F.struct(F.col("tok"), F.col("v")))).alias("lv"),
    )
    s = F.aggregate(
        F.transform(F.col("lv"), lambda x: x.getField("v")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    avg = F.round(s / F.col("n_tokens"), 6)
    return folded.select(
        "doc_id", "n_tokens", avg.alias("avg_logprob"),
        (avg >= UNIGRAM_MIN_LOGPROB).alias("keep"),
    )


@query(
    "q208_ngram_diversity",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM documents
    ),
    grams AS (
      SELECT doc_id, n,
             CASE WHEN n >= 2 THEN list_transform(range(1, n),
               i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])
             ELSE [] END AS big,
             CASE WHEN n >= 3 THEN list_transform(range(1, n - 1),
               i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
                    || ' ' || toks[CAST(i AS INT) + 2])
             ELSE [] END AS tri
      FROM tk
    )
    SELECT doc_id,
           CAST(len(big) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(big)) AS BIGINT) AS n_distinct_bigrams,
           CASE WHEN len(big) > 0
                THEN round(CAST(len(list_distinct(big)) AS DOUBLE) / len(big), 6)
                ELSE CAST(NULL AS DOUBLE) END AS bigram_diversity,
           CASE WHEN len(tri) > 0
                THEN round(CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri), 6)
                ELSE CAST(NULL AS DOUBLE) END AS trigram_diversity
    FROM grams
    """,
)
def q208_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity scoring (the self-repetition gauge used to
    catch degenerate/templated text in generation-quality work — the
    per-document complement of q101's corpus dup-ngram ratio): unique
    bigrams / total bigrams and the trigram twin, NULL when the document
    is too short to have any.  Pure per-row projection over the scan —
    zero shuffle, linear at any corpus size; element_at is 1-based on
    both engines, and the n>=2 guard matters because Spark's
    sequence(1, n-1) runs DESCENDING when n-1 < 1 while DuckDB's range
    returns empty."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    toks = X.tokens("text")
    tk = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    empty = F.array().cast("array<string>")
    big = F.when(
        F.col("n") >= 2,
        F.expr(
            "transform(sequence(1, n - 1), "
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        ),
    ).otherwise(empty)
    tri = F.when(
        F.col("n") >= 3,
        F.expr(
            "transform(sequence(1, n - 2), "
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), "
            "' ', element_at(toks, i + 2)))"
        ),
    ).otherwise(empty)
    g = tk.select("doc_id", big.alias("big"), tri.alias("tri"))

    def ratio(col: str):
        return F.when(
            F.size(col) > 0,
            F.round(F.size(F.array_distinct(col)).cast("double") / F.size(col), 6),
        ).otherwise(F.lit(None).cast("double"))

    return g.select(
        "doc_id",
        F.size("big").cast("long").alias("n_bigrams"),
        F.size(F.array_distinct("big")).cast("long").alias("n_distinct_bigrams"),
        ratio("big").alias("bigram_diversity"),
        ratio("tri").alias("trigram_diversity"),
    )


@query(
    "q215_scene_cuts",
    oracle="""
    WITH chunks AS (
      SELECT doc_id AS media_id,
             unnest(range(0, CAST(ceil(length(text) / 400.0) AS BIGINT))) AS ci
      FROM documents
    ),
    cut AS (
      SELECT media_id, CAST(ci AS INTEGER) AS chunk_idx,
             substr(d.text, CAST(ci * 400 + 1 AS INTEGER), 400) AS c
      FROM chunks JOIN documents d ON d.doc_id = chunks.media_id
    ),
    frames AS (
      SELECT media_id, chunk_idx,
             CAST(length(c) AS BIGINT) AS n_bytes,
             CAST(list_sum(list_transform(range(1, length(c) + 1),
                  j -> ord(substr(c, CAST(j AS INTEGER), 1))
                       * ord(substr(c, CAST(j AS INTEGER), 1)))) AS BIGINT) AS energy
      FROM cut
    ),
    lagged AS (
      SELECT media_id, chunk_idx, n_bytes, energy,
             lag(energy) OVER (PARTITION BY media_id ORDER BY chunk_idx) AS prev
      FROM frames
    ),
    flagged AS (
      SELECT media_id, chunk_idx, n_bytes, energy,
             CAST(CASE WHEN prev IS NULL THEN 0 ELSE energy - prev END AS BIGINT) AS delta,
             CASE WHEN prev IS NULL THEN false
                  ELSE 2 * abs(energy - prev) > prev END AS is_cut
      FROM lagged
    )
    SELECT media_id, chunk_idx, n_bytes, energy, delta, is_cut,
           CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER (
             PARTITION BY media_id ORDER BY chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS scene_id
    FROM flagged
    """,
)
def q215_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-axis scene segmentation (operators.multimodal.scene_cuts):
    fixed-size frame windows from the payload (q204's oracle-diffed
    Arrow-batched kernel — the corpus is ASCII so SQL can replay the
    byte energies), a cut wherever energy jumps by more than half the
    previous frame (exact BIGINT inequality — no float threshold), and a
    running scene index (cumulative cut count) that downstream
    frame-sampling would stratify on.  Completes the modality triad's
    TEMPORAL story: q60 decodes, q93 retrieves, q204 windows audio, this
    segments video into scenes.  The lag/cumsum windows partition by
    media_id — bounded frames per video, never a global sort."""
    from bigquack_spark.operators import multimodal as M

    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    media = M.attach_binary_payload(d, "doc_id", "text", kind="video")
    return M.scene_cuts(media)


#: Offline-trained logistic quality-classifier weights (fasttext-style
#: model stand-in, frozen as literals: intercept + per-feature).  The
#: features are q51's exact ratios plus log10 token count.
QC_W0 = -2.0
QC_W_ALPHA = 3.0      # alphabetic ratio
QC_W_STOP = 2.0       # stopword ratio (natural prose has stopwords)
QC_W_SPACE = -4.0     # extreme whitespace = boilerplate/tables
QC_W_LOGTOK = 0.5     # longer docs are likelier to be prose
QC_THRESHOLD = 0.5

#: The classifier's oracle pieces: the feature select list over
#: ``documents``, the rows it is defined on, and the logit over those
#: features (``_QC_P_SQL`` is the rounded sigmoid the keep decision reads).
_QC_FEATS_SQL = f"""
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS alpha_ratio,
             CAST(len(list_filter({_TOKS}, x -> list_contains({_sql_list(X.STOPWORDS)}, x))) AS DOUBLE)
               / CAST(len({_TOKS}) AS DOUBLE) AS stopword_ratio,
             CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS space_ratio,
             log10(CAST(len({_TOKS}) AS DOUBLE)) AS log_tokens"""
_QC_WHERE_SQL = f"length(text) > 0 AND len({_TOKS}) > 0"
_QC_Z_SQL = (
    f"({QC_W0} + {QC_W_ALPHA} * alpha_ratio + {QC_W_STOP} * stopword_ratio"
    f" + {QC_W_SPACE} * space_ratio + {QC_W_LOGTOK} * log_tokens)"
)
_QC_P_SQL = f"round(1.0 / (1.0 + exp(-{_QC_Z_SQL})), 6)"


class _QualityScore(NamedTuple):
    """The q218 classifier as Column expressions over ``text``."""

    valid: Column  # rows it is defined on: non-empty text, >= 1 token
    toks: Column
    alpha: Column
    stop: Column
    z: Column  # logit
    p: Column  # sigmoid rounded to 6 digits — what the keep decision reads


def _quality_score() -> _QualityScore:
    toks = X.tokens("text")
    alpha = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.length("text")
    )
    stop = X._count_in(toks, X.STOPWORDS).cast("double") / F.size(toks)
    space = (
        F.length(F.regexp_replace("text", "[^ ]", "")).cast("double") / F.length("text")
    )
    logtok = F.log10(F.size(toks).cast("double"))
    z = (
        F.lit(QC_W0)
        + F.lit(QC_W_ALPHA) * alpha
        + F.lit(QC_W_STOP) * stop
        + F.lit(QC_W_SPACE) * space
        + F.lit(QC_W_LOGTOK) * logtok
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    valid = (F.length("text") > 0) & (F.size(toks) > 0)
    return _QualityScore(valid, toks, alpha, stop, z, p)


@query(
    "q218_quality_classifier",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, {_QC_FEATS_SQL}
      FROM documents WHERE {_QC_WHERE_SQL}
    ),
    scored AS (SELECT doc_id, {_QC_Z_SQL} AS z FROM feats)
    SELECT doc_id,
           round(z, 6) AS logit,
           round(1.0 / (1.0 + exp(-z)), 6) AS p_quality,
           round(1.0 / (1.0 + exp(-z)), 6) >= {QC_THRESHOLD} AS keep
    FROM scored
    """,
)
def q218_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring — the fasttext/logreg classifier stage
    that follows the q51 heuristic gates in real curation stacks (CCNet,
    RefinedWeb): a logistic model over exact text features (alpha,
    stopword, whitespace ratios + log token count) with OFFLINE-TRAINED
    weights frozen as literals, scoring p(quality) per document with a
    keep threshold.  Swapping in real learned weights is a constant
    change; swapping in a real fasttext model is a Pandas-UDF scoring
    kernel over the same plan.  The whole thing is one zero-shuffle
    projection — at 100 TB the classifier IS the scan.  Both engines
    evaluate the identical z then sigmoid on identical doubles; outputs
    rounded to 6 digits.  The keep decision compares the ROUNDED
    probability so the boolean is as portable as the score."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    qc = _quality_score()
    return d.filter(qc.valid).select(
        "doc_id",
        F.round(qc.z, 6).alias("logit"),
        qc.p.alias("p_quality"),
        (qc.p >= QC_THRESHOLD).alias("keep"),
    )


@query(
    "q225_slice_audit",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, lang, source, {_QC_FEATS_SQL}
      FROM documents WHERE {_QC_WHERE_SQL}
    ),
    scored AS (
      SELECT lang, source,
             CASE WHEN {_QC_P_SQL} >= {QC_THRESHOLD} THEN 1 ELSE 0 END AS keep
      FROM feats
    ),
    overall AS (
      SELECT CAST(sum(keep) AS DOUBLE) / count(*) AS base_rate FROM scored
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_keep,
           round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS keep_rate,
           round(CAST(sum(keep) AS DOUBLE) / count(*) / base_rate, 6) AS lift_vs_corpus
    FROM scored CROSS JOIN overall
    GROUP BY lang, source, base_rate
    """,
)
def q225_slice_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice audit of the q218 quality classifier — the disparate-impact
    check a curation gate must pass before deployment: keep rate per
    (lang, source) slice and its lift against the corpus-wide base rate.
    A filter trained on majority-language prose silently starves
    minority slices (lift << 1 on one language = the training mix just
    lost it); this query is the per-release report that catches it.
    Replays q218's exact scoring (identical literal weights + sigmoid,
    decision on the ROUNDED probability) then one (lang, source)
    aggregate with a 1-row broadcast base rate.  Zero-shuffle scoring +
    one slice-cardinality shuffle at any corpus size."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "lang", "source", "text"],
          rebalance=True, rebalance_key="doc_id")
    qc = _quality_score()
    keep = (qc.p >= QC_THRESHOLD).cast("int")
    scored = d.filter(qc.valid).select("lang", "source", keep.alias("keep"))
    overall = scored.agg(
        (F.sum("keep").cast("double") / F.count(F.lit(1))).alias("base_rate")
    )
    return (
        scored.crossJoin(F.broadcast(overall))
        .groupBy("lang", "source", "base_rate")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            F.round(F.sum("keep").cast("double") / F.count(F.lit(1)), 6).alias("keep_rate"),
            F.round(
                F.sum("keep").cast("double") / F.count(F.lit(1)) / F.first("base_rate"), 6
            ).alias("lift_vs_corpus"),
        )
        .drop("base_rate")
    )


@query(
    "q228_calibration_curve",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, {_QC_FEATS_SQL},
             (len({_TOKS}) >= 5
              AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE) > 0.5
              AND CAST(len(list_filter({_TOKS}, x -> list_contains({_sql_list(X.STOPWORDS)}, x))) AS DOUBLE)
                    / CAST(len({_TOKS}) AS DOUBLE) < 0.9) AS label
      FROM documents WHERE {_QC_WHERE_SQL}
    ),
    scored AS (SELECT doc_id, label, {_QC_P_SQL} AS p FROM feats),
    bucketed AS (
      SELECT doc_id, label, p,
             least(CAST(floor(p * 10) AS INTEGER), 9) AS bucket
      FROM scored
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY doc_id)),
                             (a, x) -> a + x) / count(*), 6) AS avg_pred,
           round(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS obs_pass_rate,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY doc_id)),
                             (a, x) -> a + x) / count(*)
                 - CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS calibration_gap
    FROM bucketed GROUP BY bucket
    """,
)
def q228_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the q218 classifier — calibration checked
    against the q51 heuristic gate as the pseudo-label: per predicted-
    probability decile, the mean predicted p vs the observed pass rate
    and their gap (a well-calibrated scorer tracks the diagonal; a gap
    says the threshold is lying about precision).  This is the model-
    monitoring query you run per release next to q225's slice audit:
    q225 catches WHO the gate hurts, this catches WHETHER its scores
    mean what they claim.  Mean-of-doubles folds in doc_id order (q184
    discipline); labels and buckets are exact ints.  One zero-shuffle
    scoring pass + one 10-row aggregate."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    qc = _quality_score()
    p = qc.p
    label = (F.size(qc.toks) >= 5) & (qc.alpha > 0.5) & (qc.stop < 0.9)
    bucketed = d.filter(qc.valid).select(
        "doc_id", p.alias("p"), label.alias("label"),
        F.least(F.floor(p * 10).cast("int"), F.lit(9)).alias("bucket"),
    )
    folded = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array_sort(F.collect_list(F.struct("doc_id", F.col("p").alias("v")))).alias("lp"),
        F.sum(F.col("label").cast("int")).alias("n_pass"),
    )
    s = F.aggregate(F.transform("lp", lambda x: x.getField("v")), F.lit(0.0), lambda a, x: a + x)
    avg_pred = F.round(s / F.col("n_docs"), 6)
    obs = F.round(F.col("n_pass").cast("double") / F.col("n_docs"), 6)
    return folded.select(
        "bucket", "n_docs", avg_pred.alias("avg_pred"), obs.alias("obs_pass_rate"),
        F.round(s / F.col("n_docs") - F.col("n_pass").cast("double") / F.col("n_docs"), 6)
        .alias("calibration_gap"),
    )


BIGRAM_LAMBDA = 0.7  # interpolation weight: bigram vs unigram backoff


@query(
    "q229_bigram_logprob",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM documents
    ),
    trans AS (
      SELECT doc_id,
             unnest(range(1, n)) AS pos,
             unnest(toks[1:n - 1]) AS w1,
             unnest(toks[2:n]) AS w2
      FROM tk WHERE n >= 2
    ),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cu FROM (
        SELECT unnest(toks) AS w FROM tk
      ) GROUP BY w
    ),
    tot AS (SELECT CAST(sum(cu) AS BIGINT) AS total FROM uni),
    bi AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
      FROM trans GROUP BY w1, w2
    ),
    terms AS (
      SELECT t.doc_id, t.pos,
             ln({BIGRAM_LAMBDA} * (CAST(b.cb AS DOUBLE) / u1.cu)
                + {1.0 - BIGRAM_LAMBDA} * (CAST(u2.cu AS DOUBLE) / total)) AS v
      FROM trans t
      JOIN bi b ON b.w1 = t.w1 AND b.w2 = t.w2
      JOIN uni u1 ON u1.w = t.w1
      JOIN uni u2 ON u2.w = t.w2
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(v ORDER BY pos)),
                             (a, x) -> a + x) / count(*), 6) AS avg_logprob
    FROM terms GROUP BY doc_id
    """,
)
def q229_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model scoring — q207's unigram filter
    upgraded one order: per token transition,
    p = λ·c(w1,w2)/c(w1) + (1−λ)·c(w2)/N (Jelinek-Mercer smoothing with
    λ=``BIGRAM_LAMBDA``), per-doc mean of ln p over POSITION-ordered folds.
    The architectural point: the bigram table is vocabulary²-keyed DATA
    joined on (w1, w2) — never driver state, never a broadcast — which
    is exactly how a real KenLM-scale model (billions of n-grams) has to
    be applied on a cluster; the unigram table and 1-row total ride the
    same join pipeline.  Transition extraction is a zipped slice
    (zero-shuffle projection); the model joins are the only exchanges.
    Both engines fold identical doubles in identical order."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    toks = X.tokens("text")
    tk = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    trans = (
        tk.filter(F.col("n") >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    F.slice("toks", 1, F.col("n") - 1),
                    F.expr("slice(toks, 2, n - 1)"),
                )
            ).alias("p0", "z"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            F.col("z.0").alias("w1"),
            F.col("z.1").alias("w2"),
        )
    )
    uni = tk.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("cu")
    )
    tot = uni.agg(F.sum("cu").cast("long").alias("total"))
    bi = trans.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    p = (
        F.lit(BIGRAM_LAMBDA) * (F.col("cb").cast("double") / F.col("cu1"))
        + F.lit(1.0 - BIGRAM_LAMBDA) * (F.col("cu2").cast("double") / F.col("total"))
    )
    terms = (
        trans.join(bi, ["w1", "w2"])
        .join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "pos", F.log(p).alias("v"))
    )
    folded = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.array_sort(F.collect_list(F.struct("pos", F.col("v").alias("v")))).alias("lv"),
    )
    s = F.aggregate(F.transform("lv", lambda x: x.getField("v")), F.lit(0.0), lambda a, x: a + x)
    return folded.select(
        "doc_id", "n_transitions", F.round(s / F.col("n_transitions"), 6).alias("avg_logprob")
    )


MAXSIM_CHUNK = 400   # char window per chunk (q204's window)
MAXSIM_DIM = 8       # digest-embedding dims per chunk
MAXSIM_QDOCS = 3     # doc_id < 3 are the queries
MAXSIM_TOP_K = 5

_CHUNK_EMB_SQL = " , ".join(
    f"((CAST('0x' || substr(sha256(c), {2*i+1}, 2) AS BIGINT)) - 127.5) / 127.5"
    for i in range(MAXSIM_DIM)
)


@query(
    "q240_maxsim_retrieval",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
             substr(text, CAST(ci * {MAXSIM_CHUNK} + 1 AS INTEGER), {MAXSIM_CHUNK}) AS c
      FROM (
        SELECT doc_id, text,
               unnest(range(0, CAST(ceil(length(text) / {MAXSIM_CHUNK}.0) AS BIGINT))) AS ci
        FROM documents
      )
    ),
    emb AS (
      SELECT doc_id, chunk_idx, [{_CHUNK_EMB_SQL}] AS e FROM chunks
    ),
    q AS (
      SELECT doc_id AS qid, chunk_idx AS q_chunk, e AS qe
      FROM emb WHERE doc_id < {MAXSIM_QDOCS}
    ),
    sims AS (
      SELECT q.qid, q.q_chunk, emb.doc_id,
             round(
               list_dot_product(emb.e, q.qe)
               / (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(q.qe, q.qe))),
               6
             ) AS cos
      FROM emb CROSS JOIN q
      WHERE emb.doc_id <> q.qid
    ),
    best AS (
      SELECT qid, q_chunk, doc_id, max(cos) AS m
      FROM sims GROUP BY qid, q_chunk, doc_id
    ),
    scored AS (
      SELECT qid, doc_id,
             round(
               list_reduce(list_prepend(CAST(0 AS DOUBLE), list(m ORDER BY q_chunk)),
                           (a, x) -> a + x) / count(*),
               6) AS maxsim
      FROM best GROUP BY qid, doc_id
    )
    SELECT qid, doc_id AS neighbor_id, maxsim, CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT qid, doc_id, maxsim,
             row_number() OVER (PARTITION BY qid ORDER BY maxsim DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= {MAXSIM_TOP_K}
    """,
)
def q240_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT's MaxSim, digest-embedded):
    documents split into ``MAXSIM_CHUNK``-char chunks, each chunk embedded
    (the q93 sha256-digest stand-in — a real encoder is a mapInPandas
    swap), and a document's score against a query document is the mean
    over QUERY chunks of the max cosine over the document's chunks —
    the multi-vector semantics that whole-document pooling destroys
    (one matching paragraph ranks the document even when the rest
    differs).  Plan: chunk+embed is a zero-shuffle projection; the
    bounded query-chunk set broadcasts against the corpus chunk scan
    (q40's contract, one per-chunk-pair score pass); MaxSim reduces by
    (qid, q_chunk, doc) max then a q_chunk-ordered fold.  At 1e9 docs
    the chunk-pair pass is corpus x |query chunks| — the first-stage
    hamming prefilter (q217) drops in front unchanged.  Every stage
    replays exactly in SQL, late interaction included."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    # Empty-text guard (q208's warning): sequence(0, ceil(0/N)-1) =
    # sequence(0, -1) runs DESCENDING and emits two phantom chunks where the
    # oracle's range(0, 0) emits none — filter empties out before chunking.
    d = d.filter(F.length("text") > 0)
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(length(text) / {MAXSIM_CHUNK}.0) AS INT) - 1), "
                f"i -> substring(text, i * {MAXSIM_CHUNK} + 1, {MAXSIM_CHUNK}))"
            )
        ).alias("chunk_idx", "c"),
    )
    hexd = F.sha2("c", 256)
    emb = chunks.select(
        "doc_id", "chunk_idx",
        F.array(
            *[
                (
                    F.conv(F.substring(hexd, 2 * i + 1, 2), 16, 10).cast("double")
                    - 127.5
                ) / 127.5
                for i in range(MAXSIM_DIM)
            ]
        ).alias("e"),
    )
    q = emb.filter(F.col("doc_id") < MAXSIM_QDOCS).select(
        F.col("doc_id").alias("qid"), F.col("chunk_idx").alias("q_chunk"), F.col("e").alias("qe")
    )
    from bigquack_spark.operators.simsearch import cosine

    sims = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("doc_id") != F.col("qid"))
        .select(
            "qid", "q_chunk", "doc_id",
            F.round(cosine(F.col("e"), F.col("qe")), 6).alias("cos"),
        )
    )
    best = sims.groupBy("qid", "q_chunk", "doc_id").agg(F.max("cos").alias("m"))
    folded = best.groupBy("qid", "doc_id").agg(
        F.array_sort(F.collect_list(F.struct("q_chunk", F.col("m").alias("v")))).alias("lm"),
        F.count(F.lit(1)).alias("nq"),
    )
    s = F.aggregate(F.transform("lm", lambda x: x.getField("v")), F.lit(0.0), lambda a, x: a + x)
    scored = folded.select("qid", "doc_id", F.round(s / F.col("nq"), 6).alias("maxsim"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("maxsim"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= MAXSIM_TOP_K)
        .select("qid", F.col("doc_id").alias("neighbor_id"), "maxsim", "rank")
    )


SPAN_DF_CAP = 10     # a fingerprint shared by > this many docs is boilerplate, not a span
SPAN_MIN_SHARED = 3  # report pairs sharing at least this many fingerprints


@query(
    "q247_shared_span_pairs",
    oracle=f"""
    WITH {_winnow_sql()},
    flat AS (
      SELECT doc_id,
             CAST(len(list_distinct(wins)) AS BIGINT) AS n_fps,
             u.fp AS fp,
             CAST(u.p AS INTEGER) AS pos
      FROM wnd,
           UNNEST(list_transform(list_distinct(wins),
                  f -> struct_pack(fp := f, p := list_position(wins, f) - 1))) AS t(u)
    ),
    keep AS (SELECT fp FROM flat GROUP BY fp HAVING count(*) <= {SPAN_DF_CAP}),
    f2 AS (SELECT flat.* FROM flat JOIN keep USING (fp))
    SELECT doc_a, doc_b, n_shared, a_first, a_last, b_first, b_last, containment
    FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared,
             CAST(min(a.pos) AS INTEGER) AS a_first,
             CAST(max(a.pos) AS INTEGER) AS a_last,
             CAST(min(b.pos) AS INTEGER) AS b_first,
             CAST(max(b.pos) AS INTEGER) AS b_last,
             round(count(*) / CAST(least(min(a.n_fps), min(b.n_fps)) AS DOUBLE), 6)
               AS containment
      FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    WHERE n_shared >= {SPAN_MIN_SHARED}
    """,
)
def q247_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style shared-span pair report (Schleimer et al. §5 — the
    pairwise consumer of q139's winnowing fingerprints): for every document
    pair sharing >= SPAN_MIN_SHARED winnowed fingerprints, emit the match
    count, the positional EXTENT of the matched region on each side
    (first/last window index of the first occurrence of each shared
    fingerprint), and containment vs the smaller document — the
    plagiarism/near-copy span evidence that pair-level Jaccard (q117)
    collapses to one number.  Scale shape: fingerprints shared by more
    than SPAN_DF_CAP documents are boilerplate (q173's finding) and are
    dropped BEFORE the pair join, so per-fingerprint fan-out is capped at
    C(SPAN_DF_CAP,2) pairs — the join is bucket-bounded exactly like the
    LSH band join (dedup.py:180), never all-pairs.  Position extraction is
    an in-array array_position projection — no extra shuffle beyond the
    (fp)-keyed cap count and the capped pair join itself."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id")
    w = X.winnow_windows_frame(d, "text", out_col="wins")
    flat = w.select(
        "doc_id",
        F.size(F.array_distinct("wins")).cast("bigint").alias("n_fps"),
        F.explode(
            F.expr(
                "transform(array_distinct(wins), "
                "f -> struct(f AS fp, CAST(array_position(wins, f) - 1 AS INT) AS pos))"
            )
        ).alias("s"),
    ).select("doc_id", "n_fps", F.col("s.fp").alias("fp"), F.col("s.pos").alias("pos"))
    keep = flat.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= SPAN_DF_CAP
    )
    f2 = flat.join(keep.select("fp"), "fp")
    a = f2.select(
        F.col("fp"),
        F.col("doc_id").alias("doc_a"),
        F.col("n_fps").alias("nfa"),
        F.col("pos").alias("pa"),
    )
    b = f2.select(
        F.col("fp"),
        F.col("doc_id").alias("doc_b"),
        F.col("n_fps").alias("nfb"),
        F.col("pos").alias("pb"),
    )
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min("pa").cast("int").alias("a_first"),
            F.max("pa").cast("int").alias("a_last"),
            F.min("pb").cast("int").alias("b_first"),
            F.max("pb").cast("int").alias("b_last"),
            F.round(
                F.count(F.lit(1)) / F.least(F.min("nfa"), F.min("nfb")).cast("double"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("n_shared") >= SPAN_MIN_SHARED)
    )
    return pairs


@query(
    "q249_lang_agreement_kappa",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {', '.join(f'{_lang_hits_sql(lg)} AS h_{lg}' for lg in sorted(X.LANG_MARKERS))}
      FROM documents
    ),
    pred AS (SELECT lang AS declared, {_lang_case_sql()} AS predicted FROM h),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN declared = predicted THEN 1 ELSE 0 END) AS BIGINT)
               AS agree
      FROM pred
    ),
    d AS (SELECT declared AS l, count(*) AS nd FROM pred GROUP BY 1),
    p AS (SELECT predicted AS l, count(*) AS np FROM pred GROUP BY 1),
    x AS (
      SELECT CAST(sum(COALESCE(nd, 0) * COALESCE(np, 0)) AS BIGINT) AS cx
      FROM d FULL JOIN p USING (l)
    )
    SELECT n AS n_docs,
           round(agree / CAST(n AS DOUBLE), 6) AS po,
           round(cx / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
           round((agree / CAST(n AS DOUBLE) - cx / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 / (1.0 - cx / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS kappa
    FROM s, x
    """,
)
def q249_lang_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the declared ``lang`` metadata and the n-gram
    classifier's prediction (q52) — chance-corrected agreement, the
    label-quality scalar a curation pipeline tracks per source/partner feed
    (q155's confusion matrix reduced to one auditable number: kappa near 0
    means the declared labels are no better than guessing the marginal
    mix).  po = observed agreement, pe = expected agreement from the
    marginals, kappa = (po-pe)/(1-pe), all derived from exact BIGINT
    counts so both engines divide the same integers.  Plan: one
    zero-shuffle classification projection, two tiny marginal aggregates
    full-outer-joined on the bounded language set, one row out — state is
    O(|langs|) regardless of corpus size."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "text", "lang"], rebalance=True, rebalance_key="doc_id")
    pred = X.lang_id(d).select(
        F.col("lang").alias("declared"), F.col("predicted_lang").alias("predicted")
    )
    s = pred.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("declared") == F.col("predicted")).cast("int")).cast("bigint").alias("agree"),
    )
    decl = pred.groupBy(F.col("declared").alias("l")).agg(F.count(F.lit(1)).alias("nd"))
    prm = pred.groupBy(F.col("predicted").alias("l")).agg(F.count(F.lit(1)).alias("np"))
    cross = (
        decl.join(prm, "l", "full")
        .agg(
            F.sum(
                F.coalesce(F.col("nd"), F.lit(0)) * F.coalesce(F.col("np"), F.lit(0))
            ).cast("bigint").alias("cx")
        )
    )
    nD = F.col("n").cast("double")
    po = F.col("agree") / nD
    pe = F.col("cx") / (nD * nD)
    return (
        s.crossJoin(cross)
        .select(
            F.col("n").alias("n_docs"),
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
        )
    )


#: 3/4-power smoothing on an integer lattice: n^0.75 = sqrt(sqrt(n^3)) —
#: sqrt is IEEE-correctly-rounded on both engines and n^3 stays exact in a
#: double below 2^53, so the scaled weight is the SAME BIGINT everywhere.
_NEG_W = "CAST(round(1000000 * sqrt(sqrt(CAST(n AS DOUBLE) * n * n))) AS BIGINT)"


@query(
    "q263_negative_sampling_table",
    oracle=f"""
    WITH tk AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    ),
    counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n
      FROM tk WHERE token <> '' GROUP BY token
    ),
    w AS (
      SELECT token, n, {_NEG_W} AS w_scaled FROM counts
    ),
    cum AS (
      SELECT token, n, w_scaled,
             CAST(sum(w_scaled) OVER (
               ORDER BY n DESC, token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_hi
      FROM w
    ),
    tot AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS total FROM w)
    SELECT cum.token, cum.n,
           cum.cum_hi - cum.w_scaled AS cum_lo_scaled,
           cum.cum_hi AS cum_hi_scaled,
           CAST(cum.w_scaled AS DOUBLE) / tot.total AS p_smoothed
    FROM cum, tot
    """,
)
def q263_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2vec-style negative-sampling table: unigram counts smoothed by
    the 3/4 power (flattens the Zipf head so frequent tokens aren't
    over-sampled), with exact cumulative ranges for inverse-CDF sampling
    — draw u ~ U[0, total) and binary-search cum ranges.  Everything
    stays on an integer lattice: the smoothed weight is
    round(1e6 * sqrt(sqrt(n^3))) (sqrt is IEEE-correctly-rounded, n^3
    exact in a double below 2^53), so the cumulative sums are EXACT
    BIGINTs with no float-accumulation-order drift between engines; the
    only doubles are final ratios of identical integers.  One (token)
    shuffle to vocab counts; the cumulative window runs over the VOCAB
    (metadata-sized — q254's argument), ordered by (n desc, token) for a
    deterministic range layout."""
    d = t(spark, sf_dir, "documents", columns=["text"], rebalance=True)
    tk = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    counts = (
        tk.filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = counts.withColumn("w_scaled", F.expr(_NEG_W))
    win = (
        Window.orderBy(F.desc("n"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = w.withColumn("cum_hi", F.sum("w_scaled").over(win))
    tot = w.agg(F.sum("w_scaled").cast("long").alias("total"))
    return cum.crossJoin(F.broadcast(tot)).select(
        "token",
        "n",
        (F.col("cum_hi") - F.col("w_scaled")).alias("cum_lo_scaled"),
        F.col("cum_hi").alias("cum_hi_scaled"),
        (F.col("w_scaled").cast("double") / F.col("total")).alias("p_smoothed"),
    )


@query(
    "q275_length_drift_psi",
    oracle="""
WITH bucketed AS (
  SELECT least(n_chars // 100, 9) AS bucket, doc_id % 2 = 0 AS is_ref
  FROM documents
),
counts AS (
  SELECT CAST(bucket AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM bucketed GROUP BY bucket
),
shares AS (
  SELECT bucket, n_ref, n_cur,
         (n_ref + 0.5) / SUM(n_ref + 0.5) OVER () AS p,
         (n_cur + 0.5) / SUM(n_cur + 0.5) OVER () AS q
  FROM counts
)
SELECT bucket, n_ref, n_cur,
       round(p, 6) AS ref_share, round(q, 6) AS cur_share,
       round((p - q) * ln(p / q), 6) AS psi_term,
       round(SUM((p - q) * ln(p / q)) OVER (), 6) AS psi_total,
       SUM((p - q) * ln(p / q)) OVER () > 0.1 AS drifted
FROM shares
""",
)
def q275_length_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift gate over the document length
    distribution — the standard go/no-go check before a new crawl batch
    joins the training mix.  Reference population = even doc_ids, current
    batch = odd; fixed-width 100-char buckets (ntile would tie-break
    nondeterministically across engines), Laplace 0.5 smoothing so empty
    buckets stay finite; PSI > 0.1 flags drift.  The synthetic halves are
    iid, so the gate reports no drift — the audit's zero is as load-
    bearing as a hit (q258's pinned-defect rule).  Scale shape: one scan,
    10-row exchange, window over 10 rows."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "n_chars"])
    bucketed = d.select(
        F.least(F.floor(F.col("n_chars") / 100), F.lit(9)).alias("bucket"),
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    w_all = Window.partitionBy()
    p = (F.col("n_ref") + 0.5) / F.sum(F.col("n_ref") + 0.5).over(w_all)
    q = (F.col("n_cur") + 0.5) / F.sum(F.col("n_cur") + 0.5).over(w_all)
    shares = counts.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        p.alias("p"),
        q.alias("q"),
    )
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return shares.select(
        "bucket", "n_ref", "n_cur",
        F.round(F.col("p"), 6).alias("ref_share"),
        F.round(F.col("q"), 6).alias("cur_share"),
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(w_all), 6).alias("psi_total"),
        (F.sum(term).over(w_all) > 0.1).alias("drifted"),
    )


@query(
    "q278_token_budget_packing",
    oracle="""
WITH tk AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 512
           AS bin
  FROM tk
)
SELECT source,
       CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(sum(n_tokens) / (CAST(count(DISTINCT bin) AS DOUBLE) * 512), 6)
         AS avg_fill,
       CAST(count(*) AS BIGINT) AS n_docs
FROM packed GROUP BY source
""",
)
def q278_token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency audit: stream each source's documents
    (doc_id order) into 512-token context windows by exclusive running
    token count — the deterministic first-fit packing a pretraining
    loader uses — and report bins used and mean fill rate vs the budget.
    Fill > 1 means documents straddle bin boundaries (they're split at
    load time); fill << 1 means padding waste.  Scale shape: the running
    sum partitions by source (parallel across sources, ordered within —
    exactly a loader shard), then a per-source aggregate; nothing global."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    tk = d.select(
        "doc_id", "source",
        F.size(F.split(F.lower(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = tk.select(
        "source", "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512).alias("bin"),
    )
    return packed.groupBy("source").agg(
        F.countDistinct("bin").cast("long").alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum("n_tokens") / (F.countDistinct("bin").cast("double") * 512), 6
        ).alias("avg_fill"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


@query(
    "q283_doc_mixture_balance",
    oracle="""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY lang, source
)
SELECT lang, source, n, chars,
       round(n / CAST(SUM(n) OVER () AS DOUBLE), 6) AS share,
       round(1.0 / COUNT(*) OVER (), 6) AS target_share,
       round((1.0 / COUNT(*) OVER ()) / (n / CAST(SUM(n) OVER () AS DOUBLE)), 6)
         AS reweight,
       n / CAST(SUM(n) OVER () AS DOUBLE) > 2.0 / COUNT(*) OVER ()
         AS overrepresented
FROM cells
""",
)
def q283_doc_mixture_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture balance audit: per (lang, source) cell share vs a
    uniform target mixture, with the per-cell reweight factor a sampler
    would apply and an over-representation flag at 2x target — the
    dataset-mixing step between curation and training.  Scale shape: one
    groupBy over the (tiny) cell lattice with map-side partials; the
    share/target math is a window over the cell rows only."""
    d = t(spark, sf_dir, "documents", columns=["lang", "source", "n_chars"])
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars")
    )
    w_all = Window.partitionBy()
    share = F.col("n") / F.sum("n").over(w_all).cast("double")
    target = F.lit(1.0) / F.count(F.lit(1)).over(w_all)
    return cells.select(
        "lang", "source",
        F.col("n").cast("long").alias("n"),
        F.col("chars").cast("long").alias("chars"),
        F.round(share, 6).alias("share"),
        F.round(target, 6).alias("target_share"),
        F.round(target / share, 6).alias("reweight"),
        (share > 2 * target).alias("overrepresented"),
    )


@query(
    "q284_shard_assignment_audit",
    oracle="""
WITH sharded AS (
  SELECT doc_id % 16 AS shard, n_chars FROM documents
),
per AS (
  SELECT CAST(shard AS INTEGER) AS shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM sharded GROUP BY shard
),
r AS (
  SELECT shard, n_docs, total_chars,
         round(total_chars / (SUM(total_chars) OVER () / 16.0), 6) AS load_ratio,
         total_chars > 1.2 * (SUM(total_chars) OVER () / 16.0) AS hot
  FROM per
)
SELECT shard, n_docs, total_chars, load_ratio, hot,
       MAX(CASE WHEN hot THEN 1 ELSE 0 END) OVER () > 0 AS reshard
FROM r
""",
)
def q284_shard_assignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader-shard balance audit: docs keyed to 16 shards (doc_id % 16 —
    the deterministic stand-in for a content-hash sharder), per-shard
    byte load vs the uniform expectation, hot-shard flag at 1.2x and an
    index-wide reshard recommendation — the q271 drift-monitor shape
    applied to export shards (a hot shard is the straggler task every
    epoch).  Scale shape: groupBy on the shard key (16-row exchange),
    window over 16 rows."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "n_chars"])
    per = (
        d.select((F.col("doc_id") % 16).alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )
    w_all = Window.partitionBy()
    mean_load = F.sum("total_chars").over(w_all) / 16.0
    hot = F.col("total_chars") > 1.2 * mean_load
    return per.select(
        F.col("shard").cast("int").alias("shard"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.round(F.col("total_chars") / mean_load, 6).alias("load_ratio"),
        hot.alias("hot"),
        (F.max(F.when(hot, 1).otherwise(0)).over(w_all) > 0).alias("reshard"),
    )


@query(
    "q286_vocab_oov_audit",
    oracle="""
WITH tk AS (
  SELECT doc_id, source,
         unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
),
vocab AS (SELECT DISTINCT tok FROM tk WHERE doc_id % 2 = 0),
test AS (SELECT source, tok FROM tk WHERE doc_id % 2 = 1)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM test LEFT JOIN vocab v USING (tok)
GROUP BY source
""",
)
def q286_vocab_oov_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit: token-occurrence share of the held-out
    (odd doc_id) half not covered by the training (even) half's
    vocabulary, per source — the coverage check run before freezing a
    tokenizer, and q272's complement (contamination wants NO overlap;
    vocabulary wants ALL).  Scale shape: the vocabulary is a distinct on
    the token (heavy hitters collapse map-side), the coverage probe is a
    left join on the token string — bucketable, and at 100 TB the vocab
    side fits a broadcast after frequency pruning."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "source", "text"], rebalance=True, rebalance_key="doc_id")
    tk = d.select(
        "doc_id", "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    )
    vocab = tk.filter(F.col("doc_id") % 2 == 0).select("tok").distinct()
    test = tk.filter(F.col("doc_id") % 2 == 1).select("source", "tok")
    oov = F.when(F.col("v_tok").isNull(), 1).otherwise(0)
    return (
        test.join(
            vocab.withColumnRenamed("tok", "v_tok"),
            test.tok == F.col("v_tok"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(oov).cast("long").alias("n_oov"),
            F.round(F.sum(oov) / F.count(F.lit(1)).cast("double"), 6).alias("oov_rate"),
        )
    )


@query(
    "q295_repetitiveness_audit",
    oracle="""
WITH tk AS (
  SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS toks
  FROM documents
),
sh AS (
  SELECT source, array_to_string(toks[i : i + 3], ' ') AS gram
  FROM (
    SELECT source, toks,
           unnest(range(1, greatest(len(toks) - 3, 0) + 1)) AS i
    FROM tk
  )
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct_grams,
       round(1.0 - count(DISTINCT gram) / CAST(count(*) AS DOUBLE), 6)
         AS repetition_ratio,
       1.0 - count(DISTINCT gram) / CAST(count(*) AS DOUBLE) > 0.5
         AS boilerplate_heavy
FROM sh GROUP BY source
""",
)
def q295_repetitiveness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus repetitiveness audit: per-source 4-gram repetition ratio
    (1 - distinct/total) — the compression-proxy signal that flags
    template/boilerplate-dominated sources before they flood a training
    mix (the corpus-level cousin of q173's per-doc boilerplate spans).
    Scale shape: grams explode map-side; the distinct count shuffles
    gram strings once per source — at 100 TB the grams hash to 8 bytes
    and the distinct becomes approx_count_distinct, same audit shape."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "source", "text"], rebalance=True, rebalance_key="doc_id")
    # token array STAGED as a column (r13, q139 lesson): a Column-shaped
    # `toks` inside the gram lambda re-runs the split per element
    toks = F.col("__toks")
    # guard: Spark's sequence(1, stop) DESCENDS when stop < 1 (it would
    # fabricate grams for a <4-token doc); DuckDB's range is empty there
    grams = F.when(
        F.size(toks) >= 4,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 3),
            lambda i: F.array_join(F.slice(toks, i, 4), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.withColumn("__toks", F.split(F.lower(F.col("text")), r"\s+")).select(
        "source", F.explode(grams).alias("gram")
    )
    rep = 1.0 - F.countDistinct("gram") / F.count(F.lit(1)).cast("double")
    return sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.countDistinct("gram").cast("long").alias("n_distinct_grams"),
        F.round(rep, 6).alias("repetition_ratio"),
        (rep > 0.5).alias("boilerplate_heavy"),
    )


@query(
    "q299_length_anova",
    oracle="""
WITH g AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(n_chars AS HUGEINT)) AS DOUBLE) AS s1,
         CAST(sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS DOUBLE) AS s2
  FROM documents GROUP BY lang
),
tot AS (
  SELECT g.*,
         SUM(n) OVER () AS big_n,
         SUM(s1) OVER () AS t,
         COUNT(*) OVER () AS k
  FROM g
),
parts AS (
  SELECT lang, n, s1, s2, big_n, t, k,
         n * (s1 / n - t / big_n) * (s1 / n - t / big_n) AS ssb_term,
         s2 - s1 * s1 / n AS ssw_term
  FROM tot
),
ms AS (
  SELECT lang, n, s1, k,
         CASE WHEN k > 1 THEN SUM(ssb_term) OVER () / (k - 1) END AS msb,
         CASE WHEN big_n > k THEN SUM(ssw_term) OVER () / (big_n - k) END AS msw
  FROM parts
)
SELECT lang, n, round(s1 / n, 6) AS mean_chars,
       round(msb, 6) AS ms_between,
       round(msw, 6) AS ms_within,
       round(CASE WHEN msw > 0 THEN msb / msw END, 6) AS f_stat,
       CASE WHEN msw > 0 THEN msb / msw > 3.0 END AS lengths_differ
FROM ms
""",
)
def q299_length_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA on document length by language — does a facet of the
    corpus have a materially different length profile (the signal that a
    per-language truncation budget q199 or packing budget q278 is
    warranted)?  F-statistic from exact integer power sums per group
    (the q87/q260/q277 rule: decimal-safe sums cast to double, ONE shared
    expression string), so both engines derive identical doubles; the
    window math runs over k=|langs| rows.  Scale shape: one scan, per-
    group partials, a |langs|-row exchange — the full ANOVA at 100 TB
    costs the same aggregate every q50-family audit already pays."""
    d = t(spark, sf_dir, "documents", columns=["lang", "n_chars"])
    dec = "decimal(38,0)"
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars").cast(dec)).cast("double").alias("s1"),
        F.sum((F.col("n_chars").cast(dec) * F.col("n_chars").cast(dec))).cast("double").alias("s2"),
    )
    w_all = Window.partitionBy()
    tot = g.select(
        "lang", F.col("n").cast("long").alias("n"), "s1", "s2",
        F.sum("n").over(w_all).alias("big_n"),
        F.sum("s1").over(w_all).alias("t"),
        F.count(F.lit(1)).over(w_all).alias("k"),
    )
    mean_dev = F.col("s1") / F.col("n") - F.col("t") / F.col("big_n")
    parts = tot.select(
        "lang", "n", "s1", "big_n", "k",
        (F.col("n") * mean_dev * mean_dev).alias("ssb_term"),
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")).alias("ssw_term"),
    )
    # degenerate-input guard (r6 review): Spark's x/0 yields NULL where
    # DuckDB's double division yields inf — make both engines emit NULL
    # explicitly when k = 1 (no between-group df) or ms_within = 0
    ms_between = F.when(
        F.col("k") > 1, F.sum("ssb_term").over(w_all) / (F.col("k") - 1)
    )
    ms_within = F.when(
        F.col("big_n") > F.col("k"),
        F.sum("ssw_term").over(w_all) / (F.col("big_n") - F.col("k")),
    )
    f_stat = F.when(ms_within > 0, ms_between / ms_within)
    return parts.select(
        "lang", "n",
        F.round(F.col("s1") / F.col("n"), 6).alias("mean_chars"),
        F.round(ms_between, 6).alias("ms_between"),
        F.round(ms_within, 6).alias("ms_within"),
        F.round(f_stat, 6).alias("f_stat"),
        F.when(ms_within > 0, ms_between / ms_within > 3.0).alias("lengths_differ"),
    )


@query(
    "q300_packed_fill_audit",
    oracle="""
WITH tk AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY n_tokens DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 512
           AS pack_id
  FROM tk
),
packs AS (
  SELECT source, pack_id,
         CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         sum(n_tokens) > 512 AS overflow
  FROM packed GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_packs,
       CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       round(sum(pack_tokens) / (CAST(count(*) AS DOUBLE) * 512), 6) AS avg_fill,
       CAST(sum(CASE WHEN overflow THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
       CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens
FROM packs GROUP BY source
""",
)
def q300_packed_fill_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill/waste audit of the packed-shard writer's assignment — q278's
    math re-applied to the EXACT code path sinks/packing.py writes with
    (r6 verdict #3): assign_packs(strategy='chunk') in (tokens desc,
    doc_id) order at a 512-token budget, pack_summary per pack, then a
    per-source rollup of packs, fill against budget, overflow (straddler)
    packs, and the largest pack.  Because the query and the writer share
    assign_packs/pack_summary, a green oracle diff here certifies the
    bytes export_packed_shards lands, not a parallel re-derivation.
    Scale shape: the assignment windows partition by source (the loader
    shard), the audit is two metadata-scale aggregates."""
    from bigquack_spark.sinks.packing import _with_tokens, assign_packs, pack_summary

    d = t(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    assigned = assign_packs(
        _with_tokens(d, "text", None), budget=512, group_col="source",
        id_col="doc_id", strategy="chunk",
    )
    packs = pack_summary(assigned, budget=512, group_col="source")
    return packs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("pack_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum("pack_tokens") / (F.count(F.lit(1)).cast("double") * 512), 6
        ).alias("avg_fill"),
        F.sum(F.col("overflow").cast("long")).cast("long").alias("n_overflow"),
        F.max("pack_tokens").cast("long").alias("max_pack_tokens"),
    )


@query(
    "q302_pack_padding_histogram",
    oracle="""
WITH tk AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY n_tokens DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 512
           AS pack_id
  FROM tk
),
packs AS (
  SELECT source, pack_id, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
  FROM packed GROUP BY 1, 2
),
hist AS (
  SELECT CAST(least(pack_tokens * 10 // 512, 10) AS BIGINT) AS fill_decile,
         CAST(count(*) AS BIGINT) AS n_packs,
         CAST(sum(512 - least(pack_tokens, 512)) AS BIGINT) AS padding_tokens
  FROM packs GROUP BY 1
)
SELECT fill_decile, n_packs, padding_tokens,
       round(n_packs / CAST(SUM(n_packs) OVER () AS DOUBLE), 6) AS pack_share
FROM hist
""",
)
def q302_pack_padding_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste distribution of the packed-shard writer (q300's
    companion): bucket each pack's fill into deciles of the 512-token
    budget (decile 10 = full-or-overflowing) and report pack counts plus
    the padding tokens a loader would burn per bucket — the histogram that
    decides whether to re-pack with a different budget.  Reuses the
    writer's own assign_packs/pack_summary chunk path, so the audited
    numbers are the shipped artifact's.  Integer lattice throughout
    (least/floor on token counts) — engine-exact."""
    from bigquack_spark.sinks.packing import _with_tokens, assign_packs, pack_summary

    d = t(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    assigned = assign_packs(
        _with_tokens(d, "text", None), budget=512, group_col="source",
        id_col="doc_id", strategy="chunk",
    )
    packs = pack_summary(assigned, budget=512, group_col="source")
    hist = packs.groupBy(
        F.least(F.expr("pack_tokens * 10 div 512"), F.lit(10))
        .cast("long")
        .alias("fill_decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum(F.lit(512) - F.least("pack_tokens", F.lit(512))).cast("long")
        .alias("padding_tokens"),
    )
    w_all = Window.partitionBy()
    return hist.select(
        "fill_decile", "n_packs", "padding_tokens",
        F.round(F.col("n_packs") / F.sum("n_packs").over(w_all).cast("double"), 6)
        .alias("pack_share"),
    )


@query(
    "q307_length_percentile_bands",
    oracle="""
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
picks AS (
  SELECT lang, n,
         max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))
                  THEN n_chars END) AS p25,
         max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT))
                  THEN n_chars END) AS p50,
         max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))
                  THEN n_chars END) AS p75
  FROM ranked GROUP BY lang, n
)
SELECT lang,
       CAST(n AS BIGINT) AS n_docs,
       CAST(p25 AS BIGINT) AS p25_chars,
       CAST(p50 AS BIGINT) AS p50_chars,
       CAST(p75 AS BIGINT) AS p75_chars,
       CAST(p75 - p25 AS BIGINT) AS iqr_chars
FROM picks
""",
)
def q307_length_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length percentile bands (p25/p50/p75 + IQR)
    by EXACT order-statistic rank selection on the integer n_chars lattice
    (the q293/q294/q296 pattern: row_number rank picks, never engine
    quantile interpolation, so both engines agree bit-for-bit) — the
    numbers a per-language truncation/packing budget (q199/q278) is set
    from.  One |lang|-partitioned window over the pruned two-column scan,
    then a |lang|-row aggregate."""
    d = t(spark, sf_dir, "documents", columns=["doc_id", "lang", "n_chars"])
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = d.select(
        "lang", "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p):
        target = F.greatest(F.lit(1), F.ceil(F.lit(p) * F.col("n")).cast("long"))
        return F.max(F.when(F.col("rn") == target, F.col("n_chars")))

    return ranked.groupBy("lang", "n").agg(
        pick(0.25).cast("long").alias("p25_chars"),
        pick(0.50).cast("long").alias("p50_chars"),
        pick(0.75).cast("long").alias("p75_chars"),
    ).select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        "p25_chars", "p50_chars", "p75_chars",
        (F.col("p75_chars") - F.col("p25_chars")).cast("long").alias("iqr_chars"),
    )


@query(
    "q315_readability_bands",
    oracle="""
WITH scored AS (
  SELECT lang, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syll
  FROM documents WHERE length(trim(text)) > 0
),
flesch AS (
  SELECT lang, source, n_words, n_sentences, n_syll,
         206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (n_syll / CAST(n_words AS DOUBLE)) AS score
  FROM scored WHERE n_words > 0
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(score), 6) AS avg_flesch,
       CAST(sum(CASE WHEN score >= 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
       CAST(sum(CASE WHEN score < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_hard,
       round(avg(n_words / CAST(n_sentences AS DOUBLE)), 6) AS avg_sentence_len
FROM flesch
GROUP BY lang, source
""",
)
def q315_readability_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (Flesch reading-ease with a vowel-group
    syllable heuristic) banded per (lang, source) — the fluency-proxy
    gate a training-data curation pass runs beside q51's surface-quality
    signals: word/sentence/syllable counts are per-row regexp folds
    (exact integers, identical cross-engine), the score a shared
    double-precision formula, and the only shuffle the (lang, source)
    aggregate.  The syllable heuristic is a HEURISTIC (stated in-name:
    vowel groups) — the bands, not the third decimal, are the signal."""
    d = t(spark, sf_dir, "documents",
          columns=["lang", "source", "text"], rebalance=True)
    d = d.filter(F.length(F.trim("text")) > 0)
    n_words = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), F.lit(0))), F.lit(1)
    ).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    scored = d.select(
        "lang", "source",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syll.alias("n_syll"),
    ).filter(F.col("n_words") > 0)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences").cast("double"))
        - F.lit(84.6) * (F.col("n_syll") / F.col("n_words").cast("double"))
    )
    return (
        scored.withColumn("score", score)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("score"), 6).alias("avg_flesch"),
            F.sum((F.col("score") >= 60).cast("int")).cast("long").alias("n_easy"),
            F.sum((F.col("score") < 30).cast("int")).cast("long").alias("n_hard"),
            F.round(
                F.avg(F.col("n_words") / F.col("n_sentences").cast("double")), 6
            ).alias("avg_sentence_len"),
        )
    )


@query(
    "q316_mojibake_audit",
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN length(regexp_extract_all(text, chr(65533))) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_replacement_char,
       CAST(sum(CASE WHEN length(regexp_extract_all(text,
                     '[' || chr(1) || '-' || chr(8) || chr(11) || chr(12)
                         || chr(14) || '-' || chr(31) || ']')) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_control_chars,
       CAST(sum(CASE WHEN length(regexp_extract_all(text,
                     '[' || chr(8203) || '-' || chr(8205) || chr(65279) || ']')) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_width,
       round(sum(CASE WHEN length(regexp_extract_all(text, chr(65533))) > 0
                 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
         AS replacement_rate
FROM documents
GROUP BY source
""",
)
def q316_mojibake_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-corruption tripwire per source: documents carrying U+FFFD
    replacement characters (a decode already went wrong upstream), C0
    control characters (tab/newline excluded), or zero-width/BOM
    characters (invisible tokens that poison dedup fingerprints and
    tokenizers).  The corpus-hygiene gate that runs BEFORE q51's quality
    scoring — a source with a nonzero replacement rate needs its ingest
    decoder fixed, not its documents filtered.  Pure per-row regexp
    predicates; one source-bounded aggregate."""
    d = t(spark, sf_dir, "documents", columns=["source", "text"], rebalance=True)

    def has(pattern: str):
        return (
            F.size(F.regexp_extract_all("text", F.lit(pattern), F.lit(0))) > 0
        ).cast("int")

    repl = has("�")
    ctrl = has("[\x01-\x08\x0b\x0c\x0e-\x1f]")
    zw = has("[​-‍﻿]")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(repl).cast("long").alias("n_replacement_char"),
        F.sum(ctrl).cast("long").alias("n_control_chars"),
        F.sum(zw).cast("long").alias("n_zero_width"),
        F.round(F.sum(repl) / F.count(F.lit(1)).cast("double"), 6).alias(
            "replacement_rate"
        ),
    )


_VOCAB_TOPK = 50


@query(
    "q318_vocab_divergence",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS tok FROM documents
),
toks2 AS (SELECT source, tok FROM toks WHERE length(tok) > 0),
corpus AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cn FROM toks2 GROUP BY tok
),
top AS (
  SELECT tok, cn FROM (
    SELECT tok, cn, row_number() OVER (ORDER BY cn DESC, tok) AS rk FROM corpus
  ) WHERE rk <= {_VOCAB_TOPK}
),
bucketed AS (
  SELECT t.source,
         CASE WHEN top.tok IS NOT NULL THEN t.tok ELSE '~other' END AS bucket
  FROM toks2 t LEFT JOIN top ON t.tok = top.tok
),
sc AS (
  SELECT source, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM bucketed GROUP BY source, bucket
),
cb AS (
  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS ccnt FROM sc GROUP BY bucket
),
totals AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM sc GROUP BY source
),
grand AS (SELECT CAST(sum(ccnt) AS BIGINT) AS n FROM cb),
nb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM cb),
grid AS (
  SELECT t.source, t.n_s, c.bucket, c.ccnt, g.n, nb.b,
         coalesce(s.cnt, 0) AS cnt
  FROM totals t CROSS JOIN cb c CROSS JOIN grand g CROSS JOIN nb
  LEFT JOIN sc s ON s.source = t.source AND s.bucket = c.bucket
),
terms AS (
  SELECT source, n_s, bucket,
         (cnt + 1) / CAST(n_s + b AS DOUBLE) AS p,
         (ccnt + 1) / CAST(n + b AS DOUBLE) AS c
  FROM grid
),
folded AS (
  SELECT source, any_value(n_s) AS n_tokens,
         list(0.5 * p * ln(p / ((p + c) / 2))
              + 0.5 * c * ln(c / ((p + c) / 2)) ORDER BY bucket) AS lt
  FROM terms GROUP BY source
)
SELECT source, n_tokens, round(list_sum(lt), 6) AS js_divergence,
       CAST(row_number() OVER (
         ORDER BY round(list_sum(lt), 6) DESC, source) AS INTEGER) AS rank
FROM folded
""",
)
def q318_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture monitor: Jensen-Shannon divergence of each source's
    token distribution against the whole corpus, over the top-{_VOCAB_TOPK}
    corpus tokens plus an OTHER bucket (Laplace-smoothed) — the number
    that says WHICH ingest source drifted from the mixture a model was
    curated for (q283's mixture balance says how much of each source;
    this says how differently each source speaks).

    Determinism: all probabilities derive from exact BIGINT counts via
    one shared formula; the per-source sum folds in FIXED bucket order
    (sorted-struct fold — the q184/q141 precedent), so both engines add
    identical doubles in identical order, rounded once at the end.
    Scale: one token aggregate (pair-vocabulary bounded), a broadcast
    top-K set, a (sources x {_VOCAB_TOPK}+1)-sized grid — nothing
    corpus-sized past the first groupBy."""
    d = t(spark, sf_dir, "documents", columns=["source", "text"], rebalance=True)
    toks = d.select(
        "source", F.explode(X.tokens(F.col("text"))).alias("tok")
    ).filter(F.length("tok") > 0)
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cn"))
    w_top = Window.orderBy(F.desc("cn"), F.asc("tok"))
    top = corpus.withColumn("rk", F.row_number().over(w_top)).filter(
        F.col("rk") <= _VOCAB_TOPK
    ).select("tok")
    bucketed = toks.join(F.broadcast(top.withColumn("__hit", F.lit(1))), "tok", "left").select(
        "source",
        F.when(F.col("__hit").isNotNull(), F.col("tok")).otherwise(
            F.lit("~other")
        ).alias("bucket"),
    )
    sc = bucketed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cb = sc.groupBy("bucket").agg(F.sum("cnt").cast("long").alias("ccnt"))
    totals = sc.groupBy("source").agg(F.sum("cnt").cast("long").alias("n_s"))
    grand = cb.agg(F.sum("ccnt").cast("long").alias("n"))
    nb = cb.agg(F.count(F.lit(1)).cast("long").alias("b"))
    grid = (
        totals.crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(grand))
        .crossJoin(F.broadcast(nb))
        .join(sc, ["source", "bucket"], "left")
        .select(
            "source", "n_s", "bucket",
            ((F.coalesce("cnt", F.lit(0)) + 1) / (F.col("n_s") + F.col("b")).cast("double")).alias("p"),
            ((F.col("ccnt") + 1) / (F.col("n") + F.col("b")).cast("double")).alias("c"),
        )
    )
    folded = (
        grid.groupBy("source")
        .agg(
            F.any_value("n_s").alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct("bucket", F.col("p"), F.col("c")))
            ).alias("lt"),
        )
        .select(
            "source", "n_tokens",
            F.round(
                F.aggregate(
                    F.col("lt"),
                    F.lit(0.0),
                    lambda acc, e: acc
                    + (
                        F.lit(0.5) * e["p"] * F.log(e["p"] / ((e["p"] + e["c"]) / 2))
                        + F.lit(0.5) * e["c"] * F.log(e["c"] / ((e["p"] + e["c"]) / 2))
                    ),
                ),
                6,
            ).alias("js_divergence"),
        )
    )
    w_rank = Window.orderBy(F.desc("js_divergence"), F.asc("source"))
    return folded.withColumn("rank", F.row_number().over(w_rank).cast("int"))
