"""Semantic tests for the extension operators (SURVEY §2.9): dedup
recall/precision on planted duplicates, simhash locality, ANN recall,
multimodal plumbing determinism, type mapping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigquack_spark.operators import dedup as D
from bigquack_spark.operators import multimodal as M
from bigquack_spark.operators import simsearch as S
from bigquack_spark.operators import text as X
from bigquack_spark.types import BQField, bq_field_to_spark, bq_schema_to_struct
from tests.conftest import SF_SMOKE, SF_T2

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with known near-duplicate structure: docs 1/2 are near-dups of
    0; docs 10.. are unrelated."""
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),  # 1-token change
        (2, BASE + " extra trailing words here"),  # small suffix
        (10, "completely different content about database engines and query planers"),
        (11, "yet another unrelated document discussing spark shuffle partitions"),
        (12, "numbers and symbols only one two three four five six seven eight"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_near_dup_pipeline_finds_planted(planted):
    pairs = D.near_dup_pairs(
        planted, num_hashes=32, rows_per_band=2, shingle_len=3, threshold=0.5
    ).collect()
    found = {(r.a, r.b) for r in pairs}
    assert (0, 1) in found and (0, 2) in found
    assert all(a < 10 and b < 10 for a, b in found)  # no false positives


def test_exact_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y")], "doc_id bigint, text string"
    )
    out = {r.text: r.doc_id for r in D.exact_dedup_keep_first(df, ["text"], "doc_id").collect()}
    assert out == {"x": 1, "y": 2}


def test_simhash_locality(planted):
    """Identical text -> identical hash; near-dup -> small hamming; unrelated
    -> large hamming."""
    sh = {r.doc_id: r.simhash for r in D.simhash(planted).collect()}
    assert all(0 <= h < 2**60 for h in sh.values())
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[0], sh[1]) < ham(sh[0], sh[10])
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[11])


def test_simhash_jaccard_near_dup_blocking(spark, planted):
    """Chunk blocking guarantees detection for hamming <= 3 (pigeonhole over
    4 x 15-bit chunks of the 60-bit simhash); plant an exact duplicate
    (hamming 0) plus the near variants and require no unrelated pair
    survives.  threshold=0.0 leaves the Jaccard verify a no-op, so the pair
    set is the blocking's."""
    with_dup = planted.union(
        spark.createDataFrame([(3, BASE)], "doc_id bigint, text string")
    )
    got = {
        (r.a, r.b)
        for r in D.simhash_jaccard_near_dup(with_dup, max_hamming=3, threshold=0.0).collect()
    }
    assert (0, 3) in got  # exact duplicate always blocked together
    assert all(a < 10 and b < 10 for a, b in got)


def test_lsh_topk_recall(spark):
    """ANN recall@10 vs brute force on the real embeddings table."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = e.filter("vec_id < 5")
    exact = S.cosine_topk(e, queries, k=10)
    approx = S.lsh_topk(e, queries, k=10, num_planes=4, multiprobe_bits=2)
    exact_set = {(r.qid, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.qid, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # synthetic embeddings are near-orthogonal (max cos ~0.51) — the worst
    # case for sign-LSH; 4 planes + 2-bit multiprobe trades candidates for
    # recall
    assert recall >= 0.6, f"recall@10 = {recall}"


def test_gemm_topk_identical_to_codegen_fold(spark):
    """The GEMM kernel (q75) and the declarative fold (q40) are two physical
    strategies for the same operator: every (qid, neighbor, sim, rank) cell
    must be identical, including rounded sims and tie order — and the result
    must survive the corpus arriving in many partitions (partial top-k per
    batch + global merge)."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = e.filter("vec_id < 5")
    exact = sorted(map(tuple, S.cosine_topk(e, queries, k=10).collect()))
    gemm = sorted(map(tuple, S.gemm_topk(e, queries, k=10).collect()))
    assert gemm == exact
    sharded = sorted(map(tuple, S.gemm_topk(e.repartition(7), queries, k=10).collect()))
    assert sharded == exact


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "v array<double>")
    val = df.select(S.cosine(F.col("v"), F.col("v")).alias("c")).collect()[0].c
    assert val == pytest.approx(1.0, abs=1e-12)


def test_lang_id_picks_marker_language(spark):
    df = spark.createDataFrame(
        [
            (1, "el la de que y el la"),
            (2, "the and of is a the and"),
            (3, "der die das und ist der"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.predicted_lang for r in X.lang_id(df).collect()}
    assert out == {1: "es", 2: "en", 3: "de"}


def test_multimodal_decode_deterministic(planted):
    media = M.attach_binary_payload(planted, "doc_id", "text", kind="image")
    a = sorted(M.decode_media(media).collect())
    b = sorted(M.decode_media(media).collect())
    assert a == b
    first = a[0]
    assert 16 <= first.width < 256 and 16 <= first.height < 256
    assert first.format in ("jpeg", "png", "webp")
    assert first.byte_len > 0 and len(first.phash) == 16


def test_multimodal_frame_sampling(planted):
    media = M.attach_binary_payload(planted, "doc_id", "text", kind="video")
    frames = M.sample_frames(media, every_ms=500, max_frames=4).collect()
    assert frames
    assert all(f.frame_idx < 4 for f in frames)
    assert all(f.frame_offset_ms == f.frame_idx * 500 for f in frames)


def test_resize_is_explicit_stub(planted):
    media = M.attach_binary_payload(planted, "doc_id", "text")
    with pytest.raises(NotImplementedError):
        M.resize_stub(media, 64, 64)


def test_bq_type_mapping():
    """SURVEY §1.3 table: scalar map, REPEATED -> array, RECORD recursion,
    precision caps, unsupported rejection."""
    assert bq_field_to_spark(BQField("s", "STRING")).dataType == T.StringType()
    assert bq_field_to_spark(BQField("n", "NUMERIC")).dataType == T.DecimalType(38, 9)
    assert bq_field_to_spark(BQField("b", "BIGNUMERIC")).dataType == T.DecimalType(38, 18)
    rep = bq_field_to_spark(BQField("r", "INT64", mode="REPEATED"))
    assert rep.dataType == T.ArrayType(T.LongType(), containsNull=False)
    req = bq_field_to_spark(BQField("q", "BOOL", mode="REQUIRED"))
    assert not req.nullable
    nested = bq_schema_to_struct(
        [BQField("rec", "RECORD", fields=[BQField("x", "FLOAT"), BQField("t", "TIMESTAMP")])]
    )
    inner = nested["rec"].dataType
    assert isinstance(inner, T.StructType) and inner["x"].dataType == T.DoubleType()
    with pytest.raises(ValueError, match="unsupported"):
        bq_field_to_spark(BQField("u", "UNION"))


def test_ivf_topk_recall(spark):
    """IVF recall@10 vs brute force; also determinism across invocations
    (seeded KMeans)."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = e.filter("vec_id < 5")
    exact = {(r.qid, r.neighbor_id) for r in S.cosine_topk(e, queries, k=10).collect()}
    a1 = S.ivf_topk(e, queries, k=10, n_lists=8, n_probes=2).collect()
    a2 = S.ivf_topk(e, queries, k=10, n_lists=8, n_probes=2).collect()
    assert sorted(map(tuple, a1)) == sorted(map(tuple, a2))  # deterministic
    approx = {(r.qid, r.neighbor_id) for r in a1}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"recall@10 = {recall}"


def test_ivf_topk_frozen_recall_and_fallback(spark):
    """The frozen-lattice quantizer (q42's hash-checkable twin of the
    trained IVF) keeps comparable recall@10 — frozen seeds are a valid
    coarse quantizer, not a degenerate one — and a corpus smaller than
    n_lists falls back to exact brute force like ivf_topk does."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = e.filter("vec_id < 5")
    exact = {(r.qid, r.neighbor_id) for r in S.cosine_topk(e, queries, k=10).collect()}
    approx = {
        (r.qid, r.neighbor_id)
        for r in S.ivf_topk_frozen(e, queries, k=10, n_lists=8, n_probes=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"recall@10 = {recall}"
    # a corpus smaller than n_lists yields fewer cells, same probe math as
    # the oracle; probing every cell degenerates to exact brute force
    tiny = e.filter("vec_id < 4")
    got = S.ivf_topk_frozen(tiny, tiny, k=2, n_lists=8, n_probes=8).collect()
    brute = S.cosine_topk(tiny, tiny, k=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, brute))
    # empty corpus: nothing to index or rank — empty result, no crash
    empty = e.filter("vec_id < 0")
    assert S.ivf_topk_frozen(empty, tiny, k=2).count() == 0


def test_asof_join_semantics(spark):
    """Planted as-of cases: match-at-equal-ts, latest-before, no-match."""
    from bigquack_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 205, "e2"), (2, 50, "e3"), (3, 10, "e4")],
        "k bigint, lts bigint, ev string",
    )
    right = spark.createDataFrame(
        [(1, 100, 7, 1.0), (1, 200, 8, 2.0), (1, 200, 9, 3.0), (2, 60, 10, 4.0)],
        "k bigint, rts bigint, rid bigint, rv double",
    )
    out = {
        r.ev: (r.rid, r.rv)
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_cols=["rid", "rv"], right_tiebreak="rid",
        ).collect()
    }
    assert out["e1"] == (7, 1.0)      # equal ts matches
    assert out["e2"] == (9, 3.0)      # latest <=, max tiebreak among ties
    assert out["e3"] == (None, None)  # right is after left -> no match
    assert out["e4"] == (None, None)  # key has no right rows


def test_salted_aggregate_equals_plain(spark):
    from bigquack_spark.operators.joins import salted_aggregate

    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    import pyspark.sql.functions as F2

    salted = salted_aggregate(
        e, ["event_type"],
        {"n": (F2.count(F2.lit(1)), F2.sum), "mx": (F2.max("event_id"), F2.max)},
        salt_buckets=8,
    )
    plain = e.groupBy("event_type").agg(
        F2.count(F2.lit(1)).alias("n"), F2.max("event_id").alias("mx")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_asof_join_property(spark):
    """Property check: asof_join equals a brute-force per-row lookup on
    randomized (seeded) key/timestamp data, including tie and no-match
    cases."""
    import random

    rng = random.Random(7)
    left_rows = [
        (rng.randint(0, 4), rng.randint(0, 50), i) for i in range(60)
    ]
    right_rows = [
        (rng.randint(0, 4), rng.randint(0, 50), i, float(i)) for i in range(40)
    ]
    left = spark.createDataFrame(left_rows, "k bigint, lts bigint, lid bigint")
    right = spark.createDataFrame(right_rows, "k bigint, rts bigint, rid bigint, rv double")

    from bigquack_spark.operators.joins import asof_join

    got = {
        r.lid: r.rid
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_cols=["rid", "rv"], right_tiebreak="rid",
        ).collect()
    }

    def brute(k, lts):
        cands = [(rts, rid) for (rk, rts, rid, _) in right_rows if rk == k and rts <= lts]
        return max(cands)[1] if cands else None

    want = {lid: brute(k, lts) for (k, lts, lid) in left_rows}
    assert got == want


def test_salted_join_equals_plain(spark):
    from bigquack_spark.operators.joins import salted_join

    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("event_id", "user_id")
    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    salted = salted_join(e, c, on="user_id", salt_buckets=8)
    plain = e.join(c, "user_id")
    assert salted.count() == plain.count()
    assert sorted(map(tuple, salted.select("event_id", "c_name").collect())) == sorted(
        map(tuple, plain.select("event_id", "c_name").collect())
    )


def test_approx_aggregates_within_tolerance(spark):
    """q62 emits driver-checkable verdicts: both sketches within 5% of the
    exact anchors on every group, plus a deterministic exact count."""
    from bigquack_spark.queries import QUERIES

    rows = QUERIES["q62_approx_aggregates"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.exact_parts > 0
        assert r.parts_within_5pct is True
        assert r.median_within_5pct is True


def test_asof_join_forward_direction(spark):
    """direction='forward': earliest right row with rts >= lts."""
    from bigquack_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, "e1"), (1, 250, "e2"), (2, 90, "e3")],
        "k bigint, lts bigint, ev string",
    )
    right = spark.createDataFrame(
        [(1, 100, 7, 1.0), (1, 200, 8, 2.0), (2, 50, 10, 4.0)],
        "k bigint, rts bigint, rid bigint, rv double",
    )
    out = {
        r.ev: r.rid
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_cols=["rid", "rv"], direction="forward", right_tiebreak="rid",
        ).collect()
    }
    assert out["e1"] == 7      # rts == lts matches
    assert out["e2"] is None   # nothing at or after 250
    assert out["e3"] is None   # right row is before left -> no forward match


def test_embedding_near_dup_blocked_path(spark):
    """The 100 TB path: blocking key bounds the pairwise work.  Blocked by
    label, the result must equal the unblocked result restricted to
    same-label pairs."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    blocked = D.embedding_near_dup(
        e, "vec_id", "embedding", threshold=0.3, block_col="label"
    )
    full = D.embedding_near_dup(e, "vec_id", "embedding", threshold=0.3, unblocked=True)
    labels = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}
    full_same_label = {
        (r.a, r.b, r.cosine_sim)
        for r in full.collect()
        if labels[r.a] == labels[r.b]
    }
    blocked_set = {(r.a, r.b, r.cosine_sim) for r in blocked.collect()}
    assert blocked_set == full_same_label
    assert blocked_set  # non-trivial at threshold 0.3


def test_embedding_near_dup_default_blocks_with_lsh(spark):
    """The DEFAULT (no block_col) derives a sign-LSH bucket: results are a
    subset of the exact unblocked pairs, and a planted near-identical pair
    (cos ~ 1, angle ~ 0 -> survives every hyperplane) is always found."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    rows = [(0, [float(x) for x in base]),
            (1, [float(x) for x in base + 1e-4 * rng.standard_normal(64)])]
    rows += [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(2, 40)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {(r.a, r.b) for r in D.embedding_near_dup(e, threshold=0.95).collect()}
    assert (0, 1) in got
    exact = {(r.a, r.b)
             for r in D.embedding_near_dup(e, threshold=0.95, unblocked=True).collect()}
    assert got <= exact


def test_lsh_candidate_pairs_oversized_bucket_cap(spark):
    """Degenerate corpus (many identical docs -> one giant LSH bucket): the
    cap diverts the bucket to star edges — O(n) pairs anchored at the
    bucket min instead of O(n^2) — and the closure still collapses the
    whole clone set into one cluster."""
    n = 40
    rows = [(i, "the same boilerplate page text repeated verbatim") for i in range(n)]
    rows += [(100 + i, f"unique filler document number {i} with words {i*7} {i*13}")
             for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    bands = D.minhash_bands(df, num_hashes=8, rows_per_band=2, shingle_len=2)
    capped = D.lsh_candidate_pairs(bands, max_bucket_size=10).collect()
    clone_pairs = [(r.a, r.b) for r in capped if r.a < n and r.b < n]
    # star form: exactly n-1 edges, all anchored at doc 0 — not n*(n-1)/2
    assert sorted(clone_pairs) == [(0, b) for b in range(1, n)]
    clusters = D.connected_components(
        spark.createDataFrame(clone_pairs, "a bigint, b bigint")
    ).collect()
    assert {r.cluster_id for r in clusters} == {0}
    # uncapped path unchanged for normal buckets
    uncapped = D.lsh_candidate_pairs(bands).collect()
    assert len({(r.a, r.b) for r in uncapped if r.a < n}) == n * (n - 1) // 2


# -- corpus assembly (operators/corpus.py) -----------------------------------


def test_hash_split_deterministic_and_complete(spark):
    """Split labels are a pure function of (salt, id): invariant under
    repartitioning, exhaustive, and re-dealt by a salt change."""
    from bigquack_spark.operators import corpus as C

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    a = {(r.doc_id, r.split) for r in C.hash_split(d).select("doc_id", "split").collect()}
    b = {
        (r.doc_id, r.split)
        for r in C.hash_split(d.repartition(13)).select("doc_id", "split").collect()
    }
    assert a == b
    assert {s for _, s in a} <= {"train", "val", "test"}
    assert len(a) == d.count()
    redealt = {
        (r.doc_id, r.split)
        for r in C.hash_split(d, salt="v2").select("doc_id", "split").collect()
    }
    assert redealt != a  # salt is the only knob


def test_mixture_sample_rates_and_nesting(spark):
    """Kept sets respect per-source rates approximately and nest: a lower
    rate for the same salt keeps a subset of a higher rate's picks."""
    from bigquack_spark.operators import corpus as C

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    lo = {r.doc_id for r in C.mixture_sample(d, {"src0": 10}, default_pct=10).collect()}
    hi = {r.doc_id for r in C.mixture_sample(d, {"src0": 60}, default_pct=60).collect()}
    assert lo <= hi  # bucket < 10 implies bucket < 60: monotone thresholds
    n = d.count()
    assert 0 < len(lo) < len(hi) < n


def test_contamination_finds_planted_copy(spark):
    """A benchmark doc planted verbatim into the training side must surface
    with score 1.0; disjoint-vocab docs must not pair with it."""
    from bigquack_spark.operators import corpus as C

    bench = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # verbatim copy
            (2, "one two three four five six seven eight nine"),  # disjoint
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in C.contamination_pairs(train, bench).collect()}
    assert 1 in got and got[1].score == 1.0
    assert 2 not in got


def test_connected_components_chain_and_islands(spark):
    """A 100-node path (a diameter far above the round cap, so only an
    O(log n)-round algorithm closes it), a 2-node island, and a
    self-contained pair must resolve to exactly three components labeled by
    their minimum node ids."""
    edges = [(i, i + 1) for i in range(99)] + [(100, 101), (200, 201)]
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {r.node: r.cluster_id for r in D.connected_components(df).collect()}
    assert {got[i] for i in range(100)} == {0}
    assert got[100] == got[101] == 100
    assert got[200] == got[201] == 200
    assert len(got) == 104


def test_connected_components_raises_when_out_of_rounds(spark, monkeypatch):
    """Running out of rounds is an error, never a silently split answer."""
    monkeypatch.setattr(D, "CC_MAX_ROUNDS", 1)
    df = spark.createDataFrame([(i, i + 1) for i in range(9)], "a bigint, b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(df)


def test_table_diff_null_safe_and_statuses(spark):
    """NULL vs non-NULL differs, NULL vs NULL equal; statuses cover
    left_only/right_only/differs; equal rows are dropped."""
    from bigquack_spark.operators.reconcile import table_diff

    left = spark.createDataFrame(
        [(1, "a", None), (2, "b", 2.0), (3, "c", 3.0), (5, None, 5.0)],
        "k bigint, s string, v double",
    )
    right = spark.createDataFrame(
        [(1, "a", None), (2, "b", 9.0), (4, "d", 4.0), (5, "x", 5.0)],
        "k bigint, s string, v double",
    )
    got = {r.k: (r.status, r.n_cols_differ) for r in table_diff(left, right, ["k"]).collect()}
    assert got == {
        2: ("differs", 1),     # v changed
        3: ("left_only", 0),
        4: ("right_only", 0),
        5: ("differs", 1),     # NULL vs 'x'
    }  # k=1 equal (NULL==NULL null-safe) and absent


def test_hash_split_matches_reference_impl(spark):
    """Property check: the Spark md5-bucket expression equals a pure-Python
    reimplementation on randomized ids, including negatives and 2^62-scale
    extremes (the cross-engine portability contract of q83/q85/q88)."""
    import hashlib
    import random

    from bigquack_spark.operators import corpus as C

    rng = random.Random(11)
    ids = list({rng.randint(-(2**62), 2**62) for _ in range(300)})
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")

    def brute(i, salt="split-v1"):
        h = hashlib.md5(f"{salt}|{i}".encode()).hexdigest()
        b = int(h[:6], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    got = {r.doc_id: r.split for r in C.hash_split(df).collect()}
    assert got == {i: brute(i) for i in ids}


def test_money_cents_units_exact_on_lattice(spark):
    """Property check: the integer cent-x-percent summand equals exact
    Fraction arithmetic for randomized 2-decimal prices and discounts —
    the no-float-accumulation guarantee every money query leans on."""
    import random
    from fractions import Fraction

    rng = random.Random(13)
    rows = [
        (round(rng.uniform(0.01, 99999.99), 2), round(rng.uniform(0.0, 0.10), 2))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "l_extendedprice double, l_discount double")

    from bigquack_spark.queries.relational import _money_cents_units

    got = df.agg(F.sum(_money_cents_units()).cast("long").alias("u")).collect()[0].u
    want = sum(
        int(Fraction(str(p)) * 100) * (100 - int(Fraction(str(d)) * 100))
        for p, d in rows
    )
    assert got == want


def test_connected_components_matches_union_find_random_graph(spark):
    """On a seeded random graph (dense clusters + a long chain + self-loops
    + duplicate edges) the cluster assignment equals a pure-Python
    union-find's, and a node whose only edge is a self-loop is not
    emitted."""
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(40, 70)]  # 31-node chain
    for _ in range(60):  # dense small clusters
        base = rng.randrange(0, 4) * 10
        edges.append((base + rng.randrange(10), base + rng.randrange(10)))
    edges += [(5, 5), (0, 1), (0, 1), (500, 500)]  # self-loops + dup edges
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {r.node: r.cluster_id for r in D.connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    assert got == {n: find(n) for n in list(parent)}
    assert 500 not in got


def test_pack_shards_budget_and_sliced_equivalence(spark):
    """Packing invariants: (1) global_order=True test-tier form — every
    shard except possibly the last stays under budget + its last doc's
    size, shard ids are contiguous from 0, doc order within shards follows
    id order; (2) explicit-slice form — within each slice, local packing
    is identical to running the global form on that slice alone; (3) the
    DEFAULT auto-sliced form partitions docs by the md5 hash bucket and
    packs each derived slice exactly like the explicit form would."""
    from bigquack_spark.operators.corpus import _hash_bucket, pack_shards

    rows = [(i, (i * 37) % 90 + 10) for i in range(200)]  # sizes 10..99
    df = spark.createDataFrame(rows, "doc_id bigint, n_tok bigint")
    packed = pack_shards(df, "n_tok", budget=300, global_order=True).collect()
    by_shard = {}
    for r in sorted(packed, key=lambda r: r.doc_id):
        by_shard.setdefault(r.shard, []).append(r.n_tok)
    assert sorted(by_shard) == list(range(len(by_shard)))
    for shard, sizes in by_shard.items():
        # exclusive-prefix cut: all but the final doc fit under the budget
        assert sum(sizes) - sizes[-1] < 300

    sliced = pack_shards(
        df.withColumn("slice", (df.doc_id % 4).cast("int")),
        "n_tok", budget=300, slice_col="slice",
    ).collect()
    for s in range(4):
        sub = spark.createDataFrame(rows_f(rows, s), "doc_id bigint, n_tok bigint")
        solo = {
            r.doc_id: r.shard
            for r in pack_shards(sub, "n_tok", budget=300, global_order=True).collect()
        }
        got = {r.doc_id: int(r.shard.split("-")[1]) for r in sliced if r.slice == s}
        assert got == solo

    # default path == explicit path on the same derived buckets
    auto = {r.doc_id: r.shard for r in pack_shards(df, "n_tok", budget=300).collect()}
    explicit = {
        r.doc_id: r.shard
        for r in pack_shards(
            df.withColumn("b", _hash_bucket(df.doc_id, "pack-v1", 64)),
            "n_tok", budget=300, slice_col="b",
        ).collect()
    }
    assert auto == explicit and len({s.split("-")[0] for s in auto.values()}) > 1


def rows_f(rows, s):
    return [(i, n) for i, n in rows if i % 4 == s]


def test_shingles_short_doc_yields_empty(spark):
    """Regression (review finding): docs with fewer tokens than the shingle
    length must produce an EMPTY shingle array, not a descending-sequence
    slice crash (F.sequence(0, size-n) descends when size<n)."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "one two three four five six")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r.sh for r in D._shingles_frame(df, "text", 5, "sh").collect()}
    assert rows[1] == [] and rows[2] == []
    assert len(rows[3]) == 2  # 6 tokens -> two distinct 5-grams


def test_rolling_median_all_null_frame(spark, tmp_path):
    """collect_list drops NULLs, so a frame whose values are all NULL is an
    empty array — the median must be NULL (DuckDB semantics), not an
    element_at(l, 0) crash."""
    import datetime

    from bigquack_spark.queries.events import q113_rolling_median

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 0), 7, "view", None, "{}"),
        (2, datetime.datetime(2024, 1, 1, 0, 0, 1), 7, "view", None, "{}"),
        (3, datetime.datetime(2024, 1, 1, 0, 0, 2), 7, "view", 4.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {r.event_id: r.med for r in q113_rolling_median(spark, str(tmp_path)).collect()}
    assert out[1] is None and out[2] is None and out[3] == 4.0


def test_simhash_jaccard_near_dup_planted(spark, planted):
    """The oracle-portable n-gram Jaccard family: planted near-dups must
    surface with high jaccard and small hamming; unrelated docs must not
    pair; over-wide hamming vs the pigeonhole guarantee must refuse."""
    got = {
        (r.a, r.b): (r.hamming, r.jaccard)
        for r in D.simhash_jaccard_near_dup(
            planted, max_hamming=3, threshold=0.3
        ).collect()
    }
    assert all(a < 10 and b < 10 for a, b in got)
    if (0, 2) in got:  # suffix-variant: expect strong overlap when blocked
        assert got[(0, 2)][1] > 0.5
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_jaccard_near_dup(planted, max_hamming=4)


def test_int8_quantization_preserves_ann_recall(spark):
    """Quantize -> dequantize -> brute-force top-k must keep high recall vs
    the float baseline on the real embeddings table (the 4x-memory ANN
    path), and every reconstruction error must respect the scale/2 bound."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = S.quantize_int8(e, vec_col="embedding")
    deq = S.dequantize(q, out_col="embedding_dq").select(
        "vec_id", F.col("embedding_dq").alias("embedding")
    )
    queries = e.filter("vec_id < 5")
    exact = {(r.qid, r.neighbor_id) for r in S.cosine_topk(e, queries, k=10).collect()}
    approx = {
        (r.qid, r.neighbor_id)
        for r in S.cosine_topk(deq, queries, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall@10 after int8 = {recall}"
    # error bound: |q*scale - x| <= scale/2 for every component
    bad = (
        S.dequantize(q, out_col="dq")
        .select(
            F.array_max(
                F.zip_with("dq", "embedding", lambda a, b: F.abs(a - b))
            ).alias("err"),
            (F.col("q_scale") * 0.5).alias("bound"),
        )
        .filter(F.col("err") > F.col("bound"))
        .count()
    )
    assert bad == 0


def test_compression_ratio_flags_repetitive_text(spark):
    """Deterministic across invocations; repetitive boilerplate compresses
    far below varied prose; empty text -> NULL."""
    rows = [
        (1, "spam spam spam spam " * 50),
        (2, "the quick brown fox jumps over a lazy dog while rain falls on tin roofs"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = {r.doc_id: r.compression_ratio for r in X.compression_ratio(df).collect()}
    b = {r.doc_id: r.compression_ratio for r in X.compression_ratio(df).collect()}
    assert a == b
    assert a[3] is None
    assert a[1] < 0.1 < a[2]


def test_queries_survive_empty_tables(spark, tmp_path):
    """Empty-input robustness: an empty partition/table must yield empty
    (or identity) results, never a crash — locked for the paths that once
    failed (KMeans fit, GEMM query matrix, footer-stats pushdown) plus
    representatives of each family."""
    import pyarrow.parquet as pq

    from bigquack_spark.queries import QUERIES

    empty = str(tmp_path / "sf_empty")
    import os

    os.makedirs(empty)
    for tbl in "region nation customer supplier part orders lineitem events documents embeddings".split():
        t0 = pq.read_table(f"{SF_SMOKE}/{tbl}.parquet")
        pq.write_table(t0.slice(0, 0), f"{empty}/{tbl}.parquet")
    for name in (
        "q42_ann_ivf_topk",
        "q75_ann_gemm_topk",
        "q106_footer_stats",
        "q01_pricing_summary",
        "q30_dedup_exact",
        "q113_rolling_median",
        "q117_ngram_jaccard_near_dup",
        "q141_bm25_search",
        "q144_kmeans_lloyd",  # once crashed: empty literal-centroid array
        "q147_centroid_classify",
        "q148_transition_pagerank",
        "q149_entity_typo_pairs",
        "q152_referential_integrity",
        "q153_weighted_reservoir",
        "q154_topp_curation",
    ):
        rows = QUERIES[name].fn(spark, empty).collect()
        assert rows is not None  # no crash; content checked by oracles elsewhere


def test_text_family_survives_unicode(spark):
    """CJK (no whitespace -> single giant token), emoji, RTL, combining
    accents: the text operators must not crash and must stay deterministic;
    short/unsegmented docs degrade to empty shingle sets by design."""
    rows = [
        (1, "大規模言語モデルの訓練データ"),
        (2, "café naïve résumé — \U0001f680\U0001f60a שלום"),
        (3, "a\u0301\u0302 combining marks everywhere ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(map(tuple, X.token_stats(df).collect()))
    assert a == sorted(map(tuple, X.token_stats(df).collect()))
    X.quality_signals(df).collect()
    X.lang_id(df).collect()
    sh1 = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    sh2 = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    assert sh1 == sh2
    X.compression_ratio(df).collect()


# ------------------------------------------------------- chunk-level dedup ----
def test_chunk_dedup_keeps_first_occurrence(spark):
    """Two docs sharing an identical 16-token chunk: the earlier (doc_id,
    position) occurrence survives, the later one is dropped; unique chunks
    all survive."""
    shared = " ".join(f"tok{i}" for i in range(16))  # exactly one chunk
    uniq_a = " ".join(f"aaa{i}" for i in range(16))
    uniq_b = " ".join(f"bbb{i}" for i in range(16))
    df = spark.createDataFrame(
        [(1, shared + " " + uniq_a), (2, uniq_b + " " + shared)],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in D.chunk_dedup(df, chunk_tokens=16).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2  # doc 1 keeps both
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1  # shared chunk dropped
    import hashlib

    assert out[2]["dedup_fingerprint"] == hashlib.md5(uniq_b.encode()).hexdigest()


def test_chunk_dedup_all_dropped_doc_gets_empty_fingerprint(spark):
    """A doc that is entirely duplicate chunks reassembles to '' (md5 of
    the empty string), not NULL — the oracle coalesces to match."""
    shared = " ".join(f"tok{i}" for i in range(16))
    df = spark.createDataFrame([(1, shared), (2, shared)], "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in D.chunk_dedup(df, chunk_tokens=16).collect()}
    import hashlib

    assert out[2]["n_kept"] == 0
    assert out[2]["dedup_fingerprint"] == hashlib.md5(b"").hexdigest()


# ------------------------------------------------------ incremental dedup ----
def test_incremental_dedup_statuses(spark):
    history = spark.createDataFrame([("h1",), ("h2",)], "fingerprint string")
    incoming = spark.createDataFrame(
        [
            (100, "h1"),  # dup of history
            (101, "n1"),  # novel
            (102, "n2"),  # novel, first of an in-batch pair
            (103, "n2"),  # dup in batch
        ],
        "doc_id bigint, fingerprint string",
    )
    out = {r["doc_id"]: r["status"] for r in D.incremental_dedup(incoming, history).collect()}
    assert out == {
        100: "dup_of_history",
        101: "novel",
        102: "novel",
        103: "dup_in_batch",
    }


def test_incremental_dedup_idempotent(spark):
    """Appending the novel set to history and re-running the same batch
    classifies every row dup_of_history — the convergence property that
    makes repeated ingestion runs safe."""
    history = spark.createDataFrame([("h1",)], "fingerprint string")
    incoming = spark.createDataFrame(
        [(1, "n1"), (2, "n1"), (3, "h1")], "doc_id bigint, fingerprint string"
    )
    first = D.incremental_dedup(incoming, history)
    novel = first.filter(F.col("status") == "novel").select("fingerprint")
    grown = history.union(novel)
    second = D.incremental_dedup(incoming, grown)
    assert second.filter(F.col("status") != "dup_of_history").count() == 0


# ------------------------------------------------------ NFC normalization ----
def test_nfc_kernel_matches_duckdb(spark, duck):
    """The mapInPandas NFC kernel and DuckDB's nfc_normalize must emit
    identical bytes on genuinely non-ASCII composed/decomposed pairs —
    the property the q131 oracle relies on."""
    samples = [
        "cafe\u0301",        # e + combining acute (decomposed)
        "\u00e9clair",        # precomposed e-acute
        "A\u030angstro\u0308m",  # combining ring / diaeresis (decomposed)
        "\u1e69",             # s with dot below + dot above (composed)
        "s\u0323\u0307",     # same, fully decomposed
        "plain ascii text",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i int, text string")
    got = {r["i"]: r["canon_text"] for r in X.nfc_canonicalize(df).collect()}
    for i, s in enumerate(samples):
        (expected,) = duck.execute("SELECT nfc_normalize(?)", [s]).fetchone()
        assert got[i] == expected, f"sample {i}: {got[i]!r} != {expected!r}"


def test_nfc_composed_and_decomposed_fingerprint_together(spark):
    """The end-to-end property: byte-different, canonically-equal docs get
    the SAME canonical fingerprint (q53's raw fingerprint splits them)."""
    df = spark.createDataFrame(
        [(1, "caf\u00e9 menu"), (2, "cafe\u0301 menu")], "doc_id bigint, text string"
    )
    canon = X.nfc_canonicalize(df)
    fps = canon.select(F.md5("canon_text").alias("fp")).distinct().count()
    raw_fps = df.select(F.md5("text").alias("fp")).distinct().count()
    assert fps == 1 and raw_fps == 2


def test_nfc_kernel_fuzz_vs_duckdb(spark, duck):
    """Seeded fuzz over arbitrary BMP code points (letters, combining
    marks, symbols, CJK, hangul jamo): one batch through the kernel, every
    row compared against DuckDB's nfc_normalize.  Catches Unicode-table
    skew between CPython's unicodedata and DuckDB's utf8proc on the ranges
    real corpora hit."""
    import random

    rng = random.Random(20260814)
    pools = [
        (0x0041, 0x024F),   # latin + extended
        (0x0300, 0x036F),   # combining diacriticals
        (0x0386, 0x03CE),   # greek
        (0x0400, 0x045F),   # cyrillic
        (0x1100, 0x1112),   # hangul jamo (compose to syllables)
        (0x1161, 0x1175),
        (0x4E00, 0x4E2F),   # CJK
        (0x0020, 0x007E),   # ascii
    ]
    def rand_text():
        n = rng.randint(1, 24)
        cps = []
        for _ in range(n):
            lo, hi = pools[rng.randrange(len(pools))]
            cps.append(chr(rng.randint(lo, hi)))
        return "".join(cps)

    samples = [rand_text() for _ in range(200)]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "i int, text string"
    )
    got = {r["i"]: r["canon_text"] for r in X.nfc_canonicalize(df).collect()}
    mism = []
    for i, s in enumerate(samples):
        (want,) = duck.execute("SELECT nfc_normalize(?)", [s]).fetchone()
        if got[i] != want:
            mism.append((i, s, got[i], want))
    assert not mism, mism[:3]


def test_mixture_resample_expectation_and_determinism(spark):
    """Upsampling semantics: every doc of a 250% source appears 2 or 3
    times with epochs 0..n-1; the 100% source exactly once; assignment is
    identical across repeated runs (md5, not rand)."""
    from bigquack_spark.operators.corpus import mixture_resample

    df = spark.createDataFrame(
        [(i, "hot" if i % 2 == 0 else "cold") for i in range(200)],
        "doc_id bigint, source string",
    )
    out = mixture_resample(df, {"hot": 250, "cold": 100})
    rows = out.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.epoch)
    for i in range(0, 200, 2):  # hot
        assert sorted(per_doc[i]) in ([0, 1], [0, 1, 2])
    for i in range(1, 200, 2):  # cold
        assert per_doc[i] == [0]
    hot_rows = sum(len(v) for k, v in per_doc.items() if k % 2 == 0)
    assert 220 <= hot_rows <= 280  # expectation 250 of 100 docs
    again = {(r.doc_id, r.epoch) for r in mixture_resample(df, {"hot": 250, "cold": 100}).collect()}
    assert again == {(r.doc_id, r.epoch) for r in rows}


def test_bpe_token_count_semantics(spark):
    """The BPE-ish pre-split bills contractions and punctuation that
    whitespace counting misses, and never under-counts it."""
    df = spark.createDataFrame(
        [
            (1, "I've got 2 cats, don't I?"),   # 10 pieces vs 6 ws tokens
            (2, "plain words only here"),         # equal
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in X.bpe_token_count(df).collect()}
    assert out[1].n_bpe_tokens == 10 and out[1].n_ws_tokens == 6
    assert out[2].n_bpe_tokens == out[2].n_ws_tokens == 4
    assert out[1].bpe_ws_ratio > 1.0


def test_winnowing_guarantee_and_edit_robustness(spark):
    """The winnowing property: documents sharing a token run >= k+w-1 (=7)
    share at least one fingerprint; a local edit elsewhere keeps the
    shared-run fingerprint alive (whole-doc hashing q53 loses both)."""
    shared_run = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    a = "intro words here " + shared_run + " closing remarks now"
    b = "totally different opening " + shared_run + " and another ending"
    c = "no overlap with anything else whatsoever in this one document"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id bigint, text string"
    )
    rows = {r.doc_id: set(r.fps) for r in X.winnow_fingerprints(df).collect()}
    assert rows[1] & rows[2], "docs sharing a 7-token run must share a fingerprint"
    assert not (rows[1] & rows[3]) and not (rows[2] & rows[3])


def test_winnowing_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "one two three")], "doc_id bigint, text string")
    r = X.winnow_fingerprints(df).collect()[0]
    assert r.fps == [] and r.n_fps == 0


def test_winnowing_stages_evaluate_once(spark):
    """r13 (guide §1.2/§4): the winnow chain must stay STAGED in the plan —
    the per-token md5 transform and the rolling fold each computed once per
    row as their own aliases.  The pre-r13 single-Column form inlined the
    md5 transform at every get()/slice() reference (HOF lambdas get no
    codegen subexpression elimination), which clocked q139 at 51 s on
    sf0.001; staged it is ~0.2 s.  Pin the plan property that fixed it:
    exactly ONE md5-transform occurrence and staged winnow aliases."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id bigint, text string",
    )
    plan = X.winnow_fingerprints(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") == 1, plan
    assert "__winnow_h" in plan and "__winnow_roll" in plan


def test_jaccard_verify_inclusion_exclusion_parity(spark):
    """r13 (guide §2.3): jaccard_verify now computes |A∪B| as
    |A|+|B|−|A∩B| (the shingle arrays are distinct by construction) and,
    for threshold <= 0, filters on |A|+|B| > 0 instead of on the jaccard
    itself.  Contract: bit-identical jaccard values and the same kept-pair
    set as the direct intersect/union formulation, including the empty-doc
    (0/0 -> dropped) and one-side-empty (jaccard 0.0 -> kept at t=0)
    edges; keep_cols carries pair metadata through."""
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (1, "the quick brown fox jumps over the sleepy dog tonight"),
            (2, "completely different words entirely here now"),
            (3, ""),  # tokenizes to [""] -> 1 distinct shingle at len=1
            (4, None),  # NULL text -> NULL shingles -> dropped
        ],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1, 7), (0, 2, 9), (0, 3, 11), (0, 4, 13), (3, 4, 17)],
        "a bigint, b bigint, meta bigint",
    )
    for shingle_len, threshold in ((1, 0.0), (1, 0.5), (3, 0.0), (3, 0.4)):
        got = {
            (r.a, r.b): (r.jaccard, r.meta)
            for r in D.jaccard_verify(
                pairs, docs, "doc_id", "text", shingle_len, threshold,
                keep_cols=("meta",),
            ).collect()
        }
        # reference: the pre-r13 direct formulation, unstaged shingles
        toks = F.split(F.lower("text"), r"\s+")
        if shingle_len == 1:
            sh = F.array_distinct(toks)
        else:
            idx = F.sequence(F.lit(0), F.size(toks) - shingle_len)
            sh = F.when(
                F.size(toks) >= shingle_len,
                F.array_distinct(F.transform(
                    idx, lambda i: F.array_join(F.slice(toks, i + 1, shingle_len), " ")
                )),
            ).otherwise(F.array().cast("array<string>"))
        sa = docs.select(F.col("doc_id").alias("a"), sh.alias("sh_a"))
        sb = docs.select(F.col("doc_id").alias("b"), sh.alias("sh_b"))
        ref_j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
            F.array_union("sh_a", "sh_b")
        ).cast("double")
        ref = {
            (r.a, r.b): (r.jaccard, r.meta)
            for r in pairs.join(sa, "a").join(sb, "b")
            .withColumn("jaccard", ref_j)
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "meta", "jaccard")
            .collect()
        }
        assert got == ref, (shingle_len, threshold, got, ref)


def test_shingle_and_signature_staging_evaluate_once(spark):
    """r13 (q139 lesson, guide §1.2): the n-gram shingle build and the
    per-seed minhash folds must reference STAGED arrays — one split()
    per row in the optimized plan, not one per lambda element/seed."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id bigint, text string",
    )
    # _shingles_frame(n>=2): one split, staged token alias survives
    plan = D._shingles_frame(df, "text", 3, "sh")._jdf.queryExecution(
    ).optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert "__shingle_toks" in plan, plan
    # wide signature, unigram and trigram: one split feeding all seeds
    for num_hashes, shingle_len in ((8, 1), (16, 3)):
        plan = D.minhash_signature_wide(
            df, "doc_id", "text", num_hashes, shingle_len
        )._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, (shingle_len, plan)


def test_lsh_candidate_pairs_single_dedup_exchange(spark):
    """r13 (guide §2.2/§2.4): the explicit hash repartition by (a, b) must
    REPLACE the distinct's own exchange, not stack a second one — the plan
    carries exactly one (a, b)-keyed shuffle, sized to defaultParallelism
    so the downstream per-pair verify stage is never starved by a
    bytes-tuned spark.sql.shuffle.partitions."""
    docs = spark.createDataFrame(
        [(i, f"common shared tokens everywhere {i % 2}") for i in range(8)],
        "doc_id bigint, text string",
    )
    bands = D.minhash_bands(docs, "doc_id", "text", 8, 2)
    cands = D.lsh_candidate_pairs(bands, "doc_id")
    plan = cands._jdf.queryExecution().executedPlan().toString()
    n_pair_exchanges = plan.count("hashpartitioning(a#")
    assert n_pair_exchanges == 1, plan
    expected = docs.sparkSession.sparkContext.defaultParallelism
    assert f"hashpartitioning(a#" in plan and f", {expected})" in plan, plan


def test_near_dup_graph_matches_q36_pairs(spark):
    """The closure family's pair graph (q86/q99/q164/q227/q233/q329) is
    q36's verified pair set: one md5 signature, band and Jaccard verify —
    the chain their shared oracle replays — with no second hash family."""
    import bigquack_spark.queries.dedup as QD

    _, pairs = QD._near_dup_graph(spark, SF_SMOKE)
    assert "xxhash64" not in pairs._jdf.queryExecution().optimizedPlan().toString()
    graph = {(r.a, r.b) for r in pairs.collect()}
    q36 = {(r.a, r.b) for r in QD.q36_lsh_near_dup_pairs(spark, SF_SMOKE).collect()}
    assert graph == q36 and graph


def test_knn_graph_agg_matches_window_argmax(spark, tmp_path):
    """r13: q140's per-doc top-1 is now min(struct(-jaccard, neighbor))
    over the exploded symmetric pairs.  Contract: identical rows to the
    pre-r13 unionAll + row_number() window formulation, including the
    (jaccard DESC, neighbor_id ASC) tie-break."""
    import bigquack_spark.queries.dedup as QD
    from pyspark.sql.window import Window

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the sleepy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "unrelated words about spark shuffle partitions and joins"),
        (5, "unrelated words about spark shuffle partitions and joins"),
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.doc_id): (r.neighbor_id, r.jaccard)
        for r in QD.q140_knn_graph(spark, str(tmp_path)).collect()
    }
    # reference: re-run the window formulation over the same scored pairs
    from bigquack_spark.sources.parquet import load_table

    docs = load_table(spark, str(tmp_path), "documents")
    bands = D.minhash_bands(docs, "doc_id", "text", QD.NUM_HASHES, QD.ROWS_PER_BAND)
    cands = D.lsh_candidate_pairs(bands, "doc_id")
    scored = D.jaccard_verify(cands, docs, "doc_id", "text", shingle_len=1, threshold=0.0)
    scored = scored.withColumn("jaccard", F.round("jaccard", 6))
    sym = scored.select(
        F.col("a").alias("doc_id"), F.col("b").alias("neighbor_id"), "jaccard"
    ).unionAll(
        scored.select(F.col("b").alias("doc_id"), F.col("a").alias("neighbor_id"), "jaccard")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), "neighbor_id")
    ref = {
        r.doc_id: (r.neighbor_id, r.jaccard)
        for r in sym.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "neighbor_id", "jaccard")
        .collect()
    }
    assert got == ref and got, (got, ref)


def test_simhash_jaccard_carries_hamming_single_subtree(spark, planted):
    """r13: simhash_jaccard_near_dup carries hamming THROUGH the verify
    (keep_cols) instead of re-joining the candidate frame — the optimized
    plan must contain the simhash vote fold exactly twice (once per join
    side of the blocking self-join), not four times."""
    out = D.simhash_jaccard_near_dup(planted, max_hamming=3, threshold=0.0)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(hashes") == 2, plan
    rows = out.collect()
    assert rows and all(
        r.hamming is not None and r.jaccard is not None for r in rows
    )


def test_bloom_semi_join_equals_plain_semi_join(spark):
    """bloom_semi_join is an OPTIMIZATION, not a semantics change: for any
    key set, its output must equal the plain left-semi join (false
    positives are caught by the trailing exact join; false negatives are
    impossible in a bloom filter)."""
    from bigquack_spark.operators.joins import bloom_semi_join

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )
    keys = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    got = bloom_semi_join(li, "l_orderkey", keys, "o_orderkey")
    want = li.join(
        keys.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_semi"
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bloom_prefilter_actually_prunes(spark):
    """The bitmap must reject (almost all) non-member keys before the semi
    join: with a tiny member set, the bloom-filtered row count should sit
    near the true match count, far below the input count (128 KiB bitmap,
    5 probes => ~0 false-positive rate at this cardinality)."""
    from bigquack_spark.operators.joins import _bloom_probe

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select("l_orderkey")
    keys = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("__bk"))
        .distinct()
    )
    num_bits, k = 1 << 20, 5
    probes = None
    for j in range(k):
        slot, mask = _bloom_probe(F.col("__bk"), num_bits, j)
        p = keys.select(slot.alias("__slot"), mask.alias("__mask"))
        probes = p if probes is None else probes.unionByName(p)
    words = probes.groupBy("__slot").agg(F.bit_or("__mask").alias("__bits"))
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("__slot", "__bits"))).alias("__bloom")
    )
    cond = None
    for j in range(k):
        slot, mask = _bloom_probe(F.col("l_orderkey"), num_bits, j)
        hit = (
            F.coalesce(F.element_at(F.col("__bloom"), slot), F.lit(0).cast("long"))
            .bitwiseAND(mask)
            == mask
        )
        cond = hit if cond is None else (cond & hit)
    surviving = li.join(F.broadcast(bloom)).filter(cond).count()
    total = li.count()
    true_matches = li.join(
        keys.select(F.col("__bk").alias("l_orderkey")), "l_orderkey", "left_semi"
    ).count()
    assert surviving < total * 0.6  # prunes the majority of non-members
    assert surviving >= true_matches  # never drops a true member
    # false-positive slack: at 1 Mbit / ~1.2k keys the fp rate is ~0
    assert surviving <= true_matches * 1.05 + 100


def test_ivf_index_build_probe_roundtrip(spark, tmp_path):
    """Persisted IVF index (build once, serve many) must return EXACTLY
    what the in-session ivf_topk computes with the same seed/params — the
    quantizer is deterministic, so the index is just a materialization —
    and the probe plan must show dynamic partition pruning (the scan is
    bounded by probed cells, not corpus size)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf")
    n = S.build_ivf_index(emb, path, n_lists=4, seed=42)
    assert n == 4
    served = S.probe_ivf_index(spark, path, queries, k=5, n_probes=2)
    inline = S.ivf_topk(emb, queries, k=5, n_lists=4, n_probes=2, seed=42)
    got = sorted(map(tuple, served.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan


def test_probe_collect_cells_literal_parity_and_plan(spark, tmp_path):
    """r13 serving-path optimization (guide §2.4): ``collect_cells=True``
    re-issues the bounded driver-resolved probe assignment as a LITERAL
    frame, so the per-execution coarse crossJoin+window subtree (and its
    Exchange) disappears from the executed plan.  Contracts: (1) output
    identical to the DPP variant for BOTH probe paths; (2) the literal
    plan carries a LocalTableScan and strictly fewer Exchanges."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivfcc")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42) == 4
    S.add_pq_to_ivf_index(spark, path, m=8, k_codes=16, seed=42)
    for fn, kw in ((S.probe_ivf_index, {}), (S.probe_ivf_pq, {"rerank": 10_000})):
        dyn = fn(spark, path, queries, k=5, n_probes=2, **kw)
        lit = fn(spark, path, queries, k=5, n_probes=2, collect_cells=True, **kw)
        assert sorted(map(tuple, dyn.collect())) == sorted(map(tuple, lit.collect()))
        lplan = lit._jdf.queryExecution().executedPlan().toString()
        dplan = dyn._jdf.queryExecution().executedPlan().toString()
        # createDataFrame(rows) plans as a literal local input —
        # LocalTableScan or Scan ExistingRDD depending on the codepath
        assert "LocalTableScan" in lplan or "Scan ExistingRDD" in lplan
        assert lplan.count("Exchange") < dplan.count("Exchange")


def test_filtered_ann_probe_prunes_before_scoring(spark, tmp_path):
    """FILTERED ANN over the persisted index (r9 verdict #5): metadata
    stored at build time lets a probe push its attribute predicate into
    the cell scans.  Contracts: (1) every result satisfies the predicate;
    (2) with all cells probed and an un-truncating rerank budget, the
    filtered IVF-PQ probe equals exact filtered brute force (pre-filter,
    not post-filter — k results survive even where dominant neighbors
    fail the predicate); (3) the predicate appears as a PushedFilter on
    BOTH the codes scan (pre-ADC) and the plain index scan."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "fivf")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42,
                             metadata_cols=["label"]) == 4
    S.add_pq_to_ivf_index(spark, path, m=8, k_codes=16, seed=42)

    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    served = S.probe_ivf_index(spark, path, queries, k=5, n_probes=4,
                               predicate="label = 1")
    rows = served.collect()
    assert rows and all(labels[r.neighbor_id] == 1 for r in rows)
    # exactness with every cell probed + un-truncating rerank
    pq = S.probe_ivf_pq(spark, path, queries, k=5, n_probes=4,
                        rerank=10_000, predicate="label = 1")
    brute = S.cosine_topk(emb.filter("label = 1"), queries, k=5)
    assert sorted(map(tuple, pq.collect())) == sorted(map(tuple, brute.collect()))
    # the predicate reaches the parquet readers (prunes before ADC/cosine)
    for df in (served, pq):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(label), EqualTo(label,1)" in plan \
            or "EqualTo(label,1)" in plan.split("PushedFilters")[1]


def test_filtered_ann_metadata_survives_append_and_rebuild(spark, tmp_path):
    """Metadata must flow through the whole index lifecycle: an appended
    vector is visible to filtered probes (a metadata-less append would
    read back NULL and fail every predicate silently), and a generation
    rebuild carries the metadata columns into the new index + pq_codes."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    first = emb.filter("vec_id >= 100")
    path = str(tmp_path / "mivf")
    assert S.build_ivf_index(first, path, n_lists=4, seed=42,
                             metadata_cols=["label"]) == 4
    S.add_pq_to_ivf_index(spark, path, m=8, k_codes=16, seed=42)
    late = emb.filter("vec_id < 100")
    assert S.append_to_ivf_index(spark, path, late) == late.count()
    queries = emb.filter("vec_id < 3")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    want_label = int(next(l for l in labels.values() if l is not None))
    pred = f"label = {want_label}"
    got = S.probe_ivf_pq(spark, path, queries, k=5, n_probes=4,
                         rerank=10_000, predicate=pred).collect()
    assert got and all(labels[r.neighbor_id] == want_label for r in got)
    appended_ids = {r.vec_id for r in late.collect()}
    assert any(r.neighbor_id in appended_ids for r in got)  # appends visible
    # rebuild publishes a new generation that still serves filtered probes
    S.rebuild_ivf_index(spark, path)
    after = S.probe_ivf_pq(spark, path, queries, k=5, n_probes=4,
                           rerank=10_000, predicate=pred).collect()
    assert after and all(labels[r.neighbor_id] == want_label for r in after)


def test_ivf_index_small_corpus_refuses(spark, tmp_path):
    """A corpus smaller than n_lists writes nothing (brute force is exact
    there) — the caller contract mirrors ivf_topk's fallback."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(3)
    assert S.build_ivf_index(emb, str(tmp_path / "ivf2"), n_lists=8) == 0


def test_merge_agg_partials_equals_full_aggregate(spark):
    """IVM combine theorem on the lattice: combine(agg(A), agg(B)) ==
    agg(A ∪ B) for sum/count/min/max partials."""
    from bigquack_spark.operators.ivm import merge_agg_partials

    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    a = e.filter(F.col("us") % 2 == 0)
    b = e.filter(F.col("us") % 2 != 0)

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
            F.min("us").alias("first_us"),
            F.max("us").alias("last_us"),
        )

    merged = merge_agg_partials(
        [partial(a), partial(b)],
        keys=["event_type"],
        spec={"n": "count", "cents": "sum", "first_us": "min", "last_us": "max"},
    )
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, partial(e).collect()))
    assert got == want


def test_merge_agg_partials_rejects_holistic(spark):
    import pytest as _pytest

    from bigquack_spark.operators.ivm import merge_agg_partials

    df = spark.range(3).groupBy().agg(F.count(F.lit(1)).alias("n"))
    with _pytest.raises(ValueError, match="non-algebraic"):
        merge_agg_partials([df], keys=[], spec={"n": "median"})


def test_bloom_semi_join_rejects_type_mismatch(spark):
    """xxhash64 is type-sensitive: an int-vs-string probe pair must raise,
    never silently drop rows via hash-mismatch false negatives."""
    import pytest as _pytest

    from bigquack_spark.operators.joins import bloom_semi_join

    big = spark.range(100).select(F.col("id").alias("k"))
    keys = spark.range(10).select(F.col("id").cast("string").alias("k"))
    with _pytest.raises(ValueError, match="type"):
        bloom_semi_join(big, "k", keys, "k")


def test_bloom_semi_join_widens_integral_types(spark):
    """int32 keys probing a bigint big side must return EXACTLY the plain
    semi-join result (the r2-ADVICE false-negative class)."""
    from bigquack_spark.operators.joins import bloom_semi_join

    big = spark.range(500).select(F.col("id").alias("k"))  # bigint
    keys = spark.range(0, 500, 7).select(F.col("id").cast("int").alias("k"))
    got = sorted(r.k for r in bloom_semi_join(big, "k", keys, "k").collect())
    want = sorted(
        r.k for r in big.join(keys.select(F.col("k").cast("long")), "k", "left_semi").collect()
    )
    assert got == want


def test_distinct_sketch_partials_merge_equals_direct(spark):
    """HLL mergeability: merging per-half sketches reads the same estimate
    as sketching the whole data, and lands within 5% of exact."""
    from bigquack_spark.operators.ivm import distinct_partials, merge_distinct_partials

    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_type", "user_id", F.unix_micros("ts").alias("us")
    )
    a, b = e.filter(F.col("us") % 2 == 0), e.filter(F.col("us") % 2 != 0)
    merged = merge_distinct_partials(
        [distinct_partials(a, ["event_type"], "user_id"),
         distinct_partials(b, ["event_type"], "user_id")],
        ["event_type"],
    )
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("n_distinct_est")
    )
    got = {r.event_type: r.n_distinct_est for r in merged.collect()}
    want = {r.event_type: r.n_distinct_est for r in direct.collect()}
    assert got == want
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.05


def test_hamming_rerank_recall(spark):
    """Two-stage (sign-bit prefilter -> exact rerank) recall@10 vs the
    exact brute-force baseline on the real embeddings table."""
    from bigquack_spark.queries import QUERIES

    exact = QUERIES["q40_ann_cosine_topk"].fn(spark, SF_SMOKE)
    staged = QUERIES["q217_hamming_rerank"].fn(spark, SF_SMOKE)
    exact_set = {(r.qid, r.neighbor_id) for r in exact.collect()}
    staged_set = {(r.qid, r.neighbor_id) for r in staged.collect()}
    recall = len(exact_set & staged_set) / len(exact_set)
    assert recall >= 0.6, recall  # 64-bit signatures at dim=64: coarse but useful


def test_histogram_quantiles_merge_equals_direct(spark):
    """Mergeable-quantile theorem: quantiles read from MERGED per-half
    histogram partials equal quantiles from the direct histogram, and sit
    within one bin width of the exact percentile."""
    from bigquack_spark.operators.ivm import (
        histogram_partials,
        merge_agg_partials,
        quantiles_from_histogram,
    )

    BIN = 50000  # $500 in cents
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_orderkey"),
    )
    a, b = li.filter(F.col("l_orderkey") % 2 == 0), li.filter(F.col("l_orderkey") % 2 != 0)
    merged_hist = merge_agg_partials(
        [histogram_partials(a, ["l_returnflag"], "cents", BIN),
         histogram_partials(b, ["l_returnflag"], "cents", BIN)],
        keys=["l_returnflag", "bin"],
        spec={"n": "sum"},
    )
    direct_hist = histogram_partials(li, ["l_returnflag"], "cents", BIN)
    qs = [0.5, 0.9]
    got = sorted(map(tuple, quantiles_from_histogram(merged_hist, ["l_returnflag"], BIN, qs).collect()))
    want = sorted(map(tuple, quantiles_from_histogram(direct_hist, ["l_returnflag"], BIN, qs).collect()))
    assert got == want
    exact = {
        (r.l_returnflag, q): r[f"p{int(q*100)}"]
        for r in li.groupBy("l_returnflag").agg(
            *[F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY cents)").alias(f"p{int(q*100)}") for q in qs]
        ).collect()
        for q in qs
    }
    for flag, q, lo in got:
        assert abs(exact[(flag, q)] - lo) <= BIN, (flag, q, lo, exact[(flag, q)])


def test_incremental_components_equals_full(spark):
    """Graph-IVM property: for several deterministic edge splits, folding
    the 'new' half into CC(old half) equals CC(all edges) — including
    bridge edges that merge previously-separate clusters."""
    import random

    from bigquack_spark.operators.dedup import (
        connected_components,
        incremental_components,
    )

    rng = random.Random(7)
    nodes = list(range(1, 61))
    edges = [(a, b) for a in nodes for b in nodes if a < b and rng.random() < 0.04]
    for salt in (1, 2, 3):
        r2 = random.Random(salt)
        old = [e for e in edges if r2.random() < 0.6]
        new = [e for e in edges if e not in old]
        if not old or not new:
            continue
        old_df = spark.createDataFrame(old, "a long, b long")
        new_df = spark.createDataFrame(new, "a long, b long")
        all_df = spark.createDataFrame(edges, "a long, b long")
        inc = incremental_components(connected_components(old_df), new_df)
        full = connected_components(all_df)
        got = sorted(map(tuple, inc.collect()))
        want = sorted(map(tuple, full.collect()))
        assert got == want, f"salt={salt}"


def test_schema_diff_classifies_changes(spark):
    from bigquack_spark.operators.reconcile import schema_diff

    old = spark.range(1).selectExpr(
        "CAST(id AS INT) AS a", "CAST(id AS DOUBLE) AS b", "CAST(id AS STRING) AS c"
    )
    new = spark.range(1).selectExpr(
        "CAST(id AS BIGINT) AS a", "CAST(id AS STRING) AS b", "CAST(id AS STRING) AS d"
    )
    rep = {r["column"]: r for r in schema_diff(old, new)}
    assert rep["a"]["change"] == "type_changed" and rep["a"]["append_safe"]  # widening
    assert rep["b"]["change"] == "type_changed" and not rep["b"]["append_safe"]
    assert rep["c"]["change"] == "dropped" and not rep["c"]["append_safe"]
    assert rep["d"]["change"] == "added" and rep["d"]["append_safe"]


def test_lsh_tune_selects_steepest_split():
    from bigquack_spark.operators.dedup import lsh_tune

    cfg = lsh_tune(threshold=0.8, num_hashes=16)
    assert cfg["bands"] * cfg["rows_per_band"] == 16
    # the S-curve must actually discriminate around the operating point
    assert cfg["p_above"] > cfg["p_at_threshold"] > cfg["p_below"]
    assert cfg["p_above"] - cfg["p_below"] > 0.3
    # implied threshold (where P=1-1/e) should sit near the target
    assert abs(cfg["implied_threshold"] - 0.8) < 0.35
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_tune(threshold=1.5, num_hashes=16)


def test_shared_span_pairs_finds_planted_copy(spark, tmp_path):
    """q247's MOSS pair report on a planted copy: a 30-token run copied
    from doc 1 into doc 2 must surface the (1,2) pair with a sane extent,
    while the unrelated doc 3 pairs with nobody (winnowing guarantee:
    shared runs >= k+w-1 tokens share fingerprints; unrelated token
    streams share none)."""
    import pandas as pd

    from bigquack_spark.queries import QUERIES

    rng = [f"tok{i}" for i in range(200)]
    base = " ".join(rng[:60])                      # doc 1: tokens 0..59
    copied = " ".join(rng[20:50])                  # 30-token run from doc 1
    other = " ".join(rng[100:130])
    tail = " ".join(rng[130:160])
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [base, other + " " + copied + " " + tail, " ".join(rng[160:200])],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    out = QUERIES["q247_shared_span_pairs"].fn(spark, str(tmp_path)).collect()
    pairs = {(r.doc_a, r.doc_b): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r.n_shared >= 3
    assert 0 <= r.a_first <= r.a_last
    assert 0 <= r.b_first <= r.b_last
    # doc 2's matched extent sits inside the copied region, which starts
    # after its 30-token unrelated prefix
    assert r.b_first >= 20
    assert not any(3 in p for p in pairs)


def test_shred_json_matches_per_query_extraction(spark, tmp_path):
    """Shred-at-ingest (the q20 parse-wall remedy): the typed column equals
    get_json_object per row, the raw column drops unless retained, and the
    q20 aggregate over the shredded table matches the re-parsing original."""
    from bigquack_spark.operators.jsonshred import shred_ingest, shred_json
    from tests.conftest import SF_SMOKE

    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    shredded = shred_json(e, "props", "k INT")
    assert "props" not in shredded.columns and "k" in shredded.columns
    diff = (
        e.select("event_id", F.get_json_object("props", "$.k").cast("int").alias("want"))
        .join(shredded.select("event_id", "k"), "event_id")
        .filter(~(F.col("k").eqNullSafe(F.col("want"))))
        .count()
    )
    assert diff == 0

    kept = shred_json(e, "props", "k INT", keep_raw=True)
    assert "props" in kept.columns

    dst = str(tmp_path / "events_shredded")
    manifest = shred_ingest(spark, f"{SF_SMOKE}/events.parquet", dst, "props", "k INT")
    assert manifest["n_rows"] == e.count()
    want = (
        e.groupBy("event_type")
        .agg(F.sum(F.get_json_object("props", "$.k").cast("int")).alias("s"))
        .collect()
    )
    got = (
        spark.read.parquet(dst)
        .groupBy("event_type")
        .agg(F.sum("k").alias("s"))
        .collect()
    )
    assert sorted((r.event_type, r.s) for r in got) == sorted(
        (r.event_type, r.s) for r in want
    )


def test_shred_json_rejects_column_collision(spark):
    """r4 review finding: a shred-schema field shadowing an existing column
    must raise instead of silently emitting duplicate column names."""
    from bigquack_spark.operators.jsonshred import shred_json
    from tests.conftest import SF_SMOKE

    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    with pytest.raises(ValueError, match="collide"):
        shred_json(e, "props", "value INT, k INT")


def test_guarded_join_passes_and_blocks():
    """guarded_join: exact cardinality pre-check lets a sane join through
    unchanged and blocks an N:M explosion BEFORE it runs, naming the
    offending keys."""
    import pytest as _pytest

    from bigquack_spark.operators.joins import JoinExplosionError, guarded_join
    from tests.conftest import SF_SMOKE
    from bigquack_spark.session import get_spark

    spark = get_spark()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    ok = guarded_join(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders,
        on="o_orderkey",
        max_output_rows=10_000_000,
    )
    assert ok.count() == lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).count()

    # duplicate 'dimension' keys -> N:M explosion, caught pre-join
    dup_dim = orders.select(F.col("o_custkey").alias("k")).limit(200)
    fact = lineitem.select(F.col("l_quantity").alias("v")).withColumn(
        "k", F.lit(1)
    )
    hot_dim = dup_dim.withColumn("k", F.lit(1))  # every dim row on one key
    with _pytest.raises(JoinExplosionError, match="worst keys"):
        guarded_join(fact, hot_dim, on="k", max_output_rows=1000)


def test_guarded_join_bypasses_semi_anti():
    """r4 advice: semi/anti joins are bounded by the left side's rows and
    cannot explode — the guard must NOT spuriously raise on them even when
    the inner-join cardinality of the same inputs would blow the budget."""
    from bigquack_spark.operators.joins import guarded_join
    from bigquack_spark.session import get_spark

    spark = get_spark()
    left = spark.range(100).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    right = spark.range(100).select(F.lit(1).alias("k"))  # inner would be 10k
    semi = guarded_join(left, right, on="k", max_output_rows=500, how="left_semi")
    assert semi.count() == 100
    # Spark accepts case/underscore variants; the bypass must too
    semi2 = guarded_join(left, right, on="k", max_output_rows=500, how="LEFT_SEMI")
    assert semi2.count() == 100
    anti = guarded_join(left, right, on="k", max_output_rows=500, how="left_anti")
    assert anti.count() == 0


def test_profile_approx_estimates_and_schema():
    """profile_approx (the 100x-tier shape of q118, r4 verdict #3): same
    long-form schema with n_distinct_approx, and every sketch estimate
    lands within 3x rsd of the exact distinct count at test SF."""
    from bigquack_spark.queries.quality import _PROFILE_COLS, profile_approx
    from bigquack_spark.session import get_spark
    from tests.conftest import SF_SMOKE

    spark = get_spark()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    prof = {r["col_name"]: r for r in profile_approx(orders, _PROFILE_COLS).collect()}
    assert set(prof) == {c for c, _ in _PROFILE_COLS}
    n = orders.count()
    for c, _ in _PROFILE_COLS:
        exact = orders.select(c).distinct().count()
        row = prof[c]
        assert row["n_rows"] == n
        assert abs(row["n_distinct_approx"] - exact) <= max(2, 0.15 * exact)


def test_q254_packing_invariants():
    """Compaction plan semantics: bins conserve bytes and files (every
    undersized file lands in exactly one bin), every bin except a
    partition's last is at least target-full (next-fit guarantee), and no
    bin exceeds target + max small-file size."""
    from bigquack_spark.queries.quality import (
        _BYTES_PER_ROW,
        _COMPACT_TARGET,
        q254_small_file_compaction_plan,
    )
    from bigquack_spark.session import get_spark

    spark = get_spark()
    bins = q254_small_file_compaction_plan(spark, SF_SMOKE).collect()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    files = (
        li.groupBy(
            "l_returnflag",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m"),
        )
        .agg((F.count(F.lit(1)) * _BYTES_PER_ROW).alias("bytes"))
        .filter(F.col("bytes") < _COMPACT_TARGET)
        .collect()
    )
    assert sum(b["n_files"] for b in bins) == len(files)
    assert sum(b["bin_bytes"] for b in bins) == sum(f["bytes"] for f in files)
    max_small = max(f["bytes"] for f in files)
    by_flag: dict[str, list] = {}
    for b in bins:
        by_flag.setdefault(b["l_returnflag"], []).append(b)
    for flag, group in by_flag.items():
        group.sort(key=lambda b: b["bin_id"])
        for b in group:
            assert b["bin_bytes"] <= _COMPACT_TARGET + max_small
        for b in group[:-1]:  # every bin but the last is at least full
            assert b["bin_bytes"] >= _COMPACT_TARGET


def test_q257_lateness_bounds():
    """Out-of-order semantics: only the displaced cohort (event_id % 13)
    can be late, so the late rate stays under 1/13 + block-boundary slack,
    and every lateness is positive and below the max event-time span."""
    from bigquack_spark.queries.quality import q257_out_of_order_rate
    from bigquack_spark.session import get_spark

    spark = get_spark()
    rows = q257_out_of_order_rate(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_late"] <= r["n_events"]
        assert r["late_rate"] <= 1 / 13 + 0.01
        if r["n_late"]:
            assert 0 < r["p95_late_sec"] <= r["max_late_sec"]


def test_q258_scorecard_matches_data():
    """The synthetic lineitem satisfies every range/enum/completeness
    contract but genuinely VIOLATES pk uniqueness (the generator reuses
    (orderkey, linenumber) pairs) — the scorecard must report exactly
    that: one failing rule, with n_failed equal to an independently
    computed duplicate count."""
    from bigquack_spark.queries.quality import q258_dq_expectations
    from bigquack_spark.session import get_spark

    spark = get_spark()
    rows = {r["rule"]: r for r in q258_dq_expectations(spark, SF_SMOKE).collect()}
    assert len(rows) == 8
    failing = {name for name, r in rows.items() if not r["passed"]}
    assert failing == {"pk_unique"}, failing
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    dups = li.count() - li.select("l_orderkey", "l_linenumber").distinct().count()
    assert rows["pk_unique"]["n_failed"] == dups > 0


def test_q261_benford_flags_synthetic_prices():
    """TPC-H's uniform price generator must FAIL the Benford audit — the
    chi-square statistic over the 9 digit terms sits far above the 5%
    critical value (15.5 at 8 dof).  Shares still sum to 1 exactly."""
    from bigquack_spark.queries.quality import q261_benford_audit
    from bigquack_spark.session import get_spark

    spark = get_spark()
    rows = q261_benford_audit(spark, SF_SMOKE).collect()
    assert sorted(r["digit"] for r in rows) == list(range(1, 10))
    assert abs(sum(r["observed_share"] for r in rows) - 1.0) < 1e-12
    n = sum(r["n_obs"] for r in rows)
    chi2 = n * sum(r["chi2_term"] for r in rows)
    assert chi2 > 15.5, chi2


def test_ivf_incremental_append_equals_full_assignment(spark, tmp_path):
    """Incremental IVF maintenance: appending a second batch against the
    FROZEN quantizer must serve exactly the results of assigning the
    whole corpus to those same centroids in one shot — and the append
    must not have touched (re-read or re-fit) the first batch."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 3)

    path = str(tmp_path / "ivf_inc")
    assert S.build_ivf_index(first, path, n_lists=4, seed=42) == 4
    n_new = S.append_to_ivf_index(spark, path, second)
    assert n_new == second.count()
    index = spark.read.parquet(f"{path}/index")
    assert index.count() == emb.count()
    assert index.select("id").distinct().count() == emb.count()
    served = S.probe_ivf_index(spark, path, queries, k=5, n_probes=2)

    # reference: one-shot assignment of the FULL corpus to the same
    # frozen centroids (also validates assign_to_cells == MLlib transform
    # on the first batch — same nearest-centroid rule)
    ref_path = str(tmp_path / "ivf_ref")
    centroids = spark.read.parquet(f"{path}/centroids")
    S.assign_to_cells(emb, centroids).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{ref_path}/index")
    centroids.write.mode("overwrite").parquet(f"{ref_path}/centroids")
    want = S.probe_ivf_index(spark, ref_path, queries, k=5, n_probes=2)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, want.collect()))


def test_q263_sampling_ranges_partition_the_total():
    """Negative-sampling table: cumulative ranges must tile [0, total)
    contiguously in the (n desc, token) order with widths equal to the
    smoothed weights — the property inverse-CDF sampling depends on."""
    from bigquack_spark.queries.text import q263_negative_sampling_table
    from bigquack_spark.session import get_spark

    spark = get_spark()
    rows = q263_negative_sampling_table(spark, SF_SMOKE).collect()
    rows.sort(key=lambda r: r["cum_lo_scaled"])
    assert rows[0]["cum_lo_scaled"] == 0
    for a, b in zip(rows, rows[1:]):
        assert a["cum_hi_scaled"] == b["cum_lo_scaled"]  # contiguous tiling
    total = rows[-1]["cum_hi_scaled"]
    assert abs(sum(r["p_smoothed"] for r in rows) - 1.0) < 1e-9
    # smoothing flattens: the head token's smoothed share is below its raw share
    n_tot = sum(r["n"] for r in rows)
    head = max(rows, key=lambda r: r["n"])
    assert head["p_smoothed"] < head["n"] / n_tot


def test_ivf_append_rejects_dimension_mismatch(spark, tmp_path):
    """A batch from a different embedding space must fail LOUDLY — the
    NULL-distance path would otherwise dump every vector into cell 0."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "ivf_dim")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42) == 4
    wrong = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.slice("embedding", 1, 3).alias("embedding"),
    )
    with pytest.raises(ValueError, match="dimension"):
        S.append_to_ivf_index(spark, path, wrong)


def test_ivf_cell_drift_recommends_rebuild_on_drifted_append(spark, tmp_path):
    """r5 verdict #6: the frozen-quantizer monitor — a same-distribution
    append keeps every cell near its build share (no rebuild); a drifted
    append (constant vector = upstream model collapse) balloons one cell
    past the ratio threshold and flips the recommendation."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)

    path = str(tmp_path / "ivf_steady")
    assert S.build_ivf_index(first, path, n_lists=4, seed=42) == 4
    S.append_to_ivf_index(spark, path, second)
    steady = S.ivf_cell_drift(spark, path, share_ratio_threshold=1.5).collect()
    assert len(steady) == 4
    assert sum(r.n_build for r in steady) == first.count()
    assert sum(r.n_now for r in steady) == emb.count()
    assert all(r.rebuild is False for r in steady)

    path2 = str(tmp_path / "ivf_drifted")
    assert S.build_ivf_index(first, path2, n_lists=4, seed=42) == 4
    drifted = second.withColumn(
        "embedding", F.expr("transform(embedding, x -> float(0.2))")
    )
    S.append_to_ivf_index(spark, path2, drifted)
    rows = S.ivf_cell_drift(spark, path2, share_ratio_threshold=1.5).collect()
    assert all(r.rebuild is True for r in rows)
    hot = [r for r in rows if r.hot]
    assert len(hot) == 1  # the constant vector lands in exactly one cell
    assert hot[0].share_ratio > 1.5


def test_ivf_rebuild_clears_drift_and_preserves_content(spark, tmp_path):
    """r6 verdict #2: rebuild_ivf_index closes the loop ivf_cell_drift
    opens — after the rebuild the drift monitor reads the refit snapshot
    (share_ratio 1 everywhere, rebuild=False), the index still holds every
    vector exactly once, the pointer names the new generation, and the new
    generation carries its _LINEAGE.json."""
    import json
    import os

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_rb")
    assert S.build_ivf_index(first, path, n_lists=4, seed=42) == 4
    drifted = second.withColumn(
        "embedding", F.expr("transform(embedding, x -> float(0.2))")
    )
    S.append_to_ivf_index(spark, path, drifted)
    assert S.ivf_cell_drift(spark, path).first().rebuild is True

    report = S.rebuild_ivf_index(spark, path)
    assert report["n_vectors"] == emb.count()
    assert report["n_lists"] == 4
    assert report["previous"] == "(flat)"

    after = S.ivf_cell_drift(spark, path).collect()
    assert all(r.rebuild is False for r in after)
    assert all(r.n_build == r.n_now for r in after)

    with open(os.path.join(path, S.CURRENT_PTR)) as fh:
        gen = json.load(fh)["gen"]
    assert gen == report["generation"]
    index = spark.read.parquet(os.path.join(path, gen, "index"))
    assert index.select("id").distinct().count() == emb.count() == index.count()
    with open(os.path.join(path, gen, "_LINEAGE.json")) as fh:
        lin = json.load(fh)
    assert lin["operation"] == "rebuild_ivf_index"
    assert lin["rows"] == emb.count()
    # the refit read the OLD generation's index as its source
    assert any("index" in p for s in lin["inputs"] for p in s["paths"])


def test_ivf_rebuild_probe_parity_and_recall(spark, tmp_path):
    """Probe contract across a rebuild: (a) with every cell probed, results
    are identical pre/post (the serving path reads a complete generation
    through the pointer); (b) on a drifted index at n_probes=1, recall vs
    brute force does not degrade and the hot-cell occupancy share drops —
    the rebalance that motivates the rebuild."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "ivf_par")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42) == 4
    before = sorted(
        map(tuple, S.probe_ivf_index(spark, path, queries, k=5, n_probes=4).collect())
    )
    S.rebuild_ivf_index(spark, path)
    after = sorted(
        map(tuple, S.probe_ivf_index(spark, path, queries, k=5, n_probes=4).collect())
    )
    assert before == after  # all-cells probe == brute force, generation-independent

    # drifted half: a far-region batch bloats one cell
    base = emb.filter(F.col("vec_id") % 2 == 0)
    shift = emb.filter(F.col("vec_id") % 2 == 1).withColumn(
        "embedding", F.expr("transform(embedding, x -> x + float(2.0))")
    )
    dpath = str(tmp_path / "ivf_drift")
    assert S.build_ivf_index(base, dpath, n_lists=4, seed=42) == 4
    S.append_to_ivf_index(spark, dpath, shift)

    def recall_and_hot(p):
        got = S.probe_ivf_index(spark, p, queries, k=5, n_probes=1)
        truth = S.cosine_topk(
            spark.read.parquet(f"{S._resolve_index_root(p)}/index").select(
                F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
            ),
            queries,
            k=5,
        )
        g = {(r.qid, r.neighbor_id) for r in got.collect()}
        t = {(r.qid, r.neighbor_id) for r in truth.collect()}
        occ = S.ivf_cell_drift(spark, p).collect()
        return len(g & t) / len(t), max(r.now_share for r in occ)

    rec_before, hot_before = recall_and_hot(dpath)
    S.rebuild_ivf_index(spark, dpath)
    rec_after, hot_after = recall_and_hot(dpath)
    assert rec_after >= rec_before
    assert hot_after < hot_before  # the bloated cell was split by the refit


def test_ivf_rebuild_generation_lifecycle(spark, tmp_path):
    """Appends route to the live generation after a swap; a second rebuild
    retains exactly one previous generation and retires the flat layout."""
    import os

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_gen")
    assert S.build_ivf_index(first, path, n_lists=4, seed=42) == 4
    r1 = S.rebuild_ivf_index(spark, path)

    # append lands inside the new generation, not the flat layout
    n_flat_before = spark.read.parquet(f"{path}/index").count()
    S.append_to_ivf_index(spark, path, second)
    gen_dir = os.path.join(path, r1["generation"])
    assert spark.read.parquet(f"{gen_dir}/index").count() == emb.count()
    assert spark.read.parquet(f"{path}/index").count() == n_flat_before

    r2 = S.rebuild_ivf_index(spark, path)
    assert r2["previous"] == r1["generation"]
    assert "(flat)" in r2["pruned"]  # flat layout retired at >=2 generations old
    assert not os.path.isdir(os.path.join(path, "index"))
    assert os.path.isdir(gen_dir)  # previous generation retained for readers
    live = os.listdir(path)
    assert sorted(d for d in live if d.startswith("gen-")) == sorted(
        [r1["generation"], r2["generation"]]
    )
    # the live index serves the full corpus
    assert (
        spark.read.parquet(
            os.path.join(path, r2["generation"], "index")
        ).count()
        == emb.count()
    )


def test_fresh_build_supersedes_generations(spark, tmp_path):
    """r7 review: build_ivf_index over a generation-managed path must be
    SERVED — the pointer is removed once the flat build is complete and
    orphan generations are pruned, so probes serve the fresh index and a
    later rebuild operates on it instead of deleting it."""
    import os

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path / "ivf_fresh")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42) == 4
    r1 = S.rebuild_ivf_index(spark, path)
    assert os.path.exists(os.path.join(path, S.CURRENT_PTR))

    # fresh wholesale build with a DIFFERENT corpus
    assert S.build_ivf_index(half, path, n_lists=4, seed=42) == 4
    assert not os.path.exists(os.path.join(path, S.CURRENT_PTR))
    # the previously-current generation is retained as a grace period for
    # mid-flight readers; a later build (no pointer) prunes it
    assert sorted(d for d in os.listdir(path) if d.startswith("gen-")) == [
        r1["generation"]
    ]
    assert S.build_ivf_index(half, path, n_lists=4, seed=42) == 4
    assert not any(d.startswith("gen-") for d in os.listdir(path))

    # probes serve the fresh (half) corpus, not the stale generation
    queries = emb.filter(F.col("vec_id") < 3)
    got = S.probe_ivf_index(spark, path, queries, k=50, n_probes=4)
    assert all(r.neighbor_id % 2 == 0 for r in got.collect())
    # drift monitor and a subsequent rebuild operate on the fresh build
    assert S.ivf_cell_drift(spark, path).count() == 4
    r2 = S.rebuild_ivf_index(spark, path)
    assert r2["n_vectors"] == half.count()
    assert r2["previous"] == "(flat)" and r1["generation"] not in os.listdir(path)


def test_ivf_pq_two_stage_probe_recall_and_degradation(spark, tmp_path):
    """IVF-PQ (r7 verdict #3): with a generous rerank budget the two-stage
    probe returns EXACTLY probe_ivf_index's answer (same probed cells,
    exact rerank), and at equal n_probes its recall@k against brute force
    is no worse than plain IVF's."""
    emb = spark.read.parquet(f"{SF_T2}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivfpq")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42) == 4
    rep = S.add_pq_to_ivf_index(spark, path, m=8, k_codes=16, seed=42)
    assert rep == {"m": 8, "k_codes": 16, "n_encoded": 500}

    plain = sorted(
        map(tuple, S.probe_ivf_index(spark, path, queries, k=5, n_probes=2).collect())
    )
    generous = sorted(
        map(
            tuple,
            S.probe_ivf_pq(spark, path, queries, k=5, n_probes=2, rerank=500).collect(),
        )
    )
    assert generous == plain  # graceful degradation to IVF-Flat

    # recall@5 vs brute force: PQ-with-rerank no worse than plain IVF
    brute = S.cosine_topk(emb, queries, k=5)
    want = {(r.qid, r.neighbor_id) for r in brute.select("qid", "neighbor_id").collect()}

    def recall(df):
        got = {(r.qid, r.neighbor_id) for r in df.collect()}
        return len(got & want) / len(want)

    r_ivf = recall(S.probe_ivf_index(spark, path, queries, k=5, n_probes=2))
    r_pq = recall(S.probe_ivf_pq(spark, path, queries, k=5, n_probes=2, rerank=150))
    assert r_pq >= r_ivf


def test_ivf_pq_adc_scan_reads_codes_not_vectors(spark, tmp_path):
    """The memory-bounded claim, plan-asserted: the ADC stage's scan of
    pq_codes must not materialize any vector column — vector bytes are
    read only for the rerank shortlist."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2)
    path = str(tmp_path / "ivfpq_plan")
    S.build_ivf_index(emb, path, n_lists=4, seed=42)
    S.add_pq_to_ivf_index(spark, path, m=2, k_codes=8, seed=42)
    served = S.probe_ivf_pq(spark, path, queries, k=3, n_probes=2, rerank=10)
    plan = served._jdf.queryExecution().executedPlan().toString()
    # identify the pq_codes scan by its column set (the Location path is
    # truncated in the plan string): it must carry codes and NO vector col
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    code_scans = [ln for ln in scans if "codes#" in ln]
    assert code_scans, "expected a FileScan over pq_codes"
    for ln in code_scans:
        assert "vec#" not in ln, "ADC stage must not materialize vectors"
    # correctness of the same probe
    assert served.count() > 0


def test_ivf_pq_rebuild_refits_codebooks_across_generation_swap(spark, tmp_path):
    """rebuild_ivf_index must refit PQ codebooks over the refreshed corpus
    and publish them inside the new generation before the pointer swap —
    probes keep working across the swap."""
    import os

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") < 400)
    rest = emb.filter(F.col("vec_id") >= 400)
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivfpq_gen")
    assert S.build_ivf_index(first, path, n_lists=4, seed=42) == 4
    S.add_pq_to_ivf_index(spark, path, m=2, k_codes=8, seed=42)
    S.append_to_ivf_index(spark, path, rest)

    report = S.rebuild_ivf_index(spark, path)
    assert report["pq_refit"] == {"m": 2, "k_codes": 8}
    gen_dir = os.path.join(path, report["generation"])
    assert os.path.isdir(os.path.join(gen_dir, "pq_codebooks"))
    assert os.path.isdir(os.path.join(gen_dir, "pq_codes"))
    served = S.probe_ivf_pq(spark, path, queries, k=5, n_probes=4, rerank=500)
    # the full corpus is indexed post-rebuild; generous budget == exact
    # within probed cells == probe_ivf_index parity
    want = sorted(
        map(tuple, S.probe_ivf_index(spark, path, queries, k=5, n_probes=4).collect())
    )
    assert sorted(map(tuple, served.collect())) == want
    # codes cover the appended vectors too
    root = os.path.join(path, report["generation"])
    n_codes = spark.read.parquet(f"{root}/pq_codes").count()
    assert n_codes == 500


def test_train_bpe_planted_corpus_converges(spark):
    """BPE trainer on a corpus with a known merge order: each round's
    argmax and greedy merge hand-verified, early stop once every word
    fused to one symbol."""
    from bigquack_spark.operators.text import train_bpe

    df = spark.createDataFrame(
        [("banana banana",), ("banana band",)], "text string"
    )
    got = [tuple(r) for r in train_bpe(df, n_merges=10).collect()]
    assert got == [
        (1, "a", "n", "an", 7),       # banana x3 + band x1
        (2, "b", "an", "ban", 4),
        (3, "an", "a", "ana", 3),     # tie with (ban,an): lexicographic
        (4, "ban", "ana", "banana", 3),
        (5, "ban", "d", "band", 1),
    ]  # round 6 finds no pair -> early stop

    # overlap semantics: counting is POSITIONAL (3 adjacent (a,a) pairs in
    # 'aaaa', the standard BPE statistic) while the merge is greedy
    # left-to-right ([a,a,a,a] -> [aa,aa])
    df2 = spark.createDataFrame([("aaaa aaaa aa",)], "text string")
    got2 = [tuple(r) for r in train_bpe(df2, n_merges=2).collect()]
    assert got2[0] == (1, "a", "a", "aa", 3 * 2 + 1)
    # round 2: both 'aaaa' words are now [aa, aa] -> (aa, aa): 2
    assert got2[1] == (2, "aa", "aa", "aaaa", 2)


def test_ivf_pq_append_is_visible_to_pq_probe(spark, tmp_path):
    """r8 review: append_to_ivf_index must encode the new batch into
    pq_codes (frozen codebooks) — otherwise appended vectors are silently
    invisible to the ADC shortlist until the next rebuild."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") < 450)
    # appended batch includes a PLANTED exact duplicate of query vec 0
    # under a fresh id — the one neighbor the probe MUST surface
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(9999).cast("long").alias("vec_id"), "embedding", "label"
    )
    rest = emb.filter(F.col("vec_id") >= 450).unionByName(clone)
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivfpq_app")
    S.build_ivf_index(first, path, n_lists=4, seed=42)
    S.add_pq_to_ivf_index(spark, path, m=2, k_codes=8, seed=42)
    S.append_to_ivf_index(spark, path, rest)
    assert spark.read.parquet(f"{path}/pq_codes").count() == 501
    # generous budget == probe_ivf_index parity INCLUDING appended ids
    served = S.probe_ivf_pq(spark, path, queries, k=5, n_probes=4, rerank=600)
    got = sorted(map(tuple, served.collect()))
    want = sorted(
        map(tuple, S.probe_ivf_index(spark, path, queries, k=5, n_probes=4).collect())
    )
    assert got == want
    # the appended clone of query 0 is its top neighbor (cosine ~1):
    # appended-vector visibility asserted directly, not just via parity
    top0 = [g for g in got if g[0] == 0 and g[3] == 1]
    assert top0 and top0[0][1] == 9999


def test_encode_bpe_counts_match_trained_segmentation(spark):
    """Applying train_bpe's merges to the SAME corpus reproduces the
    hand-computable segment counts (banana=[b,anana] wait — see the
    per-round trace in test_train_bpe): after 3 merges banana segments
    to 2 symbols, band to 2."""
    from bigquack_spark.operators.text import encode_bpe, train_bpe

    df = spark.createDataFrame(
        [("banana banana",), ("banana band",)], "text string"
    )
    merges = train_bpe(df, n_merges=3).collect()
    # after merges an, ban, ana: banana -> [ban, ana] (2), band -> [ban, d] (2)
    got = {
        r.text: (r.n_words, r.n_bpe_tokens)
        for r in encode_bpe(df, merges).collect()
    }
    assert got["banana banana"] == (2, 4)
    assert got["banana band"] == (2, 4)
    # zero merges: every char is a symbol
    got0 = {r.text: r.n_bpe_tokens for r in encode_bpe(df, []).collect()}
    assert got0["banana banana"] == 12
    assert got0["banana band"] == 10


def test_encode_bpe_trained_parity_with_catalyst_encoder(spark):
    """r9 (r8 verdict #2): the Arrow-batched vocabulary-scale encoder is
    row-for-row identical to encode_bpe's sequential Catalyst replaces on
    train_bpe output — the parity contract that lets it carry the 32k
    merge tables the expression-tree encoder cannot."""
    from bigquack_spark.operators.text import (
        encode_bpe,
        encode_bpe_trained,
        train_bpe,
    )

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
    )
    merges = train_bpe(docs, n_merges=8).collect()
    want = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in encode_bpe(docs, merges).collect()
    }
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in encode_bpe_trained(docs, merges).collect()
    }
    assert got == want and len(got) == 40

    # edge rows: NULL, empty, whitespace-only, control chars, multi-space
    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "a\x01b c"), (5, "banana  band")],
        "doc_id int, text string",
    )
    m2 = train_bpe(
        spark.createDataFrame([("banana banana",), ("banana band",)], "text string"),
        n_merges=3,
    ).collect()
    want2 = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in encode_bpe(edge, m2).collect()
    }
    got2 = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in encode_bpe_trained(edge, m2).collect()
    }
    # documented divergence: NULL text -> NULL counts (encode_bpe reports
    # n_words=-1, Spark's legacy size(NULL) sentinel)
    assert got2.pop(1) == (None, None) and want2.pop(1) == (-1, None)
    assert got2 == want2


def test_encode_bpe_trained_carries_vocabulary_scale_tables(spark):
    """The point of the kernel encoder: a merge table in the thousands
    (where the Catalyst expression tree cannot compile) applies fine,
    chained merges compose, and the untrained tail is inert."""
    from bigquack_spark.operators.text import encode_bpe_trained

    # chain merges a^2 -> a^4 -> a^8 plus thousands of inert filler rules
    merges = [
        {"round": 1, "left": "a", "right": "a"},
        {"round": 2, "left": "aa", "right": "aa"},
        {"round": 3, "left": "aaaa", "right": "aaaa"},
    ] + [
        {"round": 4 + i, "left": f"x{i}", "right": f"y{i}"} for i in range(8000)
    ]
    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "aaaaaa"), (3, "aaaaaaaa aaa b")],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in encode_bpe_trained(df, merges).collect()
    }
    # a^8 -> 1 symbol; a^6 -> [aaaa, aa] = 2; a^3 -> [aa, a] = 2; b -> 1
    assert got == {1: (1, 1), 2: (1, 2), 3: (3, 4)}


def test_pq_recall_calibration_and_budget_resolution(spark, tmp_path):
    """r8 verdict #6: the recall-vs-rerank curve is measured at build time,
    stored in the index, and probe_ivf_pq(target_recall=) resolves the
    smallest calibrated budget meeting the target — held-out queries then
    meet it."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_cal")
    S.build_ivf_index(emb, path, n_lists=4, seed=42)
    S.add_pq_to_ivf_index(spark, path, m=8, k_codes=16, seed=42)

    budgets = [5, 20, 60, 500]
    rows = S.calibrate_pq_recall(spark, path, k=5, n_probes=2, budgets=budgets,
                                 sample=16)
    assert [r["rerank"] for r in rows] == budgets
    recalls = [r["recall"] for r in rows]
    # a larger shortlist can only help: the curve is monotone
    assert recalls == sorted(recalls)
    # with rerank >= probed-cell occupancy the probe degrades to exact IVF
    assert recalls[-1] == 1.0
    import os as _os

    assert _os.path.isdir(_os.path.join(path, "pq_recall_curve"))

    # resolution picks the SMALLEST eligible budget
    b90 = S.resolve_rerank_budget(spark, path, 0.9, k=5, n_probes=2)
    b100 = S.resolve_rerank_budget(spark, path, 1.0, k=5, n_probes=2)
    assert b90 == min(r["rerank"] for r in rows if r["recall"] >= 0.9)
    assert b90 < b100 == 500

    # held-out probe (largest ids — disjoint from the smallest-id
    # calibration sample) meets the targeted recall
    held_out = emb.orderBy(F.desc("vec_id")).limit(8)
    truth = {}
    for r in S.probe_ivf_index(spark, path, held_out, k=5, n_probes=2).collect():
        truth.setdefault(r.qid, set()).add(r.neighbor_id)
    got = S.probe_ivf_pq(
        spark, path, held_out, k=5, n_probes=2, target_recall=1.0
    ).collect()
    hit = sum(1 for r in got if r.neighbor_id in truth.get(r.qid, ()))
    assert hit / sum(len(v) for v in truth.values()) >= 1.0


def test_pq_recall_budget_hard_gates(spark, tmp_path):
    """Missing curve, mismatched calibration parameters, and unreachable
    targets all refuse loudly — never a silently guessed budget."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_gate")
    S.build_ivf_index(emb, path, n_lists=4, seed=42)
    S.add_pq_to_ivf_index(spark, path, m=2, k_codes=8, seed=42)
    queries = emb.filter(F.col("vec_id") < 2)

    with pytest.raises(ValueError, match="calibrate_pq_recall first"):
        S.probe_ivf_pq(spark, path, queries, k=5, n_probes=2, target_recall=0.9)

    S.calibrate_pq_recall(spark, path, k=5, n_probes=2, budgets=[5, 10], sample=8)
    with pytest.raises(ValueError, match="not calibrated for k=7"):
        S.resolve_rerank_budget(spark, path, 0.9, k=7, n_probes=2)
    with pytest.raises(ValueError, match="not reachable"):
        S.resolve_rerank_budget(spark, path, 0.9999, k=5, n_probes=2)
    # no-PQ index refuses calibration outright
    bare = str(tmp_path / "ivf_bare")
    S.build_ivf_index(emb, bare, n_lists=4, seed=42)
    with pytest.raises(ValueError, match="add_pq_to_ivf_index first"):
        S.calibrate_pq_recall(spark, bare, k=5, n_probes=2)


def test_pq_recall_curves_coexist_per_configuration(spark, tmp_path):
    """r9 review: recalibrating one (k, n_probes) configuration must not
    discard another's curve — the store merges per configuration."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_multi")
    S.build_ivf_index(emb, path, n_lists=4, seed=42)
    S.add_pq_to_ivf_index(spark, path, m=2, k_codes=8, seed=42)

    S.calibrate_pq_recall(spark, path, k=5, n_probes=2, budgets=[5, 500], sample=8)
    S.calibrate_pq_recall(spark, path, k=3, n_probes=1, budgets=[3, 300], sample=8)
    # both configurations resolve after the second calibration
    assert S.resolve_rerank_budget(spark, path, 1.0, k=5, n_probes=2) == 500
    assert S.resolve_rerank_budget(spark, path, 1.0, k=3, n_probes=1) in (3, 300)
    # re-calibrating config A with different budgets replaces ONLY its rows
    S.calibrate_pq_recall(spark, path, k=5, n_probes=2, budgets=[7, 700], sample=8)
    assert S.resolve_rerank_budget(spark, path, 1.0, k=5, n_probes=2) == 700
    assert S.resolve_rerank_budget(spark, path, 1.0, k=3, n_probes=1) in (3, 300)


def test_pq_recall_curve_freshness_gate(spark, tmp_path):
    """A curve calibrated on one corpus size must not serve a budget after
    the index drifts past the gate — appends shift cell occupancy, and the
    measured recall no longer describes the corpus being served."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    half = emb.filter(F.col("vec_id") < 250)
    path = str(tmp_path / "ivfpq_drift")
    S.build_ivf_index(half, path, n_lists=4, seed=42)
    S.add_pq_to_ivf_index(spark, path, m=2, k_codes=8, seed=42)
    S.calibrate_pq_recall(spark, path, k=5, n_probes=2, budgets=[5, 500], sample=8)
    assert S.resolve_rerank_budget(spark, path, 1.0, k=5, n_probes=2) == 500

    # double the corpus: > 25% drift -> budget resolution refuses
    S.append_to_ivf_index(spark, path, emb.filter(F.col("vec_id") >= 250))
    with pytest.raises(ValueError, match="re-run calibrate_pq_recall"):
        S.resolve_rerank_budget(spark, path, 1.0, k=5, n_probes=2)
    # recalibration rebinds the curve to the grown corpus
    S.calibrate_pq_recall(spark, path, k=5, n_probes=2, budgets=[5, 500], sample=8)
    assert S.resolve_rerank_budget(spark, path, 1.0, k=5, n_probes=2) == 500


def test_ivf_topk_frozen_filtered_fallback_and_dim_gate(spark):
    """r10 review regressions: (1) the small-corpus brute-force fallback
    must HONOR candidate_predicate (dropping it silently returned
    non-qualifying neighbors); (2) a mis-dimensioned vector must fail
    loudly in-plan instead of folding to NULL distances and silently
    vanishing from the candidate join."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter("vec_id < 3")
    tiny = emb.filter("vec_id < 10")
    labels = {r.vec_id: r.label for r in tiny.collect()}
    rows = S.ivf_topk_frozen(
        tiny, queries, k=3, n_lists=20, n_probes=10,
        candidate_predicate="label = 1",
    ).collect()
    assert rows and all(labels[r.neighbor_id] == 1 for r in rows)

    bad = emb.limit(2).selectExpr(
        "vec_id + 1000000 AS vec_id", "slice(embedding, 1, 8) AS embedding",
        "label",
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="quantizer dimension"):
        S.ivf_topk_frozen(emb.unionByName(bad), queries, k=3).count()


def test_probe_serving_knobs_match_legacy_plan(spark, tmp_path):
    """r10 verdict #3 serving path: arrow_scoring (vectorized cosine),
    collect_cells (static cell pruning), and arrow_encode (vectorized PQ
    codes) are pure performance knobs — every combination must return
    EXACTLY the default plan's rows, and the static-pruned scan must carry
    the probed cells as an IN filter instead of runtime DPP."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "srv")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42) == 4
    S.add_pq_to_ivf_index(spark, path, m=8, k_codes=16, seed=42,
                          arrow_encode=True)

    want = sorted(map(tuple, S.probe_ivf_index(
        spark, path, queries, k=5, n_probes=2).collect()))
    fast = S.probe_ivf_index(spark, path, queries, k=5, n_probes=2,
                             arrow_scoring=True, collect_cells=True)
    assert sorted(map(tuple, fast.collect())) == want
    plan = fast._jdf.queryExecution().executedPlan().toString()
    # the probed cells appear as a STATIC IN partition filter on the index
    # scan (runtime DPP may coexist; the static filter is what bounds the
    # scan even where DPP declines to fire)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln and " IN (" in ln.replace("in (", " IN (")
               or "cell" in ln and "IN (" in ln for ln in pf), pf

    # PQ probe: arrow-encoded codes + arrow rerank must equal the legacy
    # encode/scoring at an un-truncating budget (degrades to exact IVF)
    want_pq = sorted(map(tuple, S.probe_ivf_pq(
        spark, path, queries, k=5, n_probes=4, rerank=10_000).collect()))
    fast_pq = S.probe_ivf_pq(spark, path, queries, k=5, n_probes=4,
                             rerank=10_000, arrow_scoring=True,
                             collect_cells=True)
    assert sorted(map(tuple, fast_pq.collect())) == want_pq


def test_sampled_quantizer_training_still_exact_materialization(spark, tmp_path):
    """train_sample bounds the KMeans TRAINING set only — the full corpus
    is still assigned, every id lands in exactly one cell, and a probe
    with all cells probed returns exact brute-force top-k regardless of
    which sample trained the quantizer."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "samp")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42,
                             train_sample=64) == 4
    idx = spark.read.parquet(f"{path}/index")
    assert idx.count() == emb.count()
    assert idx.select("id").distinct().count() == emb.count()
    served = S.probe_ivf_index(spark, path, queries, k=5, n_probes=4)
    brute = S.cosine_topk(emb, queries, k=5)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, brute.collect()))


def test_probe_path_advisor_refuses_dominated_pq(spark, tmp_path):
    """r11 verdict #1: the PQ/ADC probe is strictly slower than plain IVF
    below the measured cutover, so the advisor must refuse to recommend
    it there — and recommend it only when the index carries codes AND the
    probed raw bytes clear the cutover."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "adv")
    assert S.build_ivf_index(emb, path, n_lists=4, seed=42) == 4

    # no codes yet: ivf, and the reason says so
    rec = S.recommend_probe_path(spark, path, n_probes=2)
    assert rec["recommendation"] == "ivf"
    assert "no pq_codes" in rec["reason"]

    S.add_pq_to_ivf_index(spark, path, m=8, k_codes=16, seed=42)
    # tiny corpus: probed bytes far below cutover -> still ivf, with the
    # measured evidence cited
    rec = S.recommend_probe_path(spark, path, n_probes=2)
    assert rec["recommendation"] == "ivf"
    assert rec["probed_raw_bytes_per_query"] < rec["cutover_bytes"]
    assert "pq_cutover" in rec["reason"]

    # dim trigger (forced to the fixture's 64-dim) -> ivf_pq, reason cites
    # the measured crossover
    rec = S.recommend_probe_path(spark, path, n_probes=2, cutover_dim=64)
    assert rec["recommendation"] == "ivf_pq"
    assert "1.49x" in rec["reason"]
    # I/O trigger (forced low) -> ivf_pq
    rec = S.recommend_probe_path(spark, path, n_probes=2, cutover_bytes=1)
    assert rec["recommendation"] == "ivf_pq"
    assert rec["pq_code_bytes"] > 0
    assert rec["dim"] == 64


# ------------------------------------------------------ cosine pairs ---------
def test_plane_sql_buckets_match_spark_lsh_at_default_planes(spark, duck):
    """DuckDB evaluating ``random_hyperplane_lsh_sql`` gives every vector
    the bucket Spark's ``random_hyperplane_lsh`` gives it at the operator's
    default 16 planes (the q35 and q41 oracles cover only 2 and 4)."""
    sql = S.random_hyperplane_lsh_sql(16, 64, 42)
    want = dict(duck.execute(
        f"SELECT vec_id, {sql} FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
        "FROM embeddings)"
    ).fetchall())
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    got = {r.vec_id: r.lsh_bucket
           for r in S.random_hyperplane_lsh(e).select("vec_id", "lsh_bucket").collect()}
    assert got == want
    assert len(set(got.values())) > 16  # the buckets really spread


def _fold_cos_round6(va, vb) -> float:
    """Cosine with the SQL fold's order (sequential over dimensions), then
    Spark's ``round(x, 6)``: HALF_UP on the double's shortest decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    def dot(x, y):
        acc = 0.0
        for p, q in zip(x, y):
            acc += p * q
        return acc

    cos = dot(va, vb) / (dot(va, va) ** 0.5 * dot(vb, vb) ** 0.5)
    return float(Decimal(repr(cos)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_cosine_pairs_match_brute_force(spark):
    """Blocked (2-plane sign-LSH bucket) and unblocked ``cosine_pairs``
    equal a brute force over every ordered pair a != b at the round-6
    grain, each side's label carried along."""
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter("vec_id < 120")
    v = S.random_hyperplane_lsh(e, num_planes=2, bucket_col="bkt")
    rows = v.select("vec_id", "label", "bkt", "embedding").collect()
    vecs = {r.vec_id: list(r.embedding) for r in rows}  # float32 values, exact as doubles
    want_all = {
        (x.vec_id, y.vec_id, x.label, y.label, _fold_cos_round6(vecs[x.vec_id], vecs[y.vec_id]))
        for x in rows for y in rows if x.vec_id != y.vec_id
    }
    bkt = {r.vec_id: r.bkt for r in rows}
    cols = ["a", "b", "label_a", "label_b", "cos"]

    blocked = S.cosine_pairs(v, block_col="bkt")
    assert set(blocked.columns) == {"a", "b", "va", "vb", "cos", "bkt", "label_a", "label_b"}
    got = {tuple(r) for r in blocked.select(*cols).collect()}
    assert got == {w for w in want_all if bkt[w[0]] == bkt[w[1]]}
    assert len(set(bkt.values())) > 1 and got != want_all  # the block really prunes

    got = {tuple(r) for r in S.cosine_pairs(e).select(*cols).collect()}
    assert got == want_all


@pytest.mark.parametrize(
    "name", ["q35_embedding_near_dup", "q172_semantic_dedup", "q220_alignment_uniformity"]
)
def test_unordered_pair_filter_sits_in_the_join(spark, name):
    """``cosine_pairs`` has no ordering option because a caller's
    ``.filter(a < b)`` costs nothing: Catalyst folds it into the bucket
    join's condition, and no Filter runs above that join."""
    import re

    from bigquack_spark.queries import QUERIES

    plan = QUERIES[name].fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    lines = re.sub(r"#\d+L?", "", plan).splitlines()  # drop expression ids

    def node(line):
        return line.lstrip(" :+-")

    joins = [i for i, line in enumerate(lines) if "Join" in node(line).split(" ")[0]
             and "(a < b)" in line]
    assert len(joins) == 1, lines
    ancestors, depth = [], len(lines[joins[0]]) - len(node(lines[joins[0]]))
    for line in reversed(lines[:joins[0]]):
        d = len(line) - len(node(line))
        if d < depth:
            ancestors.append(node(line))
            depth = d
    assert not [a for a in ancestors if a.startswith("Filter")], ancestors
    assert not [line for line in lines if node(line).startswith("Filter") and "a < b" in line]
