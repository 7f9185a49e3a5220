"""Graph-analytics query inventory: PageRank over the event-transition
graph (operators.graph) — link analysis as a first-class corpus tool.

The edge list here (event-type transition counts) is small, but the
operator is the generic distributed edge-list form: the same call ranks a
billion-node document KNN graph; see operators/graph.py for the per-
iteration shuffle budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigquack_spark.operators.graph import pagerank, pagerank_oracle_sql
from bigquack_spark.queries.registry import query
from bigquack_spark.sources.parquet import load_table as t

ITERS = 3
DAMPING = 0.85

#: Transition edge list: consecutive event types per user, ordered on
#: exact microsecond epochs with event_id as the total-order tiebreak.
_EDGES_CTE = """
      SELECT event_type AS src, next_type AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM (
        SELECT event_type,
               lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS next_type
        FROM events
      )
      WHERE next_type IS NOT NULL
      GROUP BY src, dst
"""


@query(
    "q148_transition_pagerank",
    oracle=f"""
    SELECT node AS event_type, round(rank, 6) AS rank
    FROM ({pagerank_oracle_sql(_EDGES_CTE, iterations=ITERS, damping=DAMPING)})
    ORDER BY rank DESC, event_type
    """,
)
def q148_transition_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the user-journey transition graph: which event types
    accumulate attention mass when users walk click->view->purchase
    chains.  Edge build is one user_id-keyed window (same shuffle q22
    reuses) collapsed to a type x type count matrix; the rank loop is
    operators.graph.pagerank — ``ITERS`` unrolled iterations, every
    per-node sum an exact 2^40-lattice BIGINT aggregate, so the ranks are
    bit-identical cross-engine and the oracle replays the same math in
    SQL.  Generic at scale: swap the edge CTE for a doc-KNN edge list
    (q140) and the identical plan ranks a billion-document graph —
    per-iteration cost is one keyed shuffle of the edge list."""
    e = t(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    edges = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("next_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    ranks = pagerank(edges, iterations=ITERS, damping=DAMPING)
    return ranks.select(
        F.col("node").alias("event_type"), F.round("rank", 6).alias("rank")
    ).orderBy(F.desc("rank"), "event_type")


MIN_CO = 2  # co-purchase count for a brand edge to exist

_BRAND_EDGES_CTE = """
      SELECT a, b FROM (
        SELECT x.brand AS a, y.brand AS b, CAST(count(*) AS BIGINT) AS co
        FROM (SELECT DISTINCT l_orderkey AS o, p_brand AS brand
              FROM lineitem JOIN part ON l_partkey = p_partkey) x
        JOIN (SELECT DISTINCT l_orderkey AS o, p_brand AS brand
              FROM lineitem JOIN part ON l_partkey = p_partkey) y
          ON x.o = y.o AND x.brand < y.brand
        GROUP BY x.brand, y.brand
      ) WHERE co >= {min_co}
"""


@query(
    "q171_triangle_clustering",
    oracle=f"""
    WITH edges AS ({_BRAND_EDGES_CTE.format(min_co=MIN_CO)}),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e1.b = e2.a
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_nodes AS (
      SELECT x AS node FROM tri UNION ALL
      SELECT y FROM tri UNION ALL
      SELECT z FROM tri
    ),
    tcount AS (
      SELECT node, CAST(count(*) AS BIGINT) AS triangles
      FROM tri_nodes GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
      ) GROUP BY node
    )
    SELECT d.node AS brand, d.degree,
           coalesce(t.triangles, 0) AS triangles,
           round(CASE WHEN d.degree >= 2
                 THEN 2.0 * coalesce(t.triangles, 0)
                      / (d.degree * (d.degree - 1)) ELSE 0.0 END, 6)
             AS clustering_coef
    FROM deg d LEFT JOIN tcount t ON d.node = t.node
    """,
)
def q171_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient — the third graph
    primitive after connected components (q86/q99) and PageRank (q148),
    run on the brand co-purchase graph (brands co-occurring in >= ``MIN_CO``
    orders).  The edge build fans out pairs PER ORDER (bounded by
    lines-per-order choose 2, never cross-order), map-side combines the
    co-counts, and keeps each undirected edge once as a < b.  Triangles
    are the canonical oriented 3-cycle join — edges(a,b) ⋈ edges(b,c) ⋈
    edges(a,c) with a<b<c, so each triangle is enumerated exactly once —
    then per-node counts come from exploding each triangle to its 3
    corners.  All equi-joins on edge endpoints: shuffle-partitionable,
    AQE-skew-splittable, no driver state; at 100 TB the standard
    high-degree-node mitigation (degree-ordered orientation: direct each
    edge from lower- to higher-degree endpoint) drops in without changing
    the output.  Counts are exact BIGINTs; the coefficient is one IEEE
    division of exact ints, identical cross-engine."""
    li = t(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey"])
    p = t(spark, sf_dir, "part", columns=["p_partkey", "p_brand"])
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    x = ob.select(F.col("o"), F.col("brand").alias("a"))
    y = ob.select(F.col("o"), F.col("brand").alias("b"))
    edges = (
        x.join(y, "o")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= MIN_CO)
        .select("a", "b")
    )
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    tri_nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    tcount = tri_nodes.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(tcount, "node", "left").select(
        F.col("node").alias("brand"),
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering_coef"),
    )


WALK_STEPS = 4


def _md5_mod_sql(parts_sql: str, mod_sql: str) -> str:
    return (
        f"CAST('0x' || substr(md5({parts_sql}), 1, 6) AS BIGINT) % ({mod_sql})"
    )


@query(
    "q176_deterministic_walks",
    oracle=f"""
    WITH edges AS (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk,
             CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS outdeg
      FROM ({_EDGES_CTE})
    ),
    w0 AS (SELECT DISTINCT src AS start, src AS cur, src AS path FROM edges),
    w1 AS (
      SELECT w.start, e.dst AS cur, w.path || '>' || e.dst AS path
      FROM w0 w JOIN edges e ON e.src = w.cur
      AND e.rnk = {_md5_mod_sql("w.start || '|1|' || w.cur", "e.outdeg")}
    ),
    w2 AS (
      SELECT w.start, e.dst AS cur, w.path || '>' || e.dst AS path
      FROM w1 w JOIN edges e ON e.src = w.cur
      AND e.rnk = {_md5_mod_sql("w.start || '|2|' || w.cur", "e.outdeg")}
    ),
    w3 AS (
      SELECT w.start, e.dst AS cur, w.path || '>' || e.dst AS path
      FROM w2 w JOIN edges e ON e.src = w.cur
      AND e.rnk = {_md5_mod_sql("w.start || '|3|' || w.cur", "e.outdeg")}
    ),
    w4 AS (
      SELECT w.start, e.dst AS cur, w.path || '>' || e.dst AS path
      FROM w3 w JOIN edges e ON e.src = w.cur
      AND e.rnk = {_md5_mod_sql("w.start || '|4|' || w.cur", "e.outdeg")}
    )
    SELECT start, path FROM w4
    """,
)
def q176_deterministic_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic graph random walks — the DeepWalk/node2vec corpus
    generator: one ``WALK_STEPS``-step walk per start node over the event-
    transition graph, where the step-s choice at node v is the
    md5(start|s|v)-derived index into v's dst-sorted out-edges.  md5
    replaces rand() for the same reason as q125/q153: the walk corpus is
    bit-identical under task retry, repartitioning, and replay — and the
    oracle replays it exactly.  Each step is ONE equi-join of the walk
    frontier against the edge list (rank + outdeg come from a single
    src-keyed window) — the iterated-join shape of q148's PageRank, so a
    billion-walk corpus costs ``WALK_STEPS`` keyed shuffles of the frontier
    regardless of graph size.  Walk fan-out per node is 1 here; B walks
    per node = add a walk-index column to the seed frontier."""
    e = t(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    raw = (
        e.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    we = Window.partitionBy("src")
    edges = raw.select(
        "src", "dst",
        (F.row_number().over(we.orderBy("dst")) - 1).alias("rnk"),
        F.count(F.lit(1)).over(we).cast("long").alias("outdeg"),
    )
    walks = edges.select(F.col("src").alias("start")).distinct().select(
        "start", F.col("start").alias("cur"), F.col("start").alias("path")
    )
    for step in range(1, WALK_STEPS + 1):
        choice = F.conv(
            F.substring(
                F.md5(F.concat_ws("", F.col("start"), F.lit(f"|{step}|"), F.col("cur"))),
                1, 6,
            ), 16, 10,
        ).cast("bigint") % F.col("outdeg")
        walks = (
            walks.join(edges, walks.cur == edges.src)
            .filter(F.col("rnk") == choice)
            .select(
                "start",
                F.col("dst").alias("cur"),
                F.concat(F.col("path"), F.lit(">"), F.col("dst")).alias("path"),
            )
        )
    return walks.select("start", "path")


KCORE_K = 350     # minimum surviving degree (sf0.01: peel cascades 500 -> 428 -> 394 -> 381)
KCORE_PEELS = 3   # fixed unrolled peeling rounds (both engines identical)


def _kcore_oracle() -> str:
    """Fixed-iteration peel replayed as generated CTE rounds over the SAME
    minhash-band candidate graph q140 builds (queries.dedup._SIG_SQL)."""
    from bigquack_spark.queries.dedup import _BANDS_SQL, _CAND_SQL, _SIG_SQL

    rounds = []
    prev = "alive0"
    for r in range(1, KCORE_PEELS + 1):
        rounds.append(f"""
    deg{r} AS (
      SELECT u.node, CAST(count(*) AS BIGINT) AS deg
      FROM und u
      JOIN {prev} a ON u.node = a.node
      JOIN {prev} b ON u.nbr = b.node
      GROUP BY u.node
    ),
    alive{r} AS (SELECT node FROM deg{r} WHERE deg >= {KCORE_K})""")
        prev = f"alive{r}"
    return f"""
    WITH {_SIG_SQL},
    {_BANDS_SQL},
    {_CAND_SQL},
    und AS (
      SELECT a AS node, b AS nbr FROM cand
      UNION ALL SELECT b, a FROM cand
    ),
    alive0 AS (SELECT DISTINCT node FROM und),{",".join(rounds)}
    SELECT u.node AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM und u
    JOIN {prev} a ON u.node = a.node
    JOIN {prev} b ON u.nbr = b.node
    GROUP BY u.node
    """


@query("q211_kcore_peel", oracle=_kcore_oracle())
def q211_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (``KCORE_PEELS`` unrolled peel rounds at
    k=``KCORE_K``) on the document near-dup candidate graph (q140's minhash
    band edges) — the fourth graph primitive after CC, PageRank and
    triangles, and the curation read on THIS graph is direct: the
    surviving core is the heavily-templated/boilerplate cluster mass
    (every survivor near-dups hundreds of siblings), the peeled nodes
    are the long tail worth keeping.  Nodes below degree k are removed,
    degrees recomputed on the surviving subgraph, repeated; a FIXED
    iteration count replaces the data-dependent fixpoint so both engines
    run the exact same rounds (q148's unrolling discipline — a
    production caller loops until the survivor count stabilizes, same
    plan per round).  Scale shape: each round is two survivor-set semi
    joins of the edge list plus one map-side-combined degree count —
    edge-keyed shuffles throughout, survivor state never on the driver;
    the edge list itself is the bucket-bounded LSH join, never all
    pairs."""
    from bigquack_spark.operators import dedup as D
    from bigquack_spark.queries.dedup import NUM_HASHES, ROWS_PER_BAND

    docs = t(spark, sf_dir, "documents", rebalance=True, rebalance_key="doc_id")
    bands = D.minhash_bands(docs, "doc_id", "text", NUM_HASHES, ROWS_PER_BAND)
    cand = D.lsh_candidate_pairs(bands, "doc_id")
    und = cand.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        cand.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    # flatten the banding lineage once; each peel round then re-reads a
    # compact (node, nbr) edge list instead of re-deriving signatures
    und = und.localCheckpoint(eager=False)
    alive = und.select("node").distinct()
    for _ in range(KCORE_PEELS):
        deg = (
            und.join(alive, "node", "left_semi")
            .join(alive.select(F.col("node").alias("nbr")), "nbr", "left_semi")
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = deg.filter(F.col("deg") >= KCORE_K).select("node")
    return (
        und.join(alive, "node", "left_semi")
        .join(alive.select(F.col("node").alias("nbr")), "nbr", "left_semi")
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("node").alias("doc_id"), "core_degree")
    )


REACH_HOPS = 3  # recursion bound (UNION ALL + hop guard: Spark 4 rCTE form)


def _knn_edges_sql() -> str:
    """q140's top-1 kNN edges as a reusable CTE body (bands -> candidate
    pairs -> exact-Jaccard argmax), symmetrized."""
    from bigquack_spark.queries.dedup import _BANDS_SQL, _CAND_SQL, _SETS_SQL, _SIG_SQL

    return f"""
    {_SIG_SQL},
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
    ),
    knn AS (
      SELECT doc_id, neighbor_id FROM (
        SELECT doc_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY jaccard DESC, neighbor_id
               ) AS rk
        FROM sym
      ) WHERE rk = 1
    ),
    edges AS (
      SELECT doc_id AS src, neighbor_id AS dst FROM knn
      UNION ALL
      SELECT neighbor_id, doc_id FROM knn
    )"""


#: The recursive tail is the SAME SQL text on both engines — Spark 4's
#: WITH RECURSIVE (UNION ALL + hop guard; min() dedups path multiplicity).
_REACH_TAIL = f"""
    WITH RECURSIVE reach(doc_id, hops) AS (
      SELECT (SELECT min(src) FROM {{edges}}) AS doc_id, 0 AS hops
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN {{edges}} e ON e.src = r.doc_id
      WHERE r.hops < {REACH_HOPS}
    )
    SELECT doc_id, CAST(min(hops) AS INTEGER) AS min_hops,
           CAST(count(*) AS BIGINT) AS n_walks
    FROM reach GROUP BY doc_id
"""


@query(
    "q216_recursive_reachability",
    oracle=f"WITH {_knn_edges_sql()[5:]}\n"
    + _REACH_TAIL.replace("WITH RECURSIVE", ", walk_base AS (SELECT 1)\n    SELECT * FROM (WITH RECURSIVE")
    .format(edges="edges")
    + ")",
)
def q216_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE reachability — Spark 4's WITH RECURSIVE exercised as
    part of the delegated-SQL surface (SURVEY §2.5: the reference accepts
    whatever SQL the engine accepts, and recursive CTEs just became part
    of what THIS engine accepts): hop-bounded BFS from the smallest node
    of the kNN graph (q140's top-1 edges, symmetrized), reporting each
    reached document's minimum hop count and walk multiplicity.  The
    recursive tail is the IDENTICAL SQL text on both engines (UNION ALL
    anchor/step + hop guard — Spark does not yet support UNION-distinct
    recursion, so dedup happens in the min()/count() aggregate, which is
    exact for any walk multiplicity).  Scale: each recursion step is one
    frontier-to-edges equi-join — the same shuffle shape as q148's
    unrolled iterations, with the engine managing termination; the top-1
    kNN graph keeps out-degrees (and therefore walk fan-out) bounded."""
    # Flatten the kNN derivation ONCE (r13, guide §3.3 "materialising an
    # intermediate truncates the plan" — the q211 idiom): the edges view is
    # referenced by the recursion's anchor (min(src) subquery) AND by every
    # UnionLoop iteration, and the unionAll symmetrization reads `knn`
    # twice, so the full LSH -> candidate -> Jaccard-argmax chain executed
    # ~10x per run (2 x (1 anchor + hops+1 steps)).  The lazy checkpoint
    # materializes the bounded (doc_id, neighbor_id) list on first use;
    # every other reference re-reads rows instead of re-deriving them.
    knn = (
        QUERIES_REF["q140_knn_graph"].fn(spark, sf_dir)
        .select("doc_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    edges = knn.select(F.col("doc_id").alias("src"), F.col("neighbor_id").alias("dst")).unionAll(
        knn.select(F.col("neighbor_id").alias("src"), F.col("doc_id").alias("dst"))
    )
    edges.createOrReplaceTempView("q216_edges")
    return spark.sql(_REACH_TAIL.format(edges="q216_edges"))


from bigquack_spark.queries.registry import QUERIES as QUERIES_REF  # noqa: E402


@query(
    "q232_markov_eval",
    oracle=f"""
    WITH trans AS (
      SELECT user_id, event_type AS cur, next_type AS nxt
      FROM (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS next_type
        FROM events
      )
      WHERE next_type IS NOT NULL
    ),
    model AS (
      SELECT cur, nxt AS pred, row_number() OVER (
               PARTITION BY cur ORDER BY n DESC, nxt
             ) AS rk
      FROM (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n FROM trans GROUP BY cur, nxt)
    ),
    top1 AS (SELECT cur, pred FROM model WHERE rk = 1),
    majority AS (
      SELECT nxt AS maj, row_number() OVER (ORDER BY n DESC, nxt) AS rk
      FROM (SELECT nxt, CAST(count(*) AS BIGINT) AS n FROM trans GROUP BY nxt)
    ),
    evald AS (
      SELECT t.cur, t.nxt,
             CASE WHEN t.nxt = p.pred THEN 1 ELSE 0 END AS hit,
             CASE WHEN t.nxt = m.maj THEN 1 ELSE 0 END AS base_hit
      FROM trans t
      JOIN top1 p ON p.cur = t.cur
      CROSS JOIN (SELECT maj FROM majority WHERE rk = 1) m
    )
    SELECT cur AS event_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS markov_acc,
           round(CAST(sum(base_hit) AS DOUBLE) / count(*), 6) AS majority_acc,
           round(CAST(sum(hit) AS DOUBLE) / count(*)
                 - CAST(sum(base_hit) AS DOUBLE) / count(*), 6) AS lift
    FROM evald GROUP BY cur
    """,
)
def q232_markov_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predictive-power readout of the event-transition matrix (q148's
    edges turned into a first-order Markov next-event model): per current
    event type, the top-1-transition prediction's accuracy on the
    observed transitions vs the global majority-class baseline, and the
    lift — the go/no-go number before anyone ships 'next-action
    prediction' on journey data (a Markov model that can't beat
    majority-class is a lookup table of the mode).  In-sample by
    construction (the honest deployment splits train/eval by q83's
    md5 buckets — same plan with two filtered transition sets).  All
    exact-count argmaxes with alphabetical tiebreaks; accuracy is one
    rounded division.  Scale: transitions = the user-keyed lead window
    (q22's shuffle); the model is |types|²-bounded and the baseline
    1 row."""
    e = t(spark, sf_dir, "events", columns=["user_id", "event_id", "ts", "event_type"])
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    trans = (
        e.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("event_type").alias("cur"), "nxt")
    )
    counts = trans.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    wm = Window.partitionBy("cur").orderBy(F.desc("n"), "nxt")
    top1 = (
        counts.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("pred"))
    )
    maj = (
        trans.groupBy("nxt").agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(Window.orderBy(F.desc("n"), "nxt")))
        .filter(F.col("rk") == 1)
        .select(F.col("nxt").alias("maj"))
    )
    evald = (
        trans.join(F.broadcast(top1), "cur")
        .crossJoin(F.broadcast(maj))
        .select(
            "cur",
            (F.col("nxt") == F.col("pred")).cast("int").alias("hit"),
            (F.col("nxt") == F.col("maj")).cast("int").alias("base_hit"),
        )
    )
    return evald.groupBy(F.col("cur").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.round(F.sum("hit").cast("double") / F.count(F.lit(1)), 6).alias("markov_acc"),
        F.round(F.sum("base_hit").cast("double") / F.count(F.lit(1)), 6).alias("majority_acc"),
        F.round(
            F.sum("hit").cast("double") / F.count(F.lit(1))
            - F.sum("base_hit").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("lift"),
    )
