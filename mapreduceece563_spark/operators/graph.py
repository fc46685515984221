"""Graph/IR operators over the tokenized corpus: an inverted index
and a fixed-iteration PageRank on the word co-occurrence graph.

The reference engine stops at word counting; an inverted index is the
canonical next MapReduce program over the identical tokenize stage
(SURVEY.md §2.7 pipeline), and PageRank is the canonical iterative
one. Both reuse the exact reference tokenize/normalize semantics from
``functions.text``.

Scale posture (100 TB):

- **Inverted index**: the df-count and the capped posting list come
  from ONE shuffle on ``word`` — a window rank caps postings at
  :data:`POSTINGS_CAP` *before* any list is materialized, so a
  stopword's millions of doc_ids never collect into one row (the
  unbounded ``collect_set``-then-slice shape is exactly what dies at
  scale). Postings are emitted as a joined string, bounded at
  ``POSTINGS_CAP`` ids.
- **PageRank**: ranks and contributions are int64 fixed-point
  (:data:`PR_SCALE`), so Spark and the DuckDB oracle agree
  bit-exactly (integer ``div`` both sides — no double-sum fold-order
  drift, the round-1 lesson). Each iteration is one join
  (edges ⋈ ranks, both keyed on the node) plus one groupBy(dst) —
  the standard distributed PageRank shuffle pattern; the node count
  rides a broadcast 1-row frame, never a driver-side action. The
  edge list is persisted once and reused across iterations; at
  cluster scale that is a bucketed edge table co-partitioned with
  the rank vector. The per-doc word ARRAY is built with the staged
  array expression (no explode + collect_list round-trip, whose
  result order would hinge on partitioning). Iteration count is
  FIXED (2), which keeps the query oracle-expressible as unrolled
  CTEs; the convergence-loop variant is ``dedup.dedup_groups``'s
  territory (driver-side round counter, localCheckpoint lineage
  truncation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cachemgr import per_session, stage
from ..functions.text import normalized_words_array, words_cte_sql
from ..sources.catalog import load_table
from .ngrams import _words_cte

# Max doc_ids kept per posting list (ascending doc_id): bounds row
# width no matter how common the term is.
POSTINGS_CAP = 20

# PageRank fixed-point scale and damping (0.85 as 85/100 integer
# arithmetic). All values stay far below 2^63: ranks <= PR_SCALE,
# contribution sums <= PR_SCALE, 85 * sum <= 8.5e13.
PR_SCALE = 10**12
PR_ITERS = 2
PR_TOP = 100


def _doc_word_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ws): per-doc normalized word array in token order —
    map-only, no shuffle (same staged pattern as ngrams)."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    docs = docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    return docs.select("doc_id", normalized_words_array(F.col("text")).alias("ws"))


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term document frequency + capped ascending posting list.

    distinct (word, doc_id) -> one window shuffle computes both the
    per-term df and the rank that caps the posting list at
    POSTINGS_CAP ids -> groupBy(word) assembles the bounded list.
    """
    pairs = (
        _doc_word_arrays(spark, sf_dir)
        .select("doc_id", F.explode("ws").alias("word"))
        .distinct()
    )
    by_doc = Window.partitionBy("word").orderBy("doc_id")
    whole = Window.partitionBy("word")
    ranked = pairs.select(
        "word",
        "doc_id",
        F.row_number().over(by_doc).alias("rn"),
        F.count("*").over(whole).alias("df"),
    )
    return (
        ranked.filter(F.col("rn") <= POSTINGS_CAP)
        .groupBy("word")
        .agg(
            F.max("df").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )


INVERTED_INDEX_SQL = f"""
WITH {words_cte_sql("documents", "doc_id").lstrip()},
pairs AS (SELECT DISTINCT word, doc_id FROM words_f)
SELECT word, count(*) AS df,
       array_to_string(
         list_sort(list(doc_id ORDER BY doc_id))[1:{POSTINGS_CAP}],
         ',') AS postings
FROM pairs GROUP BY word
"""


# The symmetric co-occurrence edge list, built once per (session,
# sf_dir). FIVE entries (pagerank_2iter, triangle_count/
# global_clustering, bfs_hop_distance, link_prediction_jaccard,
# kcore_decomposition) build the identical tokenize -> adjacent-pair
# -> distinct graph; each used to rebuild AND separately persist it
# per call (leaking one persisted copy per entry per session). The
# dedup.doc_shingle_hashes contract: an intermediate edge frame,
# recomputed from parquet in every fresh process — the in-session
# analogue of the materialized edge table every graph consumer would
# read at cluster scale.
@per_session
def _cooc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct symmetric adjacent-word edges (src, dst), no
    self-loops. The undirected co-occurrence graph, materialized as
    both directed arcs so out-degree == degree; persisted once per
    (session, sf_dir)."""
    arr = _doc_word_arrays(spark, sf_dir)
    n = F.size(F.col("ws"))
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(F.col("ws"), i).alias("src"),
                F.element_at(F.col("ws"), i + 1).alias("dst"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))
    e = (
        arr.select(F.explode(pairs).alias("e"))
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().transform(stage)


def pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two PageRank iterations over the word co-occurrence graph,
    int64 fixed-point, top-100 by final rank.

    r0 = SCALE div N; r' = (15*SCALE) div (100*N)
                         + (85 * sum_in(r div deg)) div 100.
    Symmetric edges mean every node has in-edges, so each iteration's
    groupBy(dst) covers the whole node set.
    """
    edges = _cooc_edges(spark, sf_dir)  # persisted by the shared stage
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .withColumnRenamed("src", "node")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    nfr = nodes.agg(F.count("*").alias("n"))

    ranks = nodes.crossJoin(F.broadcast(nfr)).select(
        "node",
        F.expr(f"CAST({PR_SCALE} AS BIGINT) div n").alias("r"),
    )
    for _ in range(PR_ITERS):
        contrib = ranks.join(deg, "node").select(
            F.col("node").alias("src"), F.expr("r div deg").alias("c")
        )
        s = edges.join(contrib, "src").groupBy("dst").agg(
            F.sum("c").alias("s")
        )
        ranks = s.crossJoin(F.broadcast(nfr)).select(
            F.col("dst").alias("node"),
            F.expr(
                f"(15 * CAST({PR_SCALE} AS BIGINT)) div (100 * n)"
                " + (85 * s) div 100"
            ).alias("r"),
        )
    return (
        ranks.select(
            F.col("node").alias("word"), F.col("r").alias("rank_scaled")
        )
        .orderBy(F.desc("rank_scaled"), F.asc("word"))
        .limit(PR_TOP)
    )


PAGERANK_SQL = f"""
WITH {_words_cte().lstrip()},
arcs AS (
  SELECT e.* FROM (
    SELECT unnest(CASE WHEN len(words) >= 2 THEN
             list_transform(range(1, len(words)),
                            i -> {{'src': words[i], 'dst': words[i+1]}})
           ELSE CAST([] AS STRUCT(src VARCHAR, dst VARCHAR)[]) END) AS e
    FROM w) t
),
e0 AS (SELECT src, dst FROM arcs WHERE src <> dst),
edges AS (
  SELECT DISTINCT src, dst FROM
    (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT count(DISTINCT src) AS n FROM edges),
r0 AS (
  SELECT DISTINCT src AS node,
         CAST({PR_SCALE} AS BIGINT) // (SELECT n FROM nn) AS r
  FROM edges
),
s1 AS (
  SELECT e.dst AS node, CAST(sum(r0.r // d.deg) AS BIGINT) AS s
  FROM edges e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r1 AS (
  SELECT node,
         (15 * CAST({PR_SCALE} AS BIGINT)) // (100 * (SELECT n FROM nn))
           + (85 * s) // 100 AS r
  FROM s1
),
s2 AS (
  SELECT e.dst AS node, CAST(sum(r1.r // d.deg) AS BIGINT) AS s
  FROM edges e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r2 AS (
  SELECT node,
         (15 * CAST({PR_SCALE} AS BIGINT)) // (100 * (SELECT n FROM nn))
           + (85 * s) // 100 AS r
  FROM s2
)
SELECT node AS word, r AS rank_scaled FROM r2
ORDER BY rank_scaled DESC, word ASC LIMIT {PR_TOP}
"""


# --- triangle counting ------------------------------------------------

def _oriented_triangle_frames(sym: DataFrame):
    """(undirected edges, degree frame, 1-row triangle count) via the
    degree-oriented wedge join — factored so triangle_count and
    global_clustering_coefficient share the identical counting plan."""
    und = sym.filter(F.col("src") < F.col("dst"))
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    ed = (
        und.join(
            deg.select(F.col("src"), F.col("deg").alias("dsrc")), "src"
        )
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("deg").alias("ddst")
            ),
            "dst",
        )
    )
    fwd = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    arcs = ed.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )
    a = arcs.select(F.col("u"), F.col("v").alias("x"))
    b = arcs.select(F.col("u"), F.col("v").alias("y"))
    wedges = a.join(b, "u").filter(F.col("x") < F.col("y")).select("x", "y")
    tri = (
        wedges.join(
            und,
            (wedges["x"] == und["src"]) & (wedges["y"] == und["dst"]),
            "left_semi",
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    return und, deg, tri


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the word co-occurrence graph via
    DEGREE-ORIENTED wedge join — the shape that makes distributed
    triangle counting feasible on skewed graphs.

    Each undirected edge is oriented from its lower-(degree, name)
    endpoint to the higher one, so every node's out-degree is
    O(sqrt(m)) and the wedge self-join is sum(outdeg^2) — bounded even
    when a stopword hub touches half the vocabulary (the naive
    edge-edge-edge join explodes exactly there). Wedges close against
    the canonical undirected edge set; each triangle is counted once.
    One bounded summary row: nodes, edges, triangles."""
    sym = _cooc_edges(spark, sf_dir)  # persisted by the shared stage
    und, deg, tri = _oriented_triangle_frames(sym)
    n_edges = und.agg(F.count("*").alias("n_edges"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    return (
        tri.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_nodes))
        .select("n_nodes", "n_edges", "n_triangles")
    )


TRIANGLE_COUNT_SQL = f"""
WITH {_words_cte().lstrip()},
arcs0 AS (
  SELECT e.* FROM (
    SELECT unnest(CASE WHEN len(words) >= 2 THEN
             list_transform(range(1, len(words)),
                            i -> {{'src': words[i], 'dst': words[i+1]}})
           ELSE CAST([] AS STRUCT(src VARCHAR, dst VARCHAR)[]) END) AS e
    FROM w) t
),
e0 AS (SELECT src, dst FROM arcs0 WHERE src <> dst),
edges AS (
  SELECT DISTINCT src, dst FROM
    (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)
),
und AS (SELECT src, dst FROM edges WHERE src < dst),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
ed AS (
  SELECT u.src, u.dst, a.deg AS dsrc, b.deg AS ddst
  FROM und u JOIN deg a ON a.node = u.src JOIN deg b ON b.node = u.dst
),
arcs AS (
  SELECT CASE WHEN dsrc < ddst OR (dsrc = ddst AND src < dst)
              THEN src ELSE dst END AS u,
         CASE WHEN dsrc < ddst OR (dsrc = ddst AND src < dst)
              THEN dst ELSE src END AS v
  FROM ed
),
wedges AS (
  SELECT a.v AS x, b.v AS y
  FROM arcs a JOIN arcs b ON a.u = b.u AND a.v < b.v
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges wg
  WHERE EXISTS (SELECT 1 FROM und
                WHERE und.src = wg.x AND und.dst = wg.y)
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM und) AS n_edges,
       n_triangles
FROM tri
"""


def copurchase_degree_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree distribution (frequency-of-frequency spectrum) of the
    co-purchase graph — the first diagnostic before any graph
    algorithm: is the degree tail heavy enough to need the hub
    handling pagerank/triangles apply?

    Edges come from the same distinct-first basket self-join as
    copurchase_pairs (fan-out bounded by basket width squared);
    degree is a distinct-neighbor count per part — emitted from the
    UNDIRECTED edge list by counting each a<b edge for both ends via
    a map-side Expand (explode of the two endpoints), never a second
    join; the spectrum is the tiny degree-keyed rollup. At any scale
    the only wide exchanges are on edge keys and part ids. Rides the
    shared persisted order_part_pair_counts stage (r13); its (pa, pb)
    keys ARE the distinct edge list."""
    from .mining import order_part_pair_counts

    edges = order_part_pair_counts(spark, sf_dir).select("pa", "pb")
    ends = edges.select(
        F.explode(F.array(F.col("pa"), F.col("pb"))).alias("part")
    )
    degrees = ends.groupBy("part").agg(F.count("*").alias("degree"))
    return degrees.groupBy("degree").agg(F.count("*").alias("n_parts"))


COPURCHASE_DEGREE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
ends AS (
  SELECT pa AS part FROM edges UNION ALL SELECT pb AS part FROM edges
),
degrees AS (SELECT part, count(*) AS degree FROM ends GROUP BY part)
SELECT degree, count(*) AS n_parts FROM degrees GROUP BY degree
"""


# --- label propagation communities -------------------------------------

LPA_MIN_SUPPORT = 2


def label_propagation_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-purchase graph by LABEL
    PROPAGATION, two unrolled synchronous rounds: every part starts
    as its own label; each round a part adopts the MOST FREQUENT
    label among its neighbors (tie -> smallest label; isolated parts
    keep their own). Reported as the community-size histogram.

    This is the mode-based relative of dedup_groups' min-label
    connected components — LPA finds denser-than-neighborhood
    communities rather than mere connectivity, and the fixed
    iteration count makes the whole computation one deterministic
    dataflow the oracle reproduces (same posture as kmeans_2iter /
    pagerank_2iter). Scale: each round is one edges-join-labels
    shuffle on the node key plus a (node, label) count — no
    per-node driver state; the frequency window runs per node over
    its neighbor-label counts, bounded by degree."""
    from .mining import order_part_pair_counts

    # support >= LPA_MIN_SUPPORT baskets: single-basket co-occurrence
    # is noise for community structure, and pruning it first shrinks
    # the propagation graph by an order of magnitude (the same
    # min-support discipline as basket_brand_lift). Rides the shared
    # persisted order_part_pair_counts stage (r13).
    half = (
        order_part_pair_counts(spark, sf_dir)
        .filter(F.col("n") >= LPA_MIN_SUPPORT)
        .select("pa", "pb")
    )
    # cached: the min-support edge list feeds the initial labels AND
    # both propagation rounds; uncached, the basket self-join +
    # support aggregate re-ran per reference (12 parquet scans in the
    # r13 before-plan; 2.1 s -> 1.7 s measured). The frame is small
    # by construction (support pruning). Guide §5.
    edges = half.union(
        half.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    ).transform(stage)
    nodes = edges.select(F.col("pa").alias("part")).distinct()
    labels = nodes.select("part", F.col("part").alias("lbl"))

    def one_round(labels: DataFrame) -> DataFrame:
        nbr = edges.join(
            labels.withColumnRenamed("part", "pb"), "pb"
        ).select(F.col("pa").alias("part"), "lbl")
        counts = nbr.groupBy("part", "lbl").agg(F.count("*").alias("c"))
        w = Window.partitionBy("part").orderBy(
            F.desc("c"), F.asc("lbl")
        )
        return (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("part", "lbl")
        )

    l2 = one_round(one_round(labels))
    sizes = l2.groupBy("lbl").agg(F.count("*").alias("community_size"))
    return sizes.groupBy("community_size").agg(
        F.count("*").alias("n_communities")
    )


_LPA_ROUND_SQL = """
{out} AS (
  SELECT part, lbl FROM (
    SELECT e.pa AS part, l.lbl, count(*) AS c,
           row_number() OVER (PARTITION BY e.pa
                              ORDER BY count(*) DESC, l.lbl ASC) AS _rn
    FROM edges e JOIN {prev} l ON e.pb = l.part
    GROUP BY e.pa, l.lbl
  ) WHERE _rn = 1
)"""

LABEL_PROPAGATION_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
half AS (
  SELECT pa, pb FROM (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS _n
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
  ) WHERE _n >= {LPA_MIN_SUPPORT}
),
edges AS (
  SELECT pa, pb FROM half
  UNION ALL SELECT pb AS pa, pa AS pb FROM half
),
l0 AS (SELECT DISTINCT pa AS part, pa AS lbl FROM edges),
{_LPA_ROUND_SQL.format(out='l1', prev='l0').lstrip()},
{_LPA_ROUND_SQL.format(out='l2', prev='l1').lstrip()},
sizes AS (SELECT lbl, count(*) AS community_size FROM l2 GROUP BY lbl)
SELECT community_size, count(*) AS n_communities
FROM sizes GROUP BY community_size
"""


# --- multi-hop BFS distance (round-7 queue) -----------------------------

BFS_MAX_HOPS = 3


def bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hop-distance histogram of a BFS over the co-purchase
    graph, seeded at its highest-degree part (tie -> lowest partkey),
    capped at BFS_MAX_HOPS hops — the iterative frontier-expansion
    class (Pregel supersteps) the registry otherwise lacks: pagerank
    and LPA run a FIXED number of whole-graph rounds, while BFS's
    per-round work is the FRONTIER, and correctness depends on the
    visited-set anti-join (a node reached twice must keep its first
    distance).

    Plan shape per superstep: frontier JOIN arcs (shuffle keyed on
    part id, frontier-sized, not graph-sized) -> distinct -> anti-join
    against the visited accumulator. Both sides of every exchange are
    bounded by the reachable node set; nothing is ever quadratic in
    nodes. The per-level persist() is what keeps superstep k from
    recomputing supersteps 1..k-1 through Spark's lazy lineage — the
    textbook iterative-algorithm trap. At 100 TB the identical loop
    runs with the arcs table bucketed on pa so every superstep's join
    is co-located; the visited set stays a fraction of the node set.

    The DuckDB oracle is a recursive CTE (min-dist per node) — a
    genuinely different evaluation strategy certifying the same
    fixpoint."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    half = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
    )
    arcs = half.union(
        half.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    ).transform(stage)
    deg = arcs.groupBy("pa").agg(F.count("*").alias("deg"))
    seed = (
        deg.orderBy(F.desc("deg"), F.asc("pa"))
        .limit(1)
        .select(F.col("pa").alias("part"))
    )
    visited = seed.select("part", F.lit(0).cast("int").alias("dist")).transform(stage)
    frontier = visited.select("part")
    for k in range(1, BFS_MAX_HOPS + 1):
        # frontier and visited are id sets bounded by the node count,
        # orders of magnitude under the edge list — broadcasting both
        # keeps every superstep's heavy side (arcs) shuffle-free; the
        # giant-frontier fallback is the bucketed shuffle join.
        nbrs = (
            arcs.join(F.broadcast(frontier), frontier["part"] == arcs["pa"])
            .select(F.col("pb").alias("part"))
            .distinct()
        )
        nxt = (
            nbrs.join(F.broadcast(visited), "part", "left_anti")
            .select("part", F.lit(k).cast("int").alias("dist"))
            .transform(stage)
        )
        # each level is persisted; the union of cached levels needs
        # no cache of its own (re-unioning cached frames is free).
        visited = visited.union(nxt)
        frontier = nxt.select("part")
    return (
        visited.groupBy("dist")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("part").alias("sum_partkey"),
            F.min("part").alias("min_partkey"),
            F.max("part").alias("max_partkey"),
        )
    )


BFS_HOP_SQL = f"""
WITH RECURSIVE
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
half AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
arcs AS (
  SELECT pa, pb FROM half UNION ALL SELECT pb AS pa, pa AS pb FROM half
),
deg AS (SELECT pa, count(*) AS deg FROM arcs GROUP BY pa),
seed AS (SELECT pa AS part FROM deg ORDER BY deg DESC, pa ASC LIMIT 1),
walk(part, dist) AS (
  SELECT part, 0 FROM seed
  UNION
  SELECT e.pb, w.dist + 1
  FROM walk w JOIN arcs e ON e.pa = w.part
  WHERE w.dist < {BFS_MAX_HOPS}
),
md AS (SELECT part, min(dist) AS dist FROM walk GROUP BY part)
SELECT CAST(dist AS INTEGER) AS dist, count(*) AS n_parts,
       CAST(sum(part) AS BIGINT) AS sum_partkey,
       min(part) AS min_partkey, max(part) AS max_partkey
FROM md GROUP BY dist
"""


# --- positional phrase search (round-7 queue) ---------------------------

def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval over a POSITIONAL inverted index — the
    IR tier above inverted_index (df + doc postings) and bm25_search
    (bag-of-words ranking): a phrase query needs token positions, and
    the match is a positional self-join (pos_b == pos_a + 1), the
    same plan a search engine runs against positional posting lists.

    The phrase is chosen deterministically IN-QUERY: the corpus's
    most frequent word bigram (ties -> lexicographically smallest),
    so the entry exercises index construction, top-1 selection, and
    phrase matching in one plan without a hardcoded literal that
    would rot across scale factors.

    Scale posture: postings are filtered to the two phrase terms
    (broadcast of a 1-row phrase) BEFORE the positional join, so the
    join is posting-list-sized, never corpus-sized — the classic
    reason positional indexes carry (doc, pos) sorted by doc: the
    equi-join key is (doc_id, adjacent position). Occurrences may
    overlap ("a a a" has two "a a"); both engines count them
    identically. Output is per-doc occurrence counts of the phrase.
    """
    arr = _doc_word_arrays(spark, sf_dir)
    postings = arr.select(
        "doc_id", F.posexplode("ws").alias("pos", "word")
    )
    n = F.size(F.col("ws"))
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ws"), i),
                F.element_at(F.col("ws"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top1 = (
        arr.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(1)
        .select(
            F.col("bigram").alias("phrase"),
            F.split("bigram", " ").getItem(0).alias("_w1"),
            F.split("bigram", " ").getItem(1).alias("_w2"),
        )
    )
    p1 = postings.join(
        F.broadcast(top1), postings["word"] == top1["_w1"]
    ).select("doc_id", "pos", "phrase")
    p2 = postings.join(
        F.broadcast(top1.select("_w2")), postings["word"] == F.col("_w2")
    ).select(F.col("doc_id").alias("_d2"), F.col("pos").alias("_p2"))
    return (
        p1.join(
            p2,
            (p1["doc_id"] == p2["_d2"]) & (p2["_p2"] == p1["pos"] + 1),
        )
        .groupBy("doc_id", "phrase")
        .agg(F.count("*").alias("n_occurrences"))
    )


PHRASE_SEARCH_SQL = f"""
WITH {{words_cte}},
pos AS (
  SELECT doc_id, t.p - 1 AS pos, t.w AS word
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(words) + 1),
                                 i -> {{{{'p': i, 'w': words[i]}}}})) AS t
    FROM w
  )
),
bg AS (
  SELECT unnest(CASE WHEN len(words) >= 2 THEN
           list_transform(range(1, len(words)),
                          i -> words[i] || ' ' || words[i+1])
         ELSE CAST([] AS VARCHAR[]) END) AS bigram
  FROM w
),
top1 AS (
  SELECT bigram AS phrase,
         string_split(bigram, ' ')[1] AS _w1,
         string_split(bigram, ' ')[2] AS _w2
  FROM (SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
        ORDER BY cnt DESC, bigram ASC LIMIT 1)
)
SELECT p1.doc_id, t.phrase, count(*) AS n_occurrences
FROM pos p1
JOIN top1 t ON p1.word = t._w1
JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
           AND p2.word = t._w2
GROUP BY p1.doc_id, t.phrase
"""


# --- link prediction (round-15 queue) -----------------------------------

LP_TOP = 20
LP_MID_CAP = 50  # wedge-midpoint degree cap: hubs fan out deg^2


def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction over the word co-occurrence graph —
    the missing-edge side of graph mining (PageRank ranks nodes,
    triangles count closure, BFS measures distance; link prediction
    asks WHICH absent edge is most likely real): for non-adjacent
    pairs, jaccard_ppm = |N(a) n N(b)| * 1e6 div (deg_a + deg_b -
    |N(a) n N(b)|), top-20 by (score, common neighbors, pair) — all
    integer counts, the division non-negative.

    Candidate pairs come from WEDGE enumeration (a-w-b through a
    shared neighbor — only pairs with >= 1 common neighbor can score
    > 0, so nothing else is ever materialized), with the wedge
    MIDPOINT degree capped at 50: a hub midpoint fans out deg^2
    wedges, and a stopword hub's predictions are noise anyway — the
    same df-cap policy as the dedup shingle tiers. Existing edges are
    removed with a left-anti join BEFORE scoring.

    Scale posture (100 TB): degrees and the cap are one groupBy; the
    wedge self-join is co-partitioned on the midpoint (a local zipper
    after one shuffle, fan-out bounded by the cap squared); the
    anti-join and degree joins key on the pair endpoints; the top-k
    is a TakeOrderedAndProject. No per-doc or per-node window.
    """
    e = _cooc_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    mid_ok = deg.filter(F.col("deg") <= LP_MID_CAP).select(
        F.col("src").alias("w")
    )
    half = e.select(F.col("dst").alias("a"), F.col("src").alias("w"))
    wedges = (
        half.join(mid_ok, "w")
        .alias("x")
        .join(
            half.select(F.col("a").alias("b"), "w").alias("y"), "w"
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    non_edges = wedges.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    scored = (
        non_edges.join(
            deg.select(F.col("src").alias("a"), F.col("deg").alias("_da")),
            "a",
        )
        .join(
            deg.select(F.col("src").alias("b"), F.col("deg").alias("_db")),
            "b",
        )
        .select(
            "a",
            "b",
            "cn",
            F.expr("cn * 1000000 div (_da + _db - cn)").alias(
                "jaccard_ppm"
            ),
        )
    )
    return scored.orderBy(
        F.desc("jaccard_ppm"), F.desc("cn"), F.asc("a"), F.asc("b")
    ).limit(LP_TOP)


LINK_PREDICTION_SQL = f"""
WITH {_words_cte().lstrip()},
arcs AS (
  SELECT e.* FROM (
    SELECT unnest(CASE WHEN len(words) >= 2 THEN
             list_transform(range(1, len(words)),
                            i -> {{'src': words[i], 'dst': words[i+1]}})
           ELSE CAST([] AS STRUCT(src VARCHAR, dst VARCHAR)[]) END) AS e
    FROM w) t
),
e0 AS (SELECT src, dst FROM arcs WHERE src <> dst),
edges AS (
  SELECT DISTINCT src, dst FROM
    (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
mid_ok AS (SELECT src AS w FROM deg WHERE deg <= {LP_MID_CAP}),
half AS (SELECT dst AS a, src AS w FROM edges),
wedges AS (
  SELECT x.a AS a, y.a AS b, CAST(count(*) AS BIGINT) AS cn
  FROM half x
  JOIN mid_ok m ON x.w = m.w
  JOIN half y ON x.w = y.w
  WHERE x.a < y.a
  GROUP BY x.a, y.a
),
non_edges AS (
  SELECT w.* FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM edges e
                    WHERE e.src = w.a AND e.dst = w.b)
),
scored AS (
  SELECT n.a, n.b, n.cn,
         CAST(n.cn * 1000000 // (da.deg + db.deg - n.cn) AS BIGINT)
           AS jaccard_ppm
  FROM non_edges n
  JOIN deg da ON n.a = da.src
  JOIN deg db ON n.b = db.src
)
SELECT a, b, cn, jaccard_ppm FROM scored
ORDER BY jaccard_ppm DESC, cn DESC, a ASC, b ASC
LIMIT {LP_TOP}
"""


# --- global clustering coefficient (round-16 queue, built round 10) ---------


def global_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global clustering coefficient (transitivity) of the word
    co-occurrence graph: 3 * triangles / wedges — how often two words
    that share a neighbor also co-occur themselves. Natural-language
    co-occurrence graphs are strongly clustered; boilerplate/template
    corpora collapse toward chains (gcc -> 0) and ID-noise toward
    near-cliques — the one-number structure audit beside
    triangle_count's raw census.

    Integer-exact: triangles come from the SAME degree-oriented wedge
    plan triangle_count uses (shared _oriented_triangle_frames);
    wedges are sum(deg * (deg - 1)) div 2 over the exact degree frame
    (DECIMAL(38,0)/HUGEINT headroom for hub degrees); gcc_ppm =
    (3 * T * 1e6) div W, NULL when the graph has no wedges.

    Scale posture (100 TB): identical to triangle_count — the
    orientation bounds out-degree at O(sqrt(m)) so the wedge join is
    sum(outdeg^2)-bounded even under stopword hubs; the wedge COUNT
    is a degree-frame aggregate, not a wedge materialization.
    """
    sym = _cooc_edges(spark, sf_dir)  # persisted by the shared stage
    und, deg, tri = _oriented_triangle_frames(sym)
    wedges = deg.agg(
        F.expr(
            "CAST(sum(CAST(deg AS DECIMAL(38,0)) * (deg - 1)) div 2"
            " AS DECIMAL(38,0))"
        ).alias("_w")
    )
    n_edges = und.agg(F.count("*").alias("n_edges"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    return (
        tri.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "n_nodes",
            "n_edges",
            F.col("_w").cast("long").alias("n_wedges"),
            "n_triangles",
            F.when(F.col("_w") == 0, F.lit(None).cast("long"))
            .otherwise(
                F.expr(
                    "CAST((3 * CAST(n_triangles AS DECIMAL(38,0))"
                    " * 1000000) div _w AS BIGINT)"
                )
            )
            .alias("gcc_ppm"),
        )
    )


GLOBAL_CLUSTERING_SQL = f"""
WITH {{words_cte}},
arcs0 AS (
  SELECT e.* FROM (
    SELECT unnest(CASE WHEN len(words) >= 2 THEN
             list_transform(range(1, len(words)),
                            i -> {{{{'src': words[i], 'dst': words[i+1]}}}})
           ELSE CAST([] AS STRUCT(src VARCHAR, dst VARCHAR)[]) END) AS e
    FROM w) t
),
e0 AS (SELECT src, dst FROM arcs0 WHERE src <> dst),
edges AS (
  SELECT DISTINCT src, dst FROM
    (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)
),
und AS (SELECT src, dst FROM edges WHERE src < dst),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
ed AS (
  SELECT u.src, u.dst, a.deg AS dsrc, b.deg AS ddst
  FROM und u JOIN deg a ON a.node = u.src JOIN deg b ON b.node = u.dst
),
arcs AS (
  SELECT CASE WHEN dsrc < ddst OR (dsrc = ddst AND src < dst)
              THEN src ELSE dst END AS u,
         CASE WHEN dsrc < ddst OR (dsrc = ddst AND src < dst)
              THEN dst ELSE src END AS v
  FROM ed
),
wedge_pairs AS (
  SELECT a.v AS x, b.v AS y
  FROM arcs a JOIN arcs b ON a.u = b.u AND a.v < b.v
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM wedge_pairs wg
  WHERE EXISTS (SELECT 1 FROM und
                WHERE und.src = wg.x AND und.dst = wg.y)
),
wsum AS (
  SELECT sum(CAST(deg AS HUGEINT) * (deg - 1)) // 2 AS _w FROM deg
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       CAST(wsum._w AS BIGINT) AS n_wedges,
       tri.n_triangles,
       CASE WHEN wsum._w = 0 THEN NULL
            ELSE CAST((3 * CAST(tri.n_triangles AS HUGEINT) * 1000000)
                      // wsum._w AS BIGINT)
       END AS gcc_ppm
FROM tri, wsum
"""


def _gcc_sql() -> str:
    return GLOBAL_CLUSTERING_SQL.format(words_cte=_words_cte().lstrip())


GLOBAL_CLUSTERING_ORACLE = _gcc_sql()


# --- k-core decomposition (r12 queue) -------------------------------------

# Peeling rounds unrolled in the oracle; the Spark side RAISES if a
# core has not stabilized within this bound (the dedup_groups
# convergence contract: loud failure, never a silently-truncated
# result). Word co-occurrence degrees collapse fast under peeling —
# the observed maximum across SFs is recorded in the test file.
KCORE_KS = (2, 3, 4)
KCORE_MAX_ROUNDS = 8


def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the word co-occurrence graph: for each
    k in (2, 3, 4), the maximal subgraph where every node keeps
    degree >= k — the standard density ladder for separating the
    corpus's connective tissue (function-word hubs survive every
    peel) from its periphery (hapax chains fall out at k=2). Exports
    one row per k: surviving nodes, surviving undirected edges, and
    the maximum in-core degree.

    Algorithm: iterative peeling to a FIXPOINT — drop nodes with
    in-subgraph degree < k, recompute degrees, repeat; cores nest, so
    the k=3 peel starts from the k=2 core's edges (and k=4 from
    k=3's), never from the full graph. Each round is one
    groupBy(degree) + two semi-joins on the surviving node set; the
    driver sees ONE count per round (did any node drop?), the
    per-round frame is localCheckpoint'ed so analysis cost stays
    linear in rounds (the dedup_groups CC contract), and a core not
    stabilizing within {KCORE_MAX_ROUNDS} rounds raises instead of
    truncating. The oracle replays the identical peel with the same
    round bound unrolled as CTEs — convergence within the bound is
    therefore part of the verified contract, and a fixpoint reached
    early makes the oracle's remaining rounds no-ops, so both engines
    agree exactly.

    Scale posture (100 TB): no per-round driver data beyond one
    count; edges stay partitioned by src across rounds (the groupBy
    and both semi-joins key on node ids); rounds are bounded by the
    peel depth, not graph size — real co-occurrence graphs stabilize
    in a handful of rounds because peeling cascades exhaust the
    low-degree fringe geometrically.
    """
    # edges0 rides the SHARED persisted co-occurrence stage (never
    # unpersisted here — other entries reuse it); the peels
    # themselves ride checkpoints.
    edges0 = _cooc_edges(spark, sf_dir)
    per_k = []
    edges = edges0
    for k in KCORE_KS:
        converged = False
        for _ in range(KCORE_MAX_ROUNDS):
            # cached per round: the degree frame feeds the semi-join
            # prune AND the convergence stats — and both counts now
            # ride ONE 1-row action instead of two jobs per round
            # (r13; the frame is node-count-bounded and unpersisted
            # before the next round).
            deg = edges.groupBy("src").agg(
                F.count(F.lit(1)).alias("deg")
            ).transform(stage)
            keep = deg.filter(F.col("deg") >= k).select("src")
            new_edges = (
                edges.join(keep, "src", "left_semi")
                .join(
                    keep.withColumnRenamed("src", "dst"),
                    "dst",
                    "left_semi",
                )
                .localCheckpoint(eager=True)
            )
            # the only values the driver ever sees: two counts
            stats = deg.agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.sum(
                    (F.col("deg") >= k).cast("long")
                ).alias("n_keep"),
            ).collect()[0]
            deg.unpersist()
            edges = new_edges
            if (stats["n_keep"] or 0) == stats["n_nodes"]:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"k-core peel for k={k} did not stabilize within "
                f"{KCORE_MAX_ROUNDS} rounds — raise KCORE_MAX_ROUNDS "
                f"(and the oracle unroll) rather than truncating"
            )
        per_k.append(
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .agg(
                F.lit(k).cast("long").alias("k"),
                F.count(F.lit(1)).alias("core_nodes"),
                F.coalesce(F.expr("sum(deg) div 2"), F.lit(0)).alias(
                    "core_edges"
                ),
                F.coalesce(F.max("deg"), F.lit(0)).alias(
                    "max_core_degree"
                ),
            )
        )
    out = per_k[0]
    for fr in per_k[1:]:
        out = out.unionByName(fr)
    return out


def _kcore_sql() -> str:
    """Unrolled peel: for each k, KCORE_MAX_ROUNDS rounds of
    degree-filter + induced-subgraph CTEs chained from the previous
    k's converged core (cores nest). A round after the fixpoint is a
    no-op, so the fixed unroll equals the converged core whenever the
    Spark side converged (which it certifies by raising otherwise)."""
    from ..operators.ngrams import _words_cte

    parts = [
        f"""WITH {_words_cte().lstrip()},
arcs AS (
  SELECT e.* FROM (
    SELECT unnest(CASE WHEN len(words) >= 2 THEN
             list_transform(range(1, len(words)),
                            i -> {{'src': words[i], 'dst': words[i+1]}})
           ELSE CAST([] AS STRUCT(src VARCHAR, dst VARCHAR)[]) END) AS e
    FROM w) t
),
e0 AS (SELECT src, dst FROM arcs WHERE src <> dst),
edges_k0_r0 AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM
    (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)
)"""
    ]
    prev = "edges_k0_r0"
    selects = []
    for k in KCORE_KS:
        cur = prev
        for r in range(1, KCORE_MAX_ROUNDS + 1):
            keep = f"keep_k{k}_r{r}"
            nxt = f"edges_k{k}_r{r}"
            parts.append(
                f"""{keep} AS MATERIALIZED (
  SELECT src FROM {cur} GROUP BY src HAVING count(*) >= {k}
)"""
            )
            parts.append(
                f"""{nxt} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {cur} e
  WHERE e.src IN (SELECT src FROM {keep})
    AND e.dst IN (SELECT src FROM {keep})
)"""
            )
            cur = nxt
        prev = cur
        selects.append(
            f"""SELECT {k} AS k,
       CAST(count(DISTINCT src) AS BIGINT) AS core_nodes,
       CAST(count(*) // 2 AS BIGINT) AS core_edges,
       CAST(coalesce((SELECT max(cnt) FROM
         (SELECT count(*) AS cnt FROM {cur} GROUP BY src) t), 0)
         AS BIGINT) AS max_core_degree
FROM {cur}"""
        )
    return (
        ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


KCORE_SQL = _kcore_sql()


# --- degree assortativity of the co-purchase graph ----------------------


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the co-purchase graph —
    the one-number summary of its mixing pattern that the degree
    distribution alone can't give: do hub parts co-purchase with
    other hubs (r > 0, social-network-like) or with leaves (r < 0,
    hub-and-spoke catalogs)? Negative assortativity is what makes
    the salted-join/hub handling in pagerank/triangle_count
    necessary, so this is the diagnostic that justifies them.

    PURE-integer algebra: degrees from one explode of the distinct
    a<b edge list (the copurchase_degree_distribution scaffold);
    every edge contributes BOTH orientations (x,y) and (y,x), which
    makes the two Pearson marginals identical — the denominator
    collapses to M*Sxx - Sx*Sx with no sqrt, so
    r = (M*Sxy - Sx*Sy) / (M*Sxx - Sx*Sx) is a RATIO OF EXACT
    INTEGERS, evaluated in DECIMAL(38,0)/HUGEINT (M*Sxy ~ E^2*deg^2
    wraps int64 at ~1e6 edges x 1e3 degree). r is signed and |r|<=1,
    so the milli quantization runs through the shifted nonnegative
    quotient (+1000*den before the div, -1000 after — the theil_sen
    idiom). The shift is a CONVENTION pinning floor semantics for
    signed quotients: both engines actually truncate toward zero on
    integer division (Spark div and DuckDB BIGINT/HUGEINT `//` alike
    — verified, see the dbscan_core_cells note in clustering.py;
    "DuckDB floors" applies to float paths), and on the shifted
    nonnegative operands truncation == floor. NULL when the
    graph is degree-regular (den = 0).

    Scale posture (100 TB): the basket self-join is bounded by
    basket width squared (the copurchase family contract); degrees
    ride one groupBy; the per-edge degree attach is two joins ON THE
    PART KEY (hash exchanges on graph keys, never a broadcast of the
    corpus); the rollup is five int sums to ONE row.
    """
    from .mining import order_part_pair_counts

    # the distinct edge list feeds the degree rollup AND both sides
    # of the per-edge degree attach; it now rides the shared
    # persisted order_part_pair_counts stage (r13), whose (pa, pb)
    # keys are exactly the distinct edges.
    edges = order_part_pair_counts(spark, sf_dir).select("pa", "pb")
    degrees = (
        edges.select(
            F.explode(F.array(F.col("pa"), F.col("pb"))).alias("part")
        )
        .groupBy("part")
        .agg(F.count("*").alias("deg"))
    )
    da = degrees.select(
        F.col("part").alias("pa"), F.col("deg").alias("_dx")
    )
    db = degrees.select(
        F.col("part").alias("pb"), F.col("deg").alias("_dy")
    )
    both = (
        edges.join(da, "pa")
        .join(db, "pb")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("_dx").alias("x"), F.col("_dy").alias("y")
                    ),
                    F.struct(
                        F.col("_dy").alias("x"), F.col("_dx").alias("y")
                    ),
                )
            ).alias("_e")
        )
        .select(F.col("_e.x").alias("x"), F.col("_e.y").alias("y"))
    )
    rolled = both.agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum("x").alias("_sx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("_sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("_sxx"),
    )
    return rolled.select(
        (F.col("_m") / 2).cast("long").alias("n_edges"),
        F.expr(
            "CAST(CASE WHEN _m * _sxx - CAST(_sx AS DECIMAL(38,0)) * _sx"
            " > 0 THEN CAST((1000 * (_m * _sxy - CAST(_sx AS"
            " DECIMAL(38,0)) * _sx) + 1000 * (_m * _sxx - CAST(_sx AS"
            " DECIMAL(38,0)) * _sx)) div (_m * _sxx - CAST(_sx AS"
            " DECIMAL(38,0)) * _sx) AS BIGINT) - 1000 END AS BIGINT)"
        ).alias("assortativity_milli"),
    )


DEGREE_ASSORT_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
ends AS (
  SELECT pa AS part FROM edges UNION ALL SELECT pb AS part FROM edges
),
degrees AS (
  SELECT part, CAST(count(*) AS BIGINT) AS deg FROM ends GROUP BY part
),
oriented AS (
  SELECT da.deg AS x, db.deg AS y
  FROM edges e JOIN degrees da ON e.pa = da.part
               JOIN degrees db ON e.pb = db.part
  UNION ALL
  SELECT db.deg AS x, da.deg AS y
  FROM edges e JOIN degrees da ON e.pa = da.part
               JOIN degrees db ON e.pb = db.part
),
rolled AS (
  SELECT CAST(count(*) AS BIGINT) AS _m,
         CAST(sum(x) AS BIGINT) AS _sx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS _sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS _sxx
  FROM oriented
)
SELECT CAST(_m // 2 AS BIGINT) AS n_edges,
       CAST(CASE WHEN _m * _sxx - CAST(_sx AS HUGEINT) * _sx > 0 THEN
         CAST((1000 * (_m * _sxy - CAST(_sx AS HUGEINT) * _sx)
               + 1000 * (_m * _sxx - CAST(_sx AS HUGEINT) * _sx))
              // (_m * _sxx - CAST(_sx AS HUGEINT) * _sx) AS BIGINT)
         - 1000 END AS BIGINT) AS assortativity_milli
FROM rolled
"""
