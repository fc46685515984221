"""Fixed-iteration k-means over the embeddings table.

Topic/quality bucketing of a training corpus runs k-means over
document embeddings; on Spark the iterative structure is a driver
loop over declarative rounds. Here the iteration count is FIXED (2
assignment rounds, unrolled) so the whole computation is one
deterministic dataflow that the DuckDB oracle reproduces exactly —
the same posture as the dedup connected-components operator, whose
loop-to-convergence variant lives Spark-side with a weaker
rows-only check.

Determinism across engines (the things that usually break float
clustering):
- Distances are an explicit left-fold of doubles (``F.aggregate`` /
  ``list_reduce``) — identical IEEE operation order in both engines.
- Assignment ties break on (dist, cluster_id): Spark picks the
  lexicographic minimum struct(dist, cid) via a map-side least-fold
  over the broadcast codebook (windowless, exchange-free — see
  ``_argmin_fold``), the oracle via ROW_NUMBER ordered by
  (dist, cid); both orders are the same total order, so a tie can't
  pick different clusters.
- Centroid updates sum SCALED INT64 (round(x*1e6)), divide once at
  the end — a distributed integer sum is exact and order-free, so
  iteration-2 centroids are bit-identical to the oracle's.
- Inertia likewise sums int64-scaled per-vector distances.

Scale posture (100 TB): centroids are a K-row broadcast; assignment
is a broadcast of the collected codebook + a map-side least-fold
argmin inside the corpus scan task (no corpus shuffle, no window,
no argmin exchange — the vector array never leaves its scan task);
the update shuffles
(cluster, dim, int64) triples — 64 fixed-width rows per vector, with
map-side partial sums. At billions of vectors you'd swap the explode
for an Arrow ``applyInPandas`` per-partition partial-sum (the
``knn_pandas_udf`` pattern); the plan shape — broadcast assign,
integer-sum update, driver carries only K×dim centroids per round —
is the one that holds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cachemgr import stage
from ..sources.catalog import load_table

K = 8
DIM = 64
SCALE = 1_000_000


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "embedding"
    )
    return emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _sqdist(a: Column, b: Column) -> Column:
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


_SQDIST_SQL = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(list_zip({a}, {b}), p -> (p[1]-p[2])*(p[1]-p[2]))), "
    "(acc, x) -> acc + x)"
)


def _argmin_fold(cands_col: Column, vec_col: Column) -> Column:
    """least-fold argmin over a collected codebook array: for each
    candidate struct(cid, c) compute struct(dist, cid) against
    ``vec_col`` (the caller's vector column — an explicit parameter,
    not an implicit F.col('v') scope capture) and keep the
    struct-ordering minimum. least() uses the SAME lexicographic
    (dist ASC, cid ASC) comparator as min(struct(dist, cid)) —
    including NaN-greatest and null-field ordering — so the pick is
    IDENTICAL to the r13 map-side aggregate and to the original
    row_number over (dist ASC, cid ASC). least is commutative, so
    the collect_list order of the codebook never matters."""
    scored = F.transform(
        cands_col,
        lambda cand: F.struct(
            _sqdist(vec_col, cand["c"]).alias("dist"),
            cand["cid"].alias("cid"),
        ),
    )
    return F.aggregate(
        scored,
        F.lit(None).cast("struct<dist:double,cid:bigint>"),
        lambda acc, x: F.least(acc, x),
    )


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector ROW; ties break on cluster id.

    One row in = one row out: a vec_id that appears twice is assigned
    (and counted in _update) twice, and the oracle's _assign_sql picks
    per input row the same way (tests/test_queue_r11.py::
    test_kmeans_duplicate_vec_ids_match_oracle).

    r13 (second pass): the argmin is now a MAP-SIDE FOLD over the
    broadcast codebook collected into one array — no K-way row
    fan-out, no aggregate, no exchange: the vector array never
    leaves its scan task (the previous min-of-struct aggregate still
    shuffled one (vec_id, struct, v[64]) row per vector through a
    Sort+SortAggregate, struct/array buffers being ineligible for
    hash aggregation). The size(_cands) > 0 filter reproduces the
    old inner-join semantics when the codebook is empty, and keeps
    the pushed-down predicate a cheap array-length check instead of
    the fold itself."""
    cands = cents.agg(
        F.collect_list(F.struct("cid", "c")).alias("_cands")
    )
    return (
        vecs.crossJoin(F.broadcast(cands))
        .filter(F.size("_cands") > 0)
        .select("vec_id", "v", _argmin_fold(F.col("_cands"), F.col("v")).alias("_b"))
        .select(
            "vec_id",
            F.col("_b.cid").alias("cid"),
            F.col("_b.dist").alias("dist"),
            "v",
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids from scaled-int64 sums; rebuilds the array in
    dim order (array_sort on (dim, mean) structs is deterministic)."""
    exploded = assigned.select(
        "cid", F.posexplode("v").alias("pos", "x")
    ).select(
        "cid",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("x") * SCALE, 0).cast("long").alias("xs"),
    )
    means = exploded.groupBy("cid", "dim").agg(
        ((F.sum("xs").cast("double") / SCALE) / F.count("*")).alias("m")
    )
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )


def kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled k-means rounds; per-cluster size + inertia."""
    vecs = _vecs(spark, sf_dir)
    c0 = vecs.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    a1 = _assign(vecs, c0)
    c1 = _update(a1)
    a2 = _assign(vecs, c1)
    return (
        a2.withColumn(
            "ds", F.round(F.col("dist") * SCALE, 0).cast("long")
        )
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.sum("ds") / float(SCALE), 6).alias("inertia"),
        )
    )


# The vector CTE the k-means oracles start from: one row per
# embeddings row, with the per-row id ``rid`` _assign_sql keys on.
_VECS_SQL = """v AS (
  SELECT row_number() OVER () AS rid, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)"""


def _assign_sql(src: str, cents: str, out: str) -> str:
    """Nearest centroid per row of ``src``, which carries a per-row id
    ``rid`` (the engine's _assign is per row, not per vec_id)."""
    d = _SQDIST_SQL.format(a=f"{src}.v", b=f"{cents}.c")
    return f"""
{out}_s AS (
  SELECT {src}.rid, {src}.vec_id, {cents}.cid, {d} AS dist, {src}.v
  FROM {src} CROSS JOIN {cents}
),
{out} AS (
  SELECT vec_id, cid, dist, v FROM (
    SELECT vec_id, cid, dist, v,
           ROW_NUMBER() OVER (PARTITION BY rid ORDER BY dist, cid) AS rn
    FROM {out}_s
  ) WHERE rn = 1
)"""


KMEANS_SQL = f"""
WITH {_VECS_SQL},
c0 AS (SELECT vec_id AS cid, v AS c FROM v WHERE vec_id < {K}),
{_assign_sql('v', 'c0', 'a1').lstrip()},
e1 AS (
  SELECT cid, d.dim AS dim,
         CAST(round(v[d.dim] * {SCALE}, 0) AS BIGINT) AS xs
  FROM a1 CROSS JOIN (SELECT unnest(range(1, {DIM + 1})) AS dim) d
),
m1 AS (
  SELECT cid, dim, (CAST(sum(xs) AS DOUBLE) / {SCALE}) / count(*) AS m
  FROM e1 GROUP BY cid, dim
),
c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM m1 GROUP BY cid),
{_assign_sql('v', 'c1', 'a2').lstrip()}
SELECT cid AS cluster_id, count(*) AS n_vectors,
       round(sum(CAST(round(dist * {SCALE}, 0) AS BIGINT)) / {float(SCALE)}, 6)
         AS inertia
FROM a2 GROUP BY cid
"""


# --- SemDeDup: semantic dedup via embedding-cluster pruning -----------

SEMDEDUP_TAU = 0.3  # cosine cutoff; synthetic embeddings peak ~0.48
# Hard ceiling on the pair-search cell size: any k-means cell larger
# than this is split into ceil(|c|/CAP) sub-cells by a multiplicative
# hash of vec_id before the self-join (VERDICT r6: a fixed K with no
# split is a quadratic time bomb at 100x corpus). 50 is small enough
# that every test SF (500-2000 vectors, K=8 -> cells of 60-250)
# exercises the split path.
SEMDEDUP_CELL_CAP = 50
_SALT_MIX = 2654435761  # Knuth's 32-bit multiplicative-hash constant
_TWO32 = 4294967296


def _semdedup_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment + per-vector norm + sub-cell salt.

    Cached: three consumers (both pair-join sides + the totals) would
    otherwise each recompute the whole 2-round assignment chain — the
    dedup_minhash bands.cache() precedent. The salt is
    hash(vec_id) mod ceil(|cell|/CAP): cells at or under the cap get
    n_salts=1 (salt 0 for every member — semantics identical to the
    unsplit join); larger cells are hash-partitioned into sub-cells
    of ~CAP members each."""
    vecs = _vecs(spark, sf_dir)
    c0 = vecs.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    a1 = _assign(vecs, c0)
    c1 = _update(a1)
    a2 = _assign(vecs, c1)
    sizes = a2.groupBy("cid").agg(F.count("*").alias("cell_n"))
    return (
        a2.join(F.broadcast(sizes), "cid")
        .select(
            "cid",
            "vec_id",
            "v",
            F.sqrt(_sqdist_dot(F.col("v"), F.col("v"))).alias("nrm"),
            F.ceil(F.col("cell_n") / SEMDEDUP_CELL_CAP)
            .cast("long")
            .alias("n_salts"),
        )
        .withColumn(
            "salt",
            (F.col("vec_id") * F.lit(_SALT_MIX)) % F.lit(_TWO32)
            % F.col("n_salts"),
        )
        .transform(stage)
    )


def semdedup_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-means
    cluster the embeddings, then compare pairs ONLY within a cluster
    and prune every vector whose cosine similarity to a lower-id
    cluster-mate reaches SEMDEDUP_TAU (keep-lowest-id rule — a
    deterministic stand-in for the paper's keep-farthest-from-centroid
    tie-break). Returns per-cluster totals: members, pruned, kept.

    This is the missing tier between MinHash (lexical overlap) and
    sign-LSH bucketing: near-duplicate MEANING with different surface
    forms. Scale posture (100 TB): the quadratic pair search is fenced
    inside k-means cells AND capped per cell — any cell larger than
    SEMDEDUP_CELL_CAP is split into ceil(|c|/CAP) sub-cells by a
    multiplicative hash of vec_id, so the self-join work is bounded by
    sum over sub-cells of ~CAP^2 regardless of how skewed the k-means
    assignment gets; at 100x corpus the number of sub-cells grows
    linearly while per-cell work stays constant. The recall trade is
    the SemDeDup paper's own (it scales cluster count with N for the
    same reason): a duplicate pair split across sub-cells of the same
    cell is missed, in exchange for a hard per-task bound. The sizes
    frame is K rows (broadcast); the pair join shuffles on
    (cid, salt). tests/test_plans.py pins the join keys and
    tests/test_round7_ops.py pins the max sub-cell size.

    Determinism: reuses the fixed 2-iteration k-means (identical
    int64-exact centroids in both engines), an integer salt (pure
    int64 arithmetic in both engines), and the explicit left-fold
    dot product, so cosines are bit-identical and the TAU comparison
    can't straddle engines."""
    members = _semdedup_members(spark, sf_dir)
    a = members.select(
        "cid",
        "salt",
        F.col("vec_id").alias("i"),
        F.col("v").alias("vi"),
        F.col("nrm").alias("ni"),
    )
    b = members.select(
        "cid",
        "salt",
        F.col("vec_id").alias("j"),
        F.col("v").alias("vj"),
        F.col("nrm").alias("nj"),
    )
    pruned = (
        a.join(b, ["cid", "salt"])
        .filter(F.col("i") < F.col("j"))
        .filter(
            _sqdist_dot(F.col("vi"), F.col("vj"))
            / (F.col("ni") * F.col("nj"))
            >= F.lit(SEMDEDUP_TAU)
        )
        .select("cid", "j")
        .distinct()
        .groupBy("cid")
        .agg(F.count("*").alias("n_pruned"))
    )
    return (
        members.groupBy(F.col("cid").alias("cluster_id"))
        .agg(F.count("*").alias("n_vectors"))
        .join(
            pruned.withColumnRenamed("cid", "cluster_id"),
            "cluster_id",
            "left",
        )
        .select(
            "cluster_id",
            "n_vectors",
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
            (
                F.col("n_vectors") - F.coalesce("n_pruned", F.lit(0))
            ).alias("n_kept"),
        )
    )


def _sqdist_dot(a: Column, b: Column) -> Column:
    """Plain dot product with the same explicit left-fold evaluation
    order as _sqdist (and the DuckDB list_reduce mirror)."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


_DOT_FOLD_SQL = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), "
    "(acc, x) -> acc + x)"
)

SEMDEDUP_SQL = f"""
WITH {_VECS_SQL},
c0 AS (SELECT vec_id AS cid, v AS c FROM v WHERE vec_id < {K}),
{_assign_sql('v', 'c0', 'a1').lstrip()},
e1 AS (
  SELECT cid, d.dim AS dim,
         CAST(round(v[d.dim] * {SCALE}, 0) AS BIGINT) AS xs
  FROM a1 CROSS JOIN (SELECT unnest(range(1, {DIM + 1})) AS dim) d
),
m1 AS (
  SELECT cid, dim, (CAST(sum(xs) AS DOUBLE) / {SCALE}) / count(*) AS m
  FROM e1 GROUP BY cid, dim
),
c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM m1 GROUP BY cid),
{_assign_sql('v', 'c1', 'a2').lstrip()},
sizes AS (SELECT cid, count(*) AS cell_n FROM a2 GROUP BY cid),
members AS (
  SELECT a2.cid, vec_id, v,
         sqrt({_DOT_FOLD_SQL.format(a='v', b='v')}) AS nrm,
         ((vec_id * {_SALT_MIX}) % {_TWO32})
           % CAST(ceil(cell_n / {float(SEMDEDUP_CELL_CAP)}) AS BIGINT)
           AS salt
  FROM a2 JOIN sizes ON a2.cid = sizes.cid
),
pruned AS (
  SELECT cid, count(*) AS n_pruned FROM (
    SELECT DISTINCT a.cid, b.vec_id AS j
    FROM members a JOIN members b
      ON a.cid = b.cid AND a.salt = b.salt AND a.vec_id < b.vec_id
    WHERE {_DOT_FOLD_SQL.format(a='a.v', b='b.v')} / (a.nrm * b.nrm)
            >= {SEMDEDUP_TAU}
  ) GROUP BY cid
)
SELECT m.cid AS cluster_id,
       count(*) AS n_vectors,
       COALESCE(any_value(p.n_pruned), 0) AS n_pruned,
       count(*) - COALESCE(any_value(p.n_pruned), 0) AS n_kept
FROM members m LEFT JOIN pruned p ON m.cid = p.cid
GROUP BY m.cid
"""


# --- product quantization codebooks (round-11 queue, built round 10) ------

PQ_SUBS = 4
PQ_SUBDIM = DIM // PQ_SUBS  # 16 dims per subspace
PQ_K = 4  # centroids per subspace codebook


def _pq_assign(sv: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest codeword per (subspace, vector); ties break on code id
    — the kmeans_2iter _assign with the subspace as an extra key.
    Same r13 map-side least-fold argmin as _assign: the per-sub
    codebook is collected into one array and broadcast, so the
    assignment is a broadcast-hash probe + per-row fold with no
    fan-out and no aggregate exchange. The inner join on sub keeps
    the old drop-when-no-codewords semantics; a grouped collect_list
    is never empty, so no size guard is needed."""
    cands = cents.groupBy("sub").agg(
        F.collect_list(F.struct("cid", "c")).alias("_cands")
    )
    return (
        sv.join(F.broadcast(cands), "sub")
        .select(
            "sub", "vec_id", "v",
            _argmin_fold(F.col("_cands"), F.col("v")).alias("_b"),
        )
        .select(
            "sub",
            "vec_id",
            F.col("_b.cid").alias("cid"),
            F.col("_b.dist").alias("dist"),
            "v",
        )
    )


def _pq_update(assigned: DataFrame) -> DataFrame:
    exploded = assigned.select(
        "sub", "cid", F.posexplode("v").alias("pos", "x")
    ).select(
        "sub",
        "cid",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("x") * SCALE, 0).cast("long").alias("xs"),
    )
    means = exploded.groupBy("sub", "cid", "dim").agg(
        ((F.sum("xs").cast("double") / SCALE) / F.count("*")).alias("m")
    )
    return means.groupBy("sub", "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )


def pq_codebook_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training — the memory-compression
    half of the ANN stack that ivf_ann (cell probing) doesn't cover:
    split each 64-dim embedding into PQ_SUBS independent 16-dim
    subvectors, train a PQ_K-codeword codebook per subspace (two
    unrolled Lloyd rounds, the kmeans_2iter discipline), and report
    each codeword's population and quantization distortion. A vector
    then stores PQ_SUBS code bytes instead of 64 floats (64x
    compression at these settings); the distortion column is exactly
    the error that compression buys.

    Determinism across engines is kmeans_2iter's contract, carried
    per subspace: fold-based squared distances (identical IEEE
    order), (dist, code) tie-breaks — Spark's map-side least-fold
    argmin and the oracle's ROW_NUMBER share the same total order —
    and centroid updates
    from SCALED INT64 sums with one final division, distortions
    summed as int64 micro-units.

    Scale posture (100 TB): codebooks are a (PQ_SUBS x PQ_K)-row
    broadcast; assignment is a map-side broadcast scan + per
    (subspace, vector) argmin window (bounded frames); the update
    shuffles (sub, code, dim, int64) partial sums. The subspace
    explode multiplies rows by PQ_SUBS but DIVIDES per-row fold work
    by the same factor — total distance flops match the unsplit
    k-means, which is the point of PQ.
    """
    vecs = _vecs(spark, sf_dir)
    subs = spark.createDataFrame(
        [(s,) for s in range(PQ_SUBS)], "sub BIGINT"
    )
    sv = vecs.crossJoin(F.broadcast(subs)).select(
        "sub",
        "vec_id",
        F.expr(f"slice(v, sub * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("v"),
    )
    c0 = sv.filter(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    a1 = _pq_assign(sv, c0)
    c1 = _pq_update(a1)
    a2 = _pq_assign(sv, c1)
    return (
        a2.withColumn(
            "ds", F.round(F.col("dist") * SCALE, 0).cast("long")
        )
        .groupBy(
            F.col("sub").alias("subspace"), F.col("cid").alias("code")
        )
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.sum("ds") / float(SCALE), 6).alias("distortion"),
        )
    )


def _pq_assign_sql(src: str, cents: str, out: str) -> str:
    d = _SQDIST_SQL.format(a=f"{src}.v", b=f"{cents}.c")
    return f"""
{out}_s AS (
  SELECT {src}.sub, {src}.vec_id, {cents}.cid, {d} AS dist, {src}.v
  FROM {src} JOIN {cents} ON {src}.sub = {cents}.sub
),
{out} AS (
  SELECT sub, vec_id, cid, dist, v FROM (
    SELECT sub, vec_id, cid, dist, v,
           ROW_NUMBER() OVER (PARTITION BY sub, vec_id
                              ORDER BY dist, cid) AS rn
    FROM {out}_s
  ) WHERE rn = 1
)"""


PQ_CODEBOOK_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
sv AS (
  SELECT s.sub, vec_id,
         list_slice(v, s.sub * {PQ_SUBDIM} + 1,
                    (s.sub + 1) * {PQ_SUBDIM}) AS v
  FROM v, (SELECT unnest(range(0, {PQ_SUBS})) AS sub) s
),
c0 AS (SELECT sub, vec_id AS cid, v AS c FROM sv WHERE vec_id < {PQ_K}),
{_pq_assign_sql('sv', 'c0', 'a1').lstrip()},
e1 AS (
  SELECT sub, cid, d.dim AS dim,
         CAST(round(v[d.dim] * {SCALE}, 0) AS BIGINT) AS xs
  FROM a1 CROSS JOIN (SELECT unnest(range(1, {PQ_SUBDIM + 1})) AS dim) d
),
m1 AS (
  SELECT sub, cid, dim,
         (CAST(sum(xs) AS DOUBLE) / {SCALE}) / count(*) AS m
  FROM e1 GROUP BY sub, cid, dim
),
c1 AS (SELECT sub, cid, list(m ORDER BY dim) AS c FROM m1 GROUP BY sub, cid),
{_pq_assign_sql('sv', 'c1', 'a2').lstrip()}
SELECT sub AS subspace, cid AS code, count(*) AS n_vectors,
       round(sum(CAST(round(dist * {SCALE}, 0) AS BIGINT))
             / {float(SCALE)}, 6) AS distortion
FROM a2 GROUP BY sub, cid
"""


# --- simplified silhouette (round-13 queue, built round 10) ----------------


def silhouette_by_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per k-means cell — the
    cluster-quality readout the k-means family lacked: kmeans_2iter
    reports size and inertia (how tight), the silhouette reports how
    SEPARATED each cell is from its nearest rival. Per vector,
    s = 1 - d1/d2 with d1/d2 the Euclidean distances to the nearest
    and second-nearest round-2 centroids (the simplified silhouette
    of Hruschka et al. — O(nK) centroid distances instead of the
    O(n^2) pairwise original, WHICH IS THE POINT at corpus scale).
    s in [0, 1] here because d1 <= d2 by construction; s ~ 0 means
    the vector sits on a cell boundary.

    Engine parity: distances are the explicit left-fold + one sqrt
    (correctly rounded); each s is quantized to int64 ppm before the
    rollup (half-up integer mean); the d2 = 0 degenerate case
    (coincident centroids) pins s = 0 on both engines.

    Scale posture (100 TB): the K-row codebook is broadcast; the
    per-vector top-2 is a map-side fold over the broadcast codebook
    (bounded work per row); the rollup is K rows. No shuffle carries
    a vector — the least-fold argmin is exchange-free, and the only
    vector-width shuffle anywhere is the centroid update's int64
    partial sums.
    """
    vecs = _vecs(spark, sf_dir)
    c0 = vecs.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    a1 = _assign(vecs, c0)
    c1 = _update(a1)
    scored = vecs.crossJoin(F.broadcast(c1)).select(
        "vec_id",
        "cid",
        F.sqrt(_sqdist(F.col("v"), F.col("c"))).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    top2 = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("cluster_id"),
            F.max(F.when(F.col("rn") == 1, F.col("dist"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("dist"))).alias("d2"),
        )
    )
    s_ppm = F.when(F.col("d2") == 0, F.lit(0).cast("long")).otherwise(
        F.round((F.lit(1.0) - F.col("d1") / F.col("d2")) * 1_000_000, 0)
        .cast("long")
    )
    return (
        top2.withColumn("_s", s_ppm)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.expr(
                "(2 * sum(_s) + count(1)) div (2 * count(1))"
            ).alias("mean_silhouette_ppm"),
            F.min("_s").alias("min_silhouette_ppm"),
        )
    )


SILHOUETTE_SQL = f"""
WITH {_VECS_SQL},
c0 AS (SELECT vec_id AS cid, v AS c FROM v WHERE vec_id < {K}),
{_assign_sql('v', 'c0', 'a1').lstrip()},
e1 AS (
  SELECT cid, d.dim AS dim,
         CAST(round(v[d.dim] * {SCALE}, 0) AS BIGINT) AS xs
  FROM a1 CROSS JOIN (SELECT unnest(range(1, {DIM + 1})) AS dim) d
),
m1 AS (
  SELECT cid, dim, (CAST(sum(xs) AS DOUBLE) / {SCALE}) / count(*) AS m
  FROM e1 GROUP BY cid, dim
),
c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM m1 GROUP BY cid),
scored AS (
  SELECT v.vec_id, c1.cid,
         sqrt({_SQDIST_SQL.format(a='v.v', b='c1.c')}) AS dist
  FROM v CROSS JOIN c1
),
top2 AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cid END) AS cluster_id,
         max(CASE WHEN rn = 1 THEN dist END) AS d1,
         max(CASE WHEN rn = 2 THEN dist END) AS d2
  FROM (
    SELECT vec_id, cid, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM scored
  ) WHERE rn <= 2
  GROUP BY vec_id
),
sil AS (
  SELECT cluster_id,
         CASE WHEN d2 = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(round((1.0 - d1 / d2) * 1000000, 0) AS BIGINT)
         END AS _s
  FROM top2
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST((2 * sum(_s) + count(*)) // (2 * count(*)) AS BIGINT)
         AS mean_silhouette_ppm,
       CAST(min(_s) AS BIGINT) AS min_silhouette_ppm
FROM sil GROUP BY cluster_id
"""


# --- grid-bucketed DBSCAN core-point census ------------------------------

DBSCAN_EPS_MICRO = 150_000  # L-inf radius, micro units (0.15)
DBSCAN_MIN_PTS = 4  # neighbors within eps (self included) to be core


def dbscan_core_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core-point census over the first two embedding
    dimensions, per label — the density diagnostic the clustering
    tier was missing: k-means (kmeans_2iter) fits spherical cells
    around means whether or not the data has density structure;
    counting DBSCAN CORE points (>= minPts neighbors within eps)
    answers "does this label's slice actually form dense clumps, and
    what fraction of it is noise" before anyone trusts a clustering.

    Exactness contract: coordinates are micro-quantized int64 once
    (round(x*1e6) — the embedding_quantize convention); the
    neighborhood is the L-INFINITY ball (|dx|<=eps AND |dy|<=eps),
    which needs no sqrt and keeps every comparison pure-integer.
    Candidate pairs come from the standard grid trick: bucket by
    eps-sized cells, explode each point to its 3x3 neighbor cells on
    the probe side, join on the cell key, then apply the exact ball
    test — exhaustive (every true neighbor lies in an adjacent cell)
    and never all-pairs. Self counts as its own neighbor; core iff
    n_neighbors >= 4.

    Scale posture (100 TB): the join fans out 9x on the probe side
    and is keyed on grid cells, so the exchange is (cell)-hashed and
    the quadratic term is fenced inside each 3x3 neighborhood (the
    semdedup cell-fencing posture — eps choice bounds occupancy;
    shrink eps or add a per-cell cap for pathological densities).
    Per-point neighbor counts ride one groupBy on vec_id; the rollup
    is one row per label.
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id",
        "label",
        F.expr(
            "CAST(round(embedding[0] * 1000000, 0) AS BIGINT)"
        ).alias("_x"),
        F.expr(
            "CAST(round(embedding[1] * 1000000, 0) AS BIGINT)"
        ).alias("_y"),
    )
    eps = DBSCAN_EPS_MICRO
    pts = emb.select(
        "vec_id",
        "label",
        "_x",
        "_y",
        # plain truncating division on BOTH engines (Spark div and
        # DuckDB BIGINT // both truncate toward zero — verified, the
        # "DuckDB floors" rule is about float/HUGEINT paths): the
        # origin cell is double-wide, which keeps exhaustiveness
        # (index steps sit at multiples of eps, >= eps apart, so an
        # eps-ball spans at most adjacent indices) and costs only a
        # slightly denser center cell.
        F.expr(f"_x div {eps}").alias("_cx"),
        F.expr(f"_y div {eps}").alias("_cy"),
    )
    probe = pts.select(
        F.col("vec_id").alias("_qid"),
        F.col("_x").alias("_qx"),
        F.col("_y").alias("_qy"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                " struct(_cx + dx AS cx, _cy + dy AS cy))))"
            )
        ).alias("_c"),
    ).select(
        "_qid",
        "_qx",
        "_qy",
        F.col("_c.cx").alias("_cx"),
        F.col("_c.cy").alias("_cy"),
    )
    hits = (
        probe.join(
            pts.select("_cx", "_cy", "_x", "_y"), ["_cx", "_cy"]
        )
        .filter(
            (F.abs(F.col("_qx") - F.col("_x")) <= eps)
            & (F.abs(F.col("_qy") - F.col("_y")) <= eps)
        )
        .groupBy("_qid")
        .agg(F.count(F.lit(1)).alias("_nn"))
    )
    per_point = pts.join(
        hits, pts["vec_id"] == hits["_qid"], "left"
    ).select(
        "label",
        F.coalesce("_nn", F.lit(0).cast("long")).alias("_nn"),
    )
    return per_point.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(
            F.when(F.col("_nn") >= DBSCAN_MIN_PTS, 1).otherwise(0)
        ).alias("n_core"),
        F.expr(
            f"CAST((1000000 * sum(CASE WHEN _nn >= {DBSCAN_MIN_PTS}"
            " THEN 1 ELSE 0 END)) div count(*) AS BIGINT)"
        ).alias("core_ppm"),
    )


DBSCAN_CORE_SQL = f"""
WITH emb AS (
  SELECT vec_id, label,
         CAST(round(embedding[1] * 1000000, 0) AS BIGINT) AS _x,
         CAST(round(embedding[2] * 1000000, 0) AS BIGINT) AS _y
  FROM embeddings
),
pts AS (
  SELECT vec_id, label, _x, _y,
         _x // {DBSCAN_EPS_MICRO} AS _cx,
         _y // {DBSCAN_EPS_MICRO} AS _cy
  FROM emb
),
probe AS (
  SELECT vec_id AS _qid, _x AS _qx, _y AS _qy,
         _cx + dx.dx AS _cx, _cy + dy.dy AS _cy
  FROM pts,
       (SELECT unnest([-1, 0, 1]) AS dx) dx,
       (SELECT unnest([-1, 0, 1]) AS dy) dy
),
hits AS (
  SELECT p._qid, CAST(count(*) AS BIGINT) AS _nn
  FROM probe p JOIN pts t ON p._cx = t._cx AND p._cy = t._cy
  WHERE abs(p._qx - t._x) <= {DBSCAN_EPS_MICRO}
    AND abs(p._qy - t._y) <= {DBSCAN_EPS_MICRO}
  GROUP BY p._qid
),
per_point AS (
  SELECT pts.label, coalesce(h._nn, 0) AS _nn
  FROM pts LEFT JOIN hits h ON pts.vec_id = h._qid
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CASE WHEN _nn >= {DBSCAN_MIN_PTS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_core,
       CAST((1000000 * sum(CASE WHEN _nn >= {DBSCAN_MIN_PTS}
             THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS core_ppm
FROM per_point GROUP BY label
"""
