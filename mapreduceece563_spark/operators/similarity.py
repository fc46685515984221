"""Similarity search over the embeddings table (array<float>, dim 64).

* brute-force cosine top-k — the exactness baseline: broadcast the
  (small) query set against all candidates; dot products via native
  ``zip_with``/``aggregate`` higher-order functions (JVM-side, no
  Python round-trip);
* sign-LSH bucketed pair search — the scale path: bucket vectors by
  the sign pattern of a fixed dimension subset, self-join only within
  buckets (1/256 of the cross product for 8 bits), then score. At
  100 TB you'd add multiple hash tables for recall; the plan shape
  (bucket -> co-partitioned self-join) is the part that matters;
* per-label centroids — vector unnest + exact fixed-point mean.

Float determinism: all arithmetic is double-precision with an
explicit left-fold (``F.aggregate`` / DuckDB ``list_reduce``), so
Spark and the oracle compute bit-identical cosines — ordering and
thresholding can't diverge. Centroid sums use scaled int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cachemgr import per_session, stage
from ..sources.catalog import load_table

N_QUERIES = 10          # vec_id < 10 are the kNN query vectors
TOP_K = 5
SIM_THRESHOLD = 0.4     # pair-search cosine cutoff (max observed ~0.51)
LSH_SIGN_DIMS = (1, 9, 17, 25, 33, 41, 49, 57)  # 1-based dims for sign bits


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


_DOT_SQL = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), "
    "(acc, x) -> acc + x)"
)


def _norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    v = _to_double(F.col("embedding"))
    return emb.select(
        "vec_id", v.alias("v")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))


_NORMS_SQL = f"""
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt({_DOT_SQL.format(a='v', b='v')}) AS nrm FROM e
)"""


def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is tiny and broadcast; the candidate scan streams.
    Ranking happens per-query (window partitioned by query_id) on the
    raw double cosine, ties broken by neighbor_id."""
    n = _norms(spark, sf_dir)
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    pairs = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id",
            F.round(F.col("_cos"), 6).alias("cosine"), "knn_rank",
        )
    )


KNN_SQL = f"""
WITH {_NORMS_SQL.lstrip()},
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DOT_SQL.format(a='q.v', b='c.v')} / (q.nrm * c.nrm) AS _cos
  FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, _cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY _cos DESC, neighbor_id ASC) AS knn_rank
  FROM pairs
)
SELECT query_id, neighbor_id, round(_cos, 6) AS cosine, knn_rank
FROM ranked WHERE knn_rank <= {TOP_K}
"""


def embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate similar-pair search via sign-bit LSH buckets.

    Bucket key = sign pattern of 8 fixed dimensions; the self-join
    runs within buckets only (expected 1/2^8 of all pairs meet), then
    exact cosine filters. This is the 100 TB plan shape for near-dup
    detection over embeddings: shuffle once on the bucket key, never
    materialize the cross product."""
    n = _norms(spark, sf_dir)
    bucket = F.concat_ws(
        "",
        *[
            F.when(F.element_at(F.col("v"), d) >= 0, F.lit("1")).otherwise("0")
            for d in LSH_SIGN_DIMS
        ],
    )
    # cached: both sides of the bucket self-join reference this frame
    nb = n.withColumn("bucket", bucket).transform(stage)
    a, b = nb.alias("a"), nb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        (
            _dot(F.col("a.v"), F.col("b.v"))
            / (F.col("a.nrm") * F.col("b.nrm"))
        ).alias("_cos"),
    )
    return pairs.filter(F.col("_cos") >= SIM_THRESHOLD).select(
        "vec_a", "vec_b", F.round(F.col("_cos"), 6).alias("cosine")
    )


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN v[{d}] >= 0 THEN '1' ELSE '0' END)" for d in LSH_SIGN_DIMS
)

SIMILAR_PAIRS_SQL = f"""
WITH {_NORMS_SQL.lstrip()},
nb AS (SELECT vec_id, v, nrm, {_BUCKET_SQL} AS bucket FROM n),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_DOT_SQL.format(a='a.v', b='b.v')} / (a.nrm * b.nrm) AS _cos
  FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(_cos, 6) AS cosine
FROM pairs WHERE _cos >= {SIM_THRESHOLD}
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dim).

    Sums use scaled int64 (x * 1e6 rounded) so the distributed sum is
    exact and order-independent; the mean divides once at the end."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select("label", "embedding")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000, 0).cast("long").alias("_xs"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(F.sum("_xs").alias("_s"), F.count("*").alias("n_vectors"))
        .select(
            "label", "dim",
            ((F.col("_s") / 1_000_000.0) / F.col("n_vectors")).alias("centroid"),
            "n_vectors",
        )
    )


CENTROIDS_SQL = """
WITH exploded AS (
  SELECT label, d.dim AS dim,
         CAST(round(CAST(embedding[d.dim] AS DOUBLE) * 1000000, 0) AS BIGINT) AS _xs
  FROM embeddings
  CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d
)
SELECT label, dim, (sum(_xs) / 1000000.0) / count(*) AS centroid,
       count(*) AS n_vectors
FROM exploded GROUP BY label, dim
"""


# --- IVF-style ANN ----------------------------------------------------

IVF_NPROBE = 2


def ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-file ANN: coarse-quantize the corpus by label centroid
    (the label column stands in for a k-means cell assignment), probe
    the IVF_NPROBE nearest cells per query, exact-search only those.

    This is the scale path for similarity search: the expensive exact
    scoring touches ~nprobe/ncells of the corpus instead of all of it,
    and every stage is a join/groupBy on small keys. Centroids are
    exact fixed-point means so both engines build identical cells."""
    n = _norms(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label"
    )
    nl = n.join(emb, "vec_id")

    # centroid per label as an ordered double array (exact cents-style
    # fixed-point means, assembled in dim order)
    cent_rows = (
        nl.select("label", F.posexplode("v").alias("pos", "x"))
        .select(
            "label", "pos",
            F.round(F.col("x") * 1_000_000, 0).cast("long").alias("_xs"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("_xs").alias("_s"), F.count("*").alias("_n"))
        .select(
            "label", "pos",
            ((F.col("_s") / 1_000_000.0) / F.col("_n")).alias("cval"),
        )
    )
    centroids = (
        cent_rows.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
        .withColumn("cnrm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    )

    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("_ccos"), F.asc("label")
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id", "qv", "qn", "label",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cnrm"))).alias("_ccos"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= IVF_NPROBE)
        .select("query_id", "qv", "qn", "label")
    )

    cand = nl.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv2"),
        F.col("nrm").alias("cn"), "label",
    )
    scored = probes.join(cand, "label").filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id", "neighbor_id",
        (_dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn"))).alias("_cos"),
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("ann_rank", F.row_number().over(rank_w))
        .filter(F.col("ann_rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id",
            F.round(F.col("_cos"), 6).alias("cosine"), "ann_rank",
        )
    )


IVF_ANN_SQL = f"""
WITH {_NORMS_SQL.lstrip()},
nl AS (
  SELECT n.vec_id, n.v, n.nrm, e.label
  FROM n JOIN embeddings e ON n.vec_id = e.vec_id
),
cent_rows AS (
  SELECT label, d.pos AS pos,
         (sum(CAST(round(v[d.pos] * 1000000, 0) AS BIGINT)) / 1000000.0)
           / count(*) AS cval
  FROM nl CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) d
  GROUP BY label, d.pos
),
centroids AS (
  SELECT label, list(cval ORDER BY pos) AS cv FROM cent_rows GROUP BY label
),
centroids_n AS (
  SELECT label, cv, sqrt({_DOT_SQL.format(a='cv', b='cv')}) AS cnrm
  FROM centroids
),
q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
  WHERE vec_id < {N_QUERIES}
),
probes AS (
  SELECT query_id, qv, qn, label FROM (
    SELECT q.query_id, q.qv, q.qn, c.label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_DOT_SQL.format(a='q.qv', b='c.cv')} / (q.qn * c.cnrm) DESC,
                      c.label ASC) AS _pr
    FROM q CROSS JOIN centroids_n c
  ) WHERE _pr <= {IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {_DOT_SQL.format(a='p.qv', b='c.v')} / (p.qn * c.nrm) AS _cos
  FROM probes p JOIN nl c ON p.label = c.label
  WHERE c.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, _cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY _cos DESC, neighbor_id ASC) AS ann_rank
  FROM scored
)
SELECT query_id, neighbor_id, round(_cos, 6) AS cosine, ann_rank
FROM ranked WHERE ann_rank <= {TOP_K}
"""


# --- embedding-cosine near-dup dedup ---------------------------------

def dedup_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup summary: a vector is DROPPED
    when some smaller-id vector in its LSH sign bucket has cosine >=
    the threshold (greedy keep-lowest-id, the standard near-dup
    policy). One row: totals.

    Scale shape: identical to embedding_similar_pairs (bucketed
    self-join, never the cross product) plus a tiny distinct on the
    victim side."""
    pairs = embedding_similar_pairs(spark, sf_dir)
    victims = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    total = load_table(spark, sf_dir, "embeddings").select("vec_id")
    n_total = total.agg(F.count("*").alias("n_total"))
    n_dropped = victims.agg(F.count("*").alias("n_dropped"))
    return (
        n_total.crossJoin(n_dropped)
        .select(
            "n_total",
            "n_dropped",
            (F.col("n_total") - F.col("n_dropped")).alias("n_survivors"),
        )
    )


DEDUP_EMBEDDING_SQL = f"""
WITH pairs AS ({SIMILAR_PAIRS_SQL}),
victims AS (SELECT DISTINCT vec_b AS vec_id FROM pairs),
t AS (SELECT count(*) AS n_total FROM embeddings),
d AS (SELECT count(*) AS n_dropped FROM victims)
SELECT n_total, n_dropped, n_total - n_dropped AS n_survivors
FROM t CROSS JOIN d
"""


# --- Arrow-vectorized kNN (pandas path) ------------------------------

def knn_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-k as knn_brute_force, scored through the Arrow
    path: mapInPandas batches the joined (query x candidate) rows into
    numpy matrices. The dot product is an explicit LEFT FOLD over the
    dimension axis (vectorized across rows, sequential across dims) so
    it is bit-identical to the native `F.aggregate` fold and to the
    oracle — the demonstration that Python scoring can stay exact.

    Round-8 prune (VERDICT r7 #5): the Q x N candidate pairs are
    ranked NATIVELY first (the same fold, inside whole-stage codegen
    where an O(Q x N) scan belongs) and only the exact per-query
    top-k winner set — Q x K rows — crosses the Arrow boundary for
    re-scoring. Because the native and Arrow folds are bit-identical,
    the pruned set IS the exact answer set at every scale factor (not
    merely fixture-exact, unlike an IVF-cell prefilter, whose recall
    at nprobe=2 is not 1.0 by construction); the Arrow stage then
    reproduces the same cosines and ranks. This keeps the API-
    coverage purpose while cutting the serialized volume from
    Q x N x dim doubles to Q x K x dim.

    When to prefer this shape at scale: scoring logic too gnarly for
    native expressions (learned rerankers, custom metrics) — prune
    with the cheap native score, re-score survivors in Python; the
    cost is one Arrow serialization each way over the PRUNED set,
    ~10-100x cheaper than row-at-a-time Python UDFs."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    n = _norms(spark, sf_dir)
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    native_w = Window.partitionBy("query_id").orderBy(
        F.desc("_ncos"), F.asc("neighbor_id")
    )
    pairs = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "_ncos",
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
        .withColumn("_nr", F.row_number().over(native_w))
        .filter(F.col("_nr") <= TOP_K)
        .drop("_ncos", "_nr")
    )

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            a = np.vstack(pdf["qv"].to_numpy())
            b = np.vstack(pdf["cv"].to_numpy())
            acc = np.zeros(len(pdf), dtype="float64")
            for d in range(a.shape[1]):  # left fold over dims == F.aggregate
                acc = acc + a[:, d] * b[:, d]
            cos = acc / (pdf["qn"].to_numpy() * pdf["cn"].to_numpy())
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "_cos": cos,
                }
            )

    import pyspark.sql.types as T

    scored = pairs.mapInPandas(
        _score,
        schema=T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("neighbor_id", T.LongType()),
                T.StructField("_cos", T.DoubleType()),
            ]
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id",
            F.round(F.col("_cos"), 6).alias("cosine"), "knn_rank",
        )
    )


KNN_PANDAS_SQL = KNN_SQL  # identical semantics, different physical path


# --- covariance / gram matrix ----------------------------------------

COV_SCALE = 1000000  # fixed-point quantization per coordinate
EMB_DIM = 64


# --- shared masked-numpy gram pass (r13 optimization) -----------------
#
# The covariance / power-iteration gram used to run as a d^2 struct
# explode per row (2,145 structs each) through a hash aggregate —
# ~4.3M generated rows at sf0.1 for 2,000 vectors, pure map-side CPU.
# Guide §4.2: hand whole Arrow batches to numpy instead. Each task
# emits ONE d(d+1)/2 + d + 1 partial-sum batch (gram upper triangle,
# per-dim sums as j = -1 marker cells, row count as the (-1, -1)
# cell), so the shuffle is O(batches * d^2) — identical to the
# explode plan's partial-aggregate shuffle — and the per-row work is
# a BLAS int64 matmul. NULL semantics replicate the explode exactly:
# NULL elements are masked to 0 and a cell whose (i, j) pair had no
# non-NULL contribution in the batch emits a NULL partial, so
# Spark's NULL-skipping sum yields NULL iff the explode's sum did;
# the count cell counts every row including NULL/empty arrays
# (matching rows.agg(count(*))); ragged arrays contribute exactly
# the cells their length covers. Integer sums are order-free, so
# results are bit-identical to the explode plan and the oracle.

_GRAM_SCHEMA = "i long, j long, p long"


def _gram_partial_batches(it):
    import numpy as np
    import pyarrow as pa

    for batch in it:
        col = batch.column(0)
        n = len(col)
        if n == 0:
            continue
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lens = (offs[1:] - offs[:-1]) * valid
        d = int(lens.max()) if n else 0
        flat = col.flatten()
        if (
            d > 0
            and bool(valid.all())
            and bool((lens == d).all())
            and flat.null_count == 0
            and len(flat) == n * d
        ):
            X0 = (
                flat.to_numpy(zero_copy_only=False)
                .astype(np.int64)
                .reshape(n, d)
            )
            M = np.ones((n, d), np.int64)
        else:
            rows_py = col.to_pylist()
            d = max(
                (len(r) for r in rows_py if r is not None), default=0
            )
            X0 = np.zeros((n, d), np.int64)
            M = np.zeros((n, d), np.int64)
            for r, lst in enumerate(rows_py):
                if lst is None:
                    continue
                for c_, v in enumerate(lst):
                    if v is not None:
                        X0[r, c_] = v
                        M[r, c_] = 1
        if d > 0:
            G = X0.T @ X0
            C = M.T @ M
            S = X0.sum(axis=0)
            SC = M.sum(axis=0)
            iu, ju = np.triu_indices(d)
            i_out = np.concatenate([iu, np.arange(d), [-1]]).astype(np.int64)
            j_out = np.concatenate(
                [ju, np.full(d, -1), [-1]]
            ).astype(np.int64)
            p_out = np.concatenate([G[iu, ju], S, [n]]).astype(np.int64)
            nulls = ~np.concatenate(
                [C[iu, ju] > 0, SC > 0, [True]]
            )
        else:
            i_out = np.array([-1], np.int64)
            j_out = np.array([-1], np.int64)
            p_out = np.array([n], np.int64)
            nulls = np.array([False])
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(i_out, pa.int64()),
                pa.array(j_out, pa.int64()),
                pa.array(p_out, pa.int64(), mask=nulls),
            ],
            names=["i", "j", "p"],
        )


def gram_marker_sums(rows: DataFrame) -> DataFrame:
    """Totals over the marker partials of ``rows`` (one ``q``
    array<long> column): gram cells (i <= j), per-dim sums (j = -1),
    and the row count ((-1, -1))."""
    part = rows.select("q").mapInArrow(_gram_partial_batches, _GRAM_SCHEMA)
    return part.groupBy("i", "j").agg(F.sum("p").alias("s_ij"))


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle empirical covariance matrix of the embedding
    coordinates — the gram-matrix pass under PCA/whitening.

    Coordinates quantize once to int64 (COV_SCALE fixed-point); every
    pairwise product and marginal sum is exact integer math, and the
    float covariance is assembled from the final integers with the
    identical expression in both engines. Shape: the d² cell explosion
    is map-side CPU, but HashAggregate's partial pass means each map
    task ships at most d(d+1)/2 = 2080 partial rows — the shuffle is
    O(tasks · d²), independent of row count. At much larger d, swap
    the explode for a per-partition numpy gram in mapInPandas; the
    partial-sum-then-merge shape is unchanged."""
    # spread=False (r13): the heavy per-row work now happens in the
    # numpy gram pass, so the pre-repartition bought nothing and cost
    # a keyless shuffle (guide §2.4); at scale the scan has natural
    # parallelism.
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * COV_SCALE, 0).cast("long"),
    )
    rows = emb.select(quant.alias("q"))
    g = gram_marker_sums(rows)
    s_ij = g.filter(F.col("j") >= 0)
    means = g.filter((F.col("j") == -1) & (F.col("i") >= 0)).select(
        "i", F.col("s_ij").alias("s")
    )
    nn = g.filter(F.col("i") == -1).select(F.col("s_ij").alias("n"))
    a = means.select("i", F.col("s").alias("s_i"))
    b = means.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    scale2 = float(COV_SCALE) * float(COV_SCALE)
    return (
        s_ij.join(F.broadcast(a), "i")
        .join(F.broadcast(b), "j")
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            F.round(
                (
                    F.col("s_ij") / F.col("n")
                    - (F.col("s_i") / F.col("n")) * (F.col("s_j") / F.col("n"))
                )
                / scale2,
                9,
            ).alias("cov"),
        )
    )


EMBEDDING_COVARIANCE_SQL = f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {COV_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
cells AS (
  SELECT ii.i AS i, jj.j AS j,
         CAST(sum(q.q[ii.i + 1] * q.q[jj.j + 1]) AS BIGINT) AS s_ij
  FROM q, range(0, {EMB_DIM}) ii(i), range(0, {EMB_DIM}) jj(j)
  WHERE ii.i <= jj.j
  GROUP BY ii.i, jj.j
),
means AS (
  SELECT ii.i AS i, CAST(sum(q.q[ii.i + 1]) AS BIGINT) AS s
  FROM q, range(0, {EMB_DIM}) ii(i)
  GROUP BY ii.i
),
nn AS (SELECT count(*) AS n FROM q)
SELECT c.i, c.j,
       round((CAST(s_ij AS DOUBLE) / n
              - (CAST(a.s AS DOUBLE) / n) * (CAST(b.s AS DOUBLE) / n))
             / ({COV_SCALE}.0 * {COV_SCALE}.0), 9) AS cov
FROM cells c
JOIN means a ON a.i = c.i
JOIN means b ON b.i = c.j
CROSS JOIN nn
"""


# --- PCA leading direction via power iteration ------------------------
# Two fixed power-iteration steps over the (un-normalized, integer)
# scatter matrix M = n*S - s s^T, from the all-ones start vector —
# enough to certify the whole distributed pipeline (gram pass, matrix
# mirror, matrix-vector product, normalization) with a deterministic,
# engine-exact integer result. PCA_SCALE is deliberately smaller than
# COV_SCALE: every intermediate must fit int64 on the Spark side
# because DuckDB would RAISE on the same overflow Spark silently
# wraps (the basket_brand_lift lesson). Bounds at this scale
# (|coord| < 1, d = 64): |M| <= 2n²·PCA_SCALE², so n up to ~10^6
# vectors stays under 2^63 through every product below.

PCA_SCALE = 1000

# x, m >= |x|  ->  sign-correct milli-unit ratio (1000*x) div m, with
# a pre-scale branch so the 1000x numerator can't overflow when m (and
# hence x) is large. Spark `div` and DuckDB `//` both truncate toward
# zero, so one expression serves both engines verbatim.
def _ratio_milli(x: str, m: str, div: str) -> str:
    return (
        f"CASE WHEN ({m}) >= 1000000 THEN "
        f"(1000 * (({x}) {div} 1000)) {div} (({m}) {div} 1000) "
        f"ELSE (1000 * ({x})) {div} ({m}) END"
    )


def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal direction of the embedding cloud after two
    power-iteration steps: v1 = M·1, v2 = M·norm(v1), each normalized
    to +/-1000 milli-units by its max absolute component.

    Everything after the quantized gram pass is integer arithmetic on
    d- and d²-sized frames: the scatter matrix M = n·S - s·sᵀ is
    assembled from the same partial-aggregated integer sums as
    embedding_covariance (per-task shuffle volume O(tasks·d²),
    independent of n), mirrored from its upper triangle with a union,
    and both matrix-vector products are a broadcast join on the tiny
    vector side + groupBy(i). No collect, no float until nothing is
    left to diverge (there is none: outputs are int64 milli-units)."""
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * PCA_SCALE, 0).cast("long"),
    )
    rows = emb.select(quant.alias("q"))
    # ONE masked-numpy Arrow gram pass (gram_marker_sums above)
    # produces the gram triangle, the per-dim sums AND the row count
    # in a single scan: the r13 before-plan re-ran the d^2 struct
    # explode once per downstream reference (80 parquet scans), and
    # because filters on the grouping keys pushed below the
    # aggregate, the branch subtrees canonicalized differently and
    # AQE could not reuse one exchange for them. The opaque Python
    # node blocks that pushdown, so all marker branches reuse the
    # same exchange (guide §2.4, §4.2).
    # localCheckpoint: the d^2+d+1-row marker frame feeds SIX
    # downstream references (two tri mirrors, means, count, and the
    # whole m_ij subtree twice — once per mat-vec round); eagerly
    # materializing it once turns those into block-manager reads of
    # ~4K rows (the kcore_decomposition contract, guide §5).
    g = gram_marker_sums(rows).localCheckpoint(eager=True)
    tri = g.filter(F.col("j") >= 0)
    full = tri.unionByName(
        tri.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "s_ij"
        )
    )
    means = g.filter((F.col("j") == -1) & (F.col("i") >= 0)).select(
        "i", F.col("s_ij").alias("s")
    )
    nn = g.filter(F.col("i") == -1).select(F.col("s_ij").alias("n"))
    m_ij = (
        full.join(
            F.broadcast(means.select("i", F.col("s").alias("s_i"))), "i"
        )
        .join(
            F.broadcast(
                means.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "i", "j", (F.col("n") * F.col("s_ij") - F.col("s_i") * F.col("s_j")).alias("m")
        )
    )
    # The +/-1000 normalizations run as unpartitioned window maxima
    # over the d-row vectors instead of agg + crossJoin(broadcast):
    # each broadcast was its own job (~0.1 s of fixed latency apiece
    # at any scale); a single-partition window over 64 rows is one
    # exchange of 64 rows (r13, guide §2.4).
    wall = Window.partitionBy()
    u = m_ij.groupBy("i").agg(F.sum("m").alias("u"))
    w = (
        u.withColumn("m1", F.max(F.abs(F.col("u"))).over(wall))
        .select("i", F.expr(_ratio_milli("u", "m1", "div")).alias("w"))
    )
    v2 = (
        m_ij.join(
            F.broadcast(w.select(F.col("i").alias("j"), "w")), "j"
        )
        .groupBy("i")
        .agg(F.sum(F.col("m") * F.col("w")).alias("v2"))
    )
    out = (
        w.join(v2, "i")
        .withColumn("m2", F.max(F.abs(F.col("v2"))).over(wall))
        .select(
            "i",
            F.col("w").cast("long").alias("dir1"),
            F.expr(_ratio_milli("v2", "m2", "div")).cast("long").alias("dir2"),
        )
    )
    return out


EMBEDDING_POWER_SQL = f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {PCA_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
tri AS (
  SELECT ii.i AS i, jj.j AS j,
         CAST(sum(q.q[ii.i + 1] * q.q[jj.j + 1]) AS BIGINT) AS s_ij
  FROM q, range(0, {EMB_DIM}) ii(i), range(0, {EMB_DIM}) jj(j)
  WHERE ii.i <= jj.j
  GROUP BY ii.i, jj.j
),
fullm AS (
  SELECT i, j, s_ij FROM tri
  UNION ALL
  SELECT j AS i, i AS j, s_ij FROM tri WHERE i < j
),
means AS (
  SELECT ii.i AS i, CAST(sum(q.q[ii.i + 1]) AS BIGINT) AS s
  FROM q, range(0, {EMB_DIM}) ii(i)
  GROUP BY ii.i
),
nn AS (SELECT count(*) AS n FROM q),
m_ij AS (
  SELECT f.i, f.j,
         CAST(nn.n * f.s_ij - a.s * b.s AS BIGINT) AS m
  FROM fullm f
  JOIN means a ON a.i = f.i
  JOIN means b ON b.i = f.j
  CROSS JOIN nn
),
u AS (SELECT i, CAST(sum(m) AS BIGINT) AS u FROM m_ij GROUP BY i),
m1 AS (SELECT CAST(max(abs(u)) AS BIGINT) AS m1 FROM u),
w AS (
  SELECT i, CAST({_ratio_milli('u', 'm1', '//')} AS BIGINT) AS w
  FROM u CROSS JOIN m1
),
v2 AS (
  SELECT m_ij.i, CAST(sum(m_ij.m * w.w) AS BIGINT) AS v2
  FROM m_ij JOIN w ON w.i = m_ij.j
  GROUP BY m_ij.i
),
m2 AS (SELECT CAST(max(abs(v2)) AS BIGINT) AS m2 FROM v2)
SELECT w.i, w.w AS dir1,
       CAST({_ratio_milli('v2', 'm2', '//')} AS BIGINT) AS dir2
FROM w JOIN v2 ON v2.i = w.i CROSS JOIN m2
"""


PQ_SUBSPACES = 8
PQ_SUB_DIM = 8  # 64 dims / 8 subspaces
PQ_CODES = 16
PQ_ERR_SCALE = 1_000_000


def pq_codebook_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the IVF-PQ compression step): split each
    64-d embedding into 8 subvectors of 8 dims, assign every
    subvector to its nearest code from a 16-entry per-subspace
    codebook, and profile the resulting code histogram and
    quantization error per (subspace, code).

    The codebook is deterministic — the 16 lowest-vec_id embeddings
    seed it (the same fixed-seed stance as kmeans_2iter's init), so
    the oracle reproduces it exactly. Plan shape is the PQ training
    loop's inner step at any scale: the codebook is a 128-row
    BROADCAST; assignment explodes each vector into its 8 subvectors
    (fixed 8x fan-out of fixed-width rows, map-side) and probes the
    broadcast — no corpus-sized shuffle exists; the final aggregate
    is at most 8 x 16 rows. Distances are explicit left-folds of
    doubles (identical IEEE order both engines); ties break on code
    id via row_number; the error sum is int64-scaled before
    aggregation so fold order cannot drift."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "embedding"
    )
    vecs = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cb_src = (
        vecs.orderBy("vec_id")
        .limit(PQ_CODES)
        .select(
            "v",
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            ).alias("code"),
        )
    )
    sub_ids = F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))
    codebook = cb_src.select(
        "code", F.explode(sub_ids).alias("subspace"), "v"
    ).select(
        "subspace",
        "code",
        F.expr(f"slice(v, subspace * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM})").alias(
            "cvec"
        ),
    )
    svecs = vecs.select(
        "vec_id", F.explode(sub_ids).alias("subspace"), "v"
    ).select(
        "vec_id",
        "subspace",
        F.expr(f"slice(v, subspace * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM})").alias(
            "svec"
        ),
    )
    scored = svecs.join(F.broadcast(codebook), "subspace").withColumn(
        "dist",
        F.aggregate(
            F.zip_with(
                F.col("svec"), F.col("cvec"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("vec_id", "subspace").orderBy("dist", "code")
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "subspace",
            "code",
            F.round(F.col("dist") * PQ_ERR_SCALE, 0)
            .cast("long")
            .alias("_err"),
        )
    )
    return (
        best.groupBy("subspace", "code")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("_err").alias("_se"),
        )
        .select(
            "subspace",
            "code",
            "n_vectors",
            (F.col("_se") / float(PQ_ERR_SCALE)).alias("quant_error"),
        )
    )


_PQ_FOLD_SQL = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(list_zip(svec, cvec), p -> (p[1]-p[2])*(p[1]-p[2]))), "
    "(acc, x) -> acc + x)"
)

PQ_CODEBOOK_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cb_src AS (
  SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM vecs ORDER BY vec_id LIMIT {PQ_CODES}
),
subs AS (SELECT unnest(range(0, {PQ_SUBSPACES})) AS subspace),
codebook AS (
  SELECT subspace, code,
         v[subspace * {PQ_SUB_DIM} + 1 : subspace * {PQ_SUB_DIM} + {PQ_SUB_DIM}]
           AS cvec
  FROM cb_src CROSS JOIN subs
),
svecs AS (
  SELECT vec_id, subspace,
         v[subspace * {PQ_SUB_DIM} + 1 : subspace * {PQ_SUB_DIM} + {PQ_SUB_DIM}]
           AS svec
  FROM vecs CROSS JOIN subs
),
scored AS (
  SELECT s.vec_id, s.subspace, c.code, {_PQ_FOLD_SQL} AS dist
  FROM svecs s JOIN codebook c ON s.subspace = c.subspace
),
best AS (
  SELECT subspace, code,
         CAST(round(dist * {PQ_ERR_SCALE}, 0) AS BIGINT) AS err,
         row_number() OVER (PARTITION BY vec_id, subspace
                            ORDER BY dist, code) AS rn
  FROM scored
)
SELECT subspace, code, count(*) AS n_vectors,
       sum(err) / {PQ_ERR_SCALE}.0 AS quant_error
FROM best WHERE rn = 1
GROUP BY subspace, code
"""


DRIFT_SCALE = 1_000_000


def embedding_drift_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift: L2 distance between the mean
    vectors of two cohorts (even vs odd vec_id — the stand-in for
    yesterday's batch vs today's) — the cheap first-line monitor for
    an upstream encoder change or a corrupted delivery.

    One pass: posexplode each vector to (dim, half, micro-quantized
    int64), one (dim, half)-keyed aggregate (128 groups at any corpus
    size, map-side combine applies), then the 64-row mean frame pivots
    to per-dim diffs. Means are half-up integer division; the final
    sqrt runs once over an exact integer sum, so both engines see the
    identical double."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "embedding"
    )
    q = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * DRIFT_SCALE, 0).cast(
                    "long"
                ),
            )
        ).alias("dim", "qv"),
    )
    sums = q.groupBy("dim", "half").agg(
        F.sum("qv").alias("_s"), F.count("*").alias("_n")
    )
    means = sums.select(
        "dim",
        "half",
        F.expr(
            "CASE WHEN _s >= 0 THEN (2 * _s + _n) div (2 * _n)"
            " ELSE -((2 * (-_s) + _n) div (2 * _n)) END"
        ).alias("_m"),
        "_n",
    )
    wide = means.groupBy("dim").agg(
        F.max(F.when(F.col("half") == 0, F.col("_m"))).alias("_ma"),
        F.max(F.when(F.col("half") == 1, F.col("_m"))).alias("_mb"),
        F.max(F.when(F.col("half") == 0, F.col("_n"))).alias("_na"),
        F.max(F.when(F.col("half") == 1, F.col("_n"))).alias("_nb"),
    )
    return wide.agg(
        F.max("_na").alias("n_vecs_even"),
        F.max("_nb").alias("n_vecs_odd"),
        (
            F.sqrt(
                F.sum(
                    (F.col("_ma") - F.col("_mb"))
                    * (F.col("_ma") - F.col("_mb"))
                )
            )
            / DRIFT_SCALE
        ).alias("l2_mean_distance"),
    )


EMBEDDING_DRIFT_SQL = f"""
WITH q AS (
  SELECT vec_id % 2 AS half,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {DRIFT_SCALE}) AS BIGINT))
           AS qv
  FROM embeddings
),
sums AS (
  SELECT ii.i AS dim, half,
         CAST(sum(q.qv[ii.i + 1]) AS BIGINT) AS s,
         count(*) AS n
  FROM q, range(0, 64) ii(i)
  GROUP BY ii.i, half
),
means AS (
  SELECT dim, half,
         CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
              ELSE -((2 * (-s) + n) // (2 * n)) END AS m,
         n
  FROM sums
),
wide AS (
  SELECT dim,
         max(CASE WHEN half = 0 THEN m END) AS ma,
         max(CASE WHEN half = 1 THEN m END) AS mb,
         max(CASE WHEN half = 0 THEN n END) AS na,
         max(CASE WHEN half = 1 THEN n END) AS nb
  FROM means GROUP BY dim
)
SELECT CAST(max(na) AS BIGINT) AS n_vecs_even,
       CAST(max(nb) AS BIGINT) AS n_vecs_odd,
       sqrt(sum(CAST((ma - mb) * (ma - mb) AS DOUBLE)))
         / {DRIFT_SCALE} AS l2_mean_distance
FROM wide
"""


SCORE_SCALE = 1_000_000


def _linear_weights() -> list[float]:
    """Fixed deterministic 64-d weight vector (Knuth-hash spread over
    [-0.5, 0.5)) — both engines rebuild it from the same integer
    expression, so the 'model' needs no side-channel artifact."""
    return [((i * 2654435761) % 1000 - 500) / 1000.0 for i in range(64)]


def embedding_linear_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference: score every embedding with a fixed
    linear model (dot product with a deterministic weight vector) and
    profile scores per label — the shape of every embedding-based
    quality/safety classifier pass over a corpus.

    The weight vector is a 64-element broadcast LITERAL (a model of
    any size ships the same way — broadcast, never a join); the dot
    product is an explicit left-fold (identical IEEE order in both
    engines, the kmeans contract); scores quantize to int64
    micro-units BEFORE the per-label aggregate, so sums are fold-order
    free, and the mean uses the sign-aware half-up idiom. Map-only +
    one |labels|-row aggregate: nothing at corpus scale shuffles."""
    ws = _linear_weights()
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "label", "embedding"
    )
    warr = F.array(*[F.lit(w) for w in ws])
    dot = F.aggregate(
        F.zip_with(
            F.transform("embedding", lambda x: x.cast("double")),
            warr,
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.select(
        "label",
        F.round(dot * SCORE_SCALE, 0).cast("long").alias("_s"),
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("_s").alias("_sum"),
            F.min("_s").alias("_min"),
            F.max("_s").alias("_max"),
        )
        .select(
            "label",
            "n_vectors",
            (
                F.expr(
                    "CASE WHEN _sum >= 0 THEN"
                    " (2 * _sum + n_vectors) div (2 * n_vectors)"
                    " ELSE -((2 * (-_sum) + n_vectors) div (2 * n_vectors))"
                    " END"
                )
                / float(SCORE_SCALE)
            ).alias("mean_score"),
            (F.col("_min") / float(SCORE_SCALE)).alias("min_score"),
            (F.col("_max") / float(SCORE_SCALE)).alias("max_score"),
        )
    )


EMBEDDING_LINEAR_SCORES_SQL = f"""
WITH w AS (
  SELECT list_transform(range(0, 64),
           i -> ((i * 2654435761) % 1000 - 500) / 1000.0) AS ws
),
scored AS (
  SELECT label,
         CAST(round(list_reduce(list_prepend(0.0,
             list_transform(
               list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                        w.ws),
               p -> p[1] * p[2])),
             (acc, x) -> acc + x) * {SCORE_SCALE}) AS BIGINT) AS s
  FROM embeddings CROSS JOIN w
)
SELECT label, count(*) AS n_vectors,
       (CASE WHEN sum(s) >= 0
             THEN (2 * sum(s) + count(*)) // (2 * count(*))
             ELSE -((2 * (-sum(s)) + count(*)) // (2 * count(*))) END)
         / {SCORE_SCALE}.0 AS mean_score,
       min(s) / {SCORE_SCALE}.0 AS min_score,
       max(s) / {SCORE_SCALE}.0 AS max_score
FROM scored GROUP BY label
"""


# --- IVF tuning loop ---------------------------------------------------

RECALL_NPROBES = (1, 2, 3)
RECALL_SCALE = 1_000_000


def _ivf_tuning_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared scaffold for the IVF tuning loop (recall AND rank
    quality): returns (gt, ann, nprobes) where gt is the exact
    brute-force top-k per query, ann the IVF result list per
    (nprobe, query) WITH its rank column `_rk`, and nprobes the tiny
    probe-budget frame. gt/ann are persisted once per (session,
    sf_dir); nprobes is a literal frame, rebuilt per call."""
    gt, ann = _ivf_gt_ann(spark, sf_dir)
    return gt, ann, _nprobes_frame(spark)


def _nprobes_frame(spark: SparkSession) -> DataFrame:
    return spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in RECALL_NPROBES])).alias(
            "nprobe"
        )
    )


# The (gt, ann) scaffold frames, built once per (session, sf_dir).
# THREE entries (ivf_recall_tuning, ann_rank_quality, mrr_at_k)
# derive their metric rollups from the identical brute-force ground
# truth + probed IVF result list; each used to rebuild both (14
# parquet scans apiece in the r13 before-plans, ~1.6 s per entry
# isolated). Same contract as dedup.doc_shingle_hashes: intermediate
# frames (pre-metric, per-(query, neighbor) rank rows — not any
# registered result), recomputed from parquet in every fresh process.
@per_session
def _ivf_gt_ann(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    n = _norms(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label"
    )
    nl = n.join(emb, "vec_id")

    # exact ground truth: brute-force top-k ids per query
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cand_all = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    gt_w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    gt = (
        cand_all.join(
            F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn"))
            ).alias("_cos"),
        )
        .withColumn("_rk", F.row_number().over(gt_w))
        .filter(F.col("_rk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )

    # IVF cells = label-mean centroids (the ivf_ann coarse quantizer);
    # rank cells per query once, expand per probe budget, score only
    # the probed cells' members.
    cent_rows = (
        nl.select("label", F.posexplode("v").alias("pos", "x"))
        .select(
            "label",
            "pos",
            F.round(F.col("x") * 1_000_000, 0).cast("long").alias("_xs"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("_xs").alias("_s"), F.count("*").alias("_n"))
        .select(
            "label",
            "pos",
            ((F.col("_s") / 1_000_000.0) / F.col("_n")).alias("cval"),
        )
    )
    centroids = (
        cent_rows.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
        .withColumn("cnrm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    )
    cell_w = Window.partitionBy("query_id").orderBy(
        F.desc("_ccos"), F.asc("label")
    )
    max_probe = max(RECALL_NPROBES)
    cells = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "qv",
            "qn",
            "label",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cnrm"))
            ).alias("_ccos"),
        )
        .withColumn("_pr", F.row_number().over(cell_w))
        .filter(F.col("_pr") <= max_probe)
        .select("query_id", "qv", "qn", "label", "_pr")
    )
    members = nl.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv2"),
        F.col("nrm").alias("cn"),
        "label",
    )
    scored = (
        cells.join(members, "label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "_pr",
            (
                _dot(F.col("qv"), F.col("cv2"))
                / (F.col("qn") * F.col("cn"))
            ).alias("_cos"),
        )
    )
    nprobes = _nprobes_frame(spark)
    per_probe_w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    ann = (
        scored.join(
            F.broadcast(nprobes), F.col("_pr") <= F.col("nprobe")
        )
        .withColumn("_rk", F.row_number().over(per_probe_w))
        .filter(F.col("_rk") <= TOP_K)
        .select("nprobe", "query_id", "neighbor_id", "_rk")
    )
    return stage(gt), stage(ann)


def ivf_recall_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index versus the exact brute-force top-k,
    for each probe budget — the tuning loop you run BEFORE deploying
    an ANN index (the lsh_precision/lsh_recall analogue for the IVF
    tier). Returns one row per nprobe with the measured recall.

    Scale posture (100 TB): the ground truth is computed once for the
    tiny query set (broadcast queries x corpus scan); the IVF side
    scores only probed cells, and the per-nprobe expansion happens on
    the CELL RANKING (queries x cells x |nprobes| rows), never on the
    corpus. Recall is an exact integer hit count divided once at the
    end, so both engines agree bit-for-bit.
    """
    gt, ann, nprobes = _ivf_tuning_frames(spark, sf_dir)
    hits = ann.join(gt, ["query_id", "neighbor_id"]).groupBy(
        "nprobe"
    ).agg(F.count("*").alias("n_hits"))
    denom = N_QUERIES * TOP_K
    # broadcast the RIGHT side: a left-outer join can only build its
    # probe-preserving side's opposite (build-left is unsupported and
    # Spark logs a hint warning)
    return (
        nprobes.join(F.broadcast(hits), "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.lit(float(denom))
            ).alias("recall_at_k"),
        )
    )


_RECALL_PROBES_SQL = ", ".join(str(p) for p in RECALL_NPROBES)

IVF_RECALL_SQL = f"""
WITH {_NORMS_SQL.lstrip()},
nl AS (
  SELECT n.vec_id, n.v, n.nrm, e.label
  FROM n JOIN embeddings e ON n.vec_id = e.vec_id
),
q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
  WHERE vec_id < {N_QUERIES}
),
gt AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_DOT_SQL.format(a='q.qv', b='c.v')} / (q.qn * c.nrm)
                        DESC,
                      c.vec_id ASC) AS _rk
    FROM q CROSS JOIN n c WHERE c.vec_id <> q.query_id
  ) WHERE _rk <= {TOP_K}
),
cent_rows AS (
  SELECT label, d.pos AS pos,
         (sum(CAST(round(v[d.pos] * 1000000, 0) AS BIGINT)) / 1000000.0)
           / count(*) AS cval
  FROM nl CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) d
  GROUP BY label, d.pos
),
centroids AS (
  SELECT label, list(cval ORDER BY pos) AS cv FROM cent_rows GROUP BY label
),
centroids_n AS (
  SELECT label, cv, sqrt({_DOT_SQL.format(a='cv', b='cv')}) AS cnrm
  FROM centroids
),
cells AS (
  SELECT query_id, qv, qn, label, _pr FROM (
    SELECT q.query_id, q.qv, q.qn, c.label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_DOT_SQL.format(a='q.qv', b='c.cv')} / (q.qn * c.cnrm)
                        DESC,
                      c.label ASC) AS _pr
    FROM q CROSS JOIN centroids_n c
  ) WHERE _pr <= {max(RECALL_NPROBES)}
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, p._pr,
         {_DOT_SQL.format(a='p.qv', b='c.v')} / (p.qn * c.nrm) AS _cos
  FROM cells p JOIN nl c ON p.label = c.label
  WHERE c.vec_id <> p.query_id
),
probes AS (SELECT unnest([{_RECALL_PROBES_SQL}]) AS nprobe),
ann AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT pr.nprobe, s.query_id, s.neighbor_id,
           row_number() OVER (
             PARTITION BY pr.nprobe, s.query_id
             ORDER BY s._cos DESC, s.neighbor_id ASC) AS _rk
    FROM scored s JOIN probes pr ON s._pr <= pr.nprobe
  ) WHERE _rk <= {TOP_K}
),
hits AS (
  SELECT a.nprobe, count(*) AS n_hits
  FROM ann a JOIN gt g
    ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
  GROUP BY a.nprobe
)
SELECT p.nprobe,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {N_QUERIES * TOP_K}.0
         AS recall_at_k
FROM probes p LEFT JOIN hits h ON p.nprobe = h.nprobe
"""



# --- ANN rank quality (round-15 queue) ----------------------------------

# log2 position discounts for NDCG@TOP_K, micro-unit literals at
# module load (the ndcg_at_k idiom): no runtime transcendental.
_ANN_DISC_MICRO = [
    round(1_000_000 / __import__("math").log2(r + 1))
    for r in range(1, TOP_K + 1)
]
_ANN_IDCG_MICRO = sum(_ANN_DISC_MICRO)


def ann_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of the IVF result list against the exact brute-force
    top-k, per probe budget — the rank-quality leg of the ANN tuning
    loop: recall@k (ivf_recall_tuning) asks "did the true neighbors
    make the list", NDCG asks "are they at the TOP of it", which is
    what a retrieval consumer that reads results in order actually
    experiences. A probe budget can hold recall steady while pushing
    true neighbors down the list; this entry catches that.

    Integer-exact past the (oracle-reproduced) cosine ordering:
    binary relevance = membership in the exact top-k, position
    discounts are module-load micro-unit literals, per-query
    DCG = sum(disc[_rk]) over hit rows, IDCG = the constant k-prefix
    sum (every query has exactly k relevant ids by construction), and
    mean_ndcg_ppm = sum(dcg) * 1e6 div (N_QUERIES * idcg) — the mean
    over the FIXED query panel, so an nprobe that misses a whole
    query scores the miss rather than silently shrinking the
    denominator.

    Scale posture (100 TB): identical to ivf_recall_tuning — the
    shared scaffold scores only probed cells, the per-nprobe
    expansion happens on the cell ranking, and this entry adds one
    broadcast-sized join (k rows per query) plus a per-nprobe rollup.
    """
    gt, ann, nprobes = _ivf_tuning_frames(spark, sf_dir)
    disc = F.array(*[F.lit(d) for d in _ANN_DISC_MICRO])
    hits = (
        ann.join(gt, ["query_id", "neighbor_id"])
        .select(
            "nprobe", F.element_at(disc, F.col("_rk")).alias("_d")
        )
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum("_d").alias("_dcg"),
        )
    )
    denom = N_QUERIES * _ANN_IDCG_MICRO
    return (
        nprobes.join(F.broadcast(hits), "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.coalesce("_dcg", F.lit(0)).alias("dcg_micro"),
            F.expr(
                f"coalesce(_dcg, 0) * 1000000 div {denom}"
            ).alias("mean_ndcg_ppm"),
        )
    )


_ANN_DISC_SQL = ", ".join(str(d) for d in _ANN_DISC_MICRO)

ANN_RANK_QUALITY_SQL = f"""
WITH {_NORMS_SQL.lstrip()},
nl AS (
  SELECT n.vec_id, n.v, n.nrm, e.label
  FROM n JOIN embeddings e ON n.vec_id = e.vec_id
),
q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
  WHERE vec_id < {N_QUERIES}
),
gt AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_DOT_SQL.format(a='q.qv', b='c.v')} / (q.qn * c.nrm)
                        DESC,
                      c.vec_id ASC) AS _rk
    FROM q CROSS JOIN n c WHERE c.vec_id <> q.query_id
  ) WHERE _rk <= {TOP_K}
),
cent_rows AS (
  SELECT label, d.pos AS pos,
         (sum(CAST(round(v[d.pos] * 1000000, 0) AS BIGINT)) / 1000000.0)
           / count(*) AS cval
  FROM nl CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) d
  GROUP BY label, d.pos
),
centroids AS (
  SELECT label, list(cval ORDER BY pos) AS cv FROM cent_rows GROUP BY label
),
centroids_n AS (
  SELECT label, cv, sqrt({_DOT_SQL.format(a='cv', b='cv')}) AS cnrm
  FROM centroids
),
cells AS (
  SELECT query_id, qv, qn, label, _pr FROM (
    SELECT q.query_id, q.qv, q.qn, c.label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_DOT_SQL.format(a='q.qv', b='c.cv')} / (q.qn * c.cnrm)
                        DESC,
                      c.label ASC) AS _pr
    FROM q CROSS JOIN centroids_n c
  ) WHERE _pr <= {max(RECALL_NPROBES)}
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, p._pr,
         {_DOT_SQL.format(a='p.qv', b='c.v')} / (p.qn * c.nrm) AS _cos
  FROM cells p JOIN nl c ON p.label = c.label
  WHERE c.vec_id <> p.query_id
),
probes AS (SELECT unnest([{_RECALL_PROBES_SQL}]) AS nprobe),
ann AS (
  SELECT nprobe, query_id, neighbor_id, _rk FROM (
    SELECT pr.nprobe, s.query_id, s.neighbor_id,
           row_number() OVER (
             PARTITION BY pr.nprobe, s.query_id
             ORDER BY s._cos DESC, s.neighbor_id ASC) AS _rk
    FROM scored s JOIN probes pr ON s._pr <= pr.nprobe
  ) WHERE _rk <= {TOP_K}
),
hits AS (
  SELECT a.nprobe, CAST(count(*) AS BIGINT) AS n_hits,
         CAST(sum(([{_ANN_DISC_SQL}])[a._rk]) AS BIGINT) AS _dcg
  FROM ann a JOIN gt g
    ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
  GROUP BY a.nprobe
)
SELECT p.nprobe,
       COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h._dcg, 0) AS dcg_micro,
       CAST(COALESCE(h._dcg, 0) * 1000000
            // {N_QUERIES * _ANN_IDCG_MICRO} AS BIGINT) AS mean_ndcg_ppm
FROM probes p LEFT JOIN hits h ON p.nprobe = h.nprobe
"""


# --- embedding hygiene audit -------------------------------------------

NORM_SCALE = 1_000_000


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding hygiene: vector count, zero-norm vectors,
    NaN-containing vectors, and min/max/mean L2 norm — the data-quality
    audit you run over an embedding column BEFORE building an ANN
    index on it (zero/NaN vectors poison cosine math silently).

    Map-only + one exchange on the 1-byte label key. Norms are
    quantized to int64 micros per row BEFORE the mean's sum so the
    distributed aggregate is exact integer math (order-free); min/max
    round the identical doubles via floor(x*1e6+0.5), which both
    engines evaluate identically."""
    n = _norms(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", "embedding"
    )
    nl = n.join(emb, "vec_id").select(
        "label",
        "nrm",
        F.exists(
            "embedding", lambda x: F.isnan(x.cast("double"))
        ).alias("_has_nan"),
        F.floor(F.col("nrm") * NORM_SCALE + F.lit(0.5))
        .cast("long")
        .alias("_nq"),
    )
    return nl.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0)).alias(
            "n_zero_norm"
        ),
        F.sum(F.when(F.col("_has_nan"), 1).otherwise(0)).alias(
            "n_nan_vectors"
        ),
        (F.min("_nq") / float(NORM_SCALE)).alias("min_norm"),
        (F.max("_nq") / float(NORM_SCALE)).alias("max_norm"),
        (
            F.expr("(2 * sum(_nq) + count(*)) div (2 * count(*))")
            / float(NORM_SCALE)
        ).alias("mean_norm"),
    )


EMBEDDING_NORM_AUDIT_SQL = f"""
WITH {_NORMS_SQL.lstrip()},
nl AS (
  SELECT e.label, n.nrm,
         len(list_filter(n.v, x -> isnan(x))) > 0 AS _has_nan,
         CAST(floor(n.nrm * {NORM_SCALE} + 0.5) AS BIGINT) AS _nq
  FROM n JOIN embeddings e ON n.vec_id = e.vec_id
)
SELECT label,
       count(*) AS n_vectors,
       CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm,
       CAST(sum(CASE WHEN _has_nan THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nan_vectors,
       min(_nq) / {NORM_SCALE}.0 AS min_norm,
       max(_nq) / {NORM_SCALE}.0 AS max_norm,
       ((2 * sum(_nq) + count(*)) // (2 * count(*))) / {NORM_SCALE}.0
         AS mean_norm
FROM nl GROUP BY label
"""


# --- hard-negative mining (contrastive-training data prep) ------------

HN_QUERY_MOD = 50  # query docs: doc_id % 50 == 0
HN_TOP_K = 5


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive training: for each sampled
    query document, the top-5 most-similar embeddings whose DOCUMENT
    carries a DIFFERENT language — near the query in embedding space
    but provably not a positive, which is exactly what contrastive
    losses need (random negatives are too easy; same-label neighbors
    are false negatives). Embeddings join documents on
    vec_id = doc_id for the label; the metadata filter runs BEFORE
    ranking so the top-k is over eligible negatives only.

    Scale posture (100 TB): the query side (1/50th sample) is
    broadcast; the corpus scan is map-side; labels ride a keyed join
    with the embeddings (both id-partitioned); ranking is a window
    per query_id. At real scale the corpus scan drops to IVF probing
    (see ivf_ann) with the SAME label filter applied inside the
    probed cells; the brute-force tier here is the recall-1.0
    baseline that certifies that path. Ties break on (cosine desc,
    neg_id) over identical explicit-fold doubles in both engines."""
    n = _norms(spark, sf_dir)
    labels = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    nl = n.join(labels, "vec_id")
    q = nl.filter(F.col("vec_id") % HN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("lang").alias("qlang"),
    )
    c = nl.select(
        F.col("vec_id").alias("neg_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("lang").alias("clang"),
    )
    pairs = c.join(
        F.broadcast(q), F.col("clang") != F.col("qlang")
    ).select(
        "query_id",
        "neg_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
        .alias("_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neg_id")
    )
    return (
        pairs.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= HN_TOP_K)
        .select(
            "query_id",
            "neg_id",
            F.round(F.col("_cos"), 6).alias("cosine"),
            "neg_rank",
        )
    )


HARD_NEGATIVE_SQL = f"""
WITH {_NORMS_SQL.lstrip()},
nl AS (
  SELECT n.vec_id, n.v, n.nrm, d.lang
  FROM n JOIN documents d ON n.vec_id = d.doc_id
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
         {_DOT_SQL.format(a='q.v', b='c.v')} / (q.nrm * c.nrm) AS _cos
  FROM nl q JOIN nl c
    ON q.vec_id % {HN_QUERY_MOD} = 0 AND c.lang <> q.lang
),
ranked AS (
  SELECT query_id, neg_id, _cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY _cos DESC, neg_id ASC) AS neg_rank
  FROM pairs
)
SELECT query_id, neg_id, round(_cos, 6) AS cosine, neg_rank
FROM ranked WHERE neg_rank <= {HN_TOP_K}
"""


# --- incremental IVF ingest (round-9 queue) ---------------------------

# New-batch fraction: vec_id >= (max+1) * IVF_INCR_OLD_NUM / 5 is the
# "arriving" 20% batch, mirroring dedup.minhash_incremental_novelty's
# ingest split so the two incremental tiers are directly comparable.
IVF_INCR_OLD_NUM = 4


def ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index ingest: assign an arriving embedding batch
    to a FROZEN IVF coarse quantizer (centroids built from the old 80%
    only), without touching the old corpus — the vector-index analogue
    of minhash_incremental_novelty's O(batch) ingest shape. Output per
    cell: resident count, newly assigned count, and the mean cosine of
    the new members to their centroid (the per-cell ingest-quality
    signal that tells an index maintainer when a cell has drifted and
    needs re-training).

    Exactness: centroids use the fixed-point int64 mean construction
    already pinned by ivf_ann; assignment is argmax cosine with
    label-asc tie-break; the mean cosine is computed in int64 ppm with
    half-up rounding on a +1e6 SHIFTED value — cosines can be
    negative, and Spark's `div` truncates toward zero while DuckDB's
    `//` floors, so the division must only ever see non-negative
    operands to stay engine-identical.

    Scale posture (100 TB): the frozen centroid table is tiny and
    broadcast; the arriving batch is scanned once map-side (batch x
    |cells| scores, bounded by the cell count); nothing touches the
    resident corpus except its pre-existing per-cell counts (one
    groupBy of the old side's labels — in production that count is a
    stored index statistic, zero scan). Work is O(batch), independent
    of index size.
    """
    n = _norms(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label"
    )
    nl = n.join(emb, "vec_id")
    bounds = nl.agg(
        F.expr(f"(max(vec_id) + 1) * {IVF_INCR_OLD_NUM} div 5").alias("_cut")
    )
    # cached: the split frame feeds the centroid build, the resident
    # counts AND the arriving batch — without it the norms x labels
    # subtree recomputes once per consumer (plan audit: 30 exchanges
    # -> shared InMemory scan). In production the old/new split is a
    # partition column and this is partition pruning, not a cache.
    tagged = nl.crossJoin(F.broadcast(bounds)).transform(stage)
    old = tagged.filter(F.col("vec_id") < F.col("_cut"))
    new = tagged.filter(F.col("vec_id") >= F.col("_cut"))

    # frozen quantizer: fixed-point centroid per label over OLD only
    cent_rows = (
        old.select("label", F.posexplode("v").alias("pos", "x"))
        .select(
            "label", "pos",
            F.round(F.col("x") * 1_000_000, 0).cast("long").alias("_xs"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("_xs").alias("_s"), F.count("*").alias("_n"))
        .select(
            "label", "pos",
            ((F.col("_s") / 1_000_000.0) / F.col("_n")).alias("cval"),
        )
    )
    centroids = (
        cent_rows.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("cv")
        )
        .withColumn("cnrm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
        .select(F.col("label").alias("cell"), "cv", "cnrm")
    )

    assign_w = Window.partitionBy("vec_id").orderBy(
        F.desc("_cos"), F.asc("cell")
    )
    assigned = (
        new.select("vec_id", "v", "nrm")
        .crossJoin(F.broadcast(centroids))
        .select(
            "vec_id", "cell",
            (_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))).alias("_cos"),
        )
        .withColumn("_r", F.row_number().over(assign_w))
        .filter(F.col("_r") == 1)
        .select(
            "cell",
            F.round(F.col("_cos") * 1_000_000, 0).cast("long").alias("_cp"),
        )
    )
    new_stats = assigned.groupBy("cell").agg(
        F.count("*").alias("n_new"),
        F.expr(
            "(2 * (sum(_cp) + count(*) * 1000000) + count(*))"
            " div (2 * count(*)) - 1000000"
        ).alias("mean_cos_ppm"),
    )
    resident = old.groupBy(F.col("label").alias("cell")).agg(
        F.count("*").alias("n_old")
    )
    return new_stats.join(resident, "cell").select(
        "cell", "n_old", "n_new", "mean_cos_ppm"
    )


IVF_INCREMENTAL_SQL = f"""
WITH {_NORMS_SQL.lstrip()},
nl AS (
  SELECT n.vec_id, n.v, n.nrm, e.label
  FROM n JOIN embeddings e ON n.vec_id = e.vec_id
),
cut AS (
  SELECT (max(vec_id) + 1) * {IVF_INCR_OLD_NUM} // 5 AS _cut FROM nl
),
old AS (SELECT nl.* FROM nl, cut WHERE vec_id < _cut),
new AS (SELECT nl.* FROM nl, cut WHERE vec_id >= _cut),
cent_rows AS (
  SELECT label, d.pos AS pos,
         (sum(CAST(round(v[d.pos] * 1000000, 0) AS BIGINT)) / 1000000.0)
           / count(*) AS cval
  FROM old CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) d
  GROUP BY label, d.pos
),
centroids AS (
  SELECT label AS cell, list(cval ORDER BY pos) AS cv
  FROM cent_rows GROUP BY label
),
centroids_n AS (
  SELECT cell, cv, sqrt({_DOT_SQL.format(a='cv', b='cv')}) AS cnrm
  FROM centroids
),
assigned AS (
  SELECT cell,
         CAST(round(_cos * 1000000, 0) AS BIGINT) AS _cp
  FROM (
    SELECT c.cell,
           {_DOT_SQL.format(a='new.v', b='c.cv')} / (new.nrm * c.cnrm) AS _cos,
           row_number() OVER (
             PARTITION BY new.vec_id
             ORDER BY {_DOT_SQL.format(a='new.v', b='c.cv')}
                        / (new.nrm * c.cnrm) DESC,
                      c.cell ASC) AS _r
    FROM new CROSS JOIN centroids_n c
  ) WHERE _r = 1
),
new_stats AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_new,
         CAST((2 * (sum(_cp) + count(*) * 1000000) + count(*))
              // (2 * count(*)) - 1000000 AS BIGINT) AS mean_cos_ppm
  FROM assigned GROUP BY cell
),
resident AS (
  SELECT label AS cell, CAST(count(*) AS BIGINT) AS n_old
  FROM old GROUP BY label
)
SELECT s.cell, r.n_old, s.n_new, s.mean_cos_ppm
FROM new_stats s JOIN resident r ON s.cell = r.cell
"""


# --- reciprocal-rank fusion of lexical + vector retrieval (round 9) ----

RRF_K = 60           # the standard RRF damping constant
RRF_TOP_K = 20
RRF_QUERY_VEC_ID = 0  # query = document 0's embedding


def rrf_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical ranking (query terms
    ngrams.BM25_QUERY_TERMS) with a vector ranking (inner product
    against document 0's embedding) by Reciprocal Rank Fusion —
    score(d) = sum over rankings of 1/(k + rank_d), k=60 — the
    standard way a RAG / retrieval pipeline combines keyword and
    embedding search without score calibration.

    Engine-exact end to end: the lexical side reuses the integer
    micro-unit BM25 scores (ngrams.bm25_scored_micro); the vector
    side quantizes each coordinate once to ppm int64 and ranks by the
    pure-integer inner product (MIPS — |x| <= ~0.53, 64 dims, so
    |dot| <= ~2e13, comfortably int64; cosine would need an
    irrational norm division, and for retrieval fusion the ranking,
    not the metric, is the semantic payload). Both rankings break
    ties by id, and the fused score is integer:
    rrf_ppm = 1e6 div (60+lex_rank) + 1e6 div (60+vec_rank).

    Scale posture (100 TB): each ranking is a top-candidate set, not
    a corpus scan — the lexical side only scores docs containing a
    query term (posting-list bounded), and the vector side at index
    scale feeds from the IVF probe (ivf_ann) instead of the full
    brute-force scan used at fixture scale. The rank windows are
    global over those BOUNDED candidate sets (the classic top-k
    re-rank stage); the fusion join is an int64-keyed join of two
    candidate lists, and the final top-k is TakeOrderedAndProject.
    """
    from .ngrams import bm25_scored_micro

    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x * 1_000_000, 0).cast("long"),
        ).alias("vi"),
    )
    q = emb.filter(F.col("vec_id") == RRF_QUERY_VEC_ID).select(
        F.col("vi").alias("qi")
    )
    dot = F.aggregate(
        F.zip_with("vi", "qi", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cands = (
        emb.filter(F.col("vec_id") != RRF_QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", dot.alias("_dot"))
    )
    w_vec = Window.orderBy(F.desc("_dot"), F.asc("vec_id"))
    vrank = cands.select(
        F.col("vec_id").alias("_vid"),
        F.row_number().over(w_vec).cast("long").alias("vec_rank"),
    )
    w_lex = Window.orderBy(F.desc("_sm"), F.asc("doc_id"))
    lrank = bm25_scored_micro(spark, sf_dir).select(
        F.col("doc_id").alias("_lid"),
        F.row_number().over(w_lex).cast("long").alias("lex_rank"),
    )
    fused = (
        vrank.join(lrank, vrank["_vid"] == lrank["_lid"], "full_outer")
        .select(
            F.coalesce("_vid", "_lid").alias("doc_id"),
            "lex_rank",
            "vec_rank",
            (
                F.coalesce(
                    F.expr(f"1000000 div ({RRF_K} + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 div ({RRF_K} + vec_rank)"), F.lit(0)
                )
            ).alias("rrf_ppm"),
        )
    )
    return (
        fused.orderBy(F.desc("rrf_ppm"), F.asc("doc_id"))
        .limit(RRF_TOP_K)
    )


def _rrf_sql() -> str:
    from .ngrams import BM25_SCORED_CTES

    qint = "list_transform(embedding, x -> CAST(round(x * 1000000, 0) AS BIGINT))"
    return f"""
WITH {BM25_SCORED_CTES.lstrip()},
qv AS (
  SELECT {qint} AS qi FROM embeddings WHERE vec_id = {RRF_QUERY_VEC_ID}
),
cand AS (
  SELECT vec_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(list_zip({qint}, qi),
                                       p -> p[1] * p[2])),
           (acc, x) -> acc + x) AS _dot
  FROM embeddings CROSS JOIN qv WHERE vec_id <> {RRF_QUERY_VEC_ID}
),
vrank AS (
  SELECT vec_id AS _vid,
         row_number() OVER (ORDER BY _dot DESC, vec_id ASC) AS vec_rank
  FROM cand
),
lrank AS (
  SELECT doc_id AS _lid,
         row_number() OVER (ORDER BY _sm DESC, doc_id ASC) AS lex_rank
  FROM bsum
),
fused AS (
  SELECT coalesce(_vid, _lid) AS doc_id,
         CAST(lex_rank AS BIGINT) AS lex_rank,
         CAST(vec_rank AS BIGINT) AS vec_rank,
         coalesce(1000000 // ({RRF_K} + lex_rank), 0)
           + coalesce(1000000 // ({RRF_K} + vec_rank), 0) AS rrf_ppm
  FROM vrank FULL OUTER JOIN lrank ON _vid = _lid
)
SELECT doc_id, lex_rank, vec_rank, CAST(rrf_ppm AS BIGINT) AS rrf_ppm
FROM fused ORDER BY rrf_ppm DESC, doc_id ASC LIMIT {RRF_TOP_K}
"""


RRF_RANK_FUSION_SQL = _rrf_sql()


# --- signed random projection signatures (round-10 queue) --------------

SRP_BITS = 32   # signature width (32 sign bits: selective enough that
                # a <= 3-bit hamming ball is a real near-dup test, not
                # a 1-in-2^16 coin flip)
SRP_DIMS = 64   # embedding dimensionality (the fixture tables' width)


def _srp_signs(j: int) -> list[int]:
    """Deterministic +/-1 hyperplane row j: a fixed 31-bit LCG over
    (dim, bit) — a compile-time constant embedded as literals in BOTH
    engines' plans, so there is no runtime hash to keep portable."""
    out = []
    for i in range(SRP_DIMS):
        v = (1103515245 * (i * SRP_BITS + j) + 12345) % (1 << 31)
        out.append(1 if (v >> 16) & 1 else -1)
    return out


def srp_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection (SimHash-for-embeddings) signatures:
    each vector is reduced to a SRP_BITS-bit fingerprint — bit j is
    the sign of the inner product with a fixed +/-1 hyperplane — the
    standard cheap pre-filter in front of exact cosine for
    embedding-space near-dup (Charikar 2002; the vector-side sibling
    of the text SimHash already in operators/dedup.py, and the
    LSH-bucket generator behind embedding_similar_pairs generalized
    to arbitrary hyperplanes instead of single coordinates). 32 bits
    keeps a <= 3-bit hamming ball selective (~5.5e3 of 4.3e9
    signatures) where 16 bits admitted ~8% of random pairs.

    Engine-exact: coordinates are quantized once to ppm int64, the
    hyperplane entries are +/-1 integer LITERALS (same constants in
    the Spark plan and the oracle SQL), so every bit decision is the
    sign of a pure-int64 sum — no float fold order, no boundary ulps.

    Scale posture (100 TB): map-only — SRP_BITS integer dot products
    per row, zero exchanges, zero joins; the signature column is what
    downstream groups/joins on (hamming-banded like
    simhash_hamming_pairs), and THOSE ops shuffle 8-byte sigs, never
    vectors. Signature cost is O(d * SRP_BITS) multiplies per row.

    Plan-compile note: the hyperplanes ride ONE literal array-of-
    arrays and the whole signature is a single nested fold (bits
    MSB-first, acc*2 + bit), not SRP_BITS separate aggregate
    expressions — the unrolled form generated 32 codegen functions
    and paid ~1.7 s of janino compile per call at sf0.1; the single-
    fold form is bit-identical and measured 1.9x faster (0.91 s).
    n_pos_bits is bit_count(sig), free on both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x * 1_000_000, 0).cast("long"),
        ).alias("vi"),
    )
    # planes MSB-first: fold position 0 holds plane j = SRP_BITS-1,
    # so acc*2 + bit lands plane j at weight 2^j
    planes = F.array(
        *[
            F.array(*[F.lit(s) for s in _srp_signs(j)])
            for j in range(SRP_BITS - 1, -1, -1)
        ]
    )
    bits = F.transform(
        planes,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(F.col("vi"), p, lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    sig = F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )
    return emb.select(
        "vec_id",
        sig.alias("srp_sig"),
        F.bit_count(sig).cast("long").alias("n_pos_bits"),
    )


def _srp_sql() -> str:
    vi = "list_transform(embedding, x -> CAST(round(x * 1000000, 0) AS BIGINT))"
    bit_terms = []
    npos_terms = []
    for j in range(SRP_BITS):
        plane = ", ".join(str(s) for s in _srp_signs(j))
        dot = (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(list_zip(vi, [{plane}]), p -> p[1] * p[2])), "
            "(acc, x) -> acc + x)"
        )
        bit = f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END)"
        bit_terms.append(f"{bit} * {1 << j}")
        npos_terms.append(bit)
    return f"""
WITH e AS (SELECT vec_id, {vi} AS vi FROM embeddings)
SELECT vec_id,
       CAST({" + ".join(bit_terms)} AS BIGINT) AS srp_sig,
       CAST({" + ".join(npos_terms)} AS BIGINT) AS n_pos_bits
FROM e
"""


SRP_SIGNATURE_SQL = _srp_sql()


# --- SRP banded hamming near-dup pairs (round-11 queue) -----------------

SRP_BANDS = 4          # 4 bands x 8 bits over the 32-bit signature
SRP_HAMMING_MAX = 3    # <= 3 differing bits => provably >= 1 clean band

# (vec_id, srp_sig) for the banding consumer, built once per (session,
# sf_dir): the map-only signature pass is O(d * SRP_BITS) multiplies
# per row and the consumer re-ran it per call (r13; the
# dedup.doc_shingle_hashes contract; srp_signature itself stays
# unmemoized).
@per_session
def _srp_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stage(srp_signature(spark, sf_dir).select("vec_id", "srp_sig"))


def srp_hamming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup candidate pairs from the SRP fingerprints:
    all vector pairs whose 32-bit signatures differ in at most
    SRP_HAMMING_MAX bits — the consumer that turns srp_signature into
    a dedup operator (the vector-space sibling of the text
    simhash_hamming_pairs).

    Banding completeness is provable, not probabilistic: 4 bands of
    8 bits and a 3-bit budget mean at least one band is untouched
    (pigeonhole), so every qualifying pair collides in >= 1 band —
    and the DuckDB oracle checks the brute-force O(n^2) definition,
    so the driver's hash compare IS the completeness proof on every
    run. All integer: band keys are shifts/masks, the verify filter
    is bit_count(xor).

    Scale posture (100 TB): the self-join keys on (band_id,
    band_value) — 4 x 256 buckets here, 4 x 2^width generally — so
    only same-bucket pairs materialize, never the cross product; the
    exact-hamming filter runs on 8-byte signatures (payload vectors
    never join). Banded-signature join cost concentrates in the
    largest bucket; a skewed bucket (near-constant embedding region)
    gets the standard salt-split. Dup pairs found in several bands
    collapse via the (a, b) groupBy, which rides the same exchange.
    """
    sigs = _srp_sigs(spark, sf_dir)
    width = SRP_BITS // SRP_BANDS
    mask = (1 << width) - 1
    banded = sigs.select(
        "vec_id",
        "srp_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        (
                            F.shiftright(F.col("srp_sig"), i * width)
                            % (mask + 1)
                        ).alias("band_val"),
                    )
                    for i in range(SRP_BANDS)
                ]
            )
        ).alias("b"),
    ).select("vec_id", "srp_sig", "b.band_id", "b.band_val")
    a, b2 = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b2,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.bit_count(
                F.col("a.srp_sig").bitwiseXOR(F.col("b.srp_sig"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= SRP_HAMMING_MAX)
    )
    return pairs.groupBy("vec_a", "vec_b").agg(
        F.min("hamming").alias("hamming")
    )


def _srp_hamming_sql() -> str:
    # brute force against the same signature definition: the oracle
    # deliberately skips the banding, so hash equality proves the
    # banded plan loses no pair
    return f"""
WITH sigs AS ({_srp_sql().strip()})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(bit_count(xor(a.srp_sig, b.srp_sig)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
WHERE bit_count(xor(a.srp_sig, b.srp_sig)) <= {SRP_HAMMING_MAX}
"""


SRP_HAMMING_SQL = _srp_hamming_sql()


# --- matryoshka dim-truncation recall (round-11 queue, built round 10) ----

MATRYOSHKA_DIMS = (8, 16, 32, 64)  # 64 = the full embedding width


def dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation evaluation: how much exact top-k
    cosine recall survives truncating the embedding to its first d
    dims? Serving stacks truncate matryoshka-trained embeddings to
    cut index memory and bandwidth (d=8 is an 8x smaller index than
    d=64); this op measures, on THIS corpus, recall@k of each
    truncated ranking against the full-width ranking — the table
    that decides which width the ANN tier (ivf_ann / srp) indexes.

    Per dim d: rank candidates for each query by cosine over
    slice(v, 1, d) (exact brute force, the knn_brute_force shape:
    identical fold-based dot products and correctly-rounded sqrt /
    divide on both engines, ties to the lower neighbor_id, NULLS
    LAST so a zero-norm prefix can never straddle engines), keep
    top-k, intersect with the d=64 top-k, and report hits as an
    integer recall_ppm = 1e6 * hits div (n_queries * k). The full
    width's own row pins recall = 1e6 exactly — a self-check the
    driver hash enforces.

    Scale posture (100 TB): the query side is broadcast
    (N_QUERIES x |dims| rows); the candidate scan streams ONCE per
    dim with no shuffle before the per-query top-k window (bounded
    frames: |queries| partitions); the intersection joins two
    (queries x k x dims)-row frames. At index scale the same
    comparison runs over the ANN candidate pool instead of the full
    scan — the plan shape is unchanged.
    """
    n = _norms(spark, sf_dir)
    dims = spark.createDataFrame(
        [(d,) for d in MATRYOSHKA_DIMS], "dim BIGINT"
    )
    t = (
        n.crossJoin(F.broadcast(dims))
        .select(
            "dim",
            "vec_id",
            F.expr("slice(v, 1, dim)").alias("tv"),
        )
        .withColumn("tn", F.sqrt(_dot(F.col("tv"), F.col("tv"))))
    )
    q = t.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("dim").alias("qdim"),
        F.col("vec_id").alias("query_id"),
        F.col("tv").alias("qv"),
        F.col("tn").alias("qn"),
    )
    c = t.select(
        "dim",
        F.col("vec_id").alias("neighbor_id"),
        F.col("tv").alias("cv"),
        F.col("tn").alias("cn"),
    )
    pairs = c.join(
        F.broadcast(q),
        (F.col("dim") == F.col("qdim"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "dim",
        "query_id",
        "neighbor_id",
        (
            _dot(F.col("qv"), F.col("cv"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))
        ).alias("_cos"),
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc_nulls_last("_cos"), F.asc("neighbor_id")
    )
    # cached: the |dims| x queries x k top-k frame feeds the full-
    # width reference slice, the hit semi-join, AND the query count;
    # uncached, the 4-width brute-force scan re-ran per reference
    # (12 parquet scans in the r13 before-plan, 1.60 s isolated).
    # Guide §5.
    topk = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= TOP_K)
        .select("dim", "query_id", "neighbor_id")
    ).transform(stage)
    full = topk.filter(F.col("dim") == max(MATRYOSHKA_DIMS)).select(
        "query_id", "neighbor_id"
    )
    hits = topk.join(full, ["query_id", "neighbor_id"], "left_semi")
    per_dim = hits.groupBy("dim").agg(F.count(F.lit(1)).alias("n_hits"))
    n_q = topk.filter(F.col("dim") == max(MATRYOSHKA_DIMS)).agg(
        F.count_distinct("query_id").alias("n_queries")
    )
    # dims spine: a zero-hit truncation must still report its row
    # (recall_ppm = 0), and an empty corpus reports nothing at all
    # (n_queries = 0 -> spine filtered empty) on both engines
    return (
        dims.crossJoin(F.broadcast(n_q))
        .filter(F.col("n_queries") > 0)
        .join(per_dim, "dim", "left")
        .select(
            "dim",
            "n_queries",
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            F.expr(
                f"(coalesce(n_hits, 0) * 1000000)"
                f" div (n_queries * {TOP_K})"
            ).alias("recall_ppm"),
        )
    )


DIM_TRUNCATION_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
dims AS (SELECT unnest([{", ".join(str(d) for d in MATRYOSHKA_DIMS)}]) AS dim),
t AS (
  SELECT d.dim, e.vec_id, list_slice(e.v, 1, d.dim) AS tv
  FROM e, dims d
),
tn AS (
  SELECT dim, vec_id, tv,
         sqrt({_DOT_SQL.format(a='tv', b='tv')}) AS nrm
  FROM t
),
pairs AS (
  SELECT q.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DOT_SQL.format(a='q.tv', b='c.tv')}
           / nullif(q.nrm * c.nrm, 0.0) AS _cos
  FROM tn q JOIN tn c
    ON q.dim = c.dim AND q.vec_id < {N_QUERIES}
   AND c.vec_id <> q.vec_id
),
topk AS (
  SELECT dim, query_id, neighbor_id FROM (
    SELECT dim, query_id, neighbor_id,
           row_number() OVER (PARTITION BY dim, query_id
                              ORDER BY _cos DESC NULLS LAST,
                                       neighbor_id ASC) AS _rn
    FROM pairs
  ) WHERE _rn <= {TOP_K}
),
fullk AS (
  SELECT query_id, neighbor_id FROM topk
  WHERE dim = {max(MATRYOSHKA_DIMS)}
),
hits AS (
  SELECT t.dim, count(*) AS n_hits
  FROM topk t
  WHERE EXISTS (SELECT 1 FROM fullk f
                WHERE f.query_id = t.query_id
                  AND f.neighbor_id = t.neighbor_id)
  GROUP BY t.dim
),
nq AS (
  SELECT count(DISTINCT query_id) AS n_queries FROM topk
  WHERE dim = {max(MATRYOSHKA_DIMS)}
)
SELECT CAST(d.dim AS BIGINT) AS dim,
       CAST(nq.n_queries AS BIGINT) AS n_queries,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((COALESCE(h.n_hits, 0) * 1000000)
            // (nq.n_queries * {TOP_K}) AS BIGINT) AS recall_ppm
FROM dims d
CROSS JOIN nq
LEFT JOIN hits h ON h.dim = d.dim
WHERE nq.n_queries > 0
"""


# --- MRR@k for the IVF tuning loop (round-14 queue, built round 10) --------


def mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first TRUE neighbor in the IVF
    result list, per probe budget — the third leg of the ANN rank
    tripod: recall@k (did the true neighbors make the list), NDCG@k
    (are they near the top, graded), MRR@k (how far does the reader
    scroll before the FIRST correct answer — the metric that matches
    single-answer retrieval UX). An nprobe can hold NDCG while the
    first hit slips from rank 1 to rank 3; MRR catches exactly that.

    Integer-exact past the (oracle-reproduced) cosine ordering:
    per (nprobe, query), first_rk = min rank of a ground-truth hit;
    rr = 1e6 div first_rk (floored ppm reciprocal); mean_rr_ppm =
    sum(rr) div N_QUERIES over the FIXED panel, so a query with no
    hit in the list contributes 0 rather than shrinking the
    denominator.

    Scale posture (100 TB): the shared _ivf_tuning_frames scaffold
    (probed cells only; per-nprobe expansion on the cell ranking)
    plus one broadcast-sized hit join and a per-(nprobe, query)
    min — bounded by the k-row result lists, never the corpus.
    """
    gt, ann, nprobes = _ivf_tuning_frames(spark, sf_dir)
    firsts = (
        ann.join(gt, ["query_id", "neighbor_id"])
        .groupBy("nprobe", "query_id")
        .agg(F.min("_rk").alias("first_rk"))
    )
    rrs = firsts.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_queries_hit"),
        F.sum(F.expr("1000000 div first_rk")).alias("_rr"),
    )
    return nprobes.join(F.broadcast(rrs), "nprobe", "left").select(
        "nprobe",
        F.coalesce("n_queries_hit", F.lit(0).cast("long")).alias(
            "n_queries_hit"
        ),
        F.expr(f"coalesce(_rr, 0) div {N_QUERIES}").alias("mean_rr_ppm"),
    )


_ANN_PREFIX_SQL = ANN_RANK_QUALITY_SQL.split(",\nhits AS (")[0]

MRR_AT_K_SQL = (
    _ANN_PREFIX_SQL
    + f""",
firsts AS (
  SELECT a.nprobe, a.query_id, min(a._rk) AS first_rk
  FROM ann a JOIN gt g
    ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
  GROUP BY a.nprobe, a.query_id
),
rrs AS (
  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_queries_hit,
         CAST(sum(1000000 // first_rk) AS BIGINT) AS _rr
  FROM firsts GROUP BY nprobe
)
SELECT p.nprobe,
       COALESCE(r.n_queries_hit, 0) AS n_queries_hit,
       CAST(COALESCE(r._rr, 0) // {N_QUERIES} AS BIGINT) AS mean_rr_ppm
FROM probes p LEFT JOIN rrs r ON p.nprobe = r.nprobe
"""
)


# --- embedding anisotropy (round-15 queue, built round 10) ------------------


def embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy of the embedding cloud: the squared norm of the
    mean UNIT vector, ||mean(v/||v||)||^2 in [0, 1] — equivalently
    the expected cosine between two random vectors. Isotropic
    embeddings score ~1/n; a large value means every vector shares a
    common direction (the classic contextual-embedding pathology),
    which silently inflates every cosine the ANN stack serves —
    this is the one-number audit run before trusting cosine
    thresholds (embedding_similar_pairs' tau, semdedup's cutoff).

    Integer-exact: each unit vector's components are quantized to
    micro units (round(u*1e6), after the fold-based norm and one
    correctly-rounded division — identical on both engines);
    per-dimension sums S_d are exact int64; anisotropy_ppm =
    (1e6 * sum_d S_d^2) div (n^2 * 1e12) evaluated in
    DECIMAL(38,0)/HUGEINT (headroom: n ~ 1e9 vectors keeps
    sum_d S_d^2 ~ 64 * 1e30 inside 38 digits). Zero-norm vectors are
    excluded identically on both engines. Also reports the dominant
    dimension (argmax |S_d|, ties to the lower index) — where the
    common direction points.

    Scale posture (100 TB): map-only normalize + quantize, one
    posexplode into a d-row aggregate (map-side partials carry 64
    cells per task), a 1-row finish. No joins, no windows.

    Plan notes (r13 optimization, guide §1.2/§2.3): the norm is
    staged behind an explode-of-one-struct Generate barrier —
    without it, CollapseProject + filter pushdown inline the
    64-element dot-product fold into the quantize lambda AND the
    filter, evaluating it ~66x per row instead of once (measured
    2.3 s -> ~0.4 s at sf0.1). n_vectors rides the same per-dim
    aggregate as a count (c is the number of vectors with >= d+1
    components, so max(c) == the survivor count), removing the
    second full scan and the crossJoin.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    nrm = F.sqrt(_dot(F.col("v"), F.col("v")))
    staged = emb.select(
        F.explode(
            F.array(F.struct(F.col("v").alias("v"), nrm.alias("n")))
        ).alias("s")
    )
    units = staged.filter(F.col("s.n") > 0).select(
        F.transform(
            F.col("s.v"),
            lambda x: F.round(x / F.col("s.n") * 1_000_000, 0).cast("long"),
        ).alias("u")
    )
    sums = (
        units.select(F.posexplode("u").alias("d", "x"))
        .groupBy(F.col("d").cast("long").alias("d"))
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    agg = sums.agg(
        F.sum(F.expr("CAST(s AS DECIMAL(38,0)) * s")).alias("_ss"),
        F.max(F.struct(F.abs("s").alias("a"), (-F.col("d")).alias("nd"))).alias(
            "_mx"
        ),
        F.coalesce(F.max("c"), F.lit(0).cast("long")).alias("n_vectors"),
    )
    return agg.select(
        "n_vectors",
        F.when(F.col("n_vectors") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                "CAST((1000000 * _ss) div"
                " (CAST(n_vectors AS DECIMAL(38,0)) * n_vectors"
                "  * 1000000000000) AS BIGINT)"
            )
        )
        .alias("anisotropy_ppm"),
        (-F.col("_mx.nd")).cast("long").alias("dominant_dim"),
        F.col("_mx.a").cast("long").alias("dominant_abs_sum"),
    )


EMBEDDING_ANISOTROPY_SQL = """
WITH e AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
normed AS (
  SELECT v,
         sqrt(list_reduce(list_prepend(0.0,
           list_transform(list_zip(v, v), p -> p[1] * p[2])),
           (acc, x) -> acc + x)) AS _n
  FROM e
),
units AS (
  SELECT list_transform(v, x -> CAST(round(x / _n * 1000000, 0)
                                     AS BIGINT)) AS u
  FROM normed WHERE _n > 0
),
sums AS (
  SELECT CAST(d.d AS BIGINT) AS d, CAST(sum(u[d.d + 1]) AS BIGINT) AS s
  FROM units, (SELECT unnest(range(0, 64)) AS d) d
  GROUP BY d.d
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM units),
agg AS (
  SELECT sum(CAST(s AS HUGEINT) * s) AS _ss,
         max(struct_pack(a := abs(s), nd := -d)) AS _mx
  FROM sums
)
SELECT nn.n_vectors,
       CASE WHEN nn.n_vectors = 0 THEN NULL
            ELSE CAST((1000000 * agg._ss)
                      // (CAST(nn.n_vectors AS HUGEINT) * nn.n_vectors
                          * 1000000000000) AS BIGINT)
       END AS anisotropy_ppm,
       CAST(-agg._mx.nd AS BIGINT) AS dominant_dim,
       CAST(agg._mx.a AS BIGINT) AS dominant_abs_sum
FROM agg, nn
"""


# --- label-centroid margin audit (round-14 queue) -----------------------

# Micro-quantization scale for coordinates and the signed-division
# shift for the floored integer centroid (coords are in [-1, 1], so
# 2e6 micro clears any |sum/n|; the shifted nonnegative quotient pins
# floor semantics on two truncate-toward-zero engines — see the
# clustering.py dbscan_core_cells note).
MARGIN_MICRO = 1_000_000
MARGIN_SHIFT = 2_000_000


def label_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-vector audit: for every embedding, the squared-L2
    margin between its own label's centroid and the NEAREST other
    label's centroid — negative margin means the vector sits closer
    to another class, the classic relabel/review candidate (the
    nearest-centroid flavor of confident-learning style label
    auditing). Per label: population, misfit count (+ ppm) and the
    worst margin.

    Engine-exact INTEGER pipeline: coordinates quantize to micro ints
    (round(x * 1e6) — the dbscan_core_cells discipline); per-label
    centroids are FLOORED micro ints via the shifted nonnegative
    quotient ((sum + {MARGIN_SHIFT}*n) div n - {MARGIN_SHIFT}), so
    the at-most-1-micro-per-dim quantization is identical on both
    engines; distances are int64 sums of squared micro deltas
    (64 dims x (4e6)^2 ~ 1e15 worst case — 3 spare decimal orders in
    int64). No float enters, no sqrt is needed (squared-L2 preserves
    the argmin), ties on the other-centroid argmin can't occur in the
    margin (min distance is a scalar).

    Scale posture (100 TB): centroids are one groupBy over the
    exploded (label, dim) frame (map-side partials, 640 cells); the
    per-vector scoring joins each vector against the BROADCAST
    10-row centroid table — one scan, no vector-vector pairs
    anywhere; the rollup is one row per label.
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", "embedding"
    )
    micro = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * MARGIN_MICRO, 0).cast(
                "long"
            ),
        ).alias("mv"),
    )
    cent = (
        micro.select(
            "label", F.posexplode("mv").alias("pos", "x")
        )
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .select(
            "label",
            "pos",
            F.expr(
                f"(_s + CAST({MARGIN_SHIFT} AS BIGINT) * _n) div _n"
                f" - {MARGIN_SHIFT}"
            ).alias("_c"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_c"))),
                lambda s: s["_c"],
            ).alias("cv")
        )
    )
    dists = micro.join(
        F.broadcast(cent.select(F.col("label").alias("clabel"), "cv")),
        F.lit(True),
    ).select(
        "vec_id",
        "label",
        "clabel",
        F.aggregate(
            F.zip_with("mv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("_d2"),
    )
    per_vec = dists.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("_d2"))
        ).alias("_own"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("_d2"))
        ).alias("_other"),
    )
    margined = per_vec.select(
        "label", (F.col("_other") - F.col("_own")).alias("_margin")
    )
    return margined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("_margin") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_misfit"),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN _margin < 0 THEN 1 ELSE 0 END)"
            " div count(*) AS BIGINT)"
        ).alias("misfit_ppm"),
        F.min("_margin").alias("worst_margin"),
    )


LABEL_CENTROID_MARGIN_SQL = f"""
WITH micro AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {MARGIN_MICRO}, 0)
                     AS BIGINT)) AS mv
  FROM embeddings
),
expl AS (
  SELECT label, d.pos AS pos, mv[d.pos] AS x
  FROM micro
  CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) d
),
cent_dims AS (
  SELECT label, pos,
         (CAST(sum(x) AS BIGINT)
          + CAST({MARGIN_SHIFT} AS BIGINT) * count(*)) // count(*)
         - {MARGIN_SHIFT} AS _c
  FROM expl GROUP BY label, pos
),
cent AS (
  SELECT label AS clabel,
         list(_c ORDER BY pos) AS cv
  FROM cent_dims GROUP BY label
),
dists AS (
  SELECT m.vec_id, m.label, c.clabel,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(m.mv, c.cv),
             p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (acc, x) -> acc + x) AS _d2
  FROM micro m CROSS JOIN cent c
),
per_vec AS (
  SELECT vec_id, label,
         max(CASE WHEN clabel = label THEN _d2 END) AS _own,
         min(CASE WHEN clabel <> label THEN _d2 END) AS _other
  FROM dists GROUP BY vec_id, label
),
margined AS (
  SELECT label, _other - _own AS _margin FROM per_vec
)
SELECT label, count(*) AS n_vecs,
       CAST(count(*) FILTER (WHERE _margin < 0) AS BIGINT) AS n_misfit,
       CAST(1000000 * count(*) FILTER (WHERE _margin < 0) // count(*)
            AS BIGINT) AS misfit_ppm,
       CAST(min(_margin) AS BIGINT) AS worst_margin
FROM margined GROUP BY label
"""


# --- 2-D projection neighborhood-preservation audit (round-14 queue) ----

PRESERVE_QUERIES = 50   # vec_id < 50 form the audit panel
PRESERVE_K = 10         # neighborhood size compared between spaces
PRESERVE_DIMS = (1, 2)  # 1-based dims of the "projection" under audit


def projection_neighborhood_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does a low-dimensional projection preserve neighborhoods — the
    sanity number behind every 2-D embedding scatter plot, computed
    WITHOUT t-SNE/UMAP: treat dims {PRESERVE_DIMS} as the projection
    (the same stand-in dbscan_core_cells uses for its grid), find
    each panel query's top-{PRESERVE_K} neighbors in the FULL 64-dim
    cosine space and in the projected space, and report the overlap —
    overlap@k is the trustworthiness-style retention score, per
    query with its label so per-class retention rolls up downstream.

    Determinism: the full-space ranking is the knn_brute_force
    contract exactly (explicit-fold double cosine — bit-identical
    across engines — with neighbor_id tiebreak); the projected-space
    ranking never touches floats at all (squared L2 on micro-
    quantized ints, neighbor_id tiebreak). The overlap count is a
    join of two deterministic top-k sets.

    Scale posture (100 TB): a FIXED {PRESERVE_QUERIES}-query panel
    against the corpus — the scan is linear in candidates and the
    panel side broadcasts, the per-query top-k is a WindowGroupLimit
    (never a global sort); the overlap join moves
    {PRESERVE_QUERIES} x {PRESERVE_K} rows. The documented scale
    path for the candidate scan itself is the IVF/LSH bucket route
    the ann entries ship; the audit's job is the comparison, which
    is panel-sized.
    """
    n = _norms(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", "embedding"
    )
    proj = emb.select(
        "vec_id",
        *[
            F.round(
                F.element_at("embedding", d).cast("double") * 1_000_000, 0
            )
            .cast("long")
            .alias(f"_p{i}")
            for i, d in enumerate(PRESERVE_DIMS)
        ],
    )

    q_full = n.filter(F.col("vec_id") < PRESERVE_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    full_pairs = n.join(
        F.broadcast(q_full), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias(
            "_cos"
        ),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    full_top = (
        full_pairs.withColumn("_r", F.row_number().over(wf))
        .filter(F.col("_r") <= PRESERVE_K)
        .select("query_id", "neighbor_id")
    )

    q_proj = proj.filter(F.col("vec_id") < PRESERVE_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"_p{i}").alias(f"_q{i}") for i in range(len(PRESERVE_DIMS))],
    )
    proj_pairs = proj.join(
        F.broadcast(q_proj), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        sum(
            (
                (F.col(f"_p{i}") - F.col(f"_q{i}"))
                * (F.col(f"_p{i}") - F.col(f"_q{i}"))
                for i in range(1, len(PRESERVE_DIMS))
            ),
            (F.col("_p0") - F.col("_q0")) * (F.col("_p0") - F.col("_q0")),
        ).alias("_d2"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.asc("_d2"), F.asc("neighbor_id")
    )
    proj_top = (
        proj_pairs.withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= PRESERVE_K)
        .select("query_id", F.col("neighbor_id").alias("pneighbor_id"))
    )

    # both top-k sets are panel-bounded (PRESERVE_QUERIES * K rows)
    overlap = (
        full_top.join(
            F.broadcast(proj_top),
            (full_top["query_id"] == proj_top["query_id"])
            & (full_top["neighbor_id"] == proj_top["pneighbor_id"]),
        )
        .groupBy(full_top["query_id"].alias("query_id"))
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    panel = emb.filter(F.col("vec_id") < PRESERVE_QUERIES).select(
        F.col("vec_id").alias("query_id"), "label"
    )
    return panel.join(F.broadcast(overlap), "query_id", "left").select(
        "query_id",
        "label",
        F.coalesce(F.col("_hits"), F.lit(0).cast("long")).alias(
            "overlap_at_k"
        ),
    )


def _preserve_sql() -> str:
    p_exprs = ", ".join(
        f"CAST(round(CAST(embedding[{d}] AS DOUBLE) * 1000000, 0)"
        f" AS BIGINT) AS _p{i}"
        for i, d in enumerate(PRESERVE_DIMS)
    )
    d2 = " + ".join(
        f"(c._p{i} - q._p{i}) * (c._p{i} - q._p{i})"
        for i in range(len(PRESERVE_DIMS))
    )
    return f"""
WITH {_NORMS_SQL.lstrip()},
full_pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DOT_SQL.format(a='q.v', b='c.v')} / (q.nrm * c.nrm) AS _cos
  FROM n q JOIN n c
    ON q.vec_id < {PRESERVE_QUERIES} AND c.vec_id <> q.vec_id
),
full_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY _cos DESC, neighbor_id ASC) AS _r
    FROM full_pairs
  ) WHERE _r <= {PRESERVE_K}
),
proj AS (SELECT vec_id, {p_exprs} FROM embeddings),
proj_pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {d2} AS _d2
  FROM proj q JOIN proj c
    ON q.vec_id < {PRESERVE_QUERIES} AND c.vec_id <> q.vec_id
),
proj_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY _d2 ASC, neighbor_id ASC) AS _r
    FROM proj_pairs
  ) WHERE _r <= {PRESERVE_K}
),
overlap AS (
  SELECT f.query_id, count(*) AS _hits
  FROM full_top f JOIN proj_top p
    ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
  GROUP BY f.query_id
)
SELECT e.vec_id AS query_id, e.label,
       CAST(coalesce(o._hits, 0) AS BIGINT) AS overlap_at_k
FROM embeddings e LEFT JOIN overlap o ON e.vec_id = o.query_id
WHERE e.vec_id < {PRESERVE_QUERIES}
"""


PROJECTION_NEIGHBORHOOD_SQL = _preserve_sql()


# --- two-stage rerank retrieval (round-14 queue) ------------------------

RERANK_NPROBE = 2    # IVF cells probed per query
RERANK_CAND_K = 20   # stage-1 (int8) candidates kept per query
RERANK_K = 5         # final reranked neighbors exported
# int8 quantization: a CONSTANT scale (not per-vector max-abs) keeps
# the quantizer a pure per-element function both engines compute
# identically; coords live in [-0.5, 0.5] so round(x*127) uses the
# full signed-byte range without clamping.
RERANK_Q = 127
# shifted-quotient offset for the floored int8 centroid means
RERANK_SHIFT = 256


def rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder-style two-stage retrieval over the IVF layout:
    a CHEAP stage scans int8-quantized vectors inside the probed
    cells and keeps {RERANK_CAND_K} candidates; an EXPENSIVE stage
    rescores only those candidates at full precision and exports the
    top {RERANK_K} — the standard serving architecture (bi-encoder
    recall stage -> cross-encoder precision stage, here simulated by
    the int8/fp64 cost split). Each exported row carries its
    stage-1 rank (the displacement the rerank corrected) and whether
    the exact full-scan top-{RERANK_K} would have contained it (the
    recall the two-stage funnel achieved).

    Engine-exactness by stage: quantization round(x * {RERANK_Q}) and
    every stage-0/1 score are pure int64 (squared-L2 cell probe
    against FLOORED int8 centroids — shifted nonnegative quotient —
    and an integer dot for candidate ranking, vec_id tiebreaks); only
    stage 2 touches floats, with the explicit-fold double cosine that
    is bit-identical across engines (the knn_brute_force contract).

    Scale posture (100 TB): the probe touches |cells| centroid rows;
    stage 1 scans only the probed cells' vectors (the IVF contract —
    nprobe/ncells of the corpus) with a WindowGroupLimit top-k;
    stage 2 rescores {RERANK_CAND_K} rows per query. The exact-scan
    reference column is panel-sized ({N_QUERIES} queries) — it IS
    the audit, not the serving path.
    """
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", "label", "embedding"
    )
    q8all = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * RERANK_Q, 0).cast("long"),
        ).alias("v8"),
    )
    cent8 = (
        q8all.select("label", F.posexplode("v8").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .select(
            "label",
            "pos",
            F.expr(
                f"(_s + CAST({RERANK_SHIFT} AS BIGINT) * _n) div _n"
                f" - {RERANK_SHIFT}"
            ).alias("_c"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_c"))),
                lambda s: s["_c"],
            ).alias("c8")
        )
    )
    q8 = q8all.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v8").alias("q8")
    )
    probe_d2 = q8.join(
        F.broadcast(cent8.select(F.col("label").alias("cell"), "c8")),
        F.lit(True),
    ).select(
        "query_id",
        "cell",
        "q8",
        F.aggregate(
            F.zip_with("q8", "c8", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("_d2"),
    )
    wprobe = Window.partitionBy("query_id").orderBy(
        F.asc("_d2"), F.asc("cell")
    )
    probed = (
        probe_d2.withColumn("_r", F.row_number().over(wprobe))
        .filter(F.col("_r") <= RERANK_NPROBE)
        .select("query_id", "cell", "q8")
    )
    cand = q8all.join(
        F.broadcast(probed),
        (F.col("label") == F.col("cell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with("q8", "v8", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("_dot8"),
    )
    wcand = Window.partitionBy("query_id").orderBy(
        F.desc("_dot8"), F.asc("neighbor_id")
    )
    stage1 = (
        cand.withColumn("stage1_rank", F.row_number().over(wcand))
        .filter(F.col("stage1_rank") <= RERANK_CAND_K)
        .select("query_id", "neighbor_id", "stage1_rank")
    )
    n = _norms(spark, sf_dir)
    qn = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    # stage1 is bounded by N_QUERIES * RERANK_CAND_K rows (constants)
    # — always the broadcast side, never a sort-merge against the
    # corpus-sized norms frame
    rescored = (
        F.broadcast(stage1).join(
            n.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cn"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "stage1_rank",
            (
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn"))
            ).alias("_cos"),
        )
    )
    wfinal = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    final = (
        rescored.withColumn("final_rank", F.row_number().over(wfinal))
        .filter(F.col("final_rank") <= RERANK_K)
    )
    exact_pairs = n.join(
        F.broadcast(qn), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias(
            "_cos"
        ),
    )
    wexact = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    exact_top = (
        exact_pairs.withColumn("_r", F.row_number().over(wexact))
        .filter(F.col("_r") <= RERANK_K)
        .select("query_id", "neighbor_id", F.lit(True).alias("_hit"))
    )
    return final.join(
        F.broadcast(exact_top), ["query_id", "neighbor_id"], "left"
    ).select(
        "query_id",
        "final_rank",
        "neighbor_id",
        F.round(F.col("_cos"), 6).alias("cosine"),
        "stage1_rank",
        F.coalesce(F.col("_hit"), F.lit(False)).alias("in_exact_topk"),
    )


_INT_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), "
    "(acc, x) -> acc + x)"
)

RERANK_TWO_STAGE_SQL = f"""
WITH {_NORMS_SQL.lstrip()},
q8all AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {RERANK_Q}, 0) AS BIGINT))
           AS v8
  FROM embeddings
),
cent_dims AS (
  SELECT label, d.pos AS pos,
         (CAST(sum(v8[d.pos]) AS BIGINT)
          + CAST({RERANK_SHIFT} AS BIGINT) * count(*)) // count(*)
         - {RERANK_SHIFT} AS _c
  FROM q8all CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) d
  GROUP BY label, d.pos
),
cent8 AS (
  SELECT label AS cell, list(_c ORDER BY pos) AS c8
  FROM cent_dims GROUP BY label
),
q8 AS (
  SELECT vec_id AS query_id, v8 AS q8 FROM q8all
  WHERE vec_id < {N_QUERIES}
),
probe_d2 AS (
  SELECT q.query_id, c.cell, q.q8,
         {_INT_DOT_SQL.format(a='list_transform(list_zip(q.q8, c.c8), p -> p[1] - p[2])',
                              b='list_transform(list_zip(q.q8, c.c8), p -> p[1] - p[2])')}
           AS _d2
  FROM q8 q CROSS JOIN cent8 c
),
probed AS (
  SELECT query_id, cell, q8 FROM (
    SELECT query_id, cell, q8,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY _d2 ASC, cell ASC) AS _r
    FROM probe_d2
  ) WHERE _r <= {RERANK_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_INT_DOT_SQL.format(a='p.q8', b='a.v8')} AS _dot8
  FROM q8all a JOIN probed p
    ON a.label = p.cell AND a.vec_id <> p.query_id
),
stage1 AS (
  SELECT query_id, neighbor_id, stage1_rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY _dot8 DESC, neighbor_id ASC)
             AS stage1_rank
    FROM cand
  ) WHERE stage1_rank <= {RERANK_CAND_K}
),
rescored AS (
  SELECT s.query_id, s.neighbor_id, s.stage1_rank,
         {_DOT_SQL.format(a='q.v', b='c.v')} / (q.nrm * c.nrm) AS _cos
  FROM stage1 s
  JOIN n c ON c.vec_id = s.neighbor_id
  JOIN n q ON q.vec_id = s.query_id
),
final AS (
  SELECT query_id, neighbor_id, stage1_rank, _cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY _cos DESC, neighbor_id ASC)
           AS final_rank
  FROM rescored
),
exact_pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DOT_SQL.format(a='q.v', b='c.v')} / (q.nrm * c.nrm) AS _cos
  FROM n q JOIN n c
    ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY _cos DESC, neighbor_id ASC) AS _r
    FROM exact_pairs
  ) WHERE _r <= {RERANK_K}
)
SELECT f.query_id, f.final_rank, f.neighbor_id,
       round(f._cos, 6) AS cosine, f.stage1_rank,
       e.query_id IS NOT NULL AS in_exact_topk
FROM final f LEFT JOIN exact_top e
  ON f.query_id = e.query_id AND f.neighbor_id = e.neighbor_id
WHERE f.final_rank <= {RERANK_K}
"""
