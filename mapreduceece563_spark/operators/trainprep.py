"""Training-data preparation operators: deterministic splits, token
packing, embedding quantization, domain mixing, decontamination, and
PII redaction — the corpus-assembly steps a large-scale LLM data
pipeline runs after dedup/quality filtering (the reference repo stops
at word count; this is the north-star extension surface).

Scale discipline:
* The split/mixture/packing operators are map-only or one-shuffle
  aggregations; nothing materializes per-token rows.
* Token packing computes its running sum per SHARD (a global ordered
  cumsum would serialize on one task at 100 TB); shard assignment is
  deterministic so re-runs produce identical shards.
* Decontamination broadcasts the (small) benchmark shingle set and
  semi-joins — the corpus-side scan never shuffles its payloads.
* All cross-engine math is exact-integer or a single identically-
  ordered double expression, per the oracle contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .dedup import doc_shingle_hashes, shingle_hashes_cte_sql

# Deterministic split: h = ((doc_id % P1) * KNUTH) % 1000. The inner
# mod keeps the product < 2^63 for any int64 doc_id — DuckDB raises on
# BIGINT overflow while Spark wraps, so the expression must never
# overflow rather than "both engines wrap the same way".
SPLIT_P1 = 100_003
SPLIT_KNUTH = 2_654_435_761
TRAIN_PCT, VAL_PCT = 800, 900  # of 1000

PACK_BUDGET_TOKENS = 512
PACK_SHARDS = 32

# int8 quantization range
QUANT_LEVELS = 127

# Benchmark/eval holdout for decontamination: two of the 20 sources.
EVAL_SOURCES = ("src0", "src1")


def _ws_tokens(text: Column) -> Column:
    """Whitespace token count, same definition as bpe_token_count's
    n_ws_tokens (single-space split, empty tokens dropped)."""
    return F.size(F.filter(F.split(text, " "), lambda t: t != "")).cast(
        "long"
    )


_WS_TOKENS_SQL = (
    "CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)"
)


def _split_col() -> Column:
    h = (F.col("doc_id") % SPLIT_P1) * SPLIT_KNUTH % 1000
    return (
        F.when(h < TRAIN_PCT, "train")
        .when(h < VAL_PCT, "val")
        .otherwise("test")
    )


_SPLIT_SQL = f"""CASE
  WHEN (doc_id % {SPLIT_P1}) * {SPLIT_KNUTH} % 1000 < {TRAIN_PCT} THEN 'train'
  WHEN (doc_id % {SPLIT_P1}) * {SPLIT_KNUTH} % 1000 < {VAL_PCT} THEN 'val'
  ELSE 'test' END"""


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment with
    per-split document and token accounting. The assignment is a pure
    function of doc_id (stable across runs, engines, and cluster
    sizes — no sampling RNG), the aggregation is one tiny groupBy,
    and the share division happens once on exact integer sums."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    per = (
        docs.select(_split_col().alias("split"),
                    _ws_tokens(F.col("text")).alias("_t"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("_t").alias("n_tokens"))
    )
    total = per.agg(F.sum("n_tokens").alias("_tot"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "split", "n_docs", "n_tokens",
            F.round(F.col("n_tokens") / F.col("_tot"), 6).alias("tok_share"),
        )
    )


TRAIN_TEST_SPLIT_SQL = f"""
WITH per AS (
  SELECT {_SPLIT_SQL} AS split, count(*) AS n_docs,
         CAST(sum({_WS_TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
)
SELECT split, n_docs, n_tokens,
       round(n_tokens / CAST((SELECT CAST(sum(n_tokens) AS BIGINT) FROM per)
                             AS DOUBLE), 6) AS tok_share
FROM per
"""


def token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget shards (context-window
    assembly): docs are assigned to {PACK_SHARDS} deterministic
    shards, ordered by doc_id within each, and a running token sum
    places each doc in bin floor(preceding_tokens / budget) — the
    streaming next-fit packing a sequence-builder runs per worker.

    The window partitions on shard, so the sort and cumsum are
    per-shard (parallel, spill-safe) rather than one global ordered
    window, which is the scale-correct shape; bin ids are exact
    integer math."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        _ws_tokens(F.col("text")).alias("_t"),
    )
    binned = staged.select(
        "shard", "doc_id", "_t",
        F.expr(f"(sum(_t) OVER (PARTITION BY shard ORDER BY doc_id ASC "
               f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - _t) "
               f"div {PACK_BUDGET_TOKENS}").alias("bin"),
    )
    return (
        binned.groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_t").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


TOKEN_PACK_SQL = f"""
WITH staged AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         {_WS_TOKENS_SQL} AS _t
  FROM documents
),
binned AS (
  SELECT shard, doc_id, _t,
         (CAST(sum(_t) OVER (PARTITION BY shard ORDER BY doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          - _t) // {PACK_BUDGET_TOKENS} AS bin
  FROM staged
)
SELECT shard, bin, count(*) AS n_docs,
       CAST(sum(_t) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM binned GROUP BY shard, bin
"""


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (the storage/serving
    format for ANN at scale): scale = max|x|, q_i = round(x_i / scale
    * 127). Map-only over the embeddings table, array-native (no
    per-dim row explosion); the checksum columns (q_sum/q_min/q_max)
    are exact integer folds so the oracle compare is bit-strict.
    The double expression `x / scale * 127` is written identically in
    both engines (one division, one multiply, one round)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    maxabs = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x)))
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x / F.col("_scale") * QUANT_LEVELS, 0).cast("long"),
    )
    staged = emb.withColumn("_scale", maxabs).withColumn(
        "_q", F.when(F.col("_scale") > 0, q).otherwise(
            F.transform(F.col("embedding"), lambda x: F.lit(0).cast("long"))
        )
    )
    return staged.select(
        "vec_id", "label",
        F.col("_scale").alias("scale"),
        F.aggregate(
            "_q", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.array_min("_q").alias("q_min"),
        F.array_max("_q").alias("q_max"),
        F.size("_q").alias("n_dims"),
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH staged AS (
  SELECT vec_id, label,
         list_max(list_transform(embedding, x -> abs(x))) AS _scale,
         embedding
  FROM embeddings
),
quant AS (
  SELECT vec_id, label, _scale,
         CASE WHEN _scale > 0 THEN
           list_transform(embedding,
                          x -> CAST(round(x / _scale * {QUANT_LEVELS}, 0)
                                    AS BIGINT))
         ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS _q
  FROM staged
)
SELECT vec_id, label, _scale AS scale,
       list_reduce(list_prepend(CAST(0 AS BIGINT), _q),
                   (acc, x) -> acc + x) AS q_sum,
       list_min(_q) AS q_min, list_max(_q) AS q_max,
       CAST(len(_q) AS INT) AS n_dims
FROM quant
"""


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights: per-source token share and the sampling
    weight that would equalize the mixture (target = uniform across
    sources). One small groupBy plus a broadcast 1-row total; weights
    derive from exact integer sums with one identically-ordered
    double expression, so the oracle compare is exact."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per = (
        docs.select("source", _ws_tokens(F.col("text")).alias("_t"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("_t").alias("n_tokens"))
    )
    total = per.agg(
        F.count("*").alias("_ns"), F.sum("n_tokens").alias("_tot")
    )
    # a ZERO-TOKEN source (every doc empty) has no defined mix weight
    # and a zero-token CORPUS no shares at all — export NULL
    # explicitly on both engines (adversarial-vintage audit, round
    # 12: Spark's ANSI division raised here while DuckDB's float
    # division returned NULL, a crash-vs-NULL divergence the green
    # fixture never exercised)
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "source", "n_docs", "n_tokens",
            F.when(
                F.col("_tot") > 0,
                F.round(F.col("n_tokens") / F.col("_tot"), 6),
            ).alias("tok_share"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("_tot") / F.col("_ns") / F.col("n_tokens"), 6
                ),
            ).alias("mix_weight"),
        )
    )


SOURCE_MIXTURE_SQL = """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum({ws}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT count(*) AS _ns, CAST(sum(n_tokens) AS BIGINT) AS _tot FROM per
)
SELECT source, n_docs, n_tokens,
       CASE WHEN _tot > 0
            THEN round(n_tokens / CAST(_tot AS DOUBLE), 6) END AS tok_share,
       CASE WHEN n_tokens > 0
            THEN round(CAST(_tot AS DOUBLE) / _ns / n_tokens, 6)
       END AS mix_weight
FROM per CROSS JOIN tot
""".format(ws=_WS_TOKENS_SQL)


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit: which training documents share
    any 3-shingle with the eval holdout ({EVAL_SOURCES})? Reuses the
    session-cached (doc_id, shingle-hash) stage from the dedup family.

    Scale shape: the eval side of the semi join is tiny (a benchmark
    set) and BROADCAST; the corpus side streams through map-side —
    no shuffle of corpus shingles. Counts are distinct-aggregated
    1-row output."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # coalesce: a NULL source is NOT a benchmark doc — it counts as
    # training data (conservative for decontamination; mirrors the
    # oracle's coalesce(..., FALSE))
    is_eval = F.coalesce(
        F.col("source").isin(*EVAL_SOURCES), F.lit(False)
    )
    marks = docs.select("doc_id", is_eval.alias("_eval"))
    sh = doc_shingle_hashes(spark, sf_dir).join(marks, "doc_id")
    eval_sh = (
        sh.filter(F.col("_eval")).select("h0").distinct()
    )
    train_sh = sh.filter(~F.col("_eval"))
    contaminated = train_sh.join(
        F.broadcast(eval_sh), "h0", "left_semi"
    )
    shared = train_sh.select("h0").distinct().join(
        F.broadcast(eval_sh), "h0", "left_semi"
    )
    doc_counts = marks.agg(
        F.sum(F.when(F.col("_eval"), 1).otherwise(0))
        .cast("long").alias("n_eval_docs"),
        F.sum(F.when(F.col("_eval"), 0).otherwise(1))
        .cast("long").alias("n_train_docs"),
    )
    return (
        doc_counts.crossJoin(
            F.broadcast(
                contaminated.agg(
                    F.count_distinct("doc_id")
                    .cast("long").alias("n_contaminated_train_docs")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                shared.agg(
                    F.count("*").cast("long").alias("n_shared_shingles")
                )
            )
        )
    )


_EVAL_IN = ", ".join(f"'{s}'" for s in EVAL_SOURCES)

CONTAMINATION_SQL = f"""
WITH {shingle_hashes_cte_sql().lstrip()},
marks AS (
  -- coalesce pins "not known-eval => training data": a NULL source
  -- lands on the TRAIN side (matching the Spark coalesce), instead
  -- of vanishing from both sides via NOT NULL = NULL
  SELECT doc_id, coalesce(source IN ({_EVAL_IN}), FALSE) AS _eval
  FROM documents
),
msh AS (SELECT s.doc_id, h0, _eval FROM sh s JOIN marks USING (doc_id)),
eval_sh AS (SELECT DISTINCT h0 FROM msh WHERE _eval),
train_sh AS (SELECT doc_id, h0 FROM msh WHERE NOT _eval)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM marks WHERE _eval) AS n_eval_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM marks WHERE NOT _eval)
    AS n_train_docs,
  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM train_sh
   WHERE h0 IN (SELECT h0 FROM eval_sh)) AS n_contaminated_train_docs,
  (SELECT CAST(count(DISTINCT h0) AS BIGINT) FROM train_sh
   WHERE h0 IN (SELECT h0 FROM eval_sh)) AS n_shared_shingles
"""


# --- PII redaction (tested on an injected fixture; the driver tables
# --- contain no PII-shaped strings, so this is not a registry entry)

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
LONG_DIGITS_RE = "\\b[0-9]{9,}\\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails, IPv4 addresses, and long digit runs (phone/SSN/
    card shapes) from a text column, keeping per-row redaction counts.
    Native regexp chain — map-only, codegen'd, no UDF; patterns are
    RE2-compatible so the same strings work in a DuckDB cross-check
    (see tests/test_trainprep.py)."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
    n_ips = F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), 0))
    n_digits = F.size(F.regexp_extract_all(t, F.lit(LONG_DIGITS_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"),
            IPV4_RE, "<IP>",
        ),
        LONG_DIGITS_RE, "<NUM>",
    )
    return df.withColumn("n_emails", n_emails.cast("long")) \
        .withColumn("n_ips", n_ips.cast("long")) \
        .withColumn("n_long_digits", n_digits.cast("long")) \
        .withColumn(text_col, redacted)


# --- end-to-end manifest ---------------------------------------------

MANIFEST_SHARDS = 8


def training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end shard manifest: the composed quality/dedup filter
    (textstats.training_data_filter), inner-joined to the embeddings
    table (doc_id = vec_id; the embedding's label is the topic
    bucket), sharded by scrambled deterministic hash, rolled up to
    per-(shard, label) stats — the summary a trainer reads before
    pulling shards.

    Scale posture: the filter is two shuffles (see its docstring);
    the doc<->embedding join is key-partitioned on doc_id (both sides
    are corpus-sized at 100 TB — never broadcast); shard assignment
    is a map-side hash; the rollup carries int64 sums only (token
    counts, 1e6-scaled quality), so the manifest is exact and
    engine-reproducible at any parallelism."""
    from .corpus import SAMPLE_A, SAMPLE_B
    from .textstats import training_data_filter
    from ..functions.hashing import HASH_MOD, poly_hash

    tf = training_data_filter(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    h = poly_hash(F.col("doc_id").cast("string"))
    shard = (h * SAMPLE_A + SAMPLE_B) % HASH_MOD % MANIFEST_SHARDS
    return (
        tf.join(emb, "doc_id")
        .withColumn("shard", shard)
        .withColumn(
            "_q6", F.round(F.col("quality") * 1_000_000, 0).cast("long")
        )
        .groupBy("shard", "label")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("_q6").alias("_s"),
        )
        # Half-up average in PURE int64 — (2s+n) div (2n) — then one
        # exact division. round((s/1e6)/n, 6) after double division
        # diverged between engines at sf0.1 on a decimal-tie value
        # (Spark rounds the exact binary expansion via BigDecimal,
        # DuckDB rounds via x*1e6 which can land the tie on the other
        # side); integers can't disagree.
        .select(
            "shard",
            "label",
            "n_docs",
            "total_tokens",
            (
                F.expr("(2 * _s + n_docs) div (2 * n_docs)").cast("double")
                / 1_000_000
            ).alias("avg_quality"),
        )
    )


def _manifest_sql() -> str:
    from .corpus import SAMPLE_A, SAMPLE_B
    from .textstats import TRAINING_FILTER_SQL
    from ..functions.hashing import HASH_MOD, poly_hash_sql

    h = poly_hash_sql("CAST(t.doc_id AS VARCHAR)")
    return f"""
WITH g AS (
  SELECT (({h}) * {SAMPLE_A} + {SAMPLE_B}) % {HASH_MOD} % {MANIFEST_SHARDS}
           AS shard,
         e.label, count(*) AS n_docs,
         CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(CAST(round(t.quality * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS _s
  FROM ({TRAINING_FILTER_SQL}) t
  JOIN (SELECT vec_id AS doc_id, label FROM embeddings) e USING (doc_id)
  GROUP BY shard, e.label
)
SELECT shard, label, n_docs, total_tokens,
       CAST((2 * _s + n_docs) // (2 * n_docs) AS DOUBLE) / 1000000
         AS avg_quality
FROM g
"""


TRAINING_MANIFEST_SQL = _manifest_sql()


# --- token-balanced source mixing ------------------------------------

def token_balanced_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upweight every source to the largest source's token budget —
    the epoch-weighting counterpart of stratified DOWN-sampling: each
    document is replicated floor(f) or ceil(f) times, where f is the
    source's token deficit ratio and the floor/ceil choice is a
    scrambled deterministic hash of doc_id (so expected replicated
    tokens hit the target with no rand(), stable under retries and
    partitioning). Returns the post-mix per-source manifest.

    All mixing math is integer milli-units: f_milli = (1000·max_tot)
    div tot, base copies = f_milli div 1000, and the fractional copy
    fires when hash(doc_id) mod 1000 < f_milli mod 1000 — both
    engines agree exactly. The replication itself is a map-side
    explode(sequence(...)) — no shuffle touches the widened stream
    until the final per-source rollup."""
    from ..functions.hashing import HASH_MOD
    from ..functions.text import MAX_WORD_LEN, NORMALIZE_SQL  # noqa: F401
    from .corpus import SAMPLE_A, SAMPLE_B
    from ..functions.text import normalized_words_array

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n_tok = (
        F.when(
            F.col("text").isNotNull() & (F.col("text") != ""),
            F.size(normalized_words_array(F.col("text"))),
        )
        .otherwise(0)
        .cast("long")
    )
    per_doc = docs.select("doc_id", "source", n_tok.alias("_nt"))
    totals = per_doc.groupBy("source").agg(F.sum("_nt").alias("_tot"))
    max_tot = totals.agg(F.max("_tot").alias("_max_tot"))
    # nullif guards the all-empty-text source (_tot=0): its factor is
    # NULL (not a DIVIDE_BY_ZERO under ANSI mode), it replicates no
    # rows, and the final left join reports it with zero output.
    factors = totals.crossJoin(F.broadcast(max_tot)).select(
        "source",
        F.expr("(1000 * _max_tot) div nullif(_tot, 0)").alias("_f_milli"),
    )
    scramble = (
        (F.col("doc_id") * SAMPLE_A + SAMPLE_B) % HASH_MOD
    ) % 1000
    n_copies = (
        F.expr("_f_milli div 1000")
        + F.when(scramble < F.expr("_f_milli % 1000"), 1).otherwise(0)
    ).alias("_nc")
    replicated = (
        per_doc.join(F.broadcast(factors), "source")
        .select("source", "_nt", n_copies)
        .select(
            "source",
            "_nt",
            F.explode(F.sequence(F.lit(1), F.col("_nc"))).alias("_i"),
        )
    )
    mixed = replicated.groupBy("source").agg(
        F.count("*").alias("_nd"),
        F.sum("_nt").alias("_ntok"),
    )
    # A source whose documents are all empty has _tot=0, so its
    # factor (1000*_max_tot) div _tot is NULL and it vanishes from
    # `replicated`. Left-join back to the per-source totals so such
    # sources are REPORTED with zero output rather than silently
    # dropped from the manifest.
    return (
        totals.select("source")
        .join(mixed, "source", "left")
        .select(
            "source",
            F.coalesce(F.col("_nd"), F.lit(0).cast("long")).alias(
                "n_docs_out"
            ),
            F.coalesce(F.col("_ntok"), F.lit(0).cast("long")).alias(
                "n_tokens_out"
            ),
        )
    )


def _token_balanced_sql() -> str:
    from ..functions.hashing import HASH_MOD
    from ..functions.text import MAX_WORD_LEN, NORMALIZE_SQL
    from .corpus import SAMPLE_A, SAMPLE_B

    norm = NORMALIZE_SQL.format(t="t")
    return f"""
WITH per_doc AS (
  SELECT doc_id, source,
         CASE WHEN text IS NOT NULL AND text <> '' THEN
           CAST(len(list_filter(
                  list_transform(string_split(text, ' '), t -> {norm}),
                  w -> w <> '' AND length(w) <= {MAX_WORD_LEN})) AS BIGINT)
         ELSE 0 END AS _nt
  FROM documents
),
totals AS (SELECT source, CAST(sum(_nt) AS BIGINT) AS _tot
           FROM per_doc GROUP BY source),
mx AS (SELECT max(_tot) AS _max_tot FROM totals),
factors AS (
  SELECT source, (1000 * _max_tot) // nullif(_tot, 0) AS _f_milli
  FROM totals, mx
),
copies AS (
  SELECT p.source, p._nt,
         (_f_milli // 1000)
         + CASE WHEN ((p.doc_id * {SAMPLE_A} + {SAMPLE_B}) % {HASH_MOD})
                     % 1000 < _f_milli % 1000
                THEN 1 ELSE 0 END AS _nc
  FROM per_doc p JOIN factors USING (source)
),
replicated AS (
  SELECT source, _nt, unnest(range(1, _nc + 1)) AS _i FROM copies
),
mixed AS (
  SELECT source, count(*) AS _nd, CAST(sum(_nt) AS BIGINT) AS _ntok
  FROM replicated GROUP BY source
)
SELECT t.source,
       CAST(coalesce(m._nd, 0) AS BIGINT) AS n_docs_out,
       CAST(coalesce(m._ntok, 0) AS BIGINT) AS n_tokens_out
FROM totals t LEFT JOIN mixed m USING (source)
"""


TOKEN_BALANCED_MIXTURE_SQL = _token_balanced_sql()


BAL_BUCKET = 1000  # coarse balance generalization, dollars


def pseudonymized_export_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of a privacy-preserving export: customer identities are
    replaced by a deterministic pseudonym (first 16 hex chars of
    SHA-256 over the name — linkable across deliveries, not
    reversible) and balances generalized to $1000 buckets; the audit
    proves, per nation, that pseudonymization kept cardinality (no
    collisions collapsed customers) and reports the bucket spread the
    generalization leaves.

    Complements ``redact_pii`` (free-text scrubbing): this is the
    STRUCTURED-column side of the governance story, the k-anonymity
    audit's release step. Map-only hashing + one nation-keyed
    aggregate; SHA-256 hex is identical across engines by
    definition."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_name", "c_acctbal"
    )
    masked = cust.select(
        "c_nationkey",
        F.substring(F.sha2(F.col("c_name").cast("binary"), 256), 1, 16).alias(
            "pseudo_id"
        ),
        (
            F.floor(F.col("c_acctbal") / BAL_BUCKET) * BAL_BUCKET
        ).cast("long").alias("bal_bucket"),
    )
    return masked.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.count_distinct("pseudo_id").alias("n_distinct_pseudo"),
        F.count_distinct("bal_bucket").alias("n_bal_buckets"),
        F.min("bal_bucket").alias("min_bucket"),
        F.max("bal_bucket").alias("max_bucket"),
    )


PSEUDONYMIZED_EXPORT_SQL = f"""
WITH masked AS (
  SELECT c_nationkey,
         substr(sha256(c_name), 1, 16) AS pseudo_id,
         CAST(floor(c_acctbal / {BAL_BUCKET}) * {BAL_BUCKET} AS BIGINT)
           AS bal_bucket
  FROM customer
)
SELECT c_nationkey, count(*) AS n_customers,
       count(DISTINCT pseudo_id) AS n_distinct_pseudo,
       count(DISTINCT bal_bucket) AS n_bal_buckets,
       min(bal_bucket) AS min_bucket,
       max(bal_bucket) AS max_bucket
FROM masked GROUP BY c_nationkey
"""


# --- epoch scheduling for a target mixture -----------------------------

EPOCH_SCALE = 1000  # milli-precision repeat factors


def mixture_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn mixture weights into an executable epoch schedule: for a
    UNIFORM target mixture, each source's repeat factor (how many
    times its documents are seen per training epoch, milli-precision),
    the integer epoch ceiling the loader must materialize, and the
    token count the source contributes after weighting. This is the
    planning step between `source_mixture_weights` (diagnosis) and
    `token_balanced_mixture` (materialization).

    All schedule arithmetic is pure int64 (half-up milli rounding,
    ceiling division), so both engines agree exactly; one exchange on
    the tiny per-source aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per = (
        docs.select("source", _ws_tokens(F.col("text")).alias("_t"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("_t").alias("n_tokens"))
    )
    total = per.agg(
        F.count("*").alias("_ns"), F.sum("n_tokens").alias("_tot")
    )
    # repeat_milli = round_half_up(1000 * _tot / (_ns * n_tokens));
    # contributes round_half_up(n_tokens * repeat_milli / 1000) tokens.
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            # zero-token source: no defined repeat factor — NULL on
            # both engines instead of a division-by-zero (Spark ANSI
            # raised, DuckDB errored; adversarial-vintage audit r12)
            F.expr(
                "CASE WHEN n_tokens > 0 THEN"
                " (2 * 1000 * _tot + _ns * n_tokens)"
                " div (2 * _ns * n_tokens) END"
            ).alias("repeat_milli"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "repeat_milli",
            F.expr("(repeat_milli + 999) div 1000").alias("n_epochs"),
            F.expr(
                "(2 * n_tokens * repeat_milli + 1000) div (2 * 1000)"
            ).alias("tokens_weighted"),
        )
    )


MIXTURE_EPOCH_SQL = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum({_WS_TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT count(*) AS _ns, CAST(sum(n_tokens) AS BIGINT) AS _tot FROM per
),
sched AS (
  SELECT source, n_docs, n_tokens,
         CASE WHEN n_tokens > 0 THEN
           (2 * 1000 * _tot + _ns * n_tokens) // (2 * _ns * n_tokens)
         END AS repeat_milli
  FROM per CROSS JOIN tot
)
SELECT source, n_docs, n_tokens, repeat_milli,
       (repeat_milli + 999) // 1000 AS n_epochs,
       (2 * n_tokens * repeat_milli + 1000) // (2 * 1000)
         AS tokens_weighted
FROM sched
"""


# --- deterministic k-fold assignment -----------------------------------

KFOLD_K = 5


def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    affine-scrambled portable hash of doc_id mod K, reported as fold x
    lang counts (the stratification audit — folds should be balanced
    within every language). No sampling state, no rand(): the same
    document lands in the same fold on any cluster layout, which is
    the property that makes CV reproducible at 100 TB. Map-only +
    one tiny exchange."""
    from ..functions.hashing import HASH_MOD, poly_hash

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = poly_hash(F.col("doc_id").cast("string"))
    fold = (
        (h * SAMPLE_A_KF + SAMPLE_B_KF) % HASH_MOD % KFOLD_K
    ).alias("fold")
    return (
        docs.select(fold, "lang")
        .groupBy("fold", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


SAMPLE_A_KF = 1205640943
SAMPLE_B_KF = 306977627


def _kfold_sql() -> str:
    from ..functions.hashing import HASH_MOD, poly_hash_sql

    h = poly_hash_sql("CAST(doc_id AS VARCHAR)")
    return f"""
SELECT (({h}) * {SAMPLE_A_KF} + {SAMPLE_B_KF}) % {HASH_MOD} % {KFOLD_K}
         AS fold,
       lang, count(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


# ----------------------------------------------------------------------
# Round-7 queue (implemented + tested ahead of registration — the
# round-6 freeze left zero slots; see SURVEY.md "Round-7 queue").
# ----------------------------------------------------------------------

PPS_SAMPLES_PER_LANG = 5


def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (probability-proportional-to-size) systematic sample:
    per language, pick {PPS_SAMPLES_PER_LANG} documents with
    selection probability proportional to n_chars — the curation
    move for char-budgeted corpus subsampling ("sample 5 docs per
    language, long docs proportionally more likely").

    Classic PPS systematic design made engine-exact: order docs by
    doc_id, take the int64 cumulative weight c_i per language, and
    select the doc whose (c_i - w_i, c_i] interval contains the
    stratified position p_k = ((2k+1) * W) div (2K) — the K midpoints
    of equal weight slices. No RNG, no transcendental math: the whole
    selection is integer compares, so Spark and DuckDB agree bit for
    bit (the reason this replaces exponential-clock A-ES keys, whose
    pow/ln ranking is ulp-sensitive cross-engine). A doc heavier than
    W/K can legitimately carry several sample slots — multiplicity is
    part of the design and surfaces as multiple sample_idx rows.

    Scale: the cumulative sum is a window per language — strata sweep
    in parallel, and within a stratum this is the same
    one-ordered-pass caveat as customer_balance_deciles (at extreme
    per-stratum cardinality you would pre-aggregate cumulative
    weights per shard and prefix-sum the shard totals; the window
    form is the oracle-exact statement of the semantics)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    cum_w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot_w = Window.partitionBy("lang")
    k2 = 2 * PPS_SAMPLES_PER_LANG
    with_c = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.sum("n_chars").over(cum_w).alias("_c"),
        F.sum("n_chars").over(tot_w).alias("_w_total"),
    )
    ks = F.explode(
        F.sequence(F.lit(0), F.lit(PPS_SAMPLES_PER_LANG - 1))
    ).alias("sample_idx")
    picked = with_c.select("*", ks).filter(
        (
            F.expr(f"((2 * sample_idx + 1) * _w_total) div {k2}")
            >= F.col("_c") - F.col("n_chars")
        )
        & (
            F.expr(f"((2 * sample_idx + 1) * _w_total) div {k2}")
            < F.col("_c")
        )
    )
    return picked.select(
        "lang", "sample_idx", "doc_id", "n_chars"
    )


PPS_SYSTEMATIC_SQL = f"""
WITH c AS (
  SELECT doc_id, lang, n_chars,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS c,
         sum(n_chars) OVER (PARTITION BY lang) AS w_total
  FROM documents
),
ks AS (SELECT unnest(range({PPS_SAMPLES_PER_LANG})) AS sample_idx)
SELECT lang, CAST(k.sample_idx AS BIGINT) AS sample_idx, doc_id, n_chars
FROM c CROSS JOIN ks k
WHERE ((2 * k.sample_idx + 1) * c.w_total) // {2 * PPS_SAMPLES_PER_LANG}
        >= c.c - c.n_chars
  AND ((2 * k.sample_idx + 1) * c.w_total) // {2 * PPS_SAMPLES_PER_LANG}
        < c.c
"""


# --- deterministic per-stratum uniform sample (round-8 queue) ----------

HASH_SAMPLE_K = 10
_HS_MIX = 2654435761  # Knuth multiplicative constant
_HS_MOD = 4294967296


def per_lang_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per language WITHOUT randomness: keep
    the HASH_SAMPLE_K docs with the smallest multiplicative hash of
    doc_id per stratum — the eval-set construction a training pipeline
    re-runs every snapshot, where the selection must be (a) uniform
    (the hash order is unrelated to any data attribute), (b) identical
    on any cluster/retry/engine (pure int64 arithmetic), and (c)
    MERGEABLE: the bottom-k of a union is the bottom-k of the
    per-partition bottom-k's, so shards keep k rows each and the
    shuffle carries k rows per (task, lang) instead of the corpus —
    the same partial-agg posture as the KMV sketches, reused for
    selection instead of estimation. Complements stratified_sample
    (rate-based thinning) with exact-k selection.

    Scale posture (100 TB): the window below runs over DISTINCT
    (lang, hash) pairs at test scale; production pre-aggregates the
    per-partition bottom-k first (property (c)) so no stratum's full
    population ever sorts in one task."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    hashed = docs.withColumn(
        "h", (F.col("doc_id") * _HS_MIX) % _HS_MOD
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        hashed.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= HASH_SAMPLE_K)
        .select("lang", "doc_id", "sample_rank")
    )


PER_LANG_HASH_SAMPLE_SQL = f"""
SELECT lang, doc_id, sample_rank FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY (doc_id * {_HS_MIX}) % {_HS_MOD}, doc_id
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= {HASH_SAMPLE_K}
"""


# --- temperature-scaled mixture weights (round-10 queue) ----------------

# tau = 2  <=>  p_i ^ (1/2): the standard multilingual/multi-domain
# upsampling temperature (sqrt scaling between natural and uniform).


def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per source —
    w_i = p_i^(1/tau) / sum_j p_j^(1/tau) with tau=2 — the standard
    compromise between natural sampling (starves small sources) and
    uniform (over-repeats them); completes the mixture family between
    source_mixture_weights (uniform target) and token_balanced_mixture
    (full equalization).

    Engine-exactness: the ONE transcendental per source is
    sqrt(n_tokens/tot) — a single identically-ordered double
    expression whose inputs are exact int64 sums, and IEEE-754
    requires sqrt (and the division) correctly rounded, so both
    engines produce the identical double, quantized once to int64
    micro-units. Everything after is integer: the normalizing sum is
    a sum of int64 quanta (never a float fold over sources), weights
    are ppm floor-divisions, and the boost factor vs natural share is
    an int64 milli ratio. (Contrast a sum of raw sqrt doubles, whose
    fold order could differ across engines.)

    Scale posture (100 TB): one groupBy(source) collapses the corpus
    map-side; everything downstream is a |sources|-row frame with a
    broadcast 1-row total. Overflow: s_micro <= 1e6, so the boost
    numerator s_micro * 1e6 * tot stays int64 for tot < 9e6 — the
    milli form used here (temp_weight_ppm * tot) div (1000 *
    n_tokens) holds to tot ~ 9e12 tokens; shard past that.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per = (
        docs.select("source", _ws_tokens(F.col("text")).alias("_t"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("_t").alias("n_tokens"))
    )
    tot = per.agg(F.sum("n_tokens").alias("_tot"))
    scored = per.crossJoin(F.broadcast(tot)).withColumn(
        "_s_micro",
        F.round(
            F.sqrt(F.col("n_tokens") / F.col("_tot")) * 1_000_000, 0
        ).cast("long"),
    )
    norm = scored.agg(F.sum("_s_micro").alias("_snorm"))
    return (
        scored.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000000 div greatest(_tot, 1)").alias(
                "tok_share_ppm"
            ),
            F.expr("_s_micro * 1000000 div greatest(_snorm, 1)").alias(
                "temp_weight_ppm"
            ),
            F.expr(
                "(_s_micro * 1000000 div greatest(_snorm, 1)) * _tot "
                "div greatest(1000 * n_tokens, 1)"
            ).alias("boost_milli"),
        )
    )


TEMPERATURE_MIXTURE_SQL = """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum({ws}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS _tot FROM per),
scored AS (
  SELECT source, n_docs, n_tokens, _tot,
         CAST(round(sqrt(n_tokens / CAST(_tot AS DOUBLE)) * 1000000, 0)
              AS BIGINT) AS _s_micro
  FROM per CROSS JOIN tot
),
norm AS (SELECT CAST(sum(_s_micro) AS BIGINT) AS _snorm FROM scored)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens * 1000000 // greatest(_tot, 1) AS BIGINT)
         AS tok_share_ppm,
       CAST(_s_micro * 1000000 // greatest(_snorm, 1) AS BIGINT)
         AS temp_weight_ppm,
       CAST((_s_micro * 1000000 // greatest(_snorm, 1)) * _tot
            // greatest(1000 * n_tokens, 1) AS BIGINT) AS boost_milli
FROM scored CROSS JOIN norm
""".format(ws=_WS_TOKENS_SQL)


# --- graded decontamination (round-11 queue, built round 10) --------------

OVERLAP_BIN_PPM = 100_000  # decile-width overlap bins


def contamination_overlap_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination, graded: contamination_check reports WHICH
    training docs share any 3-shingle with the eval holdout; this op
    reports HOW MUCH of each contaminated doc overlaps — the number
    the drop-vs-keep decision actually needs (a doc sharing one
    stock phrase is coincidence; a doc 80% covered by eval shingles
    is leakage). Per contaminated training doc, overlap_ppm =
    1e6 * |shared distinct shingles| div |doc's distinct shingles|
    (pure int64), histogrammed into ten fixed decile bins so the
    output is a bounded severity profile, not a per-doc dump:
    (bin_lo_ppm, n_docs, n_shared_shingles) with empty bins pinned
    to zero by a literal spine.

    Scale posture (100 TB): identical to contamination_check — the
    eval shingle set is benchmark-sized and BROADCAST into a
    left-semi probe; corpus shingles never shuffle for the overlap
    (the per-doc counts ride the already-doc-keyed shingle stage);
    the histogram is a <= 10-cell rollup.
    """
    from ..operators.dedup import doc_shingle_hashes

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    marks = docs.select(
        "doc_id",
        F.coalesce(
            F.col("source").isin(*EVAL_SOURCES), F.lit(False)
        ).alias("_eval"),
    )
    sh = doc_shingle_hashes(spark, sf_dir).join(marks, "doc_id")
    eval_sh = sh.filter(F.col("_eval")).select("h0").distinct()
    train = sh.filter(~F.col("_eval")).select("doc_id", "h0")
    tot = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_tot"))
    shared = (
        train.join(F.broadcast(eval_sh), "h0", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    scored = shared.join(tot, "doc_id").select(
        F.col("_shared"),
        F.least(
            F.expr(f"((_shared * 1000000) div _tot) div {OVERLAP_BIN_PPM}"),
            F.lit(9).cast("long"),
        ).alias("_bin"),
    )
    hist = scored.groupBy("_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_shared").alias("n_shared_shingles"),
    )
    spine = spark.range(10).select(F.col("id").alias("_bin"))
    return spine.join(F.broadcast(hist), "_bin", "left").select(
        (F.col("_bin") * OVERLAP_BIN_PPM).alias("bin_lo_ppm"),
        F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
        F.coalesce(
            "n_shared_shingles", F.lit(0).cast("long")
        ).alias("n_shared_shingles"),
    )


def _overlap_sql() -> str:
    from ..operators.dedup import shingle_hashes_cte_sql

    return f"""
WITH {shingle_hashes_cte_sql().lstrip()},
marks AS (
  -- coalesce pins "not known-eval => training data": a NULL source
  -- lands on the TRAIN side (matching the Spark coalesce), instead
  -- of vanishing from both sides via NOT NULL = NULL
  SELECT doc_id, coalesce(source IN ({_EVAL_IN}), FALSE) AS _eval
  FROM documents
),
msh AS (SELECT s.doc_id, h0, _eval FROM sh s JOIN marks USING (doc_id)),
eval_sh AS (SELECT DISTINCT h0 FROM msh WHERE _eval),
train AS (SELECT doc_id, h0 FROM msh WHERE NOT _eval),
tot AS (SELECT doc_id, count(*) AS _tot FROM train GROUP BY doc_id),
shared AS (
  SELECT doc_id, count(*) AS _shared FROM train
  WHERE h0 IN (SELECT h0 FROM eval_sh) GROUP BY doc_id
),
scored AS (
  SELECT s._shared,
         least(((s._shared * 1000000) // t._tot) // {OVERLAP_BIN_PPM},
               9) AS _bin
  FROM shared s JOIN tot t USING (doc_id)
),
hist AS (
  SELECT _bin, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(_shared) AS BIGINT) AS n_shared_shingles
  FROM scored GROUP BY _bin
)
SELECT CAST(b.b * {OVERLAP_BIN_PPM} AS BIGINT) AS bin_lo_ppm,
       COALESCE(h.n_docs, 0) AS n_docs,
       COALESCE(h.n_shared_shingles, 0) AS n_shared_shingles
FROM (SELECT unnest(range(0, 10)) AS b) b
LEFT JOIN hist h ON h._bin = b.b
"""


CONTAMINATION_OVERLAP_SQL = _overlap_sql()


# --- packing-budget sensitivity (round-12 queue, built round 10) -----------

PACK_SWEEP_BUDGETS = (256, 512, 1024, 2048)


def pack_len_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much context-window capacity does each sequence-length
    budget waste — the session_gap_sensitivity of the packing
    family: token_pack hardcodes a {PACK_BUDGET_TOKENS}-token budget,
    and the right budget is an empirical trade this sweep answers in
    one pass. Per candidate budget: bins opened by the SAME next-fit
    cumulative-sum rule token_pack ships, nominal capacity
    (bins x budget), packed tokens, and fill_ppm = tokens * 1e6 div
    capacity (can exceed 1e6: next-fit assigns a doc to the bin where
    it STARTS, so a straddling doc overflows its bin — the same
    accounting the packer itself uses).

    One pass: the per-shard running token sum is computed ONCE; each
    budget is a derived COLUMN off that cumsum (bin index, then a
    per-(budget, shard) max-bin rollup), not a re-sort. The
    {PACK_BUDGET_TOKENS}-budget row is pinned equal to token_pack's
    own bin census through the driver hash.

    Scale posture (100 TB): identical to token_pack — the windows
    partition on the {PACK_SHARDS} deterministic shards (parallel,
    spill-safe), the sweep adds |budgets| integer columns and a
    |budgets| x |shards| rollup, never another pass over text.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    staged = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        _ws_tokens(F.col("text")).alias("_t"),
    )
    cum = staged.select(
        "shard",
        "_t",
        F.expr(
            "sum(_t) OVER (PARTITION BY shard ORDER BY doc_id ASC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - _t"
        ).alias("_before"),
    )
    budgets = F.array(
        *[F.lit(b).cast("long") for b in PACK_SWEEP_BUDGETS]
    )
    exploded = cum.select(
        "shard",
        "_t",
        "_before",
        F.explode(budgets).alias("budget"),
    ).select(
        "budget",
        "shard",
        "_t",
        F.expr("_before div budget").alias("_bin"),
    )
    per_shard = exploded.groupBy("budget", "shard").agg(
        (F.max("_bin") + 1).alias("_bins"),
        F.sum("_t").alias("_tokens"),
    )
    return per_shard.groupBy("budget").agg(
        F.sum("_bins").alias("n_bins"),
        F.sum("_tokens").alias("n_tokens"),
        (F.sum("_bins") * F.col("budget")).alias("capacity_tokens"),
        F.expr(
            "CASE WHEN sum(_bins) = 0 THEN NULL"
            " ELSE (sum(_tokens) * 1000000) div (sum(_bins) * budget) END"
        ).alias("fill_ppm"),
    )


PACK_SWEEP_SQL = f"""
WITH staged AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         {_WS_TOKENS_SQL} AS _t
  FROM documents
),
cum AS (
  SELECT shard, _t,
         CAST(sum(_t) OVER (PARTITION BY shard ORDER BY doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - _t AS _before
  FROM staged
),
exploded AS (
  SELECT b.budget, shard, _t, _before // b.budget AS _bin
  FROM cum,
       (SELECT unnest([{", ".join(str(b) for b in PACK_SWEEP_BUDGETS)}])
          AS budget) b
),
per_shard AS (
  SELECT budget, shard,
         CAST(max(_bin) + 1 AS BIGINT) AS _bins,
         CAST(sum(_t) AS BIGINT) AS _tokens
  FROM exploded GROUP BY budget, shard
)
SELECT CAST(budget AS BIGINT) AS budget,
       CAST(sum(_bins) AS BIGINT) AS n_bins,
       CAST(sum(_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(_bins) * budget AS BIGINT) AS capacity_tokens,
       CASE WHEN sum(_bins) = 0 THEN NULL
            ELSE CAST((sum(_tokens) * 1000000)
                      // (sum(_bins) * budget) AS BIGINT)
       END AS fill_ppm
FROM per_shard GROUP BY budget
"""


# --- quantization-bits sweep (round-12 queue, built round 10) --------------

QUANT_SWEEP_BITS = (8, 4, 2)


def quantization_bits_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much cosine geometry survives b-bit symmetric quantization
    — the precision axis of the index-compression trade
    (dim_truncation_recall covers the width axis, pq_codebook_stats
    the codebook axis). Per bits b in {QUANT_SWEEP_BITS}: quantize
    each embedding with embedding_quantize's exact rule at L =
    2^(b-1)-1 levels (q_i = round(x_i / scale * L)), dequantize, and
    report the per-vector cosine(original, dequantized) distribution
    as integer ppm: mean (half-up int64 ratio of the quantized
    per-vector cosines) and min (the worst vector — the one an ANN
    index would misplace first).

    Engine parity: the quantize expression is embedding_quantize's
    (one division, one multiply, one round — identical text both
    engines); dot products and norms are the explicit left-folds;
    each per-vector cosine is quantized to int64 ppm BEFORE the
    rollup, so mean and min are pure integer aggregates. Zero-norm
    vectors are excluded from scoring on both engines (cosine
    undefined).

    Scale posture (100 TB): map-only per (vector, bits) — the
    |bits|-row literal explode multiplies rows, not passes; the
    rollup is |bits| rows. No shuffle carries an embedding.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    scale = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    # _scale AND the bits-invariant ||v||^2 fold are staged behind an
    # explode-of-one-struct Generate barrier (r13, the
    # embedding_anisotropy fix): without it, CollapseProject + filter
    # pushdown inline the array_max fold into the dequantize lambda —
    # evaluated per element per bits row (~4 x 64 x the needed work).
    # ||v||^2 rides the same barrier so it folds once per VECTOR, not
    # once per (vector, bits) — same left-fold text, same value.
    nv2 = F.aggregate(
        F.transform(F.col("v"), lambda a: a * a),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    staged = emb.select(
        F.explode(
            F.array(F.struct(
                F.col("v").alias("v"), scale.alias("sc"), nv2.alias("nv2")
            ))
        ).alias("s")
    ).filter(F.col("s.sc") > 0).select(
        F.col("s.v").alias("v"),
        F.col("s.sc").alias("_scale"),
        F.col("s.nv2").alias("_nv2"),
    )
    bits = spark.createDataFrame(
        [(b, 2 ** (b - 1) - 1) for b in QUANT_SWEEP_BITS],
        "bits BIGINT, levels BIGINT",
    )
    crossed = staged.crossJoin(F.broadcast(bits))
    deq = F.transform(
        F.col("v"),
        lambda x: F.round(x / F.col("_scale") * F.col("levels"), 0)
        / F.col("levels")
        * F.col("_scale"),
    )
    cos = (
        F.aggregate(
            F.zip_with(F.col("v"), F.col("_d"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.nullif(
            F.sqrt(F.col("_nv2"))
            * F.sqrt(
                F.aggregate(
                    F.transform(F.col("_d"), lambda a: a * a),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            F.lit(0.0),
        )
    )
    # _cp is staged behind a second one-struct Generate barrier: the
    # isNotNull filter below otherwise pushes into the cross join's
    # condition, re-evaluating the WHOLE cosine fold once per row in
    # the join and again in the projection (r13 plan audit: the join
    # condition carried the full dot/norm expression tree).
    q = (
        crossed.withColumn("_d", deq)
        .select(
            F.explode(
                F.array(F.struct(
                    F.col("bits").alias("bits"),
                    F.round(cos * 1_000_000, 0)
                    .cast("long")
                    .alias("_cp"),
                ))
            ).alias("r")
        )
        .filter(F.col("r._cp").isNotNull())
        .select(F.col("r.bits").alias("bits"), F.col("r._cp").alias("_cp"))
    )
    return q.groupBy("bits").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.expr(
            "(2 * sum(_cp) + count(1)) div (2 * count(1))"
        ).alias("mean_cos_ppm"),
        F.min("_cp").alias("min_cos_ppm"),
    )


_QB_DOT = (
    "list_reduce(list_prepend(0.0, "
    "list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), "
    "(acc, x) -> acc + x)"
)

QUANT_SWEEP_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
staged AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS _scale
  FROM e
),
bits AS (
  SELECT CAST(b.bits AS BIGINT) AS bits,
         CAST(b.levels AS BIGINT) AS levels
  FROM (VALUES {", ".join(f"({b}, {2 ** (b - 1) - 1})" for b in QUANT_SWEEP_BITS)})
       b(bits, levels)
),
crossed AS (
  SELECT bits, levels, vec_id, v, _scale,
         list_transform(v, x -> round(x / _scale * levels, 0)
                               / levels * _scale) AS _d
  FROM staged, bits
  WHERE _scale > 0
),
scored AS (
  SELECT bits,
         {_QB_DOT.format(a='v', b='_d')}
           / nullif(sqrt({_QB_DOT.format(a='v', b='v')})
                    * sqrt({_QB_DOT.format(a='_d', b='_d')}), 0.0) AS _cos
  FROM crossed
),
q AS (
  SELECT bits, CAST(round(_cos * 1000000, 0) AS BIGINT) AS _cp
  FROM scored WHERE _cos IS NOT NULL
)
SELECT bits,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST((2 * sum(_cp) + count(*)) // (2 * count(*)) AS BIGINT)
         AS mean_cos_ppm,
       CAST(min(_cp) AS BIGINT) AS min_cos_ppm
FROM q GROUP BY bits
"""


# --- split leakage audit (round-17 queue, built round 10) -------------------


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the held-out split actually hold anything out —
    duplicates straddling the train/test boundary inflate every eval
    number, and the hash split assigns COPIES of the same text
    independently, so exact and near duplicates leak by construction
    unless dedup ran first. This audit quantifies the leak:
    test-split docs whose exact text also appears in train, and
    test docs in a MinHash candidate pair with a train doc — the two
    tiers of contamination_check, turned inward on our own split.

    Digest/band-only: exact leakage joins (digest, split) distinct
    frames on the 32-byte md5; near-dup leakage filters the banded
    candidate pairs (never all-pairs) to cross-split ones. Rates are
    integer ppm over the test-doc census.

    Scale posture (100 TB): the exact tier is dedup_exact_stats'
    digest shuffle with a split tag; the near tier reuses
    dedup_minhash's banded join output; the rollup is one row.
    """
    from ..operators.dedup import dedup_minhash

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _split_col().alias("split")
    )
    keyed = docs.select(
        "doc_id", "split", F.md5(F.col("text").cast("binary")).alias("_k")
    )
    train_keys = (
        keyed.filter(F.col("split") == "train").select("_k").distinct()
    )
    test_docs = keyed.filter(F.col("split") == "test")
    exact_leaked = test_docs.join(train_keys, "_k", "left_semi")
    splits = keyed.select("doc_id", "split")
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    tagged = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split").alias("_sa"),
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split").alias("_sb"),
            ),
            "doc_b",
        )
    )
    near_test = (
        tagged.filter(
            (F.col("_sa") == "train") & (F.col("_sb") == "test")
        )
        .select(F.col("doc_b").alias("doc_id"))
        .union(
            tagged.filter(
                (F.col("_sa") == "test") & (F.col("_sb") == "train")
            ).select(F.col("doc_a").alias("doc_id"))
        )
        .distinct()
    )
    n_test = test_docs.agg(F.count(F.lit(1)).alias("n_test_docs"))
    n_exact = exact_leaked.agg(
        F.count(F.lit(1)).alias("n_exact_leaked")
    )
    n_near = near_test.agg(F.count(F.lit(1)).alias("n_neardup_leaked"))
    return (
        n_test.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_near))
        .select(
            "n_test_docs",
            "n_exact_leaked",
            "n_neardup_leaked",
            F.expr(
                "(n_exact_leaked * 1000000) div greatest(n_test_docs, 1)"
            ).alias("exact_leak_ppm"),
            F.expr(
                "(n_neardup_leaked * 1000000) div greatest(n_test_docs, 1)"
            ).alias("neardup_leak_ppm"),
        )
    )


def _split_leakage_sql() -> str:
    from ..operators.dedup import DEDUP_MINHASH_SQL

    return f"""
WITH keyed AS (
  SELECT doc_id, {_SPLIT_SQL} AS split, md5(text) AS _k FROM documents
),
train_keys AS (
  SELECT DISTINCT _k FROM keyed WHERE split = 'train'
),
test_docs AS (SELECT doc_id, _k FROM keyed WHERE split = 'test'),
pairs AS ({DEDUP_MINHASH_SQL.strip()}),
tagged AS (
  SELECT p.doc_a, p.doc_b, a.split AS _sa, b.split AS _sb
  FROM pairs p
  JOIN keyed a ON a.doc_id = p.doc_a
  JOIN keyed b ON b.doc_id = p.doc_b
),
near_test AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_b AS doc_id FROM tagged
    WHERE _sa = 'train' AND _sb = 'test'
    UNION ALL
    SELECT doc_a AS doc_id FROM tagged
    WHERE _sa = 'test' AND _sb = 'train'
  )
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM test_docs) AS n_test_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM test_docs
   WHERE _k IN (SELECT _k FROM train_keys)) AS n_exact_leaked,
  (SELECT CAST(count(*) AS BIGINT) FROM near_test) AS n_neardup_leaked,
  CAST((SELECT count(*) FROM test_docs
        WHERE _k IN (SELECT _k FROM train_keys)) * 1000000
       // greatest((SELECT count(*) FROM test_docs), 1) AS BIGINT)
    AS exact_leak_ppm,
  CAST((SELECT count(*) FROM near_test) * 1000000
       // greatest((SELECT count(*) FROM test_docs), 1) AS BIGINT)
    AS neardup_leak_ppm
"""


SPLIT_LEAKAGE_ORACLE = _split_leakage_sql()


# --- McNemar paired-filter comparison ----------------------------------

# The two candidate keep-filters under comparison, chosen so both are
# map-only and engine-exact: a raw-size gate and a whitespace-token
# gate (the same _ws_tokens definition bpe_token_count exports). The
# question McNemar answers is NOT "which keeps more docs" — it is
# whether the two filters disagree ASYMMETRICALLY on the same
# documents, i.e. whether switching filters would change the corpus
# rather than just relabel it.
MCNEMAR_CHARS_MIN = 500
MCNEMAR_TOKENS_MIN = 80


def mcnemar_filter_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between two document keep-filters (raw
    n_chars >= 500 vs whitespace tokens >= 80), per language — the
    PAIRED comparison the filter family was missing: comparing two
    filters by their marginal keep-rates (two independent proportions)
    throws away that they score the SAME documents; McNemar looks
    only at the discordant cells b (A keeps, B drops) and c (A drops,
    B keeps) — the documents where the choice of filter actually
    changes the corpus — and asks whether the asymmetry exceeds
    coin-flip noise.

    PURE-integer decision: the continuity-corrected statistic
    (|b-c|-1)^2/(b+c) is exported milli-quantized as one int64 floor
    division, and the alpha=0.05 decision against chi2_1(0.95) =
    3.841459 runs as the cross-multiplied integer comparison
    1000000*(|b-c|-1)^2 > 3841459*(b+c) — no float ever compares at
    the boundary (the ks_drift alpha-decision idiom). Degenerate
    b+c=0 (the filters never disagree) exports NULL chi2 and a FALSE
    decision. Exactness: (|b-c|-1)^2 <= (b+c)^2 wraps int64 only past
    ~3e9 discordant docs per language — documented headroom, not a
    risk, and the e6 numerator still clears at ~9e13 discordants via
    the DECIMAL evaluation on both engines.

    Scale posture (100 TB): map-only flag computation (two cheap
    expressions over text metadata), one (lang) groupBy of four
    conditional int64 sums. No join, no window, no shuffle wider
    than |langs| rows. Output is one row per language.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "lang",
        (F.col("n_chars") >= MCNEMAR_CHARS_MIN).cast("long").alias("_a"),
        (_ws_tokens(F.col("text")) >= MCNEMAR_TOKENS_MIN)
        .cast("long")
        .alias("_b"),
    )
    rolled = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("_a * _b")).alias("both_keep"),
        F.sum(F.expr("_a * (1 - _b)")).alias("only_size_keeps"),
        F.sum(F.expr("(1 - _a) * _b")).alias("only_tokens_keeps"),
    )
    return rolled.select(
        "lang",
        "n_docs",
        "both_keep",
        "only_size_keeps",
        "only_tokens_keeps",
        F.expr(
            "CAST(CASE WHEN only_size_keeps + only_tokens_keeps > 0 THEN"
            " (1000 * (abs(only_size_keeps - only_tokens_keeps) - 1)"
            " * (abs(only_size_keeps - only_tokens_keeps) - 1))"
            " div (only_size_keeps + only_tokens_keeps) END AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "CAST(CASE WHEN only_size_keeps + only_tokens_keeps > 0 THEN"
            " CAST(1000000 AS DECIMAL(38,0))"
            " * (abs(only_size_keeps - only_tokens_keeps) - 1)"
            " * (abs(only_size_keeps - only_tokens_keeps) - 1)"
            " > CAST(3841459 AS DECIMAL(38,0))"
            " * (only_size_keeps + only_tokens_keeps)"
            " ELSE FALSE END AS BOOLEAN)"
        ).alias("filters_differ_05"),
    )


MCNEMAR_FILTER_SQL = f"""
WITH flags AS (
  SELECT lang,
         CAST(n_chars >= {MCNEMAR_CHARS_MIN} AS BIGINT) AS _a,
         CAST({_WS_TOKENS_SQL} >= {MCNEMAR_TOKENS_MIN} AS BIGINT) AS _b
  FROM documents
),
rolled AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(_a * _b) AS BIGINT) AS both_keep,
         CAST(sum(_a * (1 - _b)) AS BIGINT) AS only_size_keeps,
         CAST(sum((1 - _a) * _b) AS BIGINT) AS only_tokens_keeps
  FROM flags GROUP BY lang
)
SELECT lang, n_docs, both_keep, only_size_keeps, only_tokens_keeps,
       CAST(CASE WHEN only_size_keeps + only_tokens_keeps > 0 THEN
         (1000 * (abs(only_size_keeps - only_tokens_keeps) - 1)
          * (abs(only_size_keeps - only_tokens_keeps) - 1))
         // (only_size_keeps + only_tokens_keeps) END AS BIGINT)
         AS chi2_milli,
       CASE WHEN only_size_keeps + only_tokens_keeps > 0 THEN
         CAST(1000000 AS HUGEINT)
         * (abs(only_size_keeps - only_tokens_keeps) - 1)
         * (abs(only_size_keeps - only_tokens_keeps) - 1)
         > CAST(3841459 AS HUGEINT)
         * (only_size_keeps + only_tokens_keeps)
       ELSE FALSE END AS filters_differ_05
FROM rolled
"""


# --- batch-padding waste curve (round-14 queue) -------------------------

# Candidate length-bucket schemes for padded batching. Each is an
# ascending capacity ladder: a doc pads to the smallest capacity that
# fits; docs longer than the top rung split into full top-rung chunks
# plus a padded remainder. Rungs are sized to the test corpus's
# 10-99-token docs the way PACK_BUDGET_TOKENS is; the algebra is
# ladder-free.
PADDING_SCHEMES = (
    ("pow2", (16, 32, 64, 128)),
    ("linear32", (32, 64, 96, 128)),
    ("single128", (128,)),
)


def padding_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many pad tokens does each length-bucketing scheme burn —
    the PADDED-batching counterpart of pack_len_sensitivity's PACKED
    accounting. Packing concatenates docs into full windows (waste =
    tail fragmentation); padded batching rounds every doc up to its
    bucket's capacity (waste = per-doc padding), and the bucket
    ladder is the knob: one giant bucket wastes ~half the batch on
    short docs, too many buckets fragments the batching. This sweep
    prices each ladder in one pass.

    Per doc with t whitespace tokens (token_pack's count; zero-token
    docs contribute nothing): full_chunks = t div max_rung each at
    max_rung tokens, remainder r = t mod max_rung pads to the
    smallest rung >= r (r = 0 pads nothing) — so
    padded(t) = (t div max)*max + coalesce(min rung >= r, 0).
    All int64; waste_ppm = 1e6 * (padded - t_total) div padded.

    Scale posture (100 TB): the token count is the one text scan
    (map-only); each scheme is a derived column off t (the
    pack_len_sensitivity sweep discipline — |schemes| columns, not
    |schemes| passes), and the rollup is |schemes| rows of int sums.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        _ws_tokens(F.col("text")).alias("_t")
    ).filter(F.col("_t") > 0)
    schemes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("scheme"),
                    F.array(*[F.lit(c) for c in caps]).alias("caps"),
                )
                for name, caps in PADDING_SCHEMES
            ]
        )
    ).alias("_s")
    graded = docs.select("_t", schemes).select(
        F.col("_s.scheme").alias("scheme"),
        "_t",
        F.expr(
            "(_t div element_at(_s.caps, -1))"
            " * element_at(_s.caps, -1)"
            " + coalesce(element_at(filter(_s.caps,"
            "     c -> c >= _t % element_at(_s.caps, -1)), 1),"
            "   0) * CASE WHEN _t % element_at(_s.caps, -1) = 0"
            "         THEN 0 ELSE 1 END"
        ).cast("long").alias("_padded"),
    )
    return graded.groupBy("scheme").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_t").alias("total_tokens"),
        F.sum("_padded").alias("padded_tokens"),
        F.expr(
            "CAST(1000000 * (sum(_padded) - sum(_t)) div sum(_padded)"
            " AS BIGINT)"
        ).alias("waste_ppm"),
    )


def _padding_sql() -> str:
    rows = ", ".join(
        f"('{name}', ARRAY{list(caps)})" for name, caps in PADDING_SCHEMES
    )
    return f"""
WITH t AS (
  SELECT {_WS_TOKENS_SQL} AS _t FROM documents
  WHERE {_WS_TOKENS_SQL} > 0
),
schemes(scheme, caps) AS (VALUES {rows}),
graded AS (
  SELECT s.scheme, t._t,
         CAST((t._t // caps[-1]) * caps[-1]
          + coalesce(list_filter(caps,
                c -> c >= t._t % caps[-1])[1], 0)
            * CASE WHEN t._t % caps[-1] = 0 THEN 0 ELSE 1 END
           AS BIGINT) AS _padded
  FROM t CROSS JOIN schemes s
)
SELECT scheme, count(*) AS n_docs,
       CAST(sum(_t) AS BIGINT) AS total_tokens,
       CAST(sum(_padded) AS BIGINT) AS padded_tokens,
       CAST(1000000 * (sum(_padded) - sum(_t)) // sum(_padded) AS BIGINT)
         AS waste_ppm
FROM graded GROUP BY scheme
"""


PADDING_WASTE_SQL = _padding_sql()
