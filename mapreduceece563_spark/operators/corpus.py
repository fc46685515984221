"""Corpus-hygiene operators for training-data assembly.

Beyond the reference's word-count surface (the reference has no
corpus-level operators at all — SURVEY.md §0), these are the standard
web-corpus cleaning passes an LLM data pipeline runs before training:
boilerplate span detection (the line/span-level dedup of C4/CCNet/
RefinedWeb, expressed over word 3-shingles because the fixture text is
single-line), source blocklist filtering (domain blocklists in real
crawls), deterministic stratified downsampling (language rebalancing),
and character-class profiling (mojibake / non-text detection).

Scale posture (100 TB):
- Boilerplate detection reuses the persisted shingle stage shared with
  the dedup family (`dedup.doc_shingle_hashes`) — one pass over the
  corpus feeds six consumers. The document-frequency threshold is
  corpus-relative (ceil(0.0025 * n_docs)) and rides a broadcast 1-row
  frame, so the plan has no driver-side collect and the "boilerplate"
  notion (appears in >=0.25% of documents) is scale-invariant.
- The boilerplate set itself is tiny relative to the corpus (shingles
  above the df threshold), so the per-doc coverage join broadcasts it.
- The blocklist anti-join broadcasts the blocklist side: real
  blocklists are millions of rows — still megabytes, still the
  broadcast side at any corpus scale.
- Stratified sampling is a broadcast join against a #strata-row dim
  plus a map-side deterministic-hash filter — no shuffle of the
  corpus, no sort, no sampling state; the same doc set is selected on
  any cluster layout (poly_hash, not rand()).
- Char-class stats aggregate int64 counter sums (never double sums),
  with ratios computed once from the final integers, so the DuckDB
  oracle matches bit-exactly (the round-1 HUGEINT/fold-order lessons).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import HASH_MOD, poly_hash, poly_hash_sql
from ..functions.text import normalized_words_array
from ..sources.catalog import load_table
from .dedup import doc_shingle_hashes, shingle_hashes_cte_sql
from .ngrams import _words_cte
from .textstats import _words_sql

# Boilerplate document-frequency threshold: a shingle present in at
# least max(4, ceil(0.0025 * n_docs)) documents is "boilerplate"
# (header/footer/template text repeats across a fixed fraction of a
# crawl regardless of its size; 4 floors the rule below ~1600 docs).
BOILER_MIN = 4
BOILER_RATE = 0.0025

# Static source blocklist, standing in for a curated domain blocklist.
BLOCKLIST = ("src3", "src7", "src13")

# Stratified sampling: hash buckets per stratum. poly_hash is linear
# in the trailing character, so consecutive doc_ids land in
# consecutive buckets — an affine scramble (h*a + b) mod p (exact
# int64 in both engines; constants = the first MinHash perm)
# equidistributes them before the bucket modulus.
SAMPLE_BUCKETS = 1000
SAMPLE_A = 1203077157
SAMPLE_B = 869531133


def _boiler_threshold_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row (thr) frame: the corpus-relative boilerplate df cutoff."""
    return (
        load_table(spark, sf_dir, "documents")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.greatest(
                F.lit(BOILER_MIN).cast("long"),
                F.ceil(F.lit(BOILER_RATE) * F.col("n_docs")),
            ).alias("thr")
        )
    )


BOILER_THR_SQL = (
    f"GREATEST({BOILER_MIN}, CAST(ceil({BOILER_RATE} * "
    "(SELECT count(*) FROM documents)) AS BIGINT))"
)


def _boiler_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(h0, df) for shingles at/above the boilerplate threshold."""
    sh = doc_shingle_hashes(spark, sf_dir)
    return (
        sh.groupBy("h0")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(_boiler_threshold_frame(spark, sf_dir)))
        .filter(F.col("df") >= F.col("thr"))
    )


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate 3-shingles: (shingle_hash, df) with df above the
    corpus-relative threshold — the cross-document repeated spans a
    C4-style cleaning pass would strip."""
    return _boiler_set(spark, sf_dir).select(
        F.col("h0").alias("shingle_hash"), F.col("df").alias("df")
    )


BOILERPLATE_NGRAMS_SQL = f"""
WITH {shingle_hashes_cte_sql().lstrip()}
SELECT h0 AS shingle_hash, count(*) AS df
FROM sh GROUP BY h0
HAVING count(*) >= {BOILER_THR_SQL}
"""


def boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate coverage: the fraction of a doc's
    distinct shingles that are corpus-boilerplate. Downstream filters
    drop docs above a coverage cutoff (template pages, navigation)."""
    sh = doc_shingle_hashes(spark, sf_dir)
    per_doc = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    boiler = _boiler_set(spark, sf_dir).select("h0")
    n_boiler = (
        sh.join(F.broadcast(boiler), "h0")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler"))
    )
    return (
        per_doc.join(n_boiler, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_boiler"), F.lit(0).cast("long")).alias(
                "n_boiler"
            ),
            F.round(
                F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double")
                / F.col("n_shingles"),
                9,
            ).alias("boiler_frac"),
        )
    )


BOILERPLATE_FRACTION_SQL = f"""
WITH {shingle_hashes_cte_sql().lstrip()},
boiler AS (
  SELECT h0 FROM sh GROUP BY h0
  HAVING count(*) >= {BOILER_THR_SQL}
),
per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
bp AS (
  SELECT sh.doc_id, count(*) AS n_boiler
  FROM sh JOIN boiler USING (h0) GROUP BY sh.doc_id
)
SELECT p.doc_id, p.n_shingles,
       CAST(COALESCE(b.n_boiler, 0) AS BIGINT) AS n_boiler,
       round(CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) / p.n_shingles, 9)
         AS boiler_frac
FROM per_doc p LEFT JOIN bp b USING (doc_id)
"""


def source_blocklist_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survivor stats after a blocklist anti-join.

    The blocklist is the broadcast side of a LEFT ANTI join — the
    shape that holds when the blocklist is a curated table of millions
    of domains (MBs) and the corpus side is 100 TB: the corpus never
    shuffles, each task streams past a broadcast hash set."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    blk = spark.createDataFrame(
        [(s,) for s in BLOCKLIST], "source string"
    )
    return (
        docs.join(F.broadcast(blk), "source", "left_anti")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_BLK_IN = ", ".join(f"'{s}'" for s in BLOCKLIST)
# "source IS NULL OR" pins the LEFT ANTI semantics the Spark side
# has: a NULL source matches no blocklist entry and SURVIVES. Bare
# NOT IN would return NULL for a NULL source and silently drop the
# row — the NOT-IN-vs-anti-join NULL divergence the round-13 NULL
# vintage caught.
SOURCE_BLOCKLIST_SQL = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE source IS NULL OR source NOT IN ({_BLK_IN})
GROUP BY source
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced deterministic downsample.

    Each language stratum keeps ~min-stratum-count documents by
    admitting doc_ids whose deterministic hash bucket falls under the
    stratum's keep-rate — the rebalancing pass a multilingual training
    mix runs. No rand(): the selected set is identical on any cluster,
    any partitioning, any retry, and in the DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    mn = counts.agg(F.min("n").alias("mn"))
    thr = F.floor(F.lit(float(SAMPLE_BUCKETS)) * F.col("mn") / F.col("n"))
    h = poly_hash(F.col("doc_id").cast("string"))
    bucket = (h * SAMPLE_A + SAMPLE_B) % HASH_MOD % SAMPLE_BUCKETS
    return (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(mn))
        .filter(bucket < thr)
        .select("doc_id", "lang")
    )


STRATIFIED_SAMPLE_SQL = f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
mn AS (SELECT min(n) AS mn FROM counts)
SELECT d.doc_id, d.lang
FROM documents d JOIN counts c USING (lang)
WHERE (({poly_hash_sql('CAST(d.doc_id AS VARCHAR)')}) * {SAMPLE_A}
       + {SAMPLE_B}) % {HASH_MOD} % {SAMPLE_BUCKETS}
      < CAST(floor({float(SAMPLE_BUCKETS)} * (SELECT mn FROM mn) / c.n)
             AS BIGINT)
"""


def _n_matching(text: Column, pattern: str) -> Column:
    """Count of chars in ``text`` matching the regex char class —
    length minus length-after-removal, pure JVM-side expressions."""
    return F.length(text) - F.length(F.regexp_replace(text, pattern, ""))


def char_class_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-class profile (alpha/space ratios).

    Sums are int64 counters; the ratios divide the two final integers
    (one exact IEEE op), so no double-sum fold-order drift between
    engines. Detects mojibake / non-text sources: a lang whose alpha
    ratio collapses is not prose."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "lang", "text"
    )
    docs = docs.filter(F.col("text").isNotNull())
    per = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        _n_matching(F.col("text"), "[a-z]").alias("n_alpha"),
        _n_matching(F.col("text"), "[ ]").alias("n_space"),
    )
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(
            F.sum("n_alpha").cast("double") / F.sum("n_chars"), 9
        ).alias("alpha_ratio"),
        F.round(
            F.sum("n_space").cast("double") / F.sum("n_chars"), 9
        ).alias("space_ratio"),
    )


CHAR_CLASS_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       round(CAST(sum(length(text)
                      - length(regexp_replace(text, '[a-z]', '', 'g')))
                  AS DOUBLE) / sum(length(text)), 9) AS alpha_ratio,
       round(CAST(sum(length(text)
                      - length(regexp_replace(text, '[ ]', '', 'g')))
                  AS DOUBLE) / sum(length(text)), 9) AS space_ratio
FROM documents
WHERE text IS NOT NULL
GROUP BY lang
"""


# Passage-level dedup granularity: non-overlapping runs of
# PASSAGE_LEN normalized words. Coarser than the 3-shingle stage
# (which detects near-dup DOCUMENTS); this finds the repeated
# passages themselves — the line/paragraph-level dedup pass of
# C4/CCNet, at the granularity the single-line fixture text allows.
PASSAGE_LEN = 8


def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated passages: non-overlapping 8-word
    windows that occur in >= 2 distinct documents.

    Map-only until one groupBy on the 8-byte passage hash: the
    passage STRINGS never shuffle (poly_hash reduces each to int64
    map-side), so the exchange moves ~#passages * 8 B regardless of
    text size — the same digest-keyed discipline as the exact-dedup
    family. Output is (passage_hash, n_docs, n_occurrences)."""
    arr = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("doc_id", normalized_words_array(F.col("text")).alias("ws"))
    )
    n = F.size(F.col("ws"))
    k = F.expr(f"size(ws) div {PASSAGE_LEN}")
    passages = F.when(
        n >= PASSAGE_LEN,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(
                F.slice(F.col("ws"), i * PASSAGE_LEN + 1, PASSAGE_LEN), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    p = arr.select("doc_id", F.explode(passages).alias("passage")).select(
        "doc_id", poly_hash(F.col("passage")).alias("passage_hash")
    )
    return (
        p.groupBy("passage_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


PASSAGE_DEDUP_SQL = f"""
WITH {_words_cte().lstrip()},
p AS (
  SELECT doc_id,
         unnest(CASE WHEN len(words) >= {PASSAGE_LEN} THEN
             list_transform(range(0, len(words) // {PASSAGE_LEN}),
               i -> array_to_string(
                      words[(i*{PASSAGE_LEN}+1):(i*{PASSAGE_LEN}+{PASSAGE_LEN})],
                      ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS passage
  FROM w
)
SELECT {poly_hash_sql('passage')} AS passage_hash,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences
FROM p
GROUP BY passage_hash
HAVING count(DISTINCT doc_id) >= 2
"""


# --- context-window chunking ------------------------------------------

CHUNK_CHARS = 500
CHUNK_STRIDE = 400  # 100-char overlap between consecutive chunks


def doc_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunks per document — the RAG/pretrain
    context-window split — emitted as a MANIFEST (doc_id, chunk_id,
    chunk_len, chunk_hash), never the chunk text itself.

    Map-only: chunk starts are a per-row ``sequence`` over the char
    length, the chunk is a substring, and only its md5 + length leave
    the row — so nothing document-sized ever crosses a shuffle, and
    the hashes plug straight into the dedup family (chunk-level exact
    dedup = one groupBy on chunk_hash). At 100 TB this is the shape
    that matters: chunking is embarrassingly parallel, and the
    manifest is ~40 bytes/chunk regardless of chunk size."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    docs = docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    n = F.length("text")
    starts = F.sequence(
        F.lit(0), F.floor((n - 1) / CHUNK_STRIDE).cast("int")
    )
    chunks = F.transform(
        starts,
        lambda i: F.substring(
            F.col("text"), i * CHUNK_STRIDE + 1, CHUNK_CHARS
        ),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "c"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.length("c").cast("long").alias("chunk_len"),
            F.md5("c").alias("chunk_hash"),
        )
    )


DOC_CHUNK_MANIFEST_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(floor((length(text) - 1) / {CHUNK_STRIDE})
                              AS BIGINT) + 1)) AS i
  FROM documents
  WHERE text IS NOT NULL AND text <> ''
)
SELECT doc_id, i AS chunk_id,
       CAST(length(substring(text, CAST(i * {CHUNK_STRIDE} + 1 AS INTEGER),
                             {CHUNK_CHARS})) AS BIGINT) AS chunk_len,
       md5(substring(text, CAST(i * {CHUNK_STRIDE} + 1 AS INTEGER),
                     {CHUNK_CHARS})) AS chunk_hash
FROM base
"""


SOURCE_OVERLAP_TOP = 20


def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 source pairs by vocabulary Jaccard — the redundancy map
    a curator consults before deduplicating across deliveries ("these
    two crawls are near-identical; dedup them against each other
    first").

    The (source, word) frame is distinct (vocabulary, not tokens —
    Zipf-bounded), the pair join keys on the WORD with a src_a <
    src_b guard, so fan-out per word is bounded by |sources|² — a
    constant, never corpus-sized. Per-source vocab sizes broadcast
    back; Jaccard is the pure-int64 ppm idiom; top-k is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "source", "text"
    )
    docs = docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    sv = docs.select(
        "source", F.explode(normalized_words_array(F.col("text"))).alias("word")
    ).distinct()
    sizes = sv.groupBy("source").agg(F.count("*").alias("_vs"))
    a, b = sv.alias("a"), sv.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("_vs").alias("_va")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("_vs").alias("_vb")
    )
    scored = (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.expr(
                "(2 * 1000000 * n_common + (_va + _vb - n_common))"
                " div (2 * (_va + _vb - n_common))"
            ).alias("_jppm"),
        )
    )
    return (
        scored.orderBy(F.desc("_jppm"), F.asc("src_a"), F.asc("src_b"))
        .limit(SOURCE_OVERLAP_TOP)
        .select(
            "src_a",
            "src_b",
            "n_common",
            (F.col("_jppm") / 1e6).alias("jaccard"),
        )
    )


from ..functions.text import words_cte_sql as _words_cte_sql  # noqa: E402

SOURCE_OVERLAP_SQL = f"""
WITH {_words_cte_sql(extra_cols="source")},
sv AS (SELECT DISTINCT source, word FROM words_f),
sizes AS (SELECT source, count(*) AS vs FROM sv GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
),
scored AS (
  SELECT src_a, src_b, n_common,
         (2 * 1000000 * n_common + (sa.vs + sb.vs - n_common))
           // (2 * (sa.vs + sb.vs - n_common)) AS jppm
  FROM pairs
  JOIN sizes sa ON sa.source = pairs.src_a
  JOIN sizes sb ON sb.source = pairs.src_b
)
SELECT src_a, src_b, n_common, jppm / 1e6 AS jaccard
FROM scored
ORDER BY jppm DESC, src_a ASC, src_b ASC
LIMIT {SOURCE_OVERLAP_TOP}
"""


# --- URL/domain-level curation (the CommonCrawl shape) ----------------
#
# The documents fixture has no URL column, so each doc's URL is
# DERIVED deterministically from (source, lang, doc_id) — documented
# here because the DuckDB oracle recomputes the canonical form
# analytically from the same columns while the Spark side does the
# real work (parse_url host/path extraction, www-strip, query-string
# drop). On a real crawl the url column exists and the derivation
# disappears; every downstream expression is unchanged.

URL_PATH_BUCKETS = 37


def _doc_url() -> Column:
    return F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/p"),
        (F.col("doc_id") % URL_PATH_BUCKETS).cast("string"),
        F.lit("?sid="),
        F.col("doc_id").cast("string"),
    )


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host-level dedup: lowercase host, strip
    the www. prefix, drop query string and fragment, then count
    distinct canonical URLs per domain — the first pass of every
    crawl-curation pipeline (the same page crawled under tracking
    parameters must collapse before content dedup even starts).

    Spark side uses the real URL machinery (``parse_url`` HOST/PATH
    against the assembled string); the oracle recomputes the canonical
    form from the generating columns. Map-only until a single
    domain-keyed exchange; the distinct count shuffles (domain,
    canonical-hash), never the document payload."""
    # a URL exists only when every generating part does: with a NULL
    # lang, Spark's concat NULLs the whole URL (NULL domain group)
    # while the oracle's domain-from-source stays non-null — the
    # asymmetric-construction divergence the NULL vintage caught
    docs = (
        load_table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", "source", "lang")
        .filter(F.col("source").isNotNull() & F.col("lang").isNotNull())
    )
    url = _doc_url()
    host = F.parse_url(url, F.lit("HOST"))
    domain = F.regexp_replace(F.lower(host), r"^www\.", "")
    canonical = F.concat(
        F.lit("https://"), domain, F.parse_url(url, F.lit("PATH"))
    )
    per = docs.select(
        domain.alias("domain"), canonical.alias("canonical")
    )
    return per.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("canonical").alias("n_canonical"),
        (F.count("*") - F.countDistinct("canonical")).alias("n_dup_urls"),
        (
            (F.count("*") - F.countDistinct("canonical")).cast("double")
            / F.count("*").cast("double")
        ).alias("dup_rate"),
    )


URL_CANONICAL_SQL = f"""
WITH per AS (
  SELECT source || '.example.com' AS domain,
         'https://' || source || '.example.com/' || lang || '/p'
           || CAST(doc_id % {URL_PATH_BUCKETS} AS VARCHAR) AS canonical
  FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL
)
SELECT domain,
       count(*) AS n_urls,
       count(DISTINCT canonical) AS n_canonical,
       count(*) - count(DISTINCT canonical) AS n_dup_urls,
       CAST(count(*) - count(DISTINCT canonical) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_rate
FROM per GROUP BY domain
"""


def domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation rollup: document count, exact-duplicate
    rate (portable text digests), token volume, and mean tokens per
    document — the table a crawl pipeline ranks domains by before
    assigning per-domain quality weights or crawl budgets.

    One pass over documents (tokenize + digest map-side), one
    domain-keyed exchange. The duplicate rate shuffles only (domain,
    digest); the mean divides once from int64 sums (half-up in pure
    int64, the cross-engine rounding contract)."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "source", "text"
    )
    per = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
        poly_hash(F.col("text")).alias("digest"),
        F.size(normalized_words_array(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return per.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("digest").alias("n_unique_texts"),
        (F.count("*") - F.countDistinct("digest")).alias("n_exact_dups"),
        F.sum("n_tokens").alias("total_tokens"),
        (
            F.expr(
                "(2 * 1000 * sum(n_tokens) + count(*)) div (2 * count(*))"
            )
            / 1000.0
        ).alias("mean_doc_tokens"),
    )


DOMAIN_QUALITY_SQL = f"""
WITH per AS (
  SELECT source || '.example.com' AS domain,
         {poly_hash_sql('text')} AS digest,
         CAST(len({{words}}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT domain,
       count(*) AS n_docs,
       count(DISTINCT digest) AS n_unique_texts,
       count(*) - count(DISTINCT digest) AS n_exact_dups,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       ((2 * 1000 * sum(n_tokens) + count(*)) // (2 * count(*))) / 1000.0
         AS mean_doc_tokens
FROM per GROUP BY domain
"""


def dataset_card_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card: corpus-level totals a training run
    records next to its data manifest (doc/source/language counts,
    token and char volume, exact-duplicate rate). Single global
    aggregate over the same map-side (digest, tokens) pass as the
    per-domain rollup; distinct counts ride the one Expand exchange.

    At 100 TB this is the cheapest query in the family: all-integer
    partial aggregates, a one-row result, no payload shuffle."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "source", "lang", "text", "n_chars"
    )
    per = docs.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        poly_hash(F.col("text")).alias("digest"),
        F.size(normalized_words_array(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return per.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("digest").alias("n_unique_texts"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (
            F.expr(
                "(2 * 1000000 * (count(*) - count(DISTINCT digest))"
                " + count(*)) div (2 * count(*))"
            )
            / 1000000.0
        ).alias("dup_rate"),
        (
            F.expr(
                "(2 * 1000 * sum(n_tokens) + count(*)) div (2 * count(*))"
            )
            / 1000.0
        ).alias("tokens_per_doc"),
    )


DATASET_CARD_SQL = f"""
WITH per AS (
  SELECT source, lang, CAST(n_chars AS BIGINT) AS n_chars,
         {poly_hash_sql('text')} AS digest,
         CAST(len({{words}}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT digest) AS n_unique_texts,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       ((2 * 1000000 * (count(*) - count(DISTINCT digest)) + count(*))
          // (2 * count(*))) / 1000000.0 AS dup_rate,
       ((2 * 1000 * sum(n_tokens) + count(*)) // (2 * count(*))) / 1000.0
         AS tokens_per_doc
FROM per
"""


DOMAIN_QUALITY_SQL = DOMAIN_QUALITY_SQL.format(words=_words_sql())
DATASET_CARD_SQL = DATASET_CARD_SQL.format(words=_words_sql())


# --- UDTF word-window chunker ------------------------------------------
#
# The one Python-execution API surface the engine had not exercised:
# a user-defined TABLE function (Spark 3.5+/4 `udtf`, Arrow-optimized)
# consumed through a SQL LATERAL join. Word-window chunking is the
# natural UDTF shape — one input row fans out to a variable number of
# chunk rows with per-row imperative logic (slice, join, hash) that a
# generator expresses directly.

UDTF_CHUNK_WORDS = 100
UDTF_CHUNK_STRIDE = 80


def _py_poly_hash(s: str) -> int:
    """Pure-Python twin of functions.hashing.poly_hash (codepoint
    fold, int64-exact); empty string -> 0."""
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % HASH_MOD
    return acc


def udtf_word_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping WORD-window chunks (100 words, stride 80) per
    document through an Arrow-optimized Python UDTF in a LATERAL
    join — the RAG/pretrain token-window split as a table function.
    Output is manifest-shaped (chunk ordinal, word count, portable
    chunk hash), never the chunk text; the hash is the engine's
    polynomial fold over the space-joined words, recomputed
    identically by the oracle with list_slice + array_to_string.

    Scale posture: the UDTF runs per input partition (map-side
    fan-out, no shuffle at all); Arrow batches carry the word arrays
    in columnar form; only ~32 bytes/chunk leave the row. Same plan
    class as doc_chunk_manifest (its char-window, all-native
    sibling) — this entry certifies the udtf() execution path."""
    from pyspark.sql.functions import udtf

    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    words = docs.select(
        "doc_id", normalized_words_array(F.col("text")).alias("words")
    )
    view = "udtf_chunker_src"
    words.createOrReplaceTempView(view)

    chunk_w, stride = UDTF_CHUNK_WORDS, UDTF_CHUNK_STRIDE

    @udtf(
        returnType="chunk_no INT, n_words BIGINT, chunk_hash BIGINT",
        useArrow=True,
    )
    class WordChunker:
        def eval(self, words: list):
            if not words:
                return
            n = len(words)
            k_max = 0 if n <= chunk_w else (n - chunk_w + stride - 1) // stride
            for k in range(k_max + 1):
                chunk = words[k * stride: k * stride + chunk_w]
                yield (
                    k,
                    len(chunk),
                    _py_poly_hash(" ".join(chunk)),
                )

    spark.udtf.register("word_chunker", WordChunker)
    return spark.sql(
        f"""
        SELECT w.doc_id, c.chunk_no, c.n_words, c.chunk_hash
        FROM {view} AS w, LATERAL word_chunker(w.words) AS c
        """
    )


def _udtf_word_chunks_sql() -> str:
    cw, st = UDTF_CHUNK_WORDS, UDTF_CHUNK_STRIDE
    return f"""
WITH w AS (SELECT doc_id, {_words_sql()} AS words FROM documents),
base AS (
  SELECT doc_id, words, len(words) AS n,
         CASE WHEN len(words) <= {cw} THEN 0
              ELSE CAST((len(words) - {cw} + {st} - 1) // {st} AS BIGINT)
         END AS k_max
  FROM w WHERE len(words) > 0
),
expanded AS (
  SELECT doc_id, words,
         CAST(unnest(range(0, k_max + 1)) AS INT) AS chunk_no
  FROM base
),
chunks AS (
  SELECT doc_id, chunk_no,
         list_slice(words, chunk_no * {st} + 1,
                    chunk_no * {st} + {cw}) AS chunk
  FROM expanded
)
SELECT doc_id, chunk_no,
       CAST(len(chunk) AS BIGINT) AS n_words,
       {poly_hash_sql("array_to_string(chunk, ' ')")} AS chunk_hash
FROM chunks
"""


# --- PII redaction audit ----------------------------------------------

# Deliberately simple, lookaround-free patterns so Java regex (Spark)
# and RE2 (DuckDB) agree character-for-character.
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{4}"


def pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with ground truth: inject deterministic PII into
    the corpus (doc_id % 3 == 0 gains an email, doc_id % 5 == 0 a
    phone number — the multimodal-payload pattern: both engines build
    the identical corpus), then run the production scrub and account
    for every removed character. Per source: docs, docs carrying PII,
    email/phone hit counts, and the exact redacted-character total
    (= length before minus length after replacing every match with
    the empty string). The oracle replays injection + scrub with
    RE2, so any Java-vs-RE2 semantic slip in the patterns breaks the
    hash — which is the audit a real pipeline needs before trusting
    a regex scrubber at 100 TB.

    Scale posture: injection + scrub + length math is ONE map-only
    pass (regexp_count/regexp_replace are JVM-side codegen'd exprs,
    no Python); the rollup shuffles 5 small columns keyed by source.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source", "text"
    )
    aug = docs.withColumn(
        "aug",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" reach me at user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" call 555-0199 now")
            ).otherwise(F.lit("")),
        ),
    )
    scrubbed = aug.select(
        "source",
        F.regexp_count("aug", F.lit(PII_EMAIL_RE)).alias("n_email"),
        F.regexp_count("aug", F.lit(PII_PHONE_RE)).alias("n_phone"),
        (
            F.length("aug")
            - F.length(
                F.regexp_replace(
                    F.regexp_replace("aug", PII_EMAIL_RE, ""),
                    PII_PHONE_RE,
                    "",
                )
            )
        ).cast("long").alias("chars_redacted"),
    )
    return scrubbed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            ((F.col("n_email") > 0) | (F.col("n_phone") > 0)).cast("long")
        ).alias("docs_with_pii"),
        F.sum("n_email").alias("n_email"),
        F.sum("n_phone").alias("n_phone"),
        F.sum("chars_redacted").alias("chars_redacted"),
    )


PII_REDACTION_SQL = f"""
WITH aug AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
                      || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' call 555-0199 now'
                 ELSE '' END AS aug
  FROM documents
),
scrubbed AS (
  SELECT source,
         len(regexp_extract_all(aug, '{PII_EMAIL_RE}')) AS n_email,
         len(regexp_extract_all(aug, '{PII_PHONE_RE}')) AS n_phone,
         length(aug) - length(
           regexp_replace(
             regexp_replace(aug, '{PII_EMAIL_RE}', '', 'g'),
             '{PII_PHONE_RE}', '', 'g')
         ) AS chars_redacted
  FROM aug
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_email > 0 OR n_phone > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       CAST(sum(n_email) AS BIGINT) AS n_email,
       CAST(sum(n_phone) AS BIGINT) AS n_phone,
       CAST(sum(chars_redacted) AS BIGINT) AS chars_redacted
FROM scrubbed GROUP BY source
"""


# --- per-domain contribution cap (round-10 queue) ----------------------

DOMAIN_DOC_CAP = 20  # max docs a single domain may contribute


def domain_cap_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap — the anti-domination gate every
    crawl-curation pipeline runs after URL dedup ("no single domain
    may contribute more than K documents, keep its best K"): rank each
    domain's docs by quality (ppm-quantized, tie -> lowest doc_id),
    keep the top DOMAIN_DOC_CAP, and report per-domain kept/dropped
    accounting plus the surviving character mass.

    Engine-exact: selection order is (quality ppm DESC, doc_id ASC) —
    the already-pinned quality_score double quantized once, then pure
    integer compares; both engines rank identically.

    Scale posture (100 TB): per-group top-k with a SMALL k is the one
    per-doc window that is scale-correct — the row_number() <= K
    FILTER plans as WindowGroupLimit (plan-pinned in
    tests/test_round10_queue.py), which keeps only K rows per group
    per partition map-side BEFORE the domain exchange, so the shuffle
    carries <= K * n_partitions rows per domain, never the domain's
    full posting. Totals deliberately come from a separate window-FREE
    rollup straight off the documents scan (counting needs no quality
    join and no rank — folding totals into the ranked frame would
    force the full window over every row and forfeit the group
    limit); the two per-domain aggregates then join on the tiny
    domain key. (Contrast quality_quantile_normalize, where an
    UNBOUNDED per-doc rank would be the window-skew trap — bounded k
    is what makes this shape legal.)
    """
    from pyspark.sql import Window

    from .textstats import quality_score

    q = quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("quality") * 1_000_000, 0).cast("long").alias("_qp"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    domain = F.concat(F.col("source"), F.lit(".example.com")).alias("domain")
    totals = docs.select(domain).groupBy("domain").agg(
        F.count("*").alias("n_docs")
    )
    per = docs.join(q, "doc_id").select(domain, "doc_id", "_qp", "n_chars")
    w = Window.partitionBy("domain").orderBy(F.desc("_qp"), F.asc("doc_id"))
    kept = (
        per.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= DOMAIN_DOC_CAP)
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    return totals.join(kept, "domain").select(
        "domain",
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
        "kept_chars",
    )


def _domain_cap_sql() -> str:
    from .textstats import QUALITY_SQL

    return f"""
WITH q AS ({QUALITY_SQL}),
totals AS (
  SELECT source || '.example.com' AS domain, count(*) AS n_docs
  FROM documents GROUP BY source
),
per AS (
  SELECT d.source || '.example.com' AS domain, d.doc_id,
         CAST(round(q.quality * 1000000, 0) AS BIGINT) AS _qp,
         d.n_chars
  FROM documents d JOIN q ON d.doc_id = q.doc_id
),
ranked AS (
  SELECT domain, n_chars,
         row_number() OVER (PARTITION BY domain
                            ORDER BY _qp DESC, doc_id ASC) AS _r
  FROM per
),
kept AS (
  SELECT domain, count(*) AS n_kept, sum(n_chars) AS kept_chars
  FROM ranked WHERE _r <= {DOMAIN_DOC_CAP} GROUP BY domain
)
SELECT t.domain,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(k.n_kept AS BIGINT) AS n_kept,
       CAST(t.n_docs - k.n_kept AS BIGINT) AS n_dropped,
       CAST(k.kept_chars AS BIGINT) AS kept_chars
FROM totals t JOIN kept k ON t.domain = k.domain
"""


DOMAIN_CAP_SQL = _domain_cap_sql()


# --- token-mass concentration per source (round-11 queue) --------------


def token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-document token mass within each source —
    the concentration audit a mixing pipeline runs next to the
    diversity rollups: a source whose token mass is carried by a few
    giant documents (gini -> 1) behaves very differently under
    doc-level sampling, dedup, and packing than one with even mass
    (gini -> 0), even when their total token counts match.

    Computed INTEGER-exactly at histogram granularity, never as a
    per-doc rank: group by (source, n_tokens) to per-value counts c,
    take cum-below m with a window over the DISTINCT token values
    only, and use that positions m+1..m+c of a tied value-group
    contribute tok * (2*c*m + c*(c+1)) to twice the rank-weighted sum
    (ties commute, so any tie order gives the same sum). Then
    gini_ppm = (w2 - (n+1)*s) * 1e6 div (n*s) with w2 = 2*sum(i*x_i),
    s = total tokens — evaluated in DECIMAL(38,0) / HUGEINT on both
    engines, so the identity survives petabyte token counts (w2 <=
    2*n*s needs 128-bit long before any real corpus does).

    Scale posture (100 TB): the quality_quantile_normalize shape — one
    groupBy (source, n_tokens) collapses the corpus map-side to the
    distinct-token-count histogram (thousands of rows per source, not
    docs), the cumulative window slides over that bounded frame, and
    the final rollup rides the same partitioning. Output is one row
    per source. A per-doc row_number() formulation would sort whole
    sources inside single partitions (the window-skew trap this
    module's cap op also avoids).
    """
    from pyspark.sql import Window

    # NULL text carries zero token mass, exactly like an empty doc
    # (NULL-vintage policy: a NULL _tok histogram row would otherwise
    # ride the cumulative window, whose NULL ordering differs across
    # engines)
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "source",
        F.size(normalized_words_array(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("_tok"),
    )
    per_val = docs.groupBy("source", "_tok").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("_tok")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stepped = per_val.select(
        "source",
        "_tok",
        "_c",
        F.coalesce(F.sum("_c").over(w_cum), F.lit(0)).alias("_m"),
    )
    return (
        stepped.groupBy("source")
        .agg(
            F.sum("_c").alias("n_docs"),
            F.sum(F.col("_tok") * F.col("_c")).alias("total_tokens"),
            F.sum(
                F.expr(
                    "CAST(_tok AS DECIMAL(38,0))"
                    " * (2 * _c * _m + _c * (_c + 1))"
                )
            ).alias("_w2"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.expr(
                "CAST((_w2 - (CAST(n_docs AS DECIMAL(38,0)) + 1)"
                " * total_tokens) * 1000000 div"
                " greatest(CAST(n_docs AS DECIMAL(38,0))"
                " * total_tokens, 1) AS BIGINT)"
            ).alias("gini_ppm"),
        )
    )


TOKEN_GINI_SQL = f"""
WITH docs0 AS (
  -- NULL text = zero token mass (matches the Spark coalesce)
  SELECT source, coalesce(text, '') AS text FROM documents
),
w AS (SELECT source, {_words_sql()} AS words FROM docs0),
toks AS (SELECT source, CAST(len(words) AS BIGINT) AS _tok FROM w),
per_val AS (
  SELECT source, _tok, CAST(count(*) AS BIGINT) AS _c
  FROM toks GROUP BY source, _tok
),
stepped AS (
  SELECT source, _tok, _c,
         coalesce(sum(_c) OVER (PARTITION BY source ORDER BY _tok
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS _m
  FROM per_val
),
rolled AS (
  SELECT source,
         CAST(sum(_c) AS BIGINT) AS n_docs,
         CAST(sum(_tok * _c) AS BIGINT) AS total_tokens,
         CAST(sum(CAST(_tok AS HUGEINT)
                  * (2 * _c * _m + _c * (_c + 1))) AS HUGEINT) AS _w2
  FROM stepped GROUP BY source
)
SELECT source, n_docs, total_tokens,
       CAST((_w2 - (CAST(n_docs AS HUGEINT) + 1) * total_tokens) * 1000000
            // greatest(CAST(n_docs AS HUGEINT) * total_tokens, 1)
            AS BIGINT) AS gini_ppm
FROM rolled
"""


# --- Simpson diversity of the vocabulary per source (round-12 queue) ---


def simpson_vocab_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration / inverse-Simpson effective vocabulary of
    each source's token distribution — the diversity audit next to
    token_gini_by_source: Gini asks "is the token MASS spread across
    documents", Simpson asks "is the token mass spread across the
    VOCABULARY" (the probability two tokens drawn without replacement
    are the same word). A source that is 10^6 copies of one sentence
    and a source of diverse prose can carry identical Gini yet sit at
    opposite Simpson ends — which is exactly the repetition pathology
    a pre-training mix wants flagged.

    PURE-integer algebra (no float anywhere): per (source, word)
    counts c from one explode + groupBy; lambda = sum(c*(c-1)) /
    (N*(N-1)) exported as simpson_ppb = sum(c*(c-1)) * 1e9 div
    (N*(N-1)), and effective vocabulary (inverse Simpson) as
    inv_simpson_milli = N*(N-1) * 1000 div sum(c*(c-1)) (NULL when
    every token is unique — lambda = 0 has no finite inverse) — both
    evaluated in DECIMAL(38,0)/HUGEINT (sum(c*(c-1)) <= N^2 wraps
    int64 already at N ~ 3e9 tokens, and the ppb numerator at ~3e4,
    so the lift is mandatory, not headroom).

    Scale posture (100 TB): the (source, word) groupBy is the
    wordcount shuffle with map-side partials (bounded by vocabulary,
    not corpus size); the per-source rollup collapses that to one row
    per source before the second tiny exchange. No window, no join.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "source",
        F.explode(normalized_words_array(F.col("text"))).alias("_w"),
    )
    per_word = docs.groupBy("source", "_w").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        per_word.groupBy("source")
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(
                F.expr("CAST(_c AS DECIMAL(38,0)) * (_c - 1)")
            ).alias("_coll"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            F.expr(
                "CAST(_coll * 1000000000 div"
                " greatest(CAST(n_tokens AS DECIMAL(38,0))"
                " * (n_tokens - 1), 1) AS BIGINT)"
            ).alias("simpson_ppb"),
            F.expr(
                "CAST(CASE WHEN _coll > 0 THEN"
                " CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)"
                " * 1000 div _coll END AS BIGINT)"
            ).alias("inv_simpson_milli"),
        )
    )


SIMPSON_VOCAB_SQL = f"""
WITH w AS (SELECT source, {_words_sql()} AS words FROM documents),
tok AS (SELECT source, unnest(words) AS _w FROM w),
per_word AS (
  SELECT source, _w, CAST(count(*) AS BIGINT) AS _c
  FROM tok GROUP BY source, _w
),
rolled AS (
  SELECT source,
         CAST(sum(_c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(CAST(_c AS HUGEINT) * (_c - 1)) AS HUGEINT) AS _coll
  FROM per_word GROUP BY source
)
SELECT source, n_tokens, n_distinct,
       CAST(_coll * 1000000000
            // greatest(CAST(n_tokens AS HUGEINT) * (n_tokens - 1), 1)
            AS BIGINT) AS simpson_ppb,
       CAST(CASE WHEN _coll > 0 THEN
              CAST(n_tokens AS HUGEINT) * (n_tokens - 1) * 1000 // _coll
            END AS BIGINT) AS inv_simpson_milli
FROM rolled
"""


# --- token-weighted quality quantiles (round-16 queue) -------------------


def token_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted quality quartiles per source — the TOKEN's-eye
    view of quality: doc-level quantiles answer "what does the median
    DOCUMENT look like", but a model trains on tokens, and one
    10k-token junk doc outweighs a hundred clean tweets. Reports, per
    source, the smallest quality value at or below which 25% / 50% /
    75% of the source's TOKEN MASS sits — the numbers a mixing policy
    actually trades on (and the mass-weighted complement of
    token_gini_by_source).

    Integer-exact: quality ppm (the oracle-pinned double, quantized
    once) per doc, token counts as weights, one groupBy (source, qp)
    to the weighted histogram, cumulative-token window over DISTINCT
    quality values, and each quartile is an ORDER STATISTIC pick
    (smallest qp with 4*cum >= k*total, k in 1,2,3 — never
    interpolated). Zero-token docs carry no mass and drop out of the
    weighting naturally.

    Scale posture (100 TB): the quality_quantile_normalize shape —
    the corpus collapses map-side to the (source, qp) histogram, the
    window slides over bounded distinct values, and the three
    quartile picks are filtered MINs on that same tiny frame.
    """
    from .textstats import quality_score

    q = quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("quality") * 1_000_000, 0).cast("long").alias("_qp"),
        F.col("n_tokens").alias("_tok"),
    )
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    hist = (
        q.join(meta, "doc_id")
        .groupBy("source", "_qp")
        .agg(F.sum("_tok").alias("_w"))
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("source")
        .orderBy("_qp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("source")
    stepped = hist.select(
        "source",
        "_qp",
        F.sum("_w").over(w_cum).alias("_cum"),
        F.sum("_w").over(w_all).alias("_tot"),
    ).filter(F.col("_tot") > 0)
    picks = [
        stepped.filter(4 * F.col("_cum") >= k * F.col("_tot"))
        .groupBy("source")
        .agg(
            F.min("_qp").alias(name),
            F.max("_tot").alias(f"_t{k}"),
        )
        for k, name in ((1, "q25_ppm"), (2, "q50_ppm"), (3, "q75_ppm"))
    ]
    out = picks[0].join(picks[1], "source").join(picks[2], "source")
    return out.select(
        "source",
        F.col("_t1").alias("total_tokens"),
        "q25_ppm",
        "q50_ppm",
        "q75_ppm",
    )


TOKEN_WEIGHTED_QUALITY_SQL = f"""
WITH q AS ({{quality}}),
hist AS (
  SELECT d.source,
         CAST(round(q.quality * 1000000, 0) AS BIGINT) AS _qp,
         CAST(sum(q.n_tokens) AS BIGINT) AS _w
  FROM q JOIN documents d ON q.doc_id = d.doc_id
  GROUP BY d.source, CAST(round(q.quality * 1000000, 0) AS BIGINT)
),
stepped AS (
  SELECT source, _qp,
         sum(_w) OVER (PARTITION BY source ORDER BY _qp
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum,
         sum(_w) OVER (PARTITION BY source) AS _tot
  FROM hist
),
nz AS (SELECT * FROM stepped WHERE _tot > 0),
p25 AS (SELECT source, CAST(min(_qp) AS BIGINT) AS q25_ppm,
               CAST(max(_tot) AS BIGINT) AS total_tokens
        FROM nz WHERE 4 * _cum >= 1 * _tot GROUP BY source),
p50 AS (SELECT source, CAST(min(_qp) AS BIGINT) AS q50_ppm
        FROM nz WHERE 4 * _cum >= 2 * _tot GROUP BY source),
p75 AS (SELECT source, CAST(min(_qp) AS BIGINT) AS q75_ppm
        FROM nz WHERE 4 * _cum >= 3 * _tot GROUP BY source)
SELECT a.source, a.total_tokens, a.q25_ppm, b.q50_ppm, c.q75_ppm
FROM p25 a JOIN p50 b ON a.source = b.source
JOIN p75 c ON a.source = c.source
"""


def _token_weighted_sql() -> str:
    from .textstats import QUALITY_SQL

    return TOKEN_WEIGHTED_QUALITY_SQL.format(quality=QUALITY_SQL)


TOKEN_WEIGHTED_SQL = _token_weighted_sql()


# --- Heaps' law fit (round-13 queue, built round 10) ------------------------

HEAPS_CHECKPOINTS = 10


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law exponent per source: vocabulary grows as
    V(N) ~ K * N^beta (natural text: beta ~ 0.4-0.6). A source whose
    beta collapses toward 0 has stopped contributing new vocabulary
    (template spam, logs); one near 1 is noise/IDs. The fit is the
    per-source companion of zipf_slope_by_source — the two exponents
    are the standard corpus-structure fingerprint.

    Checkpointing without a per-document window: the ingest sequence
    is sliced at {HEAPS_CHECKPOINTS} fixed doc_id cuts computed
    arithmetically from each source's (min, max) doc_id — cut_k =
    min + ((max - min + 1) * k) div {HEAPS_CHECKPOINTS} for k = 1..C
    — so no ordered window ever runs over documents. A word's first
    occurrence is min(doc_id) per (source, word) (one vocabulary-
    granular groupBy); V_k counts first occurrences <= cut_k, N_k
    sums per-doc token counts <= cut_k — both as conditional
    aggregates over the checkpoint explode. beta is the Zipf-idiom
    regression: ln V and ln N quantized to int64 micro-nats,
    integer normal equations, one correctly-rounded float division.
    Checkpoints with V = 0 are excluded (empty prefix, ln undefined)
    identically on both engines; NULL beta when fewer than two
    distinct x values survive.

    Scale posture (100 TB): one (source, word) groupBy (vocabulary
    frame), one per-doc token-count frame, each exploded by the
    C-row literal checkpoint spine and collapsed map-side. Nothing
    sorts documents.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    words = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", normalized_words_array(F.col("text")).alias("_ws"))
        .select(
            "doc_id",
            "source",
            F.explode("_ws").alias("word"),
        )
    )
    bounds = docs.groupBy("source").agg(
        F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi")
    )
    ks = F.sequence(F.lit(1), F.lit(HEAPS_CHECKPOINTS))
    cuts = bounds.select(
        "source",
        "_lo",
        "_hi",
        F.explode(ks).alias("k"),
    ).select(
        "source",
        "k",
        F.expr(
            f"_lo + ((_hi - _lo + 1) * k) div {HEAPS_CHECKPOINTS}"
        ).alias("cut"),
    )
    first_occ = words.groupBy("source", "word").agg(
        F.min("doc_id").alias("_first")
    )
    vocab_k = (
        first_occ.join(cuts, "source")
        .filter(F.col("_first") < F.col("cut"))
        .groupBy("source", "k")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    # per-doc token counts WITHOUT a second tokenize+explode+groupBy
    # (r13): count of exploded tokens per doc == size of the word
    # array. Empty/NULL-text docs yield _t = 0/NULL here where the
    # explode yielded no group — both contribute nothing to the
    # checkpoint sums, so n_k is unchanged.
    doc_tokens = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(normalized_words_array(F.col("text"))).cast("long").alias("_t"),
    )
    tokens_k = (
        doc_tokens.join(cuts, "source")
        .filter(F.col("doc_id") < F.col("cut"))
        .groupBy("source", "k")
        .agg(F.sum("_t").alias("n"))
    )
    pts = (
        vocab_k.join(tokens_k, ["source", "k"])
        .filter((F.col("v") > 0) & (F.col("n") > 0))
        .select(
            "source",
            F.round(F.log(F.col("n").cast("double")) * 1_000_000, 0)
            .cast("long")
            .alias("x"),
            F.round(F.log(F.col("v").cast("double")) * 1_000_000, 0)
            .cast("long")
            .alias("y"),
        )
    )
    agg = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_checkpoints"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n_checkpoints") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n_checkpoints") * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        "source",
        "n_checkpoints",
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(
            F.round(
                num.cast("double") / den.cast("double") * 1_000_000, 0
            ).cast("long")
        )
        .alias("heaps_beta_micro"),
    )


HEAPS_LAW_SQL = f"""
WITH {{words_cte}},
wsrc AS (
  SELECT w.doc_id, d.source, unnest(w.words) AS word
  FROM w JOIN documents d USING (doc_id)
),
bounds AS (
  SELECT source, min(doc_id) AS _lo, max(doc_id) AS _hi
  FROM documents GROUP BY source
),
cuts AS (
  SELECT source, k.k AS k,
         _lo + ((_hi - _lo + 1) * k.k) // {HEAPS_CHECKPOINTS} AS cut
  FROM bounds,
       (SELECT unnest(range(1, {HEAPS_CHECKPOINTS + 1})) AS k) k
),
first_occ AS (
  SELECT source, word, min(doc_id) AS _first
  FROM wsrc GROUP BY source, word
),
vocab_k AS (
  SELECT f.source, c.k, CAST(count(*) AS BIGINT) AS v
  FROM first_occ f JOIN cuts c USING (source)
  WHERE f._first < c.cut
  GROUP BY f.source, c.k
),
doc_tokens AS (
  SELECT source, doc_id, CAST(count(*) AS BIGINT) AS _t
  FROM wsrc GROUP BY source, doc_id
),
tokens_k AS (
  SELECT t.source, c.k, CAST(sum(t._t) AS BIGINT) AS n
  FROM doc_tokens t JOIN cuts c USING (source)
  WHERE t.doc_id < c.cut
  GROUP BY t.source, c.k
),
pts AS (
  SELECT v.source,
         CAST(round(ln(CAST(t.n AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(v.v AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
  FROM vocab_k v JOIN tokens_k t ON v.source = t.source AND v.k = t.k
  WHERE v.v > 0 AND t.n > 0
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_checkpoints,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY source
)
SELECT source, n_checkpoints,
       CASE WHEN n_checkpoints * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(round(
              CAST(n_checkpoints * sxy - sx * sy AS DOUBLE)
              / CAST(n_checkpoints * sxx - sx * sx AS DOUBLE)
              * 1000000, 0) AS BIGINT)
       END AS heaps_beta_micro
FROM agg
"""


def _heaps_law_sql() -> str:
    return HEAPS_LAW_SQL.format(words_cte=_words_cte().lstrip())


HEAPS_LAW_ORACLE = _heaps_law_sql()


# --- chunk-level dedup census (round-17 queue, built round 10) --------------


def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at RAG-CHUNK granularity: doc_chunk_manifest
    already emits (doc, chunk, hash) for the overlapping context
    windows a retrieval index stores; this is the census an indexing
    pipeline runs before embedding them — duplicate chunks waste
    embedding compute AND pollute retrieval (the same passage
    retrieved k times crowds out diversity). Reported: chunks,
    distinct hashes, chunks in duplicate families, and the
    cross-document duplicate tier (hashes spanning >1 doc — true
    redundancy, not self-overlap within a document).

    Scale posture (100 TB): rides the map-only manifest (chunk text
    never shuffles — 40-byte manifest rows); ONE groupBy(chunk_hash)
    carrying count + distinct-doc count; a 1-row rollup.
    """
    m = doc_chunk_manifest(spark, sf_dir)
    fams = m.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    return fams.agg(
        F.sum("n_copies").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum(
            F.when(F.col("n_copies") > 1, F.col("n_copies")).otherwise(0)
        ).alias("n_chunks_in_dup_families"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
            "n_cross_doc_hashes"
        ),
        F.sum(
            F.when(F.col("n_docs") > 1, F.col("n_copies")).otherwise(0)
        ).alias("n_chunks_cross_doc"),
    )


def _chunk_dedup_sql() -> str:
    return f"""
WITH manifest AS ({DOC_CHUNK_MANIFEST_SQL.strip()}),
fams AS (
  SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM manifest GROUP BY chunk_hash
)
SELECT CAST(sum(n_copies) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       CAST(sum(CASE WHEN n_copies > 1 THEN n_copies ELSE 0 END)
            AS BIGINT) AS n_chunks_in_dup_families,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_doc_hashes,
       CAST(sum(CASE WHEN n_docs > 1 THEN n_copies ELSE 0 END)
            AS BIGINT) AS n_chunks_cross_doc
FROM fams
"""


CHUNK_DEDUP_ORACLE = _chunk_dedup_sql()


# --- Chao1 / Good-Turing vocabulary richness ---------------------------


def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 estimate of each source's TRUE vocabulary size plus the
    Good-Turing unseen-probability mass — the "how much vocabulary
    haven't we crawled yet" audit that heaps_law_fit (growth-curve
    extrapolation) and simpson_vocab_diversity (concentration) both
    stop short of: Chao1 is the nonparametric lower bound on the
    species count from just the singleton/doubleton frequencies, and
    f1/N is the Good-Turing estimate of the probability the NEXT
    token is a never-seen word — the single number that says whether
    a source is vocabulary-saturated (crawl more adds no new words)
    or still surprising.

    PURE-integer algebra: per-(source, word) counts from the
    wordcount shuffle, then V (distinct), f1 (hapaxes), f2
    (doubletons), N (tokens) per source; the bias-corrected Chao1
    V + f1*(f1-1)/(2*(f2+1)) is an exact int64 floor division (the
    +1 in the denominator makes the f2=0 case well-defined — Chao's
    own correction, not a fudge), and unseen_mass_ppm = 1e6*f1 div N.
    f1 <= N keeps every product under int64 until N ~ 3e9 tokens per
    source; past that lift the chao1 numerator to DECIMAL(38,0).

    Scale posture (100 TB): one (source, word) groupBy with map-side
    partials (bounded by vocabulary x sources, not corpus size),
    then a per-source rollup of four int64 aggregates. No window, no
    join. Output is one row per source.
    """
    tok = load_table(spark, sf_dir, "documents", spread=True).select(
        "source",
        F.explode(normalized_words_array(F.col("text"))).alias("_w"),
    )
    per_word = tok.groupBy("source", "_w").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        per_word.groupBy("source")
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("f1"),
            F.sum(F.when(F.col("_c") == 2, 1).otherwise(0)).alias("f2"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "f1",
            "f2",
            F.expr(
                "CAST(vocab + (f1 * (f1 - 1)) div (2 * (f2 + 1))"
                " AS BIGINT)"
            ).alias("chao1_est"),
            F.expr(
                "CAST((1000000 * f1) div n_tokens AS BIGINT)"
            ).alias("unseen_mass_ppm"),
        )
    )


CHAO1_VOCAB_SQL = f"""
WITH w AS (SELECT source, {_words_sql()} AS words FROM documents),
tok AS (SELECT source, unnest(words) AS _w FROM w),
per_word AS (
  SELECT source, _w, CAST(count(*) AS BIGINT) AS _c
  FROM tok GROUP BY source, _w
),
rolled AS (
  SELECT source,
         CAST(sum(_c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(CASE WHEN _c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN _c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM per_word GROUP BY source
)
SELECT source, n_tokens, vocab, f1, f2,
       CAST(vocab + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
         AS chao1_est,
       CAST((1000000 * f1) // n_tokens AS BIGINT) AS unseen_mass_ppm
FROM rolled
"""
