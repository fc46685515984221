"""Text analysis operators: token statistics, language-ID heuristic,
quality scoring, document fingerprinting.

Everything here is map-only or a single aggregation — token stats and
quality scores are computed with array higher-order functions on the
words array of each document (no explode, no shuffle at all), which
is the shape you want when scoring 10^11 documents: one pass over the
scan, whole-stage codegen end to end.

Determinism: ratios are int/int double divisions in a fixed
expression order, mirrored exactly in the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cachemgr import per_session, stage
from ..functions.hashing import poly_hash, poly_hash_sql
from ..functions.text import MAX_WORD_LEN, NORMALIZE_SQL, normalized_words_array
from ..sources.catalog import load_table

# Marker stopwords per language for the language-ID heuristic.
# Tiny on purpose: the operator shape (token -> marker join -> argmax)
# is the point; swap in real lists for production.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "de", "que", "y", "es"),
    "fr": ("le", "la", "les", "et", "est", "que"),
}

EN_STOPWORDS = LANG_MARKERS["en"]


def _words_sql() -> str:
    norm = NORMALIZE_SQL.format(t="t")
    return (
        f"list_filter(list_transform(string_split(text, ' '), t -> {norm}), "
        f"w -> w <> '' AND length(w) <= {MAX_WORD_LEN})"
    )


# --- token statistics (map-only) -------------------------------------

def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    # stage the words array as its own projection: referencing it as a
    # column keeps the normalize chain evaluated once per row instead
    # of once per use (CollapseProject guards multi-referenced
    # expensive expressions)
    docs = docs.select("doc_id", normalized_words_array(F.col("text")).alias("_words"))
    words = F.col("_words")
    lens = F.transform(words, lambda w: F.length(w).cast("long"))
    total_len = F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x)
    n = F.size(words)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_tokens"),
        F.when(n > 0, total_len / n.cast("double")).otherwise(0.0).alias("avg_token_len"),
        F.coalesce(
            F.array_max(F.transform(words, lambda w: F.length(w))), F.lit(0)
        ).cast("long").alias("max_token_len"),
    )


TOKEN_STATS_SQL = f"""
WITH w AS (SELECT doc_id, {_words_sql()} AS words FROM documents)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_tokens,
       CASE WHEN len(words) > 0 THEN
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(words, w -> CAST(length(w) AS BIGINT))),
           (a, x) -> a + x) / CAST(len(words) AS DOUBLE)
       ELSE 0.0 END AS avg_token_len,
       CAST(coalesce(list_max(list_transform(words, w -> length(w))), 0) AS BIGINT)
         AS max_token_len
FROM w
"""


# --- language ID heuristic -------------------------------------------

def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted language = argmax of marker-stopword hits (ties ->
    lexicographically first language; zero hits -> 'und').

    MAP-ONLY: each language's hit count is an array filter with a
    literal IN-list over the words array — no explode, no join, no
    window, no shuffle. Scoring 10^11 docs is then one codegen'd pass
    over the scan; the previous explode+broadcast-join+window version
    measured 5.4s at sf0.1 vs ~1s for this shape."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    staged = docs.select(
        "doc_id", normalized_words_array(F.col("text")).alias("_words")
    )
    langs = sorted(LANG_MARKERS)
    hits = staged.select(
        "doc_id",
        *[
            F.size(
                F.filter(F.col("_words"), lambda w: w.isin(*LANG_MARKERS[lang]))
            ).cast("long").alias(f"_h_{lang}")
            for lang in langs
        ],
    )
    best = F.greatest(*[F.col(f"_h_{lang}") for lang in langs])
    predicted = F.when(best == 0, F.lit("und"))
    for lang in langs:  # lexicographic order => ties pick the first
        predicted = predicted.when(F.col(f"_h_{lang}") == best, F.lit(lang))
    return hits.select(
        "doc_id",
        predicted.alias("predicted_lang"),
        best.alias("n_marker_hits"),
    )


def _lang_hits_sql() -> str:
    cols = []
    for lang in sorted(LANG_MARKERS):
        inlist = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        cols.append(
            f"CAST(len(list_filter(words, x -> x IN ({inlist}))) AS BIGINT)"
            f" AS _h_{lang}"
        )
    return ", ".join(cols)


_GREATEST_SQL = "greatest(" + ", ".join(
    f"_h_{lang}" for lang in sorted(LANG_MARKERS)
) + ")"

_PREDICT_SQL = (
    f"CASE WHEN {_GREATEST_SQL} = 0 THEN 'und' "
    + " ".join(
        f"WHEN _h_{lang} = {_GREATEST_SQL} THEN '{lang}'"
        for lang in sorted(LANG_MARKERS)
    )
    + " END"
)

LANG_ID_SQL = f"""
WITH w AS (SELECT doc_id, {_words_sql()} AS words FROM documents),
h AS (SELECT doc_id, {_lang_hits_sql()} FROM w)
SELECT doc_id, {_PREDICT_SQL} AS predicted_lang,
       {_GREATEST_SQL} AS n_marker_hits
FROM h
"""


# --- quality scoring (map-only) --------------------------------------

# Per-doc integer feature counts, built once per (session, sf_dir).
# SIXTEEN entries derive their metric from quality_score, and each
# used to re-run the tokenize + stopword-filter + alpha-regex scan
# (~0.28 s isolated at sf0.1) per call — and often several times per
# call before their own frames were staged. The counts frame is an
# INTERMEDIATE (doc_id + four int64 counts, pre-ratio, pre-score),
# recomputed from parquet in every fresh process. At cluster scale
# the equivalent is a materialized per-doc feature table read by
# every audit query.
@per_session
def quality_feature_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_stopwords, n_chars, alpha_chars) integer
    feature counts in one map pass; persisted once per (session,
    sf_dir)."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    docs = docs.select(
        "doc_id", "text", normalized_words_array(F.col("text")).alias("_words")
    )
    words = F.col("_words")
    out = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_tokens"),
        F.size(
            F.filter(words, lambda w: w.isin(*EN_STOPWORDS))
        ).cast("long").alias("n_stopwords"),
        F.length("text").cast("long").alias("n_chars"),
        F.length(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
        ).cast("long").alias("alpha_chars"),
    ).transform(stage)
    return out


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/alpha-ratio quality heuristic in one map pass.

    score = 0.4*stopword_ratio + 0.4*alpha_char_ratio
          + 0.2*min(n_tokens,100)/100 — fixed expression order so the
    oracle reproduces the exact double. Rides the shared persisted
    quality_feature_counts stage; the ratio/score arithmetic here is
    IDENTICAL in value and expression order to the pre-stage form
    (same when-guards, same double divisions, same rounding)."""
    c = quality_feature_counts(spark, sf_dir)
    n = F.col("n_tokens")
    stop_hits = F.col("n_stopwords")
    n_chars = F.col("n_chars")
    alpha_chars = F.col("alpha_chars")
    stop_ratio = F.when(n > 0, stop_hits / n.cast("double")).otherwise(0.0)
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars.cast("double")).otherwise(0.0)
    len_score = F.least(n, F.lit(100)) / 100.0
    score = F.round(0.4 * stop_ratio + 0.4 * alpha_ratio + 0.2 * len_score, 6)
    return c.select(
        "doc_id",
        n.alias("n_tokens"),
        stop_hits.alias("n_stopwords"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        score.alias("quality"),
    )


_STOP_IN = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

QUALITY_SQL = f"""
WITH w AS (SELECT doc_id, text, {_words_sql()} AS words FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n,
         CAST(len(list_filter(words, x -> x IN ({_STOP_IN}))) AS BIGINT) AS stop_hits,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT)
           AS alpha_chars
  FROM w
),
r AS (
  SELECT doc_id, n, stop_hits,
         CASE WHEN n > 0 THEN stop_hits / CAST(n AS DOUBLE) ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN alpha_chars / CAST(n_chars AS DOUBLE) ELSE 0.0 END
           AS alpha_ratio,
         least(n, 100) / 100.0 AS len_score
  FROM m
)
SELECT doc_id, n AS n_tokens, stop_hits AS n_stopwords,
       round(stop_ratio, 6) AS stopword_ratio,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(0.4 * stop_ratio + 0.4 * alpha_ratio + 0.2 * len_score, 6) AS quality
FROM r
"""


# --- document fingerprinting (map-only) ------------------------------

def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two content fingerprints per doc: MD5 (cryptographic) and the
    engine's rolling polynomial hash (cheap, order-sensitive)."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp_md5"),
        poly_hash(F.col("text")).alias("fp_roll"),
    )


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id, md5(text) AS fp_md5, {poly_hash_sql('text')} AS fp_roll
FROM documents
"""


# --- end-to-end training-data filter ---------------------------------

MIN_QUALITY = 0.5
MIN_TOKENS = 10


def training_data_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline a pretraining corpus actually runs:
    exact-dedup (keep lowest doc_id per identical text), then gate on
    quality score, token count, and detected language. One pass
    computes every per-doc signal (all map-only expressions), one
    window handles the dedup — the whole filter is two shuffles
    (dedup partition + nothing else) regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text", "lang"
    )
    staged = docs.select(
        "doc_id", "text", "lang", normalized_words_array(F.col("text")).alias("_words")
    )
    words = F.col("_words")
    n = F.size(words).cast("long")
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS))).cast("long")
    n_chars = F.length("text").cast("long")
    alpha_chars = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    ).cast("long")
    stop_ratio = F.when(n > 0, stop_hits / n.cast("double")).otherwise(0.0)
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars.cast("double")).otherwise(0.0)
    len_score = F.least(n, F.lit(100)) / 100.0
    quality = F.round(0.4 * stop_ratio + 0.4 * alpha_ratio + 0.2 * len_score, 6)

    scored = staged.select(
        "doc_id", "text", "lang", n.alias("n_tokens"), quality.alias("quality")
    )
    # dedup partitions on the digest — payload bytes never shuffle
    dedup_w = Window.partitionBy(
        F.md5(F.col("text").cast("binary"))
    ).orderBy(F.asc("doc_id"))
    surviving = (
        scored.withColumn("_rn", F.row_number().over(dedup_w))
        .filter(F.col("_rn") == 1)
    )
    return surviving.filter(
        (F.col("quality") >= MIN_QUALITY)
        & (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("lang") == "en")
    ).select("doc_id", "n_tokens", "quality")


TRAINING_FILTER_SQL = f"""
WITH w AS (SELECT doc_id, text, lang, {_words_sql()} AS words FROM documents),
m AS (
  SELECT doc_id, text, lang,
         CAST(len(words) AS BIGINT) AS n,
         CAST(len(list_filter(words, x -> x IN ({_STOP_IN}))) AS BIGINT) AS stop_hits,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT)
           AS alpha_chars
  FROM w
),
scored AS (
  SELECT doc_id, text, lang, n AS n_tokens,
         round(0.4 * (CASE WHEN n > 0 THEN stop_hits / CAST(n AS DOUBLE) ELSE 0.0 END)
             + 0.4 * (CASE WHEN n_chars > 0 THEN alpha_chars / CAST(n_chars AS DOUBLE) ELSE 0.0 END)
             + 0.2 * (least(n, 100) / 100.0), 6) AS quality
  FROM m
),
surviving AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS _rn
  FROM scored
)
SELECT doc_id, n_tokens, quality
FROM surviving
WHERE _rn = 1 AND quality >= {MIN_QUALITY} AND n_tokens >= {MIN_TOKENS}
  AND lang = 'en'
"""


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus summary: doc/token/char totals, vocabulary
    size, duplicate rate — the dataset card numbers. Token totals are
    map-side array lengths (no explode); only the vocabulary count
    needs a distinct shuffle."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    staged = docs.select(
        F.md5(F.col("text").cast("binary")).alias("_k"),
        F.length("text").cast("long").alias("_nc"),
        F.size(normalized_words_array(F.col("text"))).cast("long").alias("_nt"),
    )
    base = staged.agg(
        F.count("*").alias("n_docs"),
        F.sum("_nc").alias("n_chars"),
        F.sum("_nt").alias("n_tokens"),
        # distinct over digests: payloads never enter the exchange
        F.countDistinct("_k").alias("n_distinct_texts"),
    )
    vocab = (
        docs.select(F.explode(normalized_words_array(F.col("text"))).alias("w"))
        .agg(F.countDistinct("w").alias("vocab_size"))
    )
    return base.crossJoin(vocab).select(
        "n_docs", "n_chars", "n_tokens", "vocab_size",
        (F.col("n_docs") - F.col("n_distinct_texts")).alias("n_exact_dups"),
    )


# --- repetition metrics (Gopher-style quality filters) ----------------

def _max_run(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent values in a SORTED
    array — i.e. the max multiplicity of any value — as one native
    ``aggregate`` fold (no explode, no shuffle). Empty array -> 0.
    The accumulator carries ``prev`` as a string so one fold shape
    serves string and int64 arrays alike (int64 -> decimal string is
    injective, so equality is faithful)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(
            acc["prev"].isNotNull() & (x.cast("string") == acc["prev"]),
            acc["run"] + 1,
        ).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.cast("string").alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def _dup_run_sum(sorted_arr: Column) -> Column:
    """Sum of run lengths over runs of length >= 2 in a SORTED array
    (= number of elements whose value occurs more than once), as one
    native fold. Incremental: a run's 2nd element contributes 2 (its
    own + retroactively the 1st), later elements contribute 1."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc: Column, x: Column) -> Column:
        cont = acc["prev"].isNotNull() & (x.cast("string") == acc["prev"])
        run = F.when(cont, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        bump = (
            F.when(run == 2, F.lit(2))
            .when(run > 2, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        return F.struct(
            x.cast("string").alias("prev"),
            run.alias("run"),
            (acc["dup"] + bump).alias("dup"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["dup"])


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics — the classic training-data
    quality filters (cf. the Gopher/MassiveText rules): distinct-word
    ratio, top-word fraction, and the fraction of bigram occurrences
    whose bigram repeats within the document.

    Plan shape (round 4): ZERO shuffles. Per-document statistics need
    no exchange — every token of a document is already co-located in
    its row — so the word/bigram multiplicity stats come from sorting
    the per-doc hash array and folding run lengths with native
    ``aggregate`` expressions (`_max_run`, `_dup_run_sum`), one
    codegen'd pass over the scan. Rounds 1-3 shaped this as two
    explode + (doc_id, key) groupBy pairs; at 10^11 docs those were
    four exchanges of every token in the corpus, all to compute
    values each map task already had in hand (the r3 bench slippage
    on this query was the tell). Word identity uses the same int64
    poly-hash fold as the oracle on BOTH levels, so hash collisions
    (if any) collide identically in both engines.
    Docs whose tokens all filter out produce no row (so n_words >= 1
    and the ratios never divide by zero). All ratios are int/int
    double divisions of identical operands in both engines."""
    from ..functions.hashing import HASH_BASE, HASH_MOD

    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    docs = docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    words = docs.select("doc_id", normalized_words_array(F.col("text")).alias("words"))
    hws = words.select(
        "doc_id",
        "words",
        F.size("words").alias("n_words"),
        F.size(F.array_distinct("words")).alias("n_distinct"),
        F.transform(F.col("words"), poly_hash).alias("hws"),
    ).filter(F.col("n_words") >= 1)

    n = F.size("hws")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: (
            F.element_at(F.col("hws"), i) * HASH_BASE
            + F.element_at(F.col("hws"), i + 1)
        )
        % HASH_MOD,
    )
    stats = hws.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        _max_run(F.array_sort("words")).alias("top_c"),
        (n - 1).cast("long").alias("n_bigrams"),
        F.when(
            n >= 2, _dup_run_sum(F.array_sort(bigrams))
        ).otherwise(F.lit(None).cast("long")).alias("dup_bi"),
    )
    return stats.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(F.col("n_distinct") / F.col("n_words"), 6).alias(
            "distinct_ratio"
        ),
        F.round(F.col("top_c") / F.col("n_words"), 6).alias("top_word_frac"),
        F.round(
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                F.col("dup_bi") / F.col("n_bigrams"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_bigram_frac"),
    )


def _repetition_sql() -> str:
    from ..functions.hashing import HASH_BASE, HASH_MOD

    return f"""
WITH w AS (
  SELECT doc_id, {_words_sql()} AS words
  FROM documents WHERE text IS NOT NULL AND text <> ''
),
hw AS (
  SELECT doc_id, words,
         list_transform(words, t -> {poly_hash_sql('t')}) AS hws
  FROM w
),
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
wstats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
  FROM wc GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(hws)),
                i -> (hws[i] * {HASH_BASE} + hws[i+1]) % {HASH_MOD})) AS bh
  FROM hw WHERE len(hws) >= 2
),
bc AS (SELECT doc_id, bh, count(*) AS c FROM bg GROUP BY doc_id, bh),
bstats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_bi
  FROM bc GROUP BY doc_id
)
SELECT ws.doc_id, ws.n_words, ws.n_distinct,
       round(ws.n_distinct / ws.n_words, 6) AS distinct_ratio,
       round(ws.top_c / ws.n_words, 6) AS top_word_frac,
       round(CASE WHEN coalesce(bs.n_bigrams, 0) > 0
                  THEN bs.dup_bi / bs.n_bigrams ELSE 0.0 END, 6)
         AS dup_bigram_frac
FROM wstats ws LEFT JOIN bstats bs ON ws.doc_id = bs.doc_id
"""


REPETITION_SQL = _repetition_sql()


CORPUS_STATS_SQL = f"""
WITH w AS (SELECT doc_id, text, {_words_sql()} AS words FROM documents),
base AS (
  SELECT count(*) AS n_docs,
         CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS n_chars,
         CAST(sum(CAST(len(words) AS BIGINT)) AS BIGINT) AS n_tokens,
         count(DISTINCT md5(text)) AS n_distinct_texts
  FROM w
),
vocab AS (
  SELECT count(DISTINCT word) AS vocab_size
  FROM (SELECT unnest(words) AS word FROM w)
)
SELECT n_docs, n_chars, n_tokens, vocab_size,
       n_docs - n_distinct_texts AS n_exact_dups
FROM base CROSS JOIN vocab
"""


# --- quantile normalization / holdout selection ----------------------

HOLDOUT_K = 20
HOLDOUT_A = 1203077157  # first MinHash perm: the affine scramble
HOLDOUT_B = 869531133
HOLDOUT_MOD = 1_000_000_007


def quality_percentile_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile-normalized quality per source: percent_rank of the
    quality score within each source, tie-broken by doc_id so the
    rank order is total and both engines agree exactly.

    One exchange on source for the window. At 100 TB a single source
    can be most of the corpus — then the per-source sort becomes the
    bottleneck and the move is approximate quantiles (fixed-bin CDF,
    the events_value_histogram shape) instead of an exact rank."""
    qs = quality_score(spark, sf_dir).select("doc_id", "quality")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.asc("quality"), F.asc("doc_id")
    )
    return (
        qs.join(src, "doc_id")
        .select(
            "doc_id",
            "source",
            "quality",
            F.round(F.percent_rank().over(w), 6).alias("q_pct"),
        )
    )


QUALITY_PERCENTILE_SQL = f"""
WITH q AS ({QUALITY_SQL})
SELECT q.doc_id, d.source, q.quality,
       round(percent_rank() OVER (PARTITION BY d.source
                                  ORDER BY q.quality ASC, q.doc_id ASC),
             6) AS q_pct
FROM q JOIN documents d ON d.doc_id = q.doc_id
"""


def per_source_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k eval-holdout docs per source, chosen by a
    deterministic affine hash scramble of doc_id — the same docs are
    selected on any cluster layout, any partitioning, any engine
    (rand() would give none of those). One exchange on source; the
    scramble is map-side."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scramble = (
        (F.col("doc_id") % HOLDOUT_MOD) * HOLDOUT_A + HOLDOUT_B
    ) % HOLDOUT_MOD
    w = Window.partitionBy("source").orderBy(
        F.asc("_scr"), F.asc("doc_id")
    )
    return (
        docs.withColumn("_scr", scramble)
        .withColumn("holdout_rank", F.row_number().over(w))
        .filter(F.col("holdout_rank") <= HOLDOUT_K)
        .select("source", "doc_id", "holdout_rank")
    )


PER_SOURCE_HOLDOUT_SQL = f"""
WITH s AS (
  SELECT source, doc_id,
         ((doc_id % {HOLDOUT_MOD}) * {HOLDOUT_A} + {HOLDOUT_B})
           % {HOLDOUT_MOD} AS _scr
  FROM documents
),
r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY _scr ASC, doc_id ASC) AS holdout_rank
  FROM s
)
SELECT source, doc_id, holdout_rank FROM r
WHERE holdout_rank <= {HOLDOUT_K}
"""


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-vs-predicted language confusion matrix — the eval
    harness for the lang_id heuristic, |langs|^2-bounded output. The
    predicted side reuses the lang_id query; the join back to labels
    is doc_id-keyed, then a tiny groupBy."""
    pred = lang_id(spark, sf_dir).select("doc_id", "predicted_lang")
    labels = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    return (
        pred.join(labels, "doc_id")
        .groupBy(F.col("lang").alias("labeled_lang"), "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


LANG_CONFUSION_SQL = f"""
WITH pred AS ({LANG_ID_SQL})
SELECT d.lang AS labeled_lang, pred.predicted_lang,
       count(*) AS n_docs
FROM pred JOIN documents d ON d.doc_id = pred.doc_id
GROUP BY d.lang, pred.predicted_lang
"""


# Sentence boundary: one-or-more terminal punctuation marks. Both
# engines split with the same regex class; segments are space-trimmed
# and empty segments dropped, so trailing terminators and ellipses
# cannot produce phantom sentences in one engine only.
SENT_SPLIT_RE = "[.!?]+"


def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sentence segmentation profile: sentence count and mean
    words-per-sentence — the readability-style quality signal corpus
    filters threshold on (very long run-on "sentences" flag boilerplate
    and OCR junk). Map-only: regex split + array math per row, no
    shuffle at all."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), SENT_SPLIT_RE), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    prof = docs.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        F.size(words).cast("long").alias("_nw"),
    )
    # Half-up ratio in PURE int64 then one exact division — decimal
    # ties can't round differently per engine (training_manifest
    # contract).
    return prof.select(
        "doc_id",
        "n_sentences",
        F.when(F.col("n_sentences") == 0, F.lit(0.0))
        .otherwise(
            F.expr(
                "(2 * 10000 * _nw + n_sentences) div (2 * n_sentences)"
            ).cast("double")
            / 1e4
        )
        .alias("words_per_sentence"),
    )


SENTENCE_STATS_SQL = f"""
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CASE WHEN len(sents) = 0 THEN 0.0
            ELSE ((2 * 10000 * len(list_filter(string_split(text, ' '),
                                               w -> w <> ''))
                   + len(sents)) // (2 * len(sents))) / 10000.0
       END AS words_per_sentence
FROM (
  SELECT doc_id, text,
         list_filter(list_transform(regexp_split_to_array(text,
                                                          '{SENT_SPLIT_RE}'),
                                    s -> trim(s)),
                     s -> s <> '') AS sents
  FROM documents
)
"""


# --- readability ------------------------------------------------------

VOWEL_GROUP_RE = "[aeiouy]+"


def readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch-style readability from corpus totals: words,
    sentences, and a vowel-group syllable proxy (the standard
    dependency-free approximation), with the index computed over the
    source's TOTALS (not a mean of per-doc scores, which overweights
    short docs).

    Map-only profile per row (regex counts on the text — a vowel
    group never spans a space, so the text-level count equals the
    per-word sum), then one tiny groupBy(source). The Flesch formula
    206.835 - 1.015*(W/S) - 84.6*(Y/W) runs in integer milli-units
    with floor division in BOTH engines, so no double ratio can land
    a tie differently: flesch = (206835 - (1015*W) div S
    - (84600*Y) div W) / 1000."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), SENT_SPLIT_RE), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    prof = docs.select(
        "source",
        F.size(words).cast("long").alias("_w"),
        F.size(sents).cast("long").alias("_s"),
        F.size(
            F.expr(f"regexp_extract_all(lower(text), '{VOWEL_GROUP_RE}', 0)")
        )
        .cast("long")
        .alias("_y"),
    )
    agg = prof.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("_w").alias("tot_words"),
        F.sum("_s").alias("tot_sentences"),
        F.sum("_y").alias("tot_syllables"),
    )
    return agg.select(
        "source",
        "n_docs",
        "tot_words",
        "tot_sentences",
        "tot_syllables",
        F.when(
            (F.col("tot_words") > 0) & (F.col("tot_sentences") > 0),
            F.expr(
                "(206835 - (1015 * tot_words) div tot_sentences"
                " - (84600 * tot_syllables) div tot_words)"
            ).cast("double")
            / 1000.0,
        ).alias("flesch"),
    )


READABILITY_SQL = f"""
WITH prof AS (
  SELECT source,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS _w,
         CAST(len(list_filter(list_transform(
                    regexp_split_to_array(text, '{SENT_SPLIT_RE}'),
                    s -> trim(s)), s -> s <> '')) AS BIGINT) AS _s,
         CAST(len(regexp_extract_all(lower(text), '{VOWEL_GROUP_RE}'))
              AS BIGINT) AS _y
  FROM documents
),
agg AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(_w) AS BIGINT) AS tot_words,
         CAST(sum(_s) AS BIGINT) AS tot_sentences,
         CAST(sum(_y) AS BIGINT) AS tot_syllables
  FROM prof GROUP BY source
)
SELECT source, n_docs, tot_words, tot_sentences, tot_syllables,
       CASE WHEN tot_words > 0 AND tot_sentences > 0
            THEN (206835 - (1015 * tot_words) // tot_sentences
                  - (84600 * tot_syllables) // tot_words) / 1000.0
       END AS flesch
FROM agg
"""


ENTROPY_SCALE = 1_000_000


def doc_lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix entropy per source (nats) — the diversity metric
    a curator tracks per delivery: a monolingual crawl and a balanced
    multilingual one need different downstream handling.

    One (source, lang) aggregate (|sources| x |langs| rows at any
    corpus size), entropy assembled on that tiny frame: per-cell
    -p·ln(p) with p a double ratio of exact int64 counts, ln()
    quantized to micro-nats BEFORE the weighted integer sum — the
    same cross-engine contract as the JSD and PMI operators."""
    docs = load_table(spark, sf_dir, "documents").select("source", "lang")
    cells = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source")
    # n_langs needs no DISTINCT window (unsupported in Spark anyway):
    # every cell already IS one distinct (source, lang), so the final
    # per-source row count is the language count.
    scored = cells.select(
        "source",
        F.sum("n").over(w).alias("_tot"),
        F.expr(
            f"n * CAST(round(ln(CAST(sum(n) OVER"
            f" (PARTITION BY source) AS DOUBLE) / n)"
            f" * {ENTROPY_SCALE}) AS BIGINT)"
        ).alias("_t"),
    )
    return scored.groupBy("source").agg(
        F.max("_tot").alias("n_docs"),
        F.count("*").alias("n_langs"),
        (
            (F.sum("_t") / F.max("_tot")) / float(ENTROPY_SCALE)
        ).alias("lang_entropy"),
    )


DOC_LANG_ENTROPY_SQL = f"""
WITH cells AS (
  SELECT source, lang, count(*) AS n
  FROM documents GROUP BY source, lang
),
scored AS (
  SELECT source, n,
         sum(n) OVER (PARTITION BY source) AS tot
  FROM cells
),
terms AS (
  SELECT source, tot,
         n * CAST(round(ln(CAST(tot AS DOUBLE) / n)
                        * {ENTROPY_SCALE}) AS BIGINT) AS t
  FROM scored
)
SELECT source, CAST(max(tot) AS BIGINT) AS n_docs,
       count(*) AS n_langs,
       (sum(t) / CAST(max(tot) AS DOUBLE)) / {ENTROPY_SCALE} AS lang_entropy
FROM terms GROUP BY source
"""


def doc_length_deciles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length decile table (n_docs, char span
    per decile) — the context-length planning input for a tokenizer/
    packing pipeline, and the shape checked before choosing a
    truncation threshold per language.

    One ntile window per language partition over (n_chars, doc_id)
    — the unique doc_id tiebreak makes decile membership a total
    order both engines agree on; the rollup is |langs| x 10 rows.
    Same stated scale caveat as customer_balance_deciles: exact
    global ntile serializes each language through one task; at
    100 TB you'd band against percentile_approx boundaries — the
    exact form is what the oracle can verify."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    w = Window.partitionBy("lang").orderBy(
        F.asc("n_chars"), F.asc("doc_id")
    )
    deciled = docs.select(
        "lang", "n_chars", F.ntile(10).over(w).alias("decile")
    )
    return deciled.groupBy("lang", "decile").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("chars_total"),
    )


DOC_LENGTH_DECILES_SQL = """
WITH deciled AS (
  SELECT lang, n_chars,
         ntile(10) OVER (PARTITION BY lang
                         ORDER BY n_chars ASC, doc_id ASC) AS decile
  FROM documents
)
SELECT lang, decile, count(*) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM deciled GROUP BY lang, decile
"""


# --- CCNet-style quality bucketing ------------------------------------

QUALITY_BUCKETS = ("head", "middle", "tail")


def ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: within each language,
    rank documents by the quality heuristic and split into terciles —
    the curation tiering CCNet applies with LM perplexity (quality
    proxies it here; doc_lm_surprisal is the perplexity tier). Heads
    feed training unfiltered, middles get sampled, tails get dropped
    or routed to a cleaning pass.

    One map pass for the quality features, one lang-keyed window for
    the tercile split (deterministic: ntile over quality DESC with
    doc_id tiebreak — both engines define ntile's uneven split the
    same way), then a tiny (lang, bucket) aggregate. Mean quality is
    micro-quantized int64 before summing (order-free), divided once,
    half-up."""
    from pyspark.sql import Window

    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = q.join(lang, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    bucketed = scored.withColumn("_t", F.ntile(3).over(w)).select(
        "lang",
        F.when(F.col("_t") == 1, QUALITY_BUCKETS[0])
        .when(F.col("_t") == 2, QUALITY_BUCKETS[1])
        .otherwise(QUALITY_BUCKETS[2])
        .alias("bucket"),
        F.floor(F.col("quality") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("_qq"),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"),
        (
            F.expr("(2 * sum(_qq) + count(*)) div (2 * count(*))")
            / 1_000_000.0
        ).alias("mean_quality"),
        (F.min("_qq") / 1_000_000.0).alias("min_quality"),
        (F.max("_qq") / 1_000_000.0).alias("max_quality"),
    )


CCNET_BUCKETS_SQL = f"""
WITH q AS ({QUALITY_SQL.strip()}),
scored AS (
  SELECT d.lang, q.quality,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY q.quality DESC, q.doc_id ASC) AS _t
  FROM q JOIN documents d ON q.doc_id = d.doc_id
),
bucketed AS (
  SELECT lang,
         CASE _t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 ELSE 'tail' END AS bucket,
         CAST(floor(quality * 1000000 + 0.5) AS BIGINT) AS _qq
  FROM scored
)
SELECT lang, bucket, count(*) AS n_docs,
       ((2 * sum(_qq) + count(*)) // (2 * count(*))) / 1000000.0
         AS mean_quality,
       min(_qq) / 1000000.0 AS min_quality,
       max(_qq) / 1000000.0 AS max_quality
FROM bucketed GROUP BY lang, bucket
"""


# --- quality-classifier feature assembly -------------------------------

def quality_classifier_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The per-document feature vector a fastText-style quality
    classifier trains on — token count, stopword/alpha/digit/upper
    ratios, mean word length, terminal punctuation — assembled in ONE
    map pass (no shuffle at all: this is the feature-extraction stage
    that runs as a pure map over 100 TB and feeds the classifier
    trainer downstream).

    Ratios divide int64 counters once (single IEEE division, both
    engines identical); mean word length is half-up milli from int64
    sums. Rounding uses floor(x*1e6+0.5) on identically-derived
    doubles — the cross-engine-safe form."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    docs = docs.select(
        "doc_id", "text", normalized_words_array(F.col("text")).alias("_words")
    )
    words = F.col("_words")
    n = F.size(words).cast("long")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*EN_STOPWORDS))
    ).cast("long")
    n_chars = F.length("text").cast("long")
    alpha = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    ).cast("long")
    digits = F.length(
        F.regexp_replace(F.col("text"), "[^0-9]", "")
    ).cast("long")
    uppers = F.length(
        F.regexp_replace(F.col("text"), "[^A-Z]", "")
    ).cast("long")
    def ratio(num, den):
        return F.when(
            den > 0,
            F.floor(
                (num.cast("double") / den.cast("double")) * 1_000_000
                + F.lit(0.5)
            ).cast("long")
            / 1_000_000.0,
        ).otherwise(0.0)

    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        ratio(stop_hits, n).alias("stopword_ratio"),
        ratio(alpha, n_chars).alias("alpha_ratio"),
        ratio(digits, n_chars).alias("digit_ratio"),
        ratio(uppers, n_chars).alias("upper_ratio"),
        F.when(
            n > 0,
            F.expr("(2 * 1000 * aggregate(_words, 0L, (a, w) ->"
                   " a + length(w)) + size(_words))"
                   " div (2 * size(_words))") / 1000.0,
        ).otherwise(0.0).alias("mean_word_len"),
        F.col("text").rlike(r"[.!?]\s*$").alias("ends_with_punct"),
    )


QUALITY_FEATURES_SQL = f"""
WITH w AS (SELECT doc_id, text, {_words_sql()} AS words FROM documents),
m AS (
  SELECT doc_id, text, words,
         CAST(len(words) AS BIGINT) AS n,
         CAST(len(list_filter(words, x -> x IN ({_STOP_IN}))) AS BIGINT)
           AS stop_hits,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
              AS BIGINT) AS alpha,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
           AS digits,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT)
           AS uppers,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(words, x -> CAST(length(x) AS BIGINT))),
             (a, b) -> a + b) AS word_chars
  FROM w
)
SELECT doc_id,
       n AS n_tokens,
       CASE WHEN n > 0 THEN CAST(floor((CAST(stop_hits AS DOUBLE)
              / CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
              / 1000000.0 ELSE 0.0 END AS stopword_ratio,
       CASE WHEN n_chars > 0 THEN CAST(floor((CAST(alpha AS DOUBLE)
              / CAST(n_chars AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
              / 1000000.0 ELSE 0.0 END AS alpha_ratio,
       CASE WHEN n_chars > 0 THEN CAST(floor((CAST(digits AS DOUBLE)
              / CAST(n_chars AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
              / 1000000.0 ELSE 0.0 END AS digit_ratio,
       CASE WHEN n_chars > 0 THEN CAST(floor((CAST(uppers AS DOUBLE)
              / CAST(n_chars AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
              / 1000000.0 ELSE 0.0 END AS upper_ratio,
       CASE WHEN n > 0 THEN ((2 * 1000 * word_chars + n) // (2 * n))
              / 1000.0 ELSE 0.0 END AS mean_word_len,
       regexp_matches(text, '[.!?]\\s*$') AS ends_with_punct
FROM m
"""


# --- in-plan telemetry: the Observation API ----------------------------

FUNNEL_MIN_CHARS = 100
FUNNEL_LANGS = ("en", "de", "fr")


def observed_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage data-loss accounting for a filter cascade, measured
    with ``DataFrame.observe`` — Spark's in-plan telemetry: each
    Observation rides the SINGLE pass the query already makes, so the
    stage counts cost zero extra scans. That is the 100 TB point: the
    naive way to audit a 3-stage filter is 3 extra counts (3 more
    full scans of the lake); observed metrics are free because they
    accumulate inside the tasks of the one real action.

    The returned frame is assembled from the observed metrics (the
    same driver-side scalar class as the merge entry's manifest file
    counts); the DuckDB oracle recomputes each stage count by
    rescanning, which at test scale certifies that the observed
    numbers equal the rescan truth — precisely the property that lets
    production TRUST the free metrics and skip the rescans.
    retained_ppm is floor-scaled int math (both engines identical)."""
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    o_in = Observation()
    o_len = Observation()
    o_lang = Observation()
    s0 = docs.observe(o_in, F.count(F.lit(1)).alias("n"))
    s1 = s0.filter(F.col("n_chars") >= FUNNEL_MIN_CHARS).observe(
        o_len, F.count(F.lit(1)).alias("n")
    )
    s2 = s1.filter(F.col("lang").isin(*FUNNEL_LANGS)).observe(
        o_lang, F.count(F.lit(1)).alias("n")
    )
    # the one real action every observation rides (harness-scalar
    # precedent: join_stream's bounds .first())
    s2.agg(F.count(F.lit(1)).alias("n")).first()
    n_in = o_in.get["n"]
    n_len = o_len.get["n"]
    n_lang = o_lang.get["n"]
    rows = [
        ("s0_input", n_in),
        ("s1_minlen", n_len),
        ("s2_lang", n_lang),
    ]
    return spark.createDataFrame(
        rows, "stage STRING, n_rows BIGINT"
    ).select(
        "stage",
        "n_rows",
        F.expr(
            f"n_rows * 1000000 div greatest({n_in}, 1)"
        ).alias("retained_ppm"),
    )


_FUNNEL_LANGS_SQL = ", ".join(f"'{x}'" for x in FUNNEL_LANGS)

OBSERVED_FUNNEL_SQL = f"""
WITH s AS (
  SELECT 's0_input' AS stage, count(*) AS n_rows FROM documents
  UNION ALL
  SELECT 's1_minlen', count(*) FROM documents
  WHERE n_chars >= {FUNNEL_MIN_CHARS}
  UNION ALL
  SELECT 's2_lang', count(*) FROM documents
  WHERE n_chars >= {FUNNEL_MIN_CHARS} AND lang IN ({_FUNNEL_LANGS_SQL})
),
tot AS (SELECT max(n_rows) AS n_in FROM s)
SELECT stage, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_rows * 1000000 // greatest(n_in, 1) AS BIGINT)
         AS retained_ppm
FROM s, tot
"""


# --- per-source quantile (CDF) normalization (round-9 queue) ----------

def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution alignment for corpus mixing: normalize each
    source's quality-score distribution onto a common [0, 1e6] ppm
    scale via its own empirical CDF (mid-rank / Hazen plotting
    position), then roll up per (source, decile-of-normalized-score).
    This is the step a mixing pipeline runs before comparing "quality
    0.6" across sources whose raw score distributions differ — the
    quantile-matching analogue of z-scoring, robust to monotone
    score-shape differences.

    Integer-exact algebra: q_ppm = round(quality * 1e6) (the already
    oracle-pinned quality_score double, quantized once); for each
    DISTINCT (source, q_ppm) value, mid-rank ppm =
    ((2*cum_before + cnt) * 500000) div n — no per-doc window, no
    per-doc sort. Ties share one mid-rank (tie-stable), and the
    cumulative window runs over distinct score VALUES only.

    Scale posture (100 TB): the CDF is a histogram pass — groupBy
    (source, q_ppm) collapses the corpus map-side (<= 1e6+1 distinct
    ppm values per source, in practice a few thousand), the cumulative
    window slides over that bounded frame, and the decile rollup rides
    the same partitioning. A per-doc row_number() window would sort
    whole sources in single partitions (the classic window-skew trap);
    this formulation never materializes a per-doc rank. The doc_id
    join with the metadata map is co-partitioned same-table traffic;
    at scale you carry `source` through the quality map instead
    (one fewer exchange, same result).
    """
    q = quality_score(spark, sf_dir).select(
        "doc_id", F.round(F.col("quality") * 1_000_000, 0).cast("long").alias("_qp")
    )
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per_val = (
        q.join(meta, "doc_id")
        .groupBy("source", "_qp")
        .agg(F.count("*").alias("_cnt"))
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("_qp")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("source")
    scored = per_val.select(
        "source",
        "_qp",
        "_cnt",
        F.coalesce(F.sum("_cnt").over(w_cum), F.lit(0)).alias("_cum"),
        F.sum("_cnt").over(w_all).alias("_n"),
    ).withColumn(
        "_mid_ppm",
        F.expr("(2 * _cum + _cnt) * 500000 div _n"),
    )
    return (
        scored.withColumn(
            "decile", F.least(F.expr("_mid_ppm div 100000"), F.lit(9))
        )
        .groupBy("source", "decile")
        .agg(
            F.sum("_cnt").alias("n_docs"),
            F.expr(
                "(2 * sum(_qp * _cnt) + sum(_cnt)) div (2 * sum(_cnt))"
            ).alias("mean_quality_ppm"),
        )
    )


QUALITY_QUANTILE_SQL = f"""
WITH q AS ({QUALITY_SQL}),
qm AS (
  SELECT q.doc_id, d.source,
         CAST(round(q.quality * 1000000, 0) AS BIGINT) AS _qp
  FROM q JOIN documents d ON q.doc_id = d.doc_id
),
per_val AS (
  SELECT source, _qp, count(*) AS _cnt FROM qm GROUP BY source, _qp
),
scored AS (
  SELECT source, _qp, _cnt,
         coalesce(sum(_cnt) OVER (PARTITION BY source ORDER BY _qp
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS _cum,
         sum(_cnt) OVER (PARTITION BY source) AS _n
  FROM per_val
),
mid AS (
  SELECT source, _qp, _cnt,
         (2 * _cum + _cnt) * 500000 // _n AS _mid_ppm
  FROM scored
)
SELECT source,
       CAST(least(_mid_ppm // 100000, 9) AS BIGINT) AS decile,
       CAST(sum(_cnt) AS BIGINT) AS n_docs,
       CAST((2 * sum(_qp * _cnt) + sum(_cnt)) // (2 * sum(_cnt)) AS BIGINT)
         AS mean_quality_ppm
FROM mid GROUP BY source, least(_mid_ppm // 100000, 9)
"""


# --- Cohen's kappa for the language classifier (round-14 queue) ---------


def lang_id_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the lang_id heuristic and the labeled
    language — the chance-corrected scalar the confusion matrix
    (lang_confusion_matrix) summarizes to: raw accuracy rewards a
    classifier that parrots the majority class, kappa subtracts the
    agreement two independent raters with these marginals would reach
    by luck. The inter-rater-agreement statistic every annotation /
    weak-supervision pipeline publishes next to its label quality.

    Integer-exact up to the single signed division: from the
    |langs|^2-bounded confusion counts, po*n^2 -> n * diag and
    pe*n^2 -> sum(rowtot * coltot) are exact DECIMAL(38,0)/HUGEINT
    products; kappa = (n*diag - S) / (n^2 - S) is the ONE signed
    ratio, evaluated as a clamped fixed-order float64 floor to ppm
    (kappa < 0 — worse than chance — is meaningful, so the integer
    `div`'s toward-zero-vs-floor divergence on negatives makes the
    float contract the correct one here; the spearman wording). NULL
    when the marginals are degenerate (n^2 == S: a single class on
    both sides — kappa undefined). po_ppm and pe_ppm export the
    uncorrected ingredients (both non-negative, plain integer div).

    Scale posture (100 TB): the lang_id scoring is map-only; the
    doc_id label join is co-partitioned same-table traffic; the
    confusion rollup is |langs|^2 rows and everything after it is
    arithmetic on a one-row frame.
    """
    # cached: the |langs|^2-row confusion frame feeds THREE branches
    # (marginals, row totals, col totals); without the cache each
    # branch re-runs the full lang_id scoring scan — the plan showed
    # lineitem-style triplicated subtrees (12 parquet scans). Guide
    # §5: cache when reused and recompute is expensive; the frame is
    # tiny (|langs|^2 rows).
    conf = lang_confusion_matrix(spark, sf_dir).transform(stage)
    marg = conf.groupBy().agg(
        F.sum("n_docs").alias("n"),
        F.sum(
            F.when(
                F.col("labeled_lang") == F.col("predicted_lang"),
                F.col("n_docs"),
            ).otherwise(0)
        ).alias("_diag"),
    )
    rowt = conf.groupBy("labeled_lang").agg(F.sum("n_docs").alias("_rt"))
    colt = conf.groupBy("predicted_lang").agg(F.sum("n_docs").alias("_ct"))
    s = (
        rowt.join(
            colt, rowt["labeled_lang"] == colt["predicted_lang"], "inner"
        )
        .groupBy()
        .agg(
            F.sum(
                F.expr("CAST(_rt AS DECIMAL(38,0)) * _ct")
            ).alias("_s")
        )
    )
    return marg.crossJoin(s).select(
        "n",
        F.col("_diag").alias("n_agree"),
        F.expr("_diag * 1000000 div greatest(n, 1)").alias("po_ppm"),
        F.expr(
            "CAST(_s * 1000000 div greatest(CAST(n AS DECIMAL(38,0)) * n,"
            " 1) AS BIGINT)"
        ).alias("pe_ppm"),
        F.expr(
            "CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * n - _s > 0 THEN"
            " GREATEST(-1000000, LEAST(1000000,"
            " FLOOR(1000000.0"
            " * CAST(CAST(n AS DECIMAL(38,0)) * _diag - _s AS DOUBLE)"
            " / CAST(CAST(n AS DECIMAL(38,0)) * n - _s AS DOUBLE))))"
            " END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


LANG_KAPPA_SQL = f"""
WITH conf AS ({LANG_CONFUSION_SQL}),
marg AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n,
         CAST(sum(CASE WHEN labeled_lang = predicted_lang
                       THEN n_docs ELSE 0 END) AS BIGINT) AS _diag
  FROM conf
),
rowt AS (SELECT labeled_lang AS c, CAST(sum(n_docs) AS BIGINT) AS _rt
         FROM conf GROUP BY labeled_lang),
colt AS (SELECT predicted_lang AS c, CAST(sum(n_docs) AS BIGINT) AS _ct
         FROM conf GROUP BY predicted_lang),
s AS (
  SELECT CAST(sum(CAST(r._rt AS HUGEINT) * t._ct) AS HUGEINT) AS _s
  FROM rowt r JOIN colt t ON r.c = t.c
)
SELECT m.n,
       m._diag AS n_agree,
       CAST(m._diag * 1000000 // greatest(m.n, 1) AS BIGINT) AS po_ppm,
       CAST(s._s * 1000000
            // greatest(CAST(m.n AS HUGEINT) * m.n, 1) AS BIGINT)
         AS pe_ppm,
       CAST(CASE WHEN CAST(m.n AS HUGEINT) * m.n - s._s > 0 THEN
              GREATEST(-1000000, LEAST(1000000,
                FLOOR(1000000.0
                  * CAST(CAST(m.n AS HUGEINT) * m._diag - s._s AS DOUBLE)
                  / CAST(CAST(m.n AS HUGEINT) * m.n - s._s AS DOUBLE))))
            END AS BIGINT) AS kappa_ppm
FROM marg m, s
"""


# --- disparate-impact audit of the filter gate (round-16 queue) ----------

DI_RATE_SCALE = 10**12  # rate quantization for the argmax ordering
DI_FOUR_FIFTHS_PPM = 800_000


def filter_disparate_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fairness audit of the training-filter gate, per language — the
    selection-rate parity check (the EEOC four-fifths rule applied to
    corpus curation): the lang-neutral gates of training_data_filter
    (quality >= MIN_QUALITY, n_tokens >= MIN_TOKENS — deliberately
    WITHOUT its lang == 'en' clause, which is the policy under audit)
    can still disproportionately drop languages whose scripts depress
    the latin-alpha quality heuristic, silently skewing the mix. Per
    language: selection rate, the disparate-impact ratio versus the
    best-selected language, and the four-fifths flag.

    Integer-exact: pass counts are exact; the reference language is
    the argmax of the selection rate under a deterministic total
    order (rate quantized to 1e-12 via pass * 1e12 div n — monotone,
    so only sub-1e-12 rate gaps can tie, resolved lexicographically,
    identically in both engines); di_vs_best_ppm = n_pass * n_best *
    1e6 div (pass_best * n) is a cross-multiplied exact rational in
    DECIMAL(38,0)/HUGEINT (all operands non-negative).

    Scale posture (100 TB): the scoring is the training_data_filter
    map pass minus its dedup window (rates audit RAW docs); one
    groupBy(lang) with map-side partials collapses the corpus to
    |langs| rows, and the best-language pick + ratio arithmetic ride
    that tiny frame (a broadcast of one row).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "lang", "text"
    )
    staged = docs.select(
        "lang", normalized_words_array(F.col("text")).alias("_words"), "text"
    )
    words = F.col("_words")
    n = F.size(words).cast("long")
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*EN_STOPWORDS))
    ).cast("long")
    n_chars = F.length("text").cast("long")
    alpha_chars = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    ).cast("long")
    stop_ratio = F.when(n > 0, stop_hits / n.cast("double")).otherwise(0.0)
    alpha_ratio = F.when(
        n_chars > 0, alpha_chars / n_chars.cast("double")
    ).otherwise(0.0)
    len_score = F.least(n, F.lit(100)) / 100.0
    quality = F.round(
        0.4 * stop_ratio + 0.4 * alpha_ratio + 0.2 * len_score, 6
    )
    gated = staged.select(
        "lang",
        (
            (quality >= MIN_QUALITY) & (n >= MIN_TOKENS)
        ).cast("long").alias("_pass"),
    )
    rates = gated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_pass").alias("n_pass"),
    )
    best = (
        rates.orderBy(
            F.desc(F.expr(f"n_pass * {DI_RATE_SCALE} div n")),
            F.asc("lang"),
        )
        .limit(1)
        .select(
            F.col("n").alias("_nb"), F.col("n_pass").alias("_pb")
        )
    )
    return rates.crossJoin(F.broadcast(best)).select(
        "lang",
        "n",
        "n_pass",
        F.expr("n_pass * 1000000 div n").alias("pass_ppm"),
        F.expr(
            "CAST(CAST(n_pass AS DECIMAL(38,0)) * _nb * 1000000"
            " div greatest(CAST(_pb AS DECIMAL(38,0)) * n, 1) AS BIGINT)"
        ).alias("di_vs_best_ppm"),
        F.expr(
            "CAST(n_pass AS DECIMAL(38,0)) * _nb * 1000000"
            f" div greatest(CAST(_pb AS DECIMAL(38,0)) * n, 1)"
            f" < {DI_FOUR_FIFTHS_PPM}"
        ).alias("below_four_fifths"),
    )


DISPARATE_IMPACT_SQL = f"""
WITH w AS (SELECT lang, text, {_words_sql()} AS words FROM documents),
m AS (
  SELECT lang,
         CAST(len(words) AS BIGINT) AS n,
         CAST(len(list_filter(words, x -> x IN ({_STOP_IN}))) AS BIGINT)
           AS stop_hits,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
              AS BIGINT) AS alpha_chars
  FROM w
),
q AS (
  SELECT lang,
         round(0.4 * (CASE WHEN n > 0
                           THEN stop_hits / CAST(n AS DOUBLE) ELSE 0.0 END)
               + 0.4 * (CASE WHEN n_chars > 0
                             THEN alpha_chars / CAST(n_chars AS DOUBLE)
                             ELSE 0.0 END)
               + 0.2 * (least(n, 100) / 100.0), 6) AS quality,
         n AS n_tokens
  FROM m
),
gated AS (
  SELECT lang,
         CASE WHEN quality >= {MIN_QUALITY} AND n_tokens >= {MIN_TOKENS}
              THEN 1 ELSE 0 END AS _pass
  FROM q
),
rates AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(_pass) AS BIGINT) AS n_pass
  FROM gated GROUP BY lang
),
best AS (
  SELECT n AS _nb, n_pass AS _pb FROM rates
  ORDER BY n_pass * {DI_RATE_SCALE} // n DESC, lang ASC LIMIT 1
)
SELECT r.lang, r.n, r.n_pass,
       CAST(r.n_pass * 1000000 // r.n AS BIGINT) AS pass_ppm,
       CAST(CAST(r.n_pass AS HUGEINT) * b._nb * 1000000
            // greatest(CAST(b._pb AS HUGEINT) * r.n, 1) AS BIGINT)
         AS di_vs_best_ppm,
       CAST(r.n_pass AS HUGEINT) * b._nb * 1000000
         // greatest(CAST(b._pb AS HUGEINT) * r.n, 1)
         < {DI_FOUR_FIFTHS_PPM} AS below_four_fifths
FROM rates r, best b
"""
