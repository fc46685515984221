"""N-gram frequency, TF-IDF, and tokenizer-comparison operators.

All native expressions. The n-gram construction reuses the staged
words-array pattern (expensive normalize chain evaluated once, gram
assembly from the column reference). TF-IDF is two aggregations and
a broadcast of the tiny docs-count — at corpus scale the only wide
exchange is the (word) document-frequency groupBy, which is the same
shuffle the wordcount already does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cachemgr import per_session, stage
from ..functions.text import MAX_WORD_LEN, NORMALIZE_SQL, normalized_words_array
from ..sources.catalog import load_table

TOP_BIGRAMS = 50
TFIDF_TOP_TERMS = 3
# ASCII BPE-ish pre-tokenizer: alnum runs or single non-alnum marks
BPE_PATTERN = "[a-z0-9]+|[^a-z0-9 ]"


def _words_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    docs = docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    return docs.select("doc_id", normalized_words_array(F.col("text")).alias("words"))


# (doc_id, word, tf) term frequencies, built once per (session,
# sf_dir). Both TF-IDF consumers (top-terms ranking and the cosine
# verify tier) start from the same tokenize -> per-doc term-count
# stage; document frequency derives from it with one more groupBy (tf
# is already one row per (doc, word)). Persisting it once per session
# mirrors the shingle stage in operators/dedup.py; the cluster
# equivalent is a materialized term-frequency table.
@per_session
def _tf_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = _words_per_doc(spark, sf_dir).select(
        "doc_id", F.explode("words").alias("word")
    )
    return tokens.groupBy("doc_id", "word").agg(
        F.count("*").alias("tf")
    ).transform(stage)


# (doc_id, word, tf) over 3-word SHINGLES, built once per (session,
# sf_dir) (Broder w-shingling, w=3). The all-pairs cosine tier runs
# in shingle space, not unigrams: the synthetic corpus has a 31-word
# vocabulary, so unigram tf-idf is 31-dimensional and every doc pair
# co-occurs on rare terms — prefix filtering degenerates to the full
# quadratic join (measured at sf0.1: 11.5M candidate pairs of 12.5M
# possible; bigrams were still 2.8M). Trigrams lift the space to
# ~27k dims with max df 25/5000 at sf0.1, restoring the
# discrimination the pruning depends on — and w-shingles are the
# standard document near-dup representation anyway.
@per_session
def _shingle_tf_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _words_per_doc(spark, sf_dir)
    n = F.size(F.col("words"))
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("words"), i),
                F.element_at(F.col("words"), i + 1),
                F.element_at(F.col("words"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tokens = w.select("doc_id", F.explode(grams).alias("word"))
    return tokens.groupBy("doc_id", "word").agg(
        F.count("*").alias("tf")
    ).transform(stage)


def _n_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row count of documents with non-empty text (the TF-IDF 'N' —
    note: counts docs whose every token filtered out too, matching the
    oracle's count over the words CTE). No tokenization needed."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    return docs.filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    ).agg(F.count("*").alias("n_docs"))


def _words_cte() -> str:
    norm = NORMALIZE_SQL.format(t="t")
    return f"""
w AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '), t -> {norm}),
                     w -> w <> '' AND length(w) <= {MAX_WORD_LEN}) AS words
  FROM documents
  WHERE text IS NOT NULL AND text <> ''
)"""


def word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word bigrams by corpus frequency (deterministic
    tie-break on the bigram text)."""
    w = _words_per_doc(spark, sf_dir)
    n = F.size(F.col("words"))
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("words"), i),
                F.element_at(F.col("words"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        w.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(TOP_BIGRAMS)
    )


WORD_BIGRAMS_SQL = f"""
WITH {_words_cte().lstrip()},
grams AS (
  SELECT unnest(CASE WHEN len(words) >= 2 THEN
           list_transform(range(1, len(words)),
                          i -> words[i] || ' ' || words[i+1])
         ELSE CAST([] AS VARCHAR[]) END) AS bigram
  FROM w
)
SELECT bigram, count(*) AS cnt FROM grams GROUP BY bigram
ORDER BY cnt DESC, bigram ASC LIMIT {TOP_BIGRAMS}
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    idf = ln((N+1)/(df+1)) + 1 (smoothed); N broadcast as a 1-row
    aggregate, df from one (word) groupBy. The ranking key is the
    QUANTIZED int64 weight tf * idf3 (idf in integer thousandths, as
    tfidf_cosine_pairs uses) — ranking on the raw double would make
    cross-engine row_number order depend on JVM Math.log vs libm log
    bit-identity. The reported tfidf is derived from the same int64
    weight, so both engines emit identical values. Ties break on the
    term so the per-doc top-k is deterministic."""
    tf = _tf_stage(spark, sf_dir)
    # df derives from tf (already one row per (doc, word)) — cheaper
    # than a distinct over the raw token stream.
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = _n_docs(spark, sf_dir)
    idf3 = F.round(
        (F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double")) + 1.0)
        * 1000, 0
    ).cast("long")
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("_w", F.col("tf") * idf3)
    )
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.desc("_w"), F.asc("word")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(rank_w))
        .filter(F.col("term_rank") <= TFIDF_TOP_TERMS)
        .select(
            "doc_id", "word", "tf", "df",
            (F.col("_w") / 1000.0).alias("tfidf"), "term_rank",
        )
    )


TFIDF_SQL = f"""
WITH {_words_cte().lstrip()},
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
df AS (
  SELECT word, count(*) AS df
  FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY word
),
nd AS (SELECT count(*) AS n_docs FROM w),
scored AS (
  SELECT doc_id, word, tf, df,
         tf * CAST(round((ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1.0)
                         * 1000, 0) AS BIGINT) AS _w
  FROM tf JOIN df USING (word) CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, word, tf, df, _w,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY _w DESC, word ASC) AS term_rank
  FROM scored
)
SELECT doc_id, word, tf, df, _w / 1000.0 AS tfidf, term_rank
FROM ranked WHERE term_rank <= {TFIDF_TOP_TERMS}
"""


def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish-regex token counts per document — the
    token-budget accounting a training pipeline runs over every doc.
    Pure regexp_extract_all, map-only."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text"
    )
    lowered = F.lower(F.col("text"))
    ws_tokens = F.size(
        F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    )
    bpe_tokens = F.size(
        F.regexp_extract_all(lowered, F.lit(BPE_PATTERN), 0)
    )
    return docs.select(
        "doc_id",
        ws_tokens.cast("long").alias("n_ws_tokens"),
        bpe_tokens.cast("long").alias("n_bpe_tokens"),
    )


BPE_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
         AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
"""


def doc_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal under a corpus-trained
    first-order LM — the CCNet-style "perplexity filter" that ranks
    documents by how unlike the corpus their word sequences are.

    Model: P(w2 | w1) = c(w1,w2) / c(w1,·) with counts from this same
    corpus; each doc scores mean(-ln P) over its bigrams. Scale shape:
    bigram extraction is map-only (array slice, no window); the model
    is ONE vocabulary-keyed groupBy (the same shuffle class as
    wordcount) with the unigram margin derived from it by a second,
    much smaller agg; scoring joins the doc bigrams back on the same
    (w1, w2) key. Surprisal is quantized to int64 micro-nats before
    the per-doc sum, so fold order cannot change a result; both
    engines compute ln on the identical count ratio.
    """
    w = _words_per_doc(spark, sf_dir)
    n = F.size(F.col("words"))
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(F.col("words"), i).alias("w1"),
                F.element_at(F.col("words"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = w.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = c2.groupBy("w1").agg(F.sum("n12").alias("n1"))
    micro = F.round(
        -F.log(F.col("n12") / F.col("n1").cast("double")) * 1000000, 0
    ).cast("long")
    scored = (
        pairs.join(c2, ["w1", "w2"]).join(c1, "w1").select(
            "doc_id", micro.alias("micro")
        )
    )
    # Half-up integer average of micro-nats before the one exact
    # division — round() after a double division can land decimal-tie
    # values on different sides per engine (see training_manifest).
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("micro").alias("_s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr("(2 * _s + n_bigrams) div (2 * n_bigrams)").cast(
                    "double"
                )
                / 1_000_000
            ).alias("avg_surprisal"),
        )
    )


DOC_LM_SURPRISAL_SQL = f"""
WITH {_words_cte().lstrip()},
pairs AS (
  SELECT doc_id,
         unnest(words[1:len(words) - 1]) AS w1,
         unnest(words[2:len(words)]) AS w2
  FROM w WHERE len(words) >= 2
),
c2 AS (SELECT w1, w2, count(*) AS n12 FROM pairs GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
scored AS (
  SELECT p.doc_id,
         CAST(round(-ln(c2.n12 / CAST(c1.n1 AS DOUBLE)) * 1000000, 0)
              AS BIGINT) AS micro
  FROM pairs p
  JOIN c2 ON c2.w1 = p.w1 AND c2.w2 = p.w2
  JOIN c1 ON c1.w1 = p.w1
)
SELECT doc_id, n_bigrams,
       CAST((2 * _s + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 1000000
         AS avg_surprisal
FROM (
  SELECT doc_id, count(*) AS n_bigrams, CAST(sum(micro) AS BIGINT) AS _s
  FROM scored GROUP BY doc_id
)
"""


# --- TF-IDF cosine over candidate pairs ------------------------------

def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine similarity for MinHash-LSH candidate pairs —
    sparse-vector similarity as a word-level join (no dense vectors
    materialized anywhere).

    Scale shape: weights live as (doc, word, w) rows; the numerator
    is a join on (word) RESTRICTED to candidate pairs, the norms are
    one groupBy(doc). Exactness: idf is quantized once to int
    thousandths, weights are int64 (tf * idf3), so every sum is exact
    integer math in both engines; floats appear only in the final
    sqrt/divide, identically ordered."""
    from .dedup import dedup_minhash

    tf = _tf_stage(spark, sf_dir)
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = _n_docs(spark, sf_dir)
    idf3 = F.round(
        (F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double")) + 1.0)
        * 1000, 0
    ).cast("long")
    # cached: referenced by the numerator join (twice) and the norms
    weights = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "word", (F.col("tf") * idf3).alias("w"))
        .transform(stage)
    )
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("_n2")
    )
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").transform(stage)
    wa = weights.select(
        F.col("doc_id").alias("doc_a"), "word", F.col("w").alias("_wa")
    )
    wb = weights.select(
        F.col("doc_id").alias("doc_b"), "word", F.col("w").alias("_wb")
    )
    num = (
        pairs.join(wa, "doc_a")
        .join(wb, ["doc_b", "word"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("_num"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("_n2").alias("_na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("_n2").alias("_nb"))
    return (
        pairs.join(num, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.coalesce(F.col("_num"), F.lit(0))
                / (F.sqrt(F.col("_na")) * F.sqrt(F.col("_nb"))),
                6,
            ).alias("tfidf_cosine"),
        )
    )


from .dedup import DEDUP_MINHASH_SQL as _MINHASH_PAIRS_SQL

TFIDF_COSINE_SQL = f"""
WITH {_words_cte().lstrip()},
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
df AS (
  SELECT word, count(*) AS df
  FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY word
),
nd AS (SELECT count(*) AS n_docs FROM w),
weights AS (
  SELECT doc_id, word,
         tf * CAST(round((ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1.0)
                         * 1000, 0) AS BIGINT) AS w
  FROM tf JOIN df USING (word) CROSS JOIN nd
),
norms AS (SELECT doc_id, sum(w * w) AS _n2 FROM weights GROUP BY doc_id),
pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL}) mh),
num AS (
  SELECT p.doc_a, p.doc_b, sum(a.w * b.w) AS _num
  FROM pairs p
  JOIN weights a ON a.doc_id = p.doc_a
  JOIN weights b ON b.doc_id = p.doc_b AND b.word = a.word
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       round(coalesce(n._num, 0) / (sqrt(na._n2) * sqrt(nb._n2)), 6)
         AS tfidf_cosine
FROM pairs p
LEFT JOIN num n ON n.doc_a = p.doc_a AND n.doc_b = p.doc_b
JOIN norms na ON na.doc_id = p.doc_a
JOIN norms nb ON nb.doc_id = p.doc_b
"""


# --- vocabulary statistics -------------------------------------------

OOV_VOCAB_SIZE = 1000
PMI_MIN_COUNT = 5
PMI_TOP = 50


def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-1000 vocabulary — the tokenizer-coverage check a training
    pipeline runs before committing to a vocab.

    The vocabulary is bounded (top-V by count, count-then-word
    tie-break so both engines pick the identical set) and broadcast;
    the per-doc pass is the token stream left-joined against it, so
    the only wide shuffle is the vocabulary build itself (wordcount's
    shuffle class)."""
    tf = _tf_stage(spark, sf_dir)
    counts = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("word"))
        .limit(OOV_VOCAB_SIZE)
        .select("word", F.lit(1).alias("_in_vocab"))
    )
    return (
        tf.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), F.col("tf")).otherwise(
                    F.lit(0)
                )
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


OOV_RATE_SQL = f"""
WITH {_words_cte().lstrip()},
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
counts AS (SELECT word, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY word),
vocab AS (
  SELECT word FROM counts ORDER BY cnt DESC, word ASC LIMIT {OOV_VOCAB_SIZE}
),
joined AS (
  SELECT tf.doc_id, tf.tf,
         CASE WHEN v.word IS NULL THEN tf.tf ELSE 0 END AS oov_tf
  FROM tf LEFT JOIN vocab v ON v.word = tf.word
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(sum(oov_tf) AS BIGINT) AS n_oov,
       round(CAST(sum(oov_tf) AS BIGINT)
             / CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE), 6) AS oov_rate
FROM joined GROUP BY doc_id
"""


def word_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequency spectrum (how many distinct words occur
    exactly k times) — the Zipf sanity check and the input to
    Good-Turing smoothing. Two aggregations; the second is tiny."""
    tf = _tf_stage(spark, sf_dir)
    counts = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    return counts.groupBy(F.col("cnt").alias("freq")).agg(
        F.count("*").alias("n_words")
    )


WORD_FREQ_SPECTRUM_SQL = f"""
WITH {_words_cte().lstrip()},
tok AS (SELECT unnest(words) AS word FROM w),
counts AS (SELECT word, count(*) AS freq FROM tok GROUP BY word)
SELECT freq, count(*) AS n_words FROM counts GROUP BY freq
"""


def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information over corpus
    bigrams with count >= 5.

    PMI = ln(c12·N / (m1·m2)) with m1/m2 the first/second-position
    margins, all derived from ONE (w1,w2) count shuffle; N rides a
    broadcast 1-row frame. The ln argument is assembled in DOUBLE
    (c12·N overflows int64 at web scale); ranking is on int64
    micro-nat PMI with a (w1, w2) tie-break so both engines emit the
    identical top-k."""
    w = _words_per_doc(spark, sf_dir)
    n = F.size(F.col("words"))
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(F.col("words"), i).alias("w1"),
                F.element_at(F.col("words"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = w.select(F.explode(grams).alias("g")).select(
        F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    )
    # cached: the bigram counts feed both margins, the total AND the
    # scored join; uncached, the bigram explode + groupBy re-ran per
    # reference (8 parquet scans / 28 Exchanges in the r13 plan
    # audit). Bigram-vocabulary-bounded. Guide §5.
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n12")).transform(stage)
    m1 = c2.groupBy("w1").agg(F.sum("n12").alias("m1"))
    m2 = c2.groupBy("w2").agg(F.sum("n12").alias("m2"))
    total = c2.agg(F.sum("n12").alias("n_total"))
    pmi_micro = F.round(
        F.log(
            (F.col("n12").cast("double") * F.col("n_total"))
            / (F.col("m1").cast("double") * F.col("m2"))
        )
        * 1000000,
        0,
    ).cast("long")
    return (
        c2.filter(F.col("n12") >= PMI_MIN_COUNT)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "n12", pmi_micro.alias("_pmi")
        )
        .orderBy(F.desc("_pmi"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP)
        .select(
            "w1", "w2", "n12", (F.col("_pmi") / 1000000.0).alias("pmi")
        )
    )


BIGRAM_PMI_SQL = f"""
WITH {_words_cte().lstrip()},
pairs AS (
  SELECT doc_id,
         unnest(words[1:len(words) - 1]) AS w1,
         unnest(words[2:len(words)]) AS w2
  FROM w WHERE len(words) >= 2
),
c2 AS (SELECT w1, w2, count(*) AS n12 FROM pairs GROUP BY w1, w2),
m1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS m1 FROM c2 GROUP BY w1),
m2 AS (SELECT w2, CAST(sum(n12) AS BIGINT) AS m2 FROM c2 GROUP BY w2),
tot AS (SELECT CAST(sum(n12) AS BIGINT) AS n_total FROM c2),
scored AS (
  SELECT c2.w1, c2.w2, c2.n12,
         CAST(round(ln((CAST(c2.n12 AS DOUBLE) * n_total)
                       / (CAST(m1.m1 AS DOUBLE) * m2.m2)) * 1000000, 0)
              AS BIGINT) AS _pmi
  FROM c2
  JOIN m1 ON m1.w1 = c2.w1
  JOIN m2 ON m2.w2 = c2.w2
  CROSS JOIN tot
  WHERE c2.n12 >= {PMI_MIN_COUNT}
)
SELECT w1, w2, n12, _pmi / 1000000.0 AS pmi
FROM scored ORDER BY _pmi DESC, w1 ASC, w2 ASC LIMIT {PMI_TOP}
"""


# --- BM25 ranked retrieval -------------------------------------------

BM25_QUERY_TERMS = ("hash", "join", "scan")
BM25_TOP_K = 10
# k1=1.2, b=0.75 in integer milli-units: numerator factor (k1+1)=2.2
# -> 2200; denominator tf + k1(1-b) + k1*b*dl/avgdl -> 1000*tf + 300
# + (900000*dl) // avgdl_milli.


def bm25_scored_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 candidate set BEFORE top-k: (doc_id, _sm) where _sm is
    the summed integer micro-unit BM25 score of every document that
    contains at least one query term. Shared by bm25_search (which
    takes top-k here) and similarity.rrf_rank_fusion (which fuses the
    full lexical ranking with a vector ranking)."""
    tf = _tf_stage(spark, sf_dir)
    # cached: one row per doc; feeds the avgdl rollup AND the scoring
    # join (r13 — recomputed the full-TF groupBy per reference)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).transform(stage)
    n_docs = _n_docs(spark, sf_dir)
    # floor(1000 * total_tokens / n_docs) — both engines integer-exact
    avg = (
        dl.agg(F.sum("dl").alias("_tot"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.expr("(1000 * _tot) div n_docs").alias("avgdl_milli")
        )
    )
    tf_q = tf.filter(F.col("word").isin(*BM25_QUERY_TERMS))
    df = tf_q.groupBy("word").agg(F.count("*").alias("df"))
    idf3 = F.round(
        F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
        )
        * 1000,
        0,
    ).cast("long")
    word_idf = df.crossJoin(F.broadcast(n_docs)).select(
        "word", idf3.alias("idf3")
    )
    scored = (
        tf_q.join(dl, "doc_id")
        .join(F.broadcast(word_idf), "word")
        .crossJoin(F.broadcast(avg))
        .select(
            "doc_id",
            F.expr(
                "(idf3 * 2200 * tf * 1000) div "
                "(1000 * tf + 300 + (900000 * dl) div avgdl_milli)"
            ).alias("_s_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(F.sum("_s_micro").alias("_sm"))


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a fixed query under BM25 (k1=1.2, b=0.75)
    — the ranked-retrieval face of the TF stage, beside TF-IDF's
    feature-extraction face.

    Engine-exact scoring: the only float op is the idf ln(), which is
    immediately quantized to int64 milli-units (the tfidf_top_terms
    idiom); document length, the average-length ratio, the saturation
    denominator, and the final score are all integer arithmetic
    (floor divisions), so cross-engine ranking can never disagree on
    a tie-adjacent double.

    Scale posture: the posting lists touched are ONLY the query
    terms' (a filter on the persisted TF stage — at index scale, an
    inverted-index lookup); doc lengths come from the same TF stage;
    idf and avgdl ride broadcast frames of |query| and 1 rows; top-k
    is TakeOrderedAndProject. Nothing scans the corpus at query time
    except the shared, amortized TF build."""
    scored = bm25_scored_micro(spark, sf_dir)
    return (
        scored.orderBy(F.desc("_sm"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
        .select(
            "doc_id", (F.col("_sm") / 1_000_000.0).alias("bm25_score")
        )
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
# CTE chain through the summed integer micro-score per candidate doc
# (`bsum`), shared by BM25_SEARCH_SQL and similarity.RRF_RANK_FUSION_SQL.
BM25_SCORED_CTES = f"""{_words_cte().lstrip()},
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
nd AS (SELECT count(*) AS n_docs FROM w),
avg AS (
  SELECT (1000 * (SELECT CAST(sum(dl) AS BIGINT) FROM dl)) // n_docs
           AS avgdl_milli
  FROM nd
),
tfq AS (SELECT * FROM tf WHERE word IN ({_BM25_TERMS_SQL})),
df AS (SELECT word, count(*) AS df FROM tfq GROUP BY word),
widf AS (
  SELECT word,
         CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000, 0)
              AS BIGINT) AS idf3
  FROM df CROSS JOIN nd
),
scored AS (
  SELECT t.doc_id,
         (w2.idf3 * 2200 * t.tf * 1000)
           // (1000 * t.tf + 300 + (900000 * d.dl) // a.avgdl_milli)
           AS _s_micro
  FROM tfq t
  JOIN dl d ON d.doc_id = t.doc_id
  JOIN widf w2 ON w2.word = t.word
  CROSS JOIN avg a
),
bsum AS (
  SELECT doc_id, CAST(sum(_s_micro) AS BIGINT) AS _sm
  FROM scored GROUP BY doc_id
)"""

BM25_SEARCH_SQL = f"""
WITH {BM25_SCORED_CTES.lstrip()}
SELECT doc_id, _sm / 1000000.0 AS bm25_score
FROM bsum
ORDER BY _sm DESC, doc_id ASC
LIMIT {BM25_TOP_K}
"""


# --- vocabulary growth (Heaps-law curve) ------------------------------

VOCAB_BUCKET = 50  # docs per ingestion bucket


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: ingest documents in doc_id order
    in buckets of VOCAB_BUCKET and report, per bucket, how many
    never-before-seen words appear and the cumulative vocabulary.

    The classic MapReduce formulation (re-scan the corpus per prefix)
    is quadratic; this is the single-pass rewrite: a word's "birth
    bucket" is simply min(doc_id div B) over its postings — one
    shuffle on the word off the shared TF stage (tf is already one
    row per (doc, word), so the min-fold touches no raw tokens), a
    tiny groupBy(bucket), and a cumulative window over the handful of
    bucket rows. Same first-seen-rewrite trick as user_reach_curve."""
    tf = _tf_stage(spark, sf_dir)
    birth = tf.select(
        "word", F.expr(f"doc_id div {VOCAB_BUCKET}").alias("b")
    ).groupBy("word").agg(F.min("b").alias("bucket"))
    per_bucket = birth.groupBy("bucket").agg(
        F.count("*").alias("n_new_words")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        "bucket",
        "n_new_words",
        F.sum("n_new_words").over(w).alias("cum_vocab"),
    )


VOCAB_GROWTH_SQL = f"""
WITH {_words_cte().lstrip()},
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
birth AS (
  SELECT word, min(doc_id // {VOCAB_BUCKET}) AS bucket
  FROM tok GROUP BY word
),
per_bucket AS (
  SELECT bucket, count(*) AS n_new_words FROM birth GROUP BY bucket
)
SELECT bucket, n_new_words,
       CAST(sum(n_new_words) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_vocab
FROM per_bucket
"""


JSD_LANG_A = "en"
JSD_LANG_B = "de"
JSD_SCALE = 1_000_000


def js_divergence_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the English and German
    unigram distributions — the corpus-comparison statistic a data
    curator uses to quantify how different two sources/slices are
    before mixing them.

    One tokenize pass over the two slices (shared scan, conditional
    sums pivot the (word, lang) counts to one row per word), one
    broadcast of the 1-row token totals. Per-word KL terms use double
    RATIOS of exact int64 counts (p = a/Na etc. — identical IEEE
    division in both engines, and no a*Nb product that would overflow
    int64 at the 100 TB posture), then quantize ln() to micro-nats
    BEFORE the weighted sum, which runs as Σ count·int64 — fold-order
    free. The final jsd is two exact divisions on the int sums."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "lang", "text"
    )
    docs = docs.filter(
        F.col("lang").isin(JSD_LANG_A, JSD_LANG_B)
        & F.col("text").isNotNull()
        & (F.col("text") != "")
    )
    tokens = docs.select("lang", F.explode(normalized_words_array(F.col("text"))).alias("word"))
    counts = tokens.groupBy("word").agg(
        F.sum(F.when(F.col("lang") == JSD_LANG_A, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("lang") == JSD_LANG_B, 1).otherwise(0)).alias("b"),
    )
    totals = counts.agg(
        F.sum("a").alias("_na"), F.sum("b").alias("_nb")
    )
    terms = counts.crossJoin(F.broadcast(totals)).select(
        "a",
        "b",
        "_na",
        "_nb",
        F.expr(
            f"""CASE WHEN a > 0 THEN a * CAST(round(ln(
                  (2 * (a / CAST(_na AS DOUBLE))) /
                  (a / CAST(_na AS DOUBLE) + b / CAST(_nb AS DOUBLE))
                ) * {JSD_SCALE}) AS BIGINT) ELSE 0 END"""
        ).alias("_t1"),
        F.expr(
            f"""CASE WHEN b > 0 THEN b * CAST(round(ln(
                  (2 * (b / CAST(_nb AS DOUBLE))) /
                  (a / CAST(_na AS DOUBLE) + b / CAST(_nb AS DOUBLE))
                ) * {JSD_SCALE}) AS BIGINT) ELSE 0 END"""
        ).alias("_t2"),
    )
    return terms.groupBy().agg(
        F.count("*").alias("n_vocab_union"),
        F.max("_na").alias("n_tokens_a"),
        F.max("_nb").alias("n_tokens_b"),
        (
            (
                F.sum("_t1") / F.max("_na")
                + F.sum("_t2") / F.max("_nb")
            )
            / (2.0 * JSD_SCALE)
        ).alias("jsd_nats"),
    )


from ..functions.text import words_cte_sql as _words_cte_sql  # noqa: E402

JS_DIVERGENCE_SQL = f"""
WITH {_words_cte_sql(extra_cols="lang")},
counts AS (
  SELECT word,
         sum(CASE WHEN lang = '{JSD_LANG_A}' THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN lang = '{JSD_LANG_B}' THEN 1 ELSE 0 END) AS b
  FROM words_f WHERE lang IN ('{JSD_LANG_A}', '{JSD_LANG_B}')
  GROUP BY word
),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
        FROM counts),
terms AS (
  SELECT a, b, na, nb,
         CASE WHEN a > 0 THEN a * CAST(round(ln(
             (2 * (a / CAST(na AS DOUBLE))) /
             (a / CAST(na AS DOUBLE) + b / CAST(nb AS DOUBLE))
           ) * {JSD_SCALE}) AS BIGINT) ELSE 0 END AS t1,
         CASE WHEN b > 0 THEN b * CAST(round(ln(
             (2 * (b / CAST(nb AS DOUBLE))) /
             (a / CAST(na AS DOUBLE) + b / CAST(nb AS DOUBLE))
           ) * {JSD_SCALE}) AS BIGINT) ELSE 0 END AS t2
  FROM counts CROSS JOIN tot
)
SELECT count(*) AS n_vocab_union,
       max(na) AS n_tokens_a,
       max(nb) AS n_tokens_b,
       (sum(t1) / CAST(max(na) AS DOUBLE)
        + sum(t2) / CAST(max(nb) AS DOUBLE)) / (2.0 * {JSD_SCALE})
         AS jsd_nats
FROM terms
"""


BPE_MERGE_TOP = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner step of BPE tokenizer TRAINING: the most frequent
    adjacent symbol pairs over the corpus, weighted by word
    frequency — iteration one of the merge loop every byte-pair
    tokenizer is built from (the counts that decide the first merge
    rule).

    The critical scale property of real BPE training is reproduced
    exactly: pair statistics are computed over the WORD-FREQUENCY
    LIST (Zipf-bounded vocabulary rows, each with its count), never
    over raw tokens — a word seen 10^9 times contributes its pairs
    once, weighted. Adjacent pairs come straight from substr(word,
    i, 2) (no char-array explode), a bounded map-side fan-out of
    len-1 per vocab row; the aggregate is pair-keyed; top-k is
    TakeOrderedAndProject with a lexical tiebreak."""
    counts = (
        _words_per_doc(spark, sf_dir)
        .select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = counts.select(
        "cnt",
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substr(word, i, 2))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(BPE_MERGE_TOP)
    )


BPE_MERGE_SQL = f"""
WITH {_words_cte().lstrip()},
counts AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest(words) AS word FROM w)
  GROUP BY word
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(word)),
           i -> substr(word, CAST(i AS INTEGER), 2))) AS pair,
         cnt
  FROM counts WHERE length(word) >= 2
)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC
LIMIT {BPE_MERGE_TOP}
"""


def bpe_second_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, iteration TWO — learn the first merge
    rule from the corpus, APPLY it to the symbolized vocabulary, and
    emit the next iteration's top merge candidates. The full
    declarative shape of the training loop (kmeans_2iter's stance:
    fixed iterations, unrolled, every step oracle-reproducible).

    Mechanics both engines share bit-for-bit:
    - words symbolize to space-joined chars ('hello' -> 'h e l l o');
    - iteration-1 pair counts come off the symbol arrays weighted by
      word frequency; the best pair is a deterministic top-1
      ((count DESC, pair ASC)) broadcast back as a 1-row frame —
      never a driver-side collect;
    - the merge applies as ``replace(' '||sym||' ', ' '||a||' '||b,
      ' '||a||b)`` — left-to-right non-overlapping, which IS the BPE
      application order, and verified identical between Spark and
      DuckDB ('l l l l' -> 'll ll'). The needle omits the trailing
      boundary, which is unambiguous at iteration 1 because every
      symbol is still a single character (documented limit: further
      iterations would need boundary-aware needles);
    - iteration-2 candidates aggregate pair-keyed and emit top-20.

    Scale: everything is per-vocab-row string work (Zipf-bounded) +
    two pair-keyed aggregates; the learned rule is a broadcast."""
    counts = (
        _words_per_doc(spark, sf_dir)
        .select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select(
            "cnt",
            F.trim(
                F.regexp_replace(F.col("word"), "(.)", "$1 ")
            ).alias("sym"),
        )
    )

    def pair_counts(df: DataFrame) -> DataFrame:
        arr = F.split(F.col("sym"), " ")
        pairs = F.when(
            F.size(arr) >= 2,
            F.expr(
                "transform(sequence(1, size(split(sym, ' ')) - 1),"
                " i -> concat(element_at(split(sym, ' '), i), '+',"
                " element_at(split(sym, ' '), i + 1)))"
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            df.select("cnt", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n_occurrences"))
        )

    best = (
        pair_counts(counts)
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(1)
        .select(
            F.element_at(F.split("pair", r"\+"), 1).alias("_a"),
            F.element_at(F.split("pair", r"\+"), 2).alias("_b"),
        )
    )
    merged = counts.crossJoin(F.broadcast(best)).select(
        "cnt",
        F.trim(
            F.expr(
                "replace(concat(' ', sym, ' '),"
                " concat(' ', _a, ' ', _b), concat(' ', _a, _b))"
            )
        ).alias("sym"),
    )
    return (
        pair_counts(merged)
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(BPE_MERGE_TOP)
    )


BPE_SECOND_MERGE_SQL = f"""
WITH {_words_cte().lstrip()},
counts AS (
  SELECT cnt,
         trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym
  FROM (
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(words) AS word FROM w)
    GROUP BY word
  )
),
p1 AS (
  SELECT pair, sum(cnt) AS n
  FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(string_split(sym, ' '))),
             i -> string_split(sym, ' ')[i] || '+'
                  || string_split(sym, ' ')[i + 1])) AS pair
    FROM counts WHERE len(string_split(sym, ' ')) >= 2
  ) GROUP BY pair
),
best AS (
  SELECT string_split(pair, '+')[1] AS a,
         string_split(pair, '+')[2] AS b
  FROM p1 ORDER BY n DESC, pair ASC LIMIT 1
),
merged AS (
  SELECT cnt,
         trim(replace(' ' || sym || ' ',
                      ' ' || a || ' ' || b,
                      ' ' || a || b)) AS sym
  FROM counts CROSS JOIN best
),
p2 AS (
  SELECT pair, sum(cnt) AS n
  FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(string_split(sym, ' '))),
             i -> string_split(sym, ' ')[i] || '+'
                  || string_split(sym, ' ')[i + 1])) AS pair
    FROM merged WHERE len(string_split(sym, ' ')) >= 2
  ) GROUP BY pair
)
SELECT pair, CAST(n AS BIGINT) AS n_occurrences
FROM p2 ORDER BY n_occurrences DESC, pair ASC
LIMIT {BPE_MERGE_TOP}
"""


def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility (BPE-ish tokens per whitespace word) per
    language — the metric a multilingual tokenizer is graded on
    (fertility >> 1 for a language means its text costs that many
    times more sequence length per word). Extends bpe_token_count's
    per-doc accounting to the per-language corpus view: one map pass,
    one tiny lang-keyed exchange, fertility from int64 sums with one
    half-up milli division."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "lang", "text"
    )
    lowered = F.lower(F.col("text"))
    per = docs.select(
        "lang",
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        .cast("long")
        .alias("_ws"),
        F.size(F.regexp_extract_all(lowered, F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("_bpe"),
    )
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("_ws").alias("n_ws_tokens"),
        F.sum("_bpe").alias("n_bpe_tokens"),
        (
            F.expr(
                "(2 * 1000 * sum(_bpe) + sum(_ws)) div (2 * sum(_ws))"
            )
            / 1000.0
        ).alias("fertility"),
    )


TOKENIZER_FERTILITY_SQL = f"""
WITH per AS (
  SELECT lang,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS _ws,
         CAST(len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))
              AS BIGINT) AS _bpe
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(_ws) AS BIGINT) AS n_ws_tokens,
       CAST(sum(_bpe) AS BIGINT) AS n_bpe_tokens,
       ((2 * 1000 * sum(_bpe) + sum(_ws)) // (2 * sum(_ws))) / 1000.0
         AS fertility
FROM per GROUP BY lang
"""


# ----------------------------------------------------------------------
# Round-7 queue (implemented + tested ahead of registration — the
# round-6 freeze left zero slots; see SURVEY.md "Round-7 queue").
# ----------------------------------------------------------------------

# cosine threshold as an exact rational: tau = 0.9, tau^2 = 81/100
# (0.9, not the textbook 0.6: the synthetic corpus is template-generated
# and over half of ALL pairs clear 0.6 — see the histogram note in
# tests/test_round7_queue.py)
ALLPAIRS_TAU_NUM = 81
ALLPAIRS_TAU_DEN = 100


def allpairs_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs cosine >= 0.9 over TF-IDF vectors of 3-word
    SHINGLES via prefix filtering (Bayardo/Chaudhuri AllPairs) — the
    similarity-join tier between LSH (candidates with false
    negatives) and brute force (quadratic): provably complete, still
    never builds the cross product.

    The feature space is w=3 shingles, not unigrams, for two reasons:
    (1) word shingles are the standard near-dup representation (order
    sensitivity); (2) pruning needs dimensionality — see the
    _shingle_tf_stage note for the measured unigram/bigram
    degeneration on this corpus.

    Canonical term order is (df ASC, word) — rarest first. A doc's
    PREFIX is the shortest head whose remaining tail satisfies
    tail_sumsq < tau^2 * norm_sumsq; by Cauchy-Schwarz a pair whose
    shared terms all fall in either doc's tail has cosine < tau, so
    indexing ONLY prefix terms and self-joining that index loses
    nothing — the driver hash against the brute-force oracle certifies
    exactly that (any false negative drops a row and mismatches).
    The fan-out control is structural: prefixes concentrate on rare
    (low-df) terms because frequent terms carry low idf weight and
    sit in the tail, so the per-term join fan-out is small where a
    raw shingle-level self-join would square the frequent postings.
    The prefix test is pure int64 ({ALLPAIRS_TAU_DEN}*tail >=
    {ALLPAIRS_TAU_NUM}*norm); the final threshold compare squares the
    integer dot into a double with the identical expression order in
    both engines. At 100 TB: one window per doc for tails, one
    self-join keyed on prefix terms, one verify join — all
    shuffle-bounded by prefix postings, never the corpus squared."""
    tf = _shingle_tf_stage(spark, sf_dir)
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = _n_docs(spark, sf_dir)
    idf3 = F.round(
        (F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double")) + 1.0)
        * 1000, 0
    ).cast("long")
    # Dense integer vocab ids ride along from the df join: the
    # verify-stage dot merges two ~60-entry Catalyst maps, and
    # element_at on ArrayBasedMapData is a LINEAR key scan — with the
    # 25-char bigram strings as keys that scan measured 0.55 ms per
    # pair (1525 CPU-s for 2.8M candidates at sf0.1); int64 keys make
    # it a long-compare scan, ~60x cheaper. The window over 931 vocab
    # rows is one tiny partition; at 100 TB vocab ids come from a
    # precomputed dictionary table instead.
    df = df.withColumn(
        "wid", F.row_number().over(Window.orderBy("word")).cast("long")
    )
    weights = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "word", "df", "wid", (F.col("tf") * idf3).alias("w")
        )
        .transform(stage)
    )
    # cached: one row per doc; feeds the prefix flagging AND both
    # final norm joins (r13 — the plan re-ran the rollup per
    # reference; 137 scan/exchange nodes before staging)
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("_n2")
    ).transform(stage)
    tail_w = (
        Window.partitionBy("doc_id")
        .orderBy(F.asc("df"), F.asc("word"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    flagged = (
        weights.withColumn("_tail", F.sum(F.col("w") * F.col("w")).over(tail_w))
        .join(norms, "doc_id")
        .withColumn(
            "_in_prefix",
            F.col("_tail") * ALLPAIRS_TAU_DEN
            >= F.col("_n2") * ALLPAIRS_TAU_NUM,
        )
    )
    # cached: the prefix postings feed BOTH sides of the candidate
    # self-join; uncached, the tail window re-ran per side (r13)
    prefix_idx = flagged.filter("_in_prefix").select(
        "doc_id", "word", "_tail", "_n2"
    ).transform(stage)
    # PPJoin-style pairwise tail filter: for a QUALIFYING pair, its
    # first shared term (in canonical order) satisfies
    # tail_a * tail_b >= tau^2 * na2 * nb2 (Cauchy-Schwarz over the
    # shared-term suffix: every shared term sits at or after it in
    # BOTH docs' canonical tails), so tuples failing the product test
    # can be dropped without losing any pair — terms near the prefix
    # BOUNDARY of both docs fail it (tail ~= tau^2*norm2 each side,
    # and tau^4 < tau^2). The filter is Spark-internal (the verify
    # stage below decides membership), so double math is fine; the
    # 1e-9 slack keeps it conservative against rounding at exact
    # equality.
    tail_ok = (
        F.col("a._tail").cast("double") * F.col("b._tail") * ALLPAIRS_TAU_DEN
        >= F.col("a._n2").cast("double")
        * F.col("b._n2")
        * (ALLPAIRS_TAU_NUM * (1.0 - 1e-9))
    )
    cands = (
        prefix_idx.alias("a")
        .join(prefix_idx.alias("b"), "word")
        .filter((F.col("a.doc_id") < F.col("b.doc_id")) & tail_ok)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        # explicit width: AQE sees ~tens of MB of candidate pairs and
        # would coalesce the verify stage to 1-2 tasks; the per-pair
        # dot below is the CPU-heavy part, so pin its parallelism.
        .repartition(32)
    )
    # Verification WITHOUT row explosion: joining cands back to the
    # posting lists (cands x terms x terms) measured 170M intermediate
    # rows at sf0.1. Instead each doc's sparse vector rides along as a
    # broadcast word->weight map (one row per doc), and the dot is an
    # expression-level merge of the two 60-ish-entry maps — the
    # candidate row count never inflates. At 100 TB the doc-map side
    # shards by doc_id range instead of broadcasting; the pair table
    # still never exceeds |candidates|.
    # cached: one map row per doc, broadcast into BOTH verify joins;
    # uncached, the map assembly re-ran per side (r13)
    doc_map = weights.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("wid", "w"))
        ).alias("_wmap")
    ).transform(stage)
    num = (
        cands.join(
            F.broadcast(doc_map).select(
                F.col("doc_id").alias("doc_a"), F.col("_wmap").alias("_ma")
            ),
            "doc_a",
        )
        .join(
            F.broadcast(doc_map).select(
                F.col("doc_id").alias("doc_b"), F.col("_wmap").alias("_mb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.aggregate(
                F.map_entries("_ma"),
                F.lit(0).cast("long"),
                lambda acc, e: acc
                + F.coalesce(
                    e["value"] * F.element_at(F.col("_mb"), e["key"]),
                    F.lit(0).cast("long"),
                ),
            ).alias("_num"),
        )
        .filter(F.col("_num") > 0)
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("_n2").alias("_na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("_n2").alias("_nb"))
    return (
        num.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            F.col("_num").cast("double") * F.col("_num").cast("double")
            * ALLPAIRS_TAU_DEN
            >= F.lit(ALLPAIRS_TAU_NUM).cast("double")
            * F.col("_na")
            * F.col("_nb")
        )
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("_num") / (F.sqrt("_na") * F.sqrt("_nb")), 6
            ).alias("cosine"),
        )
    )


ALLPAIRS_PREFIX_SQL = f"""
WITH {{words_cte}},
big AS (
  SELECT doc_id,
         list_transform(range(1, len(words) - 1),
                        i -> words[i] || ' ' || words[i+1] || ' ' ||
                             words[i+2]) AS grams
  FROM w WHERE len(words) >= 3
),
tok AS (SELECT doc_id, unnest(grams) AS word FROM big),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
nd AS (SELECT count(*) AS n_docs FROM w),
weights AS (
  SELECT doc_id, word,
         tf * CAST(round((ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1.0)
                         * 1000, 0) AS BIGINT) AS w
  FROM tf JOIN df USING (word) CROSS JOIN nd
),
norms AS (
  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS _n2
  FROM weights GROUP BY doc_id
),
num AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.w * b.w) AS BIGINT) AS _num
  FROM weights a JOIN weights b
    ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT n.doc_a, n.doc_b,
       round(_num / (sqrt(na._n2) * sqrt(nb._n2)), 6) AS cosine
FROM num n
JOIN norms na ON na.doc_id = n.doc_a
JOIN norms nb ON nb.doc_id = n.doc_b
WHERE CAST(_num AS DOUBLE) * CAST(_num AS DOUBLE) * {ALLPAIRS_TAU_DEN}
      >= CAST({ALLPAIRS_TAU_NUM} AS DOUBLE) * na._n2 * nb._n2
"""


# --- Zipf exponent per source (round-12 queue, built round 10) ------------

ZIPF_TOP_RANKS = 200


def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent per source: the least-squares slope of
    ln(freq) vs ln(rank) over each source's top-{ZIPF_TOP_RANKS}
    words. Natural text runs slope ~ -1; a source drifting toward 0
    is template/boilerplate-heavy (flat head), one far below -1 has
    a degenerate vocabulary — word_freq_spectrum's corpus-wide
    sanity check, sharpened into a per-delivery curation signal.

    Exactness: ranks come from a per-source ROW_NUMBER over the
    (source, word) count frame (count desc, word asc — identical
    total order both engines); ln(rank) and ln(freq) are quantized
    to int64 micro-nats BEFORE any sum (the bigram_pmi idiom); the
    normal-equation sums n*Sxy - Sx*Sy and n*Sxx - Sx^2 stay int64
    to ~1e12 tokens per source (n <= 200, x <= ln(200)*1e6, y <=
    ln(1e12)*1e6 keeps n*Sxy < 2^63); the single final division is
    correctly-rounded float64, identical on identical integer inputs.
    NULL when fewer than two distinct ranks (slope undefined).

    Scale posture (100 TB): one (source, word) groupBy collapses
    map-side to the vocabulary frame; the rank window slides over
    each source's DISTINCT words (vocabulary-granular, never
    per-token); the regression is a |sources|-row rollup of the
    top-200 cells.
    """
    words = _words_per_doc(spark, sf_dir).select(
        "doc_id", F.explode("words").alias("word")
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = words.join(src, "doc_id").groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("word"))
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ZIPF_TOP_RANKS)
        .select(
            "source",
            F.round(F.log(F.col("rank").cast("double")) * 1_000_000, 0)
            .cast("long")
            .alias("x"),
            F.round(F.log(F.col("cnt").cast("double")) * 1_000_000, 0)
            .cast("long")
            .alias("y"),
        )
    )
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n_ranks") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n_ranks") * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        "source",
        "n_ranks",
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(
            F.round(
                num.cast("double") / den.cast("double") * 1_000_000, 0
            ).cast("long")
        )
        .alias("zipf_slope_micro"),
    )


ZIPF_SLOPE_SQL = f"""
WITH {{words_cte}},
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
counts AS (
  SELECT d.source, t.word, CAST(count(*) AS BIGINT) AS cnt
  FROM tok t JOIN documents d USING (doc_id)
  GROUP BY d.source, t.word
),
ranked AS (
  SELECT source,
         CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y
  FROM (
    SELECT source, cnt,
           row_number() OVER (PARTITION BY source
                              ORDER BY cnt DESC, word ASC) AS rank
    FROM counts
  ) WHERE rank <= {ZIPF_TOP_RANKS}
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM ranked GROUP BY source
)
SELECT source, n_ranks,
       CASE WHEN n_ranks * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(round(
              CAST(n_ranks * sxy - sx * sy AS DOUBLE)
              / CAST(n_ranks * sxx - sx * sx AS DOUBLE)
              * 1000000, 0) AS BIGINT)
       END AS zipf_slope_micro
FROM agg
"""


def _zipf_slope_sql() -> str:
    return ZIPF_SLOPE_SQL.format(words_cte=_words_cte().lstrip())


ZIPF_SLOPE_ORACLE = _zipf_slope_sql()


# --- surprisal filter curve (round-16 queue, built round 10) ----------------

SURPRISAL_KEEP_PCTS = (10, 20, 30, 40, 50, 60, 70, 80, 90)


# Eagerly materialized per-doc (v, n_bigrams) surprisal score frame
# for the curve (one row per doc, two ints), built once per (session,
# sf_dir) — the dedup.doc_shingle_hashes contract; doc_lm_surprisal
# itself stays unmemoized and recomputes its scoring pass per call.
@per_session
def _surprisal_score_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_lm_surprisal(spark, sf_dir).select(
        F.round(F.col("avg_surprisal") * 1_000_000, 0)
        .cast("long")
        .alias("v"),
        "n_bigrams",
    ).localCheckpoint(eager=True)


def surprisal_filter_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet perplexity-filter TRADE made explicit: for each
    keep-the-best d% cut on the per-doc LM surprisal ranking, what
    threshold does that imply and how much bigram mass survives —
    the curve a curation team reads before choosing the cutoff
    doc_lm_surprisal only scores. (Keeping LOW surprisal keeps
    corpus-typical text; the tail is the noise candidate.)

    Histogram order statistics over DISTINCT quantized surprisal
    values (never a per-doc rank): per value, doc and bigram-mass
    counts; one cumulative window; for each d, rank = (N*d) div 100
    and the threshold is the SMALLEST value whose cumulative doc
    count reaches the rank — whole tie-groups stay together, so
    n_docs_kept can overshoot the rank by the boundary group
    (deterministic on both engines; documented rather than split).
    Deciles whose rank is 0 (tiny corpora) are omitted identically.
    The per-doc score re-enters integer space as round(avg * 1e6) —
    exact, because avg_surprisal is an int64 micro value divided by
    1e6 (round() undoes the one correctly-rounded division).

    Scale posture (100 TB): rides doc_lm_surprisal's one
    vocabulary-keyed shuffle; the curve adds a value-histogram
    groupBy, a distinct-value window, and a 9-row spine join.
    """
    # eagerly materialized once per session (r13): the per-doc score
    # frame feeds the value histogram AND the totals aggregate;
    # uncached, the whole doc_lm_surprisal scoring pipeline
    # (tokenize + bigram LM + score-back joins) re-ran twice
    # (6 parquet scans in the before-plan). One row per doc, two
    # ints. The per_session memo also spares the curve rebuilding the
    # scoring pass on every call; doc_lm_surprisal itself stays
    # unmemoized.
    s = _surprisal_score_frame(spark, sf_dir)
    hist = s.groupBy("v").agg(
        F.count(F.lit(1)).alias("_d"), F.sum("n_bigrams").alias("_m")
    )
    w_cum = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = hist.select(
        "v",
        F.sum("_d").over(w_cum).alias("cd"),
        F.sum("_m").over(w_cum).alias("cm"),
    )
    totals = s.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("total_mass"),
    )
    spine = totals.select(
        "n_docs",
        "total_mass",
        F.explode(
            F.array(*[F.lit(p) for p in SURPRISAL_KEEP_PCTS])
        ).alias("keep_pct"),
    ).select(
        "keep_pct",
        "n_docs",
        "total_mass",
        F.expr("(n_docs * keep_pct) div 100").alias("_rank"),
    ).filter(F.col("_rank") >= 1)
    joined = spine.join(
        stepped, F.col("cd") >= F.col("_rank"), "inner"
    ).groupBy("keep_pct", "total_mass").agg(
        F.min(F.struct("v", "cd", "cm")).alias("_b")
    )
    return joined.select(
        F.col("keep_pct").cast("long").alias("keep_pct"),
        F.col("_b.v").alias("threshold_micro"),
        F.col("_b.cd").alias("n_docs_kept"),
        F.col("_b.cm").alias("n_bigrams_kept"),
        F.expr(
            "(_b.cm * 1000000) div total_mass"
        ).alias("mass_share_ppm"),
    )


_SURPRISAL_PCTS_SQL = ", ".join(str(p) for p in SURPRISAL_KEEP_PCTS)

SURPRISAL_CURVE_SQL = f"""
WITH base AS ({{surprisal_sql}}),
s AS (
  SELECT CAST(round(avg_surprisal * 1000000, 0) AS BIGINT) AS v,
         n_bigrams
  FROM base
),
hist AS (
  SELECT v, CAST(count(*) AS BIGINT) AS _d,
         CAST(sum(n_bigrams) AS BIGINT) AS _m
  FROM s GROUP BY v
),
stepped AS (
  SELECT v,
         CAST(sum(_d) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cd,
         CAST(sum(_m) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cm
  FROM hist
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_bigrams) AS BIGINT) AS total_mass
  FROM s
),
spine AS (
  SELECT p.keep_pct, t.n_docs, t.total_mass,
         (t.n_docs * p.keep_pct) // 100 AS _rank
  FROM totals t,
       (SELECT unnest([{_SURPRISAL_PCTS_SQL}]) AS keep_pct) p
  WHERE (t.n_docs * p.keep_pct) // 100 >= 1
),
joined AS (
  SELECT sp.keep_pct, sp.total_mass,
         min(struct_pack(v := st.v, cd := st.cd, cm := st.cm)) AS _b
  FROM spine sp JOIN stepped st ON st.cd >= sp._rank
  GROUP BY sp.keep_pct, sp.total_mass
)
SELECT CAST(keep_pct AS BIGINT) AS keep_pct,
       _b.v AS threshold_micro,
       _b.cd AS n_docs_kept,
       _b.cm AS n_bigrams_kept,
       CAST((_b.cm * 1000000) // total_mass AS BIGINT) AS mass_share_ppm
FROM joined
"""


def _surprisal_curve_sql() -> str:
    return SURPRISAL_CURVE_SQL.format(
        surprisal_sql=DOC_LM_SURPRISAL_SQL.strip()
    )


SURPRISAL_CURVE_ORACLE = _surprisal_curve_sql()


# --- Dunning log-likelihood (G2) keyness -------------------------------

G2_MIN_GLOBAL = 5  # frequency floor: rarer words are noise, not keyness
G2_TOP_TERMS = 5


def g2_keyness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood (G^2) keyness: the top-5 words most
    OVER-represented in each source relative to the rest of the
    corpus — the corpus-linguistics standard for "what is this slice
    about", and the statistic that, unlike tfidf_top_terms (per-doc
    salience) or js_divergence_langs (one corpus-distance number),
    directly ranks the words responsible for a source's divergence.
    Dunning's G^2 = 2*(a*ln(a/E_a) + b*ln(b/E_b)) over the word's
    in-source/rest-of-corpus contingency keeps its calibration on
    the rare-word counts where the chi-square approximation breaks.

    Exactness contract (the js_divergence idiom): a, b and all four
    marginals are exact int64; each ln() takes only double RATIOS of
    int64 counts ((a/Na)/(g/N) — identical IEEE division sequences
    on both engines, no cross product that could overflow), is
    quantized to int64 micro-nats, and multiplied by the int count —
    so the G^2 score is an integer and the (score desc, word asc)
    top-5 order is engine-exact. Zero cells contribute zero (their
    x*ln(x) limit); only over-represented words qualify, decided by
    the exact DECIMAL(38,0) cross-multiply a*N > g*Na, never a float
    ratio. Words with global count < {G2_MIN_GLOBAL} are excluded —
    a frequency floor, not a top-k cap, so it drops no candidate a
    larger corpus would score.

    Scale posture (100 TB): two vocabulary-granular groupBys (the
    wordcount shuffle + a word rollup), a 1-row and a |sources|-row
    broadcast, and a per-source top-5 window that Spark plans as
    WindowGroupLimit (rank pushed below the sort — never a full
    per-source sort of the vocabulary). Output: 5 rows per source.
    """
    tok = load_table(spark, sf_dir, "documents", spread=True).select(
        "source",
        F.explode(normalized_words_array(F.col("text"))).alias("word"),
    )
    # cached: the (source, word) counts feed the global rollup, the
    # source marginals AND the scoring join; uncached, the tokenize
    # + groupBy re-ran per reference (8 parquet scans / 32 Exchanges
    # in the r13 plan audit). Vocabulary-bounded. Guide §5.
    sw = tok.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("a")
    ).transform(stage)
    gw = sw.groupBy("word").agg(F.sum("a").alias("g"))
    na = sw.groupBy("source").agg(F.sum("a").alias("na"))
    n = gw.agg(F.sum("g").alias("n"))
    scored = (
        sw.join(gw.filter(F.col("g") >= G2_MIN_GLOBAL), "word")
        .join(F.broadcast(na), "source")
        .crossJoin(F.broadcast(n))
        .filter(
            F.expr(
                "CAST(a AS DECIMAL(38,0)) * n > CAST(g AS DECIMAL(38,0)) * na"
            )
        )
        .select(
            "source",
            "word",
            F.col("a").alias("n_source"),
            (F.col("g") - F.col("a")).alias("n_rest"),
            F.expr(
                "2 * (a * CAST(round(ln((a / CAST(na AS DOUBLE))"
                " / (g / CAST(n AS DOUBLE))) * 1000000, 0) AS BIGINT)"
                " + CASE WHEN g - a > 0 AND n - na > 0 THEN (g - a)"
                " * CAST(round(ln(((g - a) / CAST(n - na AS DOUBLE))"
                " / (g / CAST(n AS DOUBLE))) * 1000000, 0) AS BIGINT)"
                " ELSE 0 END)"
            ).alias("g2_micro"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("g2_micro"), F.asc("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= G2_TOP_TERMS)
        .select("source", "word", "n_source", "n_rest", "g2_micro", "rank")
    )


G2_KEYNESS_SQL = f"""
WITH w AS (SELECT source, {{words}} AS words FROM documents),
tok AS (SELECT source, unnest(words) AS word FROM w),
sw AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS a
  FROM tok GROUP BY source, word
),
gw AS (SELECT word, CAST(sum(a) AS BIGINT) AS g FROM sw GROUP BY word),
na AS (SELECT source, CAST(sum(a) AS BIGINT) AS na FROM sw GROUP BY source),
n AS (SELECT CAST(sum(g) AS BIGINT) AS n FROM gw),
scored AS (
  SELECT sw.source, sw.word, sw.a AS n_source, gw.g - sw.a AS n_rest,
         2 * (sw.a * CAST(round(ln((sw.a / CAST(na.na AS DOUBLE))
                / (gw.g / CAST(n.n AS DOUBLE))) * 1000000, 0) AS BIGINT)
           + CASE WHEN gw.g - sw.a > 0 AND n.n - na.na > 0 THEN
               (gw.g - sw.a)
               * CAST(round(ln(((gw.g - sw.a) / CAST(n.n - na.na AS DOUBLE))
                 / (gw.g / CAST(n.n AS DOUBLE))) * 1000000, 0) AS BIGINT)
             ELSE 0 END)
           AS g2_micro
  FROM sw JOIN gw USING (word) JOIN na USING (source) CROSS JOIN n
  WHERE gw.g >= {G2_MIN_GLOBAL}
    AND CAST(sw.a AS HUGEINT) * n.n > CAST(gw.g AS HUGEINT) * na.na
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
           ORDER BY g2_micro DESC, word ASC) AS rank
  FROM scored
)
SELECT source, word, n_source, n_rest, g2_micro, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {G2_TOP_TERMS}
"""


def _g2_words_sql() -> str:
    norm = NORMALIZE_SQL.format(t="t")
    return (
        f"list_filter(list_transform(string_split(text, ' '), t -> {norm}),"
        f" w -> w <> '' AND length(w) <= {MAX_WORD_LEN})"
    )


G2_KEYNESS_ORACLE = G2_KEYNESS_SQL.format(words=_g2_words_sql())
