"""The reference engine's entire declarative surface: grouped word
count (reference: /root/reference/mpi_mapreduce.c — SURVEY.md §2.4 A4)
plus the trivially-implied variants (distinct vocabulary, top-k).

Spark restatement of the reference's whole 866-line MPI pipeline:
read -> filter blank lines -> split/explode -> normalize -> filter ->
``groupBy('word').count()``. Map-side partial aggregation (the
reference's hand-built combiner, mpi_mapreduce.c:314-338) and hash
partitioning of the key space (mpi_mapreduce.c:108-117,325) are what
``HashAggregateExec`` + ``HashPartitioning`` do natively — at 100 TB
a word seen 10^9 times still crosses the shuffle as one partial row
per map task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import stage
from ..functions.text import tokenize_lines, words_cte_sql, words_from_documents
from ..sources.catalog import load_table


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word -> total count over documents.text (reference A1-A4)."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select("text")
    words = tokenize_lines(docs)
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


def wordcount_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped word count with a second grouping key — exercises the
    same plan shape with a compound shuffle key."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select("lang", "text")
    words = words_from_documents(docs, "lang")
    return words.groupBy("lang", "word").agg(F.count("*").alias("cnt"))


def distinct_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct normalized vocabulary (SURVEY.md §2.4: implied op)."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select("text")
    return tokenize_lines(docs).distinct()


def topk_words(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Top-k words by count; count-ties broken by word so the result
    is deterministic (SURVEY.md §7 risk register). TakeOrderedAndProject
    in the physical plan: no global sort materialized, each partition
    keeps k rows and the driver merges — safe at any scale."""
    counts = wordcount(spark, sf_dir)
    return counts.orderBy(F.desc("cnt"), F.asc("word")).limit(k)


def wordcount_text_sink(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """Reference sink S4: space-separated `word cnt` lines, one file
    per partition, unsorted (reference writes per-reducer files
    mpi_mapreduce.c:278-289; concatenation S5 is the consumer's job)."""
    counts = wordcount(spark, sf_dir)
    counts.select(
        F.concat_ws(" ", F.col("word"), F.col("cnt").cast("string"))
    ).write.mode("overwrite").text(out_dir)


# --- DuckDB oracles ---------------------------------------------------

WORDCOUNT_SQL = f"""
WITH {words_cte_sql()}
SELECT word, count(*) AS cnt FROM words_f GROUP BY word
"""

# Oracle for the CHUNKED-TEXT-layout entries (wordcount_via_datasource
# and friends): the chunk corpus is line-oriented — one doc per line,
# the reference's generate_files.py contract — so the corpus writer
# normalizes any embedded '\n' in a doc to a space at ingest (a doc
# with interior newlines is otherwise unrepresentable in the layout).
# This oracle applies the same normalization before tokenizing; on
# newline-free text (every committed fixture) it is byte-identical to
# WORDCOUNT_SQL. Found by the round-13 unicode vintage.
WORDCOUNT_DS_SQL = f"""
WITH ds_docs AS (
  SELECT replace(text, chr(10), ' ') AS text FROM documents
),
{words_cte_sql(table="ds_docs").lstrip()}
SELECT word, count(*) AS cnt FROM words_f GROUP BY word
"""

WORDCOUNT_BY_LANG_SQL = f"""
WITH {words_cte_sql(extra_cols="lang")}
SELECT lang, word, count(*) AS cnt FROM words_f GROUP BY lang, word
"""

DISTINCT_VOCAB_SQL = f"""
WITH {words_cte_sql()}
SELECT DISTINCT word FROM words_f
"""

TOPK_WORDS_SQL = f"""
WITH {words_cte_sql()}
SELECT word, count(*) AS cnt FROM words_f GROUP BY word
ORDER BY cnt DESC, word ASC LIMIT 100
"""


def vocab_overlap_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language vocabulary overlap via relational SET OPERATORS
    — the registry's INTERSECT/EXCEPT coverage (UNION is pinned by
    nation_presence_union): which normalized words appear in both the
    English and German sub-corpora, and which are exclusive to each.

    Both inputs are distinct-vocabulary frames (one tokenize +
    distinct per language, sharing the scan via two filters), so
    INTERSECT/EXCEPT run as hash joins on the word key — the same
    exchange discipline as any equi-join; no sort, no all-pairs. At
    100 TB the vocab frames are Zipf-bounded (vocabulary grows ~
    sqrt of corpus), far below token cardinality."""
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "lang", "text"
    )
    words = words_from_documents(docs, "lang")
    # cached: each vocab frame feeds the INTERSECT and both EXCEPTs;
    # uncached, the tokenize scan re-ran per set operand (12 parquet
    # scans / 30 Exchanges in the r13 plan audit). Zipf-bounded.
    en = words.filter(F.col("lang") == "en").select("word").distinct().transform(stage)
    de = words.filter(F.col("lang") == "de").select("word").distinct().transform(stage)
    return (
        en.intersect(de)
        .select("word", F.lit("both").alias("status"))
        .union(en.subtract(de).select("word", F.lit("en_only").alias("status")))
        .union(de.subtract(en).select("word", F.lit("de_only").alias("status")))
    )


VOCAB_OVERLAP_SQL = f"""
WITH {words_cte_sql(extra_cols="lang")},
en AS (SELECT DISTINCT word FROM words_f WHERE lang = 'en'),
de AS (SELECT DISTINCT word FROM words_f WHERE lang = 'de')
SELECT word, 'both' AS status
FROM (SELECT word FROM en INTERSECT SELECT word FROM de)
UNION ALL
SELECT word, 'en_only' AS status
FROM (SELECT word FROM en EXCEPT SELECT word FROM de)
UNION ALL
SELECT word, 'de_only' AS status
FROM (SELECT word FROM de EXCEPT SELECT word FROM en)
"""
