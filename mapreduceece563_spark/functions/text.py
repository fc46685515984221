"""Text-pipeline scalar functions — all native Catalyst expressions.

These implement the reference engine's exact tokenize/normalize
semantics (reference: /root/reference/mpi_mapreduce.c:119-161, see
SURVEY.md §2.7) as composable column expressions. No Python UDFs:
everything runs JVM-side, which is what makes the pipeline viable at
100 TB (no Python serialization, and Catalyst can push the downstream
filters into the scan). Not everything is compiled, though: in Spark
4.1 ``ArrayTransform`` and ``ArrayFilter`` implement
``CodegenFallback``, so :func:`normalized_words_array` (``F.transform``
+ ``F.filter``) is interpreted: the generated stage code calls its
``eval`` per row instead of compiling the lambdas.

Reference semantics being reproduced:

* tokenize: split on a single space ONLY (tabs/CR are not delimiters)
  — mpi_mapreduce.c:119-131 (``getWord``). Consecutive spaces yield
  empty tokens which are filtered after normalization.
* normalize (``normalizeWord``, mpi_mapreduce.c:133-161):
  1. ASCII-lowercase;
  2. if the token is ENTIRELY non-alphabetic, return it unchanged
     (so "123", "---", "***" are counted as words);
  3. otherwise strip non-alphabetic chars from both ends to fixpoint
     (interior punctuation kept: "don't" -> "don't").
* filters: empty tokens dropped (mpi_mapreduce.c:324); normalized
  words longer than 70 chars dropped (mpi_mapreduce.c:209-211).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_WORD_LEN = 70  # reference WORD_LENGTH, mpi_mapreduce.c:28

# One regex pass == the reference's strip-to-fixpoint loop: greedy
# leading/trailing runs of non-alphabetics are removed in one shot.
_STRIP_RE = r"^[^a-z]+|[^a-z]+$"


def normalize_word(token: Column) -> Column:
    """Exact ``normalizeWord`` semantics as a native expression.

    One regex per token: a token contains a letter iff the end-strip
    leaves it non-empty, so ``stripped == '' ? lowered : stripped`` is
    exactly the reference's rule-3 passthrough without a second
    ``rlike`` scan (pinned by tests/test_normalize.py + the
    hypothesis property test)."""
    lowered = F.lower(token)
    stripped = F.regexp_replace(lowered, _STRIP_RE, "")
    return F.when(stripped == "", lowered).otherwise(stripped)


def normalized_words_array(text: Column) -> Column:
    """split -> normalize -> filter as ARRAY lambda functions, so the
    regex evaluates exactly once per token: with the scalar
    explode-project-filter chain, Catalyst pushes the survivor
    predicates below the projection and re-inlines the whole
    normalize expression into them (2-3 regex evaluations per token
    — measured ~25% of the 13 MB wordcount wall). Array elements are
    materialized values; the filter touches computed strings only."""
    normalized = F.transform(F.split(text, " "), normalize_word)
    return F.filter(
        normalized,
        lambda w: (w != "") & (F.length(w) <= MAX_WORD_LEN),
    )


def tokenize_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """lines -> one row per surviving normalized word (column ``word``).

    Blank lines are skipped (reference F1), tokens split on single
    space (F2), normalized (F4), then empty (F3) and over-length (F5)
    words dropped — F2-F5 inside one array expression (see
    :func:`normalized_words_array`) so normalization runs once per
    token, then a bare explode.
    """
    lines = df.filter(F.col(text_col).isNotNull() & (F.col(text_col) != ""))
    return lines.select(
        F.explode(normalized_words_array(F.col(text_col))).alias("word")
    )


def words_from_documents(df: DataFrame, *extra_cols: str) -> DataFrame:
    """documents -> (extra_cols..., word) keeping doc attribution.

    Same pipeline as :func:`tokenize_lines` but preserves the listed
    document columns (e.g. ``doc_id``) alongside each word.
    """
    lines = df.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    return lines.select(
        *extra_cols,
        F.explode(normalized_words_array(F.col("text"))).alias("word"),
    )


# --- SQL fragments for the DuckDB oracle ------------------------------
# The oracle must implement the *same* semantics in ANSI/DuckDB SQL.
# Keeping the fragments next to the Spark expressions is what keeps
# the two in lock-step. NOTE: DuckDB regexp_replace needs the 'g'
# flag to match Spark's replace-all default.

NORMALIZE_SQL = (
    "CASE WHEN regexp_matches(lower({t}), '[a-z]') "
    "THEN regexp_replace(lower({t}), '^[^a-z]+|[^a-z]+$', '', 'g') "
    "ELSE lower({t}) END"
)


def words_cte_sql(table: str = "documents", extra_cols: str = "") -> str:
    """DuckDB CTE producing the same (extra_cols..., word) rows."""
    sel = f"{extra_cols}, " if extra_cols else ""
    norm = NORMALIZE_SQL.format(t="token")
    return f"""
tokens AS (
  SELECT {sel}unnest(string_split(text, ' ')) AS token
  FROM {table}
  WHERE text IS NOT NULL AND text <> ''
),
words AS (
  SELECT {sel}{norm} AS word
  FROM tokens
)
, words_f AS (
  SELECT {sel}word FROM words
  WHERE word <> '' AND length(word) <= {MAX_WORD_LEN}
)
"""
