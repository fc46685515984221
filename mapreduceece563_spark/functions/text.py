"""Text-pipeline scalar functions — all native Catalyst expressions.

These implement the reference engine's exact tokenize/normalize
semantics (reference: /root/reference/mpi_mapreduce.c:119-161, see
SURVEY.md §2.7) as composable column expressions. No Python UDFs:
everything runs JVM-side, which is what makes the pipeline viable at
100 TB (no Python serialization, and Catalyst can push the downstream
filters into the scan).

Normalization is line-level: one ``lower`` and one :data:`LINE_STRIP_RE`
pass per line, then ``explode(split(...))`` and a scalar filter, all
codegen'd. The one higher-order function left is the ``F.filter`` in
:func:`normalized_words_array`, for array callers (``ArrayFilter`` is
``CodegenFallback``, so interpreted). :func:`normalize_word` stays for
per-token callers.

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

# The same strip for every space-delimited token of a lowered line at
# once: branch 1 drops a token's maximal leading non-letter run when a
# letter follows, branch 2 a maximal non-letter run after a letter that
# ends the token; an all-non-letter token matches neither (rule 2).
# Possessive runs make each lookahead test one character; ``(?![^ ])`` is
# a true end of token (Java's ``$`` also matches before a final line
# terminator). ``lower(line)`` equals the lowered tokens joined: a space
# is neither cased nor case-ignorable, so no casing context (Greek final
# sigma) crosses it.
LINE_STRIP_RE = r"(?<![^ ])[^a-z ]++(?=[a-z])|(?<=[a-z])[^a-z ]++(?![^ ])"


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


def _normalized_tokens(text: Column) -> Column:
    """split(strip(lower(line))): every token normalized, empty and
    over-length tokens still present."""
    return F.split(F.regexp_replace(F.lower(text), LINE_STRIP_RE, ""), " ")


def _kept(word: Column) -> Column:
    return (word != "") & (F.length(word) <= MAX_WORD_LEN)


def normalized_words_array(text: Column) -> Column:
    """The surviving normalized words of one line, as an array (for
    callers that size, hash or shingle per line). The line-level split
    wrapped in one ``F.filter``; a caller that references the array
    more than once should project it first so it evaluates once."""
    return F.filter(_normalized_tokens(text), _kept)


def tokenize_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """lines -> one row per surviving normalized word (column ``word``).

    Blank lines are skipped (reference F1), the lowered line is
    stripped per token (F4) and split on single space (F2), then empty
    (F3) and over-length (F5) words dropped by a scalar filter after
    the explode.
    """
    return _words(df, text_col)


def words_from_documents(df: DataFrame, *extra_cols: str) -> DataFrame:
    """documents -> (extra_cols..., word) keeping doc attribution.

    Same pipeline as :func:`tokenize_lines` but preserves the listed
    document columns (e.g. ``doc_id``) alongside each word.
    """
    return _words(df, "text", *extra_cols)


def _words(df: DataFrame, text_col: str, *extra_cols: str) -> DataFrame:
    text = F.col(text_col)
    lines = df.filter(text.isNotNull() & (text != ""))
    words = lines.select(
        *extra_cols, F.explode(_normalized_tokens(text)).alias("word")
    )
    return words.filter(_kept(F.col("word")))


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
