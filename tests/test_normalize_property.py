"""Parity fuzz for the §2.7-critical pipeline, in one Spark job.

1. Line-level vs per-token: :func:`tokenize_lines` (one lower + one
   strip regex per whole line, then split) must yield exactly the words
   of the per-token pipeline (split, then :func:`normalize_word` on each
   token) on any input — tabs, CR, embedded newlines and other line
   terminators, non-ASCII letters whose lowercase is context-dependent
   or longer than the original, all-punctuation tokens, space runs and
   the 70-char boundary.
2. Three-way ASCII parity: a pure-Python model of the C
   ``normalizeWord``/``getWord`` semantics (transcribed from the
   reference's mpi_mapreduce.c:119-161) vs the Spark
   pipeline vs the DuckDB oracle SQL. ASCII-only on purpose: for
   non-ASCII the C code (signed-char compares, no unicode) and
   Spark/DuckDB (unicode lower()) intentionally diverge — SURVEY.md §2.7
   pins parity for the reference's ASCII corpora, and the Spark and
   oracle sides still agree with each other on the registry fixtures
   (the registry check covers that)."""

from __future__ import annotations

import random
from collections import Counter, defaultdict

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from mapreduceece563_spark.functions.text import (
    MAX_WORD_LEN,
    normalize_word,
    tokenize_lines,
    words_cte_sql,
)


def c_normalize(tok: str) -> str:
    """Transcription of normalizeWord (mpi_mapreduce.c:133-161)."""
    s = "".join(
        chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in tok
    )
    n = len(s)
    j = sum(1 for c in s if not ("a" <= c <= "z"))
    if j == n:  # entirely non-alphabetic: unchanged (rule 3)
        return s
    while s and not ("a" <= s[0] <= "z"):  # fixpoint strip (rule 4)
        s = s[1:]
    while s and not ("a" <= s[-1] <= "z"):
        s = s[:-1]
    return s


def c_pipeline(lines: list[str]) -> Counter:
    """F1 blank filter -> F2 single-space split -> F4 normalize ->
    F3 empty filter -> F5 length filter."""
    out: Counter = Counter()
    for line in lines:
        if line == "":
            continue
        for tok in line.split(" "):
            w = c_normalize(tok)
            if w != "" and len(w) <= MAX_WORD_LEN:
                out[w] += 1
    return out


def _random_lines(rng: random.Random, alphabet: list[str], n: int) -> list[str]:
    lines = []
    for _ in range(n):
        toks = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
            for _ in range(rng.randint(0, 8))
        ]
        lines.append(" ".join(toks))
    return lines


def _corpus() -> list[str]:
    rng = random.Random(563)
    # printable ASCII without space (space is the delimiter)
    ascii_alphabet = [chr(i) for i in range(33, 127)]
    lines = [
        "",  # F1
        "--- 123 *** don't (hello, 'tis!",
        "A" * 80 + " " + "b" * 71 + " " + "c" * 70,  # F5 boundary
        "  double  spaces  ",
        "(((nested)))   ''quotes''",
        "\t tab\tinside \r",
        # tabs and lone CR are token characters, not delimiters
        "a\tb\tc \tlead trail\t \r \rcr\r x\ry \r\r",
        # embedded newlines, incl. one ending a token before the line end
        "ab!\n cd\n\nef \nx\ny\n !!\n end!\n",
        "word.\r\n",
        # all-punctuation tokens pass through unchanged
        "--- ... !!! ''' 42 3.14 (*) ** -",
        # runs of spaces, leading and trailing
        "     ",
        "   a    b     c   ",
        # 70 / 71 / >70 chars that normalize to <= 70
        "d" * 70 + " " + "e" * 71 + " (" + "f" * 70 + ") ..." + "g" * 69 + "!!!",
        "'" * 3 + "h" * 68 + "'" * 3 + " " + "1" * 70 + " " + "2" * 71,
    ]
    lines += _random_lines(rng, ascii_alphabet, 400)
    lines += [
        "«café» naïve ÉCOLE",
        "ΑΣ 'Σ ΑΣ' ΟΔΟΣ. Σ ΑΣΑ",
        "İ İstanbul's İİ",
        "straße STRASSE ǅungla K",
        "«»  ¿¡  ——",
        "ab  cd!\u0085  ef x y",
        "İ" * 35 + " " + "İ" * 36 + " " + "É" * 71,
    ]
    # non-ASCII letters, case-context characters and line terminators
    # mixed into the tokens (and spaces within them)
    rich_alphabet = ascii_alphabet[::3] + list(
        "  \t\r\nΣσςΑİıßéÉ«»'̇ \u0085 "
    )
    lines += _random_lines(rng, rich_alphabet, 400)
    return lines


def _per_token_words(sdf):
    """The reference order of operations: split, then normalize each
    token on its own."""
    lines = sdf.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    tokens = lines.select(F.explode(F.split("text", " ")).alias("t"))
    return tokens.select(normalize_word(F.col("t")).alias("word")).filter(
        (F.col("word") != "") & (F.length("word") <= MAX_WORD_LEN)
    )


def test_three_way_parity(spark):
    lines = _corpus()
    ascii_lines = [line for line in lines if line.isascii()]

    sdf = spark.createDataFrame(
        [(line, line.isascii()) for line in lines], "text string, ascii boolean"
    )
    tagged = (
        tokenize_lines(sdf.select("text")).select(F.lit("line").alias("src"), "word")
        .unionByName(_per_token_words(sdf).select(F.lit("token").alias("src"), "word"))
        .unionByName(
            tokenize_lines(sdf.filter("ascii").select("text"))
            .select(F.lit("ascii").alias("src"), "word")
        )
    )
    got: defaultdict[str, Counter] = defaultdict(Counter)
    for r in tagged.collect():
        got[r["src"]][r["word"]] += 1

    assert got["line"] == got["token"]
    assert any(not w.isascii() for w in got["line"])
    assert got["ascii"] == c_pipeline(ascii_lines)

    duck = duckdb.connect()
    duck.register("documents", pd.DataFrame({"text": ascii_lines}))
    sql = f"WITH {words_cte_sql().lstrip()} SELECT word, count(*) AS cnt FROM words_f GROUP BY word"
    got_duck = Counter({w: c for w, c in duck.execute(sql).fetchall()})
    assert got_duck == got["ascii"]
