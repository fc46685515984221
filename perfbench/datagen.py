"""Seeded generators for the ten catalog tables the registry reads
and for the word-count corpus.

The shapes mirror the repository's synthetic test data (TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings``): the same
column names and parquet types, row counts proportional to the scale
factor, and independent uniform columns over the same value domains.
Every table is a single parquet file, one row group, as the catalog
expects. The same ``(sf, seed)`` always writes the same bytes.
"""

from __future__ import annotations

import itertools
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
PART_NOUN = ["widget", "gear", "rod", "ring", "plate", "bolt", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
EMBED_DIM = 64
# the table contents' seed, the repository's convention for synthetic data
DATA_SEED = 42

_US_PER_DAY = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    span = int((np.datetime64(hi) - np.datetime64(lo)).astype(int))
    return np.datetime64(lo, "us") + (
        rng.integers(0, span + 1, n).astype("int64") * _US_PER_DAY
    ).astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all ten tables at scale factor ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = 500 if sf <= 0.01 else 5_000
    n_vec = 500 if sf <= 0.01 else 2_000

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    # events: strictly increasing microsecond timestamps over 30 days
    span_us = 30 * _US_PER_DAY
    offs = np.sort(rng.choice(span_us, n_ev, replace=False))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_docs):
        words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        if rng.random() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_docs, "embeddings": n_vec,
    }


# -- the word-count corpus ------------------------------------------------
# Gutenberg-shaped prose, after FIXTURES.md section 1: a Zipf-distributed
# vocabulary with interior apostrophes and hyphens, mixed case, tokens
# wrapped in punctuation, numbers and punctuation-only tokens, runs of
# spaces, indented lines, blank lines, CRLF line ends and a few tokens
# over the 70-character limit. The text is fixed (DATA_SEED); the run's
# seed sets only the line order.
_SYLLABLES = (
    "a an ar as at ba be bi bo ca ce co da de di do el en er es fa fe fi "
    "ga ge go ha he hi ho in is it ka la le li lo ma me mi mo na ne ni no "
    "on or ou pa pe pi po ra re ri ro sa se si so ta te ti to th sh ch st "
    "un ur va ve vi wa we wi ya yo za"
).split()
_CLITICS = ("s", "t", "ll", "re", "d", "ve")
_TRAIL = ("", ",", ".", ";", ":", "!", "?", "--")
_TRAIL_P = (0.8, 0.09, 0.07, 0.012, 0.008, 0.005, 0.005, 0.01)
_WRAP = ('"{}"', "({})", "*{}*", "'{}'", "_{}_", '"{}', "{}'")
_STANDALONE = ("---", "***", "&", "--", "123", "1887", "7", "iv", "XII")
VOCAB_SIZE = 40_000


def corpus_vocabulary(rng: random.Random) -> list[str]:
    """``VOCAB_SIZE`` distinct lowercase words, shortest first, so the
    frequent Zipf ranks get the short words, as in English text."""
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choices(_SYLLABLES, k=rng.choice((1, 2, 2, 3, 3, 3, 4, 5))))
        r = rng.random()
        if r < 0.02:
            w += "'" + rng.choice(_CLITICS)
        elif r < 0.04:
            w += "-" + "".join(rng.choices(_SYLLABLES, k=2))
        words.add(w)
    return sorted(words, key=lambda w: (len(w), w))


def corpus_lines(n_bytes: int, seed: int) -> list[str]:
    """About ``n_bytes`` of prose lines (without line ends)."""
    rng = random.Random(seed)
    vocab = corpus_vocabulary(rng)
    zipf = list(itertools.accumulate(1.0 / (r + 2.7) for r in range(1, len(vocab) + 1)))
    trail = list(itertools.accumulate(_TRAIL_P))
    lines: list[str] = []
    size = 0
    while size < n_bytes:
        if rng.random() < 0.03:
            lines.append("")
            size += 1
            continue
        toks = []
        for i, w in enumerate(rng.choices(vocab, cum_weights=zipf, k=rng.randint(4, 15))):
            r = rng.random()
            if r < 0.004:
                w = rng.choice(_STANDALONE)
            elif r < 0.0045:
                w = "".join(rng.choices(_SYLLABLES, k=40))  # over 70 chars
            elif i == 0 or r < 0.10:
                w = w.capitalize()
            elif r < 0.105:
                w = w.upper()
            if rng.random() < 0.02:
                w = rng.choice(_WRAP).format(w)
            toks.append(w + rng.choices(_TRAIL, cum_weights=trail)[0])
        line = toks[0]
        for t in toks[1:]:
            r = rng.random()
            line += ("   " if r < 0.005 else "  " if r < 0.03 else " ") + t
        if rng.random() < 0.02:
            line = " " * rng.randint(2, 4) + line
        line = line[:255]
        lines.append(line)
        size += len(line) + 1
    return lines


def write_chunk_corpus(
    out_dir: str, seed: int, target_bytes: int = 13_000_000,
    n_files: int = 130, copies: int = 5,
) -> int:
    """Write ~``target_bytes`` as ``n_files`` chunk files of whole lines
    (the reference's ``file_chunks_130`` shape): ``copies`` copies of a
    fixed prose text, each copy's lines in an order the seed sets. About
    1% of the lines end in CRLF. Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    lines = corpus_lines(target_bytes // copies, DATA_SEED)
    crlf = random.Random(DATA_SEED)
    lines = [t + "\r" if crlf.random() < 0.01 else t for t in lines]
    rng = np.random.default_rng(seed)
    order = np.concatenate([rng.permutation(len(lines)) for _ in range(copies)])
    total = 0
    for i, idx in enumerate(np.array_split(order, n_files)):
        body = "".join(lines[j] + "\n" for j in idx)
        with open(os.path.join(out_dir, f"{i}.txt"), "w", newline="") as f:
            f.write(body)
        total += len(body)
    return total


def read_corpus_lines(corpus_dir: str) -> list[str]:
    """The corpus lines as Spark's text source splits them: at LF, CR
    and CRLF, the line end removed."""
    out: list[str] = []
    for name in sorted(os.listdir(corpus_dir)):
        with open(os.path.join(corpus_dir, name), newline="") as f:
            out.extend(re.split(r"\r\n|\r|\n", f.read())[:-1])
    return out
