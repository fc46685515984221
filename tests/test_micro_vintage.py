"""Micro-vintage smoke tier (VERDICT r12 ask #7).

The full adversarial-vintage audits (tools/fuzz_vintage.py values,
tools/fuzz_vintage.py rel) rebuild every table with degenerate shapes
and re-run ALL oracle pairs — ~3-5 min each, on demand. This module
is the commit-time subset: ONE degenerate shape per family, checked
through the handful of oracle pairs whose round-12 bug classes those
shapes caught (data-dependent cross-engine divergence like the EWMA
struct-fold aliasing; crash-vs-NULL like the zero-token mixture
weights and the q2 zero-quantity unit cost), plus one representative
per remaining family. Budget: the whole module under ~60 s on a warm
session.

Shapes (all derived from the sf0.001 tables, written once per
session into a tmp dir):
- documents: empty docs, heavy exact dups, >70-char + punct-only
  tokens, a rare singleton language, and one source whose docs are
  ALL empty (zero tokens — the mixture-weights crash class);
- events: rounding-tie values (x.xx5), zero values, one burst hour
  holding a third of all rows (gap pressure for hourly spines);
- lineitem: zero quantities, rounding-tie prices, duplicated
  (l_orderkey, l_linenumber) pairs (engine-tiebreak hazard);
- orders: one flooded o_orderdate, mass-tied o_totalprice;
- customer: mass-tied c_acctbal at a rounding boundary;
- embeddings: exact-duplicate vectors + an origin pile-up cell.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from mapreduceece563_spark import registry
from tests.conftest import SF_DIR, assert_frames_match

# entry -> the degenerate family it certifies (one per family; keep
# this list tight — the full sweep lives in tools/)
SMOKE_ENTRIES = [
    # events value ties + burst hour: the EWMA struct-fold aliasing
    # class (round-12 find #1) and the hourly-spine family
    "ewma_control_chart",
    "page_hinkley_drift",
    # zero-token source: the mixture crash-vs-NULL class (find #2)
    "source_mixture_weights",
    "mixture_epoch_schedule",
    # zero-quantity lines: the q2 DIVIDE_BY_ZERO class (find #3)
    "q2_min_cost_supplier",
    # duplicated (orderkey, linenumber) + tie prices through the
    # flagship aggregate
    "q1_pricing_summary",
    # empty/dup/punct/boundary documents through normalizeWord
    "wordcount",
    "dedup_exact_stats",
    # flooded dates + tied balances through a per-customer window
    "customer_order_window_profile",
    # duplicate + origin-piled embeddings through the grid census
    "dbscan_core_cells",
]


@pytest.fixture(scope="module")
def micro_vintage(tmp_path_factory):
    dst = tmp_path_factory.mktemp("micro_vintage")
    rng = np.random.RandomState(13)

    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    texts = docs["text"].tolist()
    langs = docs["lang"].tolist()
    n = len(docs)
    for i in range(n):
        r = i % 10
        if r == 0:
            texts[i] = ""
        elif r == 1:
            texts[i] = "dup dup dup dup dup"
        elif r == 2:
            texts[i] = ("x" * 71) + " ok --- *** 123"
        elif r == 3:
            langs[i] = "zz"
    # one whole source becomes zero-token (all-empty docs)
    first_src = docs["source"].iloc[0]
    zero_mask = docs["source"] == first_src
    for i in np.flatnonzero(zero_mask.to_numpy()):
        texts[i] = ""
    docs["text"] = texts
    docs["lang"] = langs
    docs["n_chars"] = [len(t or "") for t in texts]
    docs.to_parquet(dst / "documents.parquet")

    ev = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    m = len(ev)
    vals = ev["value"].to_numpy().copy()
    vals[: m // 4] = 1.005
    vals[m // 4 : m // 2] = 0.0
    ev["value"] = vals
    ts = pd.to_datetime(ev["ts"])
    burst = ts.iloc[0].floor("h")
    idx = rng.choice(m, m // 3, replace=False)
    ts.iloc[idx] = burst + pd.to_timedelta(
        rng.randint(0, 3600, m // 3), unit="s"
    )
    ev["ts"] = ts
    ev.to_parquet(dst / "events.parquet")

    li = pq.read_table(f"{SF_DIR}/lineitem.parquet").to_pandas()
    k = len(li)
    qty = li["l_quantity"].to_numpy().copy()
    qty[: k // 6] = 0
    li["l_quantity"] = qty
    ep = li["l_extendedprice"].to_numpy().copy()
    ep[: k // 5] = 100.005
    li["l_extendedprice"] = ep
    li = pd.concat(
        [li, li.sample(frac=0.05, random_state=3)], ignore_index=True
    )
    li.to_parquet(dst / "lineitem.parquet")

    od = pq.read_table(f"{SF_DIR}/orders.parquet").to_pandas()
    mm = len(od)
    dates = od["o_orderdate"].copy()
    dates.iloc[: mm // 3] = dates.iloc[0]
    od["o_orderdate"] = dates
    tp = od["o_totalprice"].to_numpy().copy()
    tp[: mm // 4] = 50000.005
    od["o_totalprice"] = tp
    od.to_parquet(dst / "orders.parquet")

    cu = pq.read_table(f"{SF_DIR}/customer.parquet").to_pandas()
    bal = cu["c_acctbal"].to_numpy().copy()
    bal[: len(cu) // 2] = 4321.105
    cu["c_acctbal"] = bal
    cu.to_parquet(dst / "customer.parquet")

    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    vecs = list(emb["embedding"])
    for i in range(0, len(vecs), 7):
        vecs[i] = vecs[0]
    for i in range(3, len(vecs), 11):
        v = np.array(vecs[i], dtype=np.float32)
        v[0] = 0.0
        v[1] = 0.0
        vecs[i] = v.tolist()
    emb["embedding"] = vecs
    emb.to_parquet(dst / "embeddings.parquet")

    for t in ("region", "nation", "supplier", "part"):
        pq.write_table(
            pq.read_table(f"{SF_DIR}/{t}.parquet"), dst / f"{t}.parquet"
        )

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'"
        )
    yield str(dst), con
    con.close()


@pytest.mark.parametrize("name", SMOKE_ENTRIES)
def test_micro_vintage_parity(name, spark, micro_vintage):
    dst, con = micro_vintage
    fn = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    sdf = fn(spark, dst)
    rel = con.execute(sql)
    assert_frames_match(sdf, rel, ctx=f"micro_vintage:{name}")


# --- micro KEY-SKEW vintage (round 13) ---------------------------------------
#
# The commit-time subset of tools/fuzz_vintage.py skew: giant-group
# key distributions (half the events on one user, 60% of docs on one
# source, 70% of vectors in one label cell) through the entries whose
# plans have per-key windows, heavy-hitter thresholds, source-vs-rest
# rollups, and label-cell probes. FK-valid; values/times untouched.

SKEW_ENTRIES = [
    # giant user partition: per-user ordered windows + gap logic
    "sessionize",
    "user_gap_stats",
    # heavy-hitter threshold crossing
    "events_heavy_hitters",
    # one source owns the corpus: "vs rest" with a thin rest
    "doc_lang_entropy_by_source",
    "cliffs_delta_quality",
    # one IVF cell owns 70% of vectors: probe + centroid dominance
    "ivf_ann",
]


@pytest.fixture(scope="module")
def micro_skew(tmp_path_factory):
    dst = tmp_path_factory.mktemp("micro_skew")
    rng = np.random.RandomState(21)

    ev = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    m = len(ev)
    uid = ev["user_id"].to_numpy().copy()
    uid[rng.choice(m, m // 2, replace=False)] = uid[0]
    ev["user_id"] = uid
    ev.to_parquet(dst / "events.parquet")

    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    n = len(docs)
    src = docs["source"].to_numpy().copy()
    src[rng.choice(n, (n * 6) // 10, replace=False)] = src[0]
    docs["source"] = src
    docs.to_parquet(dst / "documents.parquet")

    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    lab = emb["label"].to_numpy().copy()
    lab[rng.choice(len(emb), (len(emb) * 7) // 10, replace=False)] = 0
    emb["label"] = pd.array(lab, dtype="int32")
    emb.to_parquet(dst / "embeddings.parquet")

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        pq.write_table(
            pq.read_table(f"{SF_DIR}/{t}.parquet"), dst / f"{t}.parquet"
        )

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'"
        )
    yield str(dst), con
    con.close()


@pytest.mark.parametrize("name", SKEW_ENTRIES)
def test_micro_skew_parity(name, spark, micro_skew):
    dst, con = micro_skew
    fn = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_frames_match(
        fn(spark, dst), con.execute(sql), ctx=f"micro_skew:{name}"
    )


# --- micro UNICODE vintage (round 13) ----------------------------------------
#
# The commit-time subset of tools/fuzz_vintage.py unicode, pinning the
# round-13 unicode harvest: (1) the chunk-file reader splits lines
# ONLY at '\n' (Python universal-newlines mode also split at bare \r,
# fabricating lines and tearing sink records); (2) the corpus writer
# normalizes embedded '\n' to a space (one doc = one line) with the
# WORDCOUNT_DS_SQL oracle applying the same replace; (3) edit
# distance counts UTF-8 BYTES on both engines (DuckDB levenshtein is
# byte-based; Spark's codepoint counts diverged on accents).

UNICODE_ENTRIES = [
    "wordcount",
    "wordcount_via_datasource",
    "wordcount_via_datasource_packed",
    "wordcount_sink_roundtrip",
    "chunktext_pruned_count",
    "dedup_edit_distance",
]

_UNI_SHAPES = [
    "café naïve résumé",       # NFC accents
    "café naïve",                      # NFD combining marks
    "中文文本没有空格",  # CJK no spaces
    "crlf\r\nline and\rlone cr",                   # \r\n, bare \r
    "nbsp inside one thin token",        # non-ascii ws in tokens
    "zero‌width‍joined words",           # ZWNJ/ZWJ
    "mixed ascii café \U0001f600 end",        # astral emoji
]


@pytest.fixture(scope="module")
def micro_unicode(tmp_path_factory):
    dst = tmp_path_factory.mktemp("micro_unicode")

    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    texts = docs["text"].tolist()
    for i in range(len(docs)):
        if i % 3 == 0:
            texts[i] = _UNI_SHAPES[i % len(_UNI_SHAPES)]
        elif i % 3 == 1:
            texts[i] = texts[i] + " " + _UNI_SHAPES[(i // 3) % len(_UNI_SHAPES)]
    docs["text"] = texts
    docs["n_chars"] = [len(t or "") for t in texts]
    docs.to_parquet(dst / "documents.parquet")

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        pq.write_table(
            pq.read_table(f"{SF_DIR}/{t}.parquet"), dst / f"{t}.parquet"
        )

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'"
        )
    yield str(dst), con
    con.close()


@pytest.mark.parametrize("name", UNICODE_ENTRIES)
def test_micro_unicode_parity(name, spark, micro_unicode):
    dst, con = micro_unicode
    fn = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_frames_match(
        fn(spark, dst), con.execute(sql), ctx=f"micro_unicode:{name}"
    )


def test_levenshtein_is_byte_based(spark):
    """The unit contract both engines now share: edits counted in
    UTF-8 bytes (e is 1 edit from nothing; é is 2; a CJK char
    is 3)."""
    import duckdb as _dd

    from pyspark.sql import functions as F

    con = _dd.connect()
    for a, b, want in [("é", "e", 2), ("café", "cafe", 2),
                       ("中", "x", 3)]:
        duck = con.execute(
            "SELECT levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        spark_d = (
            spark.range(1)
            .select(
                F.levenshtein(
                    F.decode(F.encode(F.lit(a), "UTF-8"), "ISO-8859-1"),
                    F.decode(F.encode(F.lit(b), "UTF-8"), "ISO-8859-1"),
                ).alias("d")
            )
            .collect()[0]["d"]
        )
        assert duck == spark_d == want, (a, b, duck, spark_d)


# --- micro NULL vintage (round 13) -------------------------------------------
#
# The commit-time subset of tools/fuzz_vintage.py null, pinning the
# round-13 NULL-policy harvest: NULL value is not a measurement
# (drift/regression families), NULL-text docs carry no media payload
# or landing-zone object, scorer audits need lang+source+quality
# defined, a NULL source survives a blocklist (anti-join semantics,
# not NOT-IN's NULL swallow), "not known-eval => train", and NULL
# text = zero token mass.

NULL_ENTRIES = [
    # NULL-value measurement policy + the engine NULL-ordering hazard
    "ks_drift_by_event_type",
    "mann_whitney_drift",
    "conformal_alpha_sweep",
    # the NaN-into-pandas crash class
    "events_value_regression",
    # NULL-text media policy (payload crash class)
    "image_resize_plan",
    "binaryfile_manifest",
    # scorer-audit membership policy
    "roc_auc_by_lang",
    # NOT IN vs anti-join and eval-membership three-valued logic
    "source_blocklist_survivors",
    "contamination_check",
    # NULL text = zero token mass
    "token_gini_by_source",
]


@pytest.fixture(scope="module")
def micro_null(tmp_path_factory):
    dst = tmp_path_factory.mktemp("micro_null")
    rng = np.random.RandomState(33)

    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    n = len(docs)
    for col, frac in (("text", 0.05), ("lang", 0.10), ("source", 0.05)):
        vals = docs[col].to_numpy(dtype=object)
        vals[rng.choice(n, int(n * frac), replace=False)] = None
        docs[col] = vals
    docs["n_chars"] = [
        len(t) if isinstance(t, str) else 0 for t in docs["text"]
    ]
    docs.to_parquet(dst / "documents.parquet")

    ev = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    m = len(ev)
    vals = ev["value"].to_numpy(dtype=object)
    vals[rng.choice(m, m // 10, replace=False)] = None
    ev["value"] = pd.array(
        [float(v) if v is not None else None for v in vals],
        dtype="float64",
    )
    ev.to_parquet(dst / "events.parquet")

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "embeddings"):
        pq.write_table(
            pq.read_table(f"{SF_DIR}/{t}.parquet"), dst / f"{t}.parquet"
        )

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'"
        )
    yield str(dst), con
    con.close()


@pytest.mark.parametrize("name", NULL_ENTRIES)
def test_micro_null_parity(name, spark, micro_null):
    dst, con = micro_null
    fn = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    assert_frames_match(
        fn(spark, dst), con.execute(sql), ctx=f"micro_null:{name}"
    )
