"""Adversarial-vintage audit (run on demand, not in CI): perturb the
sf0.001 tables in ways the committed fixtures never exercise, then run
EVERY registry oracle pair, plus the unregistered round-14 queue, on
the result. A divergence is a latent cross-engine bug of the EWMA
class (data-dependent, green on the committed fixture); an engine
exception is a crash-vs-NULL hazard of the mixture-weights class.

Each vintage is one mutator below: source dir in, ``{table: frame}``
out for the tables it perturbs; every other table is copied unchanged.
Both engines read the same written parquet, so the mutators only
shape the input.

Usage: python tools/fuzz_vintage.py <values|rel|skew|unicode|null>
       [/tmp/fuzz_<vintage>] [skip,names]

The runner builds the session the test suite uses
(``session.get_spark(cpus=8, shuffle_partitions=8)``) and compares
each result with ``tests/conftest.py::assert_frames_match``: a failed
comparison prints ``DIVERGE``, any other exception ``ERR``. The batch
tier runs first, then the 13 streaming members (their replay fixtures
and checkpoints key per (app, sf_dir), so the vintage dir gets fresh
fixtures spilled from the perturbed tables); a whole run took 6-9 min
per vintage on a 4-core VM. Pass a skip list containing "streaming" to
run batch-only.
"""
from __future__ import annotations

import os
import sys
import time
import unicodedata

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mapreduceece563_spark.sources.catalog import TABLES  # noqa: E402


def _read(src: str, table: str) -> pd.DataFrame:
    return pq.read_table(f"{src}/{table}.parquet").to_pandas()


def values(src: str) -> dict[str, pd.DataFrame]:
    """Vintage #1 (round 12): value ties at rounding boundaries, burst
    hours, rare languages, duplicate-heavy/empty/boundary-length text,
    duplicate and origin-piled embeddings. The relational tables are
    copied unchanged (schema-heavy perturbations risk violating FK
    invariants some operators assert). Both finds from the first run
    are fixed and regression-pinned in tests/."""
    rng = np.random.RandomState(42)

    docs = _read(src, "documents")
    texts = docs["text"].tolist()
    langs = docs["lang"].tolist()
    for i in range(len(docs)):
        r = i % 10
        if r == 0:
            texts[i] = ""  # empty doc
        elif r == 1:
            texts[i] = "dup dup dup dup dup"  # heavy exact duplication
        elif r == 2:
            texts[i] = ("x" * 71) + " ok --- *** 123"  # >70-char token + punct
        elif r == 3:
            texts[i] = "tie tie tie one two three four five"
        elif r == 4:
            langs[i] = "zz"  # rare language (singleton-ish)
            texts[i] = "lone wolf language document"
        # else keep original
    docs["text"] = texts
    docs["lang"] = langs
    docs["n_chars"] = [len(t or "") for t in texts]

    # events: ties at cent boundaries, bursty hours, value extremes
    ev = _read(src, "events")
    m = len(ev)
    vals = ev["value"].to_numpy().copy()
    vals[: m // 4] = 1.005  # rounding-tie territory for *100 quantization
    vals[m // 4 : m // 2] = 0.0
    vals[m // 2 : m // 2 + m // 8] = 12345.675
    ev["value"] = vals
    # compress 1/3 of timestamps into one burst hour; leave big gaps
    ts = pd.to_datetime(ev["ts"])
    burst = ts.iloc[0].floor("h")
    idx = rng.choice(m, m // 3, replace=False)
    ts.iloc[idx] = burst + pd.to_timedelta(rng.randint(0, 3600, m // 3), unit="s")
    ev["ts"] = ts

    # embeddings: exact duplicates + axis-aligned points
    emb = _read(src, "embeddings")
    vecs = list(emb["embedding"])
    for i in range(0, len(vecs), 7):
        vecs[i] = vecs[0]  # many exact duplicates of vec 0
    for i in range(3, len(vecs), 11):
        v = np.array(vecs[i], dtype=np.float32)
        v[0] = 0.0
        v[1] = 0.0  # pile-up at the origin cell
        vecs[i] = v
    emb["embedding"] = vecs
    return {"documents": docs, "events": ev, "embeddings": emb}


def rel(src: str) -> dict[str, pd.DataFrame]:
    """Vintage #2: the RELATIONAL tier. Vintage #1 copies the TPC-H
    tables unchanged, so q1-q22 and the relational operators never see
    adversarial input. This one perturbs orders/lineitem/customer
    values while keeping keys FK-valid: price/discount/tax boundary
    values and rounding-tie cents, duplicated (orderkey, linenumber)
    pairs (a known engine-tiebreak hazard), same-date order floods,
    zero-quantity lines, and customers with identical balances
    (rank-tie pressure)."""
    li = _read(src, "lineitem")
    n = len(li)
    # rounding-tie prices and zero/extreme discounts
    ep = li["l_extendedprice"].to_numpy().copy()
    ep[: n // 5] = 100.005
    ep[n // 5 : 2 * n // 5] = 0.01
    li["l_extendedprice"] = ep
    disc = li["l_discount"].to_numpy().copy()
    disc[: n // 4] = 0.0
    disc[n // 4 : n // 3] = 0.1
    li["l_discount"] = disc
    qty = li["l_quantity"].to_numpy().copy()
    qty[: n // 6] = 0
    li["l_quantity"] = qty
    # duplicate (orderkey, linenumber) pairs: clone 5% of rows verbatim
    dup = li.sample(frac=0.05, random_state=3)
    li = pd.concat([li, dup], ignore_index=True)

    od = _read(src, "orders")
    m = len(od)
    # flood one date and tie many totalprices
    dates = od["o_orderdate"].copy()
    dates.iloc[: m // 3] = dates.iloc[0]
    od["o_orderdate"] = dates
    tp = od["o_totalprice"].to_numpy().copy()
    tp[: m // 4] = 50000.005
    od["o_totalprice"] = tp

    cu = _read(src, "customer")
    bal = cu["c_acctbal"].to_numpy().copy()
    bal[: len(cu) // 2] = 4321.105  # mass ties at a rounding boundary
    cu["c_acctbal"] = bal
    return {"lineitem": li, "orders": od, "customer": cu}


def skew(src: str) -> dict[str, pd.DataFrame]:
    """Vintage #3: KEY SKEW. Vintages #1 and #2 keep key DISTRIBUTIONS
    roughly uniform, so the giant-group code paths (windows over one
    huge user partition, heavy-hitter thresholds, salt plans,
    per-source rollups where one source IS the corpus, one label
    owning most vectors) never see the shape that makes them
    interesting. This vintage plants the skew while keeping every FK
    valid:

    - events: half of all rows reassigned to ONE user (a giant
      sessionize/window partition; user-keyed aggs get a heavy
      hitter); event_type left alone (the type x hour grids stay
      honest);
    - documents: 60% of docs collapse onto ONE source (per-source
      rollups where "rest" is thin), 80% onto ONE language;
    - orders: 30% of orders reassigned to ONE customer;
    - lineitem: 10% of lines reassigned to the already-largest order,
      l_linenumber renumbered unique within it (the degenerate wide
      order, without the duplicate-(orderkey, linenumber) hazard #2
      already covers);
    - embeddings: 70% of vectors relabeled to label 0 (one giant IVF
      cell: the probe set collapses, centroid dominated).

    A divergence is a skew-dependent cross-engine bug (giant-group
    fold order, tie handling inside a dominant partition); an engine
    error is a skew-triggered crash class."""
    rng = np.random.RandomState(21)

    ev = _read(src, "events")
    m = len(ev)
    uid = ev["user_id"].to_numpy().copy()
    uid[rng.choice(m, m // 2, replace=False)] = uid[0]
    ev["user_id"] = uid

    docs = _read(src, "documents")
    n = len(docs)
    src_col = docs["source"].to_numpy().copy()
    lang_col = docs["lang"].to_numpy().copy()
    giant_source, giant_lang = src_col[0], lang_col[0]
    src_col[rng.choice(n, (n * 6) // 10, replace=False)] = giant_source
    lang_col[rng.choice(n, (n * 8) // 10, replace=False)] = giant_lang
    docs["source"] = src_col
    docs["lang"] = lang_col

    od = _read(src, "orders")
    k = len(od)
    cust = od["o_custkey"].to_numpy().copy()
    cust[rng.choice(k, (k * 3) // 10, replace=False)] = cust[0]
    od["o_custkey"] = cust

    li = _read(src, "lineitem")
    giant_order = int(li["l_orderkey"].value_counts().index[0])
    move = rng.choice(len(li), len(li) // 10, replace=False)
    ok = li["l_orderkey"].to_numpy().copy()
    ok[move] = giant_order
    li["l_orderkey"] = ok
    # renumber the giant order's lines 1..k so (orderkey, linenumber)
    # stays unique (vintage #2 owns the duplicate-pair hazard)
    ln = li["l_linenumber"].to_numpy().copy()
    giant_mask = ok == giant_order
    ln[giant_mask] = np.arange(1, giant_mask.sum() + 1)
    li["l_linenumber"] = ln

    emb = _read(src, "embeddings")
    lab = emb["label"].to_numpy().copy()
    lab[rng.choice(len(emb), (len(emb) * 7) // 10, replace=False)] = 0
    emb["label"] = pd.array(lab, dtype="int32")
    return {
        "events": ev, "documents": docs, "orders": od, "lineitem": li,
        "embeddings": emb,
    }


_NFC = unicodedata.normalize("NFC", "caf\u00e9 na\u00efve r\u00e9sum\u00e9 z\u00fcrich")
_NFD = unicodedata.normalize("NFD", _NFC)  # combining diacritics
_NBSP, _THIN = "\u00a0", "\u2009"
_ZWNJ, _ZWJ = "\u200c", "\u200d"
_SHAPES = [
    _NFC,
    _NFD,
    _NFC + " " + _NFD,  # both normal forms in one doc
    "\u4e2d\u6587\u6587\u672c\u6ca1\u6709\u7a7a\u683c",  # CJK, no spaces
    "\u65e5\u672c\u8a9e \u30c6\u30b9\u30c8 \u6f22\u5b57",
    "emoji \U0001f600 \U0001f469" + _ZWJ + "\U0001f4bb family",  # ZWJ seq
    "\u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627\u0644\u0645",  # arabic RTL
    "\u0393\u03b5\u03b9\u03ac \u03c3\u03bf\u03c5 \u039a\u03cc\u03c3\u03bc\u03b5",  # greek
    "\u041f\u0440\u0438\u0432\u0435\u0442 \u041c\u0418\u0420 \u043c\u0438\u0440",  # cyrillic case pair
    "nbsp" + _NBSP + "inside one" + _THIN + "thin token",  # non-ascii ws IN tokens
    "crlf\r\nline and\rlone cr",
    "zero" + _ZWNJ + "width" + _ZWJ + "joined words",
    "mixed ascii caf\u00e9 \u4e2d\u6587 \U0001f600 end",
    "UPPER \u00c9T\u00c9 lower \u00e9t\u00e9 fold",
]


def unicode(src: str) -> dict[str, pd.DataFrame]:
    """Vintage #4: UNICODE / TEXT SHAPE. The text pipeline is the one
    place the two engines run genuinely different machinery: Spark's
    regexp/split are Java regex over UTF-16, DuckDB's are RE2 over
    UTF-8, so ASCII-only fixtures can hide divergences in char classes,
    case folding, byte-vs-codepoint lengths, and line handling. This
    vintage rewrites documents.text with the shapes multilingual crawls
    actually produce:

    - accented latin (café, naïve: precomposed) and the SAME strings
      in NFD (combining diacritics: a different codepoint sequence
      that renders identically);
    - CJK with no whitespace at all; emoji incl. ZWJ sequences;
    - right-to-left arabic; greek/cyrillic case pairs (case folding);
    - NBSP and other non-ASCII whitespace INSIDE tokens (the
      single-space tokenizer must NOT split on it: §2.7 splits on ' '
      only);
    - CRLF and lone-\\r "lines" inside text;
    - zero-width joiners/non-joiners inside words;
    - byte-length != char-length stress for every strlen/octet path.

    A divergence is a cross-engine text-semantics bug; an error is a
    codec crash."""
    docs = _read(src, "documents")
    texts = docs["text"].tolist()
    for i in range(len(docs)):
        r = i % 4
        if r == 0:
            texts[i] = _SHAPES[i % len(_SHAPES)]
        elif r == 1:
            # splice a unicode shape into the original ascii text
            texts[i] = texts[i] + " " + _SHAPES[(i // 4) % len(_SHAPES)]
        # else keep the original ascii text (the control group)
    docs["text"] = texts
    docs["n_chars"] = [len(t or "") for t in texts]
    return {"documents": docs}


def null(src: str) -> dict[str, pd.DataFrame]:
    """Vintage #5: NULLs. The committed generators never emit NULL in
    any nullable column, so every NULL code path (Spark's NULLS-FIRST
    vs DuckDB's NULLS-LAST window ordering, isin()/IN three-valued
    logic, NOT-IN vs anti-join, CASE-ELSE vs NULL propagation, NaN
    leaking into pandas UDFs) went unexercised. This vintage plants
    NULLs in the realistically-nullable columns: 5% of text, 10% of
    lang, 5% of source, 10% of events.value and props.

    First run (round 13) yield: 15 divergences + 3 crashes across six
    NULL-policy classes, each fixed with a DOCUMENTED policy:

    - NULL value is not a measurement (drift/conformal/AA/t-closeness/
      regression families filter it on both engines);
    - NULL-text docs carry no media payload / landing-zone object
      (media builders + binaryfile manifest exclude them);
    - scorer audits need lang AND source AND quality defined;
    - a NULL source survives a blocklist (anti-join semantics pinned
      over NOT IN's NULL swallow);
    - "not known-eval => training data" (coalesce(IN, FALSE));
    - NULL text = zero token mass for concentration stats;
    - URLs exist only when every generating column does."""
    rng = np.random.RandomState(33)

    docs = _read(src, "documents")
    n = len(docs)
    for col, frac in (("text", 0.05), ("lang", 0.10), ("source", 0.05)):
        vals = docs[col].to_numpy(dtype=object)
        vals[rng.choice(n, int(n * frac), replace=False)] = None
        docs[col] = vals
    docs["n_chars"] = [len(t) if isinstance(t, str) else 0 for t in docs["text"]]

    ev = _read(src, "events")
    m = len(ev)
    props = ev["props"].to_numpy(dtype=object)
    props[rng.choice(m, m // 10, replace=False)] = None
    ev["props"] = props
    vals = ev["value"].to_numpy(dtype=object)
    vals[rng.choice(m, m // 10, replace=False)] = None
    ev["value"] = pd.array(
        [float(v) if v is not None else None for v in vals], dtype="float64"
    )
    return {"documents": docs, "events": ev}


VINTAGES = {f.__name__: f for f in (values, rel, skew, unicode, null)}


def write_vintage(vintage: str, src: str, dst: str) -> None:
    """Write all tables of ``src`` into ``dst``: the ones the vintage's
    mutator perturbs from its frames, the rest copied unchanged."""
    os.makedirs(dst, exist_ok=True)
    frames = VINTAGES[vintage](src)
    for t in TABLES:
        if t in frames:
            frames[t].to_parquet(f"{dst}/{t}.parquet")
        else:
            pq.write_table(pq.read_table(f"{src}/{t}.parquet"), f"{dst}/{t}.parquet")


def main(argv: list[str]) -> None:
    if not argv or argv[0] not in VINTAGES:
        sys.exit(f"usage: fuzz_vintage.py <{'|'.join(VINTAGES)}> [dst] [skip,names]")
    vintage = argv[0]
    dst = argv[1] if len(argv) > 1 else f"/tmp/fuzz_{vintage}"
    skip = set(argv[2].split(",")) if len(argv) > 2 else set()

    import duckdb

    from mapreduceece563_spark import registry
    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.operators import similarity as sim
    from mapreduceece563_spark.operators import skew as sk
    from mapreduceece563_spark.operators import storage as stg
    from mapreduceece563_spark.operators import temporal as tp
    from mapreduceece563_spark.operators import trainprep as tr
    from mapreduceece563_spark.session import get_spark
    from mapreduceece563_spark.streaming import late_stream as lls
    from tests.conftest import SF_DIR, assert_frames_match

    write_vintage(vintage, SF_DIR, dst)
    print(f"{vintage} vintage written to", dst, flush=True)

    spark = get_spark("fuzz_vintage", cpus=8, shuffle_partitions=8)
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet'")

    qs = registry.queries()
    oracles = registry.oracle_sql()
    # the implemented-but-unregistered round-14 queue rides the audit
    for name, (fn, sql) in {
        "q14_rerank": (sim.rerank_two_stage, sim.RERANK_TWO_STAGE_SQL),
        "q14_projection": (
            sim.projection_neighborhood_audit,
            sim.PROJECTION_NEIGHBORHOOD_SQL,
        ),
        "q14_margin": (sim.label_centroid_margin, sim.LABEL_CENTROID_MARGIN_SQL),
        "q14_late": (lls.streaming_late_data_audit, lls.LATE_DATA_AUDIT_SQL),
        "q14_padding": (tr.padding_waste_curve, tr.PADDING_WASTE_SQL),
        "q14_fano": (tp.hourly_burstiness_fano, tp.FANO_SQL),
        "q14_seasonal": (tp.seasonal_decomposition_monthly, tp.SEASONAL_DECOMP_SQL),
        "q14_rowgroup": (stg.rowgroup_size_plan, stg.ROWGROUP_SIZE_SQL),
        "q14_multitouch": (an.multitouch_attribution, an.MULTITOUCH_SQL),
        "q14_broadcast": (sk.broadcast_threshold_plan, sk.BROADCAST_PLAN_SQL),
    }.items():
        qs[name] = fn
        oracles[name] = sql

    # batch tier first, then the streaming tier (whose first member
    # pays the concurrent pool drain at the vintage dir)
    ordered = [kv for kv in qs.items() if not kv[0].startswith("streaming_")]
    if "streaming" not in skip:
        ordered += [kv for kv in qs.items() if kv[0].startswith("streaming_")]
    fails, errs = [], []
    t0 = time.time()
    for i, (name, fn) in enumerate(ordered):
        if name in skip:
            continue
        try:
            sdf = fn(spark, dst)
            if name in oracles:
                assert_frames_match(sdf, duck.execute(oracles[name]), name)
            else:
                sdf.collect()
        except AssertionError as e:
            fails.append(name)
            print(f"DIVERGE {e}"[:400], flush=True)
        except Exception as e:  # noqa: BLE001  (one entry's crash is a finding)
            errs.append(name)
            print(f"ERR {name}: {type(e).__name__}: {str(e)[:180]}", flush=True)
        if i % 50 == 0:
            print(f"  [{i}] {name} ({time.time()-t0:.0f}s)", flush=True)

    print(f"done in {time.time()-t0:.0f}s; diverging={fails} errors={errs}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
