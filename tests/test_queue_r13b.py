"""Round-13 registration queue, built and oracle-tested in round 12.

Ten operators covering classes the registry lacked — species-richness
estimation (Chao1 + Good-Turing unseen mass per source), paired
filter comparison (McNemar on discordant keep-decisions), corpus
keyness (Dunning G^2 top terms per source vs rest), ordinal effect
size (Cliff's delta of quality, each source vs rest), rank
concordance (Kendall tau-b on the bucketed quality x length
contingency), slow-ramp sequential drift (Page-Hinkley over the
gap-filled hourly series, window-built — see the DuckDB fold hazard
note below), graph mixing structure (degree assortativity of the
co-purchase graph, sqrt-free via orientation symmetrization),
time-series motif discovery (SAX PAA/alphabet trigrams), density
structure (grid-bucketed DBSCAN core-point census over embedding
dims), and Bloom-filter sizing (measured-FPP plan advisor on the
distinct-key frame). Each gets the driver's oracle compare, a
pure-Python model for the math the hash cannot see, invariant plan
pins, and the empty-table pin.

Registration plan (VERDICT r11 ask #3: queue growth stays at or
below ~10/round): these ten register in round 13, after
CORRECTNESS_r12 certifies the round-12 queue.

The round-12 session also surfaced a cross-engine hazard pinned
here: DuckDB v1.0's list_reduce STRUCT-lambda lets a field that
references an EARLIER-declared struct field observe its already-
updated value from the second fold step on. ewma_control_chart's
oracle was silently exposed (fixture data never hit the boundary);
the fix declares readers before writers, and page_hinkley_drift is
deliberately window-built instead of fold-built.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_frames_match


def _duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "documents",
        "events",
        "lineitem",
        "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


# --- chao1_vocab_richness ---------------------------------------------------


def test_chao1_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import corpus as cp

    assert_frames_match(
        cp.chao1_vocab_richness(spark, SF_DIR),
        duck.execute(cp.CHAO1_VOCAB_SQL),
        ctx="chao1_vocab_richness",
    )


def test_chao1_python_model(spark):
    """Recompute V/f1/f2/Chao1 from the raw word counts (the same
    normalize pipeline, via the tokenizer the repo already tests)."""
    from mapreduceece563_spark.operators import corpus as cp
    from mapreduceece563_spark.functions.text import normalized_words_array
    from mapreduceece563_spark.sources.catalog import load_table

    tok = (
        load_table(spark, SF_DIR, "documents")
        .select("source", F.explode(normalized_words_array(F.col("text"))).alias("w"))
        .collect()
    )
    counts: dict[str, dict[str, int]] = {}
    for r in tok:
        counts.setdefault(r["source"], {})[r["w"]] = (
            counts.setdefault(r["source"], {}).get(r["w"], 0) + 1
        )
    got = {
        r["source"]: r.asDict()
        for r in cp.chao1_vocab_richness(spark, SF_DIR).collect()
    }
    assert set(got) == set(counts)
    for src, cd in counts.items():
        v = len(cd)
        f1 = sum(1 for c in cd.values() if c == 1)
        f2 = sum(1 for c in cd.values() if c == 2)
        n = sum(cd.values())
        g = got[src]
        assert g["vocab"] == v
        assert g["f1"] == f1 and g["f2"] == f2
        assert g["chao1_est"] == v + (f1 * (f1 - 1)) // (2 * (f2 + 1))
        assert g["unseen_mass_ppm"] == (1_000_000 * f1) // n
        # Chao1 is a lower bound on true richness, never below V
        assert g["chao1_est"] >= v


# --- mcnemar_filter_compare -------------------------------------------------


def test_mcnemar_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import trainprep as tr

    assert_frames_match(
        tr.mcnemar_filter_compare(spark, SF_DIR),
        duck.execute(tr.MCNEMAR_FILTER_SQL),
        ctx="mcnemar_filter_compare",
    )


def test_mcnemar_python_model():
    """Cell counts, chi2 and the alpha decision recomputed from raw
    text with pure Python (the whitespace-token definition matches
    _ws_tokens: single-space split, empties dropped)."""
    import duckdb

    from mapreduceece563_spark.operators import trainprep as tr

    rows = duckdb.connect().execute(
        f"SELECT lang, n_chars, text FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    cells: dict[str, list[int]] = {}
    for lang, n_chars, text in rows:
        a = int(n_chars >= tr.MCNEMAR_CHARS_MIN)
        toks = [t for t in (text or "").split(" ") if t != ""]
        b = int(len(toks) >= tr.MCNEMAR_TOKENS_MIN)
        c = cells.setdefault(lang, [0, 0, 0, 0])
        c[0] += 1
        c[1] += a * b
        c[2] += a * (1 - b)
        c[3] += (1 - a) * b
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    got = {
        r[0]: r
        for r in con.execute(tr.MCNEMAR_FILTER_SQL).fetchall()
    }
    assert set(got) == set(cells)
    for lang, (n, both, b_cell, c_cell) in cells.items():
        g = got[lang]
        assert g[1] == n and g[2] == both and g[3] == b_cell and g[4] == c_cell
        d = b_cell + c_cell
        if d == 0:
            assert g[5] is None and g[6] is False
        else:
            num = (abs(b_cell - c_cell) - 1) ** 2
            assert g[5] == (1000 * num) // d
            assert g[6] == (1_000_000 * num > 3_841_459 * d)


# --- g2_keyness_by_source ---------------------------------------------------


def test_g2_keyness_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import ngrams as ng

    assert_frames_match(
        ng.g2_keyness_by_source(spark, SF_DIR),
        duck.execute(ng.G2_KEYNESS_ORACLE),
        ctx="g2_keyness_by_source",
    )


def test_g2_keyness_invariants(spark):
    """Every reported term is over-represented (exact cross-multiply),
    ranks are 1..5 per source, and G^2 is nonincreasing in rank."""
    from mapreduceece563_spark.operators import ngrams as ng

    rows = ng.g2_keyness_by_source(spark, SF_DIR).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert (a["g2_micro"], ) >= (b["g2_micro"], ) or (
                a["g2_micro"] == b["g2_micro"] and a["word"] < b["word"]
            )
        for r in rs:
            assert r["n_source"] + r["n_rest"] >= ng.G2_MIN_GLOBAL


def test_g2_keyness_python_model(spark):
    """Recompute the winning G^2 scores from raw (source, word)
    counts with the identical quantized-ln recipe."""
    from mapreduceece563_spark.operators import ngrams as ng
    from mapreduceece563_spark.functions.text import normalized_words_array
    from mapreduceece563_spark.sources.catalog import load_table

    tok = (
        load_table(spark, SF_DIR, "documents")
        .select("source", F.explode(normalized_words_array(F.col("text"))).alias("w"))
        .collect()
    )
    sw: dict[tuple[str, str], int] = {}
    for r in tok:
        sw[(r["source"], r["w"])] = sw.get((r["source"], r["w"]), 0) + 1
    gw: dict[str, int] = {}
    na: dict[str, int] = {}
    for (s, w), c in sw.items():
        gw[w] = gw.get(w, 0) + c
        na[s] = na.get(s, 0) + c
    n = sum(gw.values())

    def _round_half_up(x: float) -> int:
        import decimal

        return int(
            decimal.Decimal(x).quantize(0, rounding=decimal.ROUND_HALF_UP)
        )

    def g2(s, w):
        a, g = sw[(s, w)], gw[w]
        t1 = a * _round_half_up(
            math.log((a / na[s]) / (g / n)) * 1_000_000
        )
        b, nb = g - a, n - na[s]
        t2 = (
            b * _round_half_up(math.log((b / nb) / (g / n)) * 1_000_000)
            if b > 0 and nb > 0
            else 0
        )
        return 2 * (t1 + t2)

    for r in ng.g2_keyness_by_source(spark, SF_DIR).collect():
        assert gw[r["word"]] >= ng.G2_MIN_GLOBAL
        assert r["n_source"] * n > gw[r["word"]] * na[r["source"]]
        assert r["g2_micro"] == g2(r["source"], r["word"]), (
            r["source"],
            r["word"],
        )


def test_g2_keyness_plan_topk(spark):
    """The per-source top-5 plans as WindowGroupLimit (rank pushed
    below the sort), and the totals ride broadcasts."""
    from mapreduceece563_spark.operators import ngrams as ng
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(ng.g2_keyness_by_source(spark, SF_DIR), "simple")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


# --- cliffs_delta_quality ---------------------------------------------------


def test_cliffs_delta_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import analytics as an

    assert_frames_match(
        an.cliffs_delta_quality(spark, SF_DIR),
        duck.execute(an.CLIFFS_DELTA_SQL),
        ctx="cliffs_delta_quality",
    )


def test_cliffs_delta_python_model(spark, duck):
    """Pair counts and the shifted-quotient delta recomputed from the
    permille histogram by brute force (O(values^2) in Python — the
    operator itself never materializes pairs)."""
    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.operators.textstats import quality_score
    from mapreduceece563_spark.sources.catalog import load_table

    q = quality_score(spark, SF_DIR).select(
        "doc_id",
        F.round(F.col("quality") * 1000, 0).cast("long").alias("qm"),
    )
    meta = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    rows = q.join(meta, "doc_id").collect()
    per_src: dict[str, list[int]] = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r["qm"])
    all_vals = [v for vs in per_src.values() for v in vs]
    got = {
        r["source"]: r.asDict()
        for r in an.cliffs_delta_quality(spark, SF_DIR).collect()
    }
    assert set(got) == set(per_src)
    for src, vals in per_src.items():
        rest = [v for s, vs in per_src.items() if s != src for v in vs]
        gt = sum(1 for x in vals for y in rest if x > y)
        lt = sum(1 for x in vals for y in rest if x < y)
        g = got[src]
        assert g["n_source"] == len(vals)
        assert g["n_rest"] == len(rest)
        assert g["greater_pairs"] == gt
        assert g["less_pairs"] == lt
        den = len(vals) * len(rest)
        if den == 0:
            assert g["cliffs_delta_ppm"] is None
        else:
            # floor of the signed rational via the shift
            expected = (
                1_000_000 * (gt - lt) + 1_000_000 * den
            ) // den - 1_000_000
            assert g["cliffs_delta_ppm"] == expected
    assert len(all_vals) == sum(len(v) for v in per_src.values())


# --- kendall_tau_quality_length ---------------------------------------------


def test_kendall_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import analytics as an

    assert_frames_match(
        an.kendall_tau_quality_length(spark, SF_DIR),
        duck.execute(an.KENDALL_TAU_SQL),
        ctx="kendall_tau_quality_length",
    )


def test_kendall_python_model(spark):
    """Concordant/discordant pair counts and tau-b recomputed by
    brute force over the bucketed doc pairs."""
    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.operators.textstats import quality_score
    from mapreduceece563_spark.sources.catalog import load_table

    B = an.KENDALL_BUCKETS
    q = quality_score(spark, SF_DIR).select(
        "doc_id",
        F.round(F.col("quality") * 1000, 0).cast("long").alias("qm"),
    )
    meta = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    rows = q.join(meta, "doc_id").collect()
    per_lang: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append((r["qm"], r["n_chars"]))
    got = {
        r["lang"]: r.asDict()
        for r in an.kendall_tau_quality_length(spark, SF_DIR).collect()
    }
    assert set(got) == set(per_lang)
    for lang, pts in per_lang.items():
        qlo, qhi = min(p[0] for p in pts), max(p[0] for p in pts)
        llo, lhi = min(p[1] for p in pts), max(p[1] for p in pts)
        bucketed = [
            (
                ((qm - qlo) * B) // (qhi - qlo + 1),
                ((nc - llo) * B) // (lhi - llo + 1),
            )
            for qm, nc in pts
        ]
        conc = disc = 0
        for i in range(len(bucketed)):
            for j in range(i + 1, len(bucketed)):
                (x1, y1), (x2, y2) = bucketed[i], bucketed[j]
                if (x1 - x2) * (y1 - y2) > 0:
                    conc += 1
                elif (x1 - x2) * (y1 - y2) < 0:
                    disc += 1
        g = got[lang]
        assert g["n_docs"] == len(pts)
        assert g["concordant"] == conc
        assert g["discordant"] == disc
        nn = len(pts)
        tx = 0
        ty = 0
        from collections import Counter

        for _, m in Counter(x for x, _ in bucketed).items():
            tx += m * (m - 1)
        for _, m in Counter(y for _, y in bucketed).items():
            ty += m * (m - 1)
        dx = nn * (nn - 1) - tx
        dy = nn * (nn - 1) - ty
        if dx > 0 and dy > 0:
            sign = 1 if conc >= disc else -1
            expected = sign * math.floor(
                2000 * (conc - disc) * sign / math.sqrt(dx * dy)
            )
            assert g["tau_b_milli"] == expected
        else:
            assert g["tau_b_milli"] is None


# --- page_hinkley_drift -------------------------------------------------------


def test_page_hinkley_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import temporal as tp

    assert_frames_match(
        tp.page_hinkley_drift(spark, SF_DIR),
        duck.execute(tp.PAGE_HINKLEY_SQL),
        ctx="page_hinkley_drift",
    )


def test_page_hinkley_python_model(spark):
    """The window construction must equal the textbook recursion:
    m_t = m_(t-1) + 1000*y_t - (1000*S_t div t) - delta, mn tracked
    inclusively, alarm when m - mn > lambda."""
    import duckdb

    from mapreduceece563_spark.operators import temporal as tp

    rows = duckdb.connect().execute(
        f"""WITH ev AS (SELECT event_type,
                              epoch_us(ts) // 3600000000 AS h
                        FROM '{SF_DIR}/events.parquet')
            SELECT event_type, h, count(*) FROM ev
            GROUP BY event_type, h ORDER BY event_type, h"""
    ).fetchall()
    series: dict[str, dict[int, int]] = {}
    for et, h, c in rows:
        series.setdefault(et, {})[h] = c
    got = {
        r["event_type"]: r.asDict()
        for r in tp.page_hinkley_drift(spark, SF_DIR).collect()
    }
    assert set(got) == set(series)
    for et, hist in series.items():
        h0, h1 = min(hist), max(hist)
        ys = [hist.get(h, 0) for h in range(h0, h1 + 1)]
        n = s = m = mn = al = 0
        for y in ys:
            n += 1
            s += y
            m = m + y * 1000 - (s * 1000) // n - tp.PH_DELTA_MILLI
            mn = min(mn, m)
            if m - mn > tp.PH_LAMBDA_MILLI:
                al += 1
        g = got[et]
        assert g["n_hours"] == len(ys)
        assert g["ph_final_milli"] == m - mn
        assert g["n_alarm_hours"] == al


def test_page_hinkley_planted_ramp(spark, tmp_path):
    """Positive control: a planted slow ramp must alarm; a flat
    series must not."""
    import datetime

    import pandas as pd

    from mapreduceece563_spark.operators import temporal as tp

    t0 = datetime.datetime(2024, 1, 1)
    recs = []
    eid = 0
    for h in range(200):
        # flat: 10 events every hour; ramp: grows 1 event per 2 hours
        for _ in range(10):
            recs.append((eid, t0 + datetime.timedelta(hours=h, minutes=1),
                         1, "flat", 1.0, "{}"))
            eid += 1
        for _ in range(5 + h // 2):
            recs.append((eid, t0 + datetime.timedelta(hours=h, minutes=2),
                         2, "ramp", 1.0, "{}"))
            eid += 1
    df = pd.DataFrame(
        recs,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = tmp_path / "ph_sf"
    d.mkdir()
    df.to_parquet(str(d / "events.parquet"))
    got = {
        r["event_type"]: r.asDict()
        for r in tp.page_hinkley_drift(spark, str(d)).collect()
    }
    assert got["ramp"]["n_alarm_hours"] > 0
    assert got["flat"]["n_alarm_hours"] == 0


# --- the DuckDB struct-fold hazard regression (EWMA oracle) -----------------


def test_ewma_oracle_fold_field_order_regression():
    """Pin the round-12 fix: DuckDB v1.0's list_reduce struct-lambda
    lets later-declared fields observe earlier fields' UPDATED values
    from step 2 on. The EWMA oracle must keep 'alarms' declared
    BEFORE 's' (readers before writers); this fuzz catches any
    regression (the pre-fix body diverged on ~30% of random series).
    """
    import re

    import duckdb

    from mapreduceece563_spark.operators import temporal as tp

    fold = re.search(
        r"list_reduce\(.*?\) AS st", tp.EWMA_CONTROL_SQL, re.S
    ).group(0)
    con = duckdb.connect()

    def py_ewma(ys):
        s, al = -1, 0
        for y in ys:
            if s >= 0 and y * 1000 > tp.EWMA_K_NUM * s + tp.EWMA_FLOOR:
                al += 1
            s = (
                y * 1000
                if s < 0
                else (tp.EWMA_NUM * y * 1000
                      + (tp.EWMA_DEN - tp.EWMA_NUM) * s) // tp.EWMA_DEN
            )
        return s, al

    rng = random.Random(1234)
    for _ in range(150):
        ys = [rng.randint(0, 30) for _ in range(rng.randint(3, 25))]
        q = "SELECT " + fold.replace("_ys", str(ys))
        st = con.execute(q).fetchall()[0][0]
        assert (st["s"], st["alarms"]) == py_ewma(ys), ys


# --- degree_assortativity ----------------------------------------------------


def test_assortativity_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import graph as gph

    assert_frames_match(
        gph.degree_assortativity(spark, SF_DIR),
        duck.execute(gph.DEGREE_ASSORT_SQL),
        ctx="degree_assortativity",
    )


def test_assortativity_python_model(spark):
    """Rebuild edges/degrees in Python, compute the symmetrized
    Pearson exactly with integers, compare the milli value."""
    import duckdb

    from mapreduceece563_spark.operators import graph as gph

    rows = duckdb.connect().execute(
        f"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                        FROM '{SF_DIR}/lineitem.parquet')
            SELECT DISTINCT a.l_partkey, b.l_partkey
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey"""
    ).fetchall()
    deg: dict[int, int] = {}
    for pa, pb in rows:
        deg[pa] = deg.get(pa, 0) + 1
        deg[pb] = deg.get(pb, 0) + 1
    pairs = [(deg[pa], deg[pb]) for pa, pb in rows]
    xs = [x for x, y in pairs] + [y for x, y in pairs]
    ys = [y for x, y in pairs] + [x for x, y in pairs]
    m = len(xs)
    sx, sxy, sxx = sum(xs), sum(a * b for a, b in zip(xs, ys)), sum(
        a * a for a in xs
    )
    got = gph.degree_assortativity(spark, SF_DIR).collect()
    assert len(got) == 1
    g = got[0].asDict()
    assert g["n_edges"] == len(rows)
    den = m * sxx - sx * sx
    if den > 0:
        num = m * sxy - sx * sx  # symmetric: sum(x)=sum(y)
        expected = (1000 * num + 1000 * den) // den - 1000
        assert g["assortativity_milli"] == expected
        assert -1000 <= g["assortativity_milli"] <= 1000
    else:
        assert g["assortativity_milli"] is None


# --- sax_motif_counts ---------------------------------------------------------


def test_sax_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import temporal as tp

    assert_frames_match(
        tp.sax_motif_counts(spark, SF_DIR),
        duck.execute(tp.SAX_MOTIF_SQL),
        ctx="sax_motif_counts",
    )


def test_sax_python_model(spark):
    """PAA, symbols, trigram counts and the top-3 ranking recomputed
    from the hourly histogram in pure Python."""
    import duckdb
    from collections import Counter

    from mapreduceece563_spark.operators import temporal as tp

    rows = duckdb.connect().execute(
        f"""WITH ev AS (SELECT event_type,
                              epoch_us(ts) // 3600000000 AS h
                        FROM '{SF_DIR}/events.parquet')
            SELECT event_type, h, count(*) FROM ev
            GROUP BY event_type, h"""
    ).fetchall()
    series: dict[str, dict[int, int]] = {}
    for et, h, c in rows:
        series.setdefault(et, {})[h] = c
    got: dict[str, list] = {}
    for r in tp.sax_motif_counts(spark, SF_DIR).collect():
        got.setdefault(r["event_type"], []).append(r.asDict())
    for et, hist in series.items():
        h0, h1 = min(hist), max(hist)
        frames: dict[int, list[int]] = {}
        for h in range(h0, h1 + 1):
            frames.setdefault(h // tp.SAX_FRAME_HOURS, []).append(
                hist.get(h, 0)
            )
        paa = {
            f: (1000 * sum(v)) // len(v) for f, v in frames.items()
        }
        lo, hi = min(paa.values()), max(paa.values())
        syms = [
            ((paa[f] - lo) * tp.SAX_ALPHABET) // (hi - lo + 1)
            for f in sorted(paa)
        ]
        tri = Counter(
            syms[i] * 16 + syms[i + 1] * 4 + syms[i + 2]
            for i in range(len(syms) - 2)
        )
        top = sorted(tri.items(), key=lambda kv: (-kv[1], kv[0]))[
            : tp.SAX_TOP_MOTIFS
        ]
        rs = sorted(got[et], key=lambda r: r["rank"])
        assert [(r["motif"], r["n_occurrences"]) for r in rs] == top
        for r in rs:
            assert 0 <= r["motif"] < 64


# --- dbscan_core_cells --------------------------------------------------------


def test_dbscan_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import clustering as cl

    assert_frames_match(
        cl.dbscan_core_cells(spark, SF_DIR),
        duck.execute(cl.DBSCAN_CORE_SQL),
        ctx="dbscan_core_cells",
    )


def test_dbscan_python_model(spark):
    """Core counts by brute-force O(n^2) neighbor scan (the operator
    itself is cell-fenced; the model proves the grid trick lost no
    neighbor — the double-wide origin cell included)."""
    import duckdb

    from mapreduceece563_spark.operators import clustering as cl

    rows = duckdb.connect().execute(
        f"""SELECT label,
                   CAST(round(embedding[1] * 1000000, 0) AS BIGINT),
                   CAST(round(embedding[2] * 1000000, 0) AS BIGINT)
            FROM '{SF_DIR}/embeddings.parquet'"""
    ).fetchall()
    pts = [(x, y) for _, x, y in rows]
    eps = cl.DBSCAN_EPS_MICRO
    core_by_label: dict[int, int] = {}
    n_by_label: dict[int, int] = {}
    for lbl, x, y in rows:
        n_by_label[lbl] = n_by_label.get(lbl, 0) + 1
        nn = sum(
            1
            for (x2, y2) in pts
            if abs(x - x2) <= eps and abs(y - y2) <= eps
        )
        if nn >= cl.DBSCAN_MIN_PTS:
            core_by_label[lbl] = core_by_label.get(lbl, 0) + 1
    got = {
        r["label"]: r.asDict()
        for r in cl.dbscan_core_cells(spark, SF_DIR).collect()
    }
    assert set(got) == set(n_by_label)
    for lbl in n_by_label:
        g = got[lbl]
        assert g["n_points"] == n_by_label[lbl]
        assert g["n_core"] == core_by_label.get(lbl, 0)
        assert g["core_ppm"] == (
            1_000_000 * core_by_label.get(lbl, 0)
        ) // n_by_label[lbl]


# --- bloom_filter_plan --------------------------------------------------------


def test_bloom_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import skew as sk

    assert_frames_match(
        sk.bloom_filter_plan(spark, SF_DIR),
        duck.execute(sk.BLOOM_PLAN_SQL),
        ctx="bloom_filter_plan",
    )


def test_bloom_python_model(spark):
    """Set bits, occupancy and measured FPP recomputed with the same
    integer double-hash in pure Python."""
    import duckdb

    from mapreduceece563_spark.operators import skew as sk

    keys = [
        r[0]
        for r in duckdb.connect().execute(
            f"SELECT DISTINCT user_id FROM '{SF_DIR}/events.parquet'"
        ).fetchall()
    ]

    def pos(key, j, m):
        return ((key % sk.BLOOM_P1) * sk.BLOOM_KNUTH
                + j * sk.BLOOM_STEP) % sk.BLOOM_P2 % m

    got = {
        (r["m_bits"], r["k_hashes"]): r.asDict()
        for r in sk.bloom_filter_plan(spark, SF_DIR).collect()
    }
    assert set(got) == set(sk.BLOOM_GRID)
    for m, k in sk.BLOOM_GRID:
        bits = {pos(key, j, m) for key in keys for j in range(k)}
        fps = sum(
            1
            for key in keys
            if all(
                pos(key + sk.BLOOM_PROBE_OFFSET, j, m) in bits
                for j in range(k)
            )
        )
        g = got[(m, k)]
        assert g["n_keys"] == len(keys)
        assert g["bits_set"] == len(bits)
        assert g["occupancy_ppm"] == (1_000_000 * len(bits)) // m
        assert g["measured_fpp_ppm"] == (1_000_000 * fps) // len(keys)
        # sanity: a filter cannot set more bits than keys*k
        assert len(bits) <= len(keys) * k


def test_bloom_plan_shape(spark):
    """The grid rides broadcasts; nothing cartesian-products; the
    corpus collapses to the distinct-key frame before any fan-out."""
    from mapreduceece563_spark.operators import skew as sk
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(sk.bloom_filter_plan(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


# --- shared plan audit --------------------------------------------------------


def test_queue_r13b_no_cartesian_products(spark):
    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.operators import clustering as cl
    from mapreduceece563_spark.operators import corpus as cp
    from mapreduceece563_spark.operators import graph as gph
    from mapreduceece563_spark.operators import ngrams as ng
    from mapreduceece563_spark.operators import skew as sk
    from mapreduceece563_spark.operators import temporal as tp
    from mapreduceece563_spark.operators import trainprep as tr
    from mapreduceece563_spark.plans import plan_string

    for name, fn in [
        ("chao1_vocab_richness", cp.chao1_vocab_richness),
        ("mcnemar_filter_compare", tr.mcnemar_filter_compare),
        ("g2_keyness_by_source", ng.g2_keyness_by_source),
        ("cliffs_delta_quality", an.cliffs_delta_quality),
        ("kendall_tau_quality_length", an.kendall_tau_quality_length),
        ("page_hinkley_drift", tp.page_hinkley_drift),
        ("degree_assortativity", gph.degree_assortativity),
        ("sax_motif_counts", tp.sax_motif_counts),
        ("dbscan_core_cells", cl.dbscan_core_cells),
        ("bloom_filter_plan", sk.bloom_filter_plan),
    ]:
        p = plan_string(fn(spark, SF_DIR), "simple")
        assert "CartesianProduct" not in p, name


def test_sax_plan_topk(spark):
    from mapreduceece563_spark.operators import temporal as tp
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(tp.sax_motif_counts(spark, SF_DIR), "simple")
    assert "WindowGroupLimit" in p


# --- empty-table behavior, all ten -------------------------------------------


def test_queue_r13b_on_empty_tables(spark, tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.operators import clustering as cl
    from mapreduceece563_spark.operators import corpus as cp
    from mapreduceece563_spark.operators import graph as gph
    from mapreduceece563_spark.operators import ngrams as ng
    from mapreduceece563_spark.operators import skew as sk
    from mapreduceece563_spark.operators import temporal as tp
    from mapreduceece563_spark.operators import trainprep as tr
    from mapreduceece563_spark.sources.catalog import TABLES

    d = tmp_path / "empty_sf"
    d.mkdir()
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")

    for name, fn, sql in [
        ("chao1_vocab_richness", cp.chao1_vocab_richness, cp.CHAO1_VOCAB_SQL),
        (
            "mcnemar_filter_compare",
            tr.mcnemar_filter_compare,
            tr.MCNEMAR_FILTER_SQL,
        ),
        ("g2_keyness_by_source", ng.g2_keyness_by_source, ng.G2_KEYNESS_ORACLE),
        ("cliffs_delta_quality", an.cliffs_delta_quality, an.CLIFFS_DELTA_SQL),
        (
            "kendall_tau_quality_length",
            an.kendall_tau_quality_length,
            an.KENDALL_TAU_SQL,
        ),
        ("page_hinkley_drift", tp.page_hinkley_drift, tp.PAGE_HINKLEY_SQL),
        ("degree_assortativity", gph.degree_assortativity, gph.DEGREE_ASSORT_SQL),
        ("sax_motif_counts", tp.sax_motif_counts, tp.SAX_MOTIF_SQL),
        ("dbscan_core_cells", cl.dbscan_core_cells, cl.DBSCAN_CORE_SQL),
        ("bloom_filter_plan", sk.bloom_filter_plan, sk.BLOOM_PLAN_SQL),
    ]:
        assert_frames_match(
            fn(spark, str(d)), con.execute(sql), ctx=f"empty:{name}"
        )
