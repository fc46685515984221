"""Round-12 queue: implemented + oracle-tested ahead of registration
(the established queue precedent — the round-11 window is spoken for
by its own four-entry queue: srp_hamming_neardup, ndcg_at_k,
quality_calibration_ece, token_gini_by_source).

simpson_vocab_diversity is the vocabulary-axis twin of the Gini
(mass across DOCS vs mass across WORDS); its algebra is pure integer
and runs in DECIMAL(38,0)/HUGEINT on both engines.
"""

from __future__ import annotations

from tests.conftest import SF_DIR, assert_frames_match


def test_simpson_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import corpus as cp

    assert_frames_match(
        cp.simpson_vocab_diversity(spark, SF_DIR),
        duck.execute(cp.SIMPSON_VOCAB_SQL),
        ctx="simpson_vocab_diversity",
    )


def test_simpson_python_model(spark):
    """Pure-Python Simpson from the op's own tokenization: identical
    n_tokens / n_distinct / simpson_ppb / inv_simpson_milli per
    source, recomputed from the textbook sum(c*(c-1)) / (N*(N-1))."""
    from collections import Counter

    from pyspark.sql import functions as F

    from mapreduceece563_spark.operators import corpus as cp
    from mapreduceece563_spark.functions.text import normalized_words_array
    from mapreduceece563_spark.sources.catalog import load_table

    rows = (
        load_table(spark, SF_DIR, "documents")
        .select("source", normalized_words_array(F.col("text")).alias("w"))
        .collect()
    )
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], Counter()).update(r["w"])
    got = {
        r["source"]: r
        for r in cp.simpson_vocab_diversity(spark, SF_DIR).collect()
    }
    assert set(got) == {s for s, c in by_src.items() if sum(c.values())}
    for src, cnt in by_src.items():
        n = sum(cnt.values())
        if n == 0:
            continue
        coll = sum(c * (c - 1) for c in cnt.values())
        g = got[src]
        assert (g["n_tokens"], g["n_distinct"]) == (n, len(cnt))
        assert g["simpson_ppb"] == coll * 10**9 // max(n * (n - 1), 1)
        if coll:
            assert g["inv_simpson_milli"] == n * (n - 1) * 1000 // coll
        else:
            assert g["inv_simpson_milli"] is None


def test_simpson_semantic_pins(spark, tmp_path):
    """One word repeated -> simpson_ppb == 1e9 exactly and effective
    vocabulary exactly 1.000; all-unique tokens -> simpson 0 with a
    NULL inverse; a uniform two-word source -> inverse ~ 2.000 (the
    'effective species count' reading)."""
    from mapreduceece563_spark.operators import corpus as cp

    rows = [
        (0, "dup " * 50, "x", "mono", 200),
        (1, "dup " * 30, "x", "mono", 120),
        # alphabetic-only tokens: normalizeWord strips digits, so
        # "w0".."w39" would all collapse to "w" and defeat the pin
        (2, " ".join(chr(97 + i // 26) + chr(97 + i % 26)
                     for i in range(40)), "x", "uniq", 160),
        (3, "alpha beta " * 20, "x", "pair", 220),
    ]
    spark.createDataFrame(
        [(i, t.strip(), l, s, n) for i, t, l, s, n in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["source"]: r
        for r in cp.simpson_vocab_diversity(spark, str(tmp_path)).collect()
    }
    assert got["mono"]["simpson_ppb"] == 1_000_000_000
    assert got["mono"]["inv_simpson_milli"] == 1000
    assert got["uniq"]["simpson_ppb"] == 0
    assert got["uniq"]["inv_simpson_milli"] is None
    # 40 tokens, two words x20: lambda = 2*20*19/(40*39) = 0.48718
    assert got["pair"]["simpson_ppb"] == 2 * 20 * 19 * 10**9 // (40 * 39)
    assert got["pair"]["inv_simpson_milli"] == 40 * 39 * 1000 // (2 * 20 * 19)


def test_simpson_plan_is_wordcount_shaped(spark):
    """Two hash aggregates with map-side partials, exchanges keyed on
    (source, word) then source — no window, no join, no per-doc
    exchange."""
    from mapreduceece563_spark.operators import corpus as cp
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(cp.simpson_vocab_diversity(spark, SF_DIR), "simple")
    assert "Window" not in p
    assert "Join" not in p
    assert "hashpartitioning(doc_id" not in p


def test_mwu_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import analytics as an

    assert_frames_match(
        an.mann_whitney_drift(spark, SF_DIR),
        duck.execute(an.MANN_WHITNEY_SQL),
        ctx="mann_whitney_drift",
    )


def test_mwu_python_model(spark):
    """Pure-Python rank-sum from the textbook per-row mid-rank
    definition (sort, assign tie-averaged ranks, sum over epoch A) —
    pinning the histogram telescoping — plus a float cross-check that
    the integer alpha decision equals z^2 > 3.8415 with the
    tie-corrected variance."""
    import datetime

    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.sources.catalog import load_table

    split = datetime.datetime.fromisoformat(an.KS_SPLIT)
    rows = load_table(spark, SF_DIR, "events").select(
        "event_type", "ts", "value"
    ).collect()
    by_type: dict = {}
    for r in rows:
        cents = round(r["value"] * 100)
        is_b = r["ts"] >= split
        by_type.setdefault(r["event_type"], []).append((cents, is_b))
    got = {
        r["event_type"]: r
        for r in an.mann_whitney_drift(spark, SF_DIR).collect()
    }
    assert set(got) == set(by_type)
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        n_a = sum(1 for _, b in vals if not b)
        n_b = n - n_a
        # tie-averaged doubled ranks
        ra_x2 = 0
        tie_t = 0
        i = 0
        while i < n:
            j = i
            while j < n and vals[j][0] == vals[i][0]:
                j += 1
            c = j - i
            tie_t += c**3 - c
            dr = 2 * i + c + 1  # doubled mid-rank (ranks are 1-based)
            ra_x2 += dr * sum(1 for k in range(i, j) if not vals[k][1])
            i = j
        u_x2 = ra_x2 - n_a * (n_a + 1)
        g = got[et]
        assert (g["n_a"], g["n_b"], g["u_a_x2"]) == (n_a, n_b, u_x2)
        assert g["cles_ppm"] == u_x2 * 500_000 // max(n_a * n_b, 1)
        lhs = (
            an.MWU_Z2_005_DEN * n * (n - 1) * (u_x2 - n_a * n_b) ** 2
        )
        rhs = (
            an.MWU_Z2_005_NUM
            * n_a
            * n_b
            * ((n + 1) * n * (n - 1) - tie_t)
        )
        assert g["drift_at_005"] == (lhs > rhs)
        # float cross-check of the integer decision
        if n_a and n_b:
            var = (n_a * n_b / 12) * (
                (n + 1) - tie_t / (n * (n - 1))
            )
            if var > 0:
                z2 = ((u_x2 - n_a * n_b) / 2) ** 2 / var
                assert (z2 > 3.84148) == g["drift_at_005"] or abs(
                    z2 - 3.8415
                ) < 1e-3


def test_mwu_detects_injected_shift(spark, tmp_path):
    """Semantic pin: epoch B shifted up by 10x -> drift_at_005 true
    with cles_ppm near 1e6; epoch B identical to A -> no drift and
    cles_ppm == 500000 exactly (every A-B pair is a tie or balanced)."""
    import datetime

    from mapreduceece563_spark.operators import analytics as an

    split = datetime.datetime.fromisoformat(an.KS_SPLIT)
    before = split - datetime.timedelta(days=1)
    after = split + datetime.timedelta(days=1)
    rows = []
    eid = 0
    for i in range(200):
        rows.append((eid, before, 1, "shift", 1.0 + (i % 10), "{}")); eid += 1
        rows.append((eid, after, 1, "shift", 100.0 + (i % 10), "{}")); eid += 1
        rows.append((eid, before, 1, "same", 1.0 + (i % 10), "{}")); eid += 1
        rows.append((eid, after, 1, "same", 1.0 + (i % 10), "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    got = {
        r["event_type"]: r
        for r in an.mann_whitney_drift(spark, str(tmp_path)).collect()
    }
    assert got["shift"]["drift_at_005"]
    # B strictly above A: U_a = 0 -> cles 0 (A never wins)
    assert got["shift"]["cles_ppm"] == 0
    assert not got["same"]["drift_at_005"]
    assert got["same"]["cles_ppm"] == 500_000


def test_mwu_plan_is_histogram_bounded(spark):
    """The ks_drift shape: the cumulative window slides over the
    (event_type, cents) histogram, never a per-row rank; every
    exchange keys on event_type."""
    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(an.mann_whitney_drift(spark, SF_DIR), "simple")
    assert "row_number" not in p
    assert "hashpartitioning(event_id" not in p
    assert "windowspecdefinition(event_type" in p


def test_scene_cuts_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import multimodal as mm

    assert_frames_match(
        mm.video_scene_cuts(spark, SF_DIR),
        duck.execute(mm.VIDEO_SCENE_CUTS_SQL),
        ctx="video_scene_cuts",
    )


def test_scene_cut_helper_finds_injected_cut(spark):
    """Semantic pin on a hand-built clip with a REAL hard cut: five
    near-identical frames, then a scene change, then three more
    near-identical frames — the argmax pair must be the boundary, it
    must be the only adaptive-threshold cut, and a constant clip must
    report zero everywhere."""
    import numpy as np

    from mapreduceece563_spark.operators import multimodal as mm

    w, h = 4, 3
    stride = w * h * 3
    base = (np.arange(stride) * 5 % 251).astype(np.uint8)
    frames = []
    for f in range(5):
        frames.append(((base + f) % 256).reshape(h, w, 3))  # drift ~1/px
    shifted = ((base + 128) % 256).astype(np.uint8)
    for f in range(3):
        frames.append(((shifted + f) % 256).reshape(h, w, 3))
    clip = mm.encode_vf1(w, h, np.stack(frames).astype(np.uint8))
    nf, total, mx, cut, n_cuts = mm._scene_cut_stats(clip)
    assert nf == 8
    assert cut == 4  # the pair (frame4 -> frame5) is the boundary
    assert n_cuts == 1
    assert mx > total // 2  # the cut dominates the delta mass

    const = mm.encode_vf1(
        w, h, np.stack([base.reshape(h, w, 3)] * 4)
    )
    assert mm._scene_cut_stats(const) == (4, 0, 0, 0, 0)


def test_scene_cuts_python_model(spark):
    """Recompute every clip's delta series in pure Python from the
    generator formula and pin all five exported stats."""
    from mapreduceece563_spark.operators import multimodal as mm
    from mapreduceece563_spark.sources.catalog import load_table

    ids = [
        r["doc_id"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id").collect()
    ]
    got = {
        r["doc_id"]: r for r in mm.video_scene_cuts(spark, SF_DIR).collect()
    }
    assert set(got) == set(ids)
    for d in ids:
        w, h, nf = 3 + d % 4, 2 + d % 3, 2 + d % 5
        stride = w * h * 3
        deltas = []
        for f in range(nf - 1):
            s = 0
            for i in range(stride):
                v1 = (d * mm.VID_PIXEL_MULT + f * mm.VID_FRAME_STEP
                      + i * mm.VID_PIXEL_STEP) % 256
                v2 = (d * mm.VID_PIXEL_MULT + (f + 1) * mm.VID_FRAME_STEP
                      + i * mm.VID_PIXEL_STEP) % 256
                s += abs(v2 - v1)
            deltas.append(s)
        total, mx = sum(deltas), max(deltas)
        g = got[d]
        assert (g["n_frames"], g["total_abs_delta"], g["max_pair_delta"]) \
            == (nf, total, mx)
        assert g["cut_frame"] == deltas.index(mx)
        assert g["n_cuts"] == sum(
            1 for x in deltas
            if x * (nf - 1) * mm.SCENE_CUT_DEN > mm.SCENE_CUT_NUM * total
        )


def test_scene_cuts_plan_is_map_only(spark):
    """Payload bytes must never shuffle: the only exchange allowed is
    the round-robin spread of bare doc_ids BELOW the encode stage
    (8-byte rows, deliberate parallelism); everything from encode to
    output is one map pipeline, and nothing hash-partitions."""
    from mapreduceece563_spark.operators import multimodal as mm
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(mm.video_scene_cuts(spark, SF_DIR), "simple")
    assert "hashpartitioning" not in p
    above_encode = p.split("MapInPandas _encode")[0]
    assert "Exchange" not in above_encode


def test_spearman_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import analytics as an

    assert_frames_match(
        an.spearman_quality_length(spark, SF_DIR),
        duck.execute(an.SPEARMAN_QUALITY_LENGTH_SQL),
        ctx="spearman_quality_length",
    )


def test_spearman_python_model(spark):
    """Pure-Python Spearman from per-doc tie-averaged ranks (the
    textbook Pearson-on-ranks definition), mirrored to the op's exact
    integer + one-float64-division pipeline."""
    import math

    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.operators.textstats import quality_score
    from mapreduceece563_spark.sources.catalog import load_table

    q = {
        r["doc_id"]: round(r["quality"] * 1_000_000)
        for r in quality_score(spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    ).collect()
    by_lang: dict = {}
    for r in docs:
        by_lang.setdefault(r["lang"], []).append(
            (q[r["doc_id"]], r["n_chars"])
        )

    def doubled_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        out = [0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            for k in range(i, j):
                out[order[k]] = 2 * i + (j - i) + 1
            i = j
        return out

    got = {
        r["lang"]: r
        for r in an.spearman_quality_length(spark, SF_DIR).collect()
    }
    assert set(got) == set(by_lang)
    for lang, pairs in by_lang.items():
        rx = doubled_ranks([p[0] for p in pairs])
        ry = doubled_ranks([p[1] for p in pairs])
        n = len(pairs)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sx2 = sum(a * a for a in rx)
        sy2 = sum(b * b for b in ry)
        num = n * sxy - sx * sy
        d1 = n * sx2 - sx * sx
        d2 = n * sy2 - sy * sy
        g = got[lang]
        assert g["n"] == n
        if d1 > 0 and d2 > 0:
            want = math.floor(
                1_000_000.0 * float(num)
                / (math.sqrt(float(d1)) * math.sqrt(float(d2)))
            )
            want = max(-1_000_000, min(1_000_000, want))
            assert g["rho_ppm"] == want
            assert -1_000_000 <= g["rho_ppm"] <= 1_000_000
        else:
            assert g["rho_ppm"] is None


def test_spearman_semantic_pins(spark, tmp_path):
    """Perfect monotone quality-length relationship -> rho_ppm ==
    1e6 exactly (doc length drives the len_score term up to the cap);
    constant length -> NULL (undefined); anti-monotone -> -1e6."""
    from mapreduceece563_spark.operators import analytics as an

    # quality made STRICTLY monotone in i by the stopword ratio alone:
    # 10 tokens of equal length, i stopwords + (10-i) non-stopwords,
    # so alpha_ratio and len_score stay constant across docs
    def text_for(i):
        return " ".join(["the"] * i + ["xyz"] * (10 - i))

    rows = []
    # 'up': n_chars strictly increasing with quality
    for i in range(10):
        rows.append((i, text_for(i), "up", "src0", 100 + i))
    # 'flat': identical n_chars everywhere -> length rank is one tie
    for i in range(10, 20):
        rows.append((i, text_for(i - 10), "flat", "src0", 777))
    # 'down': n_chars strictly decreasing while quality increases
    for i in range(20, 30):
        rows.append((i, text_for(i - 20), "down", "src0", 1000 - i))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["lang"]: r
        for r in an.spearman_quality_length(spark, str(tmp_path)).collect()
    }
    assert got["up"]["rho_ppm"] == 1_000_000
    assert got["flat"]["rho_ppm"] is None
    assert got["down"]["rho_ppm"] == -1_000_000


def test_spearman_plan_is_histogram_bounded(spark):
    """Ranks come from marginal histograms, never a per-doc sort: no
    row_number, no per-doc window, no doc_id exchange past the
    metadata join; both cumulative windows slide over (lang, value)
    marginals."""
    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(an.spearman_quality_length(spark, SF_DIR), "simple")
    assert "row_number" not in p
    assert "windowspecdefinition(lang" in p
    assert "windowspecdefinition(doc_id" not in p


def test_round12_queue_on_empty_tables(spark, tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.operators import corpus as cp
    from mapreduceece563_spark.operators import multimodal as mm
    from mapreduceece563_spark.sources.catalog import TABLES

    d = tmp_path / "empty_sf"
    d.mkdir()
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")

    for name, fn, sql in (
        ("simpson_vocab_diversity", cp.simpson_vocab_diversity,
         cp.SIMPSON_VOCAB_SQL),
        ("mann_whitney_drift", an.mann_whitney_drift, an.MANN_WHITNEY_SQL),
        ("spearman_quality_length", an.spearman_quality_length,
         an.SPEARMAN_QUALITY_LENGTH_SQL),
        ("video_scene_cuts", mm.video_scene_cuts, mm.VIDEO_SCENE_CUTS_SQL),
    ):
        assert_frames_match(
            fn(spark, str(d)), con.execute(sql), ctx=f"empty:{name}"
        )
    con.close()
