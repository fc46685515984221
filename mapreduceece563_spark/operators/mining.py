"""Sequence-mining, state-compaction, and entity-resolution operators.

The reference engine's surface is grouped aggregation over token
streams (SURVEY.md §2.4); these operators apply the same
shuffle-discipline to the event/sequence shapes a production pipeline
runs next to it:

- **event_transition_matrix** — first-order Markov transition counts
  and probabilities over each user's event sequence. One exchange on
  ``user_id`` for the ``lead`` window; the transition aggregate is
  |event_types|² rows, i.e. tiny at any corpus size.
- **user_latest_state** — CDC-style compaction to the latest event
  per user. Deliberately ``max(struct(ts, event_id, ...))`` rather
  than a row_number window: the struct-max is an ordinary aggregate,
  so Spark runs a map-side partial pass and only ONE ROW PER USER PER
  MAP TASK crosses the shuffle — at 100 TB that is the difference
  between shuffling every event and shuffling the user cardinality.
  (``event_id`` is unique, so the (ts, event_id) prefix makes the max
  deterministic; trailing struct fields ride along as payload.)
- **events_value_histogram** — fixed 20-bin equi-width histogram.
  Two-pass: a 1-row global min/max aggregate broadcast back over the
  scan, then map-side binning into a 20-row aggregate. At real scale
  the min/max pass would be replaced by a fixed domain or a sampled
  bound; the binning pass is the same either way.
- **part_name_match_stats** — blocked fuzzy entity resolution:
  exact-duplicate names collapse in one groupBy, then candidate pairs
  are generated ONLY among distinct names within a blocking key
  (first name token) and scored with edit distance. The classic ER
  shape: quadratic work is per-block and per-distinct-value, never
  all-pairs over rows. Complements the document-side
  ``dedup_edit_distance`` (which blocks by MinHash-LSH instead).

Floats cross engines only where both sides compute the identical
IEEE expression; every SUM is over int64 (counts or quantized
values), so fold order can never change a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cachemgr import per_session, stage
from ..sources.catalog import load_table

N_BINS = 20
ER_MAX_DIST = 5  # max edit distance for a near-duplicate name pair


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type) transition counts + within-source
    probability over each user's ts-ordered event sequence."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(seq))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_pairs")
    )
    per_src = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_pairs",
        F.round(
            F.col("n_pairs") / F.sum("n_pairs").over(per_src), 6
        ).alias("p"),
    )


EVENT_TRANSITION_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, count(*) AS n_pairs
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_pairs,
       round(n_pairs / CAST(sum(n_pairs) OVER (PARTITION BY from_type)
                            AS DOUBLE), 6) AS p
FROM c
"""


def user_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user via max(struct) — partial-aggregable, so
    the shuffle carries one candidate row per user per map task
    (plan-pinned: 2 HashAggregates, no Window)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    latest = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("_s"),
        F.count("*").alias("n_events"),
    )
    return latest.select(
        "user_id",
        F.col("_s.ts").alias("last_ts"),
        F.col("_s.event_type").alias("last_event_type"),
        F.round(F.col("_s.value"), 6).alias("last_value"),
        "n_events",
    )


USER_LATEST_STATE_SQL = """
WITH ranked AS (
  SELECT user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       round(value, 6) AS last_value, n_events
FROM ranked WHERE rn = 1
"""


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of events.value. The bin arithmetic
    is written identically in both engines so the IEEE doubles (and
    therefore the floor) agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").select("value")
    stats = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    width = (F.col("vmax") - F.col("vmin")) / N_BINS
    bin_ = F.least(
        F.floor((F.col("value") - F.col("vmin")) / width), F.lit(N_BINS - 1)
    )
    return (
        ev.crossJoin(F.broadcast(stats))
        .groupBy(bin_.alias("bin"), "vmin", "vmax")
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            F.round(
                F.col("vmin")
                + F.col("bin") * (F.col("vmax") - F.col("vmin")) / N_BINS,
                6,
            ).alias("lo"),
            F.round(
                F.col("vmin")
                + (F.col("bin") + 1) * (F.col("vmax") - F.col("vmin")) / N_BINS,
                6,
            ).alias("hi"),
            "n",
        )
    )


EVENTS_VALUE_HISTOGRAM_SQL = f"""
WITH s AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
b AS (
  SELECT CAST(least(floor((value - vmin) / ((vmax - vmin) / {N_BINS})),
                    {N_BINS - 1}) AS BIGINT) AS bin,
         vmin, vmax
  FROM events CROSS JOIN s
)
SELECT bin,
       round(vmin + bin * (vmax - vmin) / {N_BINS}, 6) AS lo,
       round(vmin + (bin + 1) * (vmax - vmin) / {N_BINS}, 6) AS hi,
       count(*) AS n
FROM b GROUP BY bin, vmin, vmax
"""


def part_name_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block fuzzy-duplicate report over part names: collapse
    exact-duplicate names FIRST (one groupBy), then run the quadratic
    Levenshtein step only on the distinct names inside each blocking
    key, weighting near-pairs back up by the collapsed counts.

    The collapse is the scale move: on this catalog it turns ~250k
    in-block comparisons into ~200 — entity catalogs are Zipfian, so
    paying the quadratic cost per DISTINCT value (not per row) is the
    difference between an ER pass that finishes and one that doesn't.
    Output is one bounded row per block, never a pair list."""
    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    names = parts.groupBy("p_name").agg(F.count("*").alias("cnt")).select(
        "p_name", "cnt", F.split(F.col("p_name"), " ").getItem(0).alias("blk")
    )
    base = names.groupBy("blk").agg(
        F.sum("cnt").alias("n_parts"),
        F.count("*").alias("n_names"),
        F.sum(
            (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long")
        ).alias("exact_dup_pairs"),
    )
    a = names.select(
        "blk", F.col("p_name").alias("name_a"), F.col("cnt").alias("cnt_a")
    )
    b = names.select(
        "blk", F.col("p_name").alias("name_b"), F.col("cnt").alias("cnt_b")
    )
    near = (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(
            F.levenshtein(F.col("name_a"), F.col("name_b")).between(
                1, ER_MAX_DIST
            )
        )
        .groupBy("blk")
        .agg(
            F.count("*").alias("near_name_pairs"),
            F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("near_part_pairs"),
        )
    )
    zero = F.lit(0).cast("long")
    return base.join(near, "blk", "left").select(
        "blk",
        "n_parts",
        "n_names",
        "exact_dup_pairs",
        F.coalesce(F.col("near_name_pairs"), zero).alias("near_name_pairs"),
        F.coalesce(F.col("near_part_pairs"), zero).alias("near_part_pairs"),
    )


PART_NAME_MATCH_STATS_SQL = f"""
WITH names AS (
  SELECT p_name, string_split(p_name, ' ')[1] AS blk, count(*) AS cnt
  FROM part GROUP BY p_name, string_split(p_name, ' ')[1]
),
base AS (
  SELECT blk, CAST(sum(cnt) AS BIGINT) AS n_parts, count(*) AS n_names,
         CAST(sum(CAST(cnt * (cnt - 1) / 2 AS BIGINT)) AS BIGINT)
           AS exact_dup_pairs
  FROM names GROUP BY blk
),
near AS (
  SELECT a.blk, count(*) AS near_name_pairs,
         CAST(sum(a.cnt * b.cnt) AS BIGINT) AS near_part_pairs
  FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {ER_MAX_DIST}
  GROUP BY a.blk
)
SELECT blk, n_parts, n_names, exact_dup_pairs,
       coalesce(near_name_pairs, CAST(0 AS BIGINT)) AS near_name_pairs,
       coalesce(near_part_pairs, CAST(0 AS BIGINT)) AS near_part_pairs
FROM base LEFT JOIN near USING (blk)
"""


# --- order-independent table fingerprint ------------------------------


def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source order-independent content fingerprint of the
    documents table: XOR of a deterministic row hash.

    XOR is commutative/associative, so the signature is invariant to
    partitioning, task order, and merge order — the replication /
    migration validation primitive: run on both sides of a copy, one
    row per source crosses the wire. Row identity is the poly-fold of
    a canonical unit-separator-joined rendering of every column
    (null -> '')."""
    return _xor_rollup(_row_hashes(spark, sf_dir))


def _row_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, _h): the canonical per-row hash stage, exposed so the
    order-independence property is testable under any repartitioning."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    canon = F.concat_ws(
        "\x1f",
        F.col("doc_id").cast("string"),
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("lang"), F.lit("")),
        F.coalesce(F.col("source"), F.lit("")),
        F.col("n_chars").cast("string"),
    )
    from ..functions.hashing import poly_hash

    return docs.select("source", poly_hash(canon).alias("_h"))


def _xor_rollup(hashes: DataFrame) -> DataFrame:
    return hashes.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.expr("bit_xor(_h)").alias("xor_sig"),
    )


def _checksum_canon_sql() -> str:
    from ..functions.hashing import poly_hash_sql

    canon = (
        "concat_ws(chr(31), CAST(doc_id AS VARCHAR), coalesce(text, ''), "
        "coalesce(lang, ''), coalesce(source, ''), "
        "CAST(n_chars AS VARCHAR))"
    )
    return poly_hash_sql(canon)


TABLE_CHECKSUM_SQL = f"""
SELECT source, count(*) AS n_rows,
       bit_xor({_checksum_canon_sql()}) AS xor_sig
FROM documents GROUP BY source
"""


# --- market-basket association ---------------------------------------

BASKET_TOP_K = 20


def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over order baskets: top-20 part-brand pairs
    by lift (P(a,b) / P(a)P(b)), 0.1%-support-floored — the co-purchase
    signal a recommender or assortment planner starts from.

    Lift is computed as integer milli-units, (1000·N·n_ab) div
    (n_a·n_b), so cross-engine ranking is exact; support is
    corpus-relative (1000·n_ab >= N) rather than an absolute count so
    the semantics are scale-invariant. The numerator runs in 128-bit
    integers on BOTH engines (Spark DECIMAL(38,0), DuckDB HUGEINT):
    with N and n_ab both ~1e9 at the 100 TB posture, 1000·N·n_ab
    (~1e21) overflows int64 — non-ANSI Spark would wrap silently
    while DuckDB raises, i.e. the engines would diverge rather than
    both fail. Plan shape: the part dim
    broadcasts into the item scan; baskets deduplicate to per-order
    brand SETS before pairing (distinct on (order, brand)); the pair
    self-join keys on the order id — pairs per order are bounded by
    basket width squared, never corpus size; brand marginals (25
    rows) and the 1-row order count broadcast back; top-k is
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # cached: the distinct (order, brand) basket frame feeds FOUR
    # references (order count, brand marginals, both pair-join
    # sides); uncached, the lineitem join + distinct re-ran per
    # reference (r13; 1.9 -> 1.2 s isolated). Guide §5.
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .distinct()
        .transform(stage)
    )
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count("*").alias("_n")
    )
    brand_cnt = items.groupBy("brand").agg(F.count("*").alias("_cnt"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    ca = brand_cnt.select(
        F.col("brand").alias("brand_a"), F.col("_cnt").alias("_na")
    )
    cb = brand_cnt.select(
        F.col("brand").alias("brand_b"), F.col("_cnt").alias("_nb")
    )
    scored = (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .filter(1000 * F.col("n_ab") >= F.col("_n"))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.expr(
                "CAST((CAST(1000 AS DECIMAL(38,0)) * _n * n_ab)"
                " div (CAST(_na AS DECIMAL(38,0)) * _nb) AS BIGINT)"
            ).alias("_lift_milli"),
        )
    )
    return (
        scored.orderBy(
            F.desc("_lift_milli"), F.asc("brand_a"), F.asc("brand_b")
        )
        .limit(BASKET_TOP_K)
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            (F.col("_lift_milli") / 1000.0).alias("lift"),
        )
    )


BASKET_BRAND_LIFT_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
nd AS (SELECT count(DISTINCT l_orderkey) AS _n FROM items),
bc AS (SELECT brand, count(*) AS _cnt FROM items GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
),
scored AS (
  SELECT brand_a, brand_b, n_ab,
         CAST((CAST(1000 AS HUGEINT) * _n * n_ab)
              // (CAST(ca._cnt AS HUGEINT) * cb._cnt) AS BIGINT)
           AS _lift_milli
  FROM pairs
  JOIN bc ca ON ca.brand = brand_a
  JOIN bc cb ON cb.brand = brand_b
  CROSS JOIN nd
  WHERE 1000 * n_ab >= _n
)
SELECT brand_a, brand_b, n_ab, _lift_milli / 1000.0 AS lift
FROM scored
ORDER BY _lift_milli DESC, brand_a ASC, brand_b ASC
LIMIT {BASKET_TOP_K}
"""


# --- co-purchase part pairs -------------------------------------------

COPURCHASE_TOP = 20

# (pa, pb, n) basket-pair counts, built once per (session, sf_dir).
# FOUR entries (copurchase_pairs, copurchase_degree_distribution,
# degree_assortativity, label_propagation_2iter) start from the
# identical distinct-basket self-join over lineitem; each used to
# rebuild it per call (~1.4 s at sf0.1). The dedup.doc_shingle_hashes
# contract: an intermediate frame (pre-threshold, pre-top-k, pre-
# degree — not any registered result), recomputed from parquet in
# every fresh process. At cluster scale the equivalent is the
# materialized co-purchase edge table every graph consumer reads.
@per_session
def order_part_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa, pb, n) with pa < pb: for every part pair, the number of
    order baskets containing both (baskets deduplicated to distinct
    part sets first); persisted once per (session, sf_dir)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count("*").alias("n"))
        .transform(stage)
    )


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs co-occurring in order baskets — the co-view/
    co-purchase edge list under recommenders.

    Basket = the order's DISTINCT part set (distinct first, so a
    part ordered twice in one basket can't inflate its own pairs).
    The pair generation is a self-join on the orderkey — co-partitioned
    on the basket key, so it is a local zipper after one shuffle, and
    fan-out is bounded by basket size squared (baskets here max out at
    13 lines; a production basket cap would filter the rare pathological
    basket first, same policy as the dedup df cap). Deterministic
    top-k via (count desc, part ids) total order. Rides the shared
    persisted order_part_pair_counts stage (r13)."""
    pairs = order_part_pair_counts(spark, sf_dir).select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        F.col("n").alias("n_baskets"),
    )
    return pairs.orderBy(
        F.desc("n_baskets"), F.asc("part_a"), F.asc("part_b")
    ).limit(COPURCHASE_TOP)


COPURCHASE_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS n_baskets
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT part_a, part_b, n_baskets
FROM pairs
ORDER BY n_baskets DESC, part_a ASC, part_b ASC
LIMIT {COPURCHASE_TOP}
"""


def scd2_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build from the event stream: collapse each
    user's event sequence to state *versions* (runs of the same
    event_type), each with a validity interval [ts, next-change ts),
    then profile the versions per state — the changelog-to-dimension
    transform a warehouse runs on every CDC feed.

    One exchange on ``user_id`` serves both window passes (lag to
    detect the change boundary, lead over the change rows to close
    the interval); nothing after the filter sees event cardinality
    beyond the change rows themselves. Dwell time is floor-divided
    integer microseconds -> seconds identically in both engines; open
    versions (no successor) are counted, not summed."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("event_type").alias("state")
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    changes = ev.withColumn("_prev", F.lag("state").over(w)).filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("state"))
    )
    w2 = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    versions = changes.select(
        "state",
        F.unix_micros("ts").alias("_from_us"),
        F.unix_micros(F.lead("ts").over(w2)).alias("_to_us"),
    )
    return versions.groupBy("state").agg(
        F.count("*").alias("n_versions"),
        F.sum(
            F.when(F.col("_to_us").isNull(), 1).otherwise(0)
        ).alias("n_open"),
        F.sum(
            F.when(
                F.col("_to_us").isNotNull(),
                F.expr("(_to_us - _from_us) div 1000000"),
            ).otherwise(0)
        ).alias("dwell_seconds"),
    )


SCD2_EVENT_STATE_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type AS state,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS prev
  FROM events
),
changes AS (
  SELECT user_id, ts, event_id, state
  FROM ordered WHERE prev IS NULL OR prev <> state
),
versions AS (
  SELECT state, epoch_us(ts) AS from_us,
         epoch_us(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC)) AS to_us
  FROM changes
)
SELECT state, count(*) AS n_versions,
       CAST(sum(CASE WHEN to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_open,
       CAST(sum(CASE WHEN to_us IS NOT NULL
                     THEN (to_us - from_us) // 1000000 ELSE 0 END) AS BIGINT)
         AS dwell_seconds
FROM versions GROUP BY state
"""


K_ANON_THRESHOLD = 10


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit of the customer table under the quasi-identifier
    (nation, market segment): group sizes ARE the k-anonymity levels,
    and any group smaller than k=10 is a re-identification risk the
    release pipeline must generalize or suppress.

    One groupBy on the quasi-identifier (the only exchange, and
    map-side combine applies), then a 1-row rollup of the group-size
    frame — |nations| x |segments| rows at any corpus size. The
    risk-row percentage uses the pure-int64 half-up ppm idiom."""
    qi = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    groups = qi.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("k")
    )
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.min("k").alias("min_k"),
        F.sum(
            F.when(F.col("k") < K_ANON_THRESHOLD, 1).otherwise(0)
        ).alias("n_groups_below_k"),
        F.sum(
            F.when(F.col("k") < K_ANON_THRESHOLD, F.col("k")).otherwise(0)
        ).alias("n_rows_at_risk"),
        F.sum("k").alias("n_rows"),
    ).select(
        "n_groups",
        "min_k",
        "n_groups_below_k",
        "n_rows_at_risk",
        (
            F.expr(
                "(2 * 1000000 * n_rows_at_risk + n_rows)"
                " div (2 * n_rows)"
            )
            / 1e6
        ).alias("risk_row_share"),
    )


K_ANONYMITY_SQL = f"""
WITH groups AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS k
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
roll AS (
  SELECT count(*) AS n_groups, min(k) AS min_k,
         sum(CASE WHEN k < {K_ANON_THRESHOLD} THEN 1 ELSE 0 END)
           AS n_groups_below_k,
         sum(CASE WHEN k < {K_ANON_THRESHOLD} THEN k ELSE 0 END)
           AS n_rows_at_risk,
         sum(k) AS n_rows
  FROM groups
)
SELECT n_groups, CAST(min_k AS BIGINT) AS min_k,
       CAST(n_groups_below_k AS BIGINT) AS n_groups_below_k,
       CAST(n_rows_at_risk AS BIGINT) AS n_rows_at_risk,
       ((2 * 1000000 * n_rows_at_risk + n_rows) // (2 * n_rows)) / 1e6
         AS risk_row_share
FROM roll
"""


def table_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract audit (the Great-Expectations shape):
    one row per named check with the checked-row and violation
    counts, unioned across tables — the gate a pipeline runs on every
    delivery before anything downstream trusts it.

    Each check is a 1-row aggregate over only its own pruned columns
    (six scans of one or two columns each — cheaper than one
    wide scan at lake scale because each parquet read materializes
    just that check's columns); uniqueness checks are
    count - count(DISTINCT) so they need no self-join. The union is
    a 6-row frame."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    def check(name: str, df: DataFrame, violation) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").alias("n_rows"),
            F.sum(F.when(violation, 1).otherwise(0)).alias("n_violations"),
        )

    def unique_check(name: str, df: DataFrame, col: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count_distinct(F.col(col))).alias(
                "n_violations"
            ),
        )

    return (
        check(
            "orders_totalprice_positive",
            orders.select("o_totalprice"),
            F.col("o_totalprice") <= 0,
        )
        .union(
            check(
                "lineitem_discount_in_range",
                li.select("l_discount"),
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
            )
        )
        .union(
            check(
                "lineitem_quantity_positive",
                li.select("l_quantity"),
                F.col("l_quantity") <= 0,
            )
        )
        .union(unique_check("customer_custkey_unique", cust, "c_custkey"))
        .union(unique_check("events_event_id_unique", ev, "event_id"))
        .union(
            check(
                "documents_nchars_consistent",
                docs.select("n_chars", "text"),
                F.coalesce(F.col("n_chars"), F.lit(-1))
                != F.coalesce(F.length("text"), F.lit(-1)),
            )
        )
    )


TABLE_EXPECTATIONS_SQL = """
SELECT 'orders_totalprice_positive' AS check_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations
FROM orders
UNION ALL
SELECT 'lineitem_discount_in_range', count(*),
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_quantity_positive', count(*),
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'customer_custkey_unique', count(*),
       count(*) - count(DISTINCT c_custkey)
FROM customer
UNION ALL
SELECT 'events_event_id_unique', count(*),
       count(*) - count(DISTINCT event_id)
FROM events
UNION ALL
SELECT 'documents_nchars_consistent', count(*),
       CAST(sum(CASE WHEN coalesce(n_chars, -1)
                       <> coalesce(length(text), -1)
                THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
"""


N_COGROUP_BUCKETS = 16


def cogroup_bucket_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Header/detail reconciliation through ``cogroup(...).
    applyInPandas`` — the two-sided Arrow grouped-map API (the last
    UDF shape beside scalar pandas_udf, one-sided grouped map,
    mapInPandas, and applyInPandasWithState, all pinned elsewhere).

    The cogroup key is a 16-way orderkey bucket, so each task gets
    both tables' full bucket as two pandas frames and reconciles them
    vectorized (an order-grain merge inside the bucket); output is
    one row per bucket. This is the pattern for paired-table logic
    that SQL can't express (custom matching, per-entity model fits) —
    for THIS query the native plan exists
    (order_lineitem_reconciliation) and is what production should
    use; the entry certifies the API against that same SQL semantics.
    Money enters the Python boundary already quantized to int64
    cents (Spark-side round), so pandas sums are exact int64.

    Buckets with detail rows but no header rows are skipped on both
    sides (the oracle drives from the header table) — the FK-orphan
    direction is order_lineitem_reconciliation's job."""
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % N_COGROUP_BUCKETS).alias("bucket"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("hc"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % N_COGROUP_BUCKETS).alias("bucket"),
        "l_orderkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
        )
        .cast("long")
        .alias("dc"),
    )

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(
                columns=[
                    "bucket",
                    "n_orders",
                    "n_orders_with_lines",
                    "header_total",
                    "detail_total",
                ]
            )
        with_lines = left["o_orderkey"].isin(set(right["l_orderkey"]))
        return pd.DataFrame(
            {
                "bucket": [int(key[0])],
                "n_orders": [len(left)],
                "n_orders_with_lines": [int(with_lines.sum())],
                "header_total": [int(left["hc"].sum()) / 100.0],
                "detail_total": [int(right["dc"].sum()) / 100.0],
            }
        )

    return (
        orders.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(
            merge,
            "bucket BIGINT, n_orders BIGINT, n_orders_with_lines BIGINT,"
            " header_total DOUBLE, detail_total DOUBLE",
        )
    )


COGROUP_RECONCILIATION_SQL = f"""
WITH h AS (
  SELECT o_orderkey % {N_COGROUP_BUCKETS} AS bucket, o_orderkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS hc
  FROM orders
),
d AS (
  SELECT l_orderkey % {N_COGROUP_BUCKETS} AS bucket, l_orderkey,
         CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
           AS dc
  FROM lineitem
),
ho AS (
  SELECT bucket, count(*) AS n_orders, sum(hc) AS ht
  FROM h GROUP BY bucket
),
wl AS (
  SELECT h.bucket, count(*) AS nw
  FROM h WHERE h.o_orderkey IN (SELECT DISTINCT l_orderkey FROM d)
  GROUP BY h.bucket
),
dt AS (SELECT bucket, sum(dc) AS s FROM d GROUP BY bucket)
SELECT ho.bucket, n_orders,
       CAST(coalesce(wl.nw, 0) AS BIGINT) AS n_orders_with_lines,
       ht / 100.0 AS header_total,
       coalesce(dt.s, 0) / 100.0 AS detail_total
FROM ho
LEFT JOIN wl ON wl.bucket = ho.bucket
LEFT JOIN dt ON dt.bucket = ho.bucket
"""


# --- snapshot CDC diff ---------------------------------------------------

CDC_OLD_CUTOFF = "1996-01-01"
CDC_NEW_CUTOFF = "1997-01-01"
CDC_UPDATE_MOD = 13   # keys simulated as price-updated in the new snapshot
CDC_DELETE_MOD = 29   # keys simulated as churned out of the new snapshot


def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: classify every
    key as insert / delete / update / unchanged and report per-class
    row counts and int64-cents price volume. This is the diff a lake
    ingestion job computes to emit a CDC log (or to validate one)
    when the upstream only ships full snapshots.

    The two snapshots are derived deterministically from orders: the
    old snapshot is everything before {CDC_OLD_CUTOFF}; the new one is
    everything before {CDC_NEW_CUTOFF} minus churned keys (orderkey %
    {CDC_DELETE_MOD} = 0) with simulated price updates (orderkey %
    {CDC_UPDATE_MOD} = 0 doubled). Scale posture: one full outer join
    on the snapshot key — shuffle is (key, cents) pairs only, and at
    100 TB the join prunes to changed partitions when snapshots are
    date-partitioned; the classification itself is a map over the
    joined row."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    old = orders.filter(
        F.col("o_orderdate") < F.lit(CDC_OLD_CUTOFF).cast("timestamp")
    ).select(F.col("o_orderkey").alias("k"), cents.alias("old_cents"))
    new = (
        orders.filter(
            F.col("o_orderdate") < F.lit(CDC_NEW_CUTOFF).cast("timestamp")
        )
        .filter(F.col("o_orderkey") % CDC_DELETE_MOD != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(
                F.col("o_orderkey") % CDC_UPDATE_MOD == 0, cents * 2
            ).otherwise(cents).alias("new_cents"),
        )
    )
    diff = old.join(new, "k", "full_outer").select(
        F.when(F.col("old_cents").isNull(), F.lit("insert"))
        .when(F.col("new_cents").isNull(), F.lit("delete"))
        .when(
            F.col("old_cents") != F.col("new_cents"), F.lit("update")
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
        F.coalesce("new_cents", F.lit(0)).alias("new_cents"),
        F.coalesce("old_cents", F.lit(0)).alias("old_cents"),
    )
    return diff.groupBy("change_type").agg(
        F.count("*").alias("n_rows"),
        (F.sum(F.col("new_cents") - F.col("old_cents")) / 100.0).alias(
            "price_delta"
        ),
    )


SNAPSHOT_CDC_SQL = f"""
WITH old AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS old_cents
  FROM orders WHERE o_orderdate < TIMESTAMP '{CDC_OLD_CUTOFF}'
),
new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % {CDC_UPDATE_MOD} = 0
              THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2
              ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END
           AS new_cents
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{CDC_NEW_CUTOFF}'
    AND o_orderkey % {CDC_DELETE_MOD} <> 0
),
diff AS (
  SELECT CASE WHEN old.old_cents IS NULL THEN 'insert'
              WHEN new.new_cents IS NULL THEN 'delete'
              WHEN old.old_cents <> new.new_cents THEN 'update'
              ELSE 'unchanged' END AS change_type,
         COALESCE(new.new_cents, 0) AS new_cents,
         COALESCE(old.old_cents, 0) AS old_cents
  FROM old FULL OUTER JOIN new ON old.k = new.k
)
SELECT change_type, count(*) AS n_rows,
       sum(new_cents - old_cents) / 100.0 AS price_delta
FROM diff GROUP BY change_type
"""


# ----------------------------------------------------------------------
# Round-7 queue (implemented + tested ahead of registration — the
# round-6 freeze left zero slots; see SURVEY.md "Round-7 queue").
# ----------------------------------------------------------------------

IVM_CUTOFF = "1997-01-01"  # rows at/after this date are "the delta"

@per_session
def _ivm_base_view(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the pre-cutoff monthly aggregate ONCE per
    (application, sf_dir) — the stored view an incremental refresh
    maintains. Subsequent refreshes read THIS parquet, never the
    base fact rows."""
    import os
    import tempfile

    path = os.path.join(tempfile.mkdtemp(prefix="ivm_view_"), "monthly")
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(IVM_CUTOFF).cast("timestamp"))
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("revenue_cents"),
        )
    )
    base.write.mode("overwrite").parquet(path)
    return path


def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: refresh a stored monthly-revenue
    materialized view with a delta batch WITHOUT rescanning the base
    fact rows, and prove the refreshed view equals a full recompute
    (the oracle recomputes from scratch; the driver hash pins
    equality).

    count/sum aggregates are self-maintainable: view ⊎ delta-agg is
    a keyed merge — a full outer join on the group key with coalesced
    addition. The plan reads (a) the ~|months|-row stored view and
    (b) only the delta partition of orders; at 100 TB with a
    date-partitioned lake the delta scan prunes to the new
    partitions, so refresh cost is O(delta) + O(|view|) per cycle
    instead of O(base). Deletions would carry signed deltas through
    the same merge (count-sum views are invertible); MIN/MAX would
    not — that distinction is the IVM contract this entry documents.
    """
    view = spark.read.parquet(_ivm_base_view(spark, sf_dir))
    delta_agg = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(IVM_CUTOFF).cast("timestamp"))
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.count("*").alias("_dn"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("_dc"),
        )
    )
    merged = view.join(delta_agg, "month", "full_outer").select(
        "month",
        (
            F.coalesce("n_orders", F.lit(0)) + F.coalesce("_dn", F.lit(0))
        ).alias("n_orders"),
        (
            (
                F.coalesce("revenue_cents", F.lit(0))
                + F.coalesce("_dc", F.lit(0))
            )
            / 100.0
        ).alias("revenue"),
    )
    return merged


IVM_INCREMENTAL_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       count(*) AS n_orders,
       sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0
         AS revenue
FROM orders GROUP BY 1
"""


# --- l-diversity audit (round-13 queue) --------------------------------

L_DIV_THRESHOLD = 5


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of the event log under the quasi-identifier
    (event_type, hour-of-day), sensitive attribute user_id — the
    privacy gate k-anonymity misses: a QI group can be large (k-safe)
    yet belong to ONE user, so releasing it still exposes that user's
    whole activity slice. Distinct-l-diversity: every group must
    contain >= l distinct sensitive values.

    One groupBy on the QI with count(DISTINCT user_id) — exact, both
    engines — then a 1-row-per-nothing rollup of the group frame
    (<= |event types| x 24 rows at any corpus size). The risk-row
    share uses the pure-int64 half-up ppm idiom (k_anonymity_audit's
    contract). At 100 TB the distinct-count is the only heavy
    aggregate and it partial-aggregates per (QI, user) before the
    exchange.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour_of_day"), "user_id"
    )
    groups = ev.groupBy("event_type", "hour_of_day").agg(
        F.countDistinct("user_id").alias("l"),
        F.count("*").alias("k"),
    )
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.min("l").alias("min_l"),
        F.sum(
            F.when(F.col("l") < L_DIV_THRESHOLD, 1).otherwise(0)
        ).alias("n_groups_below_l"),
        F.sum(
            F.when(F.col("l") < L_DIV_THRESHOLD, F.col("k")).otherwise(0)
        ).alias("n_rows_at_risk"),
        F.sum("k").alias("n_rows"),
    ).select(
        "n_groups",
        "min_l",
        "n_groups_below_l",
        "n_rows_at_risk",
        (
            F.expr(
                "(2 * 1000000 * n_rows_at_risk + n_rows)"
                " div (2 * n_rows)"
            )
            / 1e6
        ).alias("risk_row_share"),
    )


L_DIVERSITY_SQL = f"""
WITH groups AS (
  SELECT event_type, hour(ts) AS hour_of_day,
         count(DISTINCT user_id) AS l, count(*) AS k
  FROM events GROUP BY event_type, hour(ts)
),
roll AS (
  SELECT count(*) AS n_groups, min(l) AS min_l,
         sum(CASE WHEN l < {L_DIV_THRESHOLD} THEN 1 ELSE 0 END)
           AS n_groups_below_l,
         sum(CASE WHEN l < {L_DIV_THRESHOLD} THEN k ELSE 0 END)
           AS n_rows_at_risk,
         sum(k) AS n_rows
  FROM groups
)
SELECT n_groups, CAST(min_l AS BIGINT) AS min_l,
       CAST(n_groups_below_l AS BIGINT) AS n_groups_below_l,
       CAST(n_rows_at_risk AS BIGINT) AS n_rows_at_risk,
       ((2 * 1000000 * n_rows_at_risk + n_rows) // (2 * n_rows)) / 1e6
         AS risk_row_share
FROM roll
"""


# --- Markov next-event baseline accuracy (round-17 queue) ----------------


def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the first-order Markov next-event predictor — the
    sequence-model evaluation class: event_transition_matrix MEASURES
    the transition structure; this measures what the baseline built
    on it actually achieves on held-out data (the bar a sequence
    model must beat, the seasonal_naive_backtest of the behavioral
    world). Transitions are TRAINED on pre-KS_SPLIT pairs, the
    predictor is argmax over to_type per from_type (ties broken
    lexicographically — deterministic on both engines), and accuracy
    is scored on post-split pairs, reported per from_type plus the
    majority-class baseline it must beat to prove the transition
    structure carries signal.

    Integer-exact end to end: training counts, an argmax via the
    (count DESC, to_type ASC) total order, exact hit counts, and
    ppm floor divisions. Pairs that cross the split boundary belong
    to the epoch of their FROM event (the lead() pairing is computed
    once over the full sequence, then split — so the train/test
    boundary can't double-count a pair).

    Scale posture (100 TB): one lead() window per user sequence (the
    event_transition_matrix shape — partition-bounded by user, never
    global), two |types|^2 aggregates, and the broadcast-sized argmax
    map joined back onto the |types|^2 test counts.
    """
    from .analytics import KS_SPLIT as _SPLIT

    mid = F.lit(_SPLIT).cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(seq))
        .filter(F.col("to_type").isNotNull())
        .select(
            F.col("event_type").alias("from_type"),
            "to_type",
            (F.col("ts") >= mid).cast("long").alias("_test"),
        )
    )
    train = (
        pairs.filter(F.col("_test") == 0)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    arg_w = Window.partitionBy("from_type").orderBy(
        F.desc("_n"), F.asc("to_type")
    )
    pred = (
        train.withColumn("_r", F.row_number().over(arg_w))
        .filter(F.col("_r") == 1)
        .select("from_type", F.col("to_type").alias("_pred"))
    )
    # majority baseline: the single most common to_type overall
    maj = (
        pairs.filter(F.col("_test") == 0)
        .groupBy("to_type")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), F.asc("to_type"))
        .limit(1)
        .select(F.col("to_type").alias("_maj"))
    )
    test = pairs.filter(F.col("_test") == 1)
    scored = test.join(F.broadcast(pred), "from_type", "left").crossJoin(
        F.broadcast(maj)
    )
    # A from_type seen only post-split has no trained prediction
    # (_pred is NULL after the left join); the hit predicate must
    # count such rows as 0, not propagate NULL through the SUM —
    # the oracle's CASE WHEN ... ELSE 0 already does.
    hit = F.when(F.col("to_type") == F.col("_pred"), 1).otherwise(0)
    return scored.groupBy("from_type").agg(
        F.count(F.lit(1)).alias("n_test_pairs"),
        F.max("_pred").alias("predicted_type"),
        F.sum(hit).cast("long").alias("n_correct"),
        F.expr(
            "sum(CASE WHEN to_type = _pred THEN 1 ELSE 0 END)"
            " * 1000000 div count(1)"
        ).alias("accuracy_ppm"),
        F.expr(
            "sum(CASE WHEN to_type = _maj THEN 1 ELSE 0 END)"
            " * 1000000 div count(1)"
        ).alias("majority_baseline_ppm"),
    )


def _markov_sql() -> str:
    from .analytics import KS_SPLIT as _SPLIT

    return f"""
WITH seqd AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
         CASE WHEN ts >= TIMESTAMP '{_SPLIT}' THEN 1 ELSE 0 END AS _test
  FROM events
),
pairs AS (SELECT * FROM seqd WHERE to_type IS NOT NULL),
train AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS _n
  FROM pairs WHERE _test = 0 GROUP BY from_type, to_type
),
pred AS (
  SELECT from_type, to_type AS _pred FROM (
    SELECT from_type, to_type,
           row_number() OVER (PARTITION BY from_type
                              ORDER BY _n DESC, to_type ASC) AS _r
    FROM train
  ) WHERE _r = 1
),
maj AS (
  SELECT to_type AS _maj FROM pairs WHERE _test = 0
  GROUP BY to_type ORDER BY count(*) DESC, to_type ASC LIMIT 1
)
SELECT t.from_type,
       CAST(count(*) AS BIGINT) AS n_test_pairs,
       max(p._pred) AS predicted_type,
       CAST(sum(CASE WHEN t.to_type = p._pred THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN t.to_type = p._pred THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS accuracy_ppm,
       CAST(sum(CASE WHEN t.to_type = m._maj THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS majority_baseline_ppm
FROM pairs t
LEFT JOIN pred p ON t.from_type = p.from_type
CROSS JOIN maj m
WHERE t._test = 1
GROUP BY t.from_type
"""


MARKOV_ACCURACY_SQL = _markov_sql()


# --- sequence entropy rate (round-14 queue, built round 10) -----------------


def event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | current) of the first-order event
    chain, per from_type, plus the unconditional next-event entropy —
    the information-theoretic ceiling on what ANY next-event
    predictor can achieve (markov_next_event_accuracy measures one
    predictor; this measures the problem: accuracy can't beat the
    chain's determinism). Reported in milli-nats: H_row =
    -sum_j p_j ln p_j over the row's transition distribution, and
    predictability = 1 - H_row/ln(|types|) as ppm (1e6 = a
    deterministic row, 0 = uniform).

    Engine parity: transition counts are exact int64 off ONE lead()
    window per user sequence (the event_transition_matrix shape);
    each -p ln p term is computed in correctly-rounded float64 from
    exact integer ratios and quantized to milli-nats BEFORE the row
    sum (the bigram_pmi idiom), so the exported integers match.
    The normalizer ln(|types|) uses the OBSERVED to_type cardinality
    (a broadcast 1-row aggregate), identically on both engines;
    rows with a single observed destination pin H = 0 exactly.

    Scale posture (100 TB): one partition-bounded lead() per user,
    one (from, to) groupBy collapsing map-side to <= |types|^2
    cells; everything after runs on the cell frame.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(seq))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    cells = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = cells.groupBy("from_type").agg(
        F.sum("n").alias("row_n"), F.count(F.lit(1)).alias("n_dests")
    )
    n_types = cells.select("to_type").distinct().agg(
        F.count(F.lit(1)).alias("n_types")
    )
    term = F.round(
        -(F.col("n") / F.col("row_n").cast("double"))
        * F.log(F.col("n") / F.col("row_n").cast("double"))
        * 1000,
        0,
    ).cast("long")
    rows = (
        cells.join(row_tot, "from_type")
        .withColumn("_t", term)
        .groupBy("from_type")
        .agg(
            F.max("row_n").alias("n_transitions"),
            F.max("n_dests").alias("n_destinations"),
            F.sum("_t").alias("h_millinat"),
        )
    )
    return rows.crossJoin(F.broadcast(n_types)).select(
        "from_type",
        "n_transitions",
        "n_destinations",
        "h_millinat",
        F.when(F.col("n_types") < 2, F.lit(None).cast("long"))
        .otherwise(
            F.lit(1_000_000)
            - F.round(
                F.col("h_millinat")
                / (F.log(F.col("n_types").cast("double")) * 1000)
                * 1_000_000,
                0,
            ).cast("long")
        )
        .alias("predictability_ppm"),
    )


EVENT_ENTROPY_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
cells AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
row_tot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n,
         CAST(count(*) AS BIGINT) AS n_dests
  FROM cells GROUP BY from_type
),
nt AS (SELECT CAST(count(DISTINCT to_type) AS BIGINT) AS n_types FROM cells),
terms AS (
  SELECT c.from_type, r.row_n, r.n_dests,
         CAST(round(
           -(c.n / CAST(r.row_n AS DOUBLE))
           * ln(c.n / CAST(r.row_n AS DOUBLE)) * 1000, 0) AS BIGINT) AS _t
  FROM cells c JOIN row_tot r USING (from_type)
),
rows_h AS (
  SELECT from_type,
         max(row_n) AS n_transitions,
         max(n_dests) AS n_destinations,
         CAST(sum(_t) AS BIGINT) AS h_millinat
  FROM terms GROUP BY from_type
)
SELECT from_type, n_transitions, n_destinations, h_millinat,
       CASE WHEN nt.n_types < 2 THEN NULL
            ELSE 1000000 - CAST(round(
              h_millinat / (ln(CAST(nt.n_types AS DOUBLE)) * 1000)
              * 1000000, 0) AS BIGINT)
       END AS predictability_ppm
FROM rows_h, nt
"""


# --- t-closeness audit (r12 queue, batch 2) -------------------------------

# Conventional t-closeness release threshold (EMD <= 0.2).
T_CLOSENESS_PPM = 200_000


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit under the QI (event_type, hour-of-day) with
    the numeric sensitive attribute `value` — the third rung of the
    privacy ladder k_anonymity_audit and l_diversity_audit climb: a
    QI class can be k-large and l-diverse yet still leak (its value
    DISTRIBUTION can differ wildly from the table's — "this hour's
    purchases are all huge"). t-closeness bounds the Earth Mover's
    Distance between each class's value distribution and the global
    one.

    For ordered numeric attributes the EMD has the closed cumulative
    form D(P,Q) = sum_i |cumP_i - cumQ_i| / (m-1) over the m global
    distinct values — and with cumP_i/n and cumQ_i/N cross-multiplied
    onto the common denominator n*N, every |term| is the exact
    128-bit |cumP_i*N - cumQ_i*n| (DECIMAL(38,0)/HUGEINT: n*N alone
    passes int64 once a 1e7-row class meets a 1e12-row table, i.e.
    exactly the scale this is for; the 38-digit bound m*n*N <= 1e38
    holds to ~1e30 row-pairs); one DECIMAL division at the end yields
    emd_ppm. Rolled up per event type: classes, worst EMD,
    violations of the conventional t = 0.2, rows in violating
    classes.

    Scale posture (100 TB): the sensitive attribute is discretized
    to WHOLE UNITS (the conventional numeric-t-closeness move — the
    distance is over a binned domain by definition), so the global
    value spine is DOMAIN-bounded (~1e3 distinct units here, <= the
    value range at any corpus size) and the per-class cumulative
    grid is |classes| x |domain| — a broadcast of the tiny class
    frame against the spine, one window per class over domain
    values, never a per-row rank. The class and global histograms
    partial-aggregate map-side. (First cut used cents and the grid
    cost 5-9 s at sf0.1 for zero audit value — measured, fixed.)
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hour_of_day"),
        F.round(F.col("value"), 0).cast("long").alias("units"),
    )
    # NULL value is not a measurement (NULL-vintage policy)
    ev = ev.filter(F.col("units").isNotNull())
    cls_cells = ev.groupBy("event_type", "hour_of_day", "units").agg(
        F.count(F.lit(1)).alias("n_v")
    )
    classes = ev.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n")
    )
    gl = ev.groupBy("units").agg(F.count(F.lit(1)).alias("g_v"))
    w_q = Window.orderBy("units").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spine = gl.select(
        "units", F.sum("g_v").over(w_q).alias("cum_q")
    ).crossJoin(
        F.broadcast(
            gl.agg(
                F.sum("g_v").alias("n_total"),
                F.count(F.lit(1)).alias("m_vals"),
            )
        )
    )
    grid = spine.join(F.broadcast(classes), how="cross")
    w_p = Window.partitionBy("event_type", "hour_of_day").orderBy(
        "units"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (
        grid.join(
            cls_cells, ["event_type", "hour_of_day", "units"], "left"
        )
        .withColumn(
            "cum_p",
            F.sum(F.coalesce("n_v", F.lit(0))).over(w_p),
        )
        .withColumn(
            "_term",
            F.abs(
                F.expr(
                    "CAST(cum_p AS DECIMAL(38,0)) * n_total"
                    " - CAST(cum_q AS DECIMAL(38,0)) * n"
                )
            ),
        )
    )
    per_class = cum.groupBy("event_type", "hour_of_day").agg(
        F.max("n").alias("n"),
        F.max("n_total").alias("n_total"),
        F.max("m_vals").alias("m_vals"),
        F.sum("_term").alias("_emd_sum"),
    )
    scored = per_class.select(
        "event_type",
        "n",
        F.expr(
            "CAST((1000000 * CAST(_emd_sum AS DECIMAL(38,0)))"
            " div (CAST(n AS DECIMAL(38,0)) * n_total"
            "      * greatest(m_vals - 1, 1)) AS BIGINT)"
        ).alias("emd_ppm"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.max("emd_ppm").alias("worst_emd_ppm"),
        F.sum(
            F.when(F.col("emd_ppm") > T_CLOSENESS_PPM, 1).otherwise(0)
        ).alias("n_violations"),
        F.sum(
            F.when(F.col("emd_ppm") > T_CLOSENESS_PPM, F.col("n")).otherwise(
                0
            )
        ).alias("n_rows_at_risk"),
    )


T_CLOSENESS_SQL = f"""
WITH ev AS (
  SELECT event_type, hour(ts) AS hour_of_day,
         CAST(round(value, 0) AS BIGINT) AS units
  FROM events
  WHERE value IS NOT NULL
),
cls_cells AS (
  SELECT event_type, hour_of_day, units,
         CAST(count(*) AS BIGINT) AS n_v
  FROM ev GROUP BY event_type, hour_of_day, units
),
classes AS (
  SELECT event_type, hour_of_day, CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY event_type, hour_of_day
),
gl AS (
  SELECT units, CAST(count(*) AS BIGINT) AS g_v FROM ev GROUP BY units
),
gtot AS (
  SELECT CAST(sum(g_v) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS m_vals
  FROM gl
),
spine AS (
  SELECT units,
         CAST(sum(g_v) OVER (ORDER BY units
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_q
  FROM gl
),
grid AS (
  SELECT s.units, s.cum_q, c.event_type, c.hour_of_day, c.n,
         g.n_total, g.m_vals
  FROM spine s CROSS JOIN classes c CROSS JOIN gtot g
),
cum AS (
  SELECT g.event_type, g.hour_of_day, g.n, g.n_total, g.m_vals,
         abs(CAST(sum(coalesce(cc.n_v, 0)) OVER (
               PARTITION BY g.event_type, g.hour_of_day ORDER BY g.units
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS HUGEINT) * g.n_total
             - CAST(g.cum_q AS HUGEINT) * g.n) AS _term
  FROM grid g
  LEFT JOIN cls_cells cc
    ON cc.event_type = g.event_type
   AND cc.hour_of_day = g.hour_of_day
   AND cc.units = g.units
),
per_class AS (
  SELECT event_type, hour_of_day,
         max(n) AS n, max(n_total) AS n_total, max(m_vals) AS m_vals,
         CAST(sum(_term) AS HUGEINT) AS _emd_sum
  FROM cum GROUP BY event_type, hour_of_day
),
scored AS (
  SELECT event_type, n,
         CAST((1000000 * CAST(_emd_sum AS HUGEINT))
              // (CAST(n AS HUGEINT) * n_total
                  * greatest(m_vals - 1, 1)) AS BIGINT) AS emd_ppm
  FROM per_class
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_classes,
       max(emd_ppm) AS worst_emd_ppm,
       CAST(sum(CASE WHEN emd_ppm > {T_CLOSENESS_PPM} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violations,
       CAST(sum(CASE WHEN emd_ppm > {T_CLOSENESS_PPM} THEN n ELSE 0 END)
            AS BIGINT) AS n_rows_at_risk
FROM scored GROUP BY event_type
"""


# --- Cramér's V association (r12 queue, batch 2) --------------------------


def cramers_v_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between event_type and
    hour-of-day — the effect-size companion the contingency family
    was missing: event_drift_chisq answers "is the mix different?"
    (a p-value question that ALWAYS fires at 100 TB row counts);
    V = sqrt(chi^2 / (N * (min(R,C) - 1))) answers "how strongly do
    the dimensions actually associate?" on a 0..1 scale that row
    count cannot inflate.

    Integer contract (the event_drift_chisq idiom, extended to the
    FULL R x C spine): zero cells contribute (N*0 - r*c)^2/(N*r*c)
    and must not be dropped, so the table is densified by cross-
    joining the distinct type and hour frames before the left join;
    each cell's chi term is the exact 128-bit milli-floor
    (1000*(N*obs - r*c)^2) div (N*r*c); v2_ppm = (1000*chi2_milli)
    div (N*k) is one more integer division, and v_milli =
    floor(sqrt(v2_ppm)) rides the correctly-rounded-sqrt contract on
    an identical integer input (the spearman wording).

    Scale posture (100 TB): one groupBy((type, hour)) collapses the
    stream map-side to <= |types| x 24 cells; the spine cross join,
    the marginal windows, and the rollup all run on that cell frame.
    Output is one row.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour_of_day")
    )
    cells = ev.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).alias("obs")
    )
    types = cells.select("event_type").distinct()
    hours = cells.select("hour_of_day").distinct()
    dense = types.crossJoin(hours).join(
        cells, ["event_type", "hour_of_day"], "left"
    ).select(
        "event_type",
        "hour_of_day",
        F.coalesce("obs", F.lit(0)).alias("obs"),
    )
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("hour_of_day")
    scored = dense.select(
        "obs",
        F.sum("obs").over(w_r).alias("_r"),
        F.sum("obs").over(w_c).alias("_c"),
    ).crossJoin(
        F.broadcast(
            dense.agg(
                F.sum("obs").alias("_n"),
                F.count_distinct("event_type").alias("_nr"),
                F.count_distinct("hour_of_day").alias("_nc"),
            )
        )
    )
    per_cell = scored.select(
        "_n",
        "_nr",
        "_nc",
        F.expr(
            "CAST((1000 * (CAST(_n AS DECIMAL(38,0)) * obs - CAST(_r AS"
            " DECIMAL(38,0)) * _c) * (CAST(_n AS DECIMAL(38,0)) * obs -"
            " CAST(_r AS DECIMAL(38,0)) * _c)) div (CAST(_n AS"
            " DECIMAL(38,0)) * _r * _c) AS BIGINT)"
        ).alias("_chi_milli"),
    )
    rolled = per_cell.groupBy().agg(
        F.max("_n").alias("n_rows"),
        F.max("_nr").alias("n_types"),
        F.max("_nc").alias("n_hours"),
        F.sum("_chi_milli").alias("chi2_milli"),
    )
    return rolled.select(
        "n_rows",
        "n_types",
        "n_hours",
        ((F.col("n_types") - 1) * (F.col("n_hours") - 1)).alias("df"),
        "chi2_milli",
        F.expr(
            "CAST((1000 * chi2_milli)"
            " div (n_rows * greatest(least(n_types, n_hours) - 1, 1))"
            " AS BIGINT)"
        ).alias("v2_ppm"),
        F.expr(
            "CAST(floor(sqrt(CAST((1000 * chi2_milli)"
            " div (n_rows * greatest(least(n_types, n_hours) - 1, 1))"
            " AS DOUBLE))) AS BIGINT)"
        ).alias("v_milli"),
    )


CRAMERS_V_SQL = """
WITH ev AS (
  SELECT event_type, hour(ts) AS hour_of_day FROM events
),
cells AS (
  SELECT event_type, hour_of_day, CAST(count(*) AS BIGINT) AS obs
  FROM ev GROUP BY event_type, hour_of_day
),
dense AS (
  SELECT t.event_type, h.hour_of_day, coalesce(c.obs, 0) AS obs
  FROM (SELECT DISTINCT event_type FROM cells) t
  CROSS JOIN (SELECT DISTINCT hour_of_day FROM cells) h
  LEFT JOIN cells c
    ON c.event_type = t.event_type AND c.hour_of_day = h.hour_of_day
),
scored AS (
  SELECT obs,
         CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT) AS _r,
         CAST(sum(obs) OVER (PARTITION BY hour_of_day) AS BIGINT) AS _c
  FROM dense
),
tot AS (
  SELECT CAST(sum(obs) AS BIGINT) AS _n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS _nr,
         CAST(count(DISTINCT hour_of_day) AS BIGINT) AS _nc
  FROM dense
),
per_cell AS (
  SELECT t._n, t._nr, t._nc,
         CAST((1000 * (CAST(t._n AS HUGEINT) * s.obs
                       - CAST(s._r AS HUGEINT) * s._c)
                    * (CAST(t._n AS HUGEINT) * s.obs
                       - CAST(s._r AS HUGEINT) * s._c))
              // (CAST(t._n AS HUGEINT) * s._r * s._c) AS BIGINT)
           AS _chi_milli
  FROM scored s CROSS JOIN tot t
),
rolled AS (
  SELECT max(_n) AS n_rows, max(_nr) AS n_types, max(_nc) AS n_hours,
         CAST(sum(_chi_milli) AS BIGINT) AS chi2_milli
  FROM per_cell
)
SELECT n_rows, n_types, n_hours,
       (n_types - 1) * (n_hours - 1) AS df,
       chi2_milli,
       CAST((1000 * chi2_milli)
            // (n_rows * greatest(least(n_types, n_hours) - 1, 1))
            AS BIGINT) AS v2_ppm,
       CAST(floor(sqrt(CAST((1000 * chi2_milli)
            // (n_rows * greatest(least(n_types, n_hours) - 1, 1))
            AS DOUBLE))) AS BIGINT) AS v_milli
FROM rolled
"""
