"""Storage-layout operators: bucketed co-located joins and
partition-pruned scans.

The reference's storage story is hash-partitioned scratch files
(SURVEY.md §2.2 S6/S7 — files per (rank, bucket) re-read by the
reducer that owns the bucket). Spark's durable equivalents are the
two layout features that dominate 100 TB economics, and both are
exercised here as REAL queries over really-written tables, not just
plan assertions:

- **Bucketed tables** (``bucketBy`` + ``sortBy``): both join sides
  are physically hash-distributed AND sorted by the join key at
  write time, so the sort-merge join needs NO exchange and NO sort
  at read time — the shuffle the reference pays per-query (its
  scratch-file exchange) is paid ONCE at ingest. At cluster scale
  this is the difference between re-shuffling 100 TB per join and
  streaming co-located bucket pairs.
- **Partition pruning** (``partitionBy`` at write): a predicate on
  the partition column prunes directories before any I/O happens —
  the scan never opens non-matching files. The 100 TB analogue:
  an event-type (or date) predicate reads 1/Nth of the lake.

Both operators materialize their layout once per (session, sf) into
a session-scoped temp location and cache the handle; re-invocations
(bench passes, repeated driver checks) reuse the written layout, the
same way a cluster deployment writes the bucketed/partitioned table
once and amortizes it over every downstream query. The DuckDB
oracles run the equivalent logical query on the raw parquet — the
layout must change the PLAN, never the ANSWER.

**Table-format mapping (Iceberg / Delta Lake).** The lakehouse-
lifecycle operators below are hand-built on plain parquet because no
table-format package ships in this environment; each one teaches the
same physics its table-format API automates, and on a real lakehouse
a user would reach for that API instead:

- ``merge_compaction_roundtrip`` ≙ Iceberg/Delta ``MERGE INTO`` +
  ``OPTIMIZE``/``rewrite_data_files`` (copy-on-write upsert, then
  small-file compaction);
- ``table_versions_diff`` ≙ time travel — Iceberg
  ``VERSION AS OF``/snapshot reads, Delta ``DESCRIBE HISTORY`` +
  ``@v`` reads, and CDC-style snapshot diffs;
- ``vacuum_orphan_scan`` ≙ ``VACUUM`` (Delta) /
  ``remove_orphan_files`` (Iceberg): manifest-vs-listing reachability
  with a retention horizon;
- ``zonemap_pruning_stats`` ≙ the min/max column statistics both
  formats store per file (and parquet row-group stats) that drive
  data skipping;
- ``compaction_plan`` ≙ the bin-packing small-file planner inside
  ``OPTIMIZE`` / ``rewrite_data_files``;
- ``zorder_bucket_stats`` ≙ ``OPTIMIZE ZORDER BY`` (Delta) /
  ``sort_order`` with z-order (Iceberg);
- ``merkle_block_sync`` ≙ no direct API — the incremental-sync
  physics behind snapshot-based replication.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachemgr import per_session
from ..sources.catalog import load_table
from .relational import _cents, _cents_sql

N_BUCKETS = 8


def _tag(spark: SparkSession, sf_dir: str) -> str:
    app = spark.sparkContext.applicationId
    return re.sub(r"[^a-z0-9]+", "_", f"{app}_{sf_dir}".lower()).strip("_")


def _scratch(spark: SparkSession, sf_dir: str, kind: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), "spark_graft_layout", _tag(spark, sf_dir), kind
    )


@per_session
def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders + lineitem bucketed/sorted by the join key, once
    per (session, sf). Only the joined columns are written — column
    pruning at ingest, not just at read."""
    tag = _tag(spark, sf_dir)
    bo, bl = f"b_orders_{tag}", f"b_lineitem_{tag}"
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.format("parquet")
        .bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", _scratch(spark, sf_dir, "orders"))
        .mode("overwrite")
        .saveAsTable(bo)
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.format("parquet")
        .bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", _scratch(spark, sf_dir, "lineitem"))
        .mode("overwrite")
        .saveAsTable(bl)
    )
    return bo, bl


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority over a ZERO-EXCHANGE sort-merge join
    of bucketed orders x lineitem (plan pinned in tests: the only
    exchange in the plan is the final tiny groupBy).

    The MERGE hint keeps AQE from broadcast-converting the small test
    tables — at real scale neither side fits a broadcast and SMJ over
    co-located buckets is exactly the plan you want."""
    bo, bl = _bucketed_tables(spark, sf_dir)
    orders = spark.table(bo)
    items = spark.table(bl)
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        orders.hint("merge")
        .join(items, orders["o_orderkey"] == items["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(rev).alias("_rc"),
        )
        .select(
            "o_orderpriority",
            "n_items",
            (F.col("_rc") / 100.0).alias("revenue"),
        )
    )


BUCKETED_JOIN_SQL = f"""
SELECT o.o_orderpriority, count(*) AS n_items,
       CAST(sum({_cents_sql('l.l_extendedprice * (1 - l.l_discount)')})
            AS BIGINT) / 100.0 AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


@per_session
def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write events partitioned by event_type, once per (session, sf)."""
    path = _scratch(spark, sf_dir, "events_by_type")
    (
        load_table(spark, sf_dir, "events")
        .select("ts", "value", "event_type")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(path)
    )
    return path


def partition_pruned_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase totals read from an event-type-partitioned
    layout: the event_type predicate prunes to ONE directory before
    any row is read (PartitionFilters in the scan, pinned in tests)."""
    path = _partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return (
        ev.groupBy(F.to_date(F.col("ts")).alias("day"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(_cents(F.col("value"))).alias("_vc"),
        )
        .select(
            "day", "n_purchases", (F.col("_vc") / 100.0).alias("value_sum")
        )
    )


PARTITION_PRUNED_SQL = f"""
SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchases,
       CAST(sum({_cents_sql('value')}) AS BIGINT) / 100.0 AS value_sum
FROM events WHERE event_type = 'purchase'
GROUP BY day
"""


# --- total-order ID assignment (the TeraSort pattern) ----------------

# Bucket width over the doc_id domain. At 100 TB you'd derive bucket
# boundaries from a range sample (what RangePartitioner does); the
# testdata's doc_id domain is dense integers, so fixed-width buckets
# give the same balanced result deterministically in both engines.
_ID_BUCKET_WIDTH = 1000


def global_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids 0..N-1 ordered by doc_id, WITHOUT a
    global-order window.

    ``row_number() OVER (ORDER BY doc_id)`` — the oracle's
    formulation — plans as a single-partition sort at any scale: one
    task sees every row. The distributed-classic rewrite (TeraSort's
    total-order partitioner): bucket rows by key range, rank WITHIN
    each bucket (distributed window, one exchange on the bucket key),
    and add per-bucket offsets — a cumulative sum over the tiny
    bucket-count frame, broadcast back. Only #buckets rows ever pass
    through an ordered window."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    per = docs.withColumn(
        "_b", F.floor(F.col("doc_id") / _ID_BUCKET_WIDTH)
    )
    counts = per.groupBy("_b").agg(F.count("*").alias("_n"))
    # #buckets rows: an ordered window here is deliberately fine.
    off_w = (
        Window.orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_b",
        F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off"),
    )
    rn_w = Window.partitionBy("_b").orderBy("doc_id")
    return (
        per.join(F.broadcast(offsets), "_b")
        .select(
            "doc_id",
            (F.row_number().over(rn_w).cast("long") - 1 + F.col("_off")).alias(
                "global_id"
            ),
        )
    )


GLOBAL_DOC_IDS_SQL = """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_id
FROM documents
"""


# --- z-order clustering (multi-dimensional data skipping) ------------

_Z_BITS = 10  # per-dimension resolution
_Z_BUCKETS = 16  # simulated file count


def _z_interleave_terms():
    """(spark_expr_fn, sql_expr) pairs per bit, pure integer math so
    both engines agree exactly. Bit i of dim a lands at 2i, of dim b
    at 2i+1: the Morton (z-order) curve."""
    terms = []
    for i in range(_Z_BITS):
        pa, pb = 1 << i, 1 << i
        terms.append(
            (
                lambda a, b, i=i, pa=pa, pb=pb: (
                    ((a / pa).cast("long") % 2) * (1 << (2 * i))
                    + ((b / pb).cast("long") % 2) * (1 << (2 * i + 1))
                ),
                f"(((a // {pa}) % 2) * {1 << (2 * i)}"
                f" + ((b // {pb}) % 2) * {1 << (2 * i + 1)})",
            )
        )
    return terms


def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering of part by (p_size,
    p_retailprice), summarized as the per-file min/max statistics a
    lakehouse data-skipping index would record.

    A single-column sort clusters ONE dimension: files are tight on
    the sort key and useless for predicates on the other column.
    Interleaving the bits of both (rank-normalized) dimensions orders
    rows along the space-filling curve, so every simulated file
    bucket is a small rectangle in BOTH dimensions at once — the
    output rows show both per-bucket spans tight simultaneously,
    which is exactly why a z-ordered layout prunes two-predicate
    scans that a linear layout cannot.

    Scale posture: rank normalization uses a broadcast 1-row min/max
    aggregate (no collect, no global sort); the z-value and bucket id
    are map-side integer math; the only wide operation is the final
    #buckets-row statistics aggregate. At a real 100 TB OPTIMIZE
    ZORDER the same bucket id feeds repartitionByRange + sortWithin-
    Partitions at write time; min/max per file land in the table
    format's stats (what PartitionFilters/dataFilters prune on)."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("long").alias("_a_raw"),
        F.round(F.col("p_retailprice") * 100, 0)
        .cast("long")
        .alias("_b_raw"),
    )
    bounds = part.agg(
        F.min("_a_raw").alias("_a_lo"),
        F.max("_a_raw").alias("_a_hi"),
        F.min("_b_raw").alias("_b_lo"),
        F.max("_b_raw").alias("_b_hi"),
    )
    scale = 1 << _Z_BITS
    scaled = part.crossJoin(F.broadcast(bounds)).select(
        "p_partkey",
        "_a_raw",
        "_b_raw",
        (
            ((F.col("_a_raw") - F.col("_a_lo")) * scale)
            / (F.col("_a_hi") - F.col("_a_lo") + 1)
        )
        .cast("long")
        .alias("_a"),
        (
            ((F.col("_b_raw") - F.col("_b_lo")) * scale)
            / (F.col("_b_hi") - F.col("_b_lo") + 1)
        )
        .cast("long")
        .alias("_b"),
    )
    z = None
    for fn, _ in _z_interleave_terms():
        term = fn(F.col("_a"), F.col("_b"))
        z = term if z is None else z + term
    per_bucket = (1 << (2 * _Z_BITS)) // _Z_BUCKETS
    bucketed = scaled.select(
        "_a_raw",
        "_b_raw",
        (z / per_bucket).cast("long").alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.min("_a_raw").alias("size_min"),
        F.max("_a_raw").alias("size_max"),
        (F.min("_b_raw") / 100.0).alias("price_min"),
        (F.max("_b_raw") / 100.0).alias("price_max"),
    )


def _zorder_sql() -> str:
    z_sum = " + ".join(sql for _, sql in _z_interleave_terms())
    scale = 1 << _Z_BITS
    per_bucket = (1 << (2 * _Z_BITS)) // _Z_BUCKETS
    return f"""
WITH raw AS (
  SELECT p_partkey, CAST(p_size AS BIGINT) AS _a_raw,
         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS _b_raw
  FROM part
),
bounds AS (
  SELECT min(_a_raw) AS _a_lo, max(_a_raw) AS _a_hi,
         min(_b_raw) AS _b_lo, max(_b_raw) AS _b_hi
  FROM raw
),
scaled AS (
  SELECT _a_raw, _b_raw,
         ((_a_raw - _a_lo) * {scale}) // (_a_hi - _a_lo + 1) AS a,
         ((_b_raw - _b_lo) * {scale}) // (_b_hi - _b_lo + 1) AS b
  FROM raw, bounds
)
SELECT ({z_sum}) // {per_bucket} AS bucket,
       count(*) AS n_rows,
       min(_a_raw) AS size_min, max(_a_raw) AS size_max,
       min(_b_raw) / 100.0 AS price_min, max(_b_raw) / 100.0 AS price_max
FROM scaled GROUP BY bucket
"""


ZORDER_BUCKET_STATS_SQL = _zorder_sql()


# --- small-file compaction planning -----------------------------------

COMPACT_TARGET_BYTES = 4096  # per-bin target at test scale


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan small-file compaction bins per source: files (stand-in:
    one document = one file of n_chars bytes, the realistic
    small-file population a crawl ingest produces) are packed in
    doc_id order into bins by cumulative size — bin = floor(bytes
    before this file / target). Emits per-(source, bin) file count,
    byte total, and the id range the merged file would cover.

    Cumulative-order packing (not greedy first-fit-decreasing) on
    purpose: it is a WINDOW, so it parallelizes per source partition
    and both engines compute it identically; FFD needs a sequential
    pass and yields at most ~11% fewer bins (classic bound) — the
    wrong trade at 10^9 files. The id range per bin is what the
    rewrite job needs to plan its reads; nothing here touches file
    contents. At 100 TB sources partition the window — no global
    serialization (contrast customer_balance_deciles' stated ntile
    caveat)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").cast("long").alias("bytes")
    )
    binned = docs.select(
        "source",
        "doc_id",
        "bytes",
        F.expr(
            f"coalesce(sum(bytes) over (partition by source order by doc_id"
            f" rows between unbounded preceding and 1 preceding), 0)"
            f" div {COMPACT_TARGET_BYTES}"
        ).alias("bin"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").alias("tot_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


COMPACTION_PLAN_SQL = f"""
WITH binned AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes,
         coalesce(sum(CAST(n_chars AS BIGINT)) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {COMPACT_TARGET_BYTES} AS bin
  FROM documents
)
SELECT source, CAST(bin AS BIGINT) AS bin, count(*) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS tot_bytes,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM binned GROUP BY source, bin
"""


# --- run-length layout analysis ----------------------------------------

RLE_BLOCK = 256  # rows per run-counting block (l_orderkey div 256)


def rle_compression_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate the run-length-encoding benefit of sorting lineitem by
    its natural key for each low-cardinality column — the layout
    decision (which columns reward an RLE_DICTIONARY parquet encoding
    under a given sort order) a lakehouse compaction job makes before
    rewriting 100 TB.

    Runs are counted within fixed key-range blocks (l_orderkey div
    RLE_BLOCK, ordered by (l_orderkey, l_linenumber) inside a block)
    rather than one global window: block boundaries break at most one
    run each, the block key makes the window partition-parallel
    instead of single-reducer, and the SAME block rule in the oracle
    keeps the count engine-exact. One unpivot explode (3 rows per
    lineitem), one (block, column) window, one tiny final aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").cast("string").alias("l_quantity"),
    )
    cols = ("l_returnflag", "l_linestatus", "l_quantity")
    from pyspark.sql import Window

    # r14 (guide §2.3 shuffle fewer bytes / §2.4 share one exchange):
    # the 3x unpivot-explode used to shuffle 3N (key, col_name, val)
    # rows through ONE window partitioned by (col_name, blk); the
    # three per-column windows below share ONE exchange of the N raw
    # rows (same hashpartitioning(blk)) and differ only in their
    # in-partition sort, so the shuffle carries a third of the rows
    # and no col_name tag. Per column the ordered sequence inside a
    # block — (l_orderkey, l_linenumber, val), val as final tiebreak
    # because the fixture has duplicate (l_orderkey, l_linenumber)
    # pairs — is IDENTICAL to the unpivoted window's, so every
    # _new_run flag and therefore every count is unchanged.
    base = li.withColumn("blk", F.expr(f"l_orderkey div {RLE_BLOCK}"))

    def _new_run(c: str) -> F.Column:
        w = Window.partitionBy("blk").orderBy(
            "l_orderkey", "l_linenumber", c
        )
        prev = F.lag(c).over(w)
        return F.when(prev.isNull() | (prev != F.col(c)), 1).otherwise(0)

    flagged = base.select(
        *[_new_run(c).alias(f"_r_{i}") for i, c in enumerate(cols)]
    )
    totals = flagged.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"_r_{i}").alias(f"_s_{i}") for i in range(len(cols))],
    )
    # fan the 1-row totals out to one row per column; the integer
    # half-up mean is computed per column with the exact pre-r14
    # operand order
    per_col = totals.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col("_n").alias("n_rows"),
                    F.col(f"_s_{i}").alias("n_runs"),
                )
                for i, c in enumerate(cols)
            ])
        ).alias("cv")
    ).select("cv.col_name", "cv.n_rows", "cv.n_runs")
    # empty input: the pre-r14 groupBy emitted ZERO groups (and the
    # oracle's GROUP BY col_name likewise); the 1-row totals frame
    # would fan out three all-zero rows, so drop them explicitly
    per_col = per_col.filter(F.col("n_rows") > 0)
    return per_col.select(
        "col_name",
        "n_rows",
        "n_runs",
        (
            F.expr("(2 * 1000 * n_rows + n_runs) div (2 * n_runs)")
            / 1000.0
        ).alias("avg_run_len"),
    )


RLE_ESTIMATE_SQL = f"""
WITH long AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_orderkey // {RLE_BLOCK} AS BIGINT) AS blk,
         u.col_name, u.val
  FROM lineitem,
       LATERAL (VALUES ('l_returnflag', l_returnflag),
                       ('l_linestatus', l_linestatus),
                       ('l_quantity',
                        CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)))
         AS u(col_name, val)
),
runs AS (
  SELECT col_name,
         CASE WHEN lag(val) OVER w IS NULL
                   OR lag(val) OVER w <> val THEN 1 ELSE 0 END AS _new_run
  FROM long
  WINDOW w AS (PARTITION BY col_name, blk
               ORDER BY l_orderkey, l_linenumber, val)
)
SELECT col_name,
       count(*) AS n_rows,
       CAST(sum(_new_run) AS BIGINT) AS n_runs,
       ((2 * 1000 * count(*) + sum(_new_run)) // (2 * sum(_new_run)))
         / 1000.0 AS avg_run_len
FROM runs GROUP BY col_name
"""


# --- MERGE + compaction round-trip (lakehouse upkeep) -----------------

MERGE_CUTOFF = "1997-01-01"  # rows at/after this date are the delta
MERGE_SMALL_BUCKETS = 64     # base layout: one small file per bucket
MERGE_COMPACT_BUCKETS = 8    # compacted layout: 8x fewer, larger files


def _count_parquet_files(root: str) -> int:
    import glob as _glob

    return len(
        _glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )


def _merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderdate",
    )


def _merge_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC batch applied to the base table: op in (U, D, I) with
    disjoint predicates so precedence can't matter."""
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    orders = _merge_orders(spark, sf_dir)
    pre = orders.filter(F.col("o_orderdate") < cutoff)
    upd = pre.filter(
        (F.col("k") % 7 == 0) & (F.col("k") % 13 != 0)
    ).select(
        "k", (F.col("cents") * 2).alias("new_cents"), F.lit("U").alias("op")
    )
    dele = pre.filter(F.col("k") % 13 == 0).select(
        "k",
        F.lit(None).cast("long").alias("new_cents"),
        F.lit("D").alias("op"),
    )
    ins = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "k", F.col("cents").alias("new_cents"), F.lit("I").alias("op")
    )
    return upd.unionByName(dele).unionByName(ins)


@per_session
def _merge_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, int, int]:
    """Write the small-files base table (v1) and the merged+compacted
    rewrite (v2) ONCE per (session, sf) — the bucketed-tables
    precedent: a real deployment writes the layout once and amortizes
    it; re-invocations (bench passes, the time-travel entry) read the
    same versions a table format would serve from its manifest list.
    Returns (base_dir, final_dir, n_base_files, n_final_files)."""
    base_dir = _scratch(spark, sf_dir, "merge_base")
    final_dir = _scratch(spark, sf_dir, "merge_final")
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")

    orders = _merge_orders(spark, sf_dir)
    base = orders.filter(F.col("o_orderdate") < cutoff).withColumn(
        "bucket", F.pmod(F.col("k"), F.lit(MERGE_SMALL_BUCKETS))
    )
    (
        base.select("k", "cents", "bucket")
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(base_dir)
    )
    n_base_files = _count_parquet_files(base_dir)

    # explicit schema: an empty orders table writes a base generation
    # with zero data files, where schema inference would fail
    base_rb = (
        spark.read.schema("k long, cents long, bucket int")
        .parquet(base_dir)
        .select("k", "cents")
    )
    merged = (
        base_rb.join(_merge_delta(spark, sf_dir), "k", "full_outer")
        .filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            "k",
            F.coalesce("new_cents", "cents").alias("cents"),
            F.pmod(F.col("k"), F.lit(MERGE_COMPACT_BUCKETS)).alias("cbucket"),
        )
    )
    (
        merged.repartition("cbucket")
        .write.mode("overwrite")
        .partitionBy("cbucket")
        .parquet(final_dir)
    )
    n_final_files = _count_parquet_files(final_dir)
    return base_dir, final_dir, n_base_files, n_final_files


def merge_compaction_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta/Iceberg-style table upkeep as one REAL file round-trip:
    write a small-files base table, MERGE a delta (updates + deletes
    + inserts, last-writer-wins on the key), rewrite compacted, read
    the result back and certify it.

    The base (orders before MERGE_CUTOFF) is written
    ``partitionBy(bucket)`` after ``repartition("bucket")`` — hash
    partitioning sends each of the 64 bucket values to exactly one
    task, so every bucket directory holds exactly ONE file: a
    deterministic small-files layout (the crawl-ingest pathology).
    The MERGE is the standard keyed full-outer join: delta op 'U'
    doubles the price, 'D' drops the row, 'I' appends post-cutoff
    orders. Compaction rewrites the merged table into 8 buckets the
    same way — 8x fewer, 8x larger files. Both file counts are
    MEASURED from the written directories (the manifest listing a
    lakehouse table keeps in metadata), and the returned revenue is
    aggregated from the READ-BACK compacted files, so a bug anywhere
    in write -> merge -> rewrite -> read breaks the oracle hash.

    Scale posture (100 TB): every step is a bucket-parallel shuffle
    on the key — the merge join shuffles base and delta once each on
    o_orderkey; compaction shuffles once on the target bucket; no
    step is driver-side except the O(#files) manifest listing, which
    is metadata a real table format serves from its manifest without
    listing. MERGE precedence (D over U) is encoded in disjoint
    delta predicates, so op order can't matter.

    Cites reference semantics: the reference's output files are
    per-reducer partitioned text (SURVEY.md S4); this is the columnar
    lakehouse restatement of the same own-your-layout discipline.
    """
    base_dir, final_dir, n_base_files, n_final_files = _merge_tables(
        spark, sf_dir
    )
    delta = _merge_delta(spark, sf_dir)
    final_rb = spark.read.schema("k long, cents long, cbucket int").parquet(
        final_dir
    )
    op_counts = delta.groupBy().agg(
        F.sum((F.col("op") == "U").cast("long")).alias("n_updated"),
        F.sum((F.col("op") == "D").cast("long")).alias("n_deleted"),
        F.sum((F.col("op") == "I").cast("long")).alias("n_inserted"),
    )
    return (
        final_rb.agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").alias("revenue_cents"),
        )
        .crossJoin(F.broadcast(op_counts))
        .select(
            "n_rows",
            "revenue_cents",
            F.lit(n_base_files).cast("long").alias("n_base_files"),
            F.lit(n_final_files).cast("long").alias("n_final_files"),
            "n_updated",
            "n_deleted",
            "n_inserted",
        )
    )


MERGE_COMPACTION_SQL = f"""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderdate
  FROM orders
),
base AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '{MERGE_CUTOFF}'),
ins AS (SELECT * FROM o WHERE o_orderdate >= TIMESTAMP '{MERGE_CUTOFF}'),
upd AS (SELECT k FROM base WHERE k % 7 = 0 AND k % 13 <> 0),
del AS (SELECT k FROM base WHERE k % 13 = 0),
merged AS (
  SELECT b.k,
         CASE WHEN u.k IS NOT NULL THEN 2 * b.cents ELSE b.cents END AS cents
  FROM base b
  LEFT JOIN upd u ON b.k = u.k
  LEFT JOIN del d ON b.k = d.k
  WHERE d.k IS NULL
  UNION ALL
  SELECT k, cents FROM ins
)
SELECT count(*) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       (SELECT count(DISTINCT k % {MERGE_SMALL_BUCKETS}) FROM base)
         AS n_base_files,
       (SELECT count(DISTINCT k % {MERGE_COMPACT_BUCKETS}) FROM merged)
         AS n_final_files,
       (SELECT count(*) FROM upd) AS n_updated,
       (SELECT count(*) FROM del) AS n_deleted,
       (SELECT count(*) FROM ins) AS n_inserted
FROM merged
"""


# --- Merkle-style block diff for snapshot sync -------------------------

MERKLE_BLOCK = 100         # keys per range block (the "file" unit)
MERKLE_DIRTY_MOD = 16      # blocks with blk % 16 == 0 carry changes
MERKLE_ROW_MOD = 7         # within a dirty block, keys % 7 == 0 change
_MERKLE_P = 1_000_003      # row digest: (k * P + cents) % MOD
_MERKLE_MOD = 1_000_000_007


def merkle_block_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy sync between two table snapshots via block-level
    checksums: digest each key-range block (sum of per-row digests —
    order-free int64 arithmetic, so any partitioning computes the
    same checksum), compare the block digests, and run the expensive
    key-level diff ONLY inside blocks whose checksums disagree.

    The new snapshot differs from the old in a deterministic,
    CLUSTERED way (keys % {MERKLE_ROW_MOD} == 0 within blocks where
    blk % {MERKLE_DIRTY_MOD} == 0 get their price doubled) — the
    realistic shape: churn concentrates in a few files, and checksum
    trees exist precisely to skip the clean ones. Output: one row per
    differing block with its row counts and the exact number of
    changed keys, computed after a broadcast semi-join on the ~1/16
    dirty-block list.

    Scale posture (100 TB): block digests are a map-side partial sum
    (shuffle carries |blocks| rows); the key-level join scans only
    dirty blocks — at a 1/16 dirty fraction that is 94% of the sync
    I/O saved, which is the entire point of Merkle trees in Dynamo/
    Cassandra-style replication. Deeper trees (block -> superblock)
    add levels of the same groupBy; one level suffices to pin the
    machinery. Digest collisions (two different blocks summing to
    the same value mod 1e9+7) would skip a dirty block — production
    uses 128-bit digests; the algebra is identical."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    old = orders.withColumn("blk", F.expr(f"k div {MERKLE_BLOCK}"))
    new = old.withColumn(
        "cents",
        F.when(
            (F.col("blk") % MERKLE_DIRTY_MOD == 0)
            & (F.col("k") % MERKLE_ROW_MOD == 0),
            F.col("cents") * 2,
        ).otherwise(F.col("cents")),
    )

    def _digests(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("blk").agg(
            F.count("*").alias(f"{tag}_rows"),
            (
                F.sum(
                    (F.col("k") * _MERKLE_P + F.col("cents")) % _MERKLE_MOD
                )
                % _MERKLE_MOD
            ).alias(f"{tag}_sum"),
        )

    dirty = (
        _digests(old, "old")
        .join(_digests(new, "new"), "blk")
        .filter(F.col("old_sum") != F.col("new_sum"))
        .select("blk", "old_rows", "new_rows")
    )
    # BOTH snapshot sides are pre-filtered to dirty blocks by the
    # broadcast semi-join — new carries blk too, so the key-level
    # diff really does scan only dirty blocks on each side (a
    # one-sided filter would still scan + shuffle the full new
    # snapshot for the k join).
    changed = (
        old.select("blk", "k", F.col("cents").alias("oc"))
        .join(F.broadcast(dirty.select("blk")), "blk")
        .join(
            new.select("blk", "k", F.col("cents").alias("nc"))
            .join(F.broadcast(dirty.select("blk")), "blk", "left_semi")
            .select("k", "nc"),
            "k",
        )
        .filter(F.col("oc") != F.col("nc"))
        .groupBy("blk")
        .agg(F.count("*").alias("n_changed_keys"))
    )
    return dirty.join(changed, "blk", "left").select(
        "blk",
        "old_rows",
        "new_rows",
        F.coalesce("n_changed_keys", F.lit(0)).alias("n_changed_keys"),
    )


MERKLE_BLOCK_SYNC_SQL = f"""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderkey // {MERKLE_BLOCK} AS blk
  FROM orders
),
n AS (
  SELECT k, blk,
         CASE WHEN blk % {MERKLE_DIRTY_MOD} = 0 AND k % {MERKLE_ROW_MOD} = 0
              THEN cents * 2 ELSE cents END AS cents
  FROM o
),
od AS (
  SELECT blk, count(*) AS old_rows,
         sum((k * {_MERKLE_P} + cents) % {_MERKLE_MOD}) % {_MERKLE_MOD}
           AS old_sum
  FROM o GROUP BY blk
),
nd AS (
  SELECT blk, count(*) AS new_rows,
         sum((k * {_MERKLE_P} + cents) % {_MERKLE_MOD}) % {_MERKLE_MOD}
           AS new_sum
  FROM n GROUP BY blk
),
dirty AS (
  SELECT od.blk, od.old_rows, nd.new_rows
  FROM od JOIN nd ON od.blk = nd.blk
  WHERE od.old_sum <> nd.new_sum
),
changed AS (
  SELECT o.blk, count(*) AS n_changed_keys
  FROM o JOIN n ON o.k = n.k
  WHERE o.blk IN (SELECT blk FROM dirty) AND o.cents <> n.cents
  GROUP BY o.blk
)
SELECT d.blk, d.old_rows, d.new_rows,
       COALESCE(c.n_changed_keys, 0) AS n_changed_keys
FROM dirty d LEFT JOIN changed c ON d.blk = c.blk
"""


def table_versions_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the merged table's snapshots: read version 1
    (the pre-merge base layout) and version 2 (the merged+compacted
    rewrite) FROM THEIR FILES in one query and report each version's
    rowcount/revenue plus the deltas — the `VERSION AS OF` read a
    Delta/Iceberg table serves from retained snapshots, restated over
    this module's two physical layouts. Nothing here recomputes the
    merge: both sides are scans of what `_merge_tables` wrote, so the
    entry also certifies that the retained v1 files still reproduce
    the pre-merge state bit-for-bit after v2 was written (immutable
    snapshots, the property time travel depends on).

    Scale posture (100 TB): two bucket-pruned scans + 1-row
    aggregates; version metadata (file lists) is manifest work, not
    data work. Retention GC would delete v1 files past the window —
    the read fails loudly then, exactly like an expired snapshot."""
    base_dir, final_dir, _, _ = _merge_tables(spark, sf_dir)
    v1 = spark.read.parquet(base_dir).agg(
        F.count("*").alias("v1_rows"),
        F.sum("cents").alias("v1_revenue_cents"),
    )
    v2 = spark.read.parquet(final_dir).agg(
        F.count("*").alias("v2_rows"),
        F.sum("cents").alias("v2_revenue_cents"),
    )
    return v1.crossJoin(F.broadcast(v2)).select(
        "v1_rows",
        "v1_revenue_cents",
        "v2_rows",
        "v2_revenue_cents",
        (F.col("v2_rows") - F.col("v1_rows")).alias("rows_delta"),
        (
            F.col("v2_revenue_cents") - F.col("v1_revenue_cents")
        ).alias("revenue_delta_cents"),
    )


TABLE_VERSIONS_SQL = f"""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderdate
  FROM orders
),
base AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '{MERGE_CUTOFF}'),
ins AS (SELECT * FROM o WHERE o_orderdate >= TIMESTAMP '{MERGE_CUTOFF}'),
upd AS (SELECT k FROM base WHERE k % 7 = 0 AND k % 13 <> 0),
del AS (SELECT k FROM base WHERE k % 13 = 0),
merged AS (
  SELECT b.k,
         CASE WHEN u.k IS NOT NULL THEN 2 * b.cents ELSE b.cents END AS cents
  FROM base b
  LEFT JOIN upd u ON b.k = u.k
  LEFT JOIN del d ON b.k = d.k
  WHERE d.k IS NULL
  UNION ALL
  SELECT k, cents FROM ins
),
v1 AS (
  SELECT count(*) AS v1_rows, CAST(sum(cents) AS BIGINT)
    AS v1_revenue_cents FROM base
),
v2 AS (
  SELECT count(*) AS v2_rows, CAST(sum(cents) AS BIGINT)
    AS v2_revenue_cents FROM merged
)
SELECT v1_rows, v1_revenue_cents, v2_rows, v2_revenue_cents,
       v2_rows - v1_rows AS rows_delta,
       v2_revenue_cents - v1_revenue_cents AS revenue_delta_cents
FROM v1, v2
"""


# --- zone-map (min/max) data skipping ----------------------------------

ZONEMAP_BLOCK = 100  # keys per block (the row-group stand-in)
ZONEMAP_LO = "1995-01-01"
ZONEMAP_HI = "1995-07-01"


def zonemap_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping with min/max zone maps, end to end: build
    per-block (min_date, max_date) statistics — what parquet keeps
    per row group and Delta/Iceberg keep per file — then answer a
    date-range revenue query by scanning ONLY blocks whose interval
    intersects the predicate, and report the skip accounting next to
    the (oracle-pinned) answer. A wrong zone map or a wrong interval
    test changes revenue_cents, so the driver hash certifies the
    skipping logic itself, not just the bookkeeping.

    Scale posture (100 TB): zone maps are a map-side partial agg to
    |blocks| rows; the probe is a broadcast semi-join of the
    surviving-block list into the fact scan (at real scale the
    engine does this inside the reader — parquet row-group skipping,
    Delta file skipping — and the fraction below is exactly the I/O
    saved). Orders arrive date-clustered in real lakes; synthetic
    orders are date-uniform, so the measured skip fraction here is
    the worst case, not the best."""
    lo = F.lit(ZONEMAP_LO).cast("timestamp")
    hi = F.lit(ZONEMAP_HI).cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        "o_orderdate",
    ).withColumn("blk", F.expr(f"k div {ZONEMAP_BLOCK}"))
    zones = orders.groupBy("blk").agg(
        F.min("o_orderdate").alias("mn"),
        F.max("o_orderdate").alias("mx"),
        F.count("*").alias("n_rows"),
    )
    surviving = zones.filter((F.col("mx") >= lo) & (F.col("mn") < hi))
    scanned = orders.join(
        F.broadcast(surviving.select("blk")), "blk"
    )
    answer = scanned.filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    ).agg(
        F.count("*").alias("n_matching_rows"),
        F.sum("cents").alias("revenue_cents"),
    )
    totals = zones.agg(
        F.count("*").alias("n_blocks"),
        F.sum("n_rows").alias("n_total_rows"),
    )
    surv_tot = surviving.agg(
        F.count("*").alias("n_blocks_scanned"),
        F.sum("n_rows").alias("n_rows_scanned"),
    )
    return (
        answer.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(surv_tot))
        .select(
            "n_blocks",
            "n_blocks_scanned",
            "n_total_rows",
            "n_rows_scanned",
            "n_matching_rows",
            F.coalesce("revenue_cents", F.lit(0)).alias("revenue_cents"),
        )
    )


ZONEMAP_PRUNING_SQL = f"""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderdate,
         o_orderkey // {ZONEMAP_BLOCK} AS blk
  FROM orders
),
zones AS (
  SELECT blk, min(o_orderdate) AS mn, max(o_orderdate) AS mx,
         count(*) AS n_rows
  FROM o GROUP BY blk
),
surviving AS (
  SELECT * FROM zones
  WHERE mx >= TIMESTAMP '{ZONEMAP_LO}' AND mn < TIMESTAMP '{ZONEMAP_HI}'
),
answer AS (
  SELECT count(*) AS n_matching_rows,
         COALESCE(CAST(sum(cents) AS BIGINT), 0) AS revenue_cents
  FROM o
  WHERE blk IN (SELECT blk FROM surviving)
    AND o_orderdate >= TIMESTAMP '{ZONEMAP_LO}'
    AND o_orderdate < TIMESTAMP '{ZONEMAP_HI}'
)
SELECT (SELECT count(*) FROM zones) AS n_blocks,
       (SELECT count(*) FROM surviving) AS n_blocks_scanned,
       (SELECT CAST(sum(n_rows) AS BIGINT) FROM zones) AS n_total_rows,
       (SELECT CAST(sum(n_rows) AS BIGINT) FROM surviving)
         AS n_rows_scanned,
       n_matching_rows, revenue_cents
FROM answer
"""


# --- vacuum / orphan-file GC planning (round-14 queue) ------------------

@per_session
def _vacuum_manifest_dir(spark: SparkSession, sf_dir: str) -> str:
    """Persist the live-file manifest ONCE per (session, sf): the list
    of file names the compacted generation owns — exactly what a table
    format's metadata layer serves. Names come from the real directory
    at write time (they contain task UUIDs, so they cannot be
    synthesized).

    r14 (VERDICT r13 ask #6, guide §5 "the driver should do almost no
    data work"): the listing is now DISTRIBUTED — a parquet scan of
    the compacted generation projecting only _metadata.file_path
    (zero data columns), aggregated to distinct names — instead of a
    driver-side recursive glob over the table directory, which is a
    single-process filesystem walk that stops scaling past local
    disk. The merge write pins one file per occupied bucket and
    parquet never writes a zero-row part file, so the distinct
    file_path set IS the directory's file set."""
    _, final_dir, _, _ = _merge_tables(spark, sf_dir)
    # manifest keys are "<partition dir>/<file>" — basenames alone
    # collide across partition directories (one write task serves
    # several partition values and reuses its part-number prefix)
    manifest_dir = _scratch(spark, sf_dir, "vacuum_manifest")
    (
        spark.read.schema("k long, cents long, cbucket int")
        .parquet(final_dir)
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"([^/]+/[^/]+)$", 1
            ).alias("file_name")
        )
        .distinct()
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(manifest_dir)
    )
    return manifest_dir


def vacuum_orphan_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM planning — the lakehouse-upkeep step that completes the
    tier (compaction plans the rewrite, MERGE applies it, time travel
    reads old versions, zone maps prune, Merkle syncs replicas, and
    VACUUM reclaims what the rewrite stranded): after the merge
    compaction, the small-files base generation still sits in the
    table directory; every file the listing shows that the manifest
    does not name is GC-eligible, and the op counts exactly what a
    vacuum would delete — files AND rows — from the REAL directory
    state.

    Mechanics are all real: the live-file manifest is persisted
    parquet (written once from the compacted generation's actual
    task-UUID file names — the metadata a table format serves without
    listing); the listing side reads BOTH generations back through
    the parquet scan's _metadata.file_name hidden column (per-file
    row counts without any driver-side path loop); orphan = left-anti
    against the broadcast manifest. The DuckDB oracle recomputes the
    expected generation sizes analytically from the orders view
    (files = distinct occupied bucket residues, the deterministic
    one-file-per-bucket layout the merge write pins), so the driver
    compare certifies listing + manifest join + read-back row
    accounting end to end.

    Scale posture (100 TB): the only non-metadata work is one
    parquet scan of each generation that projects ZERO data columns
    (_metadata.file_name only — check ReadSchema), aggregated
    map-side per file; the manifest join is broadcast (a manifest is
    KBs). A real vacuum then deletes the orphan list — the one
    driver-side step a storage API performs, deliberately out of
    scope here (the plan, not the rm, is the query)."""
    base_dir, final_dir, _, _ = _merge_tables(spark, sf_dir)
    manifest = spark.read.schema("file_name string").parquet(
        _vacuum_manifest_dir(spark, sf_dir)
    )

    def _per_file(root: str, part_col: str) -> DataFrame:
        # explicit schema: an EMPTY generation (empty orders table)
        # writes only _SUCCESS, and schema inference over zero files
        # would fail where an explicit schema reads cleanly as empty
        return (
            spark.read.schema(f"k long, cents long, {part_col} int")
            .parquet(root)
            .select(
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"([^/]+/[^/]+)$", 1
                ).alias("file_name")
            )
            .groupBy("file_name")
            .agg(F.count(F.lit(1)).alias("_rows"))
        )

    listed = _per_file(base_dir, "bucket").unionAll(
        _per_file(final_dir, "cbucket")
    )
    tagged = listed.join(
        F.broadcast(manifest.withColumn("_live", F.lit(True))),
        "file_name",
        "left",
    ).select("_rows", F.coalesce("_live", F.lit(False)).alias("_live"))
    zero = F.lit(0).cast("long")
    return tagged.agg(
        F.count(F.lit(1)).alias("n_files_listed"),
        F.coalesce(F.sum(F.col("_live").cast("long")), zero).alias(
            "n_live_files"
        ),
        F.coalesce(F.sum((~F.col("_live")).cast("long")), zero).alias(
            "n_orphan_files"
        ),
        F.coalesce(
            F.sum(F.when(F.col("_live"), F.col("_rows")).otherwise(0)), zero
        ).alias("n_live_rows"),
        F.coalesce(
            F.sum(F.when(~F.col("_live"), F.col("_rows")).otherwise(0)), zero
        ).alias("n_orphan_rows"),
    )


VACUUM_ORPHAN_SQL = f"""
WITH o AS (
  SELECT o_orderkey AS k, o_orderdate FROM orders
),
base AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '{MERGE_CUTOFF}'),
ins AS (SELECT k FROM o WHERE o_orderdate >= TIMESTAMP '{MERGE_CUTOFF}'),
del AS (SELECT k FROM base WHERE k % 13 = 0),
merged AS (
  SELECT k FROM base WHERE k % 13 <> 0
  UNION ALL
  SELECT k FROM ins
),
gen1 AS (
  SELECT count(DISTINCT k % {MERGE_SMALL_BUCKETS}) AS n_files,
         count(*) AS n_rows
  FROM base
),
gen2 AS (
  SELECT count(DISTINCT k % {MERGE_COMPACT_BUCKETS}) AS n_files,
         count(*) AS n_rows
  FROM merged
)
SELECT CAST(gen1.n_files + gen2.n_files AS BIGINT) AS n_files_listed,
       CAST(gen2.n_files AS BIGINT) AS n_live_files,
       CAST(gen1.n_files AS BIGINT) AS n_orphan_files,
       CAST(gen2.n_rows AS BIGINT) AS n_live_rows,
       CAST(gen1.n_rows AS BIGINT) AS n_orphan_rows
FROM gen1, gen2
"""


# --- parquet row-group sizing advisor (round-14 queue) ------------------

# Candidate row-group byte targets. Scaled to the test corpus the same
# way COMPACT_TARGET_BYTES is: the real knob is 16-128 MB
# (spark.sql.files.maxPartitionBytes / parquet.block.size); the
# advisor's ALGEBRA — int-exact average row width, rows per group,
# group census, oversize outliers — is target-size-free.
ROWGROUP_TARGETS = (4096, 16384, 65536)
# fixed per-row overhead charged for the non-text columns: doc_id +
# n_chars (8 bytes each) and ~8 bytes of offset/definition-level
# bookkeeping per row
ROWGROUP_FIXED_ROW_BYTES = 24


def rowgroup_size_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group sizing advisor for a documents-shaped table: for each
    candidate row-group byte target, how many rows fit an average
    group, how many groups the table splits into (= the scan
    parallelism a reader gets without sub-group splitting), and how
    pathological the width distribution is (max/avg skew, rows wider
    than a whole target group).

    The genre of compaction_plan / bloom_filter_plan / lsh_band_plan:
    a PLANNING query whose output is the config decision, computed
    from the data instead of guessed. Row width is modeled from the
    payload actually stored (octet_length of the string columns +
    {ROWGROUP_FIXED_ROW_BYTES}B fixed) — a proxy for on-disk size
    that both engines compute identically; compression ratio is a
    constant factor that cancels out of the rows-per-group choice.

    Everything is int64-exact: avg_row_bytes = tot div n (floor),
    rows_per_group = greatest(1, target div avg), n_groups =
    ceil-div. The target grid is a literal array exploded AFTER the
    one-row census, so the scan happens once regardless of grid size.

    Scale posture (100 TB): one map-side-partial aggregate over the
    table (sums + max + conditional counts), one broadcast-size row,
    |targets| output rows. The per-row byte model is a projection —
    no shuffle keyed on anything data-dependent.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        (
            F.octet_length("text")
            + F.octet_length("lang")
            + F.octet_length("source")
            + F.lit(ROWGROUP_FIXED_ROW_BYTES)
        ).cast("long").alias("_b")
    )
    census = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_b").alias("tot_bytes"),
        F.max("_b").alias("max_row_bytes"),
        *[
            F.sum(F.when(F.col("_b") > t, 1).otherwise(0))
            .cast("long")
            .alias(f"_over_{t}")
            for t in ROWGROUP_TARGETS
        ],
    )
    # empty table: no census row -> no grid rows (never a div-by-zero
    # on n_rows = 0 — the q2 zero-quantity crash class)
    grid = census.filter(F.col("n_rows") > 0).select(
        "*",
        F.explode(
            F.array(*[F.lit(t).cast("long") for t in ROWGROUP_TARGETS])
        ).alias("target_bytes"),
    )
    over = F.coalesce(
        *[
            F.when(F.col("target_bytes") == t, F.col(f"_over_{t}"))
            for t in ROWGROUP_TARGETS
        ]
    )
    return grid.select(
        "target_bytes",
        "n_rows",
        "tot_bytes",
        F.expr("tot_bytes div n_rows").alias("avg_row_bytes"),
        F.expr(
            "greatest(1, target_bytes div (tot_bytes div n_rows))"
        ).alias("rows_per_group"),
        F.expr(
            "(n_rows + greatest(1, target_bytes div (tot_bytes div n_rows))"
            " - 1) div greatest(1, target_bytes div (tot_bytes div n_rows))"
        ).alias("n_groups"),
        over.alias("oversize_rows"),
        F.expr("1000 * max_row_bytes div (tot_bytes div n_rows)").alias(
            "width_skew_milli"
        ),
    )


def _rowgroup_sql() -> str:
    targets = ", ".join(str(t) for t in ROWGROUP_TARGETS)
    overs = ", ".join(
        f"CAST(count(*) FILTER (WHERE _b > {t}) AS BIGINT) AS _over_{t}"
        for t in ROWGROUP_TARGETS
    )
    over_case = " ".join(
        f"WHEN g.target_bytes = {t} THEN _over_{t}"
        for t in ROWGROUP_TARGETS
    )
    return f"""
WITH widths AS (
  SELECT CAST(strlen(text) + strlen(lang) + strlen(source)
              + {ROWGROUP_FIXED_ROW_BYTES} AS BIGINT) AS _b
  FROM documents
),
census AS (
  SELECT count(*) AS n_rows, CAST(sum(_b) AS BIGINT) AS tot_bytes,
         max(_b) AS max_row_bytes, {overs}
  FROM widths
  HAVING count(*) > 0
),
grid AS (SELECT unnest(ARRAY[{targets}]) AS target_bytes)
SELECT CAST(g.target_bytes AS BIGINT) AS target_bytes, n_rows, tot_bytes,
       tot_bytes // n_rows AS avg_row_bytes,
       greatest(1, g.target_bytes // (tot_bytes // n_rows))
         AS rows_per_group,
       (n_rows + greatest(1, g.target_bytes // (tot_bytes // n_rows)) - 1)
         // greatest(1, g.target_bytes // (tot_bytes // n_rows))
         AS n_groups,
       CAST(CASE {over_case} END AS BIGINT) AS oversize_rows,
       1000 * max_row_bytes // (tot_bytes // n_rows)
         AS width_skew_milli
FROM census, grid g
"""


ROWGROUP_SIZE_SQL = _rowgroup_sql()
