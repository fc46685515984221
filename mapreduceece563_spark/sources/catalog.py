"""Table catalog over the driver-generated parquet test data.

At 100 TB scale the same call pattern holds: ``spark.read.parquet``
gives vectorized columnar scans with predicate pushdown and column
pruning for free; callers should always ``select`` only the columns
they need so pruning reaches the scan (check ``ReadSchema`` in
``.explain("formatted")``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (appId, sf_dir, name) -> raw parquet read schema (DDL string). The
# expensive part of spark.read.parquet is the footer schema inference
# over py4j (~0.1 s per table per query build, ~0.5 s of the q9 bench
# number was five of these) — so cache ONLY the schema and rebuild a
# fresh DataFrame per call. Handing every caller the identical
# DataFrame object (rounds 4-5) pinned the file index at first load
# (same-session rewrites served stale data) and turned independent
# loads into same-object self-joins that only worked through Spark's
# DeduplicateRelations (ADVICE r5, medium). Keyed by applicationId so
# fresh test sessions re-infer.
_SCHEMA_CACHE: dict[tuple[str, str, str], str] = {}


def invalidate_table_cache() -> None:
    """Drop every cached schema and narrowness verdict (call after
    rewriting a table's parquet in place within one session)."""
    _SCHEMA_CACHE.clear()
    _NARROW_CACHE.clear()


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one catalog table — a FRESH DataFrame per call (fresh
    attribute IDs, fresh file index) over a cached footer schema.

    ``spread=True`` is ADVISORY (r14, VERDICT r13 ask #3): it marks a
    CPU-heavy downstream pipeline (regex tokenization, per-row vector
    math) that would serialize on a scan with too few splits — the
    test parquet files are single row-group, so without a spread the
    whole pipeline runs on one core. The repartition actually fires
    only when the scan genuinely lacks parallelism (estimated splits
    below the session's default parallelism, _scan_is_narrow); at
    real scale the same table has thousands of row-groups and the
    round-robin shuffle would be pure cost, so the gate turns itself
    off with no caller changes.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    app = spark.sparkContext.applicationId
    # evict entries from other (stopped) applications so dead-JVM keys
    # don't accumulate for the process lifetime (pytest creates many
    # sessions)
    for stale in [k for k in _SCHEMA_CACHE if k[0] != app]:
        del _SCHEMA_CACHE[stale]
    if name == "events":
        df = _load_events(spark, sf_dir)
    else:
        df = _read_with_cached_schema(spark, sf_dir, name)
    if spread and _scan_is_narrow(spark, sf_dir, name):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# (appId, sf_dir, name) -> whether the table's scan needs the spread
# (fewer estimated splits than cores). One os.stat pass per table per
# session — the same metadata a real catalog serves without listing.
_NARROW_CACHE: dict[tuple[str, str, str], bool] = {}


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return default


def _scan_is_narrow(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """True when the parquet scan will plan FEWER splits than the
    session's default parallelism, i.e. a downstream CPU-heavy map
    would serialize without an explicit spread. Split estimation
    mirrors Spark's packing rule: each file contributes
    ceil(size / maxPartitionBytes) splits (openCostInBytes padding
    only matters for many-tiny-file layouts, where the estimate is
    already >= cores or the spread is moot). Fails closed: a path this
    cannot list (a URI, a missing table) is never narrow, so an
    unknown scan never gets a full-scan shuffle."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    cached = _NARROW_CACHE.get(key)
    if cached is not None:
        return cached
    import glob as _glob
    import os as _os

    path = f"{sf_dir}/{name}.parquet"
    files = (
        [path]
        if _os.path.isfile(path)
        else _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    max_bytes = _bytes_conf(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    splits = 0
    for f in files:
        try:
            splits += max(1, -(-_os.path.getsize(f) // max_bytes))
        except OSError:
            splits += 1
    narrow = 0 < splits < spark.sparkContext.defaultParallelism
    _NARROW_CACHE[key] = narrow
    return narrow


def _read_with_cached_schema(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    ddl = _SCHEMA_CACHE.get(key)
    if ddl is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema.toDDL()
        return df
    return spark.read.schema(ddl).parquet(path)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts across test-data vintages to a session-tz
    TIMESTAMP (an instant), which every downstream operator assumes
    (``unix_micros`` rejects TIMESTAMP_NTZ outright):

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
      read as raw int64 nanos (legacy conf) and convert with integer
      division — ns-since-epoch (~1.7e18) exceeds 2^53, so the ns->us
      conversion must never pass through a double.
    - parquet timestamp[us] without timezone: Spark 4 infers
      TIMESTAMP_NTZ; reinterpret the naive wall time as UTC. The
      session pins spark.sql.session.timeZone=UTC (session.py and the
      registry wrapper), so the cast is exact and matches DuckDB's
      ``epoch_us`` on the same naive values.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_with_cached_schema(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> None:
    """Register tables as temp views for spark.sql queries.

    ``only`` restricts registration to the named tables — queries
    should register exactly what they read (registering all 10,
    including the nanos-timestamp events special path, on every
    invocation was the whole cost of sql_supplier_argmax in r1:
    11.4 s for a one-table query)."""
    for name in only if only is not None else TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
