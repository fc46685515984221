"""Interchange-format operators: CSV and JSON-lines round-trips,
parquet schema evolution, and semi-structured VariantType parsing.

The reference engine reads exactly one format — newline-delimited
text (SURVEY.md §2.1 S1) — and its sink is space-separated text
lines (S4). These entries extend the engine's source/sink surface to
the formats a production lake actually ingests, each as a REAL
write-then-read round-trip (the layout is materialized once per
(session, sf) like operators/storage.py does) followed by an
oracle-checked aggregate, so a silent serialization defect (quoting,
null encoding, timestamp format, schema drift) breaks the value
hash, not just a row count:

- **csv_roundtrip_stats** — pipe-delimited CSV with a header,
  written and read back with an EXPLICIT schema (never
  inferSchema: at 100 TB schema inference is a full extra pass, and
  a type guessed per-file can differ per-partition). Doubles survive
  textually because both Spark's writer and reader use
  shortest-round-trip representations; money is still quantized to
  int64 cents immediately after the read.
- **jsonl_roundtrip_stats** — JSON-lines with a timestamp column:
  written in the session's UTC zone, read back under an explicit
  schema. Pins the timestamp text format contract both directions.
- **schema_evolution_read** — two parquet batches under one root
  where the newer batch adds a column; ``mergeSchema=true`` widens
  the scan schema and backfills nulls for the old batch. The
  aggregate counts both batches' rows and the null backfill
  explicitly. (At scale, prefer declaring the evolved schema
  explicitly over mergeSchema's footer-union pass — documented here,
  exercised deliberately.)
- **events_variant_stats** — Spark 4 ``VariantType``:
  ``parse_json(props)`` then ``variant_get`` path extraction, the
  open-schema alternative to a rigid from_json StructType. The
  oracle extracts the same path with DuckDB's JSON functions.

Every aggregate is int64 (counts / cents / extracted ints); the
round-trip writes go to per-session ``cachemgr.scratch`` dirs, never
the read-only test data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cachemgr import per_session, scratch
from ..sources.catalog import load_table
from .relational import _cents, _cents_sql


@per_session
def _csv_dir(spark: SparkSession, sf_dir: str) -> str:
    path = scratch(spark, sf_dir, "csv")
    (
        load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
        .write.mode("overwrite")
        .options(header=True, sep="|")
        .csv(path)
    )
    return path


CSV_SCHEMA = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)


def csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand part count and total retail price, computed off a
    pipe-delimited CSV round-trip of the part table (explicit read
    schema; see module docstring)."""
    path = _csv_dir(spark, sf_dir)
    parts = spark.read.options(header=True, sep="|").schema(CSV_SCHEMA).csv(
        path
    )
    return (
        parts.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(_cents(F.col("p_retailprice"))).alias("_rc"),
        )
        .select(
            "p_brand", "n_parts", (F.col("_rc") / 100.0).alias("retail_total")
        )
    )


CSV_ROUNDTRIP_SQL = f"""
SELECT p_brand, count(*) AS n_parts,
       sum({_cents_sql('p_retailprice')}) / 100.0 AS retail_total
FROM part GROUP BY p_brand
"""


@per_session
def _jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    path = scratch(spark, sf_dir, "jsonl")
    (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .write.mode("overwrite")
        .option("timestampFormat", JSON_TS_FMT)
        .json(path)
    )
    return path


# Spark's default JSON timestampFormat carries MILLIseconds only —
# a silent 3-digit truncation that the value hash catches (first_us
# came back ...589000 for ...589998). Write and read with an explicit
# microsecond format.
JSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

JSONL_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily event profile off a JSON-lines round-trip —
    the timestamp column must survive write-as-text / parse-back
    bit-exactly (micros, UTC) for the hash to match."""
    path = _jsonl_dir(spark, sf_dir)
    ev = (
        spark.read.schema(JSONL_SCHEMA)
        .option("timestampFormat", JSON_TS_FMT)
        .json(path)
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct(F.to_date("ts")).alias("n_days"),
            F.min(F.unix_micros("ts")).alias("first_us"),
            F.sum(
                F.round(F.col("value") * 100, 0).cast("long")
            ).alias("_vc"),
        )
        .select(
            "event_type",
            "n_events",
            "n_days",
            "first_us",
            (F.col("_vc") / 100.0).alias("value_sum"),
        )
    )


JSONL_ROUNDTRIP_SQL = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT CAST(ts AS DATE)) AS n_days,
       min(epoch_us(ts)) AS first_us,
       sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS value_sum
FROM events GROUP BY event_type
"""


@per_session
def _evolved_dir(spark: SparkSession, sf_dir: str) -> str:
    path = scratch(spark, sf_dir, "evolve")
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars")
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "n_chars", "lang"
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    new.write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    return path


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a two-generation parquet layout (the newer generation
    added a ``lang`` column) with ``mergeSchema=true`` and profile
    the union schema: rows per generation, how many carry the new
    column, chars total."""
    path = _evolved_dir(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    return df.groupBy("batch").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("lang").isNotNull(), 1).otherwise(0)
        ).alias("n_with_lang"),
        F.sum("n_chars").alias("chars_total"),
    )


SCHEMA_EVOLUTION_SQL = """
WITH gens AS (
  SELECT 1 AS batch, doc_id, n_chars, CAST(NULL AS VARCHAR) AS lang
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 2 AS batch, doc_id, n_chars, lang
  FROM documents WHERE doc_id % 2 = 1
)
SELECT batch, count(*) AS n_docs,
       CAST(sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_lang,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM gens GROUP BY batch
"""


def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-schema JSON parsing with Spark 4's VariantType: parse
    ``props`` once into a variant, extract ``$.k`` as a long, and
    profile it per event type. Variant decode is JVM-native columnar
    work — the from_json alternative needs the full schema declared
    up front; a Python UDF would be the slow path."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    parsed = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).alias(
            "n_with_k"
        ),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )


EVENTS_VARIANT_SQL = """
WITH parsed AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_k,
       min(k) AS min_k, max(k) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM parsed GROUP BY event_type
"""


@per_session
def _orc_dir(spark: SparkSession, sf_dir: str) -> str:
    path = scratch(spark, sf_dir, "orc")
    (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite")
        .orc(path)
    )
    return path


def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier stats off an ORC round-trip — the second
    columnar container (vectorized scan, predicate pushdown and
    column pruning apply to ORC exactly as to parquet; the
    positive-balance filter here reaches the ORC reader as a pushed
    predicate). The oracle recomputes from the parquet original, so
    any ORC encode/decode drift (decimal/double handling, nulls)
    breaks the hash."""
    path = _orc_dir(spark, sf_dir)
    sup = spark.read.orc(path).filter(F.col("s_acctbal") > 0)
    return (
        sup.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(_cents(F.col("s_acctbal"))).alias("_bc"),
        )
        .select(
            "s_nationkey",
            "n_suppliers",
            (F.col("_bc") / 100.0).alias("acctbal_total"),
        )
    )


ORC_ROUNDTRIP_SQL = f"""
SELECT s_nationkey, count(*) AS n_suppliers,
       sum({_cents_sql('s_acctbal')}) / 100.0 AS acctbal_total
FROM supplier WHERE s_acctbal > 0 GROUP BY s_nationkey
"""


# --- whole-file binary ingest (the multimodal landing pattern) ---------

BINARYFILE_MAX_DOC = 64  # docs materialized as individual files


@per_session
def _binary_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize one UTF-8 text file per document (doc_id < 64)
    under doc_id=<k>/ dirs, once per (session, sf) — the on-disk shape
    of a raw multimodal landing zone (one object per asset) before
    compaction into parquet."""
    path = scratch(spark, sf_dir, "binfiles")
    (
        load_table(spark, sf_dir, "documents")
        # a NULL-text doc has no payload, hence no landing-zone
        # object (the documents_as_images media policy); the text
        # writer would otherwise emit a bare-newline file the oracle
        # can't derive from NULL
        .filter(
            (F.col("doc_id") < BINARYFILE_MAX_DOC)
            & F.col("text").isNotNull()
        )
        .select("doc_id", "text")
        .repartition("doc_id")
        .write.mode("overwrite")
        .partitionBy("doc_id")
        .text(path)
    )
    return path


def binaryfile_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest a directory of raw files through Spark's ``binaryFile``
    source and build the asset manifest (id parsed from the path,
    byte length, content digest) — the first stage of every
    multimodal pipeline: scattered objects -> one manifest table the
    decode/feature operators (operators/multimodal.py) then consume.

    The files are per-doc text materializations, so the oracle derives
    the expected bytes from the documents table: the text writer emits
    the UTF-8 payload plus one trailing newline, hence length =
    octet_length(text) + 1 and the digest folds over text || chr(10).
    Scale posture: binaryFile lists and reads whole objects in
    parallel partitions with a configurable maxPartitionBytes — no
    driver-side listing loop; the digest is the engine's portable
    poly hash evaluated on the DECODED payload JVM-side."""
    from ..functions.hashing import poly_hash

    path = _binary_dir(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
        .select("path", "length", "content")
    )
    doc_id = F.regexp_extract(
        F.col("path"), r"doc_id=(\d+)/", 1
    ).cast("long")
    payload = F.decode(F.col("content"), "UTF-8")
    return files.select(
        doc_id.alias("doc_id"),
        F.col("length").alias("n_bytes"),
        poly_hash(payload).alias("digest"),
    )


def _binaryfile_sql() -> str:
    from ..functions.hashing import poly_hash_sql

    return f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
       {poly_hash_sql("(text || chr(10))")} AS digest
FROM documents
WHERE doc_id < {BINARYFILE_MAX_DOC} AND text IS NOT NULL
"""


# --- XML round-trip (Spark 4 native XML source) -------------------------


@per_session
def _xml_dir(spark: SparkSession, sf_dir: str) -> str:
    path = scratch(spark, sf_dir, "xml")
    (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(path)
    )
    return path


def xml_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier account balances through Spark 4's NATIVE XML source
    (rowTag row-to-record mapping, the spark-xml package folded into
    core): write suppliers as an XML document tree, read back under an
    EXPLICIT schema (inference on XML is an extra full pass, same rule
    as CSV), aggregate per nation. A quoting/escaping defect in either
    direction (XML entity encoding of supplier names, numeric
    round-trip of balances) breaks the value hash against the raw
    table's oracle. Money quantizes to int64 cents right after the
    read; acctbal can be negative, so the cents rounding uses the
    sign-symmetric half-away form both engines share."""
    path = _xml_dir(spark, sf_dir)
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(
            "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT,"
            " s_acctbal DOUBLE"
        )
        .load(path)
    )
    cents = F.round(F.col("s_acctbal") * 100, 0).cast("long")
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.length("s_name")).alias("name_chars"),
        (F.sum(cents) / 100.0).alias("acctbal_sum"),
    )


XML_ROUNDTRIP_SQL = """
SELECT s_nationkey, count(*) AS n_suppliers,
       CAST(sum(length(s_name)) AS BIGINT) AS name_chars,
       sum(CAST(round(s_acctbal * 100, 0) AS BIGINT)) / 100.0
         AS acctbal_sum
FROM supplier GROUP BY s_nationkey
"""
