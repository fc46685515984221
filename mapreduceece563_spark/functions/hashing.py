"""Engine-portable deterministic hashing.

The dedup/similarity operators need a hash function that produces
IDENTICAL values in Spark and in the DuckDB oracle (Spark's built-in
``hash()`` is Murmur3 with Spark-specific seeding; DuckDB's differs),
so we use a polynomial rolling hash over unicode codepoints with pure
int64 arithmetic — expressible as a native higher-order-function
expression in Spark and as a ``list_reduce`` in DuckDB. All values
stay < 2^63 (acc < MOD ≈ 2^30, acc*31 + cp < 2^36), so the fold is
exact integer math in both engines.

This is also the engine's "document fingerprint" primitive (a rolling
hash, per the text-analysis surface): JVM-side, codegen'd, no UDF.

The reference's own hash (shift-XOR & 255, mpi_mapreduce.c:108-117)
is a partitioning detail, not a semantic — SURVEY.md §2.3 X1.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007
HASH_BASE = 31

# Fixed (a, b) pairs for the MinHash family h_i(x) = (a*x + b) % MOD.
# Literal constants (generated once from a seeded PRNG, then frozen)
# so Spark and the SQL oracle share them verbatim. a*x < 2^63 holds:
# a < 2^31, x < 2^30.
MINHASH_PERMS: tuple[tuple[int, int], ...] = (
    (1203077157, 869531133),
    (1205640943, 306977627),
    (941894042, 796979479),
    (1677657403, 123164264),
    (914671708, 686424094),
    (1109849646, 246979837),
    (1162411003, 749584100),
    (1666787001, 405747345),
    (1260485233, 946073534),
    (1003668013, 86127866),
    (1478194768, 268959568),
    (1709644429, 608455106),
    (706826561, 304128226),
    (288546083, 439291091),
    (1379969178, 941207548),
    (645546469, 467272570),
)
LSH_ROWS_PER_BAND = 4
LSH_BANDS = len(MINHASH_PERMS) // LSH_ROWS_PER_BAND


def poly_hash(s: Column) -> Column:
    """int64 polynomial hash of a string column; empty string -> 0.

    Native expression chain (sequence -> transform -> aggregate), so
    it runs JVM-side inside codegen — no Python round-trip.
    """
    codes = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.ascii(F.substring(s, i, F.lit(1))).cast("long"),
    )
    folded = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * HASH_BASE + x) % HASH_MOD,
    )
    return F.when(F.length(s) > 0, folded).otherwise(F.lit(0).cast("long"))


def poly_hash_sql(expr: str) -> str:
    """DuckDB SQL producing the identical hash for the same string."""
    return (
        f"CASE WHEN length({expr}) > 0 THEN "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(unicode({expr}[i]) AS BIGINT))), "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD}) "
        f"ELSE 0 END"
    )
