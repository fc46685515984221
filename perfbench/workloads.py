"""The benchmark workloads.

Each is a closed loop with one client thread: ``setup`` builds the
fixtures, runs the once-per-run correctness check and the untimed warm
requests; ``request`` is one timed request. ``request`` takes an
optional ``telemetry.RequestTrace`` and records spans around its calls
into the program when one is given.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
import random
import re
import sys
import time
from collections import Counter

import duckdb

import datagen

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# Frozen candidate list for registry_mix: batch registry entries with a
# DuckDB oracle, none of them streaming and none in bench.py's
# PY_BOUNDARY set (Python/Arrow-boundary entries that swing 3-14x from
# pass to pass), chosen for a 0.4-0.55 s steady request at sf0.01 on
# 4 cores and for reading different tables.
# Frozen here so a later registry change does not change the workload.
MIX_CANDIDATES = (
    "pr_auc_by_lang",
    "bm25_search",
    "ewma_control_chart",
    "hourly_autocorrelation",
    "attribution_model_compare",
    "hard_negative_mining",
    "token_balanced_mixture",
    "trimmed_mean_by_segment",
    "training_manifest",
)
MIX_SAMPLE = 6

# A batch entry that crosses into a Python worker (an Arrow grouped map,
# ~0.4 s steady at sf0.01), in every pass of registry_mix, so the Python
# worker layer is measured.
PYTHON_ENTRIES = ("events_value_regression",)

# Streaming entries in every pass of registry_mix; each request resets
# the drain memos and fully drains the entry. streaming_user_profile
# (the event trio with applyInPandasWithState) is left out: its steady
# drain is 10.5 s at sf0.01 on 4 cores.
STREAM_ENTRIES = (
    "streaming_wordcount",
    "streaming_foreachbatch_upsert",
)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def duck_over(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class Ops:
    """Attempted and failed operations (timed requests and checks)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, fn) -> bool:
        self.attempted += 1
        try:
            ok = fn()
        except Exception as e:  # a failed request or check is counted
            ok, msg = False, f"{label}: {type(e).__name__}: {e}"
        else:
            msg = f"{label}: result differs from the oracle"
        if not ok:
            self.failed += 1
            self.errors.append(msg[:400])
        return bool(ok)


class Workload:
    name = ""
    scale = 0.01
    last = ""  # label of the latest request, for the log

    def __init__(self, spark, work: str, seed: int, smoke: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.rng = random.Random(seed)
        self.sf = 0.001 if smoke else self.scale
        self.sf_dir = os.path.join(work, f"sf{self.sf}")
        # catalog tables the requests read (the word count reads text files)
        self.tables_read: set[str] = set()

    def tables(self) -> None:
        datagen.write_tables(self.sf_dir, self.sf, datagen.DATA_SEED)

    def warm(self, ops: Ops, n: int) -> None:
        for i in range(0 if self.smoke else n):
            t0 = time.perf_counter()
            ops.run(f"warm request {i}", lambda: self.request() or True)
            log(f"warm request {i} {time.perf_counter() - t0:.2f} s")

    def units_per_request(self) -> float:
        """Work units one request completes, for the workload's own
        throughput figure (MB, requests)."""
        return 1.0

    def pass_len(self) -> int:
        """Requests in one pass over the workload's request set."""
        return 1


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def step(trace, name, layer):
    """A span around a call into the program when tracing, else nothing."""
    return trace.step(name, layer) if trace is not None else nullcontext()


class WcChunks(Workload):
    """The reference's job: word count over ~13 MB in 130 chunk files."""

    name = "wc_chunks"
    unit = ("throughput_mb_s", "MB/s")

    def setup(self, ops: Ops) -> None:
        from mapreduceece563_spark.functions.text import tokenize_lines

        self.tokenize_lines = tokenize_lines
        self.corpus = os.path.join(self.work, "file_chunks_130")
        self.bytes = datagen.write_chunk_corpus(
            self.corpus, self.seed,
            target_bytes=130_000 if self.smoke else 13_000_000,
        )
        # 130 files of ~100 KB: pack them into core-sized splits
        # instead of one task per file (same setting as bench.py's
        # wordcount_13mb_sec measurement)
        self.spark.conf.set("spark.sql.files.openCostInBytes", "65536")
        t0 = time.perf_counter()
        ops.run("wc_chunks correctness", self.check)
        log(f"correctness check {time.perf_counter() - t0:.2f} s")
        self.warm(ops, 3)

    def frame(self, trace=None):
        from pyspark.sql import functions as F

        df = self.spark.read.text(self.corpus).withColumnRenamed("value", "text")
        with step(trace, "functions.tokenize_lines", "functions"):
            words = self.tokenize_lines(df)
        return words.groupBy("word").agg(F.count("*").alias("cnt"))

    def request(self, trace=None) -> None:
        with step(trace, "build", "functions"):
            df = self.frame(trace)
        if trace is not None:
            trace.plan(df)
        with step(trace, "exec", "operators"):
            noop_write(df)

    def check(self) -> bool:
        from mapreduceece563_spark.functions.text import words_cte_sql
        import pyarrow as pa

        con = duckdb.connect()
        con.register("corpus", pa.table(
            {"text": datagen.read_corpus_lines(self.corpus)}))
        want = Counter(con.execute(
            f"WITH {words_cte_sql('corpus')} "
            "SELECT word, count(*) FROM words_f GROUP BY word"
        ).fetchall())
        got = Counter(
            (r["word"], r["cnt"]) for r in self.frame().collect()
        )
        return got == want

    def units_per_request(self) -> float:
        return self.bytes / 1e6


class RegistryMix(Workload):
    """A seeded sample of sub-second batch registry entries, plus the
    Python-worker entry and the streaming drain set, in seeded order,
    one entry per request."""

    name = "registry_mix"
    unit = ("throughput_qps", "1/s")

    def setup(self, ops: Ops) -> None:
        from conftest import assert_frames_match
        from mapreduceece563_spark import registry
        from mapreduceece563_spark.streaming import shared_drain

        self.registry = registry
        self.shared_drain = shared_drain
        self.tables()
        self.sample = self.rng.sample(MIX_CANDIDATES, MIX_SAMPLE)
        self.order: list[str] = []
        oracles = registry.oracle_sql()
        self.tables_read = {
            t for name in self.entries() for t in TABLES
            if re.search(rf"\b{t}\b", oracles[name])
        }
        con = duck_over(self.sf_dir)
        # the first untimed pass is the correctness check: each entry is
        # built, run and compared with its oracle once, by the test
        # suite's rule. The streaming entries' first drains also write
        # their replay fixtures.
        t0 = time.perf_counter()
        for name in self.entries():
            ops.run(name, lambda: assert_frames_match(
                self.build(name), con.sql(oracles[name]), name
            ) or True)
        con.close()
        log(f"correctness checks {time.perf_counter() - t0:.2f} s")
        # the first noop write after a check runs ~2x slower than steady
        # state: one untimed noop pass compiles and JITs those plans
        self.warm(ops, self.pass_len())

    def entries(self) -> list[str]:
        return [*self.sample, *PYTHON_ENTRIES, *STREAM_ENTRIES]

    def pass_len(self) -> int:
        return len(self.entries())

    def build(self, name: str, trace=None):
        if name in STREAM_ENTRIES:
            with step(trace, "streaming.shared_drain.reset", "streaming"):
                self.shared_drain.reset()
        with step(trace, "registry.queries", "registry"):
            fn = self.registry.queries()[name]
        with step(trace, "build", "registry"):
            return fn(self.spark, self.sf_dir)

    def request(self, trace=None) -> None:
        if not self.order:
            self.order = self.entries()
            self.rng.shuffle(self.order)
        name = self.last = self.order.pop()
        if trace is not None:
            trace.label = name
        df = self.build(name, trace)
        if trace is not None:
            trace.plan(df)
        with step(trace, "exec", "operators"):
            noop_write(df)


WORKLOADS = {w.name: w for w in (WcChunks, RegistryMix)}


def closed_loop(wl: Workload, ops: Ops, seconds: float, trace=None
                ) -> list[float]:
    """Issue requests back to back for ``seconds``, then finish the
    current pass, so every entry of a pass weighs the same in the
    result, and run at least two passes, so a slow phase of the box
    does not halve the sample; return the latencies."""
    lat: list[float] = []
    end = time.perf_counter() + seconds
    step_len = wl.pass_len()
    while (len(lat) < 2 * step_len or len(lat) % step_len
           or time.perf_counter() < end):
        if trace is not None:
            trace.begin(len(lat))
        t0 = time.perf_counter()
        ok = ops.run(f"request {len(lat)}", lambda: wl.request(trace) or True)
        lat.append(time.perf_counter() - t0)
        log(f"request {len(lat) - 1} {wl.last} {lat[-1]:.3f} s")
        if trace is not None:
            trace.end()
        if not ok:
            break
    return lat

