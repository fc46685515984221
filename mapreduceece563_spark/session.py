"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the configs below are chosen
so the same code scales to a multi-executor cluster: AQE handles
post-shuffle skew/coalescing at any scale, shuffle partitions default
to the core count locally (on a cluster you'd size this to ~2-3x
total cores), and Arrow is on for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# applicationIds whose SparkContext already has the package zip: the
# one module-level set outside cachemgr, because addPyFile is once per
# SparkContext and a cache release must not re-zip and re-add it.
_SHIPPED: set[str] = set()


def _default_driver_mem() -> str:
    """A third of physical memory, capped at 48g: the JVM collects
    before it outgrows a small box, and a 32-core bench box keeps its
    48g. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, ram // 3 // 2**20)}m"


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    cloudpickle serializes module-level functions (e.g. ``decode_ppm``
    inside a ``mapInPandas`` closure) BY REFERENCE, so the worker must
    be able to ``import mapreduceece563_spark`` — which fails whenever
    the driving process's cwd is not the repo root (workers only
    inherit the JVM's cwd, not the driver's ``sys.path`` edits). Zip
    the package and ``sc.addPyFile`` it once per SparkContext: the
    local-mode analogue of shipping the wheel with ``--py-files`` /
    ``spark.submit.pyFiles`` on a real cluster, and the posture that
    holds at 1000 executors."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = shutil.make_archive(
        os.path.join(tempfile.gettempdir(), "mapreduceece563_spark_pkg"),
        "zip",
        root_dir=pkg_parent,
        base_dir="mapreduceece563_spark",
    )
    sc.addPyFile(zip_path)
    _SHIPPED.add(key)


def get_spark(
    app_name: str = "mapreduceece563_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the session with scale-aware defaults.

    AQE is enabled so runtime statistics re-plan joins (broadcast
    conversion, skew-join splitting) and coalesce small post-shuffle
    partitions — the same settings that matter on a 1000-executor
    cluster reading 100 TB.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage codegen silently disables past 100 output fields
        # (spark.sql.codegen.maxFields default); the wide single-pass
        # aggregates (e.g. bootstrap_ci_revenue's 64 replicate pairs)
        # then run interpreted at ~2x cost. 260 covers the widest
        # plan in the registry with headroom; scale-independent (a
        # codegen-compile knob, not a parallelism constant). Measured
        # r13: bootstrap_ci_revenue 1.69 -> 1.23 s from this alone.
        .config("spark.sql.codegen.maxFields", "260")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark wraps every Column/functions call to capture its
        # Python call site (getActiveSession, a conf get, an origin
        # set/clear and JVM class lookups: extra py4j round trips per
        # call). Off, the 9 perfbench mix entries plus
        # events_value_regression fell from 9,773 to 4,609 round
        # trips per request and built 30-45% faster (4 cores, sf0.01).
        # What is lost: the Python call-site text in DataFrame error
        # contexts; the error itself is unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
