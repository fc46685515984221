"""Workers must import the package no matter the driver's cwd.

cloudpickle serializes module-level functions referenced from UDF
closures (e.g. ``decode_ppm``) BY REFERENCE; without shipping the
package zip (``session.ship_package`` via the registry wrapper) a
driver running outside the repo root dies with ModuleNotFoundError in
the Python workers — exactly how the external correctness driver runs.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", {entry!r})
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
rows = mod.queries()["image_decode_stats"](spark, "/root/testdata/sf0.001")
print("ROWS=%d" % rows.count())
spark.stop()
"""


def test_python_udf_query_runs_with_foreign_cwd(tmp_path):
    script = tmp_path / "foreign_driver.py"
    script.write_text(
        DRIVER.format(entry=os.path.join(REPO, "__spark_entry__.py"))
    )
    # cwd=tmp_path and no repo on PYTHONPATH: workers can only import
    # the package through the shipped zip.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ROWS=50" in out.stdout


def test_registry_call_tags_jobs_with_entry_name(spark):
    """Every registry call sets the calling thread's Spark job
    description to its entry name, so job and SQL metrics attribute to
    the entry."""
    from mapreduceece563_spark import registry
    from tests.conftest import SF_DIR

    registry.queries()["wordcount"](spark, SF_DIR).collect()
    desc = spark.sparkContext.getLocalProperty("spark.job.description")
    assert desc == "wordcount"
