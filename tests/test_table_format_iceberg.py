"""S7 — third branch of the stage-table IO seam (VERDICT r4 item 6).

The ``KGSPARK_TABLE_FORMAT=iceberg`` branch of
``_write``/``_read_table``/``_exists`` needs the iceberg-spark-runtime
jar on the classpath. This test LOOKS for the jar; when it is absent
(the sandbox image ships without it) the test skips with the checked
locations in the reason — when present, it exercises the seam
end-to-end in a subprocess with its own Iceberg-configured session
(catalog extensions cannot be added to the already-running test JVM).
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

import pytest


def _iceberg_jars() -> tuple[list[str], list[str]]:
    import pyspark

    roots = [os.path.join(os.path.dirname(pyspark.__file__), "jars")]
    if os.environ.get("SPARK_HOME"):
        roots.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    found: list[str] = []
    for r in roots:
        found += glob.glob(os.path.join(r, "iceberg-spark-runtime*.jar"))
    return found, roots


_SMOKE = r"""
import os, sys
os.environ["KGSPARK_TABLE_FORMAT"] = "iceberg"
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .appName("iceberg_seam_smoke")
    .config("spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
    .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
    .config("spark.sql.catalog.local.type", "hadoop")
    .config("spark.sql.catalog.local.warehouse", {warehouse!r})
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from graphrag_kb_server_spark.plans.index_pipeline import (
    _exists, _read_table, _write,
)
from pyspark.sql import functions as F
df = spark.range(5).select(F.col("id").cast("long").alias("v"),
                           (F.col("id") % 2).cast("string").alias("p"))
path = "local/db/seam_smoke"
assert not _exists(path, spark)
_write(df, path)
assert _exists(path, spark)
back = _read_table(spark, path)
assert back.count() == 5
assert sorted(back.columns) == ["p", "v"]
print("ICEBERG_SEAM_OK")
"""


def test_iceberg_seam_when_jar_present(tmp_path):
    jars, roots = _iceberg_jars()
    if not jars:
        pytest.skip(
            "iceberg-spark-runtime jar not on classpath (checked: "
            + ", ".join(roots)
            + ") — parquet/ORC branches of the same seam are covered by "
            "test_end_to_end.py"
        )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    warehouse = tempfile.mkdtemp(prefix="iceberg_wh_", dir=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", _SMOKE.format(repo=repo, warehouse=warehouse)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "ICEBERG_SEAM_OK" in proc.stdout
