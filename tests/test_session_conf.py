"""get_spark's parquet row-group size: set on the Hadoop conf after the
session starts, only when nobody pinned it — so engine writes get ~4 MB row
groups, and a spark-submit ``--conf spark.hadoop.parquet.block.size`` wins."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_row_group_size_applies_to_writes(spark, tmp_path):
    want = os.environ.get("SPARK_GRAFT_PARQUET_BLOCK_BYTES", str(4 * 1024 * 1024))
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("parquet.block.size") == want
    # ~12 MB of incompressible rows in ONE file: 4 MB groups split it.
    rows = [(i, os.urandom(10_000)) for i in range(1200)]
    out = str(tmp_path / "rg")
    spark.createDataFrame(rows, "i long, b binary").coalesce(1) \
        .write.parquet(out)
    (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
    n_groups = pq.ParquetFile(os.path.join(out, part)).metadata.num_row_groups
    if want == str(4 * 1024 * 1024):
        assert n_groups >= 3


def test_submit_conf_block_size_survives_get_spark():
    # A fresh JVM: the pin must arrive the way spark-submit delivers it.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY")}
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.hadoop.parquet.block.size=1234567 pyspark-shell")
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    code = (
        "from docling_service_spark.sparkio.session import get_spark\n"
        "s = get_spark('local[1]')\n"
        "print('BLOCK=' + str(s.sparkContext._jsc.hadoopConfiguration()"
        ".get('parquet.block.size')))\n"
        "s.stop()\n")
    res = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    assert "BLOCK=1234567" in res.stdout
