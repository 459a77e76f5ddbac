"""The driver contract must hold under the DRIVER's environment, not
ours: an externally-created vanilla SparkSession, launched from an
arbitrary working directory, importing ``__spark_entry__`` by path.

The failure mode this guards (caught live in round 2): UDF closures
that reference package module globals are cloudpickled by reference,
so executor Python workers re-import ``echem_dft_etl_spark`` — and
workers inherit neither the driver's sys.path hack nor its cwd. The
``addPyFile`` shipping in ``sources/tables.py`` is what makes this
pass; remove it and this test fails with ModuleNotFoundError.
"""

from __future__ import annotations

import subprocess
import sys

_SCRIPT = """
import importlib.util
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", "/root/repo/__spark_entry__.py"
)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
qs = mod.queries()
# one query per UDF surface: mapInPandas decode (module-global helper),
# pandas_udf builder, applyInPandas kernel
for name in ("mm_decode_features", "s12_cosine_near_pairs"):
    n = qs[name](spark, "/root/testdata/sf0.001").count()
    assert n > 0, name
print("CONTRACT_OK")
"""


def test_udf_queries_run_from_foreign_cwd():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=600,
        env=None,
    )
    assert "CONTRACT_OK" in out.stdout, (out.stdout[-2000:], out.stderr[-2000:])


def test_s01_evidence_dump_gated_by_env(spark):
    """s01_sink_roundtrip writes NOTHING outside its per-invocation temp
    sink: a default run leaves no evidence dump behind."""
    import os

    from echem_dft_etl_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    fn = all_queries()["s01_sink_roundtrip"].fn
    fn(spark, SF_SMOKE).collect()
    default_dump = f"/tmp/s01_evidence_{os.getpid()}.json"
    assert not os.path.exists(default_dump), "evidence dump written"
