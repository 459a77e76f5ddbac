"""Corpus readers: each parquet file's schema is inferred once per file
version (``sources.tables.parquet_schema``), so table loads and stream
replays plan without a footer-reading job."""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import BinaryType, StringType

from echem_dft_etl_spark.sources.tables import TABLES, load_table, parquet_schema
from echem_dft_etl_spark.streaming.windows import (
    _as_stream_dir,
    read_events_stream,
    read_table_stream,
)
from tests.conftest import SF_SMOKE


def _jobs_submitted(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` submits, counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_after_the_first_submit_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet")
    sf_dir = str(tmp_path)
    # a file this session has not read yet is inferred by one job
    assert _jobs_submitted(spark, lambda: load_table(spark, sf_dir, "events")) >= 1

    def later_reads():
        load_table(spark, sf_dir, "events")
        read_table_stream(spark, sf_dir, "events")
        read_events_stream(spark, sf_dir)

    try:
        assert _jobs_submitted(spark, later_reads) == 0
    finally:  # the stream readers stage a symlink dir for this sf_dir
        shutil.rmtree(Path(_as_stream_dir(sf_dir)).parent)


def test_a_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name",
    ]
    pq.write_table(pa.table({"k": [0.5], "v": ["x"], "w": [True]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["k", "v", "w"]
    assert parquet_schema(spark, str(path)) == spark.read.parquet(str(path)).schema


def test_the_cache_key_holds_the_type_changing_confs(spark, tmp_path):
    path = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    assert parquet_schema(spark, path)["b"].dataType == BinaryType()
    spark.conf.set(key, "true")
    try:
        assert parquet_schema(spark, path)["b"].dataType == StringType()
    finally:
        spark.conf.set(key, before)
    assert parquet_schema(spark, path)["b"].dataType == BinaryType()


def test_a_missing_file_fails_at_load_time(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "region")


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_is_the_inferred_schema(spark, name):
    path = f"{SF_SMOKE}/{name}.parquet"
    load_table(spark, SF_SMOKE, name)  # conf pins + cache fill
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema
