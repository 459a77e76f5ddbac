"""Custom Python Data Source connector (sources/solver_out.py).

Covers the three connector capabilities separately from the registered
query's value check (which test_oracle_parity already runs):

- partition planning: one InputPartition per `.out` file;
- filter pushdown: run_id predicates prune the FILE LISTING (pruned
  files never opened), unsupported filters are handed back to Spark;
- end-to-end: the connector's typed rows match a spark.read.text +
  input_file_name() re-derivation of the same corpus.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def fixture_path(spark):
    from echem_dft_etl_spark.sources.solver_out import build_solver_out_fixture

    return build_solver_out_fixture(spark, SF_SMOKE)


def _reader(path, **options):
    from echem_dft_etl_spark.sources.solver_out import make_solver_out_datasource

    cls = make_solver_out_datasource()
    return cls(options={"path": path, **options}).reader(None)


def test_one_partition_per_file(fixture_path):
    rdr = _reader(fixture_path)
    parts = rdr.partitions()
    assert len(parts) == 25
    run_ids = sorted(p.value[0] for p in parts)
    assert run_ids == sorted(f"NATION_{i}" for i in range(25))


def test_pushdown_prunes_listing(fixture_path):
    from pyspark.sql.datasource import EqualTo, In, LessThan

    rdr = _reader(fixture_path)
    assert list(rdr.pushFilters([EqualTo(("run_id",), "NATION_7")])) == []
    assert [p.value[0] for p in rdr.partitions()] == ["NATION_7"]

    rdr = _reader(fixture_path)
    assert list(rdr.pushFilters([In(("run_id",), ("NATION_1", "NATION_3"))])) == []
    assert [p.value[0] for p in rdr.partitions()] == ["NATION_1", "NATION_3"]

    rdr = _reader(fixture_path)
    assert list(rdr.pushFilters([LessThan(("run_id",), "NATION_2")])) == []
    assert len(rdr.partitions()) == 12  # NATION_0,1,10..19


def test_unsupported_filters_returned_to_spark(fixture_path):
    from pyspark.sql.datasource import EqualTo, StringContains

    rdr = _reader(fixture_path)
    unsupported = [
        StringContains(("run_id",), "7"),  # op not handled
        EqualTo(("value",), "x"),  # non-run_id column
    ]
    handed_back = list(rdr.pushFilters(unsupported + [EqualTo(("run_id",), "NATION_7")]))
    assert handed_back == unsupported  # same objects, by reference
    assert [p.value[0] for p in rdr.partitions()] == ["NATION_7"]


def test_empty_listing_yields_sentinel(tmp_path):
    rdr = _reader(str(tmp_path))
    parts = rdr.partitions()
    assert len(parts) == 1 and parts[0].value is None
    assert list(rdr.read(parts[0])) == []


def test_connector_matches_text_source(spark, fixture_path):
    """Typed connector rows == spark.read.text + path-derived run_id."""
    from pyspark.sql import functions as F
    from echem_dft_etl_spark.sources.solver_out import make_solver_out_datasource

    spark.dataSource.register(make_solver_out_datasource())
    # a reader that implements pushFilters refuses to plan while the
    # pushdown conf is off — enable it for the scan, like the
    # registered query does
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        via_ds = (
            spark.read.format("solverout").option("path", fixture_path).load()
        )
        ds_rows = sorted(
            (r.run_id, r.line_no, r.value) for r in via_ds.collect()
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)
    via_text = spark.read.text(f"{fixture_path}/*.out").select(
        F.regexp_extract(F.input_file_name(), r"([^/]+)\.out$", 1).alias("run_id"),
        F.col("value"),
    )
    text_rows = sorted((r.run_id, r.value) for r in via_text.collect())
    assert sorted((r, v) for r, _, v in ds_rows) == text_rows
    # line numbers are 0-based dense per file
    by_file = {}
    for r, n, _ in ds_rows:
        by_file.setdefault(r, []).append(n)
    assert all(v == list(range(len(v))) for v in by_file.values())


# ---------------------------------------------------------------------
# Custom Python Data Source WRITER (sources/report_sink.py)
# ---------------------------------------------------------------------


def test_report_sink_commit_protocol(spark, tmp_path):
    import json

    from pyspark.sql import functions as F
    from echem_dft_etl_spark.sources.report_sink import make_report_sink_datasource

    spark.dataSource.register(make_report_sink_datasource())
    df = spark.range(100).select(
        F.format_string("line-%s", "id").alias("value")
    )
    out = str(tmp_path / "report")
    import os

    os.makedirs(out)
    df.repartition(3).write.format("reportsink").option("path", out).mode(
        "append"
    ).save()

    files = sorted(p.name for p in (tmp_path / "report").glob("part-*.txt"))
    manifest = json.loads((tmp_path / "report" / "manifest.json").read_text())
    assert (tmp_path / "report" / "_SUCCESS").exists()
    # manifest references exactly the visible part files, counts match
    assert sorted(p["file"] for p in manifest["parts"]) == files
    assert manifest["total_rows"] == 100
    n_lines = sum(
        len((tmp_path / "report" / f).read_text().splitlines()) for f in files
    )
    assert n_lines == 100
    per_file = {
        p["file"]: p["rows"] for p in manifest["parts"]
    }
    for f in files:
        assert len((tmp_path / "report" / f).read_text().splitlines()) == per_file[f]


def test_report_sink_abort_leaves_no_visible_parts(spark, tmp_path):
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F
    from echem_dft_etl_spark.sources.report_sink import make_report_sink_datasource

    spark.dataSource.register(make_report_sink_datasource())
    # one partition poisoned: writing None.value raises inside write()
    df = spark.range(40).select(
        F.when(F.col("id") == 37, F.lit(None))
        .otherwise(F.format_string("line-%s", "id"))
        .alias("value")
    )
    out = str(tmp_path / "report")
    os.makedirs(out)
    with _pytest.raises(Exception):
        df.repartition(4).write.format("reportsink").option("path", out).mode(
            "append"
        ).save()
    # no commit artifacts, and abort removed every completed part —
    # a manifest-honoring reader sees an empty (never torn) report
    assert not (tmp_path / "report" / "manifest.json").exists()
    assert not (tmp_path / "report" / "_SUCCESS").exists()
    assert list((tmp_path / "report").glob("part-*.txt")) == []


def test_report_sink_append_accumulates_manifest(spark, tmp_path):
    import json
    import os

    from pyspark.sql import functions as F
    from echem_dft_etl_spark.sources.report_sink import make_report_sink_datasource

    spark.dataSource.register(make_report_sink_datasource())
    out = str(tmp_path / "report")
    os.makedirs(out)
    for run in (1, 2):
        df = spark.range(10 * run).select(
            F.format_string(f"run{run}-%s", "id").alias("value")
        )
        df.repartition(2).write.format("reportsink").option("path", out).mode(
            "append"
        ).save()
    manifest = json.loads((tmp_path / "report" / "manifest.json").read_text())
    assert manifest["total_rows"] == 30  # 10 + 20, merged across jobs
    files = sorted(p.name for p in (tmp_path / "report").glob("part-*.txt"))
    assert sorted(p["file"] for p in manifest["parts"]) == files
    assert len({f.split("-")[1] for f in files}) == 2  # two distinct job ids


# ---------------------------------------------------------------------
# Streaming custom source (SimpleDataSourceStreamReader)
# ---------------------------------------------------------------------


def _stream_reader(path, **options):
    from echem_dft_etl_spark.sources.solver_out import (
        make_solver_out_stream_datasource,
    )

    cls = make_solver_out_stream_datasource()
    return cls(options={"path": path, **options}).simpleStreamReader(None)


def test_stream_reader_offsets_partition_the_listing(fixture_path):
    rdr = _stream_reader(fixture_path, batch_files="4")
    off = rdr.initialOffset()
    assert off == {"files_done": 0}
    seen, batches = [], 0
    while True:
        rows, nxt = rdr.read(off)
        rows = list(rows)
        if not rows and nxt == off:
            break
        seen.extend(rows)
        batches += 1
        off = nxt
    assert batches == 7  # ceil(25 / 4) micro-batches
    assert off == {"files_done": 25}
    assert len({r[0] for r in seen}) == 25
    # whole corpus, line-exact: equals the batch connector's rows
    # (unpacked from its per-file RecordBatches)
    batch_rdr = _reader(fixture_path)
    batch_rows = [
        tuple(r.values())
        for p in batch_rdr.partitions()
        for b in batch_rdr.read(p)
        for r in b.to_pylist()
    ]
    assert sorted(seen) == sorted(batch_rows)


def test_stream_reader_replay_is_deterministic(fixture_path):
    rdr = _stream_reader(fixture_path, batch_files="4")
    first = list(rdr.readBetweenOffsets({"files_done": 4}, {"files_done": 8}))
    again = list(rdr.readBetweenOffsets({"files_done": 4}, {"files_done": 8}))
    assert first == again and first
    # a replayed range never overlaps its neighbors
    before = list(rdr.readBetweenOffsets({"files_done": 0}, {"files_done": 4}))
    assert {r[0] for r in before}.isdisjoint({r[0] for r in first})


def test_stream_foreachbatch_into_report_sink(spark, tmp_path):
    """Streaming → custom sink integration: a bounded stream lands its
    micro-batches through foreachBatch into the report sink, each
    batch an append JOB with its own commit — afterwards the merged
    manifest must account for every streamed row, and the part files
    must parse back to the full corpus. This is the CDC-landing shape
    (stream → committing batch sink) on the engine's own connector."""
    import json
    import os

    from pyspark.sql import functions as F
    from echem_dft_etl_spark.sources.report_sink import make_report_sink_datasource
    from echem_dft_etl_spark.sources.solver_out import (
        build_solver_out_fixture,
        make_solver_out_stream_datasource,
    )
    from tests.conftest import SF_SMOKE

    spark.dataSource.register(make_report_sink_datasource())
    spark.dataSource.register(make_solver_out_stream_datasource())
    path = build_solver_out_fixture(spark, SF_SMOKE)
    out = str(tmp_path / "landed")
    os.makedirs(out)

    lines = (
        spark.readStream.format("solverout_stream")
        .option("path", path)
        .option("batch_files", "9")
        .load()
    )

    def land(batch_df, batch_id):
        (
            batch_df.select(
                F.format_string(
                    "run=%s line=%s", "run_id", "line_no"
                ).alias("value")
            )
            .coalesce(2)
            .write.format("reportsink")
            .option("path", out)
            .mode("append")
            .save()
        )

    # processingTime, NOT availableNow: the simple stream reader
    # prefetches one batch per trigger, so availableNow stops after the
    # first prefetch (same finding as x10_stream_custom_source);
    # processAllAvailable returns once a trigger finds the source empty
    q = (
        lines.writeStream.foreachBatch(land)
        .trigger(processingTime="100 milliseconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    manifest = json.loads((tmp_path / "landed" / "manifest.json").read_text())
    total_lines = sum(
        1
        for p in (tmp_path / "landed").glob("part-*.txt")
        for _ in open(p, encoding="utf-8")
    )
    # every solver line landed exactly once, and the merged manifest
    # accounts for all of them across the per-batch append jobs
    expected = sum(
        1 for f in os.listdir(path) if f.endswith(".out")
        for _ in open(os.path.join(path, f), encoding="utf-8")
    )
    assert manifest["total_rows"] == total_lines == expected
    job_ids = {p.name.split("-")[1] for p in (tmp_path / "landed").glob("part-*.txt")}
    assert len(job_ids) >= 2  # separate append JOBS merged one manifest


def test_ignore_corrupt_files_skips_only_bad_file(spark, tmp_path):
    """A truncated parquet file is skipped under ignoreCorruptFiles
    (surviving rows = the intact files' rows exactly), and the same
    read WITHOUT the option fails — proving the file really is corrupt
    rather than silently empty."""
    import pytest

    d = tmp_path / "tbl"
    d.mkdir()
    for r in range(2):
        part = tmp_path / f"p{r}"
        spark.range(r * 10, r * 10 + 10).coalesce(1).write.parquet(str(part))
        (src,) = part.glob("part-*.parquet")
        src.rename(d / f"f{r}.parquet")
    with open(d / "f0.parquet", "r+b") as fh:
        fh.truncate(50)

    ok = (
        spark.read.schema("id bigint")
        .option("ignoreCorruptFiles", "true")
        .parquet(str(d))
    )
    assert sorted(r.id for r in ok.collect()) == list(range(10, 20))

    strict = spark.read.schema("id bigint").parquet(str(d))
    with pytest.raises(Exception):
        strict.collect()


def test_stream_sink_reader_ignores_unreferenced_parts(spark, tmp_path):
    """The exactly-once contract rides the manifest: part files not
    referenced by any committed manifest (a replayed batch's
    duplicates, a crashed task's leftovers) must be invisible to a
    manifest-honoring read-back."""
    import json

    from pyspark.sql import functions as F

    from echem_dft_etl_spark.sources.report_sink import (
        make_report_stream_sink_datasource,
    )

    spark.dataSource.register(make_report_stream_sink_datasource())
    out = tmp_path / "sink"
    ck = tmp_path / "ck"
    src = spark.createDataFrame(
        [(i,) for i in range(20)], "v bigint"
    )
    path = tmp_path / "in"
    src.coalesce(1).write.parquet(str(path))
    stream = spark.readStream.schema("v bigint").parquet(str(path))
    q = (
        stream.select(F.col("v").cast("string").alias("value"))
        .writeStream.format("reportsink_stream")
        .option("path", str(out))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # plant an orphan part (simulating a pre-commit replay duplicate)
    (out / "part-orphan.txt").write_text("999\n")

    manifests = [
        json.loads(p.read_text()) for p in out.glob("manifest-*.json")
    ]
    files = [pt["file"] for m in manifests for pt in m["parts"]]
    assert files, "no committed parts"
    assert "part-orphan.txt" not in files
    got = sorted(
        int(r["value"])
        for r in spark.read.text([str(out / f) for f in files]).collect()
    )
    assert got == list(range(20))  # 999 never read
    total = sum(pt["n_rows"] for m in manifests for pt in m["parts"])
    assert total == 20
